"""Multimodal column plumbing: opaque binary media + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extraction runs through ``mapInPandas`` so
each Arrow batch is processed vectorized.

Two decode depths:
  * REAL: image dimensions parse from the container headers in pure Python
    (PNG IHDR / JPEG SOFn); 8-bit gray, RGB and palette PNG pixels decode
    for real (IDAT inflate + row-unfilter + PLTE lookup); 16-bit PCM WAV
    samples decode for real (RIFF chunk walk) — no pillow/ffmpeg needed
    for any of these paths.
  * STUBBED: everything beyond (JPEG entropy decode, compressed audio,
    video) — ``fake_decode=True`` produces a deterministic hash-derived
    unit vector so the Spark-side plumbing (schema, partitioning, batch
    shape, UDF signature) is fully real and testable; ``fake_decode=False``
    raises NotImplementedError where the real library call would go.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # REAL pixel statistics (8-bit gray/RGB/palette PNG decode, pure
        # Python); null for formats whose pixel decode still needs pillow
        T.StructField("pix_mean", T.DoubleType()),
        T.StructField("pix_std", T.DoubleType()),
        # REAL audio statistics (PCM WAV decode, pure Python RIFF parse);
        # null for non-WAV audio (mp3/aac need ffmpeg)
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ]
)

FEATURE_DIM = 16

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def png_dims(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a PNG IHDR chunk — pure header decode."""
    if len(payload) < 24 or not payload.startswith(_PNG_SIG) or payload[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", payload[16:24])
    return (w, h)


def jpeg_dims(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the first JPEG SOFn segment — marker walk."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        # real JPEGs pad with runs of 0xFF fill bytes before a marker
        # (ISO 10918-1 B.1.1.2) — skip to the last 0xFF of the run
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(payload):
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            return None
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone markers
            pos += 2
            continue
        if pos + 4 > len(payload):
            return None
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        if marker in _JPEG_SOF_MARKERS:
            if pos + 9 > len(payload):
                return None
            h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
            return (w, h)
        pos += 2 + seg_len
    return None


def image_dims(payload: bytes) -> tuple[int, int] | None:
    """Container-header dimension decode for the formats we recognize."""
    return png_dims(payload) or jpeg_dims(payload)


def png_pixels(width: int, height: int, body_seed: bytes, channels: int = 1) -> bytes:
    """The fixture pixel formula: sample k (row-major, channel-interleaved)
    is ``body_seed[k % len(body_seed)]`` — shared with the q27 oracle,
    which computes expected pixel statistics from this formula WITHOUT
    running the decoder.  ``channels=3`` gives the RGB variant."""
    seed = body_seed or b"\x00"
    n = width * height * channels
    reps = bytes(seed * (n // len(seed) + 1))
    return reps[:n]


def png_palette(body_seed: bytes) -> bytes:
    """The fixture palette formula: entry ``p``'s RGB triplet is seed bytes
    ``(3p, 3p+1, 3p+2) mod len(seed)`` — shared with the q27 oracle, which
    re-derives expected palette-PNG pixel stats from this formula without
    running the decoder."""
    seed = body_seed or b"\x00"
    return bytes(seed[k % len(seed)] for k in range(256 * 3))


# Adam7 interlace pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass
ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _adam7_passes(width: int, height: int):
    """Non-empty Adam7 passes as (x0, y0, dx, dy, wp, hp)."""
    for x0, y0, dx, dy in ADAM7:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:
            yield x0, y0, dx, dy, wp, hp


def make_png(
    width: int, height: int, body_seed: bytes = b"", color_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Fully-valid 8-bit PNG (signature + IHDR [+ PLTE] + IDAT + IEND) for
    fixtures — correct CRCs, REAL deterministic pixel data (``png_pixels``),
    rows filtered with cycling PNG filter types 0-4 so the decoder's
    unfilter dispatch is exercised.  ``color_type`` 0 = grayscale, 2 = RGB
    truecolor (bpp=3 filter look-back, the dominant real-world flavor),
    3 = palette-indexed (PLTE lookup, the icon/diagram flavor).
    ``interlace`` emits the Adam7 layout (spec §8.2): seven sub-images,
    each row-filtered independently — SAME pixels, different transport."""
    from ..kernels.pdfx import png_predictor_encode

    if color_type not in (0, 2, 3):
        raise ValueError("fixture builder supports gray (0), RGB (2), palette (3)")
    channels = 3 if color_type == 2 else 1

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0)
    raw = png_pixels(width, height, body_seed, channels)
    if interlace:
        img = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, channels)
        filtered = bytearray()
        for x0, y0, dx, dy, wp, hp in _adam7_passes(width, height):
            sub = img[y0::dy, x0::dx, :].tobytes()
            filtered += png_predictor_encode(sub, [0, 1, 2, 3, 4], colors=channels, columns=wp)
        idat = zlib.compress(bytes(filtered))
    else:
        idat = zlib.compress(
            png_predictor_encode(raw, [0, 1, 2, 3, 4], colors=channels, columns=width)
        )
    plte = chunk(b"PLTE", png_palette(body_seed)) if color_type == 3 else b""
    return _PNG_SIG + chunk(b"IHDR", ihdr) + plte + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def png_decode(payload: bytes) -> np.ndarray:
    """REAL pixel decode for 8-bit grayscale (color 0), RGB truecolor
    (color 2) and palette-indexed (color 3) PNG, BOTH progressive layouts —
    sequential and Adam7 INTERLACED (spec §8.2: seven independently
    row-filtered sub-images scattered back onto the pass grid) — pure
    Python/zlib: chunk walk, concatenated-IDAT inflate, PNG row-filter
    reversal (None/Sub/Up/Average/Paeth with the channel-count bpp
    look-back), PLTE index lookup for color 3.  Returns (h, w) uint8 for
    gray, (h, w, 3) for RGB/palette; raises ValueError for other flavors
    (alpha/16-bit, which would need pillow) or malformed data."""
    from ..kernels.pdfx import apply_png_predictor

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    # truncated chunks (struct.error) and corrupt IDAT (zlib.error) are
    # normalized to ValueError — the documented contract, so callers'
    # damaged-download handling (null stats, not a failed Spark task) holds
    try:
        pos = 8
        width = height = None
        color = 0
        channels = 1
        idat = bytearray()
        plte = None
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            pos += 12 + length  # length + type + data + crc
            if ctype == b"IHDR":
                width, height, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
                if depth != 8 or color not in (0, 2, 3) or interlace not in (0, 1):
                    raise ValueError(
                        f"unsupported PNG flavor (depth={depth} color={color} interlace={interlace})"
                    )
                channels = 3 if color == 2 else 1
            elif ctype == b"PLTE":
                if length % 3:
                    raise ValueError("malformed PLTE (length not a multiple of 3)")
                plte = data
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
        if width is None or not idat:
            raise ValueError("malformed PNG (missing IHDR/IDAT)")
        inflated = zlib.decompress(bytes(idat))
        if interlace:
            # Adam7: each pass unfilters against ITS OWN sub-image width,
            # then scatters onto the (y0::dy, x0::dx) grid
            out = np.zeros((height, width, channels), dtype=np.uint8)
            pos = 0
            for x0, y0, dx, dy, wp, hp in _adam7_passes(width, height):
                stride = hp * (1 + wp * channels)
                chunk_bytes = inflated[pos : pos + stride]
                if len(chunk_bytes) < stride:
                    raise ValueError("truncated interlaced PNG pass")
                pos += stride
                sub = apply_png_predictor(chunk_bytes, colors=channels, columns=wp)
                out[y0::dy, x0::dx, :] = np.frombuffer(
                    sub[: hp * wp * channels], dtype=np.uint8
                ).reshape(hp, wp, channels)
            raw = out.tobytes()
        else:
            raw = apply_png_predictor(inflated, colors=channels, columns=width)
    except (struct.error, zlib.error) as exc:
        raise ValueError(f"malformed PNG: {exc}") from exc
    n = width * height * channels
    if len(raw) < n:
        raise ValueError("truncated PNG pixel data")
    arr = np.frombuffer(raw[:n], dtype=np.uint8)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(arr.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[arr].reshape(height, width, 3)
    return arr.reshape(height, width) if channels == 1 else arr.reshape(height, width, 3)


def png_decode_gray(payload: bytes) -> np.ndarray:
    """Gray-only wrapper over :func:`png_decode` (kept for callers that
    require the (h, w) shape; RGB input raises ValueError)."""
    arr = png_decode(payload)
    if arr.ndim != 2:
        raise ValueError("RGB PNG: use png_decode")
    return arr


def make_jpeg(width: int, height: int, body_seed: bytes = b"") -> bytes:
    """Minimal JPEG byte stream (SOI + APP0 JFIF + SOF0 + EOI) for fixtures."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + body_seed
        + b"\xff\xd9"
    )


_RIFF = b"RIFF"


def wav_samples(n_samples: int, body_seed: bytes) -> np.ndarray:
    """The fixture PCM formula: sample k is the little-endian int16 built
    from seed bytes ``(2k, 2k+1) mod len(seed)`` — shared with the q27
    oracle, which computes expected rms from this formula WITHOUT running
    the decoder."""
    seed = body_seed or b"\x00"
    raw = (seed * (2 * n_samples // len(seed) + 1))[: 2 * n_samples]
    return np.frombuffer(raw, dtype="<i2")


def make_wav(n_samples: int, sample_rate: int, body_seed: bytes = b"") -> bytes:
    """Fully-valid mono 16-bit PCM WAV (RIFF + fmt + data) for fixtures with
    REAL deterministic sample data (``wav_samples``)."""
    pcm = wav_samples(n_samples, body_seed).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm
    return _RIFF + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL PCM decode for 16-bit integer WAV — pure Python RIFF chunk walk
    (no wave-module dependency on file paths, no ffmpeg): returns
    (sample_rate, int16 sample array, channels interleaved).  Raises
    ValueError for non-WAV payloads, compressed/float formats, or
    malformed/truncated chunks."""
    if len(payload) < 12 or payload[:4] != _RIFF or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    try:
        pos = 12
        sample_rate = None
        bits = None
        pcm = None
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) < length:
                raise ValueError("truncated WAV chunk")
            pos += 8 + length + (length & 1)  # chunks are word-aligned
            if cid == b"fmt ":
                fmt_tag, _ch, sample_rate, _br, _ba, bits = struct.unpack("<HHIIHH", data[:16])
                if fmt_tag != 1 or bits != 16:
                    raise ValueError(f"unsupported WAV format (tag={fmt_tag} bits={bits})")
            elif cid == b"data":
                pcm = data
    except struct.error as exc:
        raise ValueError(f"malformed WAV: {exc}") from exc
    if sample_rate is None or pcm is None:
        raise ValueError("malformed WAV (missing fmt/data)")
    return sample_rate, np.frombuffer(pcm[: len(pcm) // 2 * 2], dtype="<i2")


def real_wav_features(samples: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL sample-derived feature vector for decoded PCM audio, same
    layout discipline as :func:`real_png_features`: [mean, std, min, max]
    of the [-1, 1)-normalized signal followed by a (dim-4)-bin normalized
    amplitude histogram."""
    x = samples.astype(np.float64) / 32768.0
    if x.size == 0:
        x = np.zeros(1)
    hist, _ = np.histogram(x, bins=dim - 4, range=(-1.0, 1.0))
    head = np.array([x.mean(), x.std(), x.min(), x.max()])
    return np.concatenate([head, hist / max(1, x.size)]).astype(np.float32)


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real decoder: blake2b-seeded unit vector."""
    digest = hashlib.blake2b(payload, digest_size=dim * 4).digest()
    arr = np.frombuffer(digest, dtype=np.uint32).astype(np.float32)
    arr = (arr / np.float32(2**32)) * 2 - 1
    norm = float(np.linalg.norm(arr)) or 1.0
    return arr / norm


def real_png_features(pixels: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL pixel-derived feature vector for decoded gray or RGB images
    (stats pool over all channel samples): [mean, std, min, max] / 255
    followed by a (dim-4)-bin normalized intensity histogram."""
    flat = pixels.astype(np.float64).ravel()
    hist, _ = np.histogram(flat, bins=dim - 4, range=(0, 256))
    head = np.array([flat.mean(), flat.std(), flat.min(), flat.max()]) / 255.0
    return np.concatenate([head, hist / max(1, flat.size)]).astype(np.float32)


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Batch feature extraction over binary media via mapInPandas.

    width/height come from a REAL pure-Python container-header decode (PNG
    IHDR / JPEG SOFn; null for other payloads); 8-bit gray/RGB/palette PNGs
    get a REAL pixel decode (``png_decode``: IDAT inflate + row-unfilter
    [+ PLTE lookup]) so pix_mean/pix_std are genuine pixel statistics; and
    16-bit PCM WAV payloads get a REAL sample decode (``wav_decode``: RIFF
    chunk walk) feeding sample_rate/n_samples/rms.  The ``feature`` vector
    is the documented deterministic stub when ``fake_decode=True``; with
    ``fake_decode=False`` PNGs produce REAL pixel features
    (``real_png_features``), WAVs REAL sample features
    (``real_wav_features``), and other formats raise NotImplementedError
    (pillow/ffmpeg absent here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, nbytes, widths, heights = [], [], [], []
            pmeans, pstds = [], []
            srates, nsamps, rmss = [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    nbytes.append(0)
                    widths.append(None)
                    heights.append(None)
                    pmeans.append(None)
                    pstds.append(None)
                    srates.append(None)
                    nsamps.append(None)
                    rmss.append(None)
                    continue
                raw = bytes(payload)
                dims = image_dims(raw)
                widths.append(dims[0] if dims else None)
                heights.append(dims[1] if dims else None)
                pixels = None
                if raw.startswith(_PNG_SIG):
                    try:
                        pixels = png_decode(raw)
                    except ValueError:
                        pixels = None  # unsupported flavor: stats stay null
                if pixels is not None:
                    flat = pixels.astype(np.float64)
                    pmeans.append(float(flat.mean()))
                    pstds.append(float(flat.std()))
                else:
                    pmeans.append(None)
                    pstds.append(None)
                samples = None
                if raw.startswith(_RIFF):
                    try:
                        rate, samples = wav_decode(raw)
                    except ValueError:
                        samples = None  # non-PCM / damaged: stats stay null
                if samples is not None:
                    srates.append(rate)
                    nsamps.append(len(samples))
                    x = samples.astype(np.float64) / 32768.0
                    rmss.append(float(np.sqrt(np.mean(np.square(x)))) if len(x) else 0.0)
                else:
                    srates.append(None)
                    nsamps.append(None)
                    rmss.append(None)
                if not fake_decode:
                    if pixels is not None:
                        feats.append(real_png_features(pixels).tolist())
                    elif samples is not None:
                        feats.append(real_wav_features(samples).tolist())
                    else:
                        raise NotImplementedError(
                            "real decode beyond gray/RGB/palette-8 PNG and PCM-16 "
                            "WAV requires pillow/ffmpeg; not available in this "
                            "environment"
                        )
                else:
                    feats.append(_fake_features(raw).tolist())
                nbytes.append(len(raw))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "n_bytes": pd.Series(nbytes, dtype="int32"),
                    "width": pd.Series(widths, dtype="Int32"),
                    "height": pd.Series(heights, dtype="Int32"),
                    "pix_mean": pd.Series(pmeans, dtype="float64"),
                    "pix_std": pd.Series(pstds, dtype="float64"),
                    "sample_rate": pd.Series(srates, dtype="Int32"),
                    "n_samples": pd.Series(nsamps, dtype="Int32"),
                    "rms": pd.Series(rmss, dtype="float64"),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for plumbing tests: image rows carry
    REAL PNG/JPEG containers (alternating) with deterministic dimensions —
    PNG rows cycle gray / RGB (i%12==6) / palette (i%24==0) flavors; every
    other audio row carries a REAL PCM-16 WAV; remaining audio and all
    video stay opaque hash blobs (the ffmpeg-needing path)."""
    rows = []
    for i in range(n):
        mtype = ("image", "audio", "video")[i % 3]
        blob = hashlib.blake2b(f"media:{i}".encode(), digest_size=64).digest() * (i % 4 + 1)
        if mtype == "image":
            w, h = 16 + (i % 9) * 8, 12 + (i % 5) * 16
            if i % 2 == 0:
                ct = 2 if i % 12 == 6 else (3 if i % 24 == 0 else 0)
                # i%18==12 rows ship Adam7-INTERLACED (i=12 gray, 30 RGB,
                # 48 palette at n=64) — same pixels, different transport,
                # so the oracle's formula-derived stats pin deinterlacing
                payload = make_png(w, h, blob, color_type=ct, interlace=(i % 18 == 12))
            else:
                payload = make_jpeg(w, h, blob)
            meta = (w, h, 0, "png" if i % 2 == 0 else "jpeg")
        elif mtype == "audio" and i % 6 == 1:
            rate = 8000 * (1 + i % 3)
            n_samp = 400 + (i % 7) * 150
            payload = make_wav(n_samp, rate, blob)
            meta = (None, None, int(n_samp * 1000 / rate), "wav")
        else:
            payload = blob
            meta = (None, None, 1000 * (i % 7), "fake")
        rows.append((i, mtype, bytearray(payload), meta))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual-hash image near-dup (dHash over REAL decoded pixels)
# ---------------------------------------------------------------------------


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (dHash): integer block means onto a 9x8
    grid, bit (r*8+c) set when grid[r][c] > grid[r][c+1] — the standard
    perceptual image fingerprint (gradient signs survive re-encoding,
    palette/truecolor conversion and mild noise, so it catches the
    transport-variant duplicates byte-level dedup misses).

    Determinism contract: ALL integer arithmetic — channel average and
    block mean are floor divisions over int64 sums, no float resampling —
    so the hash is bit-identical across platforms and trivially
    re-derivable by a pure-Python oracle.  Requires at least a 9x8 image
    (raises ValueError below the grid size)."""
    if pixels.ndim == 3:
        gray = pixels.astype(np.int64).sum(axis=2) // pixels.shape[2]
    else:
        gray = pixels.astype(np.int64)
    h, w = gray.shape
    if h < 8 or w < 9:
        raise ValueError("image smaller than the 9x8 dhash grid")
    rows = (np.arange(h) * 8) // h
    cols = (np.arange(w) * 9) // w
    sums = np.zeros((8, 9), dtype=np.int64)
    cnts = np.zeros((8, 9), dtype=np.int64)
    np.add.at(sums, (rows[:, None], cols[None, :]), gray)
    np.add.at(cnts, (rows[:, None], cols[None, :]), 1)
    grid = sums // cnts
    bits = (grid[:, :8] > grid[:, 1:]).ravel()
    v = 0
    for i in range(64):
        if bits[i]:
            v |= 1 << i
    return v


def image_dhash(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, dhash) for every decodable PNG payload via the REAL pixel path
    (png_decode -> dhash64); non-PNG / undecodable rows are DROPPED (the
    jpeg/other-codec residue is the documented pillow-absent boundary).
    Arrow-batched ``mapInPandas`` — the decode is the one genuinely
    Python-bound step; everything downstream stays JVM-side.  dhash is
    wrapped to signed int64 so bit_count/xor run as codegen'd long ops."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hashes: list[int] = []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                raw = bytes(payload)
                if not raw.startswith(_PNG_SIG):
                    continue
                try:
                    hv = dhash64(png_decode(raw))
                except ValueError:
                    continue
                ids.append(int(i))
                hashes.append(hv - (1 << 64) if hv >= (1 << 63) else hv)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "dhash": pd.Series(hashes, dtype="int64"),
                }
            )

    return media.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} long, dhash long"
    )


def image_near_dup_pairs(
    media: DataFrame, max_hamming: int = 8, id_col: str = "media_id"
) -> DataFrame:
    """EXACT hamming <= max_hamming perceptual near-dup image pairs —
    transport-variant duplicates (re-encodes, interlace flips, palette
    conversions) and mildly-retouched copies, found WITHOUT any byte-level
    equality.  The pigeonhole banding of dedup.simhash_near_dup_pairs
    (:func:`dedup.hamming_pairs`) over each image's dhash: the output
    equals brute-force all-pairs, the only shuffle before the pair distinct
    is the bucket pair expansion on the band keys, and the decode feeds
    that one consumer, so it runs once."""
    from .dedup import hamming_pairs

    return hamming_pairs(image_dhash(media, id_col), id_col, "dhash", max_hamming)
