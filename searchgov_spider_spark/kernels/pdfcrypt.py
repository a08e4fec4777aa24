"""PDF standard security handler (ISO 32000-1 §7.6) — pure stdlib.

Closes the 'encryption' residue of the PDF extraction subset (VERDICT r4
"What's missing" #2; reference breadth via pypdf, indexing/parse.py:113-252):
the common real-corpus case is an "owner-encrypted" document — owner
password set, USER password empty — whose text any conforming reader
extracts without a password.  Implemented:

  * RC4 (V=1 40-bit, V=2 /Length up to 128-bit) — §7.6.2 Algorithm 1
  * AES-128-CBC (/V 4 /CFM /AESV2, 16-byte IV prefix, PKCS#5 padding) —
    §7.6.2 Algorithm 1.A; AES itself is implemented here (encrypt+decrypt,
    FIPS-197, 128- and 256-bit key schedules) because the engine must stay
    stdlib-only; tests cross-check the primitives against the FIPS-197 /
    SP 800-38A published vectors and (when the library happens to be
    importable) `cryptography`
  * AES-256 (/V 5 /R 6 /CFM /AESV3, ISO 32000-2 §7.6.4): the 2.B iterated
    SHA-256/384/512 password hash, /U /UE /O /OE file-key recovery via the
    user OR owner path, /Perms validation; V5 uses the file key directly
    per object (no per-object MD5 salt)
  * key derivation from the user password — §7.6.3.3 Algorithm 2 (empty
    password is the default real-corpus case; NON-empty user and owner
    passwords are verified via Algorithms 6/7 for R 2-4 and 2.A for R 6
    when the caller supplies candidates)
  * /O and /U generation for the fixture writer — Algorithms 3, 4, 5
    (R 2-4) and 8, 9, 10 (R 6)

``decrypt_pdf`` is the reader pre-pass: given an encrypted body it returns
a plaintext-equivalent body (strings and streams decrypted in place,
/Length patched) that the existing pdfx scanner consumes unchanged —
pdfx scans byte patterns, not xref offsets, so offsets need no fixing.
``encrypt_pdf`` is the fixture post-processor: it encrypts any classic-xref
PDF from ``pdfx.make_simple_pdf`` and rebuilds the xref table.

Out of subset (documented): SASLprep password normalization (R6 passwords
here are ASCII), crypt filters other than the default /StdCF on specific
streams, unencrypted-metadata special-casing.
"""

from __future__ import annotations

import hashlib
import re
import struct

try:  # accelerated AES when the host ships `cryptography` (import-gated;
    # the pure-Python FIPS-197 implementation below is the fallback and
    # the two are parity-tested against each other and published vectors)
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    _HAVE_CRYPTO = True
except ImportError:  # pragma: no cover - exercised via the forced-pure tests
    _HAVE_CRYPTO = False

# §7.6.3.3: the standard 32-byte padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
        0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


# ---------------------------------------------------------------------------
# AES-128 (FIPS-197), encrypt + decrypt, table-driven
# ---------------------------------------------------------------------------

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytes(256)
_inv = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _inv[_v] = _i
_INV_SBOX = bytes(_inv)
_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        a = _xtime(a)
        b >>= 1
    return p


def _expand_key(key: bytes) -> list[bytes]:
    """FIPS-197 §5.2 key expansion for Nk=4 (AES-128) or Nk=8 (AES-256)."""
    nk = len(key) // 4
    nr = nk + 6
    words = [key[i : i + 4] for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        t = bytearray(words[i - 1])
        if i % nk == 0:
            t = bytearray([_SBOX[t[1]], _SBOX[t[2]], _SBOX[t[3]], _SBOX[t[0]]])
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = bytearray(_SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _aes_encrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytearray(a ^ b for a, b in zip(block, rk[0]))
    for rnd in range(1, len(rk) - 1):
        s = bytearray(_SBOX[b] for b in s)  # SubBytes
        s = bytearray(s[(i + 4 * (i % 4)) % 16] for i in range(16))  # ShiftRows (col-major)
        t = bytearray(16)
        for c in range(4):  # MixColumns
            col = s[4 * c : 4 * c + 4]
            t[4 * c + 0] = _gmul(col[0], 2) ^ _gmul(col[1], 3) ^ col[2] ^ col[3]
            t[4 * c + 1] = col[0] ^ _gmul(col[1], 2) ^ _gmul(col[2], 3) ^ col[3]
            t[4 * c + 2] = col[0] ^ col[1] ^ _gmul(col[2], 2) ^ _gmul(col[3], 3)
            t[4 * c + 3] = _gmul(col[0], 3) ^ col[1] ^ col[2] ^ _gmul(col[3], 2)
        s = bytearray(a ^ b for a, b in zip(t, rk[rnd]))
    s = bytearray(_SBOX[b] for b in s)
    s = bytearray(s[(i + 4 * (i % 4)) % 16] for i in range(16))
    return bytes(a ^ b for a, b in zip(s, rk[-1]))


def _aes_decrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytearray(a ^ b for a, b in zip(block, rk[-1]))
    s = bytearray(s[(i - 4 * (i % 4)) % 16] for i in range(16))  # InvShiftRows
    s = bytearray(_INV_SBOX[b] for b in s)
    for rnd in range(len(rk) - 2, 0, -1):
        s = bytearray(a ^ b for a, b in zip(s, rk[rnd]))
        t = bytearray(16)
        for c in range(4):  # InvMixColumns
            col = s[4 * c : 4 * c + 4]
            t[4 * c + 0] = _gmul(col[0], 14) ^ _gmul(col[1], 11) ^ _gmul(col[2], 13) ^ _gmul(col[3], 9)
            t[4 * c + 1] = _gmul(col[0], 9) ^ _gmul(col[1], 14) ^ _gmul(col[2], 11) ^ _gmul(col[3], 13)
            t[4 * c + 2] = _gmul(col[0], 13) ^ _gmul(col[1], 9) ^ _gmul(col[2], 14) ^ _gmul(col[3], 11)
            t[4 * c + 3] = _gmul(col[0], 11) ^ _gmul(col[1], 13) ^ _gmul(col[2], 9) ^ _gmul(col[3], 14)
        s = t
        s = bytearray(s[(i - 4 * (i % 4)) % 16] for i in range(16))
        s = bytearray(_INV_SBOX[b] for b in s)
    return bytes(a ^ b for a, b in zip(s, rk[0]))


def _pure_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(rk, block)
        out += prev
    return bytes(out)


def _pure_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rk, blk), prev))
        prev = blk
    return bytes(out)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC without padding or IV prefix (R6 key wrapping and the 2.B hash
    both use exact-multiple-of-16 payloads with a caller-known IV)."""
    if _HAVE_CRYPTO:
        enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
        return enc.update(data) + enc.finalize()
    return _pure_cbc_encrypt(key, iv, data)


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    if _HAVE_CRYPTO:
        dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
        return dec.update(data) + dec.finalize()
    return _pure_cbc_decrypt(key, iv, data)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    padlen = 16 - len(data) % 16
    return iv + aes_cbc_encrypt_nopad(key, iv, data + bytes([padlen]) * padlen)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    if len(data) < 32 or len(data) % 16:
        return b""
    out = aes_cbc_decrypt_nopad(key, data[:16], data[16:])
    pad = out[-1] if out else 0
    if 1 <= pad <= 16:
        out = out[:-pad]
    return bytes(out)


def aes_ecb_encrypt_block(key: bytes, block: bytes) -> bytes:
    if _HAVE_CRYPTO:
        enc = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
        return enc.update(block) + enc.finalize()
    return _aes_encrypt_block(_expand_key(key), block)


def aes_ecb_decrypt_block(key: bytes, block: bytes) -> bytes:
    if _HAVE_CRYPTO:
        dec = Cipher(algorithms.AES(key), modes.ECB()).decryptor()
        return dec.update(block) + dec.finalize()
    return _aes_decrypt_block(_expand_key(key), block)


# ---------------------------------------------------------------------------
# standard security handler key algorithms
# ---------------------------------------------------------------------------


def _padded(pwd: bytes) -> bytes:
    return (pwd + PAD)[:32]


def file_key(
    o_value: bytes, p: int, file_id: bytes, r: int, length_bits: int, user_pwd: bytes = b""
) -> bytes:
    """Algorithm 2: encryption key from the (empty) user password."""
    n = length_bits // 8 if r >= 3 else 5
    h = hashlib.md5()
    h.update(_padded(user_pwd))
    h.update(o_value[:32])
    h.update(struct.pack("<i", p))
    h.update(file_id)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def o_value(owner_pwd: bytes, user_pwd: bytes, r: int, length_bits: int) -> bytes:
    """Algorithm 3: the /O entry."""
    n = length_bits // 8 if r >= 3 else 5
    key = hashlib.md5(_padded(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = rc4(key, _padded(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def u_value(key: bytes, file_id: bytes, r: int) -> bytes:
    """Algorithms 4 (R=2) / 5 (R>=3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    h = hashlib.md5(PAD + file_id).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def object_key(key: bytes, objnum: int, gennum: int, aes: bool) -> bytes:
    """Algorithm 1 step b-c: per-object key.  A 32-byte key means /V 5
    (AES-256), where §7.6.4.1 uses the FILE key directly for every object
    — no per-object MD5 salting."""
    if len(key) == 32:
        return key
    h = hashlib.md5()
    h.update(key)
    h.update(struct.pack("<I", objnum)[:3])
    h.update(struct.pack("<I", gennum)[:2])
    if aes:
        h.update(b"sAlT")
    return h.digest()[: min(len(key) + 5, 16)]


# ---------------------------------------------------------------------------
# /V 5 /R 6 (AES-256, ISO 32000-2 §7.6.4)
# ---------------------------------------------------------------------------


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"", r: int = 6) -> bytes:
    """§7.6.4.3.4 Algorithm 2.B (R6): iterated SHA-256/384/512 password
    hash.  R5 (the deprecated Adobe extension) is the plain SHA-256 first
    step with no iteration."""
    password = password[:127]
    k = hashlib.sha256(password + salt + udata).digest()
    if r < 6:
        return k
    i = 0
    while True:
        i += 1
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = {0: hashlib.sha256, 1: hashlib.sha384, 2: hashlib.sha512}[
            sum(e[:16]) % 3
        ](e).digest()
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def file_key_v5(
    u: bytes, ue: bytes, o: bytes, oe: bytes, password: bytes, r: int = 6
) -> bytes | None:
    """§7.6.4.3.3 Algorithm 2.A: recover the 32-byte file key by validating
    ``password`` first as the USER password (salts ride in /U), then as the
    OWNER password (salted with /U as extra data).  None if neither path
    validates."""
    if len(u) < 48 or len(o) < 48:
        return None
    # user path: /U = hash(pwd, vsalt) || vsalt || ksalt
    if len(ue) >= 32 and hash_2b(password, u[32:40], b"", r) == u[:32]:
        ikey = hash_2b(password, u[40:48], b"", r)
        return aes_cbc_decrypt_nopad(ikey, bytes(16), ue[:32])
    # owner path: /O salts bind the first 48 bytes of /U
    if len(oe) >= 32 and hash_2b(password, o[32:40], u[:48], r) == o[:32]:
        ikey = hash_2b(password, o[40:48], u[:48], r)
        return aes_cbc_decrypt_nopad(ikey, bytes(16), oe[:32])
    return None


def v5_security_entries(
    file_key: bytes,
    user_pwd: bytes,
    owner_pwd: bytes,
    p: int,
    salt_seed: bytes,
) -> dict[str, bytes]:
    """Algorithms 8/9/10: the /U /UE /O /OE /Perms entries for the fixture
    writer.  Salts are derived deterministically from ``salt_seed`` (a real
    writer uses random salts; determinism is a fixture property only)."""
    vsu = hashlib.sha256(salt_seed + b"vsu").digest()[:8]
    ksu = hashlib.sha256(salt_seed + b"ksu").digest()[:8]
    vso = hashlib.sha256(salt_seed + b"vso").digest()[:8]
    kso = hashlib.sha256(salt_seed + b"kso").digest()[:8]
    u = hash_2b(user_pwd, vsu, b"") + vsu + ksu
    ue = aes_cbc_encrypt_nopad(hash_2b(user_pwd, ksu, b""), bytes(16), file_key)
    o = hash_2b(owner_pwd, vso, u) + vso + kso
    oe = aes_cbc_encrypt_nopad(hash_2b(owner_pwd, kso, u), bytes(16), file_key)
    perms_plain = (
        struct.pack("<i", p)
        + b"\xff\xff\xff\xff"
        + b"T"  # /EncryptMetadata true
        + b"adb"
        + hashlib.sha256(salt_seed + b"rnd").digest()[:4]
    )
    perms = aes_ecb_encrypt_block(file_key, perms_plain)
    return {"U": u, "UE": ue, "O": o, "OE": oe, "Perms": perms}


def _crypt(key: bytes, data: bytes, aes: bool, encrypt: bool, iv: bytes = b"") -> bytes:
    if not aes:
        return rc4(key, data)
    if encrypt:
        return aes_cbc_encrypt(key, iv or bytes(16), data)
    return aes_cbc_decrypt(key, data)


# ---------------------------------------------------------------------------
# document rewriting
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)\bendobj", re.S)
_STREAM_SPLIT_RE = re.compile(rb"(.*?)stream\r?\n(.*)\r?\nendstream\s*$", re.S)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![\d\s]*\d+\s+R)")
_STR_OR_HEX_RE = re.compile(rb"\((?:[^()\\]|\\.|\([^()]*\))*\)|<[0-9A-Fa-f\s]+>")
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>")
_XREF_STREAM_DICT_RE = re.compile(rb"\bobj\s*(<<(?:(?!\bendobj\b).)*?/Type\s*/XRef\b.*?)\bstream\b", re.S)
_TRAILER_RE = re.compile(rb"\btrailer\b.*?(?=\bstartxref\b|\Z)", re.S)


def _trailer_spans(body: bytes) -> list[tuple[int, int]]:
    """Byte spans of every trailer dictionary, in file order: each
    ``trailer`` section up to its ``startxref`` and each cross-reference
    stream dictionary.  Only these hold the /Encrypt reference and the
    file /ID (a page may show the same text).  A file has several after
    incremental updates, and a linearized one keeps /Encrypt and /ID in
    its first-page trailer near the top while its final trailer may hold
    just /Size."""
    spans = [m.span() for m in _TRAILER_RE.finditer(body)]
    spans += [m.span(1) for m in _XREF_STREAM_DICT_RE.finditer(body)]
    return sorted(spans)


def _unescape_string(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):  # backslash
            n = raw[i + 1]
            mapped = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(n)
            if mapped is not None:
                out.append(mapped)
                i += 2
                continue
            if 0x30 <= n <= 0x37:  # octal
                j = i + 1
                oct_digits = b""
                while j < len(raw) and len(oct_digits) < 3 and 0x30 <= raw[j] <= 0x37:
                    oct_digits += bytes([raw[j]])
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            out.append(n)
            i += 2
            continue
        out.append(c)
        i += 1
    return bytes(out)


def _escape_string(raw: bytes) -> bytes:
    out = bytearray()
    for b in raw:
        if b in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([b])
        elif b in (10, 13):
            out += b"\\n" if b == 10 else b"\\r"
        else:
            out.append(b)
    return bytes(out)


def _rewrite_object(
    objnum: int, gennum: int, body: bytes, key: bytes, aes: bool, encrypt: bool
) -> bytes:
    """Encrypt/decrypt every string token and the stream payload of one
    indirect object body, patching /Length."""
    okey = object_key(key, objnum, gennum, aes)
    # deterministic fixture IVs: derived from the object number (a real
    # writer uses random IVs; determinism is a fixture property only)
    iv = hashlib.md5(b"iv%d" % objnum).digest()

    def crypt_token(m: re.Match) -> bytes:
        tok = m.group(0)
        if tok.startswith(b"("):
            plain = _unescape_string(tok[1:-1])
            return b"(" + _escape_string(_crypt(okey, plain, aes, encrypt, iv)) + b")"
        hx = re.sub(rb"\s+", b"", tok[1:-1])
        if len(hx) % 2:
            hx += b"0"
        plain = bytes.fromhex(hx.decode("ascii"))
        return b"<" + _crypt(okey, plain, aes, encrypt, iv).hex().encode("ascii") + b">"

    sm = _STREAM_SPLIT_RE.match(body)
    if sm:
        dict_part, payload = sm.group(1), sm.group(2)
        if b"/XRef" in dict_part:
            return body  # cross-reference streams are never encrypted
        new_payload = _crypt(okey, payload, aes, encrypt, iv)
        dict_part = _STR_OR_HEX_RE.sub(crypt_token, dict_part)
        dict_part = _LENGTH_RE.sub(b"/Length %d" % len(new_payload), dict_part)
        return dict_part + b"stream\n" + new_payload + b"\nendstream"
    return _STR_OR_HEX_RE.sub(crypt_token, body)


def encrypt_pdf(
    body: bytes,
    owner_pwd: bytes = b"owner",
    variant: str = "rc4-128",
    file_id: bytes = b"\x01" * 16,
    p: int = -44,
    user_pwd: bytes = b"",
) -> bytes:
    """Fixture post-processor: encrypt a classic-xref PDF and rebuild its
    xref.  ``variant``: rc4-40 | rc4-128 | aes-128 | aes-256.  The default
    empty ``user_pwd`` is the owner-encrypted real-corpus shape; a
    non-empty one produces a document only openable with a password."""
    if variant == "aes-256":
        aes = True
        key = hashlib.sha256(file_id + b"filekey").digest()  # fixture-deterministic
        ent = v5_security_entries(key, user_pwd, owner_pwd, p, salt_seed=file_id)
        enc_obj = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d " % p
            + b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF "
            + b"/O <" + ent["O"].hex().encode()
            + b"> /U <" + ent["U"].hex().encode()
            + b"> /OE <" + ent["OE"].hex().encode()
            + b"> /UE <" + ent["UE"].hex().encode()
            + b"> /Perms <" + ent["Perms"].hex().encode()
            + b"> >>"
        )
    else:
        r, v, bits, aes = {
            "rc4-40": (2, 1, 40, False),
            "rc4-128": (3, 2, 128, False),
            "aes-128": (4, 4, 128, True),
        }[variant]
        o = o_value(owner_pwd, user_pwd, r, bits)
        key = file_key(o, p, file_id, r, bits, user_pwd=user_pwd)
        u = u_value(key, file_id, r)
        cf = (
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF "
            if aes
            else b""
        )
        enc_obj = (
            b"<< /Filter /Standard /V %d /R %d /Length %d /P %d " % (v, r, bits, p)
            + cf
            + b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> >>"
        )

    objects = [(int(m.group(1)), int(m.group(2)), m.group(3).strip()) for m in _OBJ_RE.finditer(body)]
    max_obj = max(n for n, _, _ in objects)
    enc_num = max_obj + 1
    rewritten = [
        (n, g, _rewrite_object(n, g, ob, key, aes, encrypt=True)) for n, g, ob in objects
    ]
    rewritten.append((enc_num, 0, enc_obj))

    out = bytearray(b"%PDF-1.6\n")
    offsets: dict[int, int] = {}
    for n, g, ob in rewritten:
        offsets[n] = len(out)
        out += b"%d %d obj\n" % (n, g) + ob + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (enc_num + 1)
    out += b"0000000000 65535 f \n"
    for n in range(1, enc_num + 1):
        out += b"%010d 00000 n \n" % offsets.get(n, 0)
    info_m = re.search(rb"/Info\s+(\d+)\s+(\d+)\s+R", body)
    info_ref = b" /Info %s %s R" % (info_m.group(1), info_m.group(2)) if info_m else b""
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s /Encrypt %d 0 R /ID [<%s> <%s>] >>\n"
        % (enc_num + 1, info_ref, enc_num, file_id.hex().encode(), file_id.hex().encode())
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def _recover_key_classic(
    o: bytes, u: bytes, p: int, file_id: bytes, r: int, bits: int, passwords: tuple
) -> bytes | None:
    """R 2-4 password verification: Algorithm 6 (candidate as USER
    password, recompute /U and compare — 16 bytes suffice for R>=3 per
    §7.6.3.4) then Algorithm 7 (candidate as OWNER password: undo the /O
    RC4 rounds to recover the padded user password, then re-verify)."""
    n = bits // 8 if r >= 3 else 5
    for pwd in passwords:
        key = file_key(o, p, file_id, r, bits, user_pwd=pwd)
        u_chk = u_value(key, file_id, r)
        if (r == 2 and u_chk == u[:32]) or (r >= 3 and u_chk[:16] == u[:16]):
            return key
    for pwd in passwords:
        okey = hashlib.md5(_padded(pwd)).digest()
        if r >= 3:
            for _ in range(50):
                okey = hashlib.md5(okey).digest()
        okey = okey[:n]
        user_padded = o
        if r >= 3:
            for i in range(19, 0, -1):
                user_padded = rc4(bytes(b ^ i for b in okey), user_padded)
        user_padded = rc4(okey, user_padded)
        key = file_key(o, p, file_id, r, bits, user_pwd=user_padded)
        u_chk = u_value(key, file_id, r)
        if (r == 2 and u_chk == u[:32]) or (r >= 3 and u_chk[:16] == u[:16]):
            return key
    return None


def decrypt_pdf(body: bytes, passwords: tuple = (b"",)) -> bytes:
    """Reader pre-pass: if ``body`` carries a standard-handler /Encrypt
    dict, return a plaintext-equivalent body; on any unsupported or
    unverifiable structure (e.g. a non-empty user password not among the
    ``passwords`` candidates) return the input unchanged (the scanner then
    degrades per its tolerant contract).  Supports /V 1-2 (RC4), /V 4
    (AES-128) and /V 5 /R 5-6 (AES-256)."""
    # The last trailer dictionary with an /Encrypt reference names the
    # encryption dictionary and carries the file /ID.
    refs = [(span, m) for span in _trailer_spans(body) for m in _ENCRYPT_REF_RE.finditer(body, *span)]
    if not refs:
        return body
    trailer, ref = refs[-1]
    enc_num = int(ref.group(1))
    idm = _ID_RE.search(body, *trailer)
    file_id = bytes.fromhex(idm.group(1).decode("ascii")) if idm else b""
    # The result is plaintext-equivalent: blank every trailer's /Encrypt
    # reference (same byte length, offsets preserved) so a second pass —
    # e.g. the scanner's own auto-decrypt pre-pass — is a no-op.
    src = bytearray(body)
    for _, m in refs:
        src[m.start() : m.end()] = b" " * (m.end() - m.start())
    src = bytes(src)
    enc_body = None
    objects = []
    for m in _OBJ_RE.finditer(src):
        n, g, ob = int(m.group(1)), int(m.group(2)), m.group(3).strip()
        if n == enc_num:
            enc_body = ob
        else:
            objects.append((n, g, ob, m.start(), m.end()))
    if enc_body is None or b"/Standard" not in enc_body:
        return body

    def _num(key: bytes, default: int) -> int:
        m2 = re.search(rb"%s\s+(-?\d+)" % key, enc_body)
        return int(m2.group(1)) if m2 else default

    def _strval(key: bytes) -> bytes:
        m2 = re.search(rb"%s\s*<([0-9A-Fa-f]+)>" % key, enc_body)
        if m2:
            return bytes.fromhex(m2.group(1).decode("ascii"))
        m2 = re.search(rb"%s\s*\(((?:[^()\\]|\\.)*)\)" % key, enc_body)
        return _unescape_string(m2.group(1)) if m2 else b""

    v = _num(b"/V", 0)
    r = _num(b"/R", 2)
    bits = _num(b"/Length", 40)
    p = _num(b"/P", -1)
    o = _strval(b"/O")
    if v == 5 and r in (5, 6):
        u5 = _strval(b"/U")
        ue = _strval(b"/UE")
        oe = _strval(b"/OE")
        key = None
        for pwd in passwords:
            key = file_key_v5(u5, ue, o, oe, pwd, r)
            if key is not None:
                break
        if key is None or len(key) != 32:
            return body
        perms = _strval(b"/Perms")
        if len(perms) == 16 and aes_ecb_decrypt_block(key, perms)[9:12] != b"adb":
            return body  # key decrypted but /Perms does not validate
        aes = True
    else:
        aes = b"/AESV2" in enc_body
        if v not in (1, 2, 4) or r not in (2, 3, 4) or len(o) < 32:
            return body
        u4 = _strval(b"/U")
        if u4:
            key = _recover_key_classic(o, u4, p, file_id, r, bits, passwords)
            if key is None:
                return body
        else:
            key = file_key(o, p, file_id, r, bits)

    out = bytearray()
    pos = 0
    for n, g, ob, mstart, mend in objects:
        out += src[pos:mstart]
        out += b"%d %d obj\n" % (n, g)
        try:
            out += _rewrite_object(n, g, ob, key, aes, encrypt=False)
        except Exception:  # noqa: BLE001 - tolerant scanner contract
            out += ob
        out += b"\nendobj"
        pos = mend
    out += src[pos:]
    return bytes(out)
