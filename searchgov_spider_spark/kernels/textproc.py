"""Text-processing kernels (pure Python, batch-vectorizable).

Single-node reference implementations of the text semantics of the extraction
stack.  The Spark path wraps these in Arrow-batched pandas UDFs and must
produce byte-identical output per row.

Reference behaviors mirrored (semantics only, no code copied):
  * sanitize_text     -- search_gov_crawler/search_gov_spiders/helpers/content.py:1-57
  * decode_bytes      -- search_gov_crawler/search_gov_spiders/helpers/encoding.py:9-33
  * detect_language   -- search_gov_crawler/indexing/helpers.py:68-82 (langdetect
                         surrogate: deterministic stopword-profile n-gram heuristic,
                         since langdetect is unavailable in this environment)
  * summarize_text    -- search_gov_crawler/indexing/helpers.py:85-140 (nltk surrogate:
                         regex sentence/word tokenizers with identical scoring rules)
"""

from __future__ import annotations

import re
from collections import Counter

# --- sanitization ----------------------------------------------------------

# exactly the reference's replacement set (helpers/content.py:20): the HTML
# parser has already decoded generic entities by this point; only these
# space-entity artifacts are handled here, with &nbsp; -> NBSP (collapsed to
# a plain space by the final whitespace pass, as in the reference)
_ENTITIES = {"&#13;": "\r", "&#10;": "\n", "&nbsp;": " "}

_WS_COLLAPSE_RE = re.compile(r"\s+")


def clean_line(line: str) -> str:
    """Sanitize one line: entity replace, drop non-printable non-space
    characters, collapse internal whitespace (helpers/content.py:8-26).

    Whitespace control characters (\\t \\x0b \\x0c ...) are KEPT and collapse
    to spaces; non-space control characters are removed outright — matching
    the reference's ``isprintable() or isspace()`` filter byte-for-byte.

    Fast path (r06): an all-printable line with no '&' has nothing for the
    entity table or the per-char filter to do (space is printable; every
    other whitespace char fails isprintable), so the result is exactly
    ``" ".join(line.split())`` — one C-level scan instead of a Python
    generator over every character.
    """
    if "&" not in line and line.isprintable():
        return " ".join(line.split())
    for entity, repl in _ENTITIES.items():
        line = line.replace(entity, repl)
    line = "".join(c for c in line if c.isprintable() or c.isspace())
    return " ".join(line.split()).strip()


def sanitize_text(text: str) -> str:
    """Reference sanitize pipeline (helpers/content.py:29-57), byte-exact:
    per-line clean -> drop empty lines -> join -> remove U+2424 -> collapse
    all whitespace runs to single spaces.

    Deviation: returns "" where the reference returns None for falsy input
    (Spark string-column semantics); tests map None <-> "".
    """
    if not text:
        return ""
    # Fast path (r06): printable text contains NO line boundaries (\n, \r,
    # \x0b..\x1e, \x85, U+2028/9 all fail isprintable), so splitlines is
    # [text]; with no '&' (entities) and no U+2424 the pipeline reduces to
    # one whitespace collapse — byte-identical (pinned in tests).
    if "&" not in text and "␤" not in text and text.isprintable():
        return " ".join(text.split())
    lines = [clean_line(ln) for ln in text.splitlines()]
    joined = " ".join(ln for ln in lines if ln).replace("␤", "")
    return _WS_COLLAPSE_RE.sub(" ", joined).strip()


# --- encoding cascade ------------------------------------------------------


# BOM signatures checked longest-first (utf-32 BOMs contain the utf-16 ones);
# the BOM-aware codecs (utf-8-sig / utf-16 / utf-32) strip the BOM themselves
_BOMS = [
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32"),
    (b"\x00\x00\xfe\xff", "utf-32"),
    (b"\xff\xfe", "utf-16"),
    (b"\xfe\xff", "utf-16"),
]

_META_CHARSET_RE = re.compile(rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE)


def sniff_charset(data: bytes) -> str | None:
    """BOM + ``<meta charset>`` detection (X6): the deterministic stand-in
    for the reference's cchardet call (helpers/encoding.py:9-18), which is
    unavailable here.  Returns a codec name or None."""
    for bom, codec in _BOMS:
        if data.startswith(bom):
            return codec
    m = _META_CHARSET_RE.search(data[:2048])
    if m:
        import codecs

        name = m.group(1).decode("ascii", errors="replace").lower()
        try:
            codecs.lookup(name)
        except LookupError:
            return None
        return name
    return None


def detect_charset_statistical(data: bytes) -> str | None:
    """Byte-distribution heuristic for UNDECLARED non-utf-8 charsets — the
    deterministic analog of the reference's cchardet statistical fallback
    (helpers/encoding.py:9-18).  Covers the three families a .gov crawl
    actually hits: shift_jis, cp1251 (Cyrillic), cp1252 (Western).

    Rules (checked in order, on an 8 KiB prefix):
      1. shift_jis when a strict decode succeeds, the sample has
         STATISTICAL MASS (≥10 decoded non-ASCII chars — a lone accented
         byte is not evidence), and ≥80% of those land in kana/CJK blocks
         (Cyrillic-as-SJIS fails strict decode: cp1251 lowercase р-я are
         the invalid SJIS leads 0xF0-0xFF).
      2. cp1251 when high bytes cluster into RUNS (Cyrillic words are
         consecutive ≥0xC0 bytes) — pair ratio ≥ 0.5.
      3. cp1252 otherwise (Western text has isolated accented bytes).
    """
    sample = data[:8192]
    high = sum(1 for b in sample if b >= 0x80)
    if not high:
        return None
    text = None
    for trim in (0, 1, 2):  # the prefix cut may split a trailing pair
        try:
            text = sample[: len(sample) - trim or None].decode("shift_jis")
            break
        except UnicodeDecodeError:
            continue
    if text:
        cjk = sum(
            1
            for ch in text
            if 0x3000 <= ord(ch) <= 0x30FF or 0x4E00 <= ord(ch) <= 0x9FFF or 0xFF61 <= ord(ch) <= 0xFF9F
        )
        non_ascii = sum(1 for ch in text if ord(ch) > 0x7F)
        if non_ascii >= 10 and cjk / non_ascii >= 0.8:
            return "shift_jis"
    pairs = sum(1 for a, b in zip(sample, sample[1:]) if a >= 0xC0 and b >= 0xC0)
    return "cp1251" if pairs / high >= 0.5 else "cp1252"


def decode_bytes(data: bytes) -> str:
    """utf-8 first, then charset sniffing (BOM / <meta charset>), then the
    statistical byte-distribution heuristic, then latin-1, then lossy utf-8.

    The reference tries utf-8, then cchardet detection, then ``str(bytes)``
    (helpers/encoding.py:21-33).  cchardet is unavailable here; sniffing
    covers the declared-charset cases, detect_charset_statistical the
    undeclared ones it detects statistically, and latin-1 is the
    deterministic total fallback (it decodes any byte string), with a final
    utf-8-replace guard kept for parity of shape.
    """
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        pass
    codec = sniff_charset(data)
    if codec is None:
        codec = detect_charset_statistical(data)
    if codec is not None:
        try:
            return data.decode(codec)
        except (UnicodeDecodeError, LookupError):
            pass
    try:
        return data.decode("latin-1")
    except UnicodeDecodeError:  # pragma: no cover - latin-1 cannot fail
        return data.decode("utf-8", errors="replace")


# --- tokenization / language / quality --------------------------------------

_TOKEN_RE = re.compile(r"[a-z0-9]+(?:'[a-z]+)?")
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")

# Compact stopword profiles per language.  Deterministic language-ID
# heuristic: score = fraction of tokens found in each profile; best score
# wins, ties broken alphabetically; default "en" on no evidence.
STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset(
        "the of and to in a is that it for on with as are was at by an be this have from or "
        "had not but what all were when we there can more if out so up said who they you your "
        "which their will each about how has he she his her them then than some these other".split()
    ),
    "es": frozenset(
        "el la de que y a en un ser se no haber por con su para como estar tener le lo lo "
        "todo pero mas hacer o poder decir este ir otro ese si me ya ver porque dar cuando".split()
    ),
    "fr": frozenset(
        "le de un etre et a il avoir ne je son que se qui ce dans en du elle au pour pas "
        "vous par sur faire plus dire me on mon lui nous comme mais pouvoir avec tout".split()
    ),
    "de": frozenset(
        "der die und in den von zu das mit sich des auf fur ist im dem nicht ein eine als "
        "auch es an werden aus er hat dass sie nach wird bei einer um am sind noch wie".split()
    ),
    "zh": frozenset("的 一 是 在 不 了 有 和 人 这 中 大 为 上 个 国 我 以 要 他 时 来 用 们".split()),
}

_LANG_ORDER = sorted(STOPWORDS)


def tokenize(text: str) -> list[str]:
    """Lowercase word tokens (ASCII alnum runs with optional apostrophe)."""
    return _TOKEN_RE.findall(text.lower())


def token_count(text: str) -> int:
    return len(_TOKEN_RE.findall(text.lower()))


def detect_language(text: str, default: str = "en") -> str:
    """Deterministic stopword-profile language ID over the first 400 chars.

    Surrogate for the reference's langdetect call on a 64-char prefix
    (indexing/helpers.py:68-82); 2-letter code output is preserved.
    """
    sample = text[:400]
    tokens = tokenize(sample)
    if not tokens:
        return default
    best_lang, best_score = default, 0.0
    for lang in _LANG_ORDER:
        profile = STOPWORDS[lang]
        score = sum(1 for t in tokens if t in profile) / len(tokens)
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang if best_score > 0 else default


def quality_score(text: str) -> float:
    """Heuristic document quality in [0, 1].

    Components (equal weight): length band (50..5000 tokens), alpha ratio,
    stopword ratio band (0.1..0.6), mean-word-length band (3..10).
    Deterministic; used for training-data filtering.
    """
    tokens = tokenize(text)
    n = len(tokens)
    if n == 0:
        return 0.0
    length_ok = 1.0 if 50 <= n <= 5000 else (n / 50.0 if n < 50 else 5000.0 / n)
    alpha_chars = sum(1 for c in text if c.isalpha())
    alpha_ratio = alpha_chars / max(1, len(text))
    sw = STOPWORDS["en"]
    sw_ratio = sum(1 for t in tokens if t in sw) / n
    sw_ok = 1.0 if 0.1 <= sw_ratio <= 0.6 else 0.0
    mean_len = sum(len(t) for t in tokens) / n
    len_ok = 1.0 if 3.0 <= mean_len <= 10.0 else 0.0
    return round((length_ok + alpha_ratio + sw_ok + len_ok) / 4.0, 6)


# --- summarization (reference indexing/helpers.py:85-140) -------------------


def split_sentences(text: str) -> list[str]:
    parts = _SENT_SPLIT_RE.split(text)
    return [p.strip() for p in parts if p.strip()]


def word_frequencies(text: str, lang: str = "en") -> dict[str, int]:
    """Token frequency excluding stopwords/non-alnum (helpers.py:116-127)."""
    sw = STOPWORDS.get(lang, STOPWORDS["en"])
    # Counter over the filtered list runs the tally in C; key order (first
    # occurrence) and counts are identical to the explicit dict loop
    return Counter(tok for tok in tokenize(text) if tok not in sw)


def summarize_text(text: str, lang: str = "en") -> tuple[str, str]:
    """(top-3-sentence summary, top-10 comma-joined keywords).

    Scoring mirrors the reference: sentence score = sum of word frequencies
    (helpers.py:128-132); top sentences re-joined in score order using Python
    ``sorted`` stability for tie-break (helpers.py:134-138) -- the stability
    is deliberately preserved for byte parity.

    Single-tokenize fast path (r06): each sentence is tokenized once and the
    frequency table is built from the concatenation.  This equals
    ``word_frequencies(text, lang)`` exactly -- the token charset
    ``[a-z0-9']`` contains neither whitespace nor ``.!?``, so no token can
    span a ``split_sentences`` boundary or the stripped whitespace, and the
    concatenated per-sentence token streams reproduce the full-text token
    stream (only token MULTISET matters for the Counter; str.lower is
    per-character over ASCII token chars).  ``Counter.__getitem__`` returns 0
    for missing keys without inserting, matching ``freq.get(t, 0)``.
    Differential-pinned against the explicit derivation in
    tests/test_fast_html_parity.py.
    """
    sw = STOPWORDS.get(lang, STOPWORDS["en"])
    sentences = split_sentences(text)
    sent_tokens = [tokenize(s) for s in sentences]
    freq = Counter([t for toks in sent_tokens for t in toks if t not in sw])
    get = freq.__getitem__
    scored = [
        (sum(map(get, toks)), i, s)
        for i, (toks, s) in enumerate(zip(sent_tokens, sentences))
    ]
    top = sorted(scored, key=lambda x: -x[0])[:3]
    summary = " ".join(s for _, _, s in top)
    keywords = ",".join(w for w, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:10])
    return summary, keywords


# --- fingerprinting ----------------------------------------------------------

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a_64(data: str) -> int:
    """64-bit FNV-1a over utf-8 bytes (unsigned)."""
    h = _FNV_OFFSET
    for b in data.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def document_fingerprint(text: str, window: int = 8) -> int:
    """Winnowing-style fingerprint: min FNV-1a hash over token ``window``-grams,
    returned as signed 64-bit (Spark LongType compatible).  Deterministic and
    case/whitespace-normalized via the tokenizer."""
    tokens = tokenize(text)
    if not tokens:
        return 0
    if len(tokens) <= window:
        h = fnv1a_64(" ".join(tokens))
    else:
        h = min(fnv1a_64(" ".join(tokens[i : i + window])) for i in range(len(tokens) - window + 1))
    return h - (1 << 64) if h >= (1 << 63) else h
