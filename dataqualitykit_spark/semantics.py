"""Shared per-row semantics: the single source of truth for every rule the
pipeline applies.

Both the pure-Python oracle (``dataqualitykit_spark.oracle``) and the Spark
pipeline's Arrow-batched pandas UDFs import THIS module, so the scrub output
is byte-identical by construction and langid/perplexity decisions cannot
drift between oracle and engine (SURVEY.md §7.2 "byte-identical scrubbed
text ... single compiled-bank module imported by both").

Column-algebra rules (length, word stats, repeated lines, ...) are
re-expressed natively in Spark in ``functions/text.py``; the unit tests in
``tests/test_text_metrics.py`` assert those column expressions agree with
the Python functions here on adversarial inputs.

Reference semantics inherited (citations into /root/reference/QualityControl.py):
- missing-token set            :53-57
- non-printable removal        :3493-3497 (golden tests/test_encoding_conformity.py:44)
- replace-invalid              :3500-3504 (golden :51)
- xmlcharref encode            :3506-3511 (golden :57-58)
- case standardization         :1480-1497
- sha2/md5 composite keys      :2158-2159
"""

from __future__ import annotations

import hashlib
import math
import re

from .config import MISSING_TOKENS, WS_CHARS, PipelineConfig

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"[ \t\n\r\x0b\f]+")


def tokenize(text: str) -> list[str]:
    """ASCII-whitespace split, empty tokens removed.

    Mirror on the Spark side: F.filter(F.split(col, WS_REGEX), x -> x != '').
    """
    if text.isascii() and not (
        "\x1c" in text or "\x1d" in text or "\x1e" in text or "\x1f" in text
    ):
        # str.split() splits on str.isspace() chars; for ASCII text that
        # set is _WS_RE's class plus \x1c-\x1f — excluded above, so the
        # C-level split is exactly the regex split with empties dropped
        return text.split()
    return [w for w in _WS_RE.split(text) if w]


def is_missing(text: str | None) -> bool:
    """Reference missing predicate (QualityControl.py:53-57)."""
    if text is None:
        return True
    stripped = text.strip(WS_CHARS)
    return stripped == "" or text in MISSING_TOKENS


# ---------------------------------------------------------------------------
# stopwords / boilerplate / language profiles
# ---------------------------------------------------------------------------

STOPWORDS_EN = frozenset(
    "the a an and of to in is it you that was for on are with as his they at be "
    "this have from or had by not but what all were we when your can said there "
    "use each which she do how their if will up other about out many then them "
    "these so some her would make like him into time has look two more".split()
)

STOPWORDS_DE = frozenset(
    "der die das und ist nicht ein eine mit für auf des dem sich den im zu von "
    "er es auch als an aus bei nach wie noch nur wenn aber was man kann".split()
)

STOPWORDS_FR = frozenset(
    "le la les et des une dans est pour que qui sur pas par un du au il elle "
    "nous vous ils ne se ce cette mais avec tout être avoir plus".split()
)

STOPWORDS_ES = frozenset(
    "el los las y de que en un una es por con para su se no lo como más pero "
    "sus le ya o este sí porque esta entre cuando muy sin sobre".split()
)

STOPWORDS_IT = frozenset(
    "il la le e di che in un una è per con non si lo come più ma sono della "
    "dei delle questo questa al dal nel sulla anche dove quando perché".split()
)

STOPWORDS_PT = frozenset(
    "o a os as e de que em um uma é por com para não se do da dos das no na "
    "como mais mas são este esta ao pelo pela também onde quando porque".split()
)

STOPWORDS_NL = frozenset(
    "de het een en van in is dat op te niet met voor zijn er aan ook als "
    "maar om dan nog bij uit naar door over deze dit wordt worden".split()
)

LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": STOPWORDS_EN,
    "de": STOPWORDS_DE,
    "fr": STOPWORDS_FR,
    "es": STOPWORDS_ES,
    "it": STOPWORDS_IT,
    "pt": STOPWORDS_PT,
    "nl": STOPWORDS_NL,
}

# Non-Latin script detection: (code, char-class range, min char ratio),
# evaluated IN ORDER before the stopword profiles — Japanese first because
# ja text mixes kana with CJK ideographs (kana presence is the ja signal).
# Ranges are raw codepoint classes so the same pattern text drives Python
# re and DuckDB RE2 (generated oracle SQL).
SCRIPT_RANGES: tuple[tuple[str, str, float], ...] = (
    ("ja", "\u3040-\u30ff", 0.1),  # hiragana + katakana
    ("zh", "\u4e00-\u9fff", 0.3),  # CJK unified ideographs
    ("ko", "\uac00-\ud7af", 0.3),  # hangul syllables
    ("ru", "\u0400-\u04ff", 0.3),  # cyrillic
    ("ar", "\u0600-\u06ff", 0.3),  # arabic
)

_SCRIPT_RES = tuple(
    (code, re.compile(f"[{rng}]"), thr) for code, rng, thr in SCRIPT_RANGES
)


def script_lang(text: str) -> tuple[str, float] | None:
    """First script whose char ratio clears its threshold, else None.
    Confidence = the ratio itself."""
    n = len(text)
    if n == 0:
        return None
    if text.isascii():
        # every SCRIPT_RANGES class is non-ASCII, so all five ratios are
        # provably 0 — skip the regex scans (C-speed check; the common
        # Latin-text case pays nothing)
        return None
    for code, rex, thr in _SCRIPT_RES:
        ratio = len(rex.findall(text)) / n
        if ratio >= thr:
            return code, ratio
    return None


BOILERPLATE_MARKERS = (
    "all rights reserved",
    "terms of service",
    "privacy policy",
    "cookie policy",
    "we use cookies",
    "click here to subscribe",
    "sign up for our newsletter",
    "skip to main content",
)

# mild placeholder toxicity lexicon (FIXTURES.md: "use a mild placeholder lexicon")
TOXICITY_LEXICON = ("darnit", "frick", "heck", "dangit", "shoot")


# ---------------------------------------------------------------------------
# scrub bank — compiled once, applied in this exact order on both sides
# ---------------------------------------------------------------------------

# 1. control / non-printable chars (keep \t \n), reference :3493-3497.
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f�]")

# 2. mojibake repairs (UTF-8 read as latin-1), applied before PII masking.
MOJIBAKE_MAP = (
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¤", "ä"),  # Ã¤ -> ä
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("â", "’"),  # â€™ -> ’
    ("â", "“"),  # â€œ -> “
    ("â", "”"),  # â€? -> ”
)

# 3. PII bank — order matters (SSN before phone so 123-45-6789 is not
# half-eaten by the phone pattern). Phone golden format from the reference
# fixture tests/test_format_consistency.py:36 (123-456-7890, (123) 456-7890).
# Each entry carries its own exact-equivalence GATE — literals/classes the
# pattern REQUIRES, so skipping rows without them is a provable no-op.
# Keys: "at" = row contains '@'; "digit" = a decimal digit; "digit_dash" =
# a digit AND '-' (the SSN pattern requires two dashes); "digit_sep" = a
# digit AND one of '-', '.', '(' (the phone pattern's mandatory
# \d{3}[-.]\d{4} tail requires '-' or '.'; the parenthesized area-code leg
# requires '('); "digit_dot" = a digit AND '.' (every IP needs three
# dots); None = no gate. The gate travels WITH the pattern so the pairing
# cannot drift when the bank is reordered or extended (a parallel
# hand-matched list in the scrub UDF previously could). Cheap literal
# scans (memchr) run before the digit regex scan, so clean prose skips
# every expensive PII pass.
PII_BANK: tuple[tuple[re.Pattern[str], str, str | None], ...] = (
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>", "at"),
    (re.compile(r"\b\d{3}-\d{2}-\d{4}\b"), "<SSN>", "digit_dash"),
    (re.compile(r"(?:\+1[-. ])?(?:\(\d{3}\)\s?|\b\d{3}[-.])\d{3}[-.]\d{4}\b"), "<PHONE>", "digit_sep"),
    (re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b"), "<IP>", "digit_dot"),
)

_TOX_RE = re.compile(
    r"\b(?:" + "|".join(re.escape(w) for w in TOXICITY_LEXICON) + r")\b",
    re.IGNORECASE,
)


def scrub_text(text: str) -> str:
    """Full scrub: mojibake repair -> control-char strip -> PII mask -> toxicity.

    Mojibake runs FIRST because cp1252/latin-1 artifacts contain chars in the
    U+0080-U+009F control block that the ctrl-strip would otherwise eat.

    THE byte-exact contract (BASELINE.json input_hint). The pandas scrub UDF
    applies these same compiled patterns in the same order via Series.str.
    """
    out = text
    for bad, good in MOJIBAKE_MAP:
        out = out.replace(bad, good)
    out = _CTRL_RE.sub("", out)
    for pat, repl, _gate in PII_BANK:  # oracle is ungated — gates are no-ops
        out = pat.sub(repl, out)
    out = _TOX_RE.sub("<TOX>", out)
    return out


# encoding fix strategies inherited from the reference (EncodingConformity.fix
# :3362-3513); goldens in tests/test_encoding_conformity.py:44,51,57-58.
# The reference's remove/replace target NON-PRINTABLE chars only
# (char.isprintable(), :3494) — printable non-ASCII like 'é' SURVIVES both
# (goldens assert 'text with special char é' intact after remove AND
# replace). Non-printable == Unicode categories C* and Z* except U+0020
# (Python str.isprintable definition). The regex below is the same class
# spelled portably for Java regex (Spark) and RE2 (DuckDB); unassigned
# (Cn) membership can drift across engines' Unicode table versions, so
# fixtures avoid unassigned codepoints.
NONPRINTABLE_REGEX = (
    r"[\p{Cc}\p{Cf}\p{Co}\p{Cs}\p{Zl}\p{Zp}"
    r"\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"
)


def encoding_remove_invalid(text: str) -> str:
    """Reference 'remove' (:3493-3497): drop non-printable chars only
    ('invalid \\x80 text' -> 'invalid  text'; 'é' survives)."""
    return "".join(ch for ch in text if ch.isprintable())


def encoding_replace_invalid(text: str, replacement: str = "?") -> str:
    """Reference 'replace' intent (golden :51): non-printable chars ->
    replacement; printable non-ASCII survives. (The reference's
    encode/decode round-trip is a no-op under UTF-8 and its '�'.replace
    arm is dead code — the golden's intent is char-class replacement.)"""
    return "".join(ch if ch.isprintable() else replacement for ch in text)


def encoding_xmlcharref(text: str) -> str:
    """XML character references ('é' -> '&#233;', '\\x80' -> '&#128;')."""
    return text.encode("ascii", errors="xmlcharrefreplace").decode("ascii")


# ---------------------------------------------------------------------------
# heuristic metrics (python mirrors of functions/text.py column algebra)
# ---------------------------------------------------------------------------

_SYMBOL_RE = re.compile(r"[^A-Za-z0-9 \t\n\r\x0b\f]")

# delete-table twin of _SYMBOL_RE: translate() removes every ALLOWED char,
# so len(result) == count of symbol chars — C-speed, same count
_SYMBOL_DELETE = str.maketrans(
    "",
    "",
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 \t\n\r\x0b\f",
)


def symbol_count(text: str) -> int:
    return len(text.translate(_SYMBOL_DELETE))


def mean_word_length(words: list[str]) -> float:
    if not words:
        return 0.0
    return sum(len(w) for w in words) / len(words)


def stopword_hits(words: list[str], stopwords: frozenset[str] = STOPWORDS_EN) -> int:
    return sum(1 for w in words if w.lower() in stopwords)


def line_stats(text: str) -> tuple[int, int]:
    """(non_empty_lines, distinct_non_empty_lines) using '\\n' split."""
    lines = [ln for ln in text.split("\n") if ln.strip(WS_CHARS) != ""]
    return len(lines), len(set(lines))


def dup_line_char_frac(text: str) -> float:
    """Mirror of operators/repetition.dup_line_char_frac_col: fraction of
    line characters in a line occurring >= 2 times (nonempty lines by
    WS_CHARS strip, same selection as line_stats)."""
    lines = [ln for ln in text.split("\n") if ln.strip(WS_CHARS) != ""]
    total = sum(len(ln) for ln in lines)
    if total == 0:
        return 0.0
    from collections import Counter

    cnt = Counter(lines)
    return sum(len(ln) for ln in lines if cnt[ln] >= 2) / total


def dup_5gram_frac(text: str) -> float:
    """Mirror of operators/repetition.dup_5gram_frac_col: duplicate word
    5-gram fraction; docs shorter than 5 words contribute one whole-text
    gram -> 0.0."""
    toks = tokenize(text)
    if len(toks) < 5:
        return 0.0
    grams = [" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)]
    return (len(grams) - len(set(grams))) / len(grams)


def token_entropy_of(tokens: list[str]) -> float | None:
    """Shannon entropy of the token distribution, H = ln(n) - sum(c ln c)/n
    — the regrouping that keeps every ln on an INTEGER argument, so both
    engines hand ln the exact same double (math.log is bit-identical to
    DuckDB ln on this host — the DSIR measurement; summation order still
    differs, so consumers round before cross-engine comparison). None for
    an empty token list."""
    if not tokens:
        return None
    from collections import Counter

    n = len(tokens)
    s = sum(c * math.log(c) for c in Counter(tokens).values())
    return math.log(n) - s / n


def token_entropy_stats(text: str | None) -> tuple[int, int, float | None]:
    """(n_tokens, n_distinct, entropy) over the shared tokenizer —
    mirror of operators/entropy.token_entropy's Arrow pass."""
    toks = tokenize(text) if text is not None else []
    return len(toks), len(set(toks)), token_entropy_of(toks)


def line_shape_fracs(text: str) -> tuple[float, float, float]:
    """Mirror of operators/repetition.gopher_line_metrics' three
    fractions (Rae et al. 2021 A1.1.1), over one text: (bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac). Non-blank lines by WS_CHARS
    strip (identical to the operator's trim set after the newline split);
    bullets test the space-lstripped line; words are the shared
    whitespace tokenizer; alpha = contains >= 1 ASCII letter."""
    from .operators.repetition import BULLET_PREFIXES, ELLIPSIS_SUFFIXES

    lines = [ln for ln in text.split("\n") if ln.strip(WS_CHARS) != ""]
    n_lines = len(lines)
    bullet = sum(
        1 for ln in lines if ln.lstrip(" ").startswith(BULLET_PREFIXES)
    )
    ellip = sum(
        1
        for ln in lines
        if ln.strip(" \t\r\x0b\f").endswith(ELLIPSIS_SUFFIXES)
    )
    words = tokenize(text)
    n_words = len(words)
    # EXACT [A-Za-z] (the Spark rlike class): per-char ASCII range test —
    # str.lower() tricks break on multi-char case folds (e.g. 'İ')
    alpha = sum(
        1
        for w in words
        if any("a" <= c <= "z" or "A" <= c <= "Z" for c in w)
    )
    return (
        bullet / n_lines if n_lines else 0.0,
        ellip / n_lines if n_lines else 0.0,
        alpha / n_words if n_words else 0.0,
    )


# C4 gate mirrors (constants live in operators/c4_filter — imported here
# lazily to keep semantics dependency-light at import time)
def c4_keep_line(ln: str, min_words_per_line: int) -> bool:
    from .operators.c4_filter import (
        LINE_BAN_PHRASES,
        LINE_TRIM_CHARS,
        TERMINAL_PUNCT,
    )

    trimmed = ln.strip(LINE_TRIM_CHARS)  # mirrors Spark F.btrim
    if not trimmed.endswith(TERMINAL_PUNCT):
        return False
    if len(tokenize(ln)) < min_words_per_line:
        return False
    low = ln.lower()
    return not any(ph in low for ph in LINE_BAN_PHRASES)


def c4_clean_text(text: str | None, min_words_per_line: int) -> str | None:
    if text is None:
        return None
    return "\n".join(
        ln for ln in text.split("\n") if c4_keep_line(ln, min_words_per_line)
    )


def c4_doc_banned(text: str) -> bool:
    from .operators.c4_filter import DOC_BAN_PHRASES

    low = text.lower()
    return any(ph in low for ph in DOC_BAN_PHRASES)


def boilerplate_hits(text: str) -> int:
    low = text.lower()
    return sum(1 for m in BOILERPLATE_MARKERS if m in low)


# ---------------------------------------------------------------------------
# language id (deterministic stopword-profile scorer; fastText stand-in)
# ---------------------------------------------------------------------------


# inverted profile index: word -> indices of the (alphabetically sorted)
# languages whose profile contains it. The per-doc scan then touches each
# DISTINCT doc word once (one dict .get) instead of probing all ~200
# profile words against the Counter — identical integer hit counts, the
# per-language sums just accumulate in word order instead of profile order.
_LANG_CODES: tuple[str, ...] = tuple(sorted(LANG_PROFILES))
_EN_IDX = _LANG_CODES.index("en")
_WORD_LANGS: dict[str, tuple[int, ...]] = {}
for _ci, _code in enumerate(_LANG_CODES):
    for _w in LANG_PROFILES[_code]:
        _WORD_LANGS[_w] = _WORD_LANGS.get(_w, ()) + (_ci,)


def _profile_hits(cnt) -> list[int]:
    """Per-language profile hit counts from a token Counter."""
    hits = [0] * len(_LANG_CODES)
    get = _WORD_LANGS.get
    for w, c in cnt.items():
        for ci in get(w, ()):
            hits[ci] += c
    return hits


def _best_profile(hits: list[int]) -> tuple[str, int]:
    """First (alphabetical) language with strictly-max hits — the same
    tie-break as the original sorted-code loop."""
    best_lang, best_hits = "und", 0
    for ci, code in enumerate(_LANG_CODES):
        if hits[ci] > best_hits:
            best_lang, best_hits = code, hits[ci]
    return best_lang, best_hits


def langid(text: str) -> tuple[str, float]:
    """Predict language: non-Latin script ratios first (SCRIPT_RANGES in
    order), then stopword-profile density for Latin-script languages.

    Returns (lang, confidence); confidence = script char ratio for script
    languages, hits(best)/n_words for profile languages. Deterministic
    tie-break: alphabetical language code. 'und' when nothing scores.
    """
    script = script_lang(text)
    if script is not None:
        return script
    words = list(map(str.lower, tokenize(text)))
    if not words:
        return "und", 0.0
    from collections import Counter

    best_lang, best_hits = _best_profile(_profile_hits(Counter(words)))
    return best_lang, best_hits / len(words)


# ---------------------------------------------------------------------------
# char-bigram perplexity (KenLM stand-in; fixed embedded training corpus)
# ---------------------------------------------------------------------------

_TRAIN_TEXT = (
    "the quick brown fox jumps over the lazy dog and the cat sat on the mat "
    "while the sun was shining over the green hills of the old country where "
    "people would gather in the evening to talk about the news of the day and "
    "share stories from their lives the children played in the fields and the "
    "river ran slowly past the village carrying small boats made of paper and "
    "wood toward the distant sea where fishermen cast their nets at dawn and "
    "returned with the tide every morning brought new light and new work for "
    "the families who lived along the shore trading fish and bread and salt "
    "with travelers passing through on their way to the great city markets "
    "full of spices cloth and silver from lands across the water the seasons "
    "turned from spring planting to summer harvest to autumn storms to quiet "
    "winter evenings by the fire where the elders told of times long past and "
    "the young dreamed of journeys yet to come"
)

_ALPHABET = "abcdefghijklmnopqrstuvwxyz "
_CHAR_INDEX = {c: i for i, c in enumerate(_ALPHABET)}
_NONALPHA_RE = re.compile(r"[^a-z ]+")


def _train_bigram_model() -> list[list[float]]:
    """Add-0.5-smoothed log2 P(c2|c1) over a fixed 27-char alphabet."""
    v = len(_ALPHABET)
    counts = [[0.5] * v for _ in range(v)]
    totals = [0.5 * v] * v
    seq = _NONALPHA_RE.sub(" ", _TRAIN_TEXT.lower())
    seq = _WS_RE.sub(" ", seq)
    for a, b in zip(seq, seq[1:]):
        ia, ib = _CHAR_INDEX[a], _CHAR_INDEX[b]
        counts[ia][ib] += 1.0
        totals[ia] += 1.0
    return [
        [math.log2(counts[i][j] / totals[i]) for j in range(v)] for i in range(v)
    ]


_BIGRAM_LOGP = _train_bigram_model()

# vectorized lookup tables for the hot scoring path: numpy fancy-indexing
# replaces the per-pair python loop. np.cumsum is a SEQUENTIAL scan, so
# the float accumulation order (left-to-right double adds) is bit-identical
# to the previous `total += logp` loop — parity with the DuckDB oracle's
# sequential list_sum is preserved, not approximated.
import numpy as _np  # noqa: E402  (baked-in dependency)

_LP_NP = _np.array(_BIGRAM_LOGP)
_CHAR_LOOKUP = _np.zeros(128, dtype=_np.int8)
for _c, _i in _CHAR_INDEX.items():
    _CHAR_LOOKUP[ord(_c)] = _i
# byte-pair-indexed twin of _LP_NP: the scoring sequence holds only
# [a-z ] bytes, so one 2D fancy index straight off the byte buffer
# replaces the _CHAR_LOOKUP indirection — same float table entries
_LP_BYTE = _np.zeros((128, 128))
for _c1, _i1 in _CHAR_INDEX.items():
    for _c2, _i2 in _CHAR_INDEX.items():
        _LP_BYTE[ord(_c1), ord(_c2)] = _BIGRAM_LOGP[_i1][_i2]


# one-pass twin of (_NONALPHA_RE -> " ", then _WS_RE collapse): after the
# first sub the only whitespace left is ' ' (tab/newline are themselves
# non-[a-z ]), so both chains map every maximal run of [^a-z] chars to one
# space — a single sub with this class is provably the same string
_NONALPHA_RUN_RE = re.compile(r"[^a-z]+")


def perplexity(text: str) -> float:
    """Char-bigram perplexity of the lowercased [a-z ] projection of text.

    English prose scores ~8-14; uniform-random letter gibberish ~22-27.
    Empty projection -> +inf sentinel (1e9).
    """
    return _perplexity_lower(text.lower())


# bytes fast path: map every non-[a-z] byte to ' ' (memchr-speed
# translate), then bytes.split()/join collapses the runs — provably the
# same string as the regex sub + strip (only spaces remain after the
# translate, and b.split() splits on runs of ASCII whitespace)
_PPL_BYTE_TBL = bytes(
    i if 0x61 <= i <= 0x7A else 0x20 for i in range(256)
)


def _perplexity_lower(low: str) -> float:
    """perplexity() over an ALREADY-LOWERCASED text — the fused scorer
    computes text.lower() once and shares it across metrics."""
    if low.isascii():
        seq_b = b" ".join(low.encode("ascii").translate(_PPL_BYTE_TBL).split())
    else:
        seq_b = _NONALPHA_RUN_RE.sub(" ", low).strip().encode("ascii")
    n = len(seq_b)
    if n < 2:
        return 1e9
    b = _np.frombuffer(seq_b, dtype=_np.uint8)
    vals = _LP_BYTE[b[:-1], b[1:]]
    total = float(_np.cumsum(vals)[-1])
    return 2.0 ** (-total / (n - 1))


# ---------------------------------------------------------------------------
# html -> text extraction (the `html: binary` input column's decode step;
# BASELINE.json input_hint). Regex-chain extraction shared verbatim by the
# python mirror, the Spark column twin (functions/text.html_to_text) and
# the generated DuckDB oracle — (?is) flags, lazy quantifiers and the
# char classes below behave identically in python re, Java regex and RE2.
# Entity decoding is the LITERAL bank below (single-pass, &amp; decoded
# last by convention), not a full HTML5 entity table — swap in a real
# parser (lxml/selectolax via mapInPandas) on a cluster for pathological
# markup; this chain is whole-stage-codegen-friendly and shuffle-free.
# ---------------------------------------------------------------------------

# strip steps: (regex, replacement), applied in order
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    # script/style blocks go first (their BODY must never reach the text)
    (r"(?is)<(?:script|style)\b[^>]*>.*?</(?:script|style)>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level boundaries become newlines so line-based metrics
    # (repeated_lines) see real document structure
    (r"(?i)</?(?:p|br|div|h[1-6]|li|tr|ul|ol|table|blockquote)\b[^>]*/?>", "\n"),
    (r"<[^>]*>", " "),
)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST by convention: "&amp;lt;" yields literal "&lt;"
)
# whitespace normalization: spaces collapse, newline-adjacent spaces drop,
# 3+ newlines become a paragraph break, outer [ \n] trimmed
HTML_WS_STEPS: tuple[tuple[str, str], ...] = (
    (r"[ \t\r\x0b\f]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^[ \n]+|[ \n]+$", ""),
)


def html_to_text(html: str | None) -> str | None:
    """Extract visible text from HTML markup (python mirror)."""
    if html is None:
        return None
    out = html
    for pat, repl in HTML_STRIP_STEPS:
        out = re.sub(pat, repl, out)
    for ent, ch in HTML_ENTITIES:
        out = out.replace(ent, ch)
    for pat, repl in HTML_WS_STEPS:
        out = re.sub(pat, repl, out)
    return out


# ---------------------------------------------------------------------------
# byte-pair-encoding token counter (tiktoken/HF-tokenizer stand-in).
#
# A REAL learned merge table (trained at import on the same embedded corpus
# as the bigram LM — deterministic, zero files), applied with standard BPE
# inference: merges in rank order, all non-overlapping occurrences
# left-to-right. Rank-order application is equivalent to the classic
# "merge the lowest-rank pair present" loop because a merge consuming a
# token can only have been learned AFTER the merge that created that token
# (ranks respect creation order).
#
# ENGINE-PORTABLE representation: each unit is wrapped \x1f<unit>\x1e and
# pretokens are joined by \x1d, so applying merge (a,b) is a PLAIN literal
# string replace of "\x1fa\x1e\x1fb\x1e" with "\x1fab\x1e" — python
# str.replace, Spark F.replace and DuckDB replace() all share identical
# left-to-right non-overlap semantics, and the open/close markers make
# false sub-/super-string matches impossible. Token count = count of \x1f.
#
# Byte parity note: units are CHARACTERS, which equals bytes on ASCII
# corpora (the fixtures and testdata are ASCII); a non-ASCII char counts
# as one unit instead of its UTF-8 byte count — the oracle-portable
# compromise. Swap in tiktoken via the udfs/scoring model-seam pattern for
# exact byte-level counts on a cluster.
# ---------------------------------------------------------------------------

# pretokenizer (GPT-2-spirit, RE2/Java/python-portable): letter runs,
# digit runs, single non-alphanumeric chars; whitespace never tokenizes.
BPE_PRETOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\x0b\f]"
_BPE_PRETOKEN_RE = re.compile(BPE_PRETOKEN_REGEX)
BPE_N_MERGES = 128
_BPE_U, _BPE_C, _BPE_P = "\x1f", "\x1e", "\x1d"  # unit-open, unit-close, pretoken sep


def _train_bpe_merges(n_merges: int = BPE_N_MERGES) -> tuple[tuple[str, str], ...]:
    """Greedy BPE training over _TRAIN_TEXT word frequencies: repeatedly
    merge the most frequent adjacent unit pair (ties broken by
    lexicographically smallest pair — fully deterministic)."""
    from collections import Counter

    words = Counter(_BPE_PRETOKEN_RE.findall(_TRAIN_TEXT.lower()))
    seqs: dict[str, list[str]] = {w: list(w) for w in words}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, cnt in words.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        ab = a + b
        for w, s in seqs.items():
            i, out = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return tuple(merges)


BPE_MERGES: tuple[tuple[str, str], ...] = _train_bpe_merges()


def bpe_merge_patterns() -> tuple[tuple[str, str], ...]:
    """(find, replace) literal pairs in rank order — the shared material
    for the python mirror, the Spark column chain and the DuckDB oracle."""
    return tuple(
        (f"{_BPE_U}{a}{_BPE_C}{_BPE_U}{b}{_BPE_C}", f"{_BPE_U}{a}{b}{_BPE_C}")
        for a, b in BPE_MERGES
    )


def bpe_token_count(text: str) -> int:
    """Number of BPE tokens of `text` (pure-python mirror)."""
    pres = _BPE_PRETOKEN_RE.findall(text.lower())
    s = _BPE_P.join(
        "".join(f"{_BPE_U}{c}{_BPE_C}" for c in p) for p in pres
    )
    for find, repl in bpe_merge_patterns():
        s = s.replace(find, repl)
    return s.count(_BPE_U)


# ---------------------------------------------------------------------------
# per-document decision (pre-dedup rules only; dedup is a dataset-level op)
# ---------------------------------------------------------------------------


def doc_reasons(text: str | None, cfg: PipelineConfig) -> tuple[list[str], str]:
    """Evaluate all per-document rules on raw text.

    Returns (ordered list of failing rule names, scrubbed_text). Scrub runs
    first; every metric is computed on the scrubbed text (pipeline order:
    textprep -> scrub -> metrics, SURVEY.md §7.0).
    """
    if is_missing(text):
        return ["missing_text"], "" if text is None else scrub_text(text)
    scrubbed = scrub_text(text)  # type: ignore[arg-type]
    if is_missing(scrubbed):
        return ["missing_text"], scrubbed
    reasons: list[str] = []
    n_chars = len(scrubbed)
    words = tokenize(scrubbed)
    n_words = len(words)
    if n_chars < cfg.min_chars:
        reasons.append("too_short")
    if n_chars > cfg.max_chars:
        reasons.append("too_long")
    if n_words < cfg.min_words:
        reasons.append("too_few_words")
    if n_words > cfg.max_words:
        reasons.append("too_many_words")
    mwl = mean_word_length(words)
    if mwl < cfg.min_mean_word_len or mwl > cfg.max_mean_word_len:
        reasons.append("mean_word_length")
    if n_chars > 0 and symbol_count(scrubbed) / n_chars > cfg.max_symbol_ratio:
        reasons.append("symbol_ratio")
    n_lines, n_distinct = line_stats(scrubbed)
    if n_lines >= cfg.min_lines_for_ratio and n_distinct / n_lines < cfg.min_distinct_line_ratio:
        reasons.append("repeated_lines")
    if (
        cfg.max_dup_line_char_frac is not None
        and dup_line_char_frac(scrubbed) > cfg.max_dup_line_char_frac
    ) or (
        cfg.max_dup_5gram_frac is not None
        and dup_5gram_frac(scrubbed) > cfg.max_dup_5gram_frac
    ):
        reasons.append("repetition")
    if (
        cfg.max_bullet_line_frac is not None
        or cfg.max_ellipsis_line_frac is not None
        or cfg.min_alpha_word_frac is not None
    ):
        bf, ef, af = line_shape_fracs(scrubbed)
        if (
            (cfg.max_bullet_line_frac is not None and bf > cfg.max_bullet_line_frac)
            or (
                cfg.max_ellipsis_line_frac is not None
                and ef > cfg.max_ellipsis_line_frac
            )
            or (
                cfg.min_alpha_word_frac is not None
                and af < cfg.min_alpha_word_frac
            )
        ):
            reasons.append("line_shape")
    if cfg.min_token_entropy is not None and n_words >= cfg.entropy_min_words:
        # token_entropy_of returns None for an empty token list (reachable
        # when entropy_min_words <= 0); NULL-propagate to pass like the
        # Spark gate instead of raising on None < float
        h = token_entropy_of(words)
        if h is not None and h < cfg.min_token_entropy:
            reasons.append("low_entropy")
    if boilerplate_hits(scrubbed) >= cfg.max_boilerplate_hits:
        reasons.append("boilerplate")
    if cfg.c4_lines and c4_doc_banned(scrubbed):
        reasons.append("policy_phrase")
    hits = stopword_hits(words)
    if n_words > 0 and (hits < cfg.min_stopword_hits or hits / n_words < cfg.min_stopword_density):
        reasons.append("stopword_density")
    lang, conf = langid(scrubbed)
    if lang not in cfg.allowed_langs or conf < cfg.min_lang_conf:
        reasons.append("lang")
    if perplexity(scrubbed) > cfg.max_perplexity:
        reasons.append("perplexity")
    return reasons, scrubbed


def score_document(text: str) -> tuple[str, float, float, int, float, int]:
    """Fused per-document scoring: one tokenize pass feeding language-ID,
    word-shape metrics and stopword hits, plus char-bigram perplexity.

    Returns (lang, lang_conf, ppl, n_words, mean_word_len, stopword_hits).
    Exactly equivalent to calling langid/perplexity/mean_word_length/
    stopword_hits separately (the scoring UDF uses this; the oracle path
    via doc_reasons uses the separate functions — parity is asserted in
    tests)."""
    return _score_document_low(text, text.lower())


def _score_document_low(text: str, low: str) -> tuple[str, float, float, int, float, int]:
    """score_document over text plus its PRE-LOWERED twin (full_metrics
    lowers once and shares it with the boilerplate scan)."""
    from collections import Counter

    words = tokenize(text)
    n_words = len(words)
    mwl = (sum(map(len, words)) / n_words) if n_words else 0.0
    cnt = Counter(map(str.lower, words))
    hits = _profile_hits(cnt)
    sw_hits = hits[_EN_IDX]
    script = script_lang(text)
    if script is not None:
        best_lang, conf = script
    else:
        best_lang, best_hits = ("und", 0) if not n_words else _best_profile(hits)
        conf = (best_hits / n_words) if n_words else 0.0
    return best_lang, conf, _perplexity_lower(low), n_words, mwl, sw_hits


def full_metrics(text: str) -> tuple:
    """Every per-document metric in one pass — what the pipeline's fused
    scoring UDF computes per doc. Field-for-field equal to the individual
    functions here, which tests/test_text_metrics.py also pins to the
    column algebra in functions/text.py.

    Returns (lang, lang_conf, ppl, n_words, mean_word_len, stopword_hits,
             n_chars, symbol_count, n_lines, distinct_lines,
             boilerplate_hits, missing)."""
    low = text.lower()
    lang, conf, ppl, n_words, mwl, sw_hits = _score_document_low(text, low)
    n_lines, n_distinct = line_stats(text)
    bp = sum(1 for m in BOILERPLATE_MARKERS if m in low)
    return (
        lang,
        conf,
        ppl,
        n_words,
        mwl,
        sw_hits,
        len(text),
        symbol_count(text),
        n_lines,
        n_distinct,
        bp,
        is_missing(text),
    )


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity (pure python; the reference's fuzzy UDF
    :1415-1428 depends on an uninstalled jellyfish). Standard definition:
    match window floor(max/2)-1, transpositions/2, Winkler prefix boost up
    to 4 chars."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    jaro = (matches / l1 + matches / l2 + (matches - t / 2) / matches) / 3
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_weight * (1 - jaro)


# ---------------------------------------------------------------------------
# md5-portable near-dup primitives — python mirrors of
# operators/dedup.py::{minhash_signatures_portable, minhash_jaccard_portable,
# simhash_portable}. Same algorithm, same hash, so the pure-python pipeline
# oracle and the Spark engine produce identical signatures/pairs/clusters.
# ---------------------------------------------------------------------------


def word_shingles(text: str, k: int = 3) -> list[str]:
    """Word k-shingles of the lowercased text; if fewer than k words, the
    single shingle is all words joined (mirrors dedup._shingles_of)."""
    words = tokenize(text.lower())
    if len(words) < k:
        return [" ".join(words)]
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


def minhash_signature(text: str, num_hashes: int = 32, shingle_k: int = 3) -> list[str]:
    """md5-permutation MinHash: slot i = lexicographic min of
    md5('{i}|'+shingle) hex over DISTINCT shingles."""
    sh = set(word_shingles(text, shingle_k))
    return [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
        for i in range(num_hashes)
    ]


def minhash_candidate_pairs(
    docs: dict, num_hashes: int = 32, rows_per_band: int = 4, shingle_k: int = 3
) -> list[tuple]:
    """LSH banding over md5-portable signatures: (id_a, id_b, est_jaccard)
    for every banded-bucket collision, id_a < id_b (ids compared on their
    natural ordering). `docs` maps id -> text."""
    sigs = {i: minhash_signature(t, num_hashes, shingle_k) for i, t in docs.items()}
    buckets: dict[tuple, list] = {}
    bands = num_hashes // rows_per_band
    for i, sig in sigs.items():
        for b in range(bands):
            key_src = "|".join(sig[b * rows_per_band : (b + 1) * rows_per_band])
            key = (b, hashlib.md5(key_src.encode()).hexdigest())
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for members in buckets.values():
        members = sorted(members)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                pairs.add((members[x], members[y]))
    out = []
    for a, b in sorted(pairs):
        est = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / num_hashes
        out.append((a, b, est))
    return out


def simhash_portable_py(text: str, shingle_k: int = 2) -> int:
    """60-bit SimHash over md5 shingle hashes (first 15 hex chars)."""
    hashes = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        for s in word_shingles(text, shingle_k)
    ]
    n = len(hashes)
    sim = 0
    for b in range(60):
        c = sum(1 for h in hashes if (h >> b) & 1)
        if 2 * c > n:
            sim |= 1 << b
    return sim


# ---------------------------------------------------------------------------
# URL canonicalization — normalize BEFORE the url-dedup window so trivially
# different mirrors collapse. Pattern TEXT is shared by the python mirror,
# the Spark column version (functions/text.normalize_url) and the DuckDB
# oracle; only the backreference dialect differs ($1 Java, \\1 RE2/python).
# ---------------------------------------------------------------------------

URL_HEAD_REGEX = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
# capture group 1 = authority/host (functions/text.domain_of + SQL twins)
URL_DOMAIN_REGEX = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_TRACK = r"(?:utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*"
URL_FRAGMENT_REGEX = r"#.*$"
# ordered: non-first param, first param with a successor, lone param
URL_TRACKING_REGEXES = (
    (rf"&{_TRACK}", ""),
    (rf"\?{_TRACK}&", "?"),
    (rf"\?{_TRACK}$", ""),
)
URL_DANGLING_REGEX = r"[?&]$"
URL_TRAILING_SLASH_REGEX = r"(://[^/?#]*/.+)/$"

_URL_HEAD_RE = re.compile(URL_HEAD_REGEX)


def normalize_url(url: str) -> str:
    """Canonical URL: lowercase scheme+host, fragment stripped, tracking
    params (utm_*/gclid/fbclid) removed, dangling separators fixed, one
    trailing slash stripped from a non-root path."""
    m = _URL_HEAD_RE.match(url)
    head = m.group(0) if m else ""
    u = head.lower() + url[len(head):]
    u = re.sub(URL_FRAGMENT_REGEX, "", u)
    for pat, repl in URL_TRACKING_REGEXES:
        u = re.sub(pat, repl, u)
    u = re.sub(URL_DANGLING_REGEX, "", u)
    u = re.sub(URL_TRAILING_SLASH_REGEX, r"\1", u)
    return u


def content_hash(text: str) -> str:
    """md5 hex of utf-8 bytes — matches Spark F.md5(F.encode(col,'UTF-8'))."""
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def sha256_hex(text: str) -> str:
    """sha256 hex — matches Spark F.sha2(col, 256) and DuckDB sha256()."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def url_keyword_score(
    url: str | None, weights: tuple[tuple[str, float], ...]
) -> float:
    """Pure-python mirror of operators/url_filter.url_keyword_score_col
    (same fold order — float addition is order-sensitive in the last
    ulp): sum of weights of lexicon words contained, case-insensitive,
    anywhere in the url; 0.0 for NULL."""
    if url is None:
        return 0.0
    lu = url.lower()
    score = 0.0
    for w, wt in weights:
        if w.lower() in lu:
            score += float(wt)
    return score


def nfc_normalize(text: str | None) -> str | None:
    """Unicode NFC canonical composition — the standard pre-hash text
    normalization (decomposed 'e'+COMBINING ACUTE and composed 'é' must
    produce the SAME content hash or mirrors of one page miss the dedup
    window). Python unicodedata and DuckDB's utf8proc implement the same
    UAX#15 algorithm — verified identical over composed/decomposed/
    compatibility inputs before wiring (compatibility forms like 'ﬁ' are
    NOT folded: NFC, not NFKC — a deliberate conservative choice; NFKC
    changes rendered text)."""
    import unicodedata

    if text is None:
        return None
    return unicodedata.normalize("NFC", text)
