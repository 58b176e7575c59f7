"""Text-analysis column functions for large-scale training-data pipelines:
tokenization, shingles, cross-engine hashing, quality scoring, language-ID
heuristics, and document fingerprinting.

Everything here is pure Spark SQL expressions (JVM-side) — no Python UDFs
except ``nfc`` — and each has an exact ANSI-SQL twin runnable by DuckDB (see
__spark_entry__.oracle_sql), which is why the hash primitive is ``h32``
(md5-prefix) rather than xxhash64 (absent in DuckDB).

Cost rule for the token-list kernels. In Spark 4.1 every higher-order
function (``transform``, ``filter``, ``aggregate``, ``zip_with``) is a
``CodegenFallback``: it runs interpreted, row by row, and subexpression
elimination does not look inside it (neither its lambda body nor its
arguments); of a ``when`` it shares only the first condition and what
every branch evaluates. So an expression named k times is evaluated k
times: ``tokens(c)`` inside a ``transform`` lambda re-tokenizes the
document once per element. Each kernel therefore takes its token list
once, bound by ``let`` as the argument of a one-element ``transform`` (or
read from a real column), and refers only to that binding afterwards.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# words used by the language-ID and stopword-ratio heuristics — deliberately
# tiny, deterministic, and expressible as literal SQL in both engines
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
    "zh": ("的", "是", "了"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def h32(c: Column | str) -> Column:
    """Deterministic 32-bit hash as BIGINT, identical in Spark and DuckDB:
    first 8 hex chars of md5. (DuckDB: ('0x'||substr(md5(x),1,8))::bigint)"""
    return F.conv(F.substring(F.md5(_col(c)), 1, 8), 16, 10).cast("long")


def let(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, which is evaluated once per
    row: the lambda variable of a one-element ``transform``."""
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of lowercased text (empty tokens removed)."""
    return F.filter(F.split(F.lower(_col(c)), r"\s+"), lambda t: t != "")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND on
    letter/digit/punctuation boundaries (a cheap BPE proxy — counts the
    units a byte-pair tokenizer would rarely merge across)."""
    pieces = F.split(
        F.regexp_replace(
            F.regexp_replace(F.lower(_col(c)),
                             r"([0-9]+)", r" $1 "),
            r"([^a-z0-9\s]+)", r" $1 "),
        r"\s+")
    return F.size(F.filter(pieces, lambda t: t != ""))


def word_ngrams(c: Column | str, n: int = 2) -> Column:
    """ALL word n-grams in order (NOT deduplicated — repetition analysis
    needs every occurrence; dedup/Jaccard wants ``word_shingles``). Docs
    shorter than n tokens yield an empty array.

    Linear in the token count: the n-grams are a ``zip_with`` fold of the n
    shifted slices ``t[k+1 .. k+size-n+1]``. The ``size >= n`` guard stays,
    since ``slice`` rejects a negative length."""
    def grams(t: Column) -> Column:
        width = F.size(t) - n + 1
        out = F.slice(t, 1, width)
        for k in range(1, n):
            out = F.zip_with(out, F.slice(t, k + 1, width),
                             lambda a, b: F.concat_ws(" ", a, b))
        return F.when(F.size(t) >= n, out).otherwise(
            F.array().cast("array<string>"))

    return let(tokens(c), grams)


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """n-gram word shingles (distinct), the unit for Jaccard/MinHash dedup.
    Docs shorter than n tokens yield an empty array."""
    return F.array_distinct(word_ngrams(c, n))


def _count_in(t: Column, words: tuple[str, ...]) -> Column:
    """How many tokens of the list ``t`` are among ``words``."""
    return F.size(F.filter(t, lambda x: x.isin(*words)))


def _stopword_ratio(t: Column) -> Column:
    return F.when(F.size(t) > 0,
                  _count_in(t, STOPWORDS) / F.size(t)).otherwise(F.lit(0.0))


def _mean_word_len(t: Column) -> Column:
    return F.when(F.size(t) > 0,
                  F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
                  / F.size(t)).otherwise(F.lit(0.0))


def punct_ratio(c: Column | str) -> Column:
    s = _col(c)
    stripped = F.regexp_replace(s, r"[^\p{L}\p{N}\s]", "")
    return F.when(F.length(s) > 0,
                  (F.length(s) - F.length(stripped)) / F.length(s)
                  ).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality heuristic for training-data filtering:
    rewards mid-length docs, plausible word lengths and some stopwords;
    punishes punctuation soup. Deterministic arithmetic only."""
    s = _col(c)

    def score(t: Column) -> Column:
        length_term = F.least(F.length(s) / F.lit(500.0), F.lit(1.0))
        wordlen = _mean_word_len(t)
        wordlen_term = F.when((wordlen >= 3) & (wordlen <= 10),
                              F.lit(1.0)).otherwise(F.lit(0.5))
        stop_term = F.least(_stopword_ratio(t) * 4.0, F.lit(1.0))
        punct_term = F.lit(1.0) - F.least(punct_ratio(s) * 5.0, F.lit(1.0))
        return F.round((length_term + wordlen_term + stop_term + punct_term)
                       / 4.0, 4)

    return let(tokens(s), score)


def lang_id(c: Column | str) -> Column:
    """Marker-word language guess: the language whose markers occur most
    (ties broken by the fixed ``LANG_MARKERS`` order); 'und' when nothing
    matches (null text included)."""
    def label(t: Column) -> Column:
        counts = {lang: _count_in(t, m) for lang, m in LANG_MARKERS.items()}
        top = F.greatest(*counts.values())
        first = F  # F.when for the first language, Column.when after
        for lang, n in counts.items():
            first = first.when(n == top, F.lit(lang))
        return F.when(top > 0, first).otherwise(F.lit("und"))

    return let(tokens(c), label)


def fingerprint(c: Column | str) -> Column:
    """Document fingerprint: md5 of case/whitespace/punct-normalized text —
    the exact-dedup key that survives trivial reformatting."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(_col(c)), r"[^\p{L}\p{N}\s]", ""),
        r"\s+", " ")
    return F.md5(F.trim(norm))


def simhash16(c: Column | str) -> Column:
    """16-bit SimHash over whitespace tokens using h32 token hashes:
    bit j is set iff sum over tokens of sign(bit_j(h32(token))) > 0.
    Small fixed width keeps the SQL twin tractable; near-dup candidates
    join on equal simhash (or banded halves for hamming ≤ k). Each token is
    hashed once; the 16 per-bit sums read the bound hash list."""
    def bits(hs: Column) -> Column:
        out = F.lit(0).cast("long")
        for j in range(16):
            contrib = F.aggregate(
                hs, F.lit(0),
                lambda acc, h: acc + F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1)).otherwise(F.lit(-1)))
            out = out + F.when(contrib > 0, F.lit(1 << j)).otherwise(
                F.lit(0))
        return out

    return let(F.transform(tokens(c), h32), bits)


# PII scrubbing (pipeline canon: C4/RefinedWeb redact contact details
# before training). Patterns are deliberately simple and dialect-portable:
# the same strings compile identically under Java regex (Spark) and RE2
# (DuckDB), which is what makes the oracle a value-exact twin.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{7,15}"


def pii_email_count(c: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_col(c), F.lit(PII_EMAIL),
                                   F.lit(0)))


def pii_ipv4_count(c: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_col(c), F.lit(PII_IPV4),
                                   F.lit(0)))


def pii_phone_count(c: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_col(c), F.lit(PII_PHONE),
                                   F.lit(0)))


def scrub_pii(c: Column | str) -> Column:
    """Redact emails, then IPv4 literals, then +international phone
    numbers with typed placeholders. Email first: addresses contain
    dotted digit runs the IP pattern could otherwise bite into."""
    s = F.regexp_replace(_col(c), PII_EMAIL, "<EMAIL>")
    s = F.regexp_replace(s, PII_IPV4, "<IP>")
    return F.regexp_replace(s, PII_PHONE, "<PHONE>")


# Unicode normalization (pipeline canon: normalize before tokenizing,
# fingerprinting, or deduplicating — NFC-vs-decomposed variants of the
# same text must collide). The JVM-expressible part (zero-width strip,
# control strip, unicode-space fold) is plain regexp_replace; only the
# NFC recomposition itself needs Python, as one Arrow-batched pandas UDF
# (Spark has no built-in unicode normalizer). DuckDB twins: the same
# classes as RE2 \x{...} escapes + nfc_normalize().
ZERO_WIDTH = "\u200b\u200c\u200d\ufeff\u00ad"
CTRL = "\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f"
UNI_SPACE = "\u00a0\u2000-\u200a\u202f\u205f\u3000"


def clean_unicode(c: Column | str) -> Column:
    """Strip zero-widths + soft hyphen, drop control chars (keeping tab /
    newline / CR), fold exotic unicode spaces to ASCII space — all
    JVM-side."""
    s = F.regexp_replace(_col(c), f"[{ZERO_WIDTH}]", "")
    s = F.regexp_replace(s, f"[{CTRL}]", "")
    return F.regexp_replace(s, f"[{UNI_SPACE}]", " ")


def nfc(c: Column | str) -> Column:
    """Unicode NFC recomposition — the one step Spark built-ins cannot
    express; a vectorized Arrow-batched pandas UDF, never per-row."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    return _nfc(_col(c))


def normalize_text(c: Column | str) -> Column:
    """clean_unicode then NFC (cleanup first so the UDF sees less)."""
    return nfc(clean_unicode(c))
