"""Text primitives as built-in array/string expressions.

The reference tokenises and cleans with spaCy/NLTK on the driver
(labs/skills/text_cleaning_utils.py); here the equivalents are Catalyst
expressions: whitespace tokens, k-word shingles, a deterministic 60-bit
string hash — each with a DuckDB SQL twin generated from the same
constants so oracles can't drift.

hash64: first 15 hex chars of md5 parsed base-16 — identical in Spark
(``conv``) and DuckDB (``('0x'||…)::BIGINT``), unlike the engines'
native hash functions which differ. At 100 TB you'd swap in xxhash64
Spark-side; md5 is the cross-engine-verifiable choice.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")
PUNCT_CLASS = r"[.,;:!?]"

LANG_STOPWORDS = {
    "en": ("the", "a", "is", "of"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
}
LANG_PRIORITY = ("en", "es", "de")  # argmax tiebreak order


def tokens(text: Column) -> Column:
    return F.split(text, r"\s+")


def shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles.

    Built as zip_with over shifted slices, NOT a transform whose lambda
    indexes the outer token array: a lambda body referencing the outer
    array re-evaluates it (and the split feeding it) per element —
    O(len²) per document. zip_with evaluates each input array once per
    row. zip_with null-pads the shorter side, so the result is cut to
    the exact shingle count at the end.
    """
    cur = toks
    for off in range(1, k):
        shifted = F.slice(toks, off + 1, F.greatest(F.size(toks) - off, F.lit(0)))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.slice(cur, 1, F.greatest(F.size(toks) - (k - 1), F.lit(0)))
    )


def raw_shingles(toks: Column, k: int = 3) -> Column:
    """POSITIONAL k-word shingles — ``shingles`` without the distinct,
    in document order. Two properties the distinct form lacks: the
    shingle list of a token-PREFIX is a prefix of this list (so a
    truncation variant needs no second shingle/hash pass), and any
    min/max over per-shingle hashes is unchanged by the missing dedup
    (duplicates never change a min)."""
    cur = toks
    for off in range(1, k):
        shifted = F.slice(toks, off + 1, F.greatest(F.size(toks) - off, F.lit(0)))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(cur, 1, F.greatest(F.size(toks) - (k - 1), F.lit(0)))


def hash64(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def stopword_hits(toks: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


# ---- Spark SQL twins ----
#
# Same expression trees as the Column builders above, assembled as SQL
# TEXT and parsed with one F.expr call. On this rig every py4j Column
# call costs ~3-6 ms (loopback TCP RTT ~1.2 ms), so a builder like
# shingles() — ~20 Column calls — spends 60-120 ms of pure driver
# round-trips per CALL SITE, and the minhash front end several hundred
# ms (guide §5: driver cost). String assembly is free in Python; the
# parsed trees are the same functions (split / zip_with / slice /
# greatest / array_distinct / conv / md5), so the analyzed plan — and
# every oracle-checked result — is unchanged.


def spark_sql_tokens(text: str) -> str:
    return f"split({text}, '\\\\s+')"


def spark_sql_shingles(toks: str, k: int = 3) -> str:
    """Spark twin of ``shingles`` (distinct k-word shingles)."""
    cur = toks
    for off in range(1, k):
        shifted = f"slice({toks}, {off + 1}, greatest(size({toks}) - {off}, 0))"
        cur = f"zip_with({cur}, {shifted}, (a, b) -> concat_ws(' ', a, b))"
    return f"array_distinct(slice({cur}, 1, greatest(size({toks}) - {k - 1}, 0)))"


def spark_sql_hash64(s: str) -> str:
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


# ---- DuckDB twins ----

def sql_tokens(text: str) -> str:
    return f"string_split_regex({text}, '\\s+')"


def sql_shingles(toks: str, k: int = 3) -> str:
    joined = " || ' ' || ".join(f"({toks})[i+{off}]" for off in range(k))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {k - 1}, 0)), i -> {joined}))"
    )


def sql_hash64(s: str) -> str:
    return f"(('0x' || substr(md5({s}), 1, 15))::BIGINT)"


def sql_stopword_hits(toks: str, words: tuple[str, ...] = STOPWORDS) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> t IN ({in_list})))"
