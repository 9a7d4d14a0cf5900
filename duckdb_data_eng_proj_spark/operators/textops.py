"""Text-analysis building blocks: tokenize, n-gram shingles, MinHash.

Design notes (100 TB path):
- Everything here is a pure Column expression over built-in
  ``pyspark.sql.functions`` higher-order functions — JVM-side,
  whole-stage-codegen'd, no Python in the loop. A 100 TB documents
  table runs these as a single narrow map stage (no shuffle).
- MinHash hashes each shingle ONCE (md5) and derives all n hash
  functions arithmetically (Kirsch-Mitzenmacher) — hashing is the
  dominant near-dup cost at corpus scale. The md5-to-integer read is
  ``operators/sketches.md5_int`` (why md5: see that module).

Reference parity: the reference project has no text operators (its
scalar census is SURVEY.md §2.7); these implement the north-star
training-data-pipeline surface (BASELINE.json) over the driver's
``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.sketches import md5_int

# Whitespace tokenization of lower-cased, trimmed text; empty tokens
# dropped so trailing separators don't produce phantom tokens.
TOKEN_SPLIT_RE = r"\s+"

# The DuckDB-SQL mirror of ``tokens()`` below — THE single source for
# every oracle that tokenizes (r16 consolidation: training.py and
# extras_r6b.py previously carried byte-identical private copies, the
# r4 tokens() drift incident's exact setup). Any change here must
# change ``tokens()`` in lockstep; the pair is what keeps Spark/oracle
# parity exact for the whole text family.
TOK_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"

# "BPE-ish" sub-token pattern: letter runs, digit runs, single
# punctuation marks — a deterministic stand-in for a real BPE vocab.
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Tiny per-language marker lexicons for the n-gram/stopword language
# heuristic. Order = deterministic argmax tie-break order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "las", "por"),
}

EN_STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"] + ("in", "is", "it", "on", "for")


def tokens(text: Column) -> Column:
    """lower → trim → split on whitespace → drop empty tokens."""
    return F.filter(
        F.split(F.lower(F.trim(text)), TOKEN_SPLIT_RE), lambda x: x != F.lit("")
    )


def word_ngrams(tok: Column, n: int) -> Column:
    """Sliding word n-grams joined by single spaces (duplicates kept).

    Empty array (typed) when the document has fewer than ``n`` tokens —
    ``F.sequence`` with start > stop would otherwise count backwards.
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.array_join(F.slice(tok, i + F.lit(1), n), " "),
    )
    return F.when(F.size(tok) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def distinct_ngrams(tok: Column, n: int) -> Column:
    """Shingle *set* (distinct n-grams) — the Jaccard/MinHash input."""
    return F.array_distinct(word_ngrams(tok, n))


# Mersenne prime 2^61-1: (a + j*b) mod P stays under 2^63 for j <= 7
# with a,b < 2^60 (15 hex digits), so the arithmetic is exact BIGINT
# in both engines.
MINHASH_P = (1 << 61) - 1


def minhash_pairs(shingles: Column) -> Column:
    """Per-shingle (a, b|1) 60-bit hash pair — the K-M base hashes.

    Callers MUST materialize this as its own projection column and
    derive the n minima from that column: embedding the pair expr
    inside each minimum would re-hash every shingle n times (Spark
    HOFs are interpreted — no CSE across expressions).

    NB: HOF lambdas must be one-argument — PySpark dispatches on
    arity, so `lambda s, j=j:` would silently become the
    (element, index) form and hash the wrong thing.
    """
    return F.transform(
        shingles,
        lambda s: F.struct(
            md5_int(s, 1, 15).alias("a"),
            md5_int(s, 17, 15).bitwiseOR(1).alias("b"),
        ),
    )


def minhash_from_pairs(pairs: Column, n_hashes: int) -> list[Column]:
    """MinHash signature via Kirsch-Mitzenmacher double hashing: hash j
    is MIN over (a + j*b) mod P. Same guarantees as n independent
    hashes for MinHash-style sketches at 1/n the hashing cost — md5 is
    the dominant near-dup cost at corpus scale. NULL when the shingle
    set is empty."""

    def km(j: int):
        return lambda p: (p["a"] + F.lit(j) * p["b"]) % MINHASH_P

    return [
        F.array_min(F.transform(pairs, km(j))).alias(f"h{j}")
        for j in range(n_hashes)
    ]


def lsh_band_buckets(sig_cols: list[str], rows_per_band: int) -> list[Column]:
    """LSH band buckets: md5 of the concatenated signature slice.

    Two docs land in the same (band, bucket) iff their signatures agree
    on every row of that band — the standard bands×rows construction.
    """
    def parts(b: int) -> list[Column]:
        # F.concat, not concat_ws: NULL signatures (empty shingle set)
        # must propagate to a NULL bucket like SQL `||` does.
        cols: list[Column] = []
        for r in range(rows_per_band):
            if r:
                cols.append(F.lit("|"))
            cols.append(F.col(sig_cols[b * rows_per_band + r]).cast("string"))
        return cols

    n_bands = len(sig_cols) // rows_per_band
    return [F.md5(F.concat(*parts(b))).alias(f"band{b}") for b in range(n_bands)]
