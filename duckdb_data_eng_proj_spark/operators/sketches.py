"""md5-derived integers: the one cross-engine hash that every sketch,
sample, split and signature reads, each Spark function next to its
oracle-SQL twin (as in ``lsh.py``, ``vectors.py`` and ``graph.py``).

A hash is hex digits [start, start + n) of md5(x) read as INT for
n <= 7 or BIGINT for 8 <= n <= 15; 16 digits would overflow a signed
BIGINT. No other Spark or SQL code in the package parses hex into an
integer; the pure-Python generators behind src_python_datasource and
mm_decode_stub read the same digits through ``md5_int_py``.
Callers pass the salted input as they build it, so each sketch keeps
its own salt. md5 is deterministic and identical across engines, which
is what makes the DuckDB oracle parity checks exact; for production
throughput ``F.xxhash64`` is ~5× faster but has no DuckDB twin.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KMV_K = 64
KMV_SCALE = 1 << 60  # a 15-digit hash h is uniform on [0, 2^60): h / 2^60 ~ U(0,1)


def _types(n: int) -> tuple[str, str]:
    """(Spark, DuckDB) integer type holding n hex digits."""
    if not 1 <= n <= 15:
        raise ValueError(f"{n} hex digits do not fit a signed BIGINT (max 15)")
    return ("int", "INT") if n <= 7 else ("long", "BIGINT")


def hex_int(hex: Column, start: int, n: int) -> Column:
    """Hex digits [start, start + n) (1-based) of ``hex`` as an integer."""
    return F.conv(F.substring(hex, start, n), 16, 10).cast(_types(n)[0])


def hex_int_sql(hex: str, start: int, n: int) -> str:
    """DuckDB twin of ``hex_int``."""
    return f"CAST('0x' || substr({hex}, {start}, {n}) AS {_types(n)[1]})"


def md5_int(x: Column, start: int, n: int) -> Column:
    """``hex_int`` of md5(x)."""
    return hex_int(F.md5(x), start, n)


def md5_int_sql(x: str, start: int, n: int) -> str:
    """DuckDB twin of ``md5_int``."""
    return hex_int_sql(f"md5({x})", start, n)


def md5_int_py(data: bytes | str, start: int, n: int) -> int:
    """Pure-Python twin of ``md5_int`` (a str is hashed as UTF-8)."""
    _types(n)
    if isinstance(data, str):
        data = data.encode()
    return int(hashlib.md5(data).hexdigest()[start - 1 : start - 1 + n], 16)


def md5_slot(salted: Column, width: int) -> Column:
    """Slot in [0, width) of a 32-bit salted hash: one of a sketch's k
    hash functions (Count-Min cell, Bloom bit, sampling uniform)."""
    return md5_int(salted, 1, 8) % width


def md5_slot_sql(salted: str, width: int) -> str:
    """DuckDB twin of ``md5_slot``."""
    return f"{md5_int_sql(salted, 1, 8)} % {width}"


def doc_bucket100(doc_id: Column) -> Column:
    """Leakage-safe 0–99 document bucket: first 4 hex digits of
    md5(doc_id) mod 100. Engine-native hash() must never gate a split;
    the bucket is a pure function of the stable id, so assignment
    survives runs, engines and repartitions. Shared by
    ext_split_train, ext_domain_mix and pipe_corpus_clean_v2."""
    return md5_int(doc_id.cast("string"), 1, 4) % 100


def doc_bucket100_sql(doc_id: str) -> str:
    """DuckDB twin of ``doc_bucket100``."""
    return f"{md5_int_sql(f'CAST({doc_id} AS VARCHAR)', 1, 4)} % 100"


def kmv_rank(*keys: str) -> Column:
    """row_number() per ``keys`` over ascending hash ``h``, a NULL hash
    (md5 of a NULL key) last — so it enters a top-K only when a group
    has fewer than K real hashes, on both engines."""
    w = Window.partitionBy(*keys).orderBy(F.asc_nulls_last("h"))
    return F.row_number().over(w)


def kmv_rank_sql(keys: str) -> str:
    """DuckDB twin of ``kmv_rank``."""
    return f"row_number() OVER (PARTITION BY {keys} ORDER BY h ASC NULLS LAST)"


def kmv_top_k(hashes: DataFrame, key: str) -> DataFrame:
    """(key, h): the KMV_K smallest hashes per ``key``. The rank
    filter plans as WindowGroupLimit, so each map task forwards only
    its local top-K — the KMV merge — before the shuffle."""
    return (
        hashes.withColumn("rn", kmv_rank(key))
        .filter(F.col("rn") <= KMV_K)
        .select(key, "h")
    )


def kmv_top_k_sql(src: str, key: str) -> str:
    """DuckDB twin of ``kmv_top_k`` over the relation ``src``."""
    return (
        f"SELECT {key}, h FROM (SELECT {key}, h, {kmv_rank_sql(key)} AS rn "
        f"FROM {src}) WHERE rn <= {KMV_K}"
    )
