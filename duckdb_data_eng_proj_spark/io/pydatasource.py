"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API).

Demonstrates the engine's source-extension surface: a deterministic
synthetic-corpus source (`synthdocs`) that generates document rows from
a seeded md5 stream, partitioned so the read parallelizes like any
file source. Every value is a pure function of (doc_id), so the exact
same table is reproducible in DuckDB SQL — the registry entry
`src_python_datasource` hash-checks the custom source against that
oracle.

At 100 TB the same shape wraps any system Spark lacks a connector for
(an internal feed, a metrics API): implement `partitions()` to expose
the source's natural parallelism and `read(partition)` as a generator
— Spark schedules one task per partition, and the rows enter the
normal Catalyst pipeline (the source is NOT a driver-side collect).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from duckdb_data_eng_proj_spark.operators.sketches import md5_int_py

_VOCAB = (
    "loan rate credit risk score branch region term amount balance "
    "payment default officer audit ledger"
).split()


def _word(doc_id: int, j: int) -> str:
    return _VOCAB[md5_int_py(f"{doc_id}:{j}", 1, 4) % len(_VOCAB)]


def synth_row(doc_id: int) -> tuple[int, str, int]:
    """One synthetic document: id, seeded text, token count."""
    n_words = 5 + md5_int_py(f"{doc_id}:len", 1, 4) % 20
    text = " ".join(_word(doc_id, j) for j in range(n_words))
    return doc_id, text, n_words


class _Partition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SynthDocsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_docs = int(options.get("n_docs", 1000))
        self.n_parts = int(options.get("n_parts", 8))

    def partitions(self) -> list[_Partition]:
        step = max(1, -(-self.n_docs // self.n_parts))
        return [
            _Partition(lo, min(lo + step, self.n_docs))
            for lo in range(0, self.n_docs, step)
        ]

    def read(self, partition: _Partition) -> Iterator[tuple]:
        for doc_id in range(partition.start, partition.end):
            yield synth_row(doc_id)


class SynthDocsSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "doc_id bigint, text string, n_words int"

    def reader(self, schema: StructType) -> SynthDocsReader:  # noqa: ARG002
        return SynthDocsReader(self.options)
