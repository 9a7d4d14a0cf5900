"""The benchmark's workloads as lists of timed operations.

An operation is one call into a layer of the package plus the force of what
it returned: ``build()`` calls the layer (``run_pipeline``, a stage picker,
``REGISTRY[qid].fn``) and returns the DataFrames to force; ``execute()``
forces them into a noop sink. Every operation is timed build-inclusive, so
Spark jobs fired while a plan is built are timed like any other.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from duckdb_data_eng_proj_spark.etl import run_pipeline
from duckdb_data_eng_proj_spark.etl.analytics import ANALYTICS
from duckdb_data_eng_proj_spark.etl.export import export_outputs
from duckdb_data_eng_proj_spark.etl.loan_pipeline import (
    load_raw_applications,
    load_raw_lms,
)
from duckdb_data_eng_proj_spark.queries import REGISTRY

# The clock ETL_ORACLES is written against (queries/etl_composites.py).
RUN_TS = dt.datetime(2026, 1, 23, 12, 30, 57)
AS_OF = dt.date(2026, 1, 23)

LSH_DEDUP_OPS = (
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_lsh_tune",
    "dedup_minhash_incremental",
    "txt_longest_common_substring",
    "sim_knn_bucket_join",
    "ext_decontaminate",
)
ETL_OPS = (
    "io.csv_scan",
    "etl.run_pipeline",
    "etl.quarantine",
    "etl.clean_apps",
    "etl.clean_lms",
    "etl.portfolio",
    "etl.quality_report",
    "etl.export",
    *(f"etl.{q}" for q in ANALYTICS),
)
# the analytics queries; every other ETL op is pipeline time
ETL_ANALYTICS = tuple(f"etl.{q}" for q in ANALYTICS)
ALL_OPS = ETL_OPS + tuple(f"queries.{q}" for q in LSH_DEDUP_OPS)


def force(frames: list[DataFrame]) -> None:
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str  # "<layer>.<op>"
    build: Callable[[], object]
    execute: Callable[[object], None] = force
    frames: Callable[[object], list[DataFrame]] = list


class LoanEtl:
    """One pass: scan the CSVs, build the pipeline, force its five stages,
    export, then run q0–q5 over the portfolio. Cleaned tables are cached by
    ``run_pipeline``; the cache is dropped between passes."""

    def __init__(self, spark: SparkSession, apps_csv: str, lms_csv: str, out_dir: str):
        self.spark, self.apps, self.lms, self.out_dir = spark, apps_csv, lms_csv, out_dir
        self.result = None

    def _pipeline(self) -> list[DataFrame]:
        self.result = run_pipeline(
            self.spark, self.apps, self.lms, run_ts=RUN_TS, as_of_date=AS_OF
        )
        return []

    def _query(self, q: str) -> list[DataFrame]:
        p = self.result
        if q == "q0":
            return [ANALYTICS[q](p.loan_portfolio, p.data_quality_report)]
        return [ANALYTICS[q](p.loan_portfolio)]

    def ops(self) -> list[Op]:
        stage = {
            "etl.quarantine": "raw_applications_bad",
            "etl.clean_apps": "cleaned_applications",
            "etl.clean_lms": "lms_cleaned",
            "etl.portfolio": "loan_portfolio",
            "etl.quality_report": "data_quality_report",
        }
        ops = [
            Op("io.csv_scan", lambda: [load_raw_applications(self.spark, self.apps),
                                       load_raw_lms(self.spark, self.lms)]),
            Op("etl.run_pipeline", self._pipeline),
        ]
        ops += [Op(name, lambda a=attr: [getattr(self.result, a)]) for name, attr in stage.items()]
        ops.append(Op("etl.export", lambda: self.result,
                      execute=lambda p: export_outputs(p, self.out_dir),
                      frames=lambda p: []))  # noqa: ARG005
        ops += [Op(f"etl.{q}", lambda q=q: self._query(q)) for q in ANALYTICS]
        return ops

    def export_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.out_dir, f))
            for f in os.listdir(self.out_dir)
            if f.endswith(".csv")
        )


class Operators:
    """One pass runs each registered operator once over generated tables."""

    def __init__(self, spark: SparkSession, sf_dir: str, qids: tuple[str, ...]):
        self.spark, self.sf_dir, self.qids = spark, sf_dir, qids

    def ops(self) -> list[Op]:
        return [
            Op(f"queries.{q}", lambda q=q: [REGISTRY[q].fn(self.spark, self.sf_dir)])
            for q in self.qids
        ]

    def export_bytes(self) -> int:
        return 0
