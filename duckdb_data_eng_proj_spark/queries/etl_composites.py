"""Registry entries for the five ETL composites + six analytics queries.

These run the full loan-portfolio pipeline on the reference's own CSV
inputs (/root/reference/data) with the golden run's injected clock, so
results are deterministic. Two independent correctness gates:
golden-output parity (tests/test_etl_golden.py compares every column
against /root/reference/output/) AND, since round 3, a DuckDB oracle
per entry (etl/oracle_sql.py replays the pipeline as one CTE chain
over the same CSVs) so the driver records hash-matched rows instead of
rows-only (VERDICT r2 "Next round" #5).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from duckdb_data_eng_proj_spark.etl import run_pipeline
from duckdb_data_eng_proj_spark.etl.analytics import ANALYTICS
from duckdb_data_eng_proj_spark.etl.oracle_sql import _REF, ETL_ORACLES
from duckdb_data_eng_proj_spark.queries.registry import register

_RUN_TS = dt.datetime(2026, 1, 23, 12, 30, 57)  # the golden run's clock
_AS_OF = dt.date(2026, 1, 23)

_memo: dict[int, object] = {}


def _pipeline(spark: SparkSession):
    key = id(spark)
    if key not in _memo:
        _memo[key] = run_pipeline(
            spark,
            f"{_REF}/data/applications_expanded.csv",
            f"{_REF}/data/lms_updates_expanded.csv",
            run_ts=_RUN_TS,
            as_of_date=_AS_OF,
        )
    return _memo[key]


def _reg(qid: str, doc: str, picker):
    @register(qid, oracle=ETL_ORACLES.get(qid), doc=doc)
    def q(spark: SparkSession, sf_dir: str, _p=picker) -> DataFrame:  # noqa: ARG001
        return _p(_pipeline(spark))

    q.__name__ = qid
    return q


_reg(
    "etl_quarantine",
    "Quarantine split: over-wide CSV rows isolated on the overflow "
    "column (pipeline.py:82-113); golden: 1 bad / 199 good.",
    lambda p: p.raw_applications_bad,
)
_reg(
    "etl_clean_apps",
    "Typed + 9-flag application cleaning with risk_category, LTI "
    "ratio, JSON flags (pipeline.py:127-205); golden: "
    "cleaned_applications.csv, 199 rows, full-column parity.",
    lambda p: p.cleaned_applications,
)
_reg(
    "etl_clean_lms",
    "Typed + 10-flag LMS cleaning with delinquency bucket "
    "(pipeline.py:207-330); staged only in the reference.",
    lambda p: p.lms_cleaned,
)
_reg(
    "etl_portfolio",
    "apps ⟕ LMS fan-out join with renames + recomputed bucket + "
    "month-diff (pipeline.py:334-384); golden: loan_portfolio.csv, "
    "244 rows, full-column parity.",
    lambda p: p.loan_portfolio,
)
def _quality_report_hashable(p) -> DataFrame:
    """Driver-facing quality report with the id list serialized.

    The driver canonicalizes results via pandas ``sort_values``, which
    crashes on an ArrayType column (``unhashable type: 'list'`` —
    CORRECTNESS_r02). Serialize ``problematic_application_ids`` to its
    JSON text (order already pinned by array_sort upstream; to_json
    keeps NULL elements, matching DuckDB array_agg semantics). The
    typed-array form stays on ``p.data_quality_report`` for golden
    parity (tests/test_etl_golden.py).
    """
    from pyspark.sql import functions as F

    df = p.data_quality_report
    return df.withColumn(
        "problematic_application_ids",
        F.to_json(F.col("problematic_application_ids")),
    )


_reg(
    "etl_quality_report",
    "Single-row report: 22 counters + sorted problematic-id list "
    "(pipeline.py:386-492); golden: data_quality_report.csv parity "
    "incl. the NULL list element. Driver surface serializes the id "
    "list (see _quality_report_hashable).",
    _quality_report_hashable,
)


def _q_picker(qid: str):
    fn = ANALYTICS[qid]
    if qid == "q0":
        return lambda p: fn(p.loan_portfolio, p.data_quality_report)
    return lambda p: fn(p.loan_portfolio)


for _qid, _rows in [("q0", 52), ("q1", 24), ("q2", 14), ("q3", 10), ("q4", 5), ("q5", 23)]:
    _reg(
        f"etl_{_qid}",
        f"Reference analytics query {_qid} (queries.sql), DataFrame "
        f"form; verified row count {_rows} on reference data.",
        _q_picker(_qid),
    )


_reg(
    "etl_strict_spec",
    "Opt-in STRICT spec validations the reference never implemented "
    "(take_home_exercise.md:57-59,91 / SURVEY §2.10): application-"
    "must-be-approved, balance ≤ original amount, disbursement after "
    "application date, straight-line estimated_remaining_balance. "
    "Additive — golden-parity surfaces never call it. Differential "
    "check vs DuckDB SQL over the same CSVs in "
    "tests/test_etl_golden.py::test_strict_spec_counts.",
    lambda p: _strict_summary(p),
)


def _strict_summary(p) -> DataFrame:
    from pyspark.sql import functions as F

    from duckdb_data_eng_proj_spark.etl.loan_pipeline import strict_spec_checks

    strict = strict_spec_checks(p.lms_cleaned, p.cleaned_applications, _AS_OF)
    return strict.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("flag_application_not_approved").cast("int"))
        .cast("long")
        .alias("n_not_approved"),
        F.sum(F.col("flag_balance_exceeds_original").cast("int"))
        .cast("long")
        .alias("n_balance_exceeds"),
        F.sum(F.col("flag_disbursement_before_application").cast("int"))
        .cast("long")
        .alias("n_disb_before_app"),
        F.count("estimated_remaining_balance").alias("n_est_present"),
        (
            F.sum(
                F.round(F.col("estimated_remaining_balance") * 100, 0).cast("long")
            ).cast("double")
            / 100
        ).alias("est_total"),
    )
