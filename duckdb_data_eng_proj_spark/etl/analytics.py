"""The reference's six analytical queries, DataFrame-first.

Reference: queries.sql:1-245 (q0 curated view, q1 cohort overview, q2
risk monitoring, q3 delinquency by installer, q4 cohort dpd rates, q5
monthly volume share). All run over loan_portfolio (+
data_quality_report for q0).

Semantics preserved from the reference:
- NULL boolean flags drop rows under ``filter(~flag)`` — the
  "effectively inner join" behavior (SURVEY.md G3).
- q0's NOT IN is null-aware: rows with NULL application_id are
  excluded (x NOT IN (...) → NULL), so the anti-join is applied only
  to the isNotNull() subset.
- ELSE-less AVG CASE keeps NULLs so non-approved rows don't dilute
  the mean (queries.sql:68-75).
- cohort_month is a DATE (DuckDB date_trunc('month', DATE) → DATE):
  F.trunc, not F.date_trunc which returns TIMESTAMP.
- Rounded ratios go through ``round_duckdb`` (DuckDB's scale-then-round),
  not ``F.round``, which rounds the shortest decimal text and differs
  from DuckDB on inexact half-way ties such as 57/800.

Scale: every query is one shuffle (groupBy its key) or a window over
a partitioned key; sums over whole-euro DOUBLE amounts are exact in
IEEE double (< 2^53), so no decimal shim is needed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.functions import round_duckdb


def _approved_1() -> F.Column:
    return F.when(F.col("status") == "approved", 1).otherwise(0)


def q0_curated_portfolio(portfolio: DataFrame, report: DataFrame) -> DataFrame:
    """Rows whose application_id is not in the problematic-id list
    (queries.sql:2-22)."""
    bad_ids = (
        report.select(
            F.explode("problematic_application_ids").alias("application_id")
        )
        .filter(F.col("application_id").isNotNull())
        .distinct()
    )
    return portfolio.filter(F.col("application_id").isNotNull()).join(
        F.broadcast(bad_ids), "application_id", "left_anti"
    )


def q1_portfolio_overview(portfolio: DataFrame) -> DataFrame:
    """Monthly cohort × installation type: volume, approval rate, avg
    approved size (queries.sql:26-83)."""
    base = portfolio.filter(F.col("application_date").isNotNull()).select(
        F.trunc("application_date", "month").alias("cohort_month"),
        "installation_type",
        F.lower(F.col("status")).alias("status"),
        "loan_amount_eur",
    )
    approved_amt = F.when(F.col("status") == "approved", F.col("loan_amount_eur"))
    return (
        base.groupBy("cohort_month", "installation_type")
        .agg(
            F.count("*").alias("total_applications"),
            F.sum(_approved_1()).cast("int").alias("approved_applications"),
            round_duckdb(
                F.lit(1.0) * F.sum(_approved_1()) / F.nullif(F.count("*"), F.lit(0)), 4
            ).alias("approval_rate"),
            F.round(F.sum(F.coalesce(approved_amt, F.lit(0.0))), 2).alias(
                "total_approved_loan_volume"
            ),
            round_duckdb(F.avg(approved_amt), 2).alias("avg_approved_loan_size"),
        )
        .orderBy("cohort_month", "installation_type")
    )


def q2_risk_monitoring(portfolio: DataFrame) -> DataFrame:
    """Loans with credit_score < 680 and LTI > 0.35 (queries.sql:87-113).
    NULL flags drop rows (G3)."""
    return (
        portfolio.filter(
            ~F.col("flag_credit_score_out_of_range")
            & ~F.col("flag_credit_score_missing")
            & ~F.col("flag_loan_id_null")
            & F.col("loan_to_income_ratio").isNotNull()
            & (F.col("credit_score") < 680)
            & (F.col("loan_to_income_ratio") > 0.35)
        )
        .select(
            "loan_id",
            "application_id",
            "installer_partner_id",
            "installation_type",
            "credit_score",
            "current_balance_eur",
            "loan_amount_eur",
            "annual_income_eur",
            "loan_to_income_ratio",
            "application_date",
            "disbursement_date",
            "delinquency_bucket",
            "days_past_due",
            "months_since_disbursement",
            "status",
        )
        .orderBy(F.desc("disbursement_date"))
    )


def q3_delinquency_by_installer(portfolio: DataFrame) -> DataFrame:
    """Delinquency (31+ dpd) rate per installer (queries.sql:117-153)."""
    delinquent_1 = F.when(F.col("days_past_due") > 30, 1).otherwise(0)
    return (
        portfolio.filter(~F.col("flag_loan_id_null"))
        .groupBy("installer_partner_id")
        .agg(
            F.count("*").alias("total_loans"),
            F.sum(delinquent_1).alias("delinquent_loans"),
            round_duckdb(
                F.lit(1.0) * F.sum(delinquent_1) / F.nullif(F.count("*"), F.lit(0)), 4
            ).alias("delinquency_rate"),
        )
        .orderBy(F.desc("delinquency_rate"), F.desc("total_loans"))
    )


def q4_cohort_dpd_rates(portfolio: DataFrame) -> DataFrame:
    """30/60/90-day delinquency rates per disbursement cohort
    (queries.sql:157-203)."""
    base = portfolio.filter(
        F.col("disbursement_date").isNotNull() & ~F.col("flag_loan_id_null")
    ).select(
        F.trunc("disbursement_date", "month").alias("cohort_month"), "days_past_due"
    )

    def rate(days: int) -> F.Column:
        hit = F.when(F.col("days_past_due") >= days, 1).otherwise(0)
        return round_duckdb(
            F.lit(1.0) * F.sum(hit) / F.nullif(F.count("*"), F.lit(0)), 4
        ).alias(f"dpd_{days}_rate")

    return (
        base.groupBy("cohort_month")
        .agg(F.count("*").alias("total_loans"), rate(30), rate(60), rate(90))
        .orderBy(F.desc("cohort_month"))
    )


def q5_monthly_volume_share(portfolio: DataFrame) -> DataFrame:
    """Each installation type's share of monthly approved volume —
    the reference's window-function query (queries.sql:207-245)."""
    monthly = (
        portfolio.filter(
            F.col("application_date").isNotNull()
            & ~F.col("flag_installation_type_invalid")
        )
        .select(
            F.trunc("application_date", "month").alias("cohort_month"),
            "installation_type",
            F.when(
                F.lower(F.col("status")) == "approved", F.col("loan_amount_eur")
            )
            .otherwise(0.0)
            .alias("approved_amt"),
        )
        .groupBy("cohort_month", "installation_type")
        .agg(F.round(F.sum("approved_amt"), 2).alias("approved_loan_volume"))
    )
    w = Window.partitionBy("cohort_month")
    share = round_duckdb(
        F.col("approved_loan_volume")
        / F.nullif(F.sum("approved_loan_volume").over(w), F.lit(0.0)),
        4,
    )
    return monthly.select(
        "cohort_month",
        "installation_type",
        "approved_loan_volume",
        share.alias("monthly_volume_share"),
    ).orderBy("cohort_month", "installation_type")


ANALYTICS = {
    "q0": q0_curated_portfolio,
    "q1": q1_portfolio_overview,
    "q2": q2_risk_monitoring,
    "q3": q3_delinquency_by_installer,
    "q4": q4_cohort_dpd_rates,
    "q5": q5_monthly_volume_share,
}
