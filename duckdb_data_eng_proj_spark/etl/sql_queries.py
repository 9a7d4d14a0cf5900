"""The six analytical queries as Spark SQL texts (entry point 2).

The reference's Risk team runs SQL (queries.sql via the DuckDB CLI —
SURVEY.md §3.2); a switching user keeps that workflow: register the
two pipeline outputs as views and run these near-verbatim texts
through ``spark.sql``. Dialect deltas from the DuckDB originals, each
marked inline:

- ``date_trunc('month', d)`` returns TIMESTAMP in Spark, DATE in
  DuckDB → ``CAST(... AS DATE)`` (queries.sql:29,160,210).
- ``FROM t, UNNEST(arr) AS x`` → ``LATERAL VIEW explode(arr)``
  (queries.sql:13-14).
- ``1.0 * x`` promotes to DOUBLE in DuckDB but DECIMAL in Spark SQL
  → the double literal is written ``1.0D`` (queries.sql:51,139,172…).
- ``ROUND(ratio, d)`` rounds the double's shortest decimal text in
  Spark but ``ratio * 10^d`` in DuckDB → ratios are written
  ``ROUND(ratio * 10^d, 0) / 10^d``, the SQL spelling of
  ``functions.round_duckdb``.
- Everything else (NOT IN null-aware subquery, CASE aggregation,
  NULLIF, window) parses and evaluates identically.

tests/test_sql_entrypoint.py proves each text ≡ the DataFrame form in
etl/analytics.py row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

Q0 = """
WITH curated_portfolio AS (
  SELECT * FROM loan_portfolio
  WHERE application_id NOT IN (
    SELECT application_id FROM data_quality_report
    LATERAL VIEW explode(problematic_application_ids) t AS application_id
    WHERE application_id IS NOT NULL
  )
)
SELECT * FROM curated_portfolio
"""

Q1 = """
WITH base AS (
  SELECT CAST(date_trunc('month', application_date) AS DATE) AS cohort_month,
         installation_type, LOWER(status) AS status, loan_amount_eur
  FROM loan_portfolio WHERE application_date IS NOT NULL
)
SELECT cohort_month, installation_type,
  COUNT(*) AS total_applications,
  CAST(SUM(CASE WHEN status = 'approved' THEN 1 ELSE 0 END) AS INTEGER)
    AS approved_applications,
  ROUND(1.0D * SUM(CASE WHEN status = 'approved' THEN 1 ELSE 0 END)
    / NULLIF(COUNT(*), 0) * 10000, 0) / 10000 AS approval_rate,
  ROUND(SUM(CASE WHEN status = 'approved' THEN loan_amount_eur ELSE 0 END), 2)
    AS total_approved_loan_volume,
  ROUND(AVG(CASE WHEN status = 'approved' THEN loan_amount_eur END) * 100, 0)
    / 100 AS avg_approved_loan_size
FROM base
GROUP BY cohort_month, installation_type
ORDER BY cohort_month, installation_type
"""

Q2 = """
SELECT loan_id, application_id, installer_partner_id, installation_type,
       credit_score, current_balance_eur, loan_amount_eur, annual_income_eur,
       loan_to_income_ratio, application_date, disbursement_date,
       delinquency_bucket, days_past_due, months_since_disbursement, status
FROM loan_portfolio
WHERE not(flag_credit_score_out_of_range)
  AND not(flag_credit_score_missing)
  AND not(flag_loan_id_null)
  AND loan_to_income_ratio IS NOT NULL
  AND credit_score < 680
  AND loan_to_income_ratio > 0.35
ORDER BY disbursement_date DESC
"""

Q3 = """
WITH disbursed_loans AS (
  SELECT installer_partner_id, risk_category, days_past_due
  FROM loan_portfolio WHERE not(flag_loan_id_null)
)
SELECT installer_partner_id, COUNT(*) AS total_loans,
  SUM(CASE WHEN days_past_due > 30 THEN 1 ELSE 0 END) AS delinquent_loans,
  ROUND(1.0D * SUM(CASE WHEN days_past_due > 30 THEN 1 ELSE 0 END)
    / NULLIF(COUNT(*), 0) * 10000, 0) / 10000 AS delinquency_rate
FROM disbursed_loans
GROUP BY installer_partner_id
ORDER BY delinquency_rate DESC, total_loans DESC
"""

Q4 = """
WITH disbursed_loans AS (
  SELECT CAST(date_trunc('month', disbursement_date) AS DATE) AS cohort_month,
         days_past_due
  FROM loan_portfolio
  WHERE disbursement_date IS NOT NULL AND not(flag_loan_id_null)
)
SELECT cohort_month, COUNT(*) AS total_loans,
  ROUND(1.0D * SUM(CASE WHEN days_past_due >= 30 THEN 1 ELSE 0 END)
    / NULLIF(COUNT(*), 0) * 10000, 0) / 10000 AS dpd_30_rate,
  ROUND(1.0D * SUM(CASE WHEN days_past_due >= 60 THEN 1 ELSE 0 END)
    / NULLIF(COUNT(*), 0) * 10000, 0) / 10000 AS dpd_60_rate,
  ROUND(1.0D * SUM(CASE WHEN days_past_due >= 90 THEN 1 ELSE 0 END)
    / NULLIF(COUNT(*), 0) * 10000, 0) / 10000 AS dpd_90_rate
FROM disbursed_loans
GROUP BY cohort_month
ORDER BY cohort_month DESC
"""

Q5 = """
WITH monthly_volume AS (
  SELECT CAST(date_trunc('month', application_date) AS DATE) AS cohort_month,
         installation_type,
         ROUND(SUM(CASE WHEN LOWER(status) = 'approved'
                        THEN loan_amount_eur ELSE 0 END), 2)
           AS approved_loan_volume
  FROM loan_portfolio
  WHERE application_date IS NOT NULL AND not(flag_installation_type_invalid)
  GROUP BY cohort_month, installation_type
)
SELECT cohort_month, installation_type, approved_loan_volume,
  ROUND(approved_loan_volume / NULLIF(
    SUM(approved_loan_volume) OVER (PARTITION BY cohort_month), 0) * 10000, 0)
    / 10000 AS monthly_volume_share
FROM monthly_volume
ORDER BY cohort_month, installation_type
"""

SQL_QUERIES = {"q0": Q0, "q1": Q1, "q2": Q2, "q3": Q3, "q4": Q4, "q5": Q5}


def run_sql_query(
    spark: SparkSession, qid: str, portfolio: DataFrame, report: DataFrame
) -> DataFrame:
    """Register the two outputs as views and run the SQL text."""
    portfolio.createOrReplaceTempView("loan_portfolio")
    report.createOrReplaceTempView("data_quality_report")
    return spark.sql(SQL_QUERIES[qid])
