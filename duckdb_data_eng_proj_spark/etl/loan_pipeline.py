"""Loan-portfolio ETL: the reference pipeline as a PySpark library.

Reference behavior being reproduced (cited per stage):
- quarantine split on the overflow column (pipeline.py:82-113)
- duplicate detection via group/having (pipeline.py:116-124, 211-229)
- typed+flagged cleaning CTE chains (pipeline.py:127-205, 239-330)
- left fan-out join into loan_portfolio (pipeline.py:334-384)
- single-row data_quality_report (pipeline.py:386-492)

Architecture is NOT a translation: each stage is a pure
DataFrame-in/DataFrame-out function, composed lazily so Catalyst sees
the whole plan (predicate pushdown through every stage; the tiny dupe
tables broadcast into their flag joins). The four stages the reference
writes as tables and later stages read — the two cleaned tables, the
portfolio and the quality report — are cached, so each is computed
once per run (the export and q0–q5 read the cached portfolio and
report) without forcing extra I/O.

Scale notes (100 TB design point):
- Dupe tables come from a group/having on the key — the output is
  tiny by construction (only keys with cnt>1), so the flag joins are
  broadcast-hash, never shuffles of the big side.
- The apps⟕LMS fan-out join shuffles on application_id; AQE skew
  handling covers hot keys (one customer with thousands of updates).
- The quality report is one global aggregate per input table: partial
  (map-side) aggregation reduces each partition to one row of counters
  before a single 1-row exchange; the problematic-id set is the only
  collect-like structure and is bounded by the number of *bad* rows.

Determinism (SURVEY.md G5): ``run_ts`` / ``as_of_date`` inject the
wall-clock so goldens can be reproduced; None = live clock
(Europe/Berlin wall time, like the reference).

Known deliberate deltas (documented, SURVEY.md G4/§2.10): Spark's
``regexp_replace`` removes ALL whitespace runs in emails where DuckDB
removes only the first — identical on every value in the reference
data; the dead ``approved_applications`` table is reproduced for
surface parity but unused, as in the reference.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.functions import (
    month_boundary_diff,
    null_or_blank,
    processed_at,
    try_int_duckdb,
)
from duckdb_data_eng_proj_spark.io.sources import read_csv_all_varchar

APP_COLUMNS = [
    "application_id",
    "customer_email",
    "installer_partner_id",
    "installation_type",
    "system_size_kwp",
    "loan_amount_eur",
    "loan_term_months",
    "application_date",
    "credit_score",
    "annual_income_eur",
    "postal_code",
    "status",
]

LMS_COLUMNS = [
    "loan_id",
    "application_id",
    "disbursement_date",
    "current_balance_eur",
    "days_past_due",
    "payment_status",
    "last_payment_date",
    "next_payment_due",
]

INSTALLATION_TYPES = ("solar_pv", "solar_battery", "heat_pump")

APP_FLAG_NAMES = [
    "application_id_null",
    "application_id_duplicate",
    "loan_amount_non_positive",
    "credit_score_missing",
    "credit_score_out_of_range",
    "postal_code_invalid",
    "installation_type_invalid",
    "system_size_invalid",
    "system_size_present_for_heat_pump",
]

LMS_FLAG_NAMES = [
    "loan_id_null",
    "application_id_null",
    "application_id_invalid_format",
    "loan_id_duplicate",
    "application_id_duplicate",
    "current_balance_negative",
    "days_past_due_negative",
    "last_payment_before_disbursement",
    "next_due_before_disbursement",
    "last_payment_after_next_due",
]


# clock / blank-test / int-parse shims live in functions/ (shared
# with the streaming path); aliased for brevity here.
_processed_at = processed_at
_null_or_blank = null_or_blank
_try_int = try_int_duckdb


def _json_flags(names: list[str]) -> F.Column:
    """to_json(map(...)) of the flag columns — identical text to the
    reference's DuckDB output (key order preserved, lowercase bools)."""
    pairs: list[F.Column] = []
    for n in names:
        pairs.append(F.lit(n))
        pairs.append(F.col(f"flag_{n}"))
    return F.to_json(F.create_map(*pairs))


def in_subquery_flag(df: DataFrame, col: str, keys: DataFrame, key_col: str) -> DataFrame:
    """``<col> IN (SELECT key FROM keys)`` with SQL three-valued logic,
    as a broadcast join (returns df + boolean column ``__in_flag``).

    Null-awareness (SURVEY.md G2): NULL lhs → NULL; lhs not found but
    the key set contains NULL → NULL; empty key set → FALSE. The key
    set is a group/having output — tiny by construction — so both the
    marker join and the 1-row stats crossJoin broadcast.
    """
    marker = (
        keys.select(F.col(key_col).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    stats = keys.agg(
        F.count("*").alias("__s_cnt"),
        F.coalesce(
            F.max(F.when(F.col(key_col).isNull(), True).otherwise(False)), F.lit(False)
        ).alias("__s_has_null"),
    )
    out = (
        df.join(F.broadcast(marker), df[col] == marker["__k"], "left")
        .drop("__k")
        .crossJoin(F.broadcast(stats))
    )
    flag = (
        F.when(F.col("__s_cnt") == 0, False)
        .when(F.col("__hit").isNotNull(), True)
        .when(F.col(col).isNull() | F.col("__s_has_null"), F.lit(None).cast("boolean"))
        .otherwise(False)
    )
    return out.withColumn("__in_flag", flag).drop("__hit", "__s_cnt", "__s_has_null")


# ---------------------------------------------------------------------------
# Stage 1 — load + quarantine split (pipeline.py:39-113)
# ---------------------------------------------------------------------------


def load_raw_applications(spark: SparkSession, path: str) -> DataFrame:
    return read_csv_all_varchar(spark, path, APP_COLUMNS, extra="column12")


def load_raw_lms(spark: SparkSession, path: str) -> DataFrame:
    return read_csv_all_varchar(spark, path, LMS_COLUMNS, extra="column8")


def quarantine_split(raw_apps: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad): rows whose overflow column is non-blank are
    quarantined rather than repaired (pipeline.py:85-113)."""
    overflow = F.col("column12")
    bad = raw_apps.filter(overflow.isNotNull() & (F.trim(overflow) != ""))
    good = raw_apps.filter(_null_or_blank(overflow)).select(*APP_COLUMNS)
    return good, bad


def dupe_keys(df: DataFrame, key: str, exclude_blank: bool = False) -> DataFrame:
    """Keys appearing more than once (pipeline.py:116-124, 211-229).
    ``exclude_blank`` mirrors the LMS variant's WHERE guard."""
    src = df
    if exclude_blank:
        src = src.filter(~_null_or_blank(F.col(key)))
    return src.groupBy(key).agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)


# ---------------------------------------------------------------------------
# Stage 2 — cleaned applications (pipeline.py:127-205)
# ---------------------------------------------------------------------------


def clean_applications(
    good: DataFrame, app_dupes: DataFrame, run_ts: dt.datetime | None = None
) -> DataFrame:
    typed = good.select(
        F.col("application_id"),
        F.regexp_replace(F.lower(F.col("customer_email")), r"\s+", "").alias(
            "customer_email"
        ),
        F.col("installer_partner_id"),
        F.col("installation_type"),
        F.col("system_size_kwp").try_cast("double").alias("system_size_kwp"),
        F.col("loan_amount_eur").try_cast("double").alias("loan_amount_eur"),
        _try_int(F.col("loan_term_months")).alias("loan_term_months"),
        F.col("application_date").try_cast("date").alias("application_date"),
        _try_int(F.col("credit_score")).alias("credit_score"),
        F.col("annual_income_eur").try_cast("double").alias("annual_income_eur"),
        F.col("postal_code"),
        F.lower(F.col("status")).alias("status"),
    )
    with_dup = in_subquery_flag(typed, "application_id", app_dupes, "application_id")

    score = F.col("credit_score")
    size = F.col("system_size_kwp")
    base = with_dup.select(
        "*",
        _null_or_blank(F.col("application_id")).alias("flag_application_id_null"),
        F.col("__in_flag").alias("flag_application_id_duplicate"),
        (F.col("loan_amount_eur").isNull() | (F.col("loan_amount_eur") <= 0)).alias(
            "flag_loan_amount_non_positive"
        ),
        score.isNull().alias("flag_credit_score_missing"),
        (score.isNotNull() & ((score < 300) | (score > 850))).alias(
            "flag_credit_score_out_of_range"
        ),
        (
            F.col("postal_code").isNull()
            | ~F.col("postal_code").cast("string").rlike(r"^[0-9]{5}$")
        ).alias("flag_postal_code_invalid"),
        (
            F.col("installation_type").isNull()
            | ~F.col("installation_type").isin(*INSTALLATION_TYPES)
        ).alias("flag_installation_type_invalid"),
        (
            F.col("installation_type").isin("solar_pv", "solar_battery")
            & (size.isNull() | (size <= 0))
        ).alias("flag_system_size_invalid"),
        ((F.col("installation_type") == "heat_pump") & size.isNotNull()).alias(
            "flag_system_size_present_for_heat_pump"
        ),
    ).drop("__in_flag")

    risk = (
        F.when(score.isNull(), "Unknown")
        .when((score < 300) | (score > 850), "Invalid")
        .when(score >= 750, "Excellent")
        .when(score.between(700, 749), "Good")
        .when(score.between(650, 699), "Fair")
        .otherwise("Poor")
    )
    income = F.col("annual_income_eur")
    lti = F.when(
        income.isNull() | (income <= 0) | F.col("flag_loan_amount_non_positive"),
        F.lit(None).cast("double"),
    ).otherwise(F.col("loan_amount_eur") / income)

    return base.select(
        "*",
        risk.alias("risk_category"),
        lti.alias("loan_to_income_ratio"),
        _json_flags(APP_FLAG_NAMES).alias("data_quality_flags"),
        _processed_at(run_ts).alias("processed_at"),
    )


# ---------------------------------------------------------------------------
# Stage 3 — cleaned LMS (pipeline.py:207-330)
# ---------------------------------------------------------------------------


def delinquency_bucket(dpd: F.Column) -> F.Column:
    """Single definition (the reference duplicates it verbatim at
    pipeline.py:293-299 and 368-374 — SURVEY.md §2.10.8)."""
    return (
        F.when(dpd.isNull(), F.lit(None).cast("string"))
        .when(dpd == 0, "Current")
        .when(dpd.between(1, 30), "Late")
        .when(dpd.between(31, 90), "Delinquent")
        .otherwise("Default")
    )


def clean_lms(
    raw_lms: DataFrame,
    loan_id_dupes: DataFrame,
    app_id_dupes: DataFrame,
    run_ts: dt.datetime | None = None,
) -> DataFrame:
    typed = raw_lms.select(
        F.col("loan_id"),
        F.col("application_id"),
        F.col("disbursement_date").try_cast("date").alias("disbursement_date"),
        F.col("current_balance_eur").try_cast("double").alias("current_balance_eur"),
        _try_int(F.col("days_past_due")).alias("days_past_due"),
        F.lower(F.col("payment_status")).alias("payment_status"),
        F.col("last_payment_date").try_cast("date").alias("last_payment_date"),
        F.col("next_payment_due").try_cast("date").alias("next_payment_due"),
    )
    step = in_subquery_flag(typed, "loan_id", loan_id_dupes, "loan_id").withColumnRenamed(
        "__in_flag", "__loan_dup"
    )
    step = in_subquery_flag(step, "application_id", app_id_dupes, "application_id")

    lp, nd, disb = (
        F.col("last_payment_date"),
        F.col("next_payment_due"),
        F.col("disbursement_date"),
    )
    base = step.select(
        "*",
        _null_or_blank(F.col("loan_id")).alias("flag_loan_id_null"),
        _null_or_blank(F.col("application_id")).alias("flag_application_id_null"),
        (
            F.col("application_id").isNotNull()
            & ~F.col("application_id").rlike(r"^APP[0-9]+$")
        ).alias("flag_application_id_invalid_format"),
        F.col("__loan_dup").alias("flag_loan_id_duplicate"),
        F.col("__in_flag").alias("flag_application_id_duplicate"),
        (
            F.col("current_balance_eur").isNotNull() & (F.col("current_balance_eur") < 0)
        ).alias("flag_current_balance_negative"),
        (F.col("days_past_due").isNotNull() & (F.col("days_past_due") < 0)).alias(
            "flag_days_past_due_negative"
        ),
        (lp.isNotNull() & disb.isNotNull() & (lp < disb)).alias(
            "flag_last_payment_before_disbursement"
        ),
        (nd.isNotNull() & disb.isNotNull() & (nd < disb)).alias(
            "flag_next_due_before_disbursement"
        ),
        (lp.isNotNull() & nd.isNotNull() & (lp > nd)).alias(
            "flag_last_payment_after_next_due"
        ),
    ).drop("__loan_dup", "__in_flag")

    return base.select(
        "*",
        delinquency_bucket(F.col("days_past_due")).alias("delinquency_bucket"),
        _json_flags(LMS_FLAG_NAMES).alias("data_quality_flags"),
        _processed_at(run_ts).alias("processed_at"),
    )


# ---------------------------------------------------------------------------
# Stage 4 — loan portfolio join (pipeline.py:334-384)
# ---------------------------------------------------------------------------


def build_loan_portfolio(
    cleaned_apps: DataFrame,
    lms_cleaned: DataFrame,
    as_of_date: dt.date | None = None,
) -> DataFrame:
    """apps ⟕ LMS on application_id; 1:N fan-out intended
    (199 apps → 244 rows on reference data).

    ``months_since_disbursement`` counts month-boundary crossings to
    ``as_of_date`` (default: current date), matching DuckDB's
    date_diff('month', ...) — NOT fractional months_between.
    """
    a = cleaned_apps.alias("a")
    l = lms_cleaned.alias("l")  # noqa: E741

    asof = F.lit(as_of_date) if as_of_date is not None else F.current_date()
    disb = F.col("l.disbursement_date")
    months_since = F.when(disb.isNull(), F.lit(None).cast("int")).otherwise(
        month_boundary_diff(disb, asof).cast("int")
    )

    lms_cols = [
        F.col("l.loan_id").alias("loan_id"),
        F.col("l.application_id").alias("lms_application_id"),
        F.col("l.disbursement_date").alias("disbursement_date"),
        F.col("l.current_balance_eur").alias("current_balance_eur"),
        F.col("l.days_past_due").alias("days_past_due"),
        F.col("l.payment_status").alias("payment_status"),
        F.col("l.last_payment_date").alias("last_payment_date"),
        F.col("l.next_payment_due").alias("next_payment_due"),
        F.col("l.flag_loan_id_null").alias("flag_loan_id_null"),
        F.col("l.flag_application_id_null").alias("flag_application_id_null_lms"),
        F.col("l.flag_application_id_invalid_format").alias(
            "flag_application_id_invalid_format"
        ),
        F.col("l.flag_current_balance_negative").alias("flag_current_balance_negative"),
        F.col("l.flag_days_past_due_negative").alias("flag_days_past_due_negative"),
        F.col("l.flag_last_payment_before_disbursement").alias(
            "flag_last_payment_before_disbursement"
        ),
        F.col("l.flag_next_due_before_disbursement").alias(
            "flag_next_due_before_disbursement"
        ),
        F.col("l.flag_last_payment_after_next_due").alias(
            "flag_last_payment_after_next_due"
        ),
        F.col("l.data_quality_flags").alias("lms_data_quality_flags"),
        F.col("l.processed_at").alias("lms_processed_at"),
    ]

    return (
        a.join(l, F.col("a.application_id") == F.col("l.application_id"), "left")
        .select(
            *[F.col(f"a.{c}").alias(c) for c in cleaned_apps.columns],
            *lms_cols,
            delinquency_bucket(F.col("l.days_past_due")).alias("delinquency_bucket"),
            months_since.alias("months_since_disbursement"),
        )
    )


# ---------------------------------------------------------------------------
# Stage 5 — data quality report (pipeline.py:386-492)
# ---------------------------------------------------------------------------


def _flag_counts(df: DataFrame, names: list[str], prefix: str, count: str) -> DataFrame:
    """One global aggregate over a cleaned table: its row count, one sum
    per flag, the set of ids flagged by any check and whether a flagged
    row has a NULL id (``__<prefix>_ids`` / ``__<prefix>_null``)."""
    flagged = F.lit(False)
    for n in names:
        flagged = flagged | F.coalesce(F.col(f"flag_{n}"), F.lit(False))
    app_id = F.col("application_id")
    return df.agg(
        F.count("*").alias(count),
        *[F.sum(F.col(f"flag_{n}").cast("int")).alias(f"{prefix}_{n}") for n in names],
        F.collect_set(F.when(flagged, app_id)).alias(f"__{prefix}_ids"),
        F.max(flagged & app_id.isNull()).alias(f"__{prefix}_null"),
    )


def build_quality_report(
    cleaned_apps: DataFrame,
    lms_cleaned: DataFrame,
    quarantined: DataFrame,
    run_ts: dt.datetime | None = None,
) -> DataFrame:
    """One global aggregate per input table, cross-joined as 1-row
    frames. The id list is DuckDB's ``array_agg`` over the sorted union
    of flagged ids: NULL kept once at the end (collect_set drops it, so
    it is re-appended from the NULL bits), and the list itself NULL
    when no row is flagged."""
    report = (
        _flag_counts(cleaned_apps, APP_FLAG_NAMES, "app", "applications_processed")
        .crossJoin(_flag_counts(lms_cleaned, LMS_FLAG_NAMES, "lms", "lms_processed"))
        .crossJoin(quarantined.agg(F.count("*").alias("quarantined_applications")))
    )
    ids = F.array_sort(F.array_union(F.col("__app_ids"), F.col("__lms_ids")))
    has_null = F.col("__app_null") | F.col("__lms_null")
    problem_ids = (
        F.when(has_null, F.concat(ids, F.array(F.lit(None).cast("string"))))
        .when(F.size(ids) > 0, ids)
        .alias("problematic_application_ids")
    )
    return report.select(
        "applications_processed",
        "quarantined_applications",
        "lms_processed",
        *[f"app_{n}" for n in APP_FLAG_NAMES],
        *[f"lms_{n}" for n in LMS_FLAG_NAMES],
        problem_ids,
        _processed_at(run_ts).alias("processed_at"),
    )


# ---------------------------------------------------------------------------
# End-to-end driver
# ---------------------------------------------------------------------------


@dataclass
class PipelineResult:
    raw_applications: DataFrame
    raw_lms: DataFrame
    raw_applications_bad: DataFrame
    raw_applications_good: DataFrame
    app_dupes: DataFrame
    lms_loan_id_dupes: DataFrame
    lms_app_id_dupes: DataFrame
    approved_applications: DataFrame  # built-but-unused, as in reference
    cleaned_applications: DataFrame
    lms_cleaned: DataFrame
    loan_portfolio: DataFrame
    data_quality_report: DataFrame


def run_pipeline(
    spark: SparkSession,
    apps_csv: str,
    lms_csv: str,
    run_ts: dt.datetime | None = None,
    as_of_date: dt.date | None = None,
    cache: bool = True,
) -> PipelineResult:
    """Compose the five stages lazily. With ``cache`` (the default),
    the four stages that later stages, the export and q0–q5 read —
    cleaned_applications, lms_cleaned, loan_portfolio and
    data_quality_report — are cached, the reference's materialized
    tables: each is computed once per run instead of once per reader."""
    raw_apps = load_raw_applications(spark, apps_csv)
    raw_lms = load_raw_lms(spark, lms_csv)

    good, bad = quarantine_split(raw_apps)
    app_dupes = dupe_keys(good, "application_id")
    cleaned_apps = clean_applications(good, app_dupes, run_ts)

    loan_dupes = dupe_keys(raw_lms, "loan_id", exclude_blank=True)
    lms_app_dupes = dupe_keys(raw_lms, "application_id", exclude_blank=True)
    lms_cleaned = clean_lms(raw_lms, loan_dupes, lms_app_dupes, run_ts)

    if cache:
        cleaned_apps = cleaned_apps.cache()
        lms_cleaned = lms_cleaned.cache()

    approved = cleaned_apps.filter(F.col("status") == "approved").select(
        "application_id"
    )
    portfolio = build_loan_portfolio(cleaned_apps, lms_cleaned, as_of_date)
    report = build_quality_report(cleaned_apps, lms_cleaned, bad, run_ts)
    if cache:
        portfolio = portfolio.cache()
        report = report.cache()

    return PipelineResult(
        raw_applications=raw_apps,
        raw_lms=raw_lms,
        raw_applications_bad=bad,
        raw_applications_good=good,
        app_dupes=app_dupes,
        lms_loan_id_dupes=loan_dupes,
        lms_app_id_dupes=lms_app_dupes,
        approved_applications=approved,
        cleaned_applications=cleaned_apps,
        lms_cleaned=lms_cleaned,
        loan_portfolio=portfolio,
        data_quality_report=report,
    )


# ---------------------------------------------------------------------------
# Opt-in STRICT spec checks (SURVEY.md §2.10 items 1-4)
# ---------------------------------------------------------------------------

STRICT_FLAG_NAMES = [
    "application_not_approved",
    "balance_exceeds_original",
    "disbursement_before_application",
]


def strict_spec_checks(
    lms_cleaned: DataFrame,
    cleaned_apps: DataFrame,
    as_of_date: dt.date | None = None,
) -> DataFrame:
    """The validations the SPEC requires but the reference never
    implemented (take_home_exercise.md:57-59,91 — adjudicated in
    SURVEY §2.10 as 'may add behind flags'). Strictly ADDITIVE: the
    golden-parity surfaces never call this, so byte parity with the
    reference output is untouched; opting in appends columns.

    - flag_application_not_approved: the LMS row's application_id has
      no cleaned application with status 'approved' (spec :57 — the
      reference builds approved_applications then never uses it).
    - flag_balance_exceeds_original: current_balance_eur > the
      application's loan_amount_eur (spec :58).
    - flag_disbursement_before_application: disbursement_date <
      application_date (spec :59).
    - estimated_remaining_balance (spec :91, absent from the
      reference's portfolio): straight-line amortization
      loan_amount × (1 − months_elapsed/term), clamped to [0, amount];
      NULL when amount/term/disbursement is missing or term ≤ 0.

    Scale shape: one broadcast join against the application dimension;
    everything else is narrow column math.
    """
    # one row per application_id (duplicate applications exist and are
    # kept-but-flagged upstream): approved if ANY duplicate is
    # approved; reference attributes via the minimum — deterministic
    # and documented, since the spec is silent on duplicates
    apps = cleaned_apps.groupBy("application_id").agg(
        F.max(F.col("status") == "approved").alias("_app_approved"),
        F.min("loan_amount_eur").alias("_orig_amount"),
        F.min("loan_term_months").alias("_term_months"),
        F.min("application_date").alias("_app_date"),
    )
    j = lms_cleaned.join(F.broadcast(apps), "application_id", "left")

    bal, orig = F.col("current_balance_eur"), F.col("_orig_amount")
    term, disb = F.col("_term_months"), F.col("disbursement_date")
    asof = F.lit(as_of_date) if as_of_date is not None else F.current_date()
    elapsed = month_boundary_diff(disb, asof)
    est = F.when(
        orig.isNotNull() & term.isNotNull() & (term > 0) & disb.isNotNull(),
        F.greatest(
            F.lit(0.0),
            F.least(orig, orig * (1 - elapsed.cast("double") / term)),
        ),
    )
    return j.select(
        "*",
        (~F.coalesce(F.col("_app_approved"), F.lit(False))).alias(
            "flag_application_not_approved"
        ),
        (bal.isNotNull() & orig.isNotNull() & (bal > orig)).alias(
            "flag_balance_exceeds_original"
        ),
        (
            disb.isNotNull()
            & F.col("_app_date").isNotNull()
            & (disb < F.col("_app_date"))
        ).alias("flag_disbursement_before_application"),
        est.alias("estimated_remaining_balance"),
    ).drop("_orig_amount", "_term_months", "_app_date", "_app_approved")
