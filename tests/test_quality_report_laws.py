"""Quality report and analytics vs DuckDB on tiny inline dirty inputs.

Each case writes an applications + LMS CSV pair in the reference's
layout, runs ``run_pipeline`` and compares against the
``etl.oracle_sql`` replay of the same CSVs. The report cases pin the
DuckDB ``array_agg`` rules of ``problematic_application_ids``: a
flagged NULL id appears once at the end whichever table flags it, an
id flagged in both tables appears once, and no flagged row at all
gives a NULL list. The tie case pins the analytics ratios' rounding
on an inexact half-way tie (57/800 at 4 decimals).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb
import pytest

from duckdb_data_eng_proj_spark.etl import APP_COLUMNS, LMS_COLUMNS, run_pipeline
from duckdb_data_eng_proj_spark.etl.analytics import ANALYTICS
from duckdb_data_eng_proj_spark.etl.oracle_sql import _oracles
from tests.test_oracle_parity import _normalize_rows

RUN_TS = dt.datetime(2026, 1, 23, 12, 30, 57)  # oracle_sql's clock
AS_OF = dt.date(2026, 1, 23)

# An over-wide row: the oracle's quarantine split reads the 13th column,
# which DuckDB only names when some row has one.
_OVERWIDE = "APP999,q@x.de,P1,solar_pv,5.0,10000,120,2024-01-10,700,50000,10115,approved,extra"


def app_row(app_id: str, **over: str) -> str:
    """A clean application line; keyword arguments override fields."""
    row = {
        "application_id": app_id,
        "customer_email": f"{app_id.lower() or 'anon'}@x.de",
        "installer_partner_id": "P1",
        "installation_type": "solar_pv",
        "system_size_kwp": "5.0",
        "loan_amount_eur": "10000",
        "loan_term_months": "120",
        "application_date": "2024-01-15",
        "credit_score": "720",
        "annual_income_eur": "50000",
        "postal_code": "10115",
        "status": "approved",
    }
    row.update(over)
    return ",".join(row[c] for c in APP_COLUMNS)


def lms_row(loan_id: str, app_id: str, **over: str) -> str:
    """A clean LMS line; keyword arguments override fields."""
    row = {
        "loan_id": loan_id,
        "application_id": app_id,
        "disbursement_date": "2024-02-01",
        "current_balance_eur": "9000",
        "days_past_due": "0",
        "payment_status": "current",
        "last_payment_date": "2024-03-01",
        "next_payment_due": "2024-04-01",
    }
    row.update(over)
    return ",".join(row[c] for c in LMS_COLUMNS)


def write_loan_csvs(root: str, apps: list[str], lms: list[str]) -> tuple[str, str]:
    """Write ``<root>/data/{applications,lms_updates}_expanded.csv`` (the
    paths ``oracle_sql`` reads); returns (apps_csv, lms_csv)."""
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    paths = []
    for name, cols, rows in (
        ("applications_expanded", APP_COLUMNS, [*apps, _OVERWIDE]),
        ("lms_updates_expanded", LMS_COLUMNS, lms),
    ):
        path = os.path.join(root, "data", f"{name}.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join([",".join(cols), *rows]) + "\n")
        paths.append(path)
    return paths[0], paths[1]


def pipeline_on(spark, root, apps, lms):
    apps_csv, lms_csv = write_loan_csvs(str(root), apps, lms)
    return run_pipeline(spark, apps_csv, lms_csv, run_ts=RUN_TS, as_of_date=AS_OF)


_CLEAN_APPS = [app_row("APP001"), app_row("APP002")]
_CLEAN_LMS = [lms_row("L001", "APP001"), lms_row("L002", "APP002")]

REPORT_CASES = {
    "null_id_only_in_apps": (
        [*_CLEAN_APPS, app_row(""), app_row("APP003", credit_score="900")],
        _CLEAN_LMS,
        ["APP003", None],
    ),
    "null_id_only_in_lms": (
        _CLEAN_APPS,
        [*_CLEAN_LMS, lms_row("L003", ""), lms_row("L004", "APP002X")],
        ["APP002X", None],
    ),
    "id_and_null_flagged_in_both": (
        [*_CLEAN_APPS, app_row("APP003", postal_code="1011"), app_row("")],
        [*_CLEAN_LMS, lms_row("L003", "APP003", current_balance_eur="-5"),
         lms_row("L004", "")],
        ["APP003", None],
    ),
    "no_flagged_rows": (_CLEAN_APPS, _CLEAN_LMS, None),
}


@pytest.mark.parametrize("case", sorted(REPORT_CASES))
def test_quality_report_matches_duckdb(spark, tmp_path, case):
    apps, lms, want_ids = REPORT_CASES[case]
    report = pipeline_on(spark, tmp_path, apps, lms).data_quality_report
    (got,) = [r.asDict() for r in report.collect()]
    assert got["problematic_application_ids"] == want_ids

    with duckdb.connect() as con:
        cur = con.execute(_oracles(str(tmp_path))["etl_quality_report"])
        (row,) = cur.fetchall()
        want = dict(zip([d[0] for d in cur.description], row))
    ids = want["problematic_application_ids"]
    want["problematic_application_ids"] = None if ids is None else json.loads(ids)
    assert got == want


def tie_inputs(n: int = 800, k: int = 57) -> tuple[list[str], list[str]]:
    """n applications of one installer and cohort, each with one
    disbursed loan; k are approved and k loans are 45 days past due, so
    q1's approval rate, q3's delinquency rate and q4's dpd-30 rate are
    k/n. The default 57/800 = 0.07125 is a 4-decimal tie that is
    inexact in binary: F.round gives 0.0713, DuckDB 0.0712."""
    apps = [
        app_row(f"APP{i:04d}", status="approved" if i < k else "rejected")
        for i in range(n)
    ]
    lms = [
        lms_row(f"L{i:04d}", f"APP{i:04d}", days_past_due="45" if i < k else "0")
        for i in range(n)
    ]
    return apps, lms


def test_analytics_round_ties_like_duckdb(spark, tmp_path):
    result = pipeline_on(spark, tmp_path, *tie_inputs())
    oracles = _oracles(str(tmp_path))
    with duckdb.connect() as con:
        for q in ("q1", "q3", "q4", "q5"):
            df = ANALYTICS[q](result.loan_portfolio)
            cur = con.execute(oracles[f"etl_{q}"])
            want = _normalize_rows(cur.fetchall(), [d[0] for d in cur.description])
            got = _normalize_rows([tuple(r) for r in df.collect()], df.columns)
            assert got == want, q
