"""The loan-input generator keeps FIXTURES.md's constraints and anchors.

Run from the repository root: ``python3 -m pytest perfbench/test_loangen.py``.
"""

from __future__ import annotations

import csv
import os

import duckdb
import pytest

import loangen

ANCHORS = {
    "app_application_id_duplicate": 2,
    "app_loan_amount_non_positive": 1,
    "app_credit_score_missing": 8,
    "app_credit_score_out_of_range": 2,
    "app_postal_code_invalid": 3,
    "app_installation_type_invalid": 1,
    "app_system_size_invalid": 3,
    "app_system_size_present_for_heat_pump": 11,
    "quarantined_applications": 1,
}


@pytest.fixture(scope="module")
def one_x(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("loan1x"))
    loangen.generate(out, scale=1, seed=5)
    return out


def _lines(path: str) -> list[list[str]]:
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.reader(f))[1:]


def test_one_x_report_hits_anchors_on_spark(one_x):
    from duckdb_data_eng_proj_spark.etl import run_pipeline
    from duckdb_data_eng_proj_spark.session import get_spark

    spark = get_spark(cpus=min(4, len(os.sched_getaffinity(0))))
    p = run_pipeline(
        spark,
        f"{one_x}/data/applications_expanded.csv",
        f"{one_x}/data/lms_updates_expanded.csv",
    )
    report = p.data_quality_report.first().asDict()
    assert {k: report[k] for k in ANCHORS} == ANCHORS
    assert report["applications_processed"] == 199
    assert report["lms_processed"] == loangen.LMS_PER_BLOCK


def test_one_x_report_hits_anchors_on_oracle(one_x):
    from duckdb_data_eng_proj_spark.etl.oracle_sql import _oracles

    cur = duckdb.connect().execute(_oracles(one_x)["etl_quality_report"])
    report = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    assert {k: report[k] for k in ANCHORS} == ANCHORS


def test_generation_constraints(one_x):
    apps = _lines(f"{one_x}/data/applications_expanded.csv")
    lms = _lines(f"{one_x}/data/lms_updates_expanded.csv")
    assert len(apps) == loangen.APPS_PER_BLOCK and len(lms) == loangen.LMS_PER_BLOCK
    # 3: exactly one over-wide row, exactly one field over
    widths = [len(r) for r in apps]
    assert widths.count(13) == 1 and set(widths) == {12, 13}
    # 1: each dirty email carries exactly one whitespace run
    dirty = [r[1] for r in apps if any(c.isspace() for c in r[1])]
    assert len(dirty) == 2
    for e in dirty:
        runs = [i for i in range(len(e)) if e[i].isspace() and (i == 0 or not e[i - 1].isspace())]
        assert len(runs) == 1, e
    # 2: literal "NULL" strings in numeric and date columns
    assert any(r[4] == "NULL" for r in apps) and any(r[8] == "NULL" for r in apps)
    assert any(r[2] == "NULL" for r in lms)
    # 6: at least one NULL application_id
    assert sum(r[0] == "" for r in apps) == 1


def test_same_seed_same_bytes(tmp_path):
    a, b = loangen.generate(str(tmp_path / "a"), 3, 11), loangen.generate(str(tmp_path / "b"), 3, 11)
    for name in a:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read()


def test_scaled_counts_are_linear_with_one_off_rows(tmp_path):
    from duckdb_data_eng_proj_spark.etl.oracle_sql import _oracles

    out = str(tmp_path / "x4")
    loangen.generate(out, scale=4, seed=2)
    cur = duckdb.connect().execute(_oracles(out)["etl_quality_report"])
    report = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    assert report["quarantined_applications"] == 1
    assert report["app_application_id_null"] == 1
    for k in ANCHORS.keys() - {"quarantined_applications"}:
        assert report[k] == 4 * ANCHORS[k], k
