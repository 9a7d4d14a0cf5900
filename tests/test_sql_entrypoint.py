"""SQL entry-point equivalence: spark.sql texts ≡ DataFrame forms.

A reference user's workflow is SQL over the pipeline outputs
(queries.sql); these tests prove the Spark SQL dialect versions return
exactly the DataFrame API results, so either surface is valid.
"""

from __future__ import annotations

import os

import pytest

from duckdb_data_eng_proj_spark.etl.analytics import ANALYTICS
from duckdb_data_eng_proj_spark.etl.sql_queries import SQL_QUERIES, run_sql_query
from tests.test_etl_golden import GOLD, result  # noqa: F401  (fixture)
from tests.test_quality_report_laws import pipeline_on, tie_inputs


def _assert_sql_equals_dataframe(result, qid):
    sql_df = run_sql_query(
        result.loan_portfolio.sparkSession,
        qid,
        result.loan_portfolio,
        result.data_quality_report,
    )
    fn = ANALYTICS[qid]
    if qid == "q0":
        df = fn(result.loan_portfolio, result.data_quality_report)
    else:
        df = fn(result.loan_portfolio)
    assert sql_df.columns == df.columns
    s_rows = sorted(map(str, sql_df.collect()))
    d_rows = sorted(map(str, df.collect()))
    assert s_rows == d_rows


@pytest.mark.skipif(not os.path.isdir(GOLD), reason="reference data not available")
@pytest.mark.parametrize("qid", sorted(SQL_QUERIES))
def test_sql_equals_dataframe(result, qid):  # noqa: F811
    _assert_sql_equals_dataframe(result, qid)


@pytest.fixture(scope="module")
def tie_result(spark, tmp_path_factory):
    return pipeline_on(spark, tmp_path_factory.mktemp("ties"), *tie_inputs())


@pytest.mark.parametrize("qid", sorted(SQL_QUERIES))
def test_sql_equals_dataframe_on_round_ties(tie_result, qid):
    """The SQL texts' ROUND(ratio * 10^d, 0) / 10^d spelling equals
    round_duckdb on a 57/800 tie, where plain ROUND would not."""
    _assert_sql_equals_dataframe(tie_result, qid)
