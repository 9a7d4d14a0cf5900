"""Round-trip budgets for plan building across the py4j bridge.

Every PySpark ``functions``/Column call crosses from Python to the JVM.
At the small inputs the benchmark runs, plan building is the largest
part of a query's cost and those round trips are a fixed share of it,
so their count is pinned here. A round trip is one command sent on the py4j connection, except
the memory commands (``m…``: release a JVM object once Python's garbage
collector drops its handle), whose timing moves with the collector.
"""

from __future__ import annotations

import os

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.etl import run_pipeline
from duckdb_data_eng_proj_spark.queries import REGISTRY
from perfbench.workloads import AS_OF, LSH_DEDUP_OPS, RUN_TS
from tests.conftest import SF_DIR

# About 1.2x what the second builds cost with origin capture off and one
# literal per hyperplane: 7,711 for the seven ids, 2,274 for
# run_pipeline (with capture on and 64 literals per plane: 20,461 and
# 7,814).
LSH_DEDUP_BUDGET = 9_250
RUN_PIPELINE_BUDGET = 2_750


@pytest.fixture
def round_trips(monkeypatch):
    """``round_trips(start=0)``: commands sent since the fixture began,
    less ``start``."""
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m"):
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def since(start: int = 0) -> int:
        return sent[0] - start

    return since


def test_session_has_origin_capture_off(spark):
    """``get_spark`` turns off the per-call JVM origin capture."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_column_call_costs_three_round_trips(spark, round_trips):
    F.col("x")
    used = round_trips()
    assert used <= 3, f"{used} round trips"


def test_lsh_dedup_builds_within_budget(spark, round_trips):
    """The second build of each benchmarked operator: the first pays
    one-time costs (table schemas, cached plans)."""
    total = 0
    for qid in LSH_DEDUP_OPS:
        REGISTRY[qid].fn(spark, SF_DIR)
        start = round_trips()
        REGISTRY[qid].fn(spark, SF_DIR)
        total += round_trips(start)
    assert total <= LSH_DEDUP_BUDGET, f"{total} round trips"


def test_run_pipeline_builds_within_budget(spark, round_trips):
    data = os.path.join(os.environ["SPARK_GRAFT_REFERENCE_DIR"], "data")
    apps = os.path.join(data, "applications_expanded.csv")
    lms = os.path.join(data, "lms_updates_expanded.csv")
    results = [run_pipeline(spark, apps, lms, run_ts=RUN_TS, as_of_date=AS_OF)]
    start = round_trips()
    results.append(run_pipeline(spark, apps, lms, run_ts=RUN_TS, as_of_date=AS_OF))
    used = round_trips(start)
    for result in results:
        for df in (result.cleaned_applications, result.lms_cleaned,
                   result.loan_portfolio, result.data_quality_report):
            df.unpersist()
    assert used <= RUN_PIPELINE_BUDGET, f"{used} round trips"
