"""The Spark bench harnesses' timing protocol (no session needed).

bench.py, scripts/iso_bench.py and scripts/stress_scale.py share one
session helper (``bench_session``) and one timer (``best_of``).
"""

from __future__ import annotations

import importlib.util
import os
import time
from types import SimpleNamespace

import pytest

import bench
from duckdb_data_eng_proj_spark.queries import REGISTRY
from perfbench.workloads import Op

_SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def _script(name: str):
    path = os.path.join(_SCRIPTS, f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_best_of_counts_build_time():
    op = Op("fake", build=lambda: time.sleep(0.05) or [], execute=lambda frames: None)
    assert bench.best_of(op, 2) >= 0.05


def test_bench_queries_are_unique_registered_ids():
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    assert set(bench.BENCH_QUERIES) <= set(REGISTRY)


def test_stress_queries_are_registered_ids():
    assert set(_script("stress_scale").QUERIES) <= set(REGISTRY)


@pytest.mark.parametrize("profile,latency", [(None, True), ("default", False), ("latency", True)])
def test_bench_session_profile_and_input_bytes(monkeypatch, tmp_path, profile, latency):
    (tmp_path / "a.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "b.parquet").write_bytes(b"x" * 234)
    if profile is None:
        monkeypatch.delenv("SPARK_GRAFT_PROFILE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_PROFILE", profile)
    seen = {}

    def fake_get_spark(**kwargs):
        seen.update(kwargs)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(bench, "get_spark", fake_get_spark)
    bench.bench_session("t", str(tmp_path))
    assert seen == {"app_name": "t", "input_bytes": 1234, "latency_profile": latency}
