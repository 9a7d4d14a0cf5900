"""The default shuffle width of each session profile (no session needed)."""

from __future__ import annotations

import pytest

from duckdb_data_eng_proj_spark.session import shuffle_width


@pytest.mark.parametrize("cpus,width", [(2, 4), (4, 8), (8, 16), (32, 16)])
def test_latency_width_is_two_per_slot_capped_at_16(cpus, width):
    assert shuffle_width(cpus, True) == width


@pytest.mark.parametrize("cpus", [1, 2, 4, 8, 32, 1000])
def test_default_width_is_two_per_slot(cpus):
    assert shuffle_width(cpus, False) == 2 * cpus
