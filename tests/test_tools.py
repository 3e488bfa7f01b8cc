"""Smoke test of the harness tools: each resolves query names through
``pyspark_pipelining_spark.runner``, runs on the test session's JVM
and exits 2 on an unknown query name."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tools import bracket, layout_sweep


@pytest.fixture
def tool_session(spark):
    """The tools build their session with ``getOrCreate``, which applies
    their settings to the running test session: put the session's SQL
    settings back afterwards so later tests see the layout they expect."""
    saved = spark.conf.getAll
    yield spark
    for key, value in spark.conf.getAll.items():
        if key not in saved:
            spark.conf.unset(key)
        elif saved[key] != value:
            spark.conf.set(key, saved[key])


def test_bracket_and_layout_sweep_run_a_query(tool_session):
    assert bracket.main(["reach_overall", "--reps", "1", "--sf", SF_SMOKE]) == 0
    assert layout_sweep.main(["reach_overall"]) == 0


@pytest.mark.parametrize("tool", [bracket, layout_sweep])
def test_unknown_query_name_exits_2(tool):
    assert tool.main(["no_such_query"]) == 2
