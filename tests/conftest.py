from __future__ import annotations

import glob
import hashlib
import os
import re
import uuid

import pytest

from pyspark_pipelining_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: the last batch registered through the retired staging tier; their
#: pre-registration gates keep running strictly (no nullable-float64
#: allowlist) over exactly these names
FORMERLY_STAGED = (
    "ccnet_ppl_buckets",
    "fasttext_quality",
    "paragraph_dedup",
    "quality_battery",
    "sim_ivf_learned_topk",
)

#: sampled-rotating certification tiers (r13 verdict item 3): the
#: registry-proportional SECONDARY gates (the sf0.01 oracle tier and
#: the hostile-layout sweep) each cover a deterministic ~1/PERIOD slice
#: per round, chosen by hash(name) against the CURRENT ROUND NUMBER, so
#: every query is fully re-certified every PERIOD rounds with zero
#: hand-maintenance — while the PRIMARY sf0.001 oracle gate, the dtype
#: gates, and the plan-shape lock stay exhaustive every run.  Queries
#: with no green driver row yet (i.e. about to enter the driver window)
#: are ALWAYS in the slice.  `python tools/sf01_oracle_spotcheck.py
#: --all` remains the exhaustive pre-freeze backstop.
ROTATION_PERIOD = 3


def rotation_round(here: str | None = None) -> int:
    """The current round number = latest committed CORRECTNESS round + 1
    (the same source `__spark_entry__._rotated` derives the driver
    window from, so the slice advances exactly once per round).
    ``here`` is injectable for the accounting guard test only."""
    if here is None:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def in_rotation(name: str, period: int = ROTATION_PERIOD) -> bool:
    """True iff `name` is in this round's certification slice: never-
    driver-validated names always are; the rest exactly once every
    `period` rounds (hash keyed on the name alone, phase on the round)."""
    import __spark_entry__ as entry

    if name not in entry._last_green_rounds():
        return True
    h = int(hashlib.md5(name.encode()).hexdigest(), 16)
    return h % period == rotation_round() % period


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def count_jobs(spark, fn):
    """Call ``fn()`` under a fresh Spark job group; return its result and
    the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count_jobs:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
