"""Physical-plan shape fingerprints — a committed, diffable contract
on every query's plan SHAPE.

Why this exists: the round-12 dynamic-partition-pruning fix
(`queries_coverage.dpp_top_year_revenue`) showed
that a plan can silently degrade — the staged test asserted the
pruning filter's TEXT in the initial plan while the executed plan had
quietly fallen back to scanning every partition.  Text assertions pin
one query at a time; this module pins the whole registry: for each
query we count the cost-shaping physical node kinds (shuffle
exchanges, broadcasts, join strategies, windows, aggregates, scans,
generates, reuse nodes) in the AQE-initial formatted plan, and
`tools/plan_lock.py` commits the table as `tools/plan_lock.json`.  A
refactor that flips a broadcast join to sort-merge, drops a map-side
partial aggregate, adds an exchange, or duplicates a scan then FAILS
the pytest gate with a per-query diff instead of shipping a 100 TB
regression that a correctness oracle can never see.

Determinism: the counts come from the formatted explain of the
pre-execution physical plan (for AQE plans, the initial plan — what
Catalyst committed to before runtime re-planning), at the fixed test
layout (sf0.001, ``local[8]``, ``spark.sql.shuffle.partitions=8``).
Node KINDS are counted, never expression ids, paths, partition
counts, or statistics, all of which vary run to run.  Callers must
cache-isolate each build (``spark.catalog.clearCache()`` before it):
query builders persist() internal frames, and a still-registered cache
entry from an earlier build substitutes an InMemoryTableScan into a
later query's plan, making the shape depend on build order.  Runtime-only
properties (AQE coalescing, skew splits, DPP file pruning, exchange
reuse under reoptimization) are asserted by the dedicated
executed-plan tests in ``tests/test_plans.py`` — shape is pinned
where it is deterministic, metrics where it is not.

Updating the lock is part of changing a plan on purpose: run
``python tools/plan_lock.py --write`` and review the JSON diff in the
same commit as the optimization — the diff IS the review artifact
(e.g. "pricing_summary: shuffles 2 -> 1").
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Formatted explain lists every node once as "(N) NodeKind" (detail
# section), including nodes inside the "===== Subqueries =====" block;
# AdaptiveSparkPlan prints its initial plan the same way.  The kind
# captures everything up to an optional "[...]" tail so that
# catalog-qualified scan lines ("Scan parquet spark_catalog.default.t"
# — dots/underscores) bucket into `scans` like their path-based twins
# instead of silently dropping out of the fingerprint (r12 ADVICE; all
# current reads are path-based, so this widening changes no committed
# lock entry — re-verified by `python tools/plan_lock.py`).
_NODE_RE = re.compile(r"^\((\d+)\)\s+([A-Za-z][^\[\]]*?)\s*(?:\[.*)?$")

# node-kind -> fingerprint bucket; kinds not listed are ignored (they
# don't shape distributed cost: Project, Filter, ColumnarToRow, ...).
# Scan kinds are prefix-matched ("Scan parquet ...", "Scan ExistingRDD").
_BUCKETS = {
    "Exchange": "shuffles",
    "BroadcastExchange": "broadcasts",
    "BroadcastHashJoin": "bhj",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastNestedLoopJoin": "bnlj",
    "CartesianProduct": "cartesian",
    "Window": "windows",
    "WindowGroupLimit": "windows",
    "HashAggregate": "hash_aggs",
    "ObjectHashAggregate": "hash_aggs",
    "SortAggregate": "sort_aggs",
    "Sort": "sorts",
    "Generate": "generates",
    "ReusedExchange": "reused",
    "InMemoryTableScan": "inmem_scans",
    "TakeOrderedAndProject": "take_ordered",
    "Expand": "expands",
    "FlatMapGroupsInPandas": "pandas_ops",
    "MapInPandas": "pandas_ops",
    "FlatMapGroupsWithStateInPandas": "pandas_ops",
    "BatchEvalPython": "row_udfs",
}

_SCAN_PREFIXES = ("Scan ", "BatchScan")


def fingerprint_plan_text(formatted: str) -> dict[str, int]:
    """Bucketed node-kind counts from a formatted explain string."""
    counts: dict[str, int] = {}
    for line in formatted.splitlines():
        m = _NODE_RE.match(line.strip())
        if not m:
            continue
        kind = m.group(2).strip()
        bucket = _BUCKETS.get(kind)
        if bucket is None and kind.startswith(_SCAN_PREFIXES):
            bucket = "scans"
        if bucket is not None:
            counts[bucket] = counts.get(bucket, 0) + 1
    return dict(sorted(counts.items()))


def fingerprint(df: DataFrame) -> dict[str, int]:
    """Shape fingerprint of a DataFrame's physical plan."""
    spark = df.sparkSession
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return fingerprint_plan_text(formatted)


def diff_locks(locked: dict, current: dict) -> list[str]:
    """Human-readable per-query differences between two lock tables."""
    out: list[str] = []
    for name in sorted(set(locked) | set(current)):
        a, b = locked.get(name), current.get(name)
        if a == b:
            continue
        if a is None:
            out.append(f"{name}: not in lock (new query — regenerate the lock)")
        elif b is None:
            out.append(f"{name}: in lock but not registered (regenerate the lock)")
        else:
            keys = sorted(set(a) | set(b))
            delta = ", ".join(
                f"{k} {a.get(k, 0)} -> {b.get(k, 0)}"
                for k in keys
                if a.get(k, 0) != b.get(k, 0)
            )
            out.append(f"{name}: {delta}")
    return out
