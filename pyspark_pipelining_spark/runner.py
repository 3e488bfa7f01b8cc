"""The one query runner behind every harness (``bench.py`` and the
scripts under ``tools/``): registry name resolution, session set-up,
timed executions forced to a noop sink, cache isolation between executions,
and the host probe read before the JVM starts.

    queries = runner.resolve(names)          # None: unknown names, exit 2
    spark = runner.session("bracket")
    times = runner.timed_runs(spark, queries[name], sf_dir, reps=5)

Query builders ``persist()`` internal frames (``cache.keep``) and never
unpersist, so every execution is followed by :func:`release`: no later
execution (or later query) reuses blocks materialized by an earlier
one, and no plan picks up an ``InMemoryTableScan`` from another
query's cache entry.
"""

from __future__ import annotations

import sys
import time
from collections.abc import Iterable

from pyspark.sql import SparkSession

from pyspark_pipelining_spark import cache
from pyspark_pipelining_spark.queries import QUERIES, QueryFn
from pyspark_pipelining_spark.session import get_spark


def resolve(
    names: Iterable[str] = (), registry: dict[str, QueryFn] | None = None
) -> dict[str, QueryFn] | None:
    """``{name: builder}`` for ``names`` in the given order (the whole
    ``registry``, default :data:`queries.QUERIES`, when ``names`` is
    empty).  Unknown names are reported on stderr and give ``None``;
    the calling tool then exits 2."""
    registry = QUERIES if registry is None else registry
    names = list(names) or list(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return None
    return {n: registry[n] for n in names}


def session(
    app: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    vanilla: bool = False,
) -> SparkSession:
    """A SparkSession at ERROR log level: the engine's defaults
    (``session.get_spark``), or with ``vanilla`` a plain session without
    them, like the one ``__spark_entry__``'s callers pass in."""
    if vanilla:
        spark = SparkSession.builder.appName(app).master(master or "local[*]").getOrCreate()
    else:
        spark = get_spark(app, master=master, shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release(spark: SparkSession) -> None:
    """Drop the operators' persist handles and the session cache."""
    cache.release_all()
    spark.catalog.clearCache()


def timed_runs(
    spark: SparkSession, fn: QueryFn, sf_dir: str, reps: int, warmups: int = 1
) -> list[float]:
    """Build ``fn`` and force it to a noop sink (the whole plan runs,
    no rows reach the driver) ``warmups + reps`` times, releasing the
    cache after each execution; returns the ``reps`` timed seconds
    (build + execution, rounded to ms).  The untimed warm-ups absorb
    codegen/JIT and page-cache warming, which are not properties of
    the plan."""
    times: list[float] = []
    for rep in range(warmups + reps):
        start = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            if rep >= warmups:
                times.append(round(time.perf_counter() - start, 3))
        finally:
            release(spark)
    return times


def host_probe() -> dict:
    """Snapshot host contention counters (Linux /proc; empty elsewhere).

    ``load1`` BEFORE the run is the ambient signal (the run itself
    drives load up afterwards); the steal-tick delta across the run is
    the hypervisor-contention signal a same-code slowdown cannot fake."""
    probe: dict = {}
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
        probe["load1"], probe["load5"] = float(parts[0]), float(parts[1])
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        probe["total_ticks"] = sum(vals)
        probe["steal_ticks"] = vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        pass
    return probe


def ambient_load() -> str:
    """``load1/load5`` for a tool's header line; call it before the JVM
    starts."""
    probe = host_probe()
    return f"{probe.get('load1', '?')}/{probe.get('load5', '?')}"
