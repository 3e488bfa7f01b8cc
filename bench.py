"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced to full execution with a noop-sink write
(``runner.timed_runs``) so timings measure the whole plan without driver
materialization cost.

Noise hygiene (r06 verdict: same-code runs differed up to 37% per
query, making per-query regression tables noise): each query now runs
one UNTIMED warm-up execution (absorbs codegen/JIT and page-cache
warming, which are not properties of the plan) followed by
``$SPARK_GRAFT_BENCH_REPS`` timed repeats (default 3), and reports the
per-query MEDIAN — robust to a single noisy repeat in either
direction, unlike min (which hides real regressions behind one lucky
run) or mean (one stall poisons it).  The per-query max-min spread is
recorded next to the median in BENCH_FULL.json (``spread``), plus the
suite-level ``median_rel_spread``, so a future delta can be judged
against the measured same-run variance instead of guessed.  Spark's
cache and the operator-library persist() handles are dropped between
repeats (``runner.release``) so no repeat reuses a prior run's
materialized blocks.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from pyspark_pipelining_spark import runner

# re-exported: perfbench/worker.py reads the same probe around its runs
_host_probe = runner.host_probe


def _contention(before: dict, after: dict) -> dict:
    host: dict = {"before": before, "after": after}
    dt = after.get("total_ticks", 0) - before.get("total_ticks", 0)
    ds = after.get("steal_ticks", 0) - before.get("steal_ticks", 0)
    steal_pct = round(100.0 * ds / dt, 3) if dt > 0 else -1.0
    host["steal_pct"] = steal_pct
    cpus = os.cpu_count() or 1
    # ambient load before the run claims a quarter of the cores, or the
    # hypervisor stole >2% of the run's ticks → treat timings as suspect
    host["contended"] = bool(
        before.get("load1", 0.0) > 0.25 * cpus or steal_pct > 2.0
    )
    return host


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    warmups = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "1")))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    probe_before = _host_probe()  # before the JVM starts: ambient load
    spark = runner.session("bench")
    # warm the JVM + parquet footers with one tiny action
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, fn in sorted(runner.resolve().items()):
        try:
            times = runner.timed_runs(spark, fn, sf_dir, reps, warmups)
        except Exception as exc:  # keep the bench line parseable on failure
            print(f"bench: query {name} failed: {exc}", file=sys.stderr)
            times = []
        timings[name] = round(statistics.median(times), 3) if times else -1.0
        spreads[name] = round(max(times) - min(times), 3) if times else -1.0
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    rel_spreads = [
        spreads[n] / timings[n] for n in timings if timings[n] > 0
    ]
    median_rel_spread = (
        round(statistics.median(rel_spreads), 4) if rel_spreads else -1.0
    )
    payload = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": reps,
        "warmups": warmups,
        "spread": spreads,
        "median_rel_spread": median_rel_spread,
        "host": _contention(probe_before, _host_probe()),
    }
    # The driver keeps only the last ~2.2 KB of stdout, so the full
    # per-query line truncates (BENCH_r03-r05 `parsed: null`).  Print
    # the full line first (humans / local tooling), persist it to
    # BENCH_FULL.json, then END stdout with a SHORT summary line that
    # always fits the tail window — same schema, `queries` limited to
    # the slowest 10 so the driver's last-line parse succeeds.
    line = json.dumps(payload, separators=(",", ":"))
    print(line)
    try:
        with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH_FULL.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    summary = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "median_rel_spread": median_rel_spread,
        "contended": payload["host"]["contended"],
        "steal_pct": payload["host"]["steal_pct"],
        "detail": "BENCH_FULL.json has all per-query timings",
    }
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
