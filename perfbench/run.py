"""Benchmark of the pyspark_pipelining_spark engine as a nightly KPI batch.

    python3 perfbench/run.py --workload kpi_suite --seed 1 --seconds 30 --trace 0
    python3 perfbench/selftest.py

Workloads (named in BENCHMARK.json, defined in ``worker.py``):

* ``kpi_suite`` - the 20 queries of ``queries.py``: reach, frequency,
  weekly reach, pairwise, mapping, projection, before/after lift and the
  dataQA checks;
* ``heavy_ops`` - executor-heavy and iterative queries (span family,
  connected components, PageRank, single-split profile scans) and
  ``build_corpus_pipeline`` run with ``run_all()`` into a fresh output
  root.

Each run derives an sf0.01 lake from ``--seed`` (``lake.py``: the
committed tables with their rows permuted), starts ``worker.py`` as the
engine's own process and waits for it.  ``setup_s`` runs from that
process's start until ``get_spark`` returned.  The worker then makes
``round(--seconds / 30)`` checked passes (at least one; with the
``run_seconds`` of BENCHMARK.json exactly one, in the fresh session,
which is what a nightly job pays).  Only the building and forcing of
each query or stage is timed, not the checks.  ``cpu_s`` is the CPU
time the process tree spends in those timed parts of a pass (the median
over passes).

The wall-clock figures carry no bound, because on a shared 4-vCPU host
they drift with the host by 20-40% within minutes (CPU time drifts
about half as much).  Every run prints ``makespan_s``, the median pass's
timed wall time, on its detail line (with the latency sample count and
the median and p90 latency: 20 samples on kpi_suite leave ten beyond
the median, 12 on heavy_ops only six), and the traced run reports it as
``queries.makespan_s`` and the median latency as ``queries.p50_s``.  The
traced run also reports ``peak_rss_mb``, the summed peak resident set of
the tree's processes, which follows the JVM's heap growth and so GC
timing (15-25% from run to run).

Which figure each layer should move, and where: ``sources.*``,
``queries.build_s`` and ``spark.jobs*`` move ``cpu_s``,
``queries.makespan_s`` and ``queries.p50_s`` on kpi_suite;
``spark.executor_*``, shuffle, spill and ``spark.single_task_stage_s``
move ``cpu_s`` and ``queries.makespan_s`` on heavy_ops and little on
kpi_suite; ``cache.*`` moves ``peak_rss_mb`` and ``plans.dag.*`` moves
``queries.makespan_s`` on heavy_ops.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` - the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from passes with the engine's functions wrapped)
with ``--trace 1``.  The line before it carries the
host-contention probe of ``bench.py`` (taken by the worker), a
``contended`` flag and the sample counts.  Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench import lake as lakes  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
#: a run must be over within this many seconds
DEADLINE_S = 160
#: driver heap of the engine's JVM; sf0.01 needs far less
DRIVER_MEM = "2g"


def worker_env(tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    return env


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return


def run_worker(workload: str, lake: str, seconds: float, trace: int, seed: int, deadline: float):
    """Run one worker; return (result dict, spawn time) or exit on failure."""
    os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
    spans = os.path.join(STATE, "spans", f"{workload}-seed{seed}.jsonl")
    scratch = tempfile.mkdtemp(prefix="run-", dir=STATE)  # temp files, pipeline outputs
    try:
        tmp, work = os.path.join(scratch, "tmp"), os.path.join(scratch, "work")
        os.makedirs(os.path.join(tmp, "spark-local"))
        out = os.path.join(scratch, "result.json")
        cmd = [
            sys.executable, "-m", "perfbench.worker", "--workload", workload, "--lake", lake,
            "--work-dir", work, "--seconds", str(seconds), "--trace", str(trace),
            "--out", out, "--spans", spans,
        ]
        spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=worker_env(tmp), stdout=sys.stderr, start_new_session=True
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            stop_group(proc.pid)
        if rc != 0:
            print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}", file=sys.stderr)
            sys.exit(1)
        with open(out) as fh:
            return json.load(fh), spawn
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def pass_metrics(res: dict, spawn: float) -> tuple[dict[str, float], dict]:
    """The end-to-end metrics and the wall-clock figures of the passes;
    the wall-clock figures and sample counts for the detail line."""
    passes = res["passes"]
    latencies = [v for p in passes for v in p["latencies"].values()]
    metrics = {
        "setup_s": res["ready_monotonic"] - spawn,
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "queries.makespan_s": statistics.median(p["wall"] for p in passes),
        "queries.p50_s": statistics.median(latencies),
    }
    samples = {
        "passes": len(passes),
        "makespan_s": metrics["queries.makespan_s"],
        "latency_samples": len(latencies),
        # highest percentile with at least ten samples above it
        "latency_percentile_supported": max(0, int(100 - 1000 / len(latencies))),
        "query_p50_s": metrics["queries.p50_s"],
        "query_p90_s": statistics.quantiles(latencies, n=10, method="inclusive")[8],
    }
    return metrics, samples


def per_layer(res: dict) -> dict[str, float]:
    layers, counts, spark = res["layers"], res["counts"], res["spark"]

    def span(name: str, key: str) -> float:
        return layers.get(name, {}).get(key, 0)

    build, exec_ = span("queries.build", "s"), span("queries.exec", "s")
    metrics = {
        "session.get_spark_s": res["get_spark_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "sources.load_table.calls": span("sources.load_table", "calls"),
        "sources.load_table.s": span("sources.load_table", "self_s"),
        "sources.spread.calls": span("sources.spread", "calls"),
        "sources.spread.s": span("sources.spread", "self_s"),
        "queries.build_s": build,
        "queries.exec_s": exec_,
        "queries.build_share": build / (build + exec_) if build + exec_ else 0.0,
        "cache.keep.calls": span("cache.keep", "calls"),
        "cache.release_all.released": counts.get("cache.release_all.released", 0),
        "plans.dag.run.self_s": span("plans.dag.run", "self_s"),
        "plans.dag.materialize_s": span("plans.dag.materialize", "s"),
        "plans.dag.stages_ran": res["stages_ran"],
        "plans.dag.stages_skipped": res["stages_skipped"],
        # tracing time inside the timed region over the rest of it
        "trace.overhead_frac": res["trace_s"] / (
            sum(p["wall"] for p in res["passes"]) - res["trace_s"]
        ),
        "failure_rate": len(res["failures"]) / res["attempted"],
    }
    for key in (
        "jobs", "jobs_in_build", "stages_skipped", "executor_run_s", "executor_cpu_s",
        "single_task_stage_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks_failed",
    ):
        metrics[f"spark.{key}"] = spark.get(key, 0)
    for name, agg in layers.items():
        if name.startswith("operators."):
            module = ".".join(name.split(".")[:2])
            metrics[f"{module}.calls"] = metrics.get(f"{module}.calls", 0) + agg["calls"]
            metrics[f"{module}.self_s"] = metrics.get(f"{module}.self_s", 0.0) + agg["self_s"]
    return metrics


def run(workload: str, seed: int, seconds: float, trace: int, scale: str = "sf0.01"):
    """One benchmark run; returns (result line, detail line, all metrics)."""
    started = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"perfbench: unknown workload {workload!r}")

    lake = lakes.derive(os.path.join(STATE, "lakes"), scale, seed)
    res, spawn = run_worker(workload, lake, seconds, trace, seed, started + DEADLINE_S)

    metrics, samples = pass_metrics(res, spawn)
    if trace:
        metrics.update(per_layer(res))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    for m in wanted:
        if m["name"] not in metrics and not m["name"].startswith("operators."):
            raise KeyError(f"metric {m['name']} was not measured")
    failed = len(res["failures"])
    line = {
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]} for m in wanted},
    }
    detail = {
        "workload": workload, "seed": seed, "scale": scale, "trace": trace,
        "samples": samples, "failures": res["failures"], "host": res["host"],
        "contended": res["host"]["contended"],
    }
    return line, detail, metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    line, detail, _ = run(args.workload, args.seed, args.seconds, args.trace)
    if detail["contended"]:
        print("perfbench: host was contended during this run", file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
