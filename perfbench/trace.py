"""Tracing for the benchmark's traced run, done from outside the engine.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory and writes them out once, at the end of the run.  A span's self
  time is its duration minus the time its child spans cover.
* :func:`instrument` wraps the engine's public functions at the layer
  boundaries — ``sources``, ``cache``, every ``operators`` module and
  ``plans.dag.Pipeline.run`` — and rebinds the wrapper in every engine
  module that imported the function by name.  It returns an undo
  callable, which leaves the program as it was.
* :func:`harvest_jobs` reads Spark's status store for the jobs of one
  job group (executor time, shuffle, spill, skipped stages, ...).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PKG = "pyspark_pipelining_spark"


class Tracer:
    def __init__(self) -> None:
        #: [name, start, end, parent index, run id]
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self.run_id = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.run_id]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def current(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    def wrap(self, name: str, fn, result_counter: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if result_counter is not None:
                self.counts[result_counter] += out
            return out

        return traced

    @staticmethod
    def span_cost_s(n: int = 20000) -> float:
        """Seconds one wrapped call spends in the tracer, timed on a
        scratch tracer."""
        scratch = Tracer()
        noop = scratch.wrap("calibrate", lambda: 0, "calibrate")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        return (time.perf_counter() - t0) / n

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: number of spans, summed duration (``s``) and
        summed self time."""
        child_time = defaultdict(float)
        for name, start, end, parent, run_id in self.spans:
            if parent is not None:
                child_time[parent] += end - start
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
        for i, (name, start, end, _parent, _run_id) in enumerate(self.spans):
            out[name]["calls"] += 1
            out[name]["s"] += end - start
            out[name]["self_s"] += (end - start) - child_time[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (name, start, end, parent, run_id) in enumerate(self.spans):
                rec = {"id": i, "name": name, "start": start, "end": end,
                       "parent": parent, "run_id": run_id}
                fh.write(json.dumps(rec) + "\n")


def _engine_modules() -> list:
    return [m for n, m in sorted(sys.modules.items()) if m is not None and n.startswith(PKG)]


def instrument(tracer: Tracer):
    """Wrap the engine's layer-boundary functions; return an undo callable."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pyspark_pipelining_spark import cache
    from pyspark_pipelining_spark.plans import dag
    from pyspark_pipelining_spark.sources import registry

    targets: list[tuple[object, str, object]] = [
        (registry.load_table, "sources.load_table", None),
        (registry.spread, "sources.spread", None),
        (cache.keep, "cache.keep", None),
        (cache.release_all, "cache.release_all", "cache.release_all.released"),
    ]
    for mod in _engine_modules():
        if not mod.__name__.startswith(f"{PKG}.operators."):
            continue
        short = mod.__name__.rsplit(".", 1)[1]
        for attr, fn in vars(mod).items():
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
                and not hasattr(fn, "evalType")  # pandas/arrow UDF objects
            ):
                targets.append((fn, f"operators.{short}.{attr}", None))

    wrappers = {id(fn): tracer.wrap(name, fn, counter) for fn, name, counter in targets}
    undo: list[tuple[object, str, object]] = []
    for mod in _engine_modules():
        for attr, value in list(vars(mod).items()):
            wrapper = wrappers.get(id(value))
            if wrapper is not None:
                undo.append((mod, attr, value))
                setattr(mod, attr, wrapper)

    run = dag.Pipeline.run
    undo.append((dag.Pipeline, "run", run))
    dag.Pipeline.run = tracer.wrap("plans.dag.run", run)

    parquet = DataFrameWriter.parquet

    @functools.wraps(parquet)
    def traced_parquet(self, *args, **kwargs):
        # parquet writes issued by Pipeline.run are stage materializations
        name = "plans.dag.materialize" if tracer.current() == "plans.dag.run" else "pyspark.write.parquet"
        with tracer.span(name):
            return parquet(self, *args, **kwargs)

    undo.append((DataFrameWriter, "parquet", parquet))
    DataFrameWriter.parquet = traced_parquet

    def restore() -> None:
        for owner, attr, value in reversed(undo):
            setattr(owner, attr, value)

    return restore


#: status-store fields summed over the completed stages of a job group
STAGE_FIELDS = {
    "executor_run_s": lambda sd: sd.executorRunTime() / 1e3,
    "executor_cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "shuffle_read_mb": lambda sd: sd.shuffleReadBytes() / 2**20,
    "shuffle_write_mb": lambda sd: sd.shuffleWriteBytes() / 2**20,
    "spill_mb": lambda sd: sd.diskBytesSpilled() / 2**20,
}


def _ms(option_date) -> int | None:
    return option_date.get().getTime() if option_date.isDefined() else None


def harvest_jobs(sc, group: str) -> Counter:
    """Job, stage and task figures for every job run under ``group``.

    A job also lists the stages it skipped because an earlier job already
    produced their output; such a stage counts only if it was submitted
    after the first job of the group that lists it started."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: Counter = Counter()
    first_job_ms: dict[int, int] = {}
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        out["stages_skipped"] += job.numSkippedStages()
        out["tasks_failed"] += job.numFailedTasks()
        start = _ms(job.submissionTime()) or 0
        ids = job.stageIds()
        for stage_id in (ids.apply(i) for i in range(ids.length())):
            first_job_ms[stage_id] = min(start, first_job_ms.get(stage_id, start))
    for stage_id, job_ms in first_job_ms.items():
        try:
            sd = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # dropped from the store: ran long before this group
            continue
        submitted = _ms(sd.submissionTime())
        if submitted is None or submitted < job_ms or not sd.completionTime().isDefined():
            continue
        for key, get in STAGE_FIELDS.items():
            out[key] += get(sd)
        if sd.numTasks() == 1:
            out["single_task_stage_s"] += (_ms(sd.completionTime()) - submitted) / 1e3
    return out
