"""Pipeline DAG: composable stages with idempotent materialization —
the rebuild of the reference's Luigi orchestration (SURVEY §2.11).

Reference semantics being preserved:

* a task declares upstream tasks (`requires`) and an output target whose
  existence short-circuits re-runs (``HiveTableTarget`` — reference
  ``metrics/tasks/create_reach_task.py:41-42,58-59``);
* a fan-in "supertask" runs everything (``consulting_metrics_supertask``);
* parameterization via typed config (Luigi ``Parameter`` →
  :class:`PipelineConfig` dataclass).

Rebuild differences: stages are **pure DataFrame functions** registered
on a :class:`Pipeline`; dependencies are resolved by name (topological);
materialization targets are parquet directories whose ``_SUCCESS``
marker provides the same exists→skip idempotency.  No scheduler
process: the DAG is small, and Spark itself parallelizes within a
stage, which is where the actual work is at 100 TB.
"""

from __future__ import annotations

import json
import logging
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pyspark_pipelining_spark.logutil import get_logger
from pyspark_pipelining_spark.sources.registry import _read_parquet


@dataclass(frozen=True)
class PipelineConfig:
    """Typed run parameters (reference: Luigi string parameters,
    ``create_pairwise_task.py:30-35``)."""

    sf_dir: str
    output_path: str
    run_id: str = "dev"
    dimensions: tuple[str, ...] = ("etype", "campaignid")
    min_wks: int = 1
    max_wks: int = 13
    extra: dict = field(default_factory=dict)


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, PipelineConfig, dict[str, DataFrame]], DataFrame]
    requires: tuple[str, ...] = ()
    materialize: bool = False
    #: Hive-style partition columns for the materialization target —
    #: the pruning axis (date/region) downstream readers filter on.
    #: At 100 TB a fact materialized WITHOUT the date partitioning is a
    #: full-scan tax on every consumer; with it, Catalyst prunes
    #: directories before listing files (PartitionFilters in the scan).
    partition_by: tuple[str, ...] = ()


class PipelineError(RuntimeError):
    pass


class Pipeline:
    """Named-stage DAG with parquet-existence idempotency."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        logger: logging.Logger | None = None,
    ):
        self.spark = spark
        self.config = config
        self.logger = logger if logger is not None else get_logger()
        self._stages: dict[str, Stage] = {}
        self._results: dict[str, DataFrame] = {}
        #: lineage/observability record, one entry per stage execution:
        #: {stage, status (ran|skipped), requires, target, schema,
        #:  wall_s} — what every orchestrator surfaces in its run UI.
        self.manifest: list[dict] = []

    def stage(
        self,
        name: str,
        requires: tuple[str, ...] = (),
        materialize: bool = False,
        partition_by: tuple[str, ...] = (),
    ):
        """Decorator registering a stage function."""

        def wrap(fn):
            if name in self._stages:
                raise PipelineError(f"duplicate stage {name!r}")
            if partition_by and not materialize:
                raise PipelineError(
                    f"stage {name!r}: partition_by requires materialize=True"
                )
            self._stages[name] = Stage(name, fn, requires, materialize, partition_by)
            return fn

        return wrap

    def _target(self, name: str) -> str:
        return os.path.join(self.config.output_path, self.config.run_id, name)

    def _is_complete(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._target(name), "_SUCCESS"))

    def run(self, name: str, _seen: tuple[str, ...] = ()) -> DataFrame:
        """Run one stage (and, recursively, its upstreams)."""
        if name in self._results:
            return self._results[name]
        if name not in self._stages:
            raise PipelineError(f"unknown stage {name!r}; have {sorted(self._stages)}")
        if name in _seen:
            raise PipelineError(f"dependency cycle: {' -> '.join(_seen + (name,))}")
        st = self._stages[name]
        if st.materialize and self._is_complete(name):
            self.logger.info("stage %s: target exists, skipping (idempotent)", name)
            df = _read_parquet(self.spark, self._target(name))
            self._results[name] = df
            self.manifest.append(
                {
                    "stage": name,
                    "status": "skipped",
                    "requires": list(st.requires),
                    "target": self._target(name),
                    "schema": df.schema.simpleString(),
                    "wall_s": 0.0,
                }
            )
            return df
        upstream = {r: self.run(r, _seen + (name,)) for r in st.requires}
        self.logger.info("stage %s: running", name)
        t0 = time.monotonic()
        try:
            df = st.fn(self.spark, self.config, upstream)
            if st.materialize:
                writer = df.write.mode("overwrite")
                if st.partition_by:
                    writer = writer.partitionBy(*st.partition_by)
                writer.parquet(self._target(name))
                df = _read_parquet(self.spark, self._target(name))
        except Exception as exc:
            self.logger.exception("stage %s: failed", name)
            self.manifest.append(
                {
                    "stage": name,
                    "status": "failed",
                    "requires": list(st.requires),
                    "target": self._target(name) if st.materialize else None,
                    "error": f"{type(exc).__name__}: {exc}",
                    "wall_s": round(time.monotonic() - t0, 3),
                }
            )
            raise
        self.logger.info("stage %s: done", name)
        self._results[name] = df
        self.manifest.append(
            {
                "stage": name,
                "status": "ran",
                "requires": list(st.requires),
                "target": self._target(name) if st.materialize else None,
                "schema": df.schema.simpleString(),
                "wall_s": round(time.monotonic() - t0, 3),
            }
        )
        return df

    def run_safe(self, name: str, report_path: str) -> DataFrame | None:
        """Run a stage, rendering any failure into the report file
        instead of crashing (reference ``DataException.to_csv``,
        ``dataQA/dataExceptions.py:17-23``, which the scheduler relies
        on to always produce output).  Returns None on failure."""
        from pyspark_pipelining_spark.sources.sinks import error_report

        try:
            return self.run(name)
        except Exception as exc:  # logged by run(); render into report
            error_report(self.spark, f"stage {name}: {exc}", report_path, logger=self.logger)
            return None

    def run_all(self) -> dict[str, DataFrame]:
        """The fan-in supertask: run every registered stage."""
        return {name: self.run(name) for name in self._stages}

    def write_manifest(self, path: str | None = None) -> str:
        """Persist the run's lineage manifest as JSON (default:
        ``<output_path>/<run_id>/manifest.json``) — stage order,
        ran/skipped status, dependency edges, materialization targets,
        output schemas, and wall time per stage.  Driver-side metadata
        only; no Spark job is triggered."""
        if path is None:
            path = os.path.join(
                self.config.output_path, self.config.run_id, "manifest.json"
            )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.config.run_id, "stages": self.manifest}, fh, indent=1
            )
        return path


def build_metrics_pipeline(spark: SparkSession, config: PipelineConfig) -> Pipeline:
    """The full KPI batch as a stage graph (reference
    ``ConsultingSuperTask``: HHMetrics + Pairwise + Reach + ReachWeek +
    Frequency sharing one media/projection layer)."""
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators import before_after as ba
    from pyspark_pipelining_spark.operators import media
    from pyspark_pipelining_spark.operators.frequency import frequency_histogram
    from pyspark_pipelining_spark.operators.pairwise import pair_overlap
    from pyspark_pipelining_spark.operators.reach import reach_all_dims
    from pyspark_pipelining_spark.operators.reach_week import incremental_weekly_reach
    from pyspark_pipelining_spark.sources.registry import load_table

    p = Pipeline(spark, config)

    @p.stage("media")
    def media_stage(spark, cfg, up):
        expo = media.exposures(spark, cfg.sf_dir)
        proj = media.projection(spark, cfg.sf_dir)
        # proj is household-cardinality — no broadcast hint (see
        # operators/media.py module docstring).
        return expo.join(proj, on="household_id", how="inner")

    @p.stage("reach", requires=("media",))
    def reach_stage(spark, cfg, up):
        return reach_all_dims(up["media"], list(cfg.dimensions))

    @p.stage("frequency", requires=("media",))
    def frequency_stage(spark, cfg, up):
        return frequency_histogram(up["media"])

    @p.stage("reach_week", requires=("media",))
    def reach_week_stage(spark, cfg, up):
        return incremental_weekly_reach(up["media"].select("week", "household_id", "projfact"))

    @p.stage("pairwise", requires=("media",))
    def pairwise_stage(spark, cfg, up):
        return pair_overlap(up["media"], "etype")

    @p.stage("before_after", requires=("media",))
    def before_after_stage(spark, cfg, up):
        purch = media.purchases(spark, cfg.sf_dir)
        univ = load_table(spark, cfg.sf_dir, "customer").select(
            F.col("c_custkey").alias("household_id")
        )
        expo = [up["media"].select("household_id", "date")]
        lift, _ = ba.before_after_analysis(purch, expo, univ, cfg.min_wks, cfg.max_wks)
        return lift

    return p


def build_corpus_pipeline(spark: SparkSession, config: PipelineConfig) -> Pipeline:
    """The LLM training-data supertask as a stage graph — the
    beyond-reference twin of :func:`build_metrics_pipeline`:
    scrub → signals (quality + language) → near-dup drop → gate →
    pack / shuffled export, with the expensive boundaries (scrubbed
    corpus, final export) materialized idempotently.

    Config knobs via ``config.extra``: ``min_quality`` (gate threshold,
    default 0.2), ``pack_budget`` (chars per pack, default 2000),
    ``num_shards`` (export shards, default 4).  ``run_id`` salts the
    export permutation, so a new run_id is a new epoch order.
    """
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators import corpus, dedup
    from pyspark_pipelining_spark.operators import text as text_ops
    from pyspark_pipelining_spark.sources.registry import load_table

    p = Pipeline(spark, config)

    @p.stage("scrubbed", materialize=True)
    def scrubbed(spark, cfg, up):
        docs = load_table(spark, cfg.sf_dir, "documents")
        clean = corpus.scrub_pii(docs).select("doc_id", "clean")
        return (
            docs.select("doc_id", "source", "lang", "n_chars")
            .join(clean, "doc_id")
            .withColumnRenamed("clean", "text")
        )

    @p.stage("signals", requires=("scrubbed",))
    def signals(spark, cfg, up):
        d = up["scrubbed"]
        q = text_ops.quality_score(d).select("doc_id", "quality")
        lang = text_ops.language_id(d).select("doc_id", "pred_lang")
        return d.join(q, "doc_id").join(lang, "doc_id")

    @p.stage("deduped", requires=("signals",))
    def deduped(spark, cfg, up):
        d = up["signals"]
        pairs = dedup.near_dup_pairs(d)
        return dedup.drop_duplicate_docs(d, pairs)

    @p.stage("gated", requires=("deduped",))
    def gated(spark, cfg, up):
        min_q = cfg.extra.get("min_quality", 0.2)
        return up["deduped"].filter(F.col("quality") >= min_q)

    @p.stage("packed", requires=("gated",))
    def packed(spark, cfg, up):
        return corpus.pack_greedy(
            up["gated"].select("doc_id", "source", "n_chars"),
            budget=cfg.extra.get("pack_budget", 2000),
        )

    @p.stage("export", requires=("gated",), materialize=True)
    def export(spark, cfg, up):
        return corpus.training_shuffle(
            up["gated"].select("doc_id", "source", "text"),
            num_shards=cfg.extra.get("num_shards", 4),
            salt=cfg.run_id,
        )

    return p
