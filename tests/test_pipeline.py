"""Pipeline DAG: dependency resolution, idempotent materialization,
cycle/missing-stage errors, sinks."""

from __future__ import annotations

import os

import pytest

from pyspark_pipelining_spark.plans import Pipeline, PipelineConfig
from pyspark_pipelining_spark.plans.dag import PipelineError, build_metrics_pipeline
from pyspark_pipelining_spark.sources.sinks import write_csv_report, write_table
from tests.conftest import SF_SMOKE, count_jobs


def test_metrics_pipeline_runs_all(spark, tmp_path):
    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="t1")
    p = build_metrics_pipeline(spark, cfg)
    results = p.run_all()
    assert set(results) == {"media", "reach", "frequency", "reach_week", "pairwise", "before_after"}
    assert results["reach"].count() > 0
    assert results["frequency"].count() > 0


def test_materialization_is_idempotent(spark, tmp_path):
    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="t2")
    p = Pipeline(spark, cfg)
    calls = {"n": 0}

    @p.stage("base", materialize=True)
    def base(spark_, cfg_, up):
        calls["n"] += 1
        return spark_.range(5).withColumnRenamed("id", "x")

    @p.stage("down", requires=("base",))
    def down(spark_, cfg_, up):
        return up["base"]

    assert p.run("down").count() == 5
    assert calls["n"] == 1
    # a fresh pipeline over the same output path skips recompute
    p2 = Pipeline(spark, cfg)
    p2.stage("base", materialize=True)(base)
    assert p2.run("base").count() == 5
    assert calls["n"] == 1  # not re-executed — _SUCCESS short-circuit


def test_skipped_stage_reread_runs_no_job(spark, tmp_path):
    """A skipped stage's target is read back through the registry
    reader, so in the session that wrote it the target's schema is
    already known: the re-read runs no schema-inference job, and the
    frame carries its scan for ``spread``."""
    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="t3")

    def build():
        p = Pipeline(spark, cfg)
        p.stage("base", materialize=True)(lambda spark_, cfg_, up: spark_.range(5))
        return p

    build().run("base")
    p2 = build()
    df, jobs = count_jobs(spark, lambda: p2.run("base"))
    assert p2.manifest[-1]["status"] == "skipped"
    assert jobs == 0
    assert vars(df).get("_lake_scan") is not None
    assert df.count() == 5


def test_cycle_and_unknown_stage_errors(spark, tmp_path):
    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path))
    p = Pipeline(spark, cfg)

    @p.stage("a", requires=("b",))
    def a(spark_, cfg_, up):  # pragma: no cover
        return None

    @p.stage("b", requires=("a",))
    def b(spark_, cfg_, up):  # pragma: no cover
        return None

    with pytest.raises(PipelineError, match="cycle"):
        p.run("a")
    with pytest.raises(PipelineError, match="unknown stage"):
        p.run("nope")


def test_sinks(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(3).withColumnRenamed("id", "k").withColumn("part", F.col("k") % 2)
    write_table(df, str(tmp_path / "tbl"), partition_by=["part"])
    assert spark.read.parquet(str(tmp_path / "tbl")).count() == 3
    report = str(tmp_path / "report.csv")
    write_csv_report(df.select("k"), report)
    with open(report) as fh:
        assert fh.readline().strip() == "k"


def test_failing_stage_logs_and_renders_report(spark, tmp_path, caplog):
    import logging

    from pyspark_pipelining_spark.logutil import get_logger

    log_file = str(tmp_path / "qa_log.txt")
    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="t3")
    p = Pipeline(spark, cfg, logger=get_logger("test_d7", log_file=log_file))

    @p.stage("boom")
    def boom(spark_, cfg_, up):
        raise ValueError("intentional failure")

    report = str(tmp_path / "report.csv")
    with caplog.at_level(logging.INFO, logger="test_d7"):
        out = p.run_safe("boom", report)
    assert out is None
    # failure logged with traceback, and the error rendered into the report
    assert any("stage boom: failed" in r.message for r in caplog.records)
    with open(report) as fh:
        body = fh.read()
    assert "Error" in body and "intentional failure" in body
    with open(log_file) as fh:
        assert "stage boom: failed" in fh.read()


def test_get_logger_idempotent_handlers(tmp_path):
    from pyspark_pipelining_spark.logutil import get_logger

    f = str(tmp_path / "l.txt")
    l1 = get_logger("test_idem", log_file=f)
    n = len(l1.handlers)
    l2 = get_logger("test_idem", log_file=f)
    assert l2 is l1 and len(l2.handlers) == n  # no stacked duplicates


def test_ingest_pandas_sanitizes_columns(spark):
    import pandas as pd

    from pyspark_pipelining_spark.sources.sinks import ingest_pandas

    pdf = pd.DataFrame({"a col": [1, 2], "b": ["x", "y"]})
    df = ingest_pandas(spark, pdf)
    assert df.columns == ["a_col", "b"]
    assert df.count() == 2


def test_pandas_to_table_roundtrip(spark):
    import pandas as pd

    from pyspark_pipelining_spark.sources.sinks import pandas_to_table

    pandas_to_table(spark, "t_ingest", pd.DataFrame({"k v": [1], "n": [2]}))
    out = spark.table("t_ingest")
    assert out.columns == ["k_v", "n"] and out.count() == 1
    spark.sql("DROP TABLE t_ingest")


def test_excel_writer_args_append_vs_fresh(tmp_path):
    from pyspark_pipelining_spark.sources.sinks import excel_writer_args

    fresh = str(tmp_path / "new.xlsx")
    assert excel_writer_args(fresh) == {"engine": "openpyxl", "mode": "w"}
    existing = tmp_path / "old.xlsx"
    existing.write_bytes(b"stub")
    assert excel_writer_args(str(existing)) == {
        "engine": "openpyxl", "mode": "a", "if_sheet_exists": "replace",
    }
    assert excel_writer_args(str(existing), append=False)["mode"] == "w"


def test_write_excel_sheets_gated_without_engine(spark, tmp_path):
    from pyspark_pipelining_spark.sources.sinks import write_excel_sheets

    df = spark.range(1)
    ok = write_excel_sheets({"s": df}, str(tmp_path / "x.xlsx"))
    try:
        import openpyxl  # noqa: F401
        assert ok
    except ImportError:
        assert not ok  # clean no-op, no crash, no file
        assert not (tmp_path / "x.xlsx").exists()


def test_corpus_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    """The corpus supertask runs scrub → signals → dedup → gate →
    pack/export; row counts shrink monotonically through the filters,
    the export covers exactly the gated docs, and a second run over the
    same output path skips the materialized stages."""
    from pyspark_pipelining_spark.plans.dag import build_corpus_pipeline

    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="ep0")
    p = build_corpus_pipeline(spark, cfg)
    results = p.run_all()
    n_scrub = results["scrubbed"].count()
    n_dedup = results["deduped"].count()
    n_gate = results["gated"].count()
    assert n_scrub >= n_dedup >= n_gate > 0
    assert results["export"].count() == n_gate
    shards = {r["shard"] for r in results["export"].select("shard").distinct().collect()}
    assert shards <= set(range(4))
    packs = results["packed"]
    assert packs.count() == n_gate  # every gated doc assigned to a pack

    # second pipeline over the same path: materialized stages short-circuit
    p2 = build_corpus_pipeline(spark, cfg)
    again = p2.run("export")
    assert again.count() == n_gate
    assert os.path.exists(
        os.path.join(str(tmp_path), "ep0", "scrubbed", "_SUCCESS")
    )


def test_cli_runs_corpus_stage(spark, tmp_path):
    """`python -m pyspark_pipelining_spark corpus --stage scrubbed`
    parses, runs one stage against the shared session, and reports
    counts (get_spark reuses the active session, so no new JVM)."""
    from pyspark_pipelining_spark.__main__ import main

    counts = main(
        [
            "corpus",
            "--sf-dir", SF_SMOKE,
            "--output", str(tmp_path),
            "--run-id", "cli1",
            "--stage", "scrubbed",
        ]
    )
    assert counts == {"scrubbed": 500}


def test_driver_contract_registry_is_complete_and_bijective():
    """__spark_entry__ must expose every registered query exactly once,
    in the same order for queries() and oracle_sql(), with the COMPUTED
    rotation putting every never-validated query inside the driver's
    50-row snapshot window and filling any spare slots oldest-first."""
    import __spark_entry__ as e
    from pyspark_pipelining_spark.queries import ORACLES, QUERIES

    q, o = list(e.queries()), list(e.oracle_sql())
    assert q == o
    assert sorted(q) == sorted(QUERIES) == sorted(ORACLES)
    assert len(q) == len(set(q))
    # computed rotation: every query with no green driver row must sit
    # inside the driver's 50-row snapshot window (or, once fewer than
    # 50 remain unvalidated, the window tops up with the stalest rows)
    last = e._last_green_rounds()
    never = [k for k in QUERIES if k not in last]
    window = set(q[:50])
    assert set(never[:50]) <= window
    if len(never) < 50:
        stale_in_window = sorted(last[k] for k in window if k in last)
        all_rounds = sorted(last[k] for k in QUERIES if k in last)
        # the stale slots are filled oldest-first
        assert stale_in_window == all_rounds[: len(stale_in_window)]


def test_pipeline_manifest_records_runs_and_skips(spark, tmp_path):
    """The run manifest must capture stage order, dependency edges,
    ran/skipped status, and targets — and a re-run of an idempotent
    stage must record 'skipped' instead of 'ran'."""
    import json

    from pyspark_pipelining_spark.plans.dag import Pipeline, PipelineConfig

    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="m1")
    p = Pipeline(spark, cfg)

    @p.stage("base", materialize=True)
    def base(spark, cfg, up):
        return spark.range(5).withColumnRenamed("id", "k")

    @p.stage("doubled", requires=("base",))
    def doubled(spark, cfg, up):
        from pyspark.sql import functions as F

        return up["base"].select((F.col("k") * 2).alias("k2"))

    p.run("doubled")
    path = p.write_manifest()
    m = json.load(open(path))
    assert m["run_id"] == "m1"
    by_stage = {s["stage"]: s for s in m["stages"]}
    assert by_stage["base"]["status"] == "ran"
    assert by_stage["base"]["target"] is not None
    assert by_stage["doubled"]["status"] == "ran"
    assert by_stage["doubled"]["requires"] == ["base"]
    assert by_stage["doubled"]["target"] is None
    assert [s["stage"] for s in m["stages"]] == ["base", "doubled"]

    # second pipeline, same output/run_id: base must be skipped
    p2 = Pipeline(spark, cfg)
    p2.stage("base", materialize=True)(base)
    p2.run("base")
    assert p2.manifest[0]["status"] == "skipped"


def test_pipeline_manifest_records_failures(spark, tmp_path):
    from pyspark_pipelining_spark.plans.dag import Pipeline, PipelineConfig

    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="mf")
    p = Pipeline(spark, cfg)

    @p.stage("boom")
    def boom(spark_, cfg_, up):
        raise ValueError("nope")

    with pytest.raises(ValueError):
        p.run("boom")
    assert p.manifest[-1]["status"] == "failed"
    assert "ValueError: nope" in p.manifest[-1]["error"]


def test_bench_contention_probe_and_flag():
    """bench.py's host block must compute steal percentage from tick
    deltas and flag contention on ambient load or steal — and the live
    probe must read this host's /proc counters without error."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    live = bench._host_probe()
    assert "load1" in live and "total_ticks" in live

    idle = bench._contention(
        {"load1": 0.1, "total_ticks": 1000, "steal_ticks": 0},
        {"load1": 30.0, "total_ticks": 2000, "steal_ticks": 5},
    )
    assert idle["steal_pct"] == 0.5
    assert idle["contended"] is False  # load AFTER the run is our own

    stolen = bench._contention(
        {"load1": 0.1, "total_ticks": 1000, "steal_ticks": 0},
        {"load1": 30.0, "total_ticks": 2000, "steal_ticks": 50},
    )
    assert stolen["steal_pct"] == 5.0 and stolen["contended"] is True

    busy = bench._contention(
        {"load1": (os.cpu_count() or 1) * 0.5, "total_ticks": 1000, "steal_ticks": 0},
        {"load1": 1.0, "total_ticks": 2000, "steal_ticks": 0},
    )
    assert busy["contended"] is True

    empty = bench._contention({}, {})  # non-Linux: no counters, no crash
    assert empty["steal_pct"] == -1.0 and empty["contended"] is False


def test_stage_partition_by_writes_hive_layout_and_skips(spark, tmp_path):
    """Stage.partition_by (round 10): the materialization target is
    laid out as Hive-style partition directories, the read-back carries
    the partition column, and the second run skips via _SUCCESS exactly
    like an unpartitioned stage."""
    import os

    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.plans.dag import Pipeline, PipelineConfig
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    cfg = PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path), run_id="r")

    def build(pipe):
        @pipe.stage("ord_y", materialize=True, partition_by=("o_year",))
        def _s(spark, config, upstream):
            return load_table(spark, config.sf_dir, "orders").select(
                "o_orderkey", F.year("o_orderdate").alias("o_year")
            )

    p1 = Pipeline(spark, cfg)
    build(p1)
    df = p1.run("ord_y")
    target = os.path.join(str(tmp_path), "r", "ord_y")
    years = [d for d in os.listdir(target) if d.startswith("o_year=")]
    assert len(years) >= 2, years
    assert "o_year" in df.columns
    p2 = Pipeline(spark, cfg)
    build(p2)
    p2.run("ord_y")
    assert p2.manifest[-1]["status"] == "skipped"


def test_stage_partition_by_requires_materialize(spark, tmp_path):
    from pyspark_pipelining_spark.plans.dag import (
        Pipeline,
        PipelineConfig,
        PipelineError,
    )
    from tests.conftest import SF_SMOKE

    pipe = Pipeline(
        spark, PipelineConfig(sf_dir=SF_SMOKE, output_path=str(tmp_path))
    )
    import pytest

    with pytest.raises(PipelineError, match="partition_by"):

        @pipe.stage("bad", partition_by=("x",))
        def _s(spark, config, upstream):
            raise AssertionError("never runs")


def test_partitioned_cache_prunes_superseded_runs(spark, tmp_path, monkeypatch):
    """A regenerated input re-keys the run id; the janitor removes the
    superseded materialization under the same sf tag's OWN directory,
    keeps the current one, and structurally cannot touch other tags —
    each tag owns a whole subdirectory (r10 ADVICE item 3: the former
    flat prefix-parsed layout collapsed underscore-bearing basenames
    like sf_big/sf_small onto one prefix)."""
    import os

    import pyspark_pipelining_spark.queries_coverage as qc

    root = tmp_path / "dag"
    part = root / "partitioned"
    # stale key under the same tag dir: pruned
    (part / "sf0.001" / "111_222").mkdir(parents=True)
    # different tags — including one whose name is a PREFIX of the
    # current tag plus an underscore (the r10 ADVICE collision case):
    # both untouched
    (part / "sf0.01" / "1_2").mkdir(parents=True)
    (part / "sf0.001_extra" / "3_4").mkdir(parents=True)
    monkeypatch.setattr(qc, "_dag_cache_root", lambda: str(root))
    from tests.conftest import SF_SMOKE

    out = qc.q_partition_pruned_revenue(spark, SF_SMOKE)
    assert out.count() > 0
    kept = sorted(os.listdir(part / "sf0.001"))
    cur = qc._input_key(SF_SMOKE)
    assert cur in kept
    assert "111_222" not in kept
    assert sorted(os.listdir(part / "sf0.01")) == ["1_2"]
    assert sorted(os.listdir(part / "sf0.001_extra")) == ["3_4"]
