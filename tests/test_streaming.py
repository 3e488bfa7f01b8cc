"""Streaming slice: live operators and registered query plans run
unchanged under the Structured Streaming runtime (availableNow
triggers into a memory sink or through foreachBatch), and the streamed
result equals the batch result exactly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark_pipelining_spark.sources.registry import load_table
from tests.conftest import SF_SMOKE


def _run(writer) -> None:
    """Start ``writer`` with an availableNow trigger and wait for it to
    drain its source."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()


def _drain(stream_df, name: str, output_mode: str):
    """Run ``stream_df`` into the memory sink ``name``; return that
    table."""
    _run(stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return stream_df.sparkSession.table(name)


def _for_each_batch(stream_df, sink, checkpoint: str) -> None:
    """Run ``stream_df``, handing every micro-batch to
    ``sink(batch_df, batch_id)``."""
    _run(stream_df.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint))


def test_corpus_prep_stages_run_on_streams(spark, tmp_path):
    """The text/corpus operators are stateless per-row transforms, so the
    same code must run unchanged over a Structured Streaming source —
    the micro-batch ingest shape of a continuously-crawled corpus.
    Stream results (quality + language + PII scrub over a parquet
    stream) must equal the batch run bit-for-bit."""
    from pyspark_pipelining_spark.operators import corpus as corpus_ops
    from pyspark_pipelining_spark.operators import text as text_ops

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_in")
    docs.write.mode("overwrite").parquet(src)

    def prep(df):
        qual = text_ops.quality_score(df).select("doc_id", "quality")
        lang = text_ops.language_id(df).select("doc_id", "pred_lang")
        clean = corpus_ops.scrub_pii(df).select("doc_id", "clean")
        return qual.join(lang, "doc_id").join(clean, "doc_id")

    stream = spark.readStream.schema(docs.schema).parquet(src)
    _drain(prep(stream), "corpus_ingest", "append")
    got = sorted(map(tuple, spark.sql("select * from corpus_ingest").collect()))
    want = sorted(map(tuple, prep(docs).collect()))
    assert got == want and len(got) > 0


def test_streaming_cms_partials_merge_to_batch_sketch(spark, tmp_path):
    """Per-micro-batch CMS partials must merge (cell-wise sum) to
    EXACTLY the batch sketch of the whole corpus — the sketch's
    mergeability, exercised operationally."""
    from pyspark_pipelining_spark.operators.sketch import cms_merge, cms_sketch

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)  # several files -> several batches

    batch = cms_sketch(docs.select("source"), "source", width=64).select("d", "bucket", "c")
    partials: list = []
    n_batches = [0]

    def sink(batch_df, _batch_id):
        n_batches[0] += 1
        partials.extend(cms_sketch(batch_df, "source", width=64).select("d", "bucket", "c").collect())

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("source")
    )
    _for_each_batch(stream, sink, str(tmp_path / "ckpt"))
    assert n_batches[0] > 1  # a single batch would not exercise the merge
    merged = sorted(map(tuple, cms_merge(spark.createDataFrame(partials, batch.schema)).collect()))
    want = sorted(map(tuple, batch.collect()))
    assert merged == want and len(merged) > 0


def test_streaming_hll_register_maintenance_matches_batch(spark, tmp_path):
    """The 100 TB shape for streaming distinct counts: each micro-batch
    carries (day|bucket) → max-rho register deltas, and the sink merges
    them into the register state with max (idempotent, so replays and
    overlaps are safe).  The folded state must be IDENTICAL to the
    batch register table over all events — hence every downstream
    estimate (windowed or not) agrees with batch exactly."""
    from pyspark_pipelining_spark.operators.sketch import hll_registers

    ev = load_table(spark, SF_SMOKE, "events").select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("uid")
    )
    # three deterministic chunks -> three micro-batches
    src = str(tmp_path / "deltas")
    os.makedirs(src)
    for i in range(3):
        regs = hll_registers(
            ev.filter(F.pmod(F.crc32("uid"), F.lit(3)) == i), "day", "uid"
        ).select(
            F.concat_ws("|", F.col("day").cast("string"), F.col("bucket")).alias("k"),
            F.col("r"),
        )
        regs.toPandas().to_parquet(f"{src}/chunk{i}.parquet")

    streamed: dict[str, int] = {}

    def sink(batch_df, _batch_id):
        for r in batch_df.groupBy("k").agg(F.max("r").alias("r")).collect():
            streamed[r["k"]] = max(streamed.get(r["k"], 0), r["r"])

    stream = (
        spark.readStream.schema("k string, r int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _for_each_batch(stream, sink, str(tmp_path / "ckpt"))
    batch = {
        f"{r['day']}|{r['bucket']}": r["r"]
        for r in hll_registers(ev, "day", "uid").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_price_histogram_bins_stream_matches_batch(spark, tmp_path):
    """The round-9 staged quantile sketch's state is a bounded
    mergeable (flag, $100-bin) count map — exactly the shape
    Structured Streaming folds incrementally.  The availableNow replay
    of the bin aggregation must equal the batch fold bin-for-bin,
    which is what makes the sketch the streamable replacement for
    exact quantiles (a global order statistic has no streaming form)."""
    import pyspark.sql.types as T

    from pyspark_pipelining_spark.queries_mining import QSKETCH_BIN_CENTS

    bin_expr = F.expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        f" div {QSKETCH_BIN_CENTS}"
    )
    static = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    batch = static.groupBy("l_returnflag", bin_expr.alias("bin")).agg(
        F.count(F.lit(1)).alias("ni")
    )

    d = str(tmp_path / "li_stream")
    os.makedirs(d)
    os.symlink(f"{SF_SMOKE}/lineitem.parquet", os.path.join(d, "lineitem.parquet"))
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .groupBy("l_returnflag", bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    result = _drain(stream, "price_bins_stream", "complete")
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in result.collect())
    assert b == s and len(b) > 0


def test_session_window_stream_matches_batch(spark, tmp_path):
    """The round-10 staged session_window query's plan is
    streaming-native: the same groupBy(session_window) under
    availableNow + a 0s watermark must emit exactly the batch
    sessions.  Append mode only flushes sessions the watermark has
    passed and the watermark only advances at batch boundaries, so the
    input splits into two files (maxFilesPerTrigger=1) with a
    far-future sentinel event per user in the second — the sentinel
    batch pushes the watermark past every real session; sentinel
    sessions are excluded from the compare by their start time."""
    import datetime as dt
    import time

    import pandas as pd
    import pyspark.sql.types as T

    base = dt.datetime(2024, 1, 1)
    real = []
    for u in (1, 2, 3):
        # one 5-event session with 20-min gaps, then an isolated event
        for k in range(5):
            real.append((u, base + dt.timedelta(minutes=20 * k + u), float(k)))
        real.append((u, base + dt.timedelta(hours=5, minutes=u), 9.0))
    sentinel = [(u, dt.datetime(2100, 1, 1), 0.0) for u in (1, 2, 3)]
    d = tmp_path / "sw_src"
    d.mkdir()

    def write(rows, name):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(d / name)

    write(real, "a_real.parquet")
    time.sleep(1.1)  # the file source orders batches by mod time
    write(sentinel, "b_sentinel.parquet")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.expr("unix_micros(session_window.start)").alias("start_us"),
                F.expr("unix_micros(session_window.end)").alias("end_us"),
                "n_events",
            )
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withWatermark("ts", "0 seconds")
    )
    streamed = sorted(
        map(tuple, _drain(sessions(stream), "sw_sessions", "append").collect())
    )
    cut = int(dt.datetime(2099, 1, 1).timestamp() * 1e6)
    batch = sorted(
        tuple(r)
        for r in sessions(spark.read.schema(schema).parquet(str(d))).collect()
        if r["start_us"] < cut
    )
    assert [r for r in streamed if r[1] < cut] == batch
    assert len(batch) == 6  # 2 sessions per user, none dropped


def test_registered_session_window_callable_streams_foreachbatch(spark, tmp_path):
    """r09 verdict item 8: the registered surface and the streaming
    surface are ONE plan.  ``q_session_window_stats`` (a registered
    driver-contract query) delegates to ``session_windows_plan``; this
    test executes that SAME function under the Structured Streaming
    runtime — a readStream over the µs-normalized events feed, driven
    through foreachBatch with availableNow — and asserts the streamed
    rows are identical to the registered callable's batch rows.  One
    source file → one micro-batch, so every session completes inside
    the trigger (the incremental/watermark semantics of the plan are
    pinned separately by test_session_window_stream_matches_batch)."""
    from pyspark_pipelining_spark.queries import QUERIES
    from pyspark_pipelining_spark.queries_analytics import session_windows_plan

    src = str(tmp_path / "events_us")
    load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "value"
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    got: list[tuple] = []

    def sink(batch_df, _batch_id):
        got.extend(map(tuple, session_windows_plan(batch_df).collect()))

    stream = spark.readStream.schema(schema).parquet(src)
    _for_each_batch(stream, sink, str(tmp_path / "ck"))

    want = sorted(
        map(tuple, QUERIES["session_window_stats"](spark, SF_SMOKE).collect())
    )
    assert sorted(got) == want
    assert len(want) > 0


def test_registered_hll_register_merge_streams_foreachbatch(spark, tmp_path):
    """r10 verdict item 4: ``hll_register_merge``'s register fold IS
    the per-day-stream shape its docstring claims — prove it under the
    Structured Streaming runtime.  The SAME token plan and register
    operators the registered callable uses (``_hll_tokens_plan`` →
    ``hll_registers``) run per micro-batch over a readStream of the
    documents table (maxFilesPerTrigger=1, several files → several
    batches); each batch lands its ≤ m-row partial register table and
    the sink max-merges across batches — exactly the merge law the
    registered query proves in-plan.  The streamed merge's register
    count and estimate (computed by the same ``hll_estimate``) must
    equal the registered callable's ``n_regs_*`` / ``est_*`` columns
    bit-for-bit."""
    from pyspark_pipelining_spark.operators.sketch import hll_estimate, hll_registers
    from pyspark_pipelining_spark.queries import QUERIES
    from pyspark_pipelining_spark.queries_corpus import _hll_tokens_plan

    src = str(tmp_path / "docs_stream")
    load_table(spark, SF_SMOKE, "documents").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    merged: dict[int, int] = {}
    n_batches = [0]

    def sink(batch_df, _batch_id):
        n_batches[0] += 1
        regs = hll_registers(_hll_tokens_plan(batch_df), "g", "token").collect()
        for r in regs:
            merged[r["bucket"]] = max(merged.get(r["bucket"], 0), r["r"])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _for_each_batch(stream, sink, str(tmp_path / "ck"))

    assert n_batches[0] > 1  # a single batch would not exercise the merge
    regs_df = spark.createDataFrame(
        [("all", b, r) for b, r in merged.items()], "g string, bucket long, r long"
    )
    streamed = hll_estimate(regs_df, "g", include_registers=True).collect()[0]
    want = QUERIES["hll_register_merge"](spark, SF_SMOKE).collect()[0]
    assert want["n_regs_merged"] == want["n_regs_direct"] == len(merged)
    assert streamed["n_regs"] == len(merged)
    # bit-identical, not approximate: same integer registers, same
    # single float division
    assert streamed["est_distinct"] == want["est_merged"] == want["est_direct"]


def test_wav_window_features_streams_foreachbatch(spark, tmp_path):
    """The ``wav_features`` fold is per-file and
    stateless — exactly the shape a 100 TB media-lake ingest stream
    needs (new files arrive, each decodes independently, no cross-file
    state).  Prove the SAME operator plan runs under the Structured
    Streaming runtime: a binaryFile readStream (one file per
    micro-batch, pathGlobFilter pruning at listing time like the batch
    reader) drives the identical function through foreachBatch, and
    the union of per-batch outputs must equal the batch plan's rows
    bit-for-bit — registered-surface ≡ streaming-surface, the
    ``session_window_stats`` / ``hll_register_merge`` one-plan
    pattern."""
    import shutil

    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.queries_ann_media import WAV_FIXTURE_DIR
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    src = str(tmp_path / "lake")
    shutil.copytree(WAV_FIXTURE_DIR, src)
    schema = spark.read.format("binaryFile").load(src).schema

    got: list[tuple] = []
    n_batches = [0]

    def sink(batch_df, _batch_id):
        n_batches[0] += 1
        got.extend(tuple(r) for r in wav_features(batch_df).collect())

    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.wav")
        .load(src)
    )
    _for_each_batch(stream, sink, str(tmp_path / "ck"))

    assert n_batches[0] > 1  # one batch would not exercise incremental arrival
    want = [
        tuple(r)
        for r in wav_features(load_binary_files(spark, src, glob="*.wav")).collect()
    ]
    assert sorted(got) == sorted(want)
    assert len(want) > 0


def test_staged_cms_merge_parity_streams_foreachbatch(spark, tmp_path):
    """The staged ``cms_merge_parity`` proves counter-ADDITION merge
    in-plan; prove the same fold under the Structured Streaming
    runtime — the merge law CMS exists for: each micro-batch lands a
    ≤ depth×width partial counter table and the sink ADDS cells across
    batches (unlike HLL's idempotent max, re-adding a batch would
    double-count — exactly-once batch semantics carry the correctness
    here).  The SAME token plan (``_cms_token_counts``) and sketch
    operators the staged callable uses run per batch; the summed
    stream table must have the staged query's ``n_cells`` support and
    reproduce ``est_merged`` / ``est_direct`` for every top-k token
    bit-for-bit."""
    from pyspark_pipelining_spark.operators.sketch import cms_estimate, cms_sketch
    from pyspark_pipelining_spark.queries_corpus import (
        CMSM_DEPTH,
        CMSM_K,
        CMSM_WIDTH,
        _cms_token_counts,
        q_cms_merge_parity,
    )

    src = str(tmp_path / "docs_stream")
    load_table(spark, SF_SMOKE, "documents").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    merged: dict[tuple[int, int], int] = {}
    n_batches = [0]

    def sink(batch_df, _batch_id):
        n_batches[0] += 1
        counts = (
            _cms_token_counts(batch_df)
            .groupBy("token")
            .agg(F.sum("n").alias("n"))
        )
        part = cms_sketch(
            counts, "token", weight_col="n", depth=CMSM_DEPTH, width=CMSM_WIDTH
        ).collect()
        for r in part:
            key = (r["d"], r["bucket"])
            merged[key] = merged.get(key, 0) + r["c"]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _for_each_batch(stream, sink, str(tmp_path / "ck"))

    assert n_batches[0] > 1  # a single batch would not exercise the merge
    want = q_cms_merge_parity(spark, SF_SMOKE).collect()
    assert len(want) == CMSM_K
    assert want[0]["n_cell_mismatch"] == 0
    # identical support: the streamed sum touches exactly the cells the
    # staged query's two tables agree on
    assert want[0]["n_cells"] == len(merged)
    regs_df = spark.createDataFrame(
        [(d, b, c) for (d, b), c in merged.items()], "d int, bucket long, c long"
    )
    cand = spark.createDataFrame([(r["token"],) for r in want], "token string")
    est = {
        r["token"]: r["est"]
        for r in cms_estimate(
            regs_df, cand, "token", depth=CMSM_DEPTH, width=CMSM_WIDTH
        ).collect()
    }
    for r in want:
        assert est[r["token"]] == r["est_merged"] == r["est_direct"]


def test_staged_kmv_merge_parity_streams_foreachbatch(spark, tmp_path):
    """Streaming one-plan proof for the fourth merge law (the staged
    ``kmv_merge_parity`` — r11 verdict item 4): each micro-batch lands
    its own k-min set via the SAME hash plan the staged callable uses
    (``_kmv_source_hashes``), and the sink merges by
    UNION-THEN-RETAIN-K-SMALLEST — an order-statistics truncation,
    not a pointwise fold.  The law is IDEMPOTENT (re-merging a
    partial is a no-op, so at-least-once delivery is safe — pinned
    here by re-applying the final batch and asserting the state is
    unchanged, the property CMS addition does NOT have), and the
    stream-merged set must equal the staged query's ranked
    ``h_merged`` column bit-for-bit."""
    from pyspark_pipelining_spark.queries_corpus import (
        KMVP_K,
        _kmv_source_hashes,
        q_kmv_merge_parity,
    )

    src = str(tmp_path / "docs_stream")
    load_table(spark, SF_SMOKE, "documents").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    state: list[int] = []
    last_partial: list[list[int]] = [[]]
    n_batches = [0]

    def merge(cur: list[int], partial: list[int]) -> list[int]:
        return sorted(set(cur) | set(partial))[:KMVP_K]

    def sink(batch_df, _batch_id):
        n_batches[0] += 1
        hs = sorted(
            r["h"] for r in _kmv_source_hashes(batch_df).select("h").distinct().collect()
        )
        partial = hs[:KMVP_K]
        last_partial[0] = partial
        state[:] = merge(state, partial)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _for_each_batch(stream, sink, str(tmp_path / "ck"))

    assert n_batches[0] > 1  # a single batch would not exercise the merge
    # idempotence: re-delivering the final micro-batch changes nothing
    assert merge(state, last_partial[0]) == state
    want = q_kmv_merge_parity(spark, SF_SMOKE).collect()
    assert want and want[0]["n_set_mismatch"] == 0
    assert [r["h_merged"] for r in want] == state
    assert want[0]["est_merged"] == want[0]["est_direct"]


def test_registered_doclen_sketch_merge_streams_foreachbatch(spark, tmp_path):
    """Streaming one-plan proof for the histogram member of the
    mergeable-sketch trio (HLL max-merge and CMS sum-merge have theirs
    above): each micro-batch lands the SAME bounded bin fold the
    registered ``doclen_sketch_merge`` uses (``_doclen_bin_counts``),
    the sink ADDS bin counts across batches (integer-addition merge
    law), and the SAME estimator (``_doclen_estimates``) over the
    stream-merged table must reproduce the registered query's
    ``n`` / ``p50`` / ``p90`` / ``p99`` — merged AND direct columns —
    bit-for-bit."""
    from pyspark_pipelining_spark.queries import QUERIES
    from pyspark_pipelining_spark.queries_mining import (
        _doclen_bin_counts,
        _doclen_estimates,
    )

    src = str(tmp_path / "docs_stream")
    load_table(spark, SF_SMOKE, "documents").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    merged: dict[int, int] = {}
    n_batches = [0]

    def sink(batch_df, _batch_id):
        n_batches[0] += 1
        for r in _doclen_bin_counts(batch_df).collect():
            merged[r["bin"]] = merged.get(r["bin"], 0) + r["ni"]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _for_each_batch(stream, sink, str(tmp_path / "ck"))

    assert n_batches[0] > 1  # a single batch would not exercise the merge
    bins_df = spark.createDataFrame(
        sorted(merged.items()), "bin bigint, ni bigint"
    )
    streamed = _doclen_estimates(bins_df, "s").collect()[0]
    want = QUERIES["doclen_sketch_merge"](spark, SF_SMOKE).collect()[0]
    assert streamed["n_s"] == want["n_merged"] == want["n_direct"]
    for p in (50, 90, 99):
        assert (
            streamed[f"p{p}_s"] == want[f"p{p}_merged"] == want[f"p{p}_direct"]
        )
