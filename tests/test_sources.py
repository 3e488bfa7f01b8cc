"""Source-layer tests: JDBC option plumbing (S7, no live DB needed) and
catalog introspection over registered views (S9)."""

from __future__ import annotations

import pytest

from pyspark_pipelining_spark.sources.registry import (
    SchemaError,
    check_timestamp_column,
    jdbc_options,
    list_columns,
    list_tables,
    load_table,
    probe_schema,
    table_exists,
)
from tests.conftest import SF_SMOKE


def _register_views(spark, names):
    """Every named smoke table as a temp view, under the names the
    DuckDB oracle uses."""
    for name in names:
        load_table(spark, SF_SMOKE, name).createOrReplaceTempView(name)


def test_jdbc_options_table_read():
    opts = jdbc_options("jdbc:postgresql://h/db", table="events", user="u", password="p")
    assert opts["url"] == "jdbc:postgresql://h/db"
    assert opts["dbtable"] == "events"
    assert opts["user"] == "u" and opts["password"] == "p"
    assert "query" not in opts


def test_jdbc_options_query_read():
    opts = jdbc_options("jdbc:x", query="select * from t where d = '2024-01-01'")
    assert opts["query"].startswith("select")
    assert "dbtable" not in opts


def test_jdbc_options_partitioned_read():
    opts = jdbc_options(
        "jdbc:x",
        table="events",
        partition_column="event_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
    )
    assert opts["partitionColumn"] == "event_id"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "1000000"
    assert opts["numPartitions"] == "32"


def test_jdbc_options_validation():
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_options("jdbc:x")
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_options("jdbc:x", table="t", query="select 1")
    with pytest.raises(ValueError, match="all of"):
        jdbc_options("jdbc:x", table="t", partition_column="id")
    with pytest.raises(ValueError, match="requires table"):
        jdbc_options(
            "jdbc:x",
            query="select 1",
            partition_column="id",
            lower_bound=0,
            upper_bound=1,
            num_partitions=2,
        )


def test_catalog_discovery_over_registered_views(spark):
    _register_views(spark, ["events", "nation"])
    tables = list_tables(spark)
    assert "events" in tables and "nation" in tables
    assert table_exists(spark, "events")
    assert not table_exists(spark, "no_such_table")
    cols = list_columns(spark, "events")
    assert set(cols) >= {"event_id", "ts", "user_id", "event_type", "value", "props"}
    assert "timestamp" in cols["ts"].lower()


def test_probe_schema_reads_no_rows(spark):
    _register_views(spark, ["nation"])
    schema = probe_schema(spark, "nation")
    assert [f.name for f in schema.fields][:2] == ["n_nationkey", "n_name"]


def test_check_timestamp_column(spark):
    _register_views(spark, ["events", "nation"])
    check_timestamp_column(spark, "events", "ts")  # passes
    with pytest.raises(SchemaError, match="must be a timestamp"):
        check_timestamp_column(spark, "events", "event_type")
    with pytest.raises(SchemaError, match="no column"):
        check_timestamp_column(spark, "nation", "ts")


def test_write_table_orc_round_trip(spark, tmp_path):
    """ORC sink round-trips values and partition pruning like parquet."""
    from pyspark_pipelining_spark.sources.sinks import write_table

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)], ["id", "grp", "v"]
    )
    out = str(tmp_path / "t_orc")
    write_table(df, out, partition_by=["grp"], format="orc")
    back = spark.read.orc(out)
    assert sorted((r["id"], r["grp"], r["v"]) for r in back.collect()) == [
        (1, "a", 10), (2, "b", 20), (3, "a", 30)
    ]
    # partition layout exists -> pruning applies on grp
    import os as _os
    assert any(d.startswith("grp=") for d in _os.listdir(out))


def test_write_table_rejects_unknown_format(spark, tmp_path):
    import pytest as _pytest

    from pyspark_pipelining_spark.sources.sinks import write_table

    df = spark.createDataFrame([(1,)], ["id"])
    with _pytest.raises(ValueError, match="unsupported table format"):
        write_table(df, str(tmp_path / "x"), format="avro")


def test_binary_file_source_feeds_sniffer(spark, tmp_path):
    """binaryFile ingestion: real PNG-signature files on disk read as
    binary rows, glob-pruned at listing time, size-filtered at the
    format, and the content column flows straight into the JVM header
    sniffer."""
    import struct

    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators.multimodal import sniff_headers
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    d = tmp_path / "media"
    d.mkdir()
    for i, (w, h) in enumerate([(320, 200), (64, 48)]):
        png = (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
            + struct.pack(">II", w, h) + b"\x00" * 5
        )
        (d / f"img{i}.png").write_bytes(png)
    (d / "ignore.txt").write_bytes(b"not media")
    (d / "huge.png").write_bytes(b"\x89PNG" + b"\x00" * 10_000)

    df = load_binary_files(spark, str(d), glob="*.png", max_bytes=1000)
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 2  # txt glob-pruned, huge size-filtered
    media = df.select(
        F.monotonically_increasing_id().alias("media_id"),
        F.col("content").alias("payload"),
    )
    sniffed = {
        (r["sniffed_width"], r["sniffed_height"])
        for r in sniff_headers(media).collect()
    }
    assert sniffed == {(320, 200), (64, 48)}


def test_parquet_merge_schema_reads_evolved_lake(spark, tmp_path):
    """mergeSchema surfaces columns added after older files were
    written (NULL for pre-evolution rows) — and the declared-schema
    default path stays strict."""
    from pyspark_pipelining_spark.sources.registry import read_parquet_merged

    d = str(tmp_path / "lake")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.mode("append").parquet(d)
    df = read_parquet_merged(spark, d)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


# ---------------------------------------------------------------------------
# load_table's per-session schema memo (files written under tmp_path)
# ---------------------------------------------------------------------------


def _write_nation(path, with_regionkey: bool = True) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "n_nationkey": pa.array([0, 1, 2], pa.int64()),
        "n_name": pa.array(["ALGERIA", "BRAZIL", "CHINA"]),
    }
    if with_regionkey:
        cols["n_regionkey"] = pa.array([0, 1, 2], pa.int64())
    pq.write_table(pa.table(cols), str(path))


def test_load_table_infers_a_file_schema_once_per_session(spark, tmp_path):
    """The session's second load of an unchanged file reuses the schema
    inferred by the first and runs no Spark job; schema and rows match."""
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import count_jobs

    _write_nation(tmp_path / "nation.parquet")
    first, first_jobs = count_jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    again, jobs = count_jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert first_jobs >= 1  # the schema-inference job the memo saves
    assert jobs == 0
    assert again.schema == first.schema
    rows = sorted(map(tuple, first.collect()))
    assert rows == [(0, "ALGERIA", 0), (1, "BRAZIL", 1), (2, "CHINA", 2)]
    assert sorted(map(tuple, again.collect())) == rows


def test_load_table_reinfers_a_rewritten_file(spark, tmp_path):
    """A file rewritten at the same path has a new identity, so its
    schema is inferred again and a dropped declared column still fails
    fast."""
    from pyspark_pipelining_spark.sources.registry import load_table

    path = tmp_path / "nation.parquet"
    _write_nation(path)
    load_table(spark, str(tmp_path), "nation")
    _write_nation(path, with_regionkey=False)
    with pytest.raises(SchemaError, match="n_regionkey"):
        load_table(spark, str(tmp_path), "nation")


def test_memoized_read_converts_nanos_and_ntz_timestamps(spark, tmp_path):
    """TIMESTAMP(NANOS) columns (read as long, then converted) and NTZ
    columns (cast under the UTC pin) come out as ``TimestampType`` with
    the same epoch micros from the first and the memoized read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pyspark_pipelining_spark.sources.registry import load_table

    micros = [1_704_164_645_123_456, 86_400_000_000]  # 2024-01-02 03:04:05.123456, 1970-01-02
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([m * 1000 + 789 for m in micros], pa.timestamp("ns")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": pa.array(["view", "click"]),
                "value": pa.array([1.0, 2.0]),
                "props": pa.array(["{}", "{}"]),
            }
        ),
        str(tmp_path / "events.parquet"),
        coerce_timestamps=None,
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_custkey": pa.array([7, 8], pa.int64()),
                "o_orderstatus": pa.array(["O", "F"]),
                "o_totalprice": pa.array([1.5, 2.5]),
                "o_orderdate": pa.array(micros, pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    for table, col, key in (("events", "ts", "event_id"), ("orders", "o_orderdate", "o_orderkey")):
        for _ in range(2):  # the first read infers, the second is memoized
            df = load_table(spark, str(tmp_path), table)
            assert isinstance(df.schema[col].dataType, T.TimestampType)
            got = [r[0] for r in df.orderBy(key).select(F.unix_micros(col)).collect()]
            assert got == micros, (table, got)


def test_spread_replans_a_loaded_file_when_split_confs_change(spark, tmp_path):
    """``spread`` reuses a loaded file's memoized split count only while
    the split confs it was planned under still hold."""
    from pyspark_pipelining_spark.sources.registry import load_table, spread

    _write_nation(tmp_path / "nation.parquet")
    target = spark.sparkContext.defaultParallelism
    one_split = load_table(spark, str(tmp_path), "nation")
    assert spread(one_split).rdd.getNumPartitions() == target
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
    try:
        many_splits = load_table(spark, str(tmp_path), "nation")
        assert many_splits.rdd.getNumPartitions() > target
        assert spread(many_splits) is many_splits
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
