"""Declared-schema registry + parquet sources with fail-fast validation.

The reference had *implicit* schemas (Hive metastore at read time) and
validated column presence ad hoc at runtime — raising ``ValueError`` when
a requested dimension was missing (reference ``metrics/helpers/
make_media.py:32-34``) and a custom ``DataException`` for missing
``date``/``timestamp``/``impressions`` columns (reference
``dataQA/dailyQA.py:131-147``).  The rebuild makes the schema a declared,
first-class ``StructType`` per table and keeps the same fail-fast
semantics through :func:`require_columns` / :class:`SchemaError`.

Scale note: every load is a ``spark.read.parquet`` scan — the
vectorized parquet reader + Catalyst column pruning / predicate pushdown
apply untouched.  The first load of a file in a session infers its
schema (one Spark job); later loads of the unchanged file pass that
verified schema to the reader and run no inference job (see
:func:`load_table`).  At 100 TB the same call reads a date-partitioned
directory tree and partition pruning is automatic for ``date``-filtered
queries.
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaError(ValueError):
    """Raised when an input table is missing required columns.

    Mirrors the reference's fail-fast guards (``DataException`` in
    ``dataQA/dataExceptions.py:4-14``; ``ValueError`` in
    ``metrics/helpers/make_media.py:32-34``).
    """


#: Every driver testdata table, declared (SURVEY.md §1.2: the rebuild
#: replaces metastore-implicit schemas with a declared registry).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.LongType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.LongType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def require_columns(df: DataFrame, cols: list[str], table: str = "<df>") -> DataFrame:
    """Fail fast if ``cols`` are not all present (reference semantics:
    ``make_media.py:32-34``, ``dailyQA.py:131-147``)."""
    have = df.columns
    missing = [c for c in cols if c not in have]
    if missing:
        raise SchemaError(f"table {table!r} is missing required columns {missing}; has {have}")
    return df


#: Confs that decide how many splits a file scan plans into.
_SPLIT_CONFS: tuple[str, ...] = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)


@dataclass(slots=True)
class _Scan:
    """What one session has learned about one lake file: the schema
    inferred from it, and (once :func:`spread` asked) its scan split
    count with the :data:`_SPLIT_CONFS` values it was planned under."""

    identity: tuple[int, int, int]
    schema: T.StructType
    splits: tuple[tuple[str | None, ...], int] | None = None


#: session → absolute path → :class:`_Scan`.  Only file metadata lives
#: here: no data, results or plans.  A new session starts empty.
_SCANS: weakref.WeakKeyDictionary[SparkSession, dict[str, _Scan]] = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read ``path`` (a lake file, or a directory a pipeline stage
    wrote), inferring its schema only on the session's first reference
    to the path as it is now.

    The path's identity is its ``(st_ino, st_mtime_ns, st_size)``; a
    rewritten path gets a new identity and is inferred again, so schema
    drift still surfaces.  A path ``os.stat`` cannot see (a remote URI)
    has no identity and is inferred on every read.  The frame carries
    the path's memo entry, so :func:`spread` can reuse its split
    count."""
    try:
        st = os.stat(path)
    except OSError:
        df = spark.read.parquet(path)
        df._lake_scan = None
        return df
    identity = (st.st_ino, st.st_mtime_ns, st.st_size)
    scans = _SCANS.setdefault(spark, {})
    key = os.path.abspath(path)
    scan = scans.get(key)
    if scan is not None and scan.identity == identity:
        df = spark.read.schema(scan.schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        scan = scans[key] = _Scan(identity, df.schema)
    df._lake_scan = scan
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, validating declared columns are present.

    The declared schema is never forced onto the reader — parquet
    already carries types, and a forced schema would silence drift.
    The reader gets the schema inferred from the file itself: the
    session's first load of the file infers it (one Spark job), and
    later loads of the unchanged file pass that schema and run no
    inference job.  Every load then verifies the declared columns all
    exist (fail-fast) and lets any extra columns pass through.

    Nanosecond-precision parquet timestamps (which Spark's vectorized
    reader rejects) are read as long via the legacy conf and converted to
    microsecond timestamps here, so every consumer sees the declared
    ``TimestampType``.

    Parquet timestamps written without ``isAdjustedToUTC`` surface as
    ``TIMESTAMP_NTZ`` under Spark 4's NTZ inference; downstream epoch
    arithmetic (``unix_micros``) rejects NTZ.  With the session timezone
    pinned to UTC, casting NTZ→TIMESTAMP reproduces the exact epoch
    micros stored in the file, so every consumer (and the DuckDB oracle,
    which computes on naive timestamps) sees identical values.

    The returned frame carries its file's memo entry, so :func:`spread`
    can reuse the scan's split count instead of planning it again.
    """
    if name not in SCHEMAS:
        raise SchemaError(f"unknown table {name!r}; registry has {sorted(SCHEMAS)}")
    # runtime-settable; makes TIMESTAMP(NANOS) readable as long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    scan = df._lake_scan
    df = require_columns(df, [f.name for f in SCHEMAS[name].fields], name)
    for field in SCHEMAS[name].fields:
        actual = df.schema[field.name].dataType
        if isinstance(field.dataType, T.TimestampType) and isinstance(actual, T.LongType):
            # nanos since epoch → microsecond timestamp (floor division
            # matches DuckDB's ns→us truncation for positive epochs)
            df = df.withColumn(field.name, F.expr(f"timestamp_micros({field.name} div 1000)"))
        elif isinstance(field.dataType, T.TimestampType) and isinstance(
            actual, T.TimestampNTZType
        ):
            # NTZ wall-clock == epoch wall-clock only under UTC.  The
            # engine's whole timestamp contract (unix_micros arithmetic,
            # date_trunc vs the naive-timestamp DuckDB oracle) assumes a
            # UTC session, so pin it and FAIL LOUDLY if the session ends
            # up non-UTC — a silent fallback would shift every epoch
            # value downstream with no error.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            if spark.conf.get("spark.sql.session.timeZone") != "UTC":
                raise SchemaError(
                    f"table {name!r} has a TIMESTAMP_NTZ column "
                    f"({field.name}); reading it requires a UTC session "
                    "timezone, but spark.sql.session.timeZone="
                    f"{spark.conf.get('spark.sql.session.timeZone')!r} "
                    "could not be pinned to UTC"
                )
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    df._lake_scan = scan  # projections above keep the scan's partitioning
    return df


# ---------------------------------------------------------------------------
# JDBC / warehouse source (SURVEY §2 S7)
# ---------------------------------------------------------------------------


def jdbc_options(
    url: str,
    table: str | None = None,
    query: str | None = None,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
) -> dict[str, str]:
    """Validated option dict for a ``spark.read.format('jdbc')`` load
    (pure — unit-testable without a live database).

    Replaces the reference's psycopg2 connection + ``pd.read_sql``
    (``dataQA/dailyConnection.py:5-14``, ``dailyQAHelpers.py:15,36``):
    ``table=`` maps a bare table read, ``query=`` maps an arbitrary SQL
    pull.  For parallel extraction, ``partition_column`` +
    ``lower_bound``/``upper_bound``/``num_partitions`` split the read
    into ``num_partitions`` range-predicated scans — the difference
    between a single-connection driver pull (the reference's shape,
    which caps at one cursor's throughput) and a cluster-wide ingest.
    """
    if (table is None) == (query is None):
        raise ValueError("exactly one of table= or query= is required")
    opts: dict[str, str] = {"url": url, "fetchsize": str(fetchsize)}
    if table is not None:
        opts["dbtable"] = table
    else:
        opts["query"] = query  # type: ignore[assignment]
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    if driver is not None:
        opts["driver"] = driver
    part = (partition_column, lower_bound, upper_bound, num_partitions)
    if any(p is not None for p in part):
        if any(p is None for p in part):
            raise ValueError(
                "partitioned reads need all of partition_column, lower_bound, "
                "upper_bound, num_partitions"
            )
        if query is not None:
            raise ValueError("partition_column requires table=, not query=")
        opts.update(
            partitionColumn=str(partition_column),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    predicates: list[str] | None = None,
    **kwargs,
) -> DataFrame:
    """JDBC/warehouse source (SURVEY §2 S7; reference
    ``dataQA/dailyConnection.py:5-14`` + every ``pd.read_sql`` call in
    ``dailyQAHelpers.py``).

    ``predicates`` gives one partition per predicate string (Spark's
    classic ``spark.read.jdbc(..., predicates=...)`` path — the direct
    analog of the reference slicing its pulls by date literal).
    Otherwise builds a ``format('jdbc')`` load from
    :func:`jdbc_options`, including range-partitioned parallel scans.
    Filters and projections on the returned frame push down into the
    remote engine's WHERE clause (Catalyst JDBC pushdown), so
    ``read_jdbc(...).filter(...)`` does not ship the whole table.
    """
    if predicates is not None:
        if table is None:
            raise ValueError("predicates= requires table=")
        props = {
            k: v
            for k, v in (
                ("user", kwargs.get("user")),
                ("password", kwargs.get("password")),
                ("driver", kwargs.get("driver")),
            )
            if v is not None
        }
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    return spark.read.format("jdbc").options(**jdbc_options(url, table, **kwargs)).load()


# ---------------------------------------------------------------------------
# Catalog introspection (SURVEY §2 S9)
# ---------------------------------------------------------------------------


def list_tables(spark: SparkSession, database: str | None = None) -> list[str]:
    """Table names visible in the catalog (reference ``check_tables``'
    ``pg_table_def`` scan, ``dataQA/dailyQAHelpers.py:6-19``)."""
    return [t.name for t in spark.catalog.listTables(database)]


def table_exists(spark: SparkSession, name: str) -> bool:
    """Existence probe (reference ``dailyQAHelpers.py:15-18``:
    missing ad table → degrade, missing log table → fail)."""
    return spark.catalog.tableExists(name)


def list_columns(spark: SparkSession, table: str) -> dict[str, str]:
    """``{column: dataType}`` for a catalog table or temp view
    (reference ``ad_cols``/``log_cols`` column pulls,
    ``dataQA/dailyQA.py:66-80``)."""
    return {c.name: c.dataType for c in spark.catalog.listColumns(table)}


def probe_schema(spark: SparkSession, table: str) -> T.StructType:
    """Zero-row schema probe — the ``select * from t limit 0`` trick
    (reference ``dailyQA.py:66-70``) without reading any data."""
    return spark.table(table).limit(0).schema


def check_timestamp_column(spark: SparkSession, table: str, col: str = "ts") -> None:
    """Fail fast unless ``table.col`` is a timestamp (reference
    ``check_timestamp``, ``dailyQAHelpers.py:32-41``)."""
    cols = list_columns(spark, table)
    if col not in cols:
        raise SchemaError(f"table {table!r} has no column {col!r}; has {sorted(cols)}")
    if "timestamp" not in cols[col].lower():
        raise SchemaError(
            f"column {table}.{col} must be a timestamp for hour-shift queries; is {cols[col]}"
        )


def spread(df: DataFrame) -> DataFrame:
    """Ensure at least ``defaultParallelism`` partitions before a
    compute-heavy stage (shingling, signature folds, per-doc features).

    Small local scans arrive as a single parquet split, which would pin
    all downstream array/codegen work to one core.  At cluster scale a
    100 TB table has thousands of splits, so the partition count already
    exceeds the target and this is a no-op — no shuffle is added.

    Streaming frames pass through untouched (micro-batch partitioning
    is decided by the source at runtime, and ``.rdd`` is illegal on a
    streaming plan) — this keeps every operator built on top of
    ``spread`` (text features, shingling, scrubbing) stream-compatible.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) < target:
        return df.repartition(target)
    return df


def _num_partitions(df: DataFrame) -> int:
    """``df``'s partition count.  ``df.rdd`` runs a physical planning
    pass on every call, so a frame :func:`load_table` returned uses its
    file's memoized split count while the split confs are unchanged."""
    scan = vars(df).get("_lake_scan")
    if scan is None:
        return df.rdd.getNumPartitions()
    confs = tuple(df.sparkSession.conf.get(k, None) for k in _SPLIT_CONFS)
    if scan.splits is None or scan.splits[0] != confs:
        scan.splits = (confs, df.rdd.getNumPartitions())
    return scan.splits[1]


# ---------------------------------------------------------------------------
# Fixtures, media files and evolved lakes
# ---------------------------------------------------------------------------


def fixtures_dir(name: str) -> str:
    """Absolute path of a committed fixture set (``fixtures/<name>`` at
    the repo root), derived from the package location at import time so
    oracle SQL built from it carries the right path wherever the repo
    sits — the single home for the derivation ``queries_ann_media``
    (audio) and the staged png query (images) share."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "fixtures",
        name,
    )


def sql_str_literal(s: str) -> str:
    """Escape a string for embedding inside a single-quoted SQL literal
    (ANSI doubling, understood by both DuckDB and Spark SQL).  Every
    oracle string that interpolates a filesystem path (the fixture
    dirs above) must pass through this — a checkout path containing a
    quote would otherwise truncate the literal (r09 ADVICE)."""
    return s.replace("'", "''")


def load_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-media ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with ``path, modificationTime, length, content``
    (binary) — the real on-ramp for the multimodal operators
    (``operators/multimodal.sniff_headers`` etc. consume the
    ``content`` column directly).

    Scale notes: ``pathGlobFilter`` prunes at LISTING time (files never
    open), and a ``length <=`` predicate pushes into the format (the
    reader skips oversized payloads without reading them) — both are
    the difference between touching metadata and touching bytes on a
    100 TB media lake.  One file = one row = one task unit, so
    tiny-file lakes should be compacted upstream.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every parquet file
    under ``path`` (``mergeSchema``) so files written before a column
    existed surface it as NULL.  Merging costs a footer read per file
    at planning time — that is why it is NOT the default read path
    (``load_table`` infers one file's schema once per session and
    reuses it); use this for lakes that evolved in place, then compact
    to the current schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)
