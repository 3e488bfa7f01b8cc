"""Media-exposure fact assembly (the reference's "make_media" layer).

Reference semantics (``metrics/helpers/make_media.py:26-46``): given a
list of per-media-subtype exposure frames and a dimension name, validate
the dimension exists, project ``household_id + dim [+ etype]``, union all
frames, inner-join per-household projection factors (deduped), and
optionally rescale by a per-etype ratio.

Rebuild differences (Spark-first):

* ``unionByName`` replaces manual column realignment
  (reference ``make_media.py:5-10`` folds ``unionAll`` over
  ``select(*df.columns)``).
* join strategy for the projection factors is left to the optimizer:
  the projection "dim" has one row per *household*, so it grows with
  the population — forcing ``F.broadcast`` on it would ship a multi-GB
  table to every executor at 100 TB (the hint overrides the size
  threshold, so it OOMs instead of degrading).  Unhinted, Spark
  broadcasts while it fits and falls back to a shuffled join (AQE can
  still convert at runtime).  Only the *etype ratio* dim — a handful of
  rows — keeps an explicit broadcast hint.
* the star-schema mapping onto the driver testdata (FIXTURES.md §B):
  ``events`` is the exposure fact (``user_id``→household_id,
  ``to_date(ts)``→date, ``date_trunc('week', ts)``→week,
  ``event_type``→etype, ``props.k``→campaignid), ``customer`` supplies
  projection factors, ``orders`` is the purchase fact.

Scale: the fact table never collapses to the driver; at 100 TB the
union+join is one hash-partitioned equi-join on household_id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_pipelining_spark.sources.registry import load_table, require_columns

#: Deterministic projection-factor formula used to derive the projection
#: dim from ``customer`` (FIXTURES.md §B.2): exact multiples of 0.25 so
#: weighted sums are exactly representable in binary floating point and
#: oracle comparisons are bit-stable.
PROJFACT_SQL = "CAST(1.0 + (c_custkey % 5) * 0.25 AS DOUBLE)"


def union_frames(dfs: list[DataFrame]) -> DataFrame:
    """UNION ALL by column name (reference U1, ``make_media.py:5-10``)."""
    if not dfs:
        raise ValueError("union_frames needs at least one frame")
    return reduce(lambda a, b: a.unionByName(b), dfs)


def exposures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-exposure fact mapped from ``events`` (FIXTURES.md §B.1)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("household_id"),
        F.to_date("ts").alias("date"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.col("event_type").alias("etype"),
        F.get_json_object("props", "$.k").cast("long").alias("campaignid"),
        F.col("value").alias("impr_value"),
        F.col("ts"),
    )


def projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-household projection factors derived from ``customer``."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("household_id"),
        F.expr(PROJFACT_SQL).alias("projfact"),
    )


def purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase fact from ``orders`` (FIXTURES.md §B.3).

    ``volume_tgt`` (target brand) is the order value only for finalized
    orders; ``volume_cat`` (whole category) is every order's value —
    giving brand ⊂ category semantics the before/after metrics need.
    """
    o = load_table(spark, sf_dir, "orders")
    # The driver's orders span 1995-2001 while events span Jan 2024, so a
    # raw o_orderdate never overlaps the exposure window and every
    # purchase would be filtered out.  Remap purchase dates
    # deterministically into a 60-day band around the exposure month
    # (2023-12-20 .. 2024-02-17) — SQL-expressible for the oracle.
    return o.select(
        F.col("o_custkey").alias("household_id"),
        F.date_add(F.to_date(F.lit("2023-12-20")), (F.col("o_orderkey") % 60).cast("int")).alias("pdate"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(F.lit(0.0)).alias("volume_tgt"),
        F.col("o_totalprice").alias("volume_cat"),
    )


def make_media(
    df_list: list[DataFrame] | DataFrame,
    dim: str,
    proj_df: DataFrame,
    proj_df2: DataFrame | None = None,
) -> DataFrame:
    """Assemble the projected exposure frame for one dimension.

    Reference: ``metrics/helpers/make_media.py:26-46`` (the `make_df_dec`
    closure).  Fail-fast on a missing dimension, project minimally, union,
    join projections (optimizer-chosen strategy — see module docstring for
    why the household-cardinality side must not carry a broadcast hint).
    Fixes the reference's py2-only ``len(filter(...))`` guard (SURVEY §5
    bug list).
    """
    dfs = [df_list] if isinstance(df_list, DataFrame) else list(df_list)
    for d in dfs:
        require_columns(d, ["household_id", dim], "media")
    keep_etype = proj_df2 is not None and dim != "etype"
    cols = ["household_id", dim] + (["etype"] if keep_etype else [])
    unioned = union_frames([d.select(*cols) for d in dfs])
    joined = unioned.join(
        proj_df.dropDuplicates(["household_id"]), on="household_id", how="inner"
    )
    if proj_df2 is not None and keep_etype:
        return (
            joined.withColumnRenamed("projfact", "proj")
            .join(F.broadcast(proj_df2), on="etype")
            .withColumn("projfact", F.col("proj") * F.col("ratio"))
            .drop("proj", "ratio")
        )
    return joined
