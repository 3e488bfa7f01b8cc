"""Data-quality checks — the rebuild of the reference's ``dataQA``
package (SQL strings against Redshift via pandas, no Spark:
``dataQA/dailyQA.py``, ``dataQA/dailyQAHelpers.py``).

What the reference computes daily:

1. **hour-shift + date derivation**: ``trunc(date_add('h', h, ts))``
   into a temp table (``dailyQAHelpers.py:43-56``);
2. **grouped impression counts** per dimension / dimension-pair, for the
   whole period and a trailing N-day window, log table vs adserver
   table, with ``diff``/``pct_diff`` (``dailyQAHelpers.py:59-87``);
3. **grouping plans**: the same agg at (dims×date), (dims),
   (dim-pairs×date) granularities, unioned with a ``Dimension`` label
   (``dailyQA.py:53-63,87-112``);
4. **distinct-meta attachment**: sorted distinct config values joined
   per dimension (``dailyQAHelpers.py:158-187``).

Rebuild: everything is Catalyst-native DataFrame/SQL over the events
view.  The hand-rolled multi-granularity loop collapses to ONE pass with
``GROUPING SETS`` (reference A12 → native); the custom pandas string-agg
becomes ``array_join(array_sort(collect_set(trim(c))), ' ')``; schema
guards raise :class:`SchemaError` (reference ``DataException``).

Scale: grouping-sets is a single shuffle with partial aggregation;
the trailing-window bound stays a lazy 1-row agg (no driver scalar).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_pipelining_spark.sources.registry import require_columns


def shift_hours(df: DataFrame, hours: int, ts_col: str = "ts") -> DataFrame:
    """Event-time hour shift + date derivation (reference
    ``shift_hours``, ``dailyQAHelpers.py:43-56``).  Adds ``date`` and an
    ``exe_imp`` unit-count column if absent."""
    require_columns(df, [ts_col], "log")
    out = df.withColumn(
        "date", F.to_date(F.col(ts_col) + F.expr(f"INTERVAL {hours} HOURS"))
    )
    if "exe_imp" not in out.columns:
        out = out.withColumn("exe_imp", F.lit(1).cast("long"))
    return out


def trailing_window(df: DataFrame, period: int, date_col: str = "date") -> DataFrame:
    """Restrict to the trailing ``period`` days ending at the max date
    (reference ``min_max_dt``, ``dailyQA.py:43-49``) — lazy, via a
    broadcast 1-row bound instead of a collected scalar."""
    bound = df.agg(F.max(date_col).alias("__max_d")).withColumn(
        "__min_d", F.date_sub(F.col("__max_d"), period - 1)
    )
    return (
        df.crossJoin(F.broadcast(bound))
        .filter(F.col(date_col).between(F.col("__min_d"), F.col("__max_d")))
        .drop("__max_d", "__min_d")
    )


def grouped_counts(df: DataFrame, dims: list[str], agg_col: str = "exe_imp", alias: str = "exe_imp") -> DataFrame:
    """``select dims, sum(agg) group by dims`` (reference
    ``group_string``, ``dailyQAHelpers.py:59-70``)."""
    require_columns(df, dims + [agg_col], "log")
    return df.groupBy(*dims).agg(F.sum(agg_col).cast("long").alias(alias))


def log_vs_adserver(log_df: DataFrame, ad_df: DataFrame, dims: list[str]) -> DataFrame:
    """Log-vs-adserver reconciliation (reference ``join_dfs``,
    ``dailyQAHelpers.py:73-87``): full-outer join of the two grouped
    frames + ``diff``/``pct_diff``.

    ``pct_diff`` divides exact longs, so it is bit-deterministic.
    """
    lg = grouped_counts(log_df, dims, "exe_imp", "exe_imp")
    require_columns(ad_df, dims + ["impressions"], "adserver")
    ad = ad_df.groupBy(*dims).agg(F.sum("impressions").cast("long").alias("impressions"))
    return (
        lg.join(ad, on=dims, how="full_outer")
        .withColumn("diff", F.col("impressions") - F.col("exe_imp"))
        .withColumn("pct_diff", F.col("diff") / F.col("impressions"))
        .orderBy(*dims)
    )


def grouping_sets_counts(df: DataFrame, dims: list[str], agg_col: str = "exe_imp") -> DataFrame:
    """The reference's three grouping plans in ONE pass (reference
    ``groupings``/``create_groupings``, ``dailyQA.py:57-63,87-112`` —
    which issued one warehouse query per dimension per plan).

    Emits GROUPING SETS over (each dim × date), (each dim), plus a
    ``dimension`` label column derived from ``grouping_id`` — exactly the
    union the reference assembled in pandas, computed in one shuffle.
    Output: ``dimension, value, date, exe_imp``.
    """
    require_columns(df, dims + ["date", agg_col], "log")
    n = len(dims)
    pairs = ", ".join(f"'{d}', cast(`{d}` as string)" for d in dims)
    melted = df.select(
        F.expr(f"stack({n}, {pairs}) as (dimension, value)"), F.col("date"), F.col(agg_col)
    )
    sets = melted.groupingSets(
        [["dimension", "value", "date"], ["dimension", "value"]],
        "dimension",
        "value",
        "date",
    ).agg(F.sum(agg_col).cast("long").alias(agg_col))
    return sets.withColumn(
        "date_label",
        F.when(F.col("date").isNull(), F.lit("whole period")).otherwise(F.col("date").cast("string")),
    ).select("dimension", "value", "date_label", agg_col).orderBy("dimension", "value", "date_label")


def distinct_meta(df: DataFrame, dims: list[str], meta_cols: list[str]) -> DataFrame:
    """Sorted distinct meta values per dimension group as one string
    (reference ``make_meta``/``agg_to_list_str``,
    ``dailyQAHelpers.py:155-187``) — native array functions instead of a
    pandas UDF-style aggregation."""
    require_columns(df, dims + meta_cols, "log")
    aggs = [
        F.array_join(F.array_sort(F.collect_set(F.trim(F.col(c).cast("string")))), " ").alias(c)
        for c in meta_cols
    ]
    return df.groupBy(*dims).agg(*aggs).orderBy(*dims)
