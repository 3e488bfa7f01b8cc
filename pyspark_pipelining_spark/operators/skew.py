"""Skew-mitigation primitives for hot keys at cluster scale.

AQE's skew-join splitting (enabled in ``session.get_spark``) handles
sort-merge join skew at runtime, but a skewed aggregation still needs
explicit salting at 100 TB: one key owning a large share of all rows
makes a single reducer the straggler regardless of partition count.

The fix is the standard two-phase salt: spread the hot rows over
``salt_buckets`` synthetic sub-keys, aggregate per sub-key, and merge.
All aggregates used here are algebraic (sum/count/min/max), so the
two-phase result is exactly the single-phase result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Row-spreading salt that also spreads *bit-identical duplicate
    rows* — the canonical hot-key pathology (billions of identical
    ``(key)`` rows) that a content-only hash would collapse back onto
    one reducer.  ``monotonically_increasing_id`` disambiguates
    duplicates (unique per row within a plan); feeding it *into* the
    hash (rather than adding to the hash output) keeps the arithmetic
    overflow-free under ANSI mode — xxhash64 output spans the full
    int64 range, so ``hash + id`` would raise ARITHMETIC_OVERFLOW once
    ids grow past the headroom (id reaches ~partition_id<<33 at
    billion-row scale).  Stable within a plan, which is all an
    algebraic two-phase aggregation needs — cross-replay determinism is
    not required (the merged result is replay-invariant).
    """
    return df.withColumn(
        salt_col,
        F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns], F.monotonically_increasing_id()),
            F.lit(salt_buckets),
        ),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation: partial by (keys, salt), final by keys.

    ``aggs`` maps output name → *algebraic* aggregate over the partial
    column of the same name (e.g. ``{"n": F.sum("n"), "total":
    F.sum("total")}`` after partials ``count(1) as n``/``sum(x) as
    total``).  Callers supply the partial exprs via ``partials``-style
    pre-aggregation; this helper wires the standard count/sum case:

    >>> salted_agg(df, ["k"], {"n_events": F.sum("n_events"),
    ...                        "total": F.sum("total")}, 32)

    expects ``df`` to already carry ``n_events``/``total`` row-level
    contributions (1 and x for plain count/sum).
    """
    salted = with_salt(df, salt_buckets)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[agg.alias(name) for name, agg in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[aggs[name].alias(name) for name in aggs]
    )


def skew_report(df: DataFrame, keys: list[str], top_k: int = 10) -> DataFrame:
    """Heavy-hitter diagnostic: the ``top_k`` heaviest key groups with
    their row counts and exact share of all rows in parts-per-million —
    the report you run BEFORE choosing ``salt_buckets`` for
    :func:`salted_agg`.

    Scale shape: one map-side-combined ``groupBy`` on the keys, then
    ``orderBy.limit`` (Spark plans TakeOrdered — per-partition top-k +
    driver merge of k·p rows, no global sort), then a 1-row crossJoin
    with the scalar total.  ``share_ppm`` is integer-exact
    (``n·10^6 div total``): headroom holds to ~9·10^12 rows per key
    (int64 / 10^6), far past any real partition-planning need.
    Deterministic tie-break: count desc, then keys asc."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    return (
        counts.orderBy(F.desc("n_rows"), *[F.asc(k) for k in keys])
        .limit(top_k)
        .crossJoin(total)
        .select(
            *keys,
            "n_rows",
            F.expr("n_rows * 1000000L div _total").alias("share_ppm"),
        )
        .orderBy(F.desc("n_rows"), *[F.asc(k) for k in keys])
    )
