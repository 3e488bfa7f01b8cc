"""Exact distributed ranking without a single-partition sort.

The classic quantile-cut shape (``ntile`` / ``percent_rank`` /
``cume_dist`` over a tiebroken total order) is exact but, expressed as
an unpartitioned ``Window.orderBy``, Spark executes it through ONE
task — a genuine scale-killer at 10⁹⁺ rows (r15 verdict item 2).
:func:`histogram_ranks` computes the SAME per-row global rank
bit-exactly with a distributed plan: partial value histograms, merged
per-bucket offsets, and a broadcast join of the offsets back onto the
rows (the phases are in its docstring).  The caller must supply a
TOTAL order (the metric plus a distinct tiebreak key); with ties
unbroken the assignment of equal rows to ranks would be
layout-dependent.

``ntile_expr`` reproduces ``ntile(k)``'s bucket arithmetic from
(rn, n, k) in exact integers: the first ``n % k`` tiles carry
``n div k + 1`` rows, the rest ``n div k`` (the semantics both Spark
and DuckDB implement), so the tiles need no second pass over the
data — the rank itself is exact.

Reference lineage: the reference engine has no distributed ranking
(its quantile cuts ride pandas on the driver, e.g.
``metrics/lib/hh_frequency.py``'s qcut); this is the Spark-first
scale path prescribed by SURVEY §7.3 and the r15 verdict.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "histogram_ranks",
    "ntile_expr",
    "percent_rank_expr",
]

#: internal column names (dropped before returning)
_OFF = "_rk_off"
_N = "_rk_n"


def histogram_ranks(
    df: DataFrame,
    value_col: str,
    key_col: str,
    ascending: bool = True,
    group_cols: Sequence[str] = (),
    buckets: int = 4096,
    rn_col: str = "rn",
    n_col: str = "n",
) -> DataFrame:
    """Attach the exact 1-based global row number ``rn_col`` (within
    ``group_cols`` if given) and the (group) row count ``n_col`` under
    the total order (``value_col``, then ``key_col``) — the r15
    verdict's prescribed shape (partial histograms → merged offsets →
    broadcast cut join), which the quantile-cut queries ride.

    The bucket id is a PURE FUNCTION of the row (fixed-width integer
    bucket over the [min, max] value range — per group when grouped,
    since groups may carry disjoint ranges; a 1-row lazy crossJoin /
    group-keyed broadcast, never a collect), so no sampling pass and no
    checkpoint are needed, and the plan is layout-invariant by
    construction:

    1. one map-side-combined groupBy builds the (group, bucket)
       histogram — bounded at groups × ``buckets`` rows;
    2. a prefix-sum window over the BOUNDED bucket frame yields each
       bucket's global offset (count of rows in strictly-earlier
       buckets) and the group total ``n``;
    3. the offset frame broadcasts back; the intra-bucket
       ``row_number`` (each task sorts only its own bucket's rows)
       plus the offset is the exact global rank.

    All bucket arithmetic is decimal(38,0)-exact at any int64 range.
    Skew bound: per-task load is the largest bucket's row count —
    n/``buckets`` for spread metrics.  A single value repeated past
    the bucket width degrades to its tie-group size (ordering inside
    a one-value bucket depends only on ``key_col``, so the known
    extension is a second histogram level over the key inside such
    buckets).
    """
    s = F.col(value_col).cast("long")
    if not ascending:
        s = -s
    gcols = list(group_cols)
    base = df.withColumn("_rk_s", s)
    # bounds are PER GROUP when grouped: groups may carry disjoint value
    # ranges (e.g. three melted metrics ranked in one pass), and a
    # global span would collapse a narrow group into one hot bucket —
    # exactly the single-task shape this operator removes
    if gcols:
        bounds = base.groupBy(*gcols).agg(
            F.min("_rk_s").alias("_rk_lo"), F.max("_rk_s").alias("_rk_hi")
        )
    else:
        bounds = base.agg(
            F.min("_rk_s").alias("_rk_lo"), F.max("_rk_s").alias("_rk_hi")
        )
    # decimal(38,0) throughout so the widths are exact at any int64
    # range; the quotient's scale-limited rounding is MONOTONE in the
    # sort key, so bucket boundaries may shift a hair but ranks are
    # unaffected (bucketing only needs monotonicity, not exactness)
    span = (
        F.col("_rk_hi").cast("decimal(38,0)")
        - F.col("_rk_lo").cast("decimal(38,0)")
        + F.lit(1)
    )
    bucket = (
        (F.col("_rk_s").cast("decimal(38,0)") - F.col("_rk_lo").cast("decimal(38,0)"))
        * F.lit(buckets)
        / span
    ).cast("long")
    if gcols:
        keyed = base.join(F.broadcast(bounds), on=gcols).withColumn("_rk_b", bucket)
    else:
        keyed = base.crossJoin(F.broadcast(bounds)).withColumn("_rk_b", bucket)

    counts = keyed.groupBy(*gcols, "_rk_b").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy(*gcols).orderBy("_rk_b")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("_rk_b")
    )
    offsets = counts.select(
        *gcols,
        "_rk_b",
        F.coalesce(
            F.sum("_c").over(w_off.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias(_OFF),
        F.sum("_c").over(
            w_off.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias(_N),
    )

    # intra-bucket order uses the TRUE value (the long cast only buckets;
    # truncation is monotone, so buckets respect the order, but for
    # non-integer metrics two values may share a truncation)
    vdir = F.asc(value_col) if ascending else F.desc(value_col)
    w_rank = Window.partitionBy(*gcols, "_rk_b").orderBy(vdir, F.asc(key_col))
    return (
        keyed.join(F.broadcast(offsets), on=[*gcols, "_rk_b"])
        .withColumn(
            rn_col, (F.col(_OFF) + F.row_number().over(w_rank)).cast("long")
        )
        .withColumn(n_col, F.col(_N).cast("long"))
        .drop("_rk_s", "_rk_b", "_rk_lo", "_rk_hi", _OFF, _N)
    )


def _idiv(a: Column, b: Column) -> Column:
    """Exact non-negative integer floor division of long Columns.
    Spark's ``/`` on longs is IEEE double division; subtracting the
    remainder first makes the numerator exactly divisible, and the
    decimal(38,0) route keeps every intermediate exact at any int64
    magnitude."""
    exact = (a - a % b).cast("decimal(38,0)") / b.cast("decimal(38,0)")
    return exact.cast("long")


def ntile_expr(rn: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` reconstructed from an exact row number: with
    ``q = n div k`` and ``r = n mod k``, the first ``r`` tiles carry
    ``q + 1`` rows and the rest ``q`` — so

    * ``rn <= (q+1)·r``  →  tile ``= ceil(rn / (q+1))``
    * otherwise          →  tile ``= r + ceil((rn - (q+1)·r) / q)``

    (both Spark's and DuckDB's definition).  Pure BIGINT arithmetic —
    bit-exact everywhere, including ``n < k`` (then ``q = 0`` and the
    first branch covers every row with tile ``= rn``)."""
    rn = rn.cast("long")
    n = n.cast("long")
    kL = F.lit(k).cast("long")
    q = _idiv(n, kL)
    r = n % kL
    big = (q + 1) * r  # rows covered by the (q+1)-sized tiles
    tile_big = _idiv(rn + q, q + 1)  # ceil(rn/(q+1))
    tile_small = r + _idiv(rn - big + q - 1, q)  # r + ceil((rn-big)/q)
    return F.when(rn <= big, tile_big).otherwise(tile_small).cast("long")


def percent_rank_expr(rn: Column, n: Column) -> Column:
    """``percent_rank`` over a distinct total order: ``(rn-1)/(n-1)``
    as one IEEE divide of exact integers (``0.0`` when ``n = 1``,
    Spark's convention)."""
    return (
        F.when(n > 1, (rn - F.lit(1)).cast("double") / (n - F.lit(1)).cast("double"))
        .otherwise(F.lit(0.0))
    )
