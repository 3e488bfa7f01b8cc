"""Before/after purchase-lift analysis — the reference's largest pipeline
(``metrics/lib/hh_before_after.py``, 176 LoC).

Semantics: stitch each household's FIRST media exposure date against its
purchase history (full-outer, so never-exposed purchasers and
never-purchasing exposed households both survive), window purchases to a
[max_wks-before, max_wks-after] band around first exposure, split into
before/after, backfill zero-purchase sides, weight by observable
post-period length, and emit projected brand-vs-category lift ratios per
(exposed, before/after) cell — plus a 16-cell contingency table of
before/after brand/category buying patterns.

Rebuild differences (Spark-first):

* the two mid-plan scalar ``collect()``s (``max_dt``/``min_dt``,
  reference ``hh_before_after.py:13-14``) become 1-row lazy aggregates
  cross-joined into the plan — the whole analysis is ONE job.
* the hand-rolled anti-join (left-outer + ``isNull`` filter,
  ``hh_before_after.py:24-33``) is a native ``left_anti`` join.
* money flows through ``decimal(18,2)`` so every sum is exact and
  order-independent (double sums vary in the last ulp with partition
  order — unacceptable for cross-engine hash checks and for
  reproducibility at 1000-executor scale); ratios divide as doubles only
  at the very end.
* the reference's ``repartition(100, 'household_id')``
  (``hh_before_after.py:21``) is dropped — AQE sizes shuffles at runtime.

The ``filter_to_range`` window semantics are pinned verbatim by the
reference's own 6 boundary tests (FIXTURES.md §A; reference
``metrics/tests/test_hhmetrics.py``) — see ``tests/test_before_after.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_pipelining_spark.money import D, money_sum
from pyspark_pipelining_spark.operators.media import union_frames



def construct_hh_first(purch_df: DataFrame, expo_dfs: list[DataFrame], univ_df: DataFrame) -> DataFrame:
    """First-exposure ⟗ purchase stitch (reference ``construct_hh_first``,
    ``hh_before_after.py:6-21``), fully lazy.

    Output: household_id, date (first exposure, min_dt-backfilled),
    pdate, volume_tgt, volume_cat, max_dt, hh_exposed.
    """
    expo = union_frames([d.select("household_id", "date") for d in expo_dfs])
    first = (
        expo.groupBy("household_id")
        .agg(F.min("date").alias("date"))
        .join(univ_df.select("household_id"), on="household_id", how="left_semi")
    )
    stitched = first.join(purch_df, on="household_id", how="full_outer")
    bounds = purch_df.agg(F.max("pdate").alias("max_dt")).crossJoin(
        expo.agg(F.min("date").alias("min_dt"))
    )
    null_date = F.col("date").isNull()
    return (
        stitched.crossJoin(F.broadcast(bounds))
        .withColumn("hh_exposed", F.when(null_date, "not exposed").otherwise("exposed"))
        .withColumn("date", F.when(null_date, F.col("min_dt")).otherwise(F.col("date")))
        .drop("min_dt")
    )


def filter_to_range(df: DataFrame, min_wks: int = 1, max_wks: int = 13) -> DataFrame:
    """Purchase-window filter + observation weight (reference
    ``filter_to_range``, ``hh_before_after.py:58-74``; semantics pinned by
    the reference's 6 unit tests).

    Keeps purchases no more than ``num_days_post`` days before first
    exposure and no later than the post-period limit; requires at least
    ``min_wks`` weeks of observable post-period.  Adds ``wgt`` = the
    post-period length in days.
    """
    post_week_max = F.date_add(F.col("date"), max_wks * 7 - 1)
    post_limit = F.least(F.col("max_dt"), post_week_max)
    num_days_post = F.datediff(post_limit, F.col("date")) + 1
    kept = df.filter(
        (F.datediff(F.col("date"), F.col("pdate")) < num_days_post)
        & (F.col("pdate") <= post_limit)
        & (num_days_post >= min_wks * 7)
    )
    return kept.withColumn("wgt", num_days_post)


def tag_before_after(df: DataFrame) -> DataFrame:
    """``bef_aft`` split (reference ``create_before_after``,
    ``hh_before_after.py:45-48``)."""
    return df.withColumn(
        "bef_aft", F.when(F.col("pdate") < F.col("date"), "before").otherwise("after")
    )


def household_wide(df: DataFrame) -> DataFrame:
    """One row per (household, exposure flag) with both sides' exact
    decimal sums — the single aggregation every downstream consumer
    (stacked sides, contingency flags) derives from."""
    return df.groupBy("household_id", "hh_exposed").agg(
        F.max("wgt").alias("wgt"),
        F.sum(F.when(F.col("bef_aft") == "before", F.col("volume_tgt").cast(D)).otherwise(F.lit(0).cast(D))).cast(D).alias("b_tgt"),
        F.sum(F.when(F.col("bef_aft") == "before", F.col("volume_cat").cast(D)).otherwise(F.lit(0).cast(D))).cast(D).alias("b_cat"),
        F.sum(F.when(F.col("bef_aft") == "after", F.col("volume_tgt").cast(D)).otherwise(F.lit(0).cast(D))).cast(D).alias("a_tgt"),
        F.sum(F.when(F.col("bef_aft") == "after", F.col("volume_cat").cast(D)).otherwise(F.lit(0).cast(D))).cast(D).alias("a_cat"),
    )


def household_sides(df: DataFrame) -> DataFrame:
    """Per-household before/after totals + zero-side backfill + weights,
    fused into ONE aggregation.

    Replaces three reference stages (``agg_by_hh`` +
    ``add_zero_purch``'s two anti-join/unions + ``add_only_bb_hh``'s
    extra join — ``hh_before_after.py:24-55,78-98``) whose direct
    translation replicated the whole upstream plan ~6× (measured: 50
    parquet scans / 46 exchanges at sf0.01 before this fusion).  The
    key observations:

    * a household that survives ``filter_to_range`` should ALWAYS end
      up with both a 'before' and an 'after' row (the missing side is
      zero-volume with the same weight) — so instead of anti-joining
      the two sides against each other, aggregate BOTH sides'
      conditional sums in one ``groupBy(household)`` pass and unpivot
      with ``stack`` (2 rows out per household, zeros built in);
    * the brand-buyer flag (any positive target volume either side) is
      visible in that same aggregated row — no window / extra join.

    Output columns match the reference's weighted frame exactly.
    """
    sides = household_wide(df).select(
        "household_id",
        "hh_exposed",
        "wgt",
        F.when((F.col("b_tgt") > 0) | (F.col("a_tgt") > 0), 1).otherwise(0).alias("bb"),
        F.expr(
            "stack(2, 'before', b_tgt, b_cat, 'after', a_tgt, a_cat) as (bef_aft, volume_tgt, volume_cat)"
        ),
    )
    return (
        sides.withColumn("volume_cat_bb", (F.col("volume_cat") * F.col("bb")).cast(D))
        .withColumn("brand_wgt", (F.col("volume_tgt") * F.col("wgt")).cast(D))
        .withColumn("category_wgt", (F.col("volume_cat") * F.col("wgt")).cast(D))
        .withColumn("category_wgt_bb", (F.col("volume_cat_bb") * F.col("wgt")).cast(D))
        .withColumn("bwgt", F.when(F.col("volume_tgt") > 0, F.col("wgt")))
        .withColumn("cwgt", F.when(F.col("volume_cat") > 0, F.col("wgt")))
        .withColumn("cwgt_bb", F.when(F.col("volume_cat_bb") > 0, F.col("wgt")))
        .drop("bb")
    )


def get_before_after(df: DataFrame, min_wks: int, max_wks: int) -> DataFrame:
    """The per-household weighted frame (reference ``get_before_after``,
    ``hh_before_after.py:143-149``)."""
    return (
        df.transform(filter_to_range, min_wks, max_wks)
        .transform(tag_before_after)
        .transform(household_sides)
    )


def lift_metrics(df: DataFrame) -> DataFrame:
    """Final (hh_exposed, bef_aft) lift table (reference ``sum_bef_aft`` +
    ``calc_metrics``, ``hh_before_after.py:119-140``).

    All sums are exact decimals cast to double; every ratio divides those
    exact doubles, so the result is bit-deterministic at any parallelism.
    """
    vol_cols = ["volume_tgt", "volume_cat", "volume_cat_bb", "brand_wgt", "category_wgt", "category_wgt_bb"]
    aggs = [money_sum(c).alias(c) for c in vol_cols]
    aggs += [F.sum(c).cast("long").alias(c) for c in ["bwgt", "cwgt", "cwgt_bb", "wgt"]]
    aggs += [F.count(c).cast("long").alias(f"{c}_cnt") for c in ["bwgt", "cwgt", "cwgt_bb"]]
    g = df.groupBy("hh_exposed", "bef_aft").agg(*aggs)
    brand_w = F.col("brand_wgt") * F.col("bwgt_cnt") / F.col("bwgt")
    cat_w = F.col("category_wgt") * F.col("cwgt_cnt") / F.col("cwgt")
    cat_w_bb = F.col("category_wgt_bb") * F.col("cwgt_bb_cnt") / F.col("cwgt_bb")
    return (
        g.withColumn("ratio", F.col("volume_tgt") / F.col("volume_cat"))
        .withColumn("ratio_bb", F.col("volume_tgt") / F.col("volume_cat_bb"))
        .withColumn("brand_wgt", brand_w)
        .withColumn("category_wgt", cat_w)
        .withColumn("category_wgt_bb", cat_w_bb)
        .withColumn("weighted_ratio", F.col("brand_wgt") / F.col("category_wgt"))
        .withColumn("weighted_ratio_bb", F.col("brand_wgt") / F.col("category_wgt_bb"))
        .withColumn("i_ratio", F.col("bwgt_cnt") / F.col("cwgt_cnt"))
        .withColumn("i_ratio_bb", F.col("bwgt_cnt") / F.col("cwgt_bb_cnt"))
        .orderBy(F.asc("hh_exposed"), F.desc("bef_aft"))
    )


def contingency_counts(wide_df: DataFrame) -> DataFrame:
    """16-cell before/after brand/category buying contingency table
    (reference ``make_counts``, ``hh_before_after.py:101-117``) over the
    :func:`household_wide` frame.

    The reference pivots on ``bef_aft`` and leans on Spark's generated
    pivot column names (``before_sum(volume_tgt)`` — flagged in SURVEY
    §7.3 as an oracle hazard); the rebuild reads the flags straight off
    the wide per-household aggregate — one shuffle for the flag counts
    instead of the reference's pivot + regroup (and instead of
    un-stacking the stacked sides frame, which cost two more shuffles
    in an earlier revision).
    """
    flags = wide_df.select(
        F.when(F.col("b_tgt") > 0, 1).otherwise(0).alias("bb"),
        F.when(F.col("b_cat") > F.col("b_tgt"), 1).otherwise(0).alias("bc"),
        F.when(F.col("a_tgt") > 0, 1).otherwise(0).alias("ab"),
        F.when(F.col("a_cat") > F.col("a_tgt"), 1).otherwise(0).alias("ac"),
    )
    return flags.groupBy("bb", "bc", "ab", "ac").agg(F.count(F.lit(1)).alias("count")).orderBy(
        "bb", "bc", "ab", "ac"
    )


def before_after_analysis(
    purch_df: DataFrame,
    expo_dfs: list[DataFrame],
    univ_df: DataFrame,
    min_wks: int = 1,
    max_wks: int = 13,
) -> tuple[DataFrame, DataFrame]:
    """Full analysis (reference ``main``, ``hh_before_after.py:160-176``):
    returns (lift table, contingency table for exposed households at a
    6-week symmetric window)."""
    raw = construct_hh_first(purch_df, expo_dfs, univ_df)
    lift = lift_metrics(get_before_after(raw, min_wks, max_wks))
    exposed = raw.filter(F.col("hh_exposed") == "exposed")
    wide = (
        exposed.transform(filter_to_range, 6, 6)
        .transform(tag_before_after)
        .transform(household_wide)
    )
    counts = contingency_counts(wide)
    return lift, counts
