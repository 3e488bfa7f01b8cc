"""Projection-to-universe ratios (reference ``metrics/lib/hh_project_univ.py``).

Semantics: for each media type (and for all types combined), the ratio of
the universe's total exposure count to the projected sum of exposed
households — the rescale factor that maps sample projections onto the
full universe.

Rebuild difference: the reference ``collect()``s both scalar sums on the
driver and divides in Python (``hh_project_univ.py:6-10`` — a mid-plan
action per media type).  Here both sides stay lazy 1-row aggregates
cross-joined per etype, so the whole ratio table is one plan, one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def universe_ratios_by_etype(expo_df: DataFrame, proj_df: DataFrame, univ_df: DataFrame) -> DataFrame:
    """Per-etype + overall ratios in ONE job.

    ``expo_df`` needs ``household_id, etype``; ``univ_df`` needs
    ``etype, exposures`` (per-universe totals).  Output: ``etype, ratio``
    with an ``'all'`` row (reference ``main``, ``hh_project_univ.py:22-28``).
    """
    # the 'all' rollup row duplicates each input row under a second
    # group label: explode a 2-element array instead of unioning the
    # frame with itself — same rows, ONE scan of the (fan-out union)
    # exposure pipeline instead of two (scan-audit round 7)
    with_all = expo_df.select(
        "household_id",
        F.explode(F.array(F.col("etype"), F.lit("all"))).alias("etype"),
    )
    proj = (
        # household-cardinality side: no broadcast hint (the optimizer
        # broadcasts while it fits, shuffles when it doesn't).
        with_all.join(proj_df.dropDuplicates(["household_id"]), "household_id")
        .groupBy("etype")
        .agg(F.sum("projfact").alias("proj_sum"))
    )
    univ_all = univ_df.select(
        F.explode(F.array(F.col("etype"), F.lit("all"))).alias("etype"),
        "exposures",
    )
    univ = univ_all.groupBy("etype").agg(F.sum("exposures").alias("univ_sum"))
    return (
        proj.join(univ, "etype")
        .select("etype", (F.col("univ_sum") / F.col("proj_sum")).alias("ratio"))
        .orderBy("etype")
    )
