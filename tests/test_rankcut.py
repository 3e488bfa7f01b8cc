"""Gates for operators/rankcut — the two-phase exact distributed rank
that replaced the four single-task quantile-cut windows (r15 verdict
item 2).

The contract: for ANY total order (metric + distinct tiebreak key),
``histogram_ranks`` reproduces the single-task ``row_number``
bit-exactly, and ``ntile_expr`` / ``percent_rank_expr`` reproduce
``ntile(k)`` / ``percent_rank`` from that row number — so the
registered queries' unchanged window-function oracles stay green while
the plan never ships the data through one partition.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators import rankcut


def _ref(df, order, group_cols=()):
    w = (
        Window.partitionBy(*group_cols).orderBy(*order)
        if group_cols
        else Window.orderBy(*order)
    )
    wcnt = (
        Window.partitionBy(*group_cols)
        if group_cols
        else Window.partitionBy(F.lit(1))
    )
    return df.select(
        "k",
        F.row_number().over(w).alias("rn_ref"),
        F.count(F.lit(1)).over(wcnt).alias("n_ref"),
        F.ntile(4).over(w).alias("t4_ref"),
        F.ntile(10).over(w).alias("t10_ref"),
        F.percent_rank().over(w).alias("pr_ref"),
    )


def _mismatches(spark, got, df, order, group_cols=()):
    j = got.join(_ref(df, order, group_cols), "k")
    t4 = rankcut.ntile_expr(F.col("rn"), F.col("n"), 4)
    t10 = rankcut.ntile_expr(F.col("rn"), F.col("n"), 10)
    pr = rankcut.percent_rank_expr(F.col("rn"), F.col("n"))
    return j.filter(
        (F.col("rn") != F.col("rn_ref"))
        | (F.col("n") != F.col("n_ref"))
        | (t4 != F.col("t4_ref"))
        | (t10 != F.col("t10_ref"))
        | (pr != F.col("pr_ref"))
    ).count()


@pytest.fixture(scope="module")
def skewed(spark):
    """997 rows with heavy metric ties (values 0..50, so every value
    repeats ~20x) plus a distinct key — exactly the tie structure the
    tiebreak contract exists for."""
    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.randint(0, 3)) for i in range(997)]
    return spark.createDataFrame(rows, "k long, v long, g long").cache()


def test_histogram_ranks_matches_single_task_window(spark, skewed):
    for asc in (True, False):
        order = [F.asc("v") if asc else F.desc("v"), F.asc("k")]
        got = rankcut.histogram_ranks(skewed, "v", "k", ascending=asc)
        assert _mismatches(spark, got, skewed, order) == 0, asc


def test_histogram_ranks_grouped_matches(spark, skewed):
    order = [F.asc("v"), F.asc("k")]
    got = rankcut.histogram_ranks(skewed, "v", "k", ascending=True, group_cols=["g"])
    assert _mismatches(spark, got, skewed, order, group_cols=["g"]) == 0


def test_histogram_ranks_few_buckets_and_constant_metric(spark, skewed):
    # buckets=2: hot buckets, offsets must still compose exactly
    got = rankcut.histogram_ranks(skewed, "v", "k", ascending=False, buckets=2)
    assert _mismatches(spark, got, skewed, [F.desc("v"), F.asc("k")]) == 0
    # all-equal metric: one bucket carries everything, order by key alone
    const = skewed.withColumn("v", F.lit(5))
    got = rankcut.histogram_ranks(const, "v", "k", ascending=True)
    assert _mismatches(spark, got, const, [F.asc("v"), F.asc("k")]) == 0


def test_histogram_ranks_single_row_and_negatives(spark):
    one = spark.createDataFrame([(1, -7)], "k long, v long")
    row = (
        rankcut.histogram_ranks(one, "v", "k")
        .select(
            "rn",
            "n",
            rankcut.ntile_expr(F.col("rn"), F.col("n"), 4).alias("t"),
            rankcut.percent_rank_expr(F.col("rn"), F.col("n")).alias("pr"),
        )
        .collect()[0]
    )
    assert (row.rn, row.n, row.t, row.pr) == (1, 1, 1, 0.0)
    neg = spark.createDataFrame(
        [(i, v) for i, v in enumerate([-(10**12), -3, 0, 3, 10**12])],
        "k long, v long",
    )
    got = rankcut.histogram_ranks(neg, "v", "k", ascending=True)
    assert [r.rn for r in got.orderBy("v").collect()] == [1, 2, 3, 4, 5]


def test_ntile_expr_exhaustive_small():
    """Pure-python mirror of Spark/DuckDB ntile over every (n, k, rn)
    up to 40 — the bucket arithmetic is closed-form, so prove it
    against the definition (first n%k tiles get n//k+1 rows)."""
    for n in range(1, 41):
        for k in (1, 2, 3, 4, 7, 10, 40, 41):
            q, r = divmod(n, k)
            expect = []
            for tile in range(1, k + 1):
                size = q + 1 if tile <= r else q
                expect += [tile] * size
            # trailing tiles may be empty when n < k
            assert len(expect) == n
            # evaluated via the same integer formula the Column expr uses
            def formula(rn):
                big = (q + 1) * r
                if rn <= big:
                    return (rn + q) // (q + 1)
                return r + (rn - big + q - 1) // q
            got = [formula(rn) for rn in range(1, n + 1)]
            assert got == expect, (n, k)


def test_histogram_ranks_plan_has_no_single_partition_sort(spark, skewed):
    """The point of the operator: no unpartitioned Window (which plans
    as ``Exchange SinglePartition`` feeding a data-sized Sort).  The
    offsets frame is bucket-bounded so ITS single-partition exchange
    is dimension-sized — assert the data-sized side partitions by
    bucket."""
    got = rankcut.histogram_ranks(skewed, "v", "k", ascending=False)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    import re

    # the rank window's exchange must hash-partition by the bucket key
    # (the details section carries the partitioning argument)
    assert re.search(r"hashpartitioning\([^)]*_rk_b", plan), plan
    # row_number's window spec partitions by bucket, never globally
    assert re.search(r"windowspecdefinition\([^)]*_rk_b", plan), plan
