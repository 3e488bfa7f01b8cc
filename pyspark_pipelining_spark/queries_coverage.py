"""Round-5 coverage additions, part 1: the TPC-H analogue shapes the
registry did not yet exercise — argmin-per-group supplier selection
(Q2), the single-scalar forecast aggregate (Q6), the multi-dim profit
rollup (Q9), the global-fraction important-parts cut (Q11), bucketed
lateness counts (Q12), count-distinct with NOT-IN exclusion (Q16),
nested-aggregate dominant-supplier share (Q20), and the only-late-
supplier-on-a-multi-supplier-order credit (Q21).

The fixture (TESTDATA.md) has no partsupp/commitdate/shipmode, so each
query keeps the reference query's *plan shape* with the columns that
exist: ``s_acctbal`` stands in for supply cost, ship-after-order for
lateness, ``o_orderpriority`` for ship mode.

Conventions follow queries_relational.py: money through decimal (exact)
cast to double only at the boundary, every computed column aliased
identically in both dialects, deterministic ORDER BY (metric + key
tiebreak).  Broadcast hints on every dim side so the fact table never
shuffles for a dim join at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark.money import D, duck_money_sum
from pyspark_pipelining_spark.operators import dedup, graph
from pyspark_pipelining_spark.operators.similarity import duck_cosine
from pyspark_pipelining_spark.queries_ann_media import FILE_NAME
from pyspark_pipelining_spark.queries_llm import _sql_near_dup_pairs
from pyspark_pipelining_spark.sources.registry import load_table

DISC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


# --- TPC-H Q2 analogue: cheapest supplier per part (argmin-per-group) ----


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every small STANDARD part, the supplier that has actually
    shipped it with the lowest account balance (stand-in for supply
    cost) — TPC-H Q2's correlated-min shape as a window argmin with a
    deterministic suppkey tiebreak.

    Scale shape: the broadcast semi-join against the qualifying parts
    runs BEFORE the pair-distinct, so the one wide operation (a hash
    shuffle of two ids) carries only the filtered slice of lineitem;
    part and supplier are broadcast dims.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") < 10) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "leftsemi",
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("p_partkey")
    )


SQL_MIN_COST_SUPPLIER = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
           row_number() OVER (PARTITION BY p_partkey
                              ORDER BY s_acctbal ASC, s_suppkey ASC) AS _rn
    FROM pairs
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size < 10 AND p_type = 'STANDARD'
)
SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
FROM ranked WHERE _rn = 1
ORDER BY p_partkey
"""


# --- TPC-H Q6 analogue: forecast revenue change (single-scalar scan) -----


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue that would be recovered by dropping mid-band discounts
    on small-quantity 1996 lines (TPC-H Q6): a pure scan-aggregate —
    every predicate must push to the parquet scan, no join, one row
    out.  price×discount has exactly 4 decimal places → decimal(18,4)
    is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.expr("CAST(l_extendedprice * l_discount AS DECIMAL(18,4))"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE year(l_shipdate) = 1996
  AND l_discount >= 0.04 AND l_discount <= 0.06
  AND l_quantity < 24
"""


# --- TPC-H Q9 analogue: product profit by nation and year ----------------


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on widget parts per (supplier nation, order year) — TPC-H
    Q9's five-way join with a derived profit measure.  With no
    partsupp, unit cost is the part's retail price at a 10:1 quantity
    margin: profit = disc_price − retail·qty/10, all decimal-exact.

    Scale shape: part/supplier/nation broadcast; the single big join
    is lineitem ⋈ orders on the order key (co-partitionable)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # ×10-scaled profit keeps everything decimal-exact in BOTH engines:
    # DuckDB's decimal division returns DOUBLE (per-row rounding), so
    # the /10 happens exactly once, on the final sum, as one IEEE op.
    profit10 = F.expr(
        "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10"
        " - CAST(p_retailprice AS DECIMAL(18,2))"
        "   * CAST(l_quantity AS DECIMAL(4,0))"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(profit10).cast("double") / 10.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10
                - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) / 10.0
           AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# --- TPC-H Q11 analogue: important parts by global value fraction --------


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value from low-key nations exceeds 0.1% of
    that group's total shipped value (TPC-H Q11): the
    HAVING-fraction-of-global-scalar shape, with the scalar kept lazy
    as a 1-row broadcast (never collected on the driver)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    val = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(D)).alias("_v"))
    )
    tot = val.agg(F.sum("_v").alias("_t"))
    return (
        val.crossJoin(F.broadcast(tot))
        # ×1000 instead of ×0.001 keeps the comparison in EXACT decimal
        # on both engines (0.001 is not double-representable, and a
        # borderline part could classify differently per engine)
        .filter(F.col("_v") * 1000 > F.col("_t"))
        .select("l_partkey", F.col("_v").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


SQL_IMPORTANT_PARTS = """
WITH val AS (
    SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS _v
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
    GROUP BY l_partkey
)
SELECT l_partkey, CAST(_v AS DOUBLE) AS part_value
FROM val
WHERE _v * 1000 > (SELECT sum(_v) FROM val)
ORDER BY part_value DESC, l_partkey
"""


# --- TPC-H Q12 analogue: priority mix per ship-delay bucket --------------


def q_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical- vs low-priority line counts per ship-delay bucket
    (TPC-H Q12 with delay buckets standing in for ship modes): the
    conditional-count pivot over a derived bucketing."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "0-30d")
        .when(delay <= 60, "31-60d")
        .otherwise("61d+")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(bucket.alias("delay_bucket"), crit.alias("_crit"))
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("_crit"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("_crit"), 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


SQL_SHIP_DELAY_PRIORITY = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) <= 30 THEN '0-30d'
            WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) <= 60 THEN '31-60d'
            ELSE '61d+' END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY delay_bucket
"""


# --- TPC-H Q16 analogue: supplier counts with NOT-IN exclusion -----------


def q_brand_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size) for selected
    sizes, excluding one brand and any supplier in debt (TPC-H Q16's
    NOT-IN subquery as a broadcast anti-join feeding a
    count-distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30)
    )
    debtors = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(debtors), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


SQL_BRAND_SUPPLIER_CNT = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#5'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- TPC-H Q20 analogue: dominant suppliers by part share ----------------


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that shipped more than 30% of some part's total 1996
    quantity (TPC-H Q20's nested-aggregate shape): per-(part, supplier)
    quantity vs per-part total, then a semi-join back to supplier names.

    Quantities are small integers stored in doubles, so their sums are
    exact IEEE; the 30% comparison multiplies instead of divides to
    stay exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    s = load_table(spark, sf_dir, "supplier")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("_q")
    )
    tot = per.groupBy(F.col("l_partkey").alias("t_pk")).agg(
        F.sum("_q").alias("_tq")
    )
    dominant = (
        per.join(tot, F.col("l_partkey") == F.col("t_pk"))
        .filter(F.col("_q") * 10 > F.col("_tq") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "leftsemi")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    )


SQL_DOMINANT_SUPPLIERS = """
WITH per AS (
    SELECT l_partkey, l_suppkey, sum(l_quantity) AS _q
    FROM lineitem WHERE year(l_shipdate) = 1996
    GROUP BY l_partkey, l_suppkey
),
tot AS (SELECT l_partkey AS t_pk, sum(_q) AS _tq FROM per GROUP BY l_partkey)
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE s_suppkey IN (
    SELECT DISTINCT l_suppkey FROM per JOIN tot ON l_partkey = t_pk
    WHERE _q * 10 > _tq * 3
)
ORDER BY s_suppkey
"""


# --- TPC-H Q21 analogue: only-late supplier on multi-supplier orders -----


def q_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top suppliers that were the *only* late shipper on an order that
    involved at least two suppliers (TPC-H Q21's EXISTS / NOT-EXISTS
    pair, restated as one per-order aggregate): late = shipped more
    than 30 days after the order date.

    Scale shape: one lineitem ⋈ orders join on the order key, then a
    (orderkey, suppkey) pre-aggregate followed by a per-order
    aggregate — two plain hash aggregations instead of a double
    countDistinct (which would Expand the joined fact ×2); no
    self-joins of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    per_supp = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum("_late").alias("_n_late"),
        F.max(F.when(F.col("_late") == 1, F.col("l_suppkey"))).alias("_late_supp"),
    )
    credited = per_order.filter(
        (F.col("_n_supp") >= 2) & (F.col("_n_late") == 1)
    )
    return (
        credited.groupBy("_late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("_late_supp") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


SQL_WAITING_ORDERS = """
WITH per_order AS (
    SELECT l_orderkey,
           count(DISTINCT l_suppkey) AS _n_supp,
           count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                               THEN l_suppkey END) AS _n_late,
           max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                    THEN l_suppkey END) AS _late_supp
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, numwait
FROM (
    SELECT _late_supp, count(*) AS numwait
    FROM per_order WHERE _n_supp >= 2 AND _n_late = 1
    GROUP BY _late_supp
)
JOIN supplier ON _late_supp = s_suppkey
ORDER BY numwait DESC, s_suppkey
LIMIT 20
"""


# ========================================================================
# Part 2: data-engineering + corpus/embedding coverage
# ========================================================================


# --- MERGE INTO (upsert) classification ----------------------------------


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE of 2001+ order deltas into positive-balance customer
    accounts (operators/cdc.merge_upsert): matched rows update
    (balance + delta), source-only rows insert, target-only rows keep.
    Exact integer cents throughout."""
    from pyspark_pipelining_spark.operators.cdc import merge_upsert

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    target = c.select(
        "c_custkey",
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("balance_cents"),
    )
    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") >= 2001)
    source = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias("delta_cents")
    )
    merged = merge_upsert(
        target, source, "c_custkey", "balance_cents", "delta_cents",
        combine=lambda t, s: t + s,
    )
    return merged.withColumnRenamed("merged", "new_balance_cents").orderBy("c_custkey")


SQL_MERGE_UPSERT = """
WITH target AS (
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS balance_cents
    FROM customer WHERE c_acctbal > 0.0
),
source AS (
    SELECT o_custkey AS c_custkey,
           sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS delta_cents
    FROM orders WHERE year(o_orderdate) >= 2001
    GROUP BY o_custkey
)
SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN 'update'
            WHEN s.c_custkey IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS action,
       CAST(CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                     THEN balance_cents + delta_cents
                 WHEN s.c_custkey IS NOT NULL THEN delta_cents
                 ELSE balance_cents END AS BIGINT) AS new_balance_cents
FROM target t FULL JOIN source s ON t.c_custkey = s.c_custkey
ORDER BY c_custkey
"""


# --- percentile / distribution windows -----------------------------------


def q_acctbal_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of every customer's balance within its
    nation, over a tiebroken (balance, key) total order so both
    functions are exact rationals — identical IEEE in any engine.

    Scale shape (r15 verdict item 2): per-nation ranks come from the
    two-phase exact distributed rank (``operators/rankcut``) with
    ``c_nationkey`` as the group key — integer balance histogram,
    per-(nation, bucket) prefix offsets, broadcast cut join — so a
    nation's rows spread over MANY tasks instead of the
    |customers|/25-per-task window chain; the tiebroken order makes
    ``percent_rank = (rn-1)/(n-1)`` and ``cume_dist = rn/n`` exact
    rationals, bit-equal to the unchanged window-function oracle."""
    from pyspark_pipelining_spark.operators import rankcut

    c = load_table(spark, sf_dir, "customer")
    ranked = rankcut.histogram_ranks(
        c.select("c_custkey", "c_nationkey", "c_acctbal"),
        "c_acctbal",
        "c_custkey",
        ascending=True,
        group_cols=["c_nationkey"],
    )
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        rankcut.percent_rank_expr(F.col("rn"), F.col("n")).alias("balance_pr"),
        (F.col("rn").cast("double") / F.col("n").cast("double")).alias("balance_cd"),
    ).orderBy("c_custkey")


SQL_ACCTBAL_PERCENTILE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       percent_rank() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS balance_pr,
       cume_dist() OVER (PARTITION BY c_nationkey
                         ORDER BY c_acctbal ASC, c_custkey ASC) AS balance_cd
FROM customer
ORDER BY c_custkey
"""


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals (Benford
    screen for synthetic/fabricated money columns).  The digit comes
    from the integer cents string — no float log in sight."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.expr("CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING)"), 1, 1
        ).cast("int").alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = per.agg(F.sum("n_orders").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.round(F.col("n_orders") / F.col("_t"), 6).alias("pct"),
        )
        .orderBy("digit")
    )


SQL_BENFORD_DIGITS = """
WITH per AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       1, 1) AS INTEGER) AS digit,
           count(*) AS n_orders
    FROM orders GROUP BY 1
)
SELECT digit, n_orders,
       round(CAST(n_orders AS DOUBLE) / (SELECT sum(n_orders) FROM per), 6) AS pct
FROM per
ORDER BY digit
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen per event type: the day where the
    cumulative sum of n·v_d − T (the ×n-scaled residual from the mean,
    an exact integer) peaks in magnitude.  One groupBy + one window —
    no driver loop."""
    e = load_table(spark, sf_dir, "events")
    # every fold/product widens to DECIMAL(38,0) (r09 sweep of the
    # trend_by_segment/runs_test silent-wrap class): the n·v residual
    # legitimately exceeds int64 long before the OUTPUT does, and a
    # wrapped residual can cancel back into range — silently moving
    # the argmax — while DuckDB's HUGEINT stays exact.  Output cast
    # back to BIGINT at the boundary on both sides.
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr("CAST(CAST(floor(value * 100) AS BIGINT) AS DECIMAL(38,0))")
        ).alias("v")
    )
    wt = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = daily.select(
        "event_type",
        "day",
        # n_days fits decimal(6,0); (6,0)×(38,0) stays scale-0 exact
        (
            F.count(F.lit(1)).over(wt).cast("decimal(6,0)") * F.col("v")
            - F.sum("v").over(wt)
        ).alias("_r"),
        F.count(F.lit(1)).over(wt).alias("n_days"),
    ).withColumn("_cusum", F.sum("_r").over(wcum))
    wpk = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("_cusum"))), F.asc("day")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wpk))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("peak_day"),
            F.col("_cusum").cast("long").alias("peak_cusum"),
            "n_days",
        )
        .orderBy("event_type")
    )


SQL_CUSUM_CHANGEPOINT = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           sum(CAST(floor(value * 100) AS BIGINT)) AS v
    FROM events GROUP BY 1, 2
),
resid AS (
    SELECT event_type, day,
           count(*) OVER (PARTITION BY event_type) AS n_days,
           count(*) OVER (PARTITION BY event_type) * v
               - sum(v) OVER (PARTITION BY event_type) AS _r
    FROM daily
),
scored AS (
    SELECT event_type, day, n_days,
           sum(_r) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cusum
    FROM resid
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY abs(_cusum) DESC, day ASC) AS _rn
    FROM scored
)
SELECT event_type, day AS peak_day, CAST(_cusum AS BIGINT) AS peak_cusum, n_days
FROM ranked WHERE _rn = 1
ORDER BY event_type
"""


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into balance bands via a broadcast non-equi
    (range) join against a 5-row band table — the dimension-banding
    join every BI layer needs; at any scale it is a broadcast
    nested-loop over 5 rows, never a shuffle."""
    c = load_table(spark, sf_dir, "customer")
    bands = spark.createDataFrame(
        [
            ("1_debt", -1000.0, 0.0),
            ("2_low", 0.0, 2500.0),
            ("3_mid", 2500.0, 5000.0),
            ("4_high", 5000.0, 7500.0),
            ("5_top", 7500.0, 10000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        c.join(
            F.broadcast(bands),
            (F.col("c_acctbal") > F.col("lo")) & (F.col("c_acctbal") <= F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)")).alias("balance_cents"),
        )
        .orderBy("band")
    )


SQL_RANGE_JOIN_BANDS = """
WITH bands(band, lo, hi) AS (
    VALUES ('1_debt', -1000.0, 0.0), ('2_low', 0.0, 2500.0),
           ('3_mid', 2500.0, 5000.0), ('4_high', 5000.0, 7500.0),
           ('5_top', 7500.0, 10000.0)
)
SELECT band, count(*) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS balance_cents
FROM customer JOIN bands ON c_acctbal > lo AND c_acctbal <= hi
GROUP BY band
ORDER BY band
"""


def q_order_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank vs row_number over each customer's order
    values — the three ranking semantics side by side (ties rank
    equal; row_number tiebreaks on the order key), top-3 by rank."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_custkey",
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    wv = Window.partitionBy("o_custkey").orderBy(F.desc("cents"))
    wu = Window.partitionBy("o_custkey").orderBy(F.desc("cents"), F.asc("o_orderkey"))
    return (
        cents.select(
            "o_custkey",
            "o_orderkey",
            "cents",
            F.rank().over(wv).cast("long").alias("rnk"),
            F.dense_rank().over(wv).cast("long").alias("drnk"),
            F.row_number().over(wu).cast("long").alias("rn"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rn")
    )


SQL_ORDER_RANK_TIES = """
WITH cents AS (
    SELECT o_custkey, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT o_custkey, o_orderkey, cents,
       rank() OVER (PARTITION BY o_custkey ORDER BY cents DESC) AS rnk,
       dense_rank() OVER (PARTITION BY o_custkey ORDER BY cents DESC) AS drnk,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY cents DESC, o_orderkey ASC) AS rn
FROM cents
QUALIFY rnk <= 3
ORDER BY o_custkey, rn
"""


# --- corpus: character diversity + source vocabulary overlap -------------


def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document alphabetic character diversity: total letters,
    distinct letters, and the Simpson collision numerator
    Σ cᵢ·(cᵢ−1) — an exact-integer diversity screen (no float
    entropy, so it hashes identically everywhere)."""
    d = load_table(spark, sf_dir, "documents")
    # explode + two-level groupBy: Generate is PIPELINED (it streams
    # rows, never materializing the char table), and the map-side
    # partial hash aggregation caps shuffle traffic at ≤26 rows per doc
    # per partition.  A 26-pass higher-order-function count vector was
    # tried and measured 11× slower at sf0.1 (interpreted HOF filters
    # re-scan the char array per letter).
    chars = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), ""),
                lambda ch: (ch >= "a") & (ch <= "z"),
            )
        ).alias("ch"),
    )
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_alpha"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("simpson_num"),
        )
        .orderBy("doc_id")
    )


SQL_CHAR_DIVERSITY = """
WITH chars AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ''),
                                      ch -> ch >= 'a' AND ch <= 'z')) AS ch
    FROM documents
),
per AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_alpha, count(*) AS n_distinct,
       CAST(sum(c * (c - 1)) AS BIGINT) AS simpson_num
FROM per GROUP BY doc_id
ORDER BY doc_id
"""


def q_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary Jaccard between every source pair — the
    corpus-mixing overlap matrix.  The self-join is token-keyed (work
    per token is bounded by n_sources², never n_docs²), so the shape
    survives any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select("source", F.explode(F.split(F.lower("text"), " +")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = vocab.groupBy(F.col("source").alias("sz_src")).agg(
        F.count(F.lit(1)).alias("vocab")
    )
    a = vocab.select(F.col("source").alias("source_1"), "token")
    b = vocab.select(F.col("source").alias("source_2"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("source_1") < F.col("source_2"))
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("vocab", "n_1")),
            F.col("source_1") == F.col("sz_src"),
        )
        .drop("sz_src")
        .join(
            F.broadcast(sizes.withColumnRenamed("vocab", "n_2")),
            F.col("source_2") == F.col("sz_src"),
        )
        .drop("sz_src")
        .select(
            "source_1",
            "source_2",
            "n_1",
            "n_2",
            "inter",
            F.round(
                F.col("inter") / (F.col("n_1") + F.col("n_2") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .orderBy("source_1", "source_2")
    )


SQL_SOURCE_VOCAB_JACCARD = """
WITH vocab AS (
    SELECT DISTINCT source, tok AS token
    FROM (SELECT source, unnest(string_split_regex(lower(text), ' +')) AS tok
          FROM documents)
    WHERE tok != ''
),
sizes AS (SELECT source, count(*) AS vocab FROM vocab GROUP BY source),
inter AS (
    SELECT a.source AS source_1, b.source AS source_2, count(*) AS inter
    FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_1, source_2, s1.vocab AS n_1, s2.vocab AS n_2, inter,
       round(CAST(inter AS DOUBLE) / (s1.vocab + s2.vocab - inter), 6) AS jaccard
FROM inter
JOIN sizes s1 ON source_1 = s1.source
JOIN sizes s2 ON source_2 = s2.source
ORDER BY source_1, source_2
"""


# --- embeddings: scalar quantization + matryoshka prefix agreement -------


def q_embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SQ8 scalar quantization audit: min/max of the vector,
    the sum of its 0-255 codes, and how many dims saturate.  Codes are
    floor((x−min)·255/(max−min)) with the arithmetic written
    identically in both engines (float→double widening is exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    return (
        e.select("vec_id", dbl.alias("_v"))
        .select(
            "vec_id",
            F.array_min("_v").alias("vmin"),
            F.array_max("_v").alias("vmax"),
            "_v",
        )
        .select(
            "vec_id",
            "vmin",
            "vmax",
            F.expr(
                "aggregate(transform(_v, x -> CAST(floor((x - vmin) * 255 /"
                " (vmax - vmin)) AS BIGINT)), CAST(0 AS BIGINT),"
                " (acc, c) -> acc + c)"
            ).alias("code_sum"),
            F.expr(
                "aggregate(transform(_v, x -> CAST(floor((x - vmin) * 255 /"
                " (vmax - vmin)) AS BIGINT)), CAST(0 AS BIGINT),"
                " (acc, c) -> acc + CASE WHEN c = 255 THEN 1 ELSE 0 END)"
            ).alias("n_saturated"),
        )
        .orderBy("vec_id")
    )


SQL_EMBEDDING_SQ8 = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS _v FROM embeddings
),
mm AS (
    SELECT vec_id, _v,
           list_aggregate(_v, 'min') AS vmin,
           list_aggregate(_v, 'max') AS vmax
    FROM v
)
SELECT vec_id, vmin, vmax,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(_v, x -> CAST(floor((x - vmin) * 255 / (vmax - vmin))
                                        AS BIGINT))),
           (acc, c) -> acc + c) AS code_sum,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(_v, x -> CAST(floor((x - vmin) * 255 / (vmax - vmin))
                                        AS BIGINT))),
           (acc, c) -> acc + CASE WHEN c = 255 THEN 1 ELSE 0 END) AS n_saturated
FROM mm
ORDER BY vec_id
"""


MRL_PREFIX_DIM = 16
MRL_N_QUERIES = 3


def q_mrl_prefix_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style check: does the top-1 neighbor under the
    16-dim prefix of each embedding agree with the full 64-dim top-1?
    Runs the exact cosine top-k operator twice (full and truncated)
    and joins the winners — the cheap-prefix-then-rerank design
    question answered with data."""
    from pyspark_pipelining_spark.operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    pre = e.select(
        "vec_id", F.slice("embedding", 1, MRL_PREFIX_DIM).alias("embedding")
    )
    qf = e.filter(F.col("vec_id") < MRL_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qp = pre.filter(F.col("vec_id") < MRL_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    full1 = (
        similarity.cosine_topk(e, qf, k=1)
        .select(
            "query_id",
            F.col("vec_id").alias("full_top1"),
            F.col("cosine").alias("full_cosine"),
        )
    )
    pre1 = (
        similarity.cosine_topk(pre, qp, k=1)
        .select(
            F.col("query_id").alias("p_qid"),
            F.col("vec_id").alias("prefix_top1"),
            F.col("cosine").alias("prefix_cosine"),
        )
    )
    return (
        full1.join(pre1, full1["query_id"] == pre1["p_qid"])
        .select(
            "query_id",
            "full_top1",
            "full_cosine",
            "prefix_top1",
            "prefix_cosine",
            F.when(F.col("full_top1") == F.col("prefix_top1"), 1)
            .otherwise(0)
            .alias("agree"),
        )
        .orderBy("query_id")
    )


SQL_MRL_PREFIX_AGREEMENT = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS query_vec
    FROM embeddings WHERE vec_id < {MRL_N_QUERIES}
),
fullp AS (
    SELECT q.query_id, e.vec_id,
           {duck_cosine()} AS cosine
    FROM embeddings e, q WHERE e.vec_id != q.query_id
),
prep AS (
    SELECT q.query_id, e.vec_id,
           {duck_cosine(f'e.embedding[1:{MRL_PREFIX_DIM}]', f'q.query_vec[1:{MRL_PREFIX_DIM}]')} AS cosine
    FROM embeddings e, q WHERE e.vec_id != q.query_id
),
f1 AS (
    SELECT query_id, vec_id AS full_top1, cosine AS full_cosine
    FROM fullp QUALIFY row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id ASC) = 1
),
p1 AS (
    SELECT query_id, vec_id AS prefix_top1, cosine AS prefix_cosine
    FROM prep QUALIFY row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) = 1
)
SELECT query_id, full_top1, full_cosine, prefix_top1, prefix_cosine,
       CASE WHEN full_top1 = prefix_top1 THEN 1 ELSE 0 END AS agree
FROM f1 JOIN p1 USING (query_id)
ORDER BY query_id
"""


# ========================================================================
# Part 3: iterative graph peeling + time-series bars
# ========================================================================


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round 2-core peeling of the near-dup candidate graph
    (operators/graph.kcore_peel over the MinHash-LSH edges): which
    documents sit in densely-duplicated neighborhoods after hair
    removal."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs)
    return graph.kcore_peel(pairs, k=2, rounds=3)


def _sql_kcore_peel() -> str:
    peel = []
    prev = "edges"
    for r in range(1, 4):
        peel.append(
            f"""k{r} AS (
    SELECT src FROM {prev} GROUP BY src HAVING count(*) >= 2
),
e{r} AS (
    SELECT e.src, e.dst FROM {prev} e
    WHERE e.src IN (SELECT src FROM k{r}) AND e.dst IN (SELECT src FROM k{r})
)"""
        )
        prev = f"e{r}"
    peels = ",\n".join(peel)
    return f"""
WITH {_sql_near_dup_pairs()},
{graph.duck_edges()},
{peels}
SELECT src AS node, count(*) AS degree
FROM e3 GROUP BY src
ORDER BY node
"""


SQL_KCORE_PEEL = _sql_kcore_peel()


def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user (TWAP): each value
    holds until the user's next event; weights are exact epoch-micro
    durations, products accumulate in decimal(38,0) (cents × micros
    overflows int64), and the single IEEE division happens once at the
    boundary."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
        .withColumn("_next", F.lead("ts").over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(_next) - unix_micros(ts)").alias("dur"),
            "cents",
        )
    )
    return (
        rows.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur").alias("total_micros"),
            F.sum(
                F.expr("CAST(cents AS DECIMAL(38,0)) * CAST(dur AS DECIMAL(38,0))")
            ).alias("_num"),
        )
        .select(
            "user_id",
            "n_intervals",
            "total_micros",
            F.round(
                F.col("_num").cast("double") / F.col("total_micros").cast("double"), 6
            ).alias("twap_cents"),
        )
        .orderBy("user_id")
    )


SQL_TWAP_USER_VALUE = """
WITH rows_ AS (
    SELECT user_id,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS dur,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
),
agg AS (
    SELECT user_id, count(*) AS n_intervals, sum(dur) AS total_micros,
           sum(CAST(cents AS HUGEINT) * CAST(dur AS HUGEINT)) AS _num
    FROM rows_ WHERE dur IS NOT NULL
    GROUP BY user_id
)
SELECT user_id, n_intervals, CAST(total_micros AS BIGINT) AS total_micros,
       round(CAST(_num AS DOUBLE) / CAST(total_micros AS DOUBLE), 6) AS twap_cents
FROM agg
ORDER BY user_id
"""


def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type: open/close by event-time (with
    an event-id tiebreak so ties are deterministic), high/low as exact
    cents — the time-series downsampling shape.

    Scale shape: ONE aggregation with map-side partial combine —
    open/close are ``min_by``/``max_by`` against the unique
    ``(ts, event_id)`` struct, so no per-partition sort ever happens
    (a row_number window would fully sort each (type, day) partition;
    a hot day would funnel into one task)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    return (
        base.groupBy("event_type", "day")
        .agg(
            F.expr("min_by(cents, struct(ts, event_id))").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.expr("max_by(cents, struct(ts, event_id))").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type", "day")
    )


SQL_OHLC_DAILY = """
WITH base AS (
    SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
),
rn AS (
    SELECT *,
           row_number() OVER (PARTITION BY event_type, day
                              ORDER BY ts ASC, event_id ASC) AS _ra,
           row_number() OVER (PARTITION BY event_type, day
                              ORDER BY ts DESC, event_id DESC) AS _rd
    FROM base
)
SELECT event_type, day,
       max(CASE WHEN _ra = 1 THEN cents END) AS open_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents,
       max(CASE WHEN _rd = 1 THEN cents END) AS close_cents,
       count(*) AS n_events
FROM rn
GROUP BY event_type, day
ORDER BY event_type, day
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-label purity of the integer-lattice k-means cells: per
    cell, the majority ground-truth label (smallest label wins ties),
    its share of the cell, and the cell size — the standard external
    clustering-quality check, exercised on the same deterministic
    assignment the kmeans_cells oracle replays."""
    from pyspark_pipelining_spark.operators.cluster import kmeans_int

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_int(emb, k=8, iters=2).select("vec_id", "cell")
    lab = emb.select("vec_id", "label")
    per = (
        assign.join(lab, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("label"))
    return (
        per.withColumn("_rn", F.row_number().over(w))
        .withColumn("size", F.sum("n").over(Window.partitionBy("cell")))
        .filter(F.col("_rn") == 1)
        .select(
            "cell",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_n"),
            "size",
            F.round(F.col("n") / F.col("size"), 6).alias("purity"),
        )
        .orderBy("cell")
    )


def _sql_cluster_purity() -> str:
    from pyspark_pipelining_spark.queries_llm import SQL_KMEANS_CELLS

    return f"""
WITH assign AS ({SQL_KMEANS_CELLS}),
per AS (
    SELECT a.cell, e.label, count(*) AS n
    FROM assign a JOIN embeddings e USING (vec_id)
    GROUP BY a.cell, e.label
),
sized AS (
    SELECT cell, label, n,
           sum(n) OVER (PARTITION BY cell) AS size,
           row_number() OVER (PARTITION BY cell ORDER BY n DESC, label ASC) AS _rn
    FROM per
)
SELECT cell, label AS majority_label, n AS majority_n, CAST(size AS BIGINT) AS size,
       round(CAST(n AS DOUBLE) / size, 6) AS purity
FROM sized WHERE _rn = 1
ORDER BY cell
"""


SQL_CLUSTER_PURITY = _sql_cluster_purity()


# --- TPC-H Q19 analogue: disjunctive join predicate ----------------------

_Q19_BANDS = [
    ("Brand#12", 5, 1.0, 11.0),
    ("Brand#23", 10, 10.0, 20.0),
    ("Brand#34", 15, 20.0, 30.0),
]


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three OR'd brand/size/quantity bands — TPC-H Q19's
    disjunctive join predicate.  Catalyst won't push a cross-side OR
    into either scan, so the envelope of the disjunction is applied
    REDUNDANTLY per side (brand IN set + max size on part, quantity
    span on lineitem): semantics unchanged, but both parquet scans
    prune before the broadcast join, which is the difference between
    scanning 3 brands and scanning all 25 at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    brands = [b for b, _s, _lo, _hi in _Q19_BANDS]
    max_size = max(s for _b, s, _lo, _hi in _Q19_BANDS)
    qty_lo = min(lo for _b, _s, lo, _hi in _Q19_BANDS)
    qty_hi = max(hi for _b, _s, _lo, hi in _Q19_BANDS)
    p_pruned = p.filter(
        F.col("p_brand").isin(brands) & (F.col("p_size") >= 1) & (F.col("p_size") <= max_size)
    )
    li_pruned = li.filter((F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi))
    branch = None
    for b, s, lo, hi in _Q19_BANDS:
        c = (
            (F.col("p_brand") == b)
            & (F.col("p_size") <= s)
            & (F.col("l_quantity") >= lo)
            & (F.col("l_quantity") <= hi)
        )
        branch = c if branch is None else (branch | c)
    return (
        li_pruned.join(F.broadcast(p_pruned), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.sum(F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _sql_disjunctive_revenue() -> str:
    ors = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s}"
        f" AND l_quantity BETWEEN {lo} AND {hi})"
        for b, s, lo, hi in _Q19_BANDS
    )
    return f"""
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {ors}
"""


SQL_DISJUNCTIVE_REVENUE = _sql_disjunctive_revenue()


# --- TPC-H Q5 analogue: local-supplier volume ----------------------------


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per ASIA nation in 1996 where the supplying and ordering
    nation coincide — TPC-H Q5's join cycle: the customer→nation and
    supplier→nation hops close a cycle (c_nationkey = s_nationkey),
    which no join-tree handles implicitly, so the equality is applied
    as a cross-side filter after both broadcast hops.  Only
    lineitem ⋈ orders shuffles; nation/region prune to one region
    BEFORE broadcasting."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_n = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
        "n_nationkey", "n_name"
    )
    cust = c.join(F.broadcast(asia_n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", F.col("c_nationkey").alias("cust_nk"), F.col("n_name").alias("n_name")
    )
    supp = s.select("s_suppkey", F.col("s_nationkey").alias("supp_nk"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("cust_nk") == F.col("supp_nk"))
        .groupBy("n_name")
        .agg(F.sum(F.expr(DISC)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name, CAST(sum({DISC}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND year(o_orderdate) = 1996
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


QUERIES_COVERAGE = {
    "min_cost_supplier": q_min_cost_supplier,
    "forecast_revenue": q_forecast_revenue,
    "product_profit": q_product_profit,
    "important_parts": q_important_parts,
    "ship_delay_priority": q_ship_delay_priority,
    "brand_supplier_cnt": q_brand_supplier_cnt,
    "dominant_suppliers": q_dominant_suppliers,
    "waiting_orders": q_waiting_orders,
    "merge_upsert": q_merge_upsert,
    "acctbal_percentile": q_acctbal_percentile,
    "benford_digits": q_benford_digits,
    "cusum_changepoint": q_cusum_changepoint,
    "range_join_bands": q_range_join_bands,
    "order_rank_ties": q_order_rank_ties,
    "char_diversity": q_char_diversity,
    "source_vocab_jaccard": q_source_vocab_jaccard,
    "embedding_sq8": q_embedding_sq8,
    "mrl_prefix_agreement": q_mrl_prefix_agreement,
    "kcore_peel": q_kcore_peel,
    "twap_user_value": q_twap_user_value,
    "ohlc_daily": q_ohlc_daily,
    "cluster_purity": q_cluster_purity,
    "disjunctive_revenue": q_disjunctive_revenue,
    "local_supplier_volume": q_local_supplier_volume,
}

ORACLES_COVERAGE = {
    "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
    "forecast_revenue": SQL_FORECAST_REVENUE,
    "product_profit": SQL_PRODUCT_PROFIT,
    "important_parts": SQL_IMPORTANT_PARTS,
    "ship_delay_priority": SQL_SHIP_DELAY_PRIORITY,
    "brand_supplier_cnt": SQL_BRAND_SUPPLIER_CNT,
    "dominant_suppliers": SQL_DOMINANT_SUPPLIERS,
    "waiting_orders": SQL_WAITING_ORDERS,
    "merge_upsert": SQL_MERGE_UPSERT,
    "acctbal_percentile": SQL_ACCTBAL_PERCENTILE,
    "benford_digits": SQL_BENFORD_DIGITS,
    "cusum_changepoint": SQL_CUSUM_CHANGEPOINT,
    "range_join_bands": SQL_RANGE_JOIN_BANDS,
    "order_rank_ties": SQL_ORDER_RANK_TIES,
    "char_diversity": SQL_CHAR_DIVERSITY,
    "source_vocab_jaccard": SQL_SOURCE_VOCAB_JACCARD,
    "embedding_sq8": SQL_EMBEDDING_SQ8,
    "mrl_prefix_agreement": SQL_MRL_PREFIX_AGREEMENT,
    "kcore_peel": SQL_KCORE_PEEL,
    "twap_user_value": SQL_TWAP_USER_VALUE,
    "ohlc_daily": SQL_OHLC_DAILY,
    "cluster_purity": SQL_CLUSTER_PURITY,
    "disjunctive_revenue": SQL_DISJUNCTIVE_REVENUE,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
}


# ---------------------------------------------------------------------------
# Round-8: binaryFile ingestion under the hard signal (r07 verdict item 4)
# ---------------------------------------------------------------------------


def q_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file stats over the sf directory read as RAW BLOBS through
    ``sources.registry.load_binary_files`` (Spark's binaryFile source) — the
    multimodal on-ramp's first driver-validated row: file name, byte
    length, the 4-byte magic (hex — ``50415231`` = "PAR1"), and a
    sha256 content digest.  The digest runs over ``hex(content)``
    because that is the binary-hash formulation both engines share
    bit-for-bit (DuckDB's sha256 takes VARCHAR only); hexing is a
    one-pass JVM expression.

    The oracle is fully INDEPENDENT: DuckDB ``read_blob`` over a
    constant multi-sf glob, with the current sf directory derived from
    the data itself (``parquet_file_metadata`` row count matched
    against the registered ``customer`` view) — no literal per-sf path
    in the SQL, which is what kept this source out of the hard signal
    until now.

    Scale: one file = one row = one task; ``pathGlobFilter`` prunes at
    listing time; content bytes stream once through hash+substring
    (no shuffle before the 10-row sort).  SIZE ENVELOPE: ``hex()``
    allocates a 2×-payload array (JVM ceiling ≈ 1 GiB of content) —
    ample for the driver's fixture parquet, but a real lake scan
    gates upstream with ``load_binary_files(..., max_bytes=...)`` on
    the length metadata, the wav_pcm_windows pattern."""
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    df = load_binary_files(spark, sf_dir, glob="*.parquet")
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.substring(F.hex(F.col("content")), 1, 8).alias("magic_hex"),
        F.sha2(F.hex(F.col("content")), 256).alias("content_sha"),
    ).orderBy("file_name")


SQL_BLOB_STATS = rf"""
WITH sfmatch AS (
    SELECT regexp_extract(file_name, '^(.*)/customer\.parquet$', 1) AS dir
    FROM parquet_file_metadata('/root/testdata/sf*/customer.parquet')
    WHERE num_rows = (SELECT count(*) FROM customer)
),
-- forward-fragility guard (r08 ADVICE): the aggregate always yields
-- one row, so a moved data root (0 matches) or two sf dirs sharing a
-- customer row count (2+) ERRORS loudly instead of silently returning
-- an empty/duplicated result; /root/testdata is the driver's own
-- fixture root (documented in VALIDATION.md)
sfdir AS (
    SELECT CASE WHEN count(*) = 1 THEN min(dir)
           ELSE error('blob_stats oracle: expected exactly one sf dir match under /root/testdata, got ' || count(*))
           END AS dir
    FROM sfmatch
)
SELECT {FILE_NAME},
       CAST(size AS BIGINT) AS n_bytes,
       substring(hex(content), 1, 8) AS magic_hex,
       sha256(hex(content)) AS content_sha
FROM read_blob('/root/testdata/sf*/*.parquet'), sfdir
WHERE filename LIKE dir || '/%'
ORDER BY file_name
"""

QUERIES_COVERAGE["blob_stats"] = q_blob_stats
ORACLES_COVERAGE["blob_stats"] = SQL_BLOB_STATS


# --- Round-11 registration (formerly queries_staged.py): partition
# pruning end-to-end — DAG-materialized date-partitioned fact ----------

PRUNE_YEAR = 1995


def _dag_cache_root() -> str:
    """Materialization root for DAG-produced tables (``.dag_cache`` at
    the repo root, gitignored) — derived from the package location the
    same way ``sources.registry.fixtures_dir`` is."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".dag_cache"
    )


def _input_key(sf_dir: str) -> str:
    """Deterministic run key for one sf input: the orders file's
    (mtime_ns, size) — so a regenerated testdata set invalidates the
    materialization instead of silently serving stale partitions (the
    ``_SUCCESS`` skip is existence-based).  When ``orders.parquet`` is
    a DIRECTORY of part files (the common layout for engine-written
    tables), every file under it contributes: an in-place part-file
    rewrite does not bump the directory's own mtime, so keying on the
    directory stat alone would serve stale partitions (ADVICE r11)."""
    import os

    path = os.path.join(sf_dir, "orders.parquet")
    try:
        if os.path.isdir(path):
            parts = []
            for root, _dirs, files in os.walk(path):
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    parts.append(f"{st.st_mtime_ns}_{st.st_size}")
            if not parts:
                return "nokey"
            import hashlib

            return hashlib.md5("|".join(parts).encode()).hexdigest()[:24]
        st = os.stat(path)
        return f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        return "nokey"


def _prune_stale_runs(output_path: str, run_id: str) -> None:
    """Best-effort removal of SUPERSEDED materializations: every run
    dir under this input's OWN cache directory whose key no longer
    matches (a regenerated testdata set re-keys the run id, and
    without this the old partitioned copies would accumulate on disk
    forever).  ``output_path`` is already namespaced by the input's
    directory basename (one subdirectory per sf tag), so distinct
    inputs can never collide here no matter what characters their
    basenames contain — the r10 ADVICE prefix-parsing hazard
    (``sf_big`` vs ``sf_small`` collapsing to one ``sf_`` prefix) is
    structurally impossible.  Never raises — a cache janitor must not
    fail the query.

    Concurrency contract (SINGLE WRITER): the ``_SUCCESS``
    existence-skip in ``plans/dag.py`` and this janitor together
    assume one session materializes a given sf tag at a time — a
    concurrent reader of a run dir being rmtree'd here would see a
    partial listing.  That invariant already holds repo-wide (the
    CLAUDE.md no-concurrent-pytest rule, for Derby metastore reasons),
    and the cache is a gitignored local artifact; do NOT copy this
    existence-check-then-write pattern into a multi-writer context —
    there it needs a lock file or an atomic rename commit protocol."""
    import os
    import shutil

    try:
        for d in os.listdir(output_path):
            if d != run_id:
                shutil.rmtree(os.path.join(output_path, d), ignore_errors=True)
    except OSError:
        pass


def _orders_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAG-materialized, o_year-Hive-partitioned copy of ``orders``
    (idempotent across queries and sessions: the ``_SUCCESS`` skip plus
    the input-keyed run id mean the first caller writes, everyone else
    lists directories) — the shared layout behind the static-pruning
    query (`partition_pruned_revenue`) and the dynamic-pruning one
    (`dpp_top_year_revenue`)."""
    import os

    from pyspark_pipelining_spark.plans.dag import Pipeline, PipelineConfig

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    cfg = PipelineConfig(
        sf_dir=sf_dir,
        output_path=os.path.join(_dag_cache_root(), "partitioned", tag),
        run_id=_input_key(sf_dir),
    )
    _prune_stale_runs(cfg.output_path, cfg.run_id)
    pipe = Pipeline(spark, cfg)

    @pipe.stage("orders_by_year", materialize=True, partition_by=("o_year",))
    def _orders_by_year(spark, config, upstream):
        o = load_table(spark, config.sf_dir, "orders")
        return o.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
            F.year("o_orderdate").alias("o_year"),
        )

    return pipe.run("orders_by_year")


def q_partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order count + revenue for one year, read from a
    DATE-PARTITIONED copy of ``orders`` materialized through the
    Pipeline DAG — the first query whose driver row exercises the
    write-side partition layout AND the read-side directory pruning
    end-to-end (r09 verdict item 3; SURVEY §4 "partition facts by
    date").

    The DAG stage (``Stage.partition_by=('o_year',)``) writes
    Hive-style ``o_year=N`` directories once per input state
    (idempotent ``_SUCCESS`` skip, input-keyed run id); the read-back
    filters on the partition column, so Catalyst resolves the
    predicate at the DIRECTORY level — MEASURED at sf0.1: the layout
    produces 7 ``o_year=N`` dirs (one file each) and the pruned scan's
    executed plan carries ``PartitionFilters: [isnotnull(o_year),
    (o_year = 1995)]`` with empty DataFilters — 1 of 7 files listed
    and read, zero row-level filtering work.  The wall-clock delta at
    this scale is small (0.198 vs 0.227 s median-of-5 against the
    same aggregate over ``year(o_orderdate)`` on the raw table, which
    cannot prune because the function call defeats stats pushdown)
    because the whole table is 7 small files; the structural win is
    the file-count ratio, which at 100 TB with daily partitions is
    the difference between a year query costing one year and costing
    the whole table.

    The oracle recomputes the identical rows from the raw ``orders``
    view — same decimal(18,2) cent discipline, month cast to BIGINT on
    both sides (driver dtype gate)."""
    part = _orders_partitioned(spark, sf_dir)
    return (
        part.filter(F.col("o_year") == PRUNE_YEAR)
        .groupBy(F.month("o_orderdate").cast("long").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double")
            .alias("total_revenue"),
        )
        .orderBy("month")
    )


SQL_PARTITION_PRUNED_REVENUE = f"""
SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       {duck_money_sum('o_totalprice')} AS total_revenue
FROM orders
WHERE year(o_orderdate) = {PRUNE_YEAR}
GROUP BY 1
ORDER BY 1
"""

QUERIES_COVERAGE["partition_pruned_revenue"] = q_partition_pruned_revenue
ORACLES_COVERAGE["partition_pruned_revenue"] = SQL_PARTITION_PRUNED_REVENUE


# --- Round-12 registration (formerly queries_staged.py): dynamic
# partition pruning — fact partitions filtered through a JOIN ----------

DPP_TOP_YEARS = 2


def q_dpp_top_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order count + revenue for the top-``DPP_TOP_YEARS`` busiest
    years, where the year set is only known AT RUNTIME — the
    dynamic-partition-pruning companion to ``partition_pruned_revenue``
    (r10 verdict item 3): the static query proved a LITERAL predicate
    prunes directories; the 100 TB layout claim also leans on pruning
    through a JOIN, because real dashboards filter the fact's
    partition column by a dim predicate ("this campaign's weeks",
    "the audited regions"), not by constants.

    Plan shape (asserted in tests/test_plans.py, on the EXECUTED
    final plan): the o_year-partitioned fact scan carries
    ``dynamicpruning#`` inside its PartitionFilters, the pruning
    subquery's final plan is a ``ReusedExchange`` of the join's own
    broadcast (the dim side is built ONCE), and the scan's own
    metrics prove the pruning ran: ``staticFilesNum`` = all 7
    ``o_year=N`` dirs, ``numFiles`` = the {DPP_TOP_YEARS} qualifying
    dirs actually read.  With daily partitions at 100 TB this is the
    difference between scanning two campaign-months and scanning the
    table, with zero literals in the query.

    WHY THE CHECKPOINT (round-12 fix — the window-shaped dim was
    silently NOT pruning at runtime): under AQE,
    ``PlanAdaptiveDynamicPruningFilters`` only keeps the pruning
    filter if a broadcast stage whose exchange ``sameResult``-matches
    the subquery's captured build plan exists for reuse
    (``reuseBroadcastOnly``); Catalyst rewrites the JOIN side's rank
    filter through ``TakeOrderedAndProject`` but leaves the captured
    subquery build plan as the un-rewritten Sort+Window shape, the
    match fails, and the filter degrades to
    ``dynamicpruningexpression(true)`` — all 7 dirs read, no error,
    no warning (measured: numFiles 7→2 from this change alone).
    Pinning the ranked dim with ``localCheckpoint`` makes both sides
    the same LogicalRDD scan, so the match is structural; the rank
    computes exactly once by construction.  The ``o_year >= 0``
    domain guard exists because ``PartitionPruning``'s
    selectivity heuristic does not look through checkpoint
    boundaries — a bare LogicalRDD dim gets no DPP filter at all;
    semantically it is a no-op (years are CE calendar years).

    The dim derives from the RAW orders view (one small aggregate —
    |years| rows, so the single-partition rank window and the eager
    checkpoint are both benign), so both engines rank the same input;
    ties break on year.  Money through decimal(18,2), counts BIGINT,
    year cast to BIGINT on both sides (driver dtype gate)."""
    from pyspark.sql import Window

    part = _orders_partitioned(spark, sf_dir)
    raw = load_table(spark, sf_dir, "orders")
    yd = raw.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # |years| rows: the single-partition window is benign
    w = Window.orderBy(F.desc("n"), F.asc("o_year"))
    top = (
        yd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DPP_TOP_YEARS)
        .select("o_year")
        .localCheckpoint(eager=True)
        .filter(F.col("o_year") >= 0)
    )
    joined = part.join(F.broadcast(top), on="o_year")
    return (
        joined.groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double")
            .alias("total_revenue"),
        )
        .orderBy("o_year")
    )


SQL_DPP_TOP_YEAR_REVENUE = f"""
WITH yd AS (
    SELECT year(o_orderdate) AS o_year, count(*) AS n
    FROM orders GROUP BY 1
),
top AS (
    SELECT o_year FROM yd
    QUALIFY row_number() OVER (ORDER BY n DESC, o_year ASC) <= {DPP_TOP_YEARS}
)
SELECT CAST(o.yr AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       {duck_money_sum('o_totalprice')} AS total_revenue
FROM (SELECT year(o_orderdate) AS yr, o_totalprice FROM orders) o
JOIN top ON o.yr = top.o_year
GROUP BY 1
ORDER BY 1
"""

QUERIES_COVERAGE["dpp_top_year_revenue"] = q_dpp_top_year_revenue
ORACLES_COVERAGE["dpp_top_year_revenue"] = SQL_DPP_TOP_YEAR_REVENUE
