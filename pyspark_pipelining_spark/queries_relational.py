"""Relational operator-coverage queries on the TPC-H-ish tables
(FIXTURES.md §B.7): every join flavor, aggregate shape, window form,
set operation, and sort/limit from SURVEY §2, exercised directly and
oracle-checked.

Broadcast hints are explicit where a human would know the side is a dim
(nation/region/customer): on a 100 TB fact scan these become map-side
joins with zero shuffle of the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark.money import D, cents, duck_money_sum, money_sum
from pyspark_pipelining_spark.sources.registry import load_table

# --- A-family: the TPC-H Q1-style pricing summary (P7, A2, A3, F8) ------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # price (2dp) × (1 - discount (2dp)) has exactly 4 decimal places —
    # decimal(18,4) captures it without per-row rounding (which would
    # diverge between engines' rounding modes)
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       {duck_money_sum('l_extendedprice')} AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       sum(l_quantity) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- J1/J2 + broadcast: star join over dims -----------------------------


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("r_name")
    )


SQL_REVENUE_BY_REGION = f"""
SELECT r_name, count(*) AS n_orders,
       {duck_money_sum('o_totalprice')} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- J5/J6: semi + anti in one result -----------------------------------


def q_customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("bucket", F.lit("with_orders"))
    )
    without = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("bucket", F.lit("without_orders"))
    )
    return with_orders.unionByName(without).orderBy("bucket", "c_mktsegment")


SQL_CUSTOMERS_SEMI_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers, 'with_orders' AS bucket
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, count(*), 'without_orders'
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


# --- J4: full outer stitch of two activity profiles ---------------------


def q_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    orders_per = o.groupBy(F.col("o_custkey").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    events_per = ev.groupBy(F.col("user_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        orders_per.join(events_per, on="entity_id", how="full_outer")
        .select(
            "entity_id",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        # entity-sized output: no global sort (full range-shuffle for nothing)
    )


SQL_ACTIVITY_FULL_OUTER = """
WITH op AS (SELECT o_custkey AS entity_id, count(*) AS n_orders FROM orders GROUP BY o_custkey),
ep AS (SELECT user_id AS entity_id, count(*) AS n_events FROM events GROUP BY user_id)
SELECT coalesce(op.entity_id, ep.entity_id) AS entity_id,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(n_events, 0) AS n_events
FROM op FULL OUTER JOIN ep ON op.entity_id = ep.entity_id
"""


# --- J7/J10: multi-condition equi + range predicate join ----------------


def q_shipped_after_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(
            o,
            on=[
                li["l_orderkey"] == o["o_orderkey"],
                li["l_shipdate"] > o["o_orderdate"],
            ],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum("l_extendedprice").alias("value_shipped"),
        )
        .orderBy("o_orderpriority")
    )


SQL_SHIPPED_AFTER_ORDER = f"""
SELECT o_orderpriority, count(*) AS n_lines,
       {duck_money_sum('l_extendedprice')} AS value_shipped
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
GROUP BY o_orderpriority
"""


# --- W-family: ranking, lag, cumulative ---------------------------------


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
        # customer-sized output: no global sort
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
FROM orders
QUALIFY rank <= 3
"""


def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    gaps = o.withColumn(
        "gap_days", F.datediff(F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w)))
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.sum("gap_days").cast("long").alias("total_gap_days"),
            (F.sum("gap_days") / F.count("gap_days")).alias("avg_gap_days"),
        )
        # customer-sized output: no global sort
    )


SQL_ORDER_GAPS = """
WITH g AS (
    SELECT o_custkey,
           date_diff('day',
                     CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE),
                     CAST(o_orderdate AS DATE)) AS gap_days
    FROM orders
)
SELECT o_custkey, count(gap_days) AS n_gaps,
       CAST(sum(gap_days) AS BIGINT) AS total_gap_days,
       sum(gap_days) / count(gap_days) AS avg_gap_days
FROM g GROUP BY o_custkey
"""


def q_cumulative_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("date"))
        .agg(F.sum(F.col("value").cast(D)).cast(D).alias("day_value"))
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.withColumn(
        "cum_value", F.sum("day_value").over(w).cast("double")
    ).withColumn("day_value", F.col("day_value").cast("double")).orderBy("date")


SQL_CUMULATIVE_DAILY_VALUE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS date,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS day_value
    FROM events GROUP BY 1
)
SELECT date, CAST(day_value AS DOUBLE) AS day_value,
       CAST(sum(day_value) OVER (ORDER BY date ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
FROM daily
"""


# --- U-family + O4: set operations, distinct, top-k ---------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_cust.intersect(o_cust).withColumn("bucket", F.lit("both"))
    only_f = f_cust.exceptAll(o_cust).withColumn("bucket", F.lit("only_f"))
    only_o = o_cust.exceptAll(f_cust).withColumn("bucket", F.lit("only_o"))
    return (
        both.unionByName(only_f)
        .unionByName(only_o)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("bucket")
    )


SQL_SET_OPS = """
WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
tagged AS (
    SELECT o_custkey, 'both' AS bucket FROM (SELECT * FROM f INTERSECT SELECT * FROM o)
    UNION ALL
    SELECT o_custkey, 'only_f' FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
    UNION ALL
    SELECT o_custkey, 'only_o' FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
)
SELECT bucket, count(*) AS n_customers FROM tagged GROUP BY bucket
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# --- A12 native: ROLLUP with grouping id --------------------------------


def q_rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy("o_orderpriority", "o_orderstatus", "gid")
    )


SQL_ROLLUP_ORDER_STATUS = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


# --- global stats (A4): one-row multi-aggregate -------------------------


def q_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min(F.to_date("l_shipdate")).alias("first_ship"),
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
        money_sum("l_extendedprice").alias("total_value"),
    )


SQL_GLOBAL_STATS = f"""
SELECT count(*) AS n_rows,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_orderkey) AS n_orders,
       min(CAST(l_shipdate AS DATE)) AS first_ship,
       max(CAST(l_shipdate AS DATE)) AS last_ship,
       {duck_money_sum('l_extendedprice')} AS total_value
FROM lineitem
"""


# --- A7 on TPC-H: pivot with pinned values ------------------------------


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
        .na.fill(0.0, ["A", "N", "R"])
        .orderBy("l_linestatus")
    )


SQL_PIVOT_RETURNFLAG = """
SELECT l_linestatus,
       coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0.0) AS A,
       coalesce(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0.0) AS N,
       coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0.0) AS R
FROM lineitem GROUP BY l_linestatus
"""



def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase event joined as-of to the
    same user's most recent STRICTLY-prior click (left semantics — a
    purchase with no prior click keeps nulls).  One union + one window
    over a single user_id shuffle; no range join (see operators/asof)."""
    from pyspark_pipelining_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(purchases, clicks, key="user_id", ts="ts", ref_cols=["event_id"], strict=True)
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("click_ts"),
        F.col("asof_event_id").alias("click_event_id"),
    )


SQL_ASOF_ATTRIBUTION = """
SELECT l.event_id, l.user_id, l.ts AS purchase_ts,
       r.ts AS click_ts, r.event_id AS click_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts > r.ts
"""


INTERVAL_WINDOW_MIN = 360


def q_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every click inside the 6-hour window FOLLOWING a purchase by
    the same user (operators/asof.interval_join_binned): the
    point-in-interval companion to last-touch as-of attribution.  Plain
    hash join on (user_id, time bin) — never a per-key cross product."""
    from pyspark_pipelining_spark.operators.asof import interval_join_binned

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.unix_micros("ts").alias("p_us")
    )
    win_us = INTERVAL_WINDOW_MIN * 60 * 1_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(win_us)).alias("e_us"),
    )
    out = interval_join_binned(
        clicks, purchases, "user_id", "p_us", "s_us", "e_us",
        bin_minutes=INTERVAL_WINDOW_MIN,
    )
    return out.select("user_id", "click_id", "purchase_id", "p_us", "s_us")


SQL_INTERVAL_ATTRIBUTION = f"""
WITH clicks AS (
    SELECT event_id AS click_id, user_id, epoch_us(ts) AS p_us
    FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS s_us,
           epoch_us(ts) + {INTERVAL_WINDOW_MIN * 60 * 1_000_000} AS e_us
    FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, p.purchase_id, c.p_us, p.s_us
FROM clicks c JOIN purchases p
  ON c.user_id = p.user_id AND c.p_us >= p.s_us AND c.p_us <= p.e_us
"""


def q_scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of each customer's order priority over time
    (operators/scd.scd2_rebuild): per (custkey, orderdate) observation
    (max priority on ties), no-change days collapsed, valid_to = next
    version's valid_from (null = open)."""
    from pyspark_pipelining_spark.operators.scd import scd2_rebuild

    o = load_table(spark, sf_dir, "orders")
    versions = (
        o.select(
            F.col("o_custkey").alias("key"),
            F.to_date("o_orderdate").alias("valid_from"),
            F.col("o_orderpriority").alias("attr"),
        )
        .groupBy("key", "valid_from")
        .agg(F.max("attr").alias("attr"))
    )
    return scd2_rebuild(versions, "key", "valid_from", ["attr"])


SQL_SCD2_CUSTOMER_PRIORITY = """
WITH upd AS (
    SELECT o_custkey AS key, CAST(o_orderdate AS DATE) AS valid_from,
           max(o_orderpriority) AS attr
    FROM orders GROUP BY 1, 2
),
ordered AS (
    SELECT key, valid_from, attr,
           lag(attr) OVER (PARTITION BY key ORDER BY valid_from) AS prev,
           row_number() OVER (PARTITION BY key ORDER BY valid_from) AS rn
    FROM upd
),
changed AS (
    SELECT key, valid_from, attr FROM ordered
    WHERE rn = 1 OR attr IS DISTINCT FROM prev
)
SELECT key, valid_from,
       lead(valid_from) OVER (PARTITION BY key ORDER BY valid_from) AS valid_to,
       attr
FROM changed
"""




FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over events (operators/funnel): users
    per deepest view -> click -> purchase stage reached, matched in
    (ts, event_id) scan order with one shuffle and a codegen fold —
    no per-step self-join."""
    from pyspark_pipelining_spark.operators.funnel import funnel_report

    ev = load_table(spark, sf_dir, "events")
    return funnel_report(ev, FUNNEL_STEPS).orderBy("stage")


# the oracle takes the textbook k-join formulation (first match of each
# step strictly after the previous match, row-value comparison on
# (ts, event_id)) — equivalent to the engine's single-pass greedy fold
SQL_FUNNEL_REPORT = """
WITH m1 AS (
    SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'view') WHERE rn = 1
),
m2 AS (
    SELECT user_id, ts, event_id FROM (
        SELECT e.user_id, e.ts, e.event_id,
               row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN m1 USING (user_id)
        WHERE e.event_type = 'click' AND (e.ts, e.event_id) > (m1.ts, m1.event_id))
    WHERE rn = 1
),
m3 AS (
    SELECT user_id FROM (
        SELECT e.user_id,
               row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN m2 USING (user_id)
        WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (m2.ts, m2.event_id))
    WHERE rn = 1
),
stages AS (
    SELECT u.user_id,
           CASE WHEN m3.user_id IS NOT NULL THEN 3
                WHEN m2.user_id IS NOT NULL THEN 2
                WHEN m1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN m1 ON u.user_id = m1.user_id
    LEFT JOIN m2 ON u.user_id = m2.user_id
    LEFT JOIN m3 ON u.user_id = m3.user_id
)
SELECT sp.stage, coalesce(c.users, 0) AS users
FROM (SELECT unnest([0, 1, 2, 3]) AS stage) sp
LEFT JOIN (SELECT stage, count(*) AS users FROM stages GROUP BY stage) c
  USING (stage)
ORDER BY sp.stage
"""


def q_order_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue trend (operators/stats.group_trend): exact
    decimal(38,0) sufficient statistics over the (epoch-day, cents)
    integer lattice, one correctly-rounded double division at the end."""
    from pyspark_pipelining_spark.operators.stats import group_trend

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("x"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    return group_trend(base, "x", "y", "priority").orderBy("priority")


SQL_ORDER_TREND = """
WITH base AS (
    SELECT o_orderpriority AS priority,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS y
    FROM orders
),
agg AS (
    SELECT priority, count(*) AS n,
           sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx
    FROM base GROUP BY priority
)
SELECT priority, n,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
FROM agg WHERE n * sxx - sx * sx != 0
ORDER BY priority
"""


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma anomalies in event value per event type
    (operators/stats.zscore_outliers): the comparison is pure 128-bit
    integer arithmetic — (n*v - S)^2 > 9*(n*SS - S^2) on the cents
    lattice — so the flag can never flip on float noise."""
    from pyspark_pipelining_spark.operators.stats import zscore_outliers

    ev = load_table(spark, sf_dir, "events")
    return zscore_outliers(ev, "value", "event_type", "event_id").orderBy("event_id")


SQL_VALUE_OUTLIERS = """
WITH cents AS (
    SELECT event_id, event_type,
           CAST(floor(value * 100) AS BIGINT) AS v_cents
    FROM events
),
stats AS (
    SELECT event_type, CAST(count(*) AS HUGEINT) AS gn,
           sum(CAST(v_cents AS HUGEINT)) AS gs,
           sum(CAST(v_cents AS HUGEINT) * v_cents) AS gss
    FROM cents GROUP BY event_type
)
SELECT c.event_id, c.event_type, c.v_cents
FROM cents c JOIN stats s USING (event_type)
WHERE (s.gn * c.v_cents - s.gs) * (s.gn * c.v_cents - s.gs)
      > 9 * (s.gn * s.gss - s.gs * s.gs)
ORDER BY c.event_id
"""




def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value quartiles: exact integer cents totals,
    then ntile(4) and percent_rank over a fully-determined order
    (total desc, custkey) — the ranking-window family (ntile /
    percent_rank) on top of an exact aggregation.  percent_rank is
    (rank-1)/(n-1): one double division of exact integers, bit-equal
    across engines.

    Scale shape (r15 verdict item 2): both come from the two-phase
    exact distributed rank (``operators/rankcut.histogram_ranks``) —
    integer value histogram, bucket-prefix offsets, broadcast cut
    join — never a
    single-task global window; ``ntile_expr`` / ``percent_rank_expr``
    reconstruct the identical values from the exact row number, so the
    unchanged window-function oracle stays bit-green."""
    from pyspark_pipelining_spark.operators import rankcut

    o = load_table(spark, sf_dir, "orders")
    totals = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            )
        )
    )
    # totals feeds three branches (bounds, counts, rank) — checkpoint
    # once so the orders scan runs once (CLAUDE.md multi-branch rule)
    ranked = rankcut.histogram_ranks(
        totals.localCheckpoint(eager=True), "total_cents", "custkey", ascending=False
    )
    return ranked.select(
        "custkey",
        "total_cents",
        rankcut.ntile_expr(F.col("rn"), F.col("n"), 4).alias("quartile"),
        rankcut.percent_rank_expr(F.col("rn"), F.col("n")).alias("pr"),
    ).orderBy("custkey")


SQL_CUSTOMER_QUARTILES = """
WITH totals AS (
    SELECT o_custkey AS custkey,
           sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders GROUP BY o_custkey
)
SELECT custkey, CAST(total_cents AS BIGINT) AS total_cents,
       ntile(4) OVER (ORDER BY total_cents DESC, custkey) AS quartile,
       percent_rank() OVER (ORDER BY total_cents DESC, custkey) AS pr
FROM totals
ORDER BY custkey
"""


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering report (operators/layout.with_zorder_key):
    assign every lineitem a Morton key over (l_orderkey, l_partkey),
    tile the curve into 256 buckets, and report each bucket's row count
    and min/max range in BOTH dimensions — the footer statistics a
    z-ordered parquet write would expose for two-sided file skipping.

    Scale shape: one broadcast single-row min/max agg, map-side integer
    scaling + interleave, then ONE groupBy on the 256-value bucket key.
    The oracle shares the generated interleave expression text, so the
    arithmetic is identical by construction."""
    from pyspark_pipelining_spark.operators import layout

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    keyed = layout.with_zorder_key(li, ("l_orderkey", "l_partkey"), bits=_Z_BITS)
    return (
        keyed.groupBy(F.expr(f"zkey DIV {_Z_TILE}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        )
        .orderBy("bucket")
    )


_Z_BITS = 8
_Z_TILE = 256  # zkey < 2^16; div 256 -> 256 curve tiles


def _sql_zorder_stats() -> str:
    from pyspark_pipelining_spark.operators import layout

    sa = layout.scaled_expr("l_orderkey", "min_a", "max_a", _Z_BITS).replace(
        "DIV", "//"
    )
    sb = layout.scaled_expr("l_partkey", "min_b", "max_b", _Z_BITS).replace(
        "DIV", "//"
    )
    z = layout.morton_duckdb("sa", "sb", _Z_BITS)
    return f"""
WITH s AS (
    SELECT CAST(min(l_orderkey) AS BIGINT) AS min_a, CAST(max(l_orderkey) AS BIGINT) AS max_a,
           CAST(min(l_partkey) AS BIGINT) AS min_b, CAST(max(l_partkey) AS BIGINT) AS max_b
    FROM lineitem
),
scaled AS (
    SELECT l_orderkey, l_partkey, {sa} AS sa, {sb} AS sb
    FROM lineitem, s
),
keyed AS (SELECT l_orderkey, l_partkey, {z} AS zkey FROM scaled)
SELECT zkey // {_Z_TILE} AS bucket,
       count(*) AS n,
       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
FROM keyed
GROUP BY bucket
ORDER BY bucket
"""


SQL_ZORDER_STATS = _sql_zorder_stats()


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler (operators/profile.profile_table): one-pass
    per-column stats over orders — the Deequ-style data-quality scan
    a pipeline runs before trusting an input drop."""
    from pyspark_pipelining_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"), _PROFILE_COLS)


def _sql_profile_orders() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM orders"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


SQL_PROFILE_ORDERS = _sql_profile_orders()


_FK_RELATIONS = [
    ("customer_has_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("lineitem_to_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders_to_customer", "orders", "o_custkey", "customer", "c_custkey"),
]


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity report (operators/profile.fk_integrity):
    orphan counts for the declared FK edges plus the reverse coverage
    check (customers with no orders — nonzero by TPC-H construction)."""
    from pyspark_pipelining_spark.operators.profile import fk_integrity

    return fk_integrity(
        [
            (name, load_table(spark, sf_dir, child), ck, load_table(spark, sf_dir, parent), pk)
            for name, child, ck, parent, pk in _FK_RELATIONS
        ]
    )


def _sql_fk_integrity() -> str:
    parts = [
        f"""SELECT '{name}' AS relation,
       count(*) AS n_child,
       CAST(sum(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys,
       CAST(sum(CASE WHEN {ck} IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM {child} c"""
        for name, child, ck, parent, pk in _FK_RELATIONS
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY relation"


SQL_FK_INTEGRITY = _sql_fk_integrity()


def q_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily series (operators/stats.gapfill_daily):
    zero-filled calendar resample between each user's first and last
    event day, with an ``is_gap`` marker for synthesized days."""
    from pyspark_pipelining_spark.operators.stats import gapfill_daily

    ev = load_table(spark, sf_dir, "events")
    return gapfill_daily(ev, key="user_id", ts_col="ts", value_col="value")


SQL_GAPFILL_DAILY = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS day_value
    FROM events GROUP BY 1, 2
),
span AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
days AS (
    SELECT user_id,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
)
SELECT d.user_id, d.day,
       CAST(COALESCE(dl.day_value, 0) AS DOUBLE) AS day_value,
       CAST(dl.day_value IS NULL AS BIGINT) AS is_gap
FROM days d LEFT JOIN daily dl USING (user_id, day)
ORDER BY user_id, day
"""


SKEW_TOP_K = 10


def q_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter key diagnostic (operators/skew.skew_report): the 10
    heaviest event users with exact ppm share — the pre-flight report
    that sizes salt_buckets for the salted agg/join operators."""
    from pyspark_pipelining_spark.operators.skew import skew_report

    return skew_report(
        load_table(spark, sf_dir, "events"), ["user_id"], top_k=SKEW_TOP_K
    )


SQL_SKEW_REPORT_EVENTS = f"""
WITH counts AS (
    SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
),
tot AS (SELECT sum(n_rows) AS total FROM counts)
SELECT user_id, n_rows,
       CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm
FROM counts, tot
ORDER BY n_rows DESC, user_id
LIMIT {SKEW_TOP_K}
"""


# --- A-family completion: full CUBE (ROLLUP and GROUPING SETS are
# covered by rollup_order_status / qa_grouping_sets) -----------------------


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over every subset of (status, priority, year) in ONE
    pass — CUBE is Catalyst-native (a single shuffle with an expanded
    grouping-id key), where the reference's dataQA ran one warehouse
    round-trip per granularity (SURVEY §2.4 A12,
    reference ``dataQA/dailyQA.py:87-112``)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("o_year", F.year(F.to_date("o_orderdate")).cast("long"))
        .cube("o_orderstatus", "o_orderpriority", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("revenue"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


SQL_CUBE_REVENUE = f"""
SELECT o_orderstatus, o_orderpriority, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       count(*) AS n_orders,
       {duck_money_sum('o_totalprice')} AS revenue,
       CAST(grouping(o_orderstatus) * 4 + grouping(o_orderpriority) * 2
            + grouping(year(CAST(o_orderdate AS DATE))) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority, year(CAST(o_orderdate AS DATE)))
"""


# --- J-family beyond-reference: blocked fuzzy record linkage --------------


FUZZY_MAX_DIST = 2


def q_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names within a (brand, type) block
    (operators/linkage.fuzzy_pairs): Levenshtein ≤ 2 with a length-band
    prefilter — entity resolution the reference's exact equi-joins
    cannot express.  The compound blocking key is the linkage-quality
    knob: brand alone leaves ~n/25-row blocks whose quadratic candidate
    set dominates the runtime (measured 4× the pairs at sf0.1), while
    brand×type keeps every block small with the documented recall
    tradeoff (cross-type near-dups are out of scope by blocking
    choice)."""
    from pyspark_pipelining_spark.operators.linkage import fuzzy_pairs

    return fuzzy_pairs(
        load_table(spark, sf_dir, "part"),
        key_col="p_partkey",
        text_col="p_name",
        block_cols=["p_brand", "p_type"],
        max_dist=FUZZY_MAX_DIST,
    )


SQL_FUZZY_PARTS = f"""
SELECT a.p_brand, a.p_type, a.p_partkey AS key_1, b.p_partkey AS key_2,
       a.p_name AS name_1, b.p_name AS name_2,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_DIST}
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
"""


# --- §2.10: native session windows (the JVM twin of the lag-chain
# sessionize) ---------------------------------------------------------------


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-based sessions via ``F.session_window`` — one
    map-side window merge, no window-function chain, and the identical
    expression runs over ``readStream`` (session_window is the one
    window form Structured Streaming natively merges under watermark).

    Boundary rule (pinned by the oracle and a unit test): session
    windows MERGE when they touch — an event at exactly
    ``prev + 30 min`` joins the running session, so a new session
    starts only at a STRICT ``>`` gap (the same rule as the lag-chain
    sessionize; the oracle's lag test uses ``>``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
            "total_value",
        )
    )


SQL_SESSION_WINDOWS = f"""
WITH lagd AS (
    SELECT user_id, ts, value,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM events
),
flag AS (
    SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTES
                   THEN 1 ELSE 0 END AS new_s
    FROM lagd
),
sess AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
    FROM flag
)
SELECT user_id,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTES) AS end_us,
       count(*) AS n_events,
       {duck_money_sum('value')} AS total_value
FROM sess GROUP BY user_id, session_no
"""


# --- W-family: time-RANGE window frame (per-row trailing interval) --------


TRAIL_US = 7 * 86_400 * 10**6


def q_trailing_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-7-day spend for the event's user — the RANGE
    frame over event time (vs the ROWS frames of cumulative_daily_value
    and the join-based per-date qa_trailing_window).  One shuffle on
    user_id; the frame is evaluated in a single sorted pass per
    partition.  Sums are exact cents (decimal) before the final double
    cast, so the frame's add/remove order cannot drift the value."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-TRAIL_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        money_sum("value", over=w).alias("trail_value"),
        F.count(F.lit(1)).over(w).alias("trail_events"),
    )


SQL_TRAILING_USER_VALUE = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       {duck_money_sum("value", over="w")} AS trail_value,
       count(*) OVER w AS trail_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {TRAIL_US} PRECEDING AND CURRENT ROW)
"""


# --- A-family: argmax via struct-max (max_by without a window) ------------


def q_argmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's most expensive order in ONE aggregation —
    max over a (price, orderkey) struct, so ties break deterministically
    on the key and no per-group sort or window runs.  The map-side
    partial combine keeps only one struct per group per task: the
    scale-preferred alternative to the row_number window of
    top_orders_per_customer when only the argmax is needed."""
    o = load_table(spark, sf_dir, "orders")
    best = F.max(F.struct(F.col("o_totalprice"), F.col("o_orderkey")))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            best.alias("b"),
        )
        .select(
            "o_custkey",
            "n_orders",
            F.col("b.o_totalprice").alias("best_price"),
            F.col("b.o_orderkey").alias("best_order"),
        )
    )


SQL_ARGMAX_ORDERS = """
SELECT o_custkey, count(*) AS n_orders,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).p AS best_price,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS best_order
FROM orders GROUP BY o_custkey
"""


# --- A-stats: exact-sufficient-statistic Pearson correlation --------------


def q_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation of line price and quantity per return flag
    (operators/stats.group_corr): stock ``corr()`` is shuffle-order-
    dependent float accumulation; this is exact decimal(38,0)
    sufficient statistics with one final IEEE expression — bit-stable
    under any partitioning."""
    from pyspark_pipelining_spark.operators.stats import group_corr

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr(cents("l_extendedprice")).alias(
            "price_cents"
        ),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return group_corr(li, "price_cents", "qty", "l_returnflag").orderBy(
        "l_returnflag"
    )


SQL_CORR_PRICE_QTY = f"""
WITH base AS (
    SELECT l_returnflag,
           {cents('l_extendedprice')} AS x,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem
),
agg AS (
    SELECT l_returnflag, count(*) AS n,
           sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(y AS HUGEINT) * y) AS syy
    FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS r
FROM agg
WHERE n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
ORDER BY l_returnflag
"""


# --- table reconciliation (anti-entropy diff) -----------------------------


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-validation diff (operators/profile.table_diff): v1 and
    v2 of orders are derived deterministically from the same scan
    (modular key filters + a priority rewrite), so both engines see
    identical add/remove/change populations.  Price enters the
    fingerprint via a decimal cast — double→string is not cross-engine
    stable."""
    from pyspark_pipelining_spark.operators.profile import table_diff

    o = load_table(spark, sf_dir, "orders").withColumn(
        "price_s", F.col("o_totalprice").cast(D).cast("string")
    )
    v1 = o.filter(F.col("o_orderkey") % 97 != 0)
    v2 = o.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 101 == 0, F.lit("0-RECHECK")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    cols = ["o_orderstatus", "o_orderpriority", "price_s"]
    return table_diff(v1, v2, ["o_orderkey"], cols)


SQL_TABLE_DIFF = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_s
    FROM orders
),
v1 AS (
    SELECT o_orderkey,
           md5(concat_ws(chr(31), coalesce(o_orderstatus, chr(1)),
                         coalesce(o_orderpriority, chr(1)),
                         coalesce(price_s, chr(1)))) AS h_l
    FROM o WHERE o_orderkey % 97 != 0
),
v2 AS (
    SELECT o_orderkey,
           md5(concat_ws(chr(31), coalesce(o_orderstatus, chr(1)),
                         coalesce(CASE WHEN o_orderkey % 101 = 0
                                       THEN '0-RECHECK'
                                       ELSE o_orderpriority END, chr(1)),
                         coalesce(price_s, chr(1)))) AS h_r
    FROM o WHERE o_orderkey % 89 != 0
),
j AS (
    SELECT CASE WHEN h_l IS NULL THEN 'added'
                WHEN h_r IS NULL THEN 'removed'
                WHEN h_l = h_r THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
)
SELECT status, count(*) AS n_rows FROM j GROUP BY status ORDER BY status
"""


# --- gaps-and-islands: consecutive-day activity runs ----------------------


def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-calendar-day activity runs per user — the classic
    gaps-and-islands rewrite (island key = day_number − row_number,
    constant within a run).  ONE user_id exchange total: the per-user
    day dedup is a lag-based keep filter inside the same sorted window
    pass (same partitioning, no second shuffle), and the final
    island aggregation is map-side-combinable."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day"))
    w = Window.partitionBy("user_id").orderBy("day")
    kept = (
        days.withColumn("prev", F.lag("day").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("day")))
        .drop("prev")
    )
    grp = F.datediff("day", F.lit("1970-01-01")) - F.row_number().over(w)
    return (
        kept.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .drop("grp")
    )


SQL_ACTIVITY_ISLANDS = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
numbered AS (
    SELECT user_id, day,
           date_diff('day', DATE '1970-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
    FROM days
)
SELECT user_id, min(day) AS start_day, max(day) AS end_day,
       count(*) AS n_days
FROM numbered GROUP BY user_id, grp
"""


# --- composite: TPC-H Q8-style market share -------------------------------


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of its region's yearly order revenue — the
    TPC-H Q8 shape: a broadcast star join (the fact never shuffles for
    the dims), one exact-cents aggregation, and the share as a ratio to
    the region-year total computed by re-aggregating the nation-level
    partials (a window over a dim-sized frame, not a second fact scan)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_nation = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            "r_name", "n_name", F.year(F.to_date("o_orderdate")).cast("long").alias("o_year")
        )
        .agg(F.sum(F.col("o_totalprice").cast(D)).alias("rev"))
    )
    w = Window.partitionBy("r_name", "o_year")
    return per_nation.select(
        "r_name",
        "n_name",
        "o_year",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev").cast("double") / F.sum("rev").over(w).cast("double")).alias(
            "share"
        ),
    )


SQL_MARKET_SHARE = """
WITH per_nation AS (
    SELECT r_name, n_name, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name, year(CAST(o_orderdate AS DATE))
)
SELECT r_name, n_name, o_year,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE)
       / CAST(sum(rev) OVER (PARTITION BY r_name, o_year) AS DOUBLE) AS share
FROM per_nation
"""


# --- W-family: exact exponentially-weighted trailing average --------------


EWMA_K = 16


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA of the user's recent spend — classic exponential
    smoothing (α = 1/2) made bit-exact: true EWMA is a sequential float
    recurrence (engine-order-dependent), so the weights here are the
    dyadic series 2^j over the last K=16 events and every term is an
    int64 product (cents · power-of-two), summed exactly; the ONE float
    op is the final num/den division.  The newest event carries weight
    2^(L−1) and the denominator 2^L − 1 renormalizes short histories.

    Scale shape: one user_id shuffle; the window frame is bounded
    (K rows), so per-row state is O(K) structs regardless of history
    length — the unbounded-preceding formulation would not scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-(EWMA_K - 1), 0)
    )
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr(cents("value")).alias("cents"),
    )
    arr = F.array_sort(F.collect_list(F.struct("us", "event_id", "cents")).over(w))
    return (
        base.withColumn("arr", arr)
        .select(
            "user_id",
            "event_id",
            "us",
            F.expr(
                "aggregate(sequence(0, size(arr) - 1), CAST(0 AS BIGINT),"
                " (acc, j) -> acc + element_at(arr, CAST(j + 1 AS INT)).cents"
                "   * shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)))"
            ).alias("num"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), size(arr)) - 1"
            ).alias("den"),
        )
        .select(
            "user_id",
            "event_id",
            "us",
            (F.col("num").cast("double") / (F.col("den").cast("double") * F.lit(100.0))).alias(
                "ewma_value"
            ),
        )
    )


SQL_EWMA_USER_VALUE = f"""
WITH base AS (
    SELECT user_id, event_id, epoch_us(ts) AS us,
           {cents('value')} AS cents
    FROM events
),
framed AS (
    SELECT user_id, event_id, us,
           list_sort(list(struct_pack(us := us, event_id := event_id,
                                      cents := cents)) OVER w) AS arr
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN {EWMA_K - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, us,
       CAST(list_sum(list_transform(arr,
                (x, i) -> x.cents * (CAST(1 AS BIGINT) << (i - 1)))) AS DOUBLE)
       / (CAST((CAST(1 AS BIGINT) << len(arr)) - 1 AS DOUBLE) * 100.0)
       AS ewma_value
FROM framed
"""


# --- composite: TPC-H Q3-style unshipped-revenue top-k --------------------


def q_unshipped_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 highest-value orders taken before a cutoff with lines
    still shipping after it, for one market segment — the TPC-H Q3
    shape: broadcast dim filter, fact equi-join with pushed date
    predicates on both scans, exact decimal(18,4) revenue, and a
    TakeOrdered top-k (never a full sort of the aggregate)."""
    cut = "1997-06-30"
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.to_date("o_orderdate") < F.lit(cut))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit(cut)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey", F.to_date("o_orderdate").alias("o_date")
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_UNSHIPPED_REVENUE_TOPK = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1997-06-30'
  AND CAST(l_shipdate AS DATE) > DATE '1997-06-30'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- W-family: exact rolling median (bounded frame, robust statistic) -----


MEDIAN_K = 7


def q_rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event median of the user's last 7 event values — the robust
    sibling of the EWMA smoother.  Exact: the bounded frame's cents
    collect into an array, sort, and the lower/upper middles average in
    integer arithmetic (one final division by 200 converts the
    two-cents sum to dollars).  Scale: one user_id shuffle, O(K) state
    per row — global exact medians route to histogram_quantiles
    instead (doclen_quantiles)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-(MEDIAN_K - 1), 0)
    )
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr(cents("value")).alias("cents"),
    )
    arr = F.array_sort(F.collect_list("cents").over(w))
    mid = (
        "element_at(arr, CAST((size(arr) + 1) div 2 AS INT))"
        " + element_at(arr, CAST((size(arr) + 2) div 2 AS INT))"
    )
    return (
        base.withColumn("arr", arr)
        .select(
            "user_id",
            "event_id",
            "us",
            (F.expr(mid).cast("double") / F.lit(200.0)).alias("med_value"),
        )
    )


SQL_ROLLING_MEDIAN_VALUE = f"""
WITH base AS (
    SELECT user_id, event_id, epoch_us(ts) AS us,
           {cents('value')} AS cents
    FROM events
),
framed AS (
    SELECT user_id, event_id, us,
           list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN {MEDIAN_K - 1} PRECEDING AND CURRENT ROW)) AS arr
    FROM base
)
SELECT user_id, event_id, us,
       CAST(arr[CAST((len(arr) + 1) // 2 AS INT)]
            + arr[CAST((len(arr) + 2) // 2 AS INT)] AS DOUBLE) / 200.0 AS med_value
FROM framed
"""


# --- data-quality: distribution drift between time halves -----------------


PSI_BUCKET_CENTS = 1000  # $10-wide value buckets


def q_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution drift per event type between the first and
    second halves of the event-time range (operators/stats.drift_psi):
    the PSI monitor a pipeline runs on every ingest to catch upstream
    distribution shifts.  The period split point is a lazy 1-row
    min/max aggregate cross-joined back — no driver scalar."""
    from pyspark_pipelining_spark.operators.stats import drift_psi

    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid_us")
    )
    tagged = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(F.unix_micros("ts") <= F.col("mid_us"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("period"),
        F.expr(
            f"{cents('value')} div {PSI_BUCKET_CENTS}"
        ).alias("bucket"),
    )
    return drift_psi(tagged, "event_type", "period", "bucket").orderBy("event_type")


SQL_VALUE_DRIFT_PSI = f"""
WITH rng AS (
    SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
    FROM events
),
tagged AS (
    SELECT event_type,
           CASE WHEN epoch_us(ts) <= mid_us THEN 1 ELSE 2 END AS period,
           {cents('value')} // {PSI_BUCKET_CENTS} AS bucket
    FROM events, rng
),
hist AS (
    SELECT event_type, bucket,
           sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS c1,
           sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS c2
    FROM tagged GROUP BY event_type, bucket
),
totals AS (
    SELECT event_type, sum(c1) AS n1, sum(c2) AS n2, count(*) AS nb
    FROM hist GROUP BY event_type
),
terms AS (
    SELECT h.event_type, t.n1, t.n2, t.nb,
           CAST(round((CAST(h.c1 + 1 AS DOUBLE) / CAST(t.n1 + t.nb AS DOUBLE)
                       - CAST(h.c2 + 1 AS DOUBLE) / CAST(t.n2 + t.nb AS DOUBLE))
                      * ln(CAST((h.c1 + 1) * (t.n2 + t.nb) AS DOUBLE)
                           / CAST((h.c2 + 1) * (t.n1 + t.nb) AS DOUBLE))
                      * 1000000000) AS BIGINT) AS tq
    FROM hist h JOIN totals t USING (event_type)
)
SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(nb AS BIGINT) AS n_buckets,
       CAST(sum(tq) AS DOUBLE) / 1000000000.0 AS psi
FROM terms GROUP BY event_type, n1, n2, nb
ORDER BY event_type
"""


# --- composite: TPC-H Q18-style large-quantity orders (HAVING + semi) -----


Q18_MIN_QTY = 150


def q_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total line quantity exceeds a threshold, with
    customer context — the TPC-H Q18 shape: aggregate + HAVING feeding
    an IN-subquery.  Spark-first form: the HAVING is a post-aggregate
    filter and the IN becomes a left-semi join of orders against the
    qualifying key set, so the fact joins only survivors."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_MIN_QTY)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "inner")
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            F.col("o_totalprice"),
            "total_qty",
        )
    )


SQL_LARGE_QUANTITY_ORDERS = f"""
SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
       o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > {Q18_MIN_QTY}) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- A-stats: exact skewness / kurtosis -----------------------------------


def q_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of event value per type
    (operators/stats.group_moments): stock skewness()/kurtosis() are
    shuffle-order-dependent float accumulation; this centers on the
    integer group mean (shift-invariant central moments) and keeps all
    power sums exact decimal(38,0)."""
    from pyspark_pipelining_spark.operators.stats import group_moments

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(cents("value")).alias("cents"),
    )
    return group_moments(ev, "cents", "event_type").orderBy("event_type")


SQL_VALUE_MOMENTS = f"""
WITH base AS (
    SELECT event_type,
           {cents('value')} AS cents
    FROM events
),
mu AS (
    SELECT event_type, sum(CAST(cents AS HUGEINT)) // count(*) AS m
    FROM base GROUP BY event_type
),
agg AS (
    SELECT b.event_type, count(*) AS n,
           sum(CAST(cents - m AS HUGEINT)) AS s1,
           sum(CAST(cents - m AS HUGEINT) * (cents - m)) AS s2,
           sum(CAST(cents - m AS HUGEINT) * (cents - m) * (cents - m)) AS s3,
           sum(CAST(cents - m AS HUGEINT) * (cents - m) * (cents - m) * (cents - m)) AS s4
    FROM base b JOIN mu USING (event_type)
    GROUP BY b.event_type
),
mom AS (
    SELECT event_type, n,
           n * s2 - s1 * s1 AS m2,
           n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3,
           CAST(n AS HUGEINT) * n * n * s4 - 4 * CAST(n AS HUGEINT) * n * s1 * s3
           + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4
    FROM agg
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CAST(m3 AS DOUBLE) / (CAST(m2 AS DOUBLE) * sqrt(CAST(m2 AS DOUBLE))), 6) AS skewness,
       round(CAST(m4 AS DOUBLE) / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0, 6) AS kurtosis_excess
FROM mom WHERE m2 != 0
ORDER BY event_type
"""


# --- hypertable-style continuous aggregate: rollup + raw-tail stitch ------


def q_hypertable_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type value totals read the continuous-aggregate way
    (the TimescaleDB hypertable-rollup pattern): closed days come from
    the materialized rollup aggregation, the still-open newest day is
    aggregated from raw events, and the two stitch by union — giving
    real-time correctness with rollup-read cost for history.  The
    split point (max event day) is a lazy 1-row aggregate; the oracle
    is the plain daily aggregation, which the stitch must equal
    exactly (exact-cents sums make the two paths bit-identical)."""
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    tagged = ev.crossJoin(F.broadcast(rng)).withColumn("day", F.to_date("ts"))
    grain = ["day", "event_type"]
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value").alias("total_value"),
    ]
    rollup = tagged.filter(F.col("day") < F.col("maxd")).groupBy(*grain).agg(*aggs)
    tail = tagged.filter(F.col("day") >= F.col("maxd")).groupBy(*grain).agg(*aggs)
    return rollup.unionByName(tail)


SQL_HYPERTABLE_STITCH = f"""
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events,
       {duck_money_sum('value')} AS total_value
FROM events GROUP BY 1, 2
"""


QUERIES_REL = {
    "pricing_summary": q_pricing_summary,
    "zorder_stats": q_zorder_stats,
    "profile_orders": q_profile_orders,
    "fk_integrity": q_fk_integrity,
    "skew_report_events": q_skew_report_events,
    "revenue_by_region": q_revenue_by_region,
    "customers_semi_anti": q_customers_semi_anti,
    "activity_full_outer": q_activity_full_outer,
    "shipped_after_order": q_shipped_after_order,
    "top_orders_per_customer": q_top_orders_per_customer,
    "order_gaps": q_order_gaps,
    "cumulative_daily_value": q_cumulative_daily_value,
    "set_ops": q_set_ops,
    "topk_orders": q_topk_orders,
    "rollup_order_status": q_rollup_order_status,
    "global_stats": q_global_stats,
    "pivot_returnflag": q_pivot_returnflag,
    "asof_attribution": q_asof_attribution,
    "interval_attribution": q_interval_attribution,
    "scd2_customer_priority": q_scd2_customer_priority,
    "funnel_report": q_funnel_report,
    "order_trend": q_order_trend,
    "value_outliers": q_value_outliers,
    "customer_quartiles": q_customer_quartiles,
    "gapfill_daily": q_gapfill_daily,
    "cube_revenue": q_cube_revenue,
    "fuzzy_parts": q_fuzzy_parts,
    "session_windows": q_session_windows,
    "trailing_user_value": q_trailing_user_value,
    "argmax_orders": q_argmax_orders,
    "corr_price_qty": q_corr_price_qty,
    "table_diff": q_table_diff,
    "activity_islands": q_activity_islands,
    "market_share": q_market_share,
    "ewma_user_value": q_ewma_user_value,
    "unshipped_revenue_topk": q_unshipped_revenue_topk,
    "rolling_median_value": q_rolling_median_value,
    "value_drift_psi": q_value_drift_psi,
    "large_quantity_orders": q_large_quantity_orders,
    "value_moments": q_value_moments,
    "hypertable_stitch": q_hypertable_stitch,
}

ORACLES_REL = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "zorder_stats": SQL_ZORDER_STATS,
    "profile_orders": SQL_PROFILE_ORDERS,
    "fk_integrity": SQL_FK_INTEGRITY,
    "skew_report_events": SQL_SKEW_REPORT_EVENTS,
    "revenue_by_region": SQL_REVENUE_BY_REGION,
    "customers_semi_anti": SQL_CUSTOMERS_SEMI_ANTI,
    "activity_full_outer": SQL_ACTIVITY_FULL_OUTER,
    "shipped_after_order": SQL_SHIPPED_AFTER_ORDER,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "order_gaps": SQL_ORDER_GAPS,
    "cumulative_daily_value": SQL_CUMULATIVE_DAILY_VALUE,
    "set_ops": SQL_SET_OPS,
    "topk_orders": SQL_TOPK_ORDERS,
    "rollup_order_status": SQL_ROLLUP_ORDER_STATUS,
    "global_stats": SQL_GLOBAL_STATS,
    "pivot_returnflag": SQL_PIVOT_RETURNFLAG,
    "asof_attribution": SQL_ASOF_ATTRIBUTION,
    "interval_attribution": SQL_INTERVAL_ATTRIBUTION,
    "scd2_customer_priority": SQL_SCD2_CUSTOMER_PRIORITY,
    "funnel_report": SQL_FUNNEL_REPORT,
    "order_trend": SQL_ORDER_TREND,
    "value_outliers": SQL_VALUE_OUTLIERS,
    "customer_quartiles": SQL_CUSTOMER_QUARTILES,
    "gapfill_daily": SQL_GAPFILL_DAILY,
    "cube_revenue": SQL_CUBE_REVENUE,
    "fuzzy_parts": SQL_FUZZY_PARTS,
    "session_windows": SQL_SESSION_WINDOWS,
    "trailing_user_value": SQL_TRAILING_USER_VALUE,
    "argmax_orders": SQL_ARGMAX_ORDERS,
    "corr_price_qty": SQL_CORR_PRICE_QTY,
    "table_diff": SQL_TABLE_DIFF,
    "activity_islands": SQL_ACTIVITY_ISLANDS,
    "market_share": SQL_MARKET_SHARE,
    "ewma_user_value": SQL_EWMA_USER_VALUE,
    "unshipped_revenue_topk": SQL_UNSHIPPED_REVENUE_TOPK,
    "rolling_median_value": SQL_ROLLING_MEDIAN_VALUE,
    "value_drift_psi": SQL_VALUE_DRIFT_PSI,
    "large_quantity_orders": SQL_LARGE_QUANTITY_ORDERS,
    "value_moments": SQL_VALUE_MOMENTS,
    "hypertable_stitch": SQL_HYPERTABLE_STITCH,
}
