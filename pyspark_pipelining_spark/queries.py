"""Query registry: every implemented operator as a (Spark callable,
DuckDB oracle SQL) pair — the driver-contract surface consumed by
``__spark_entry__.py``.

Numeric-stability rules used throughout (SURVEY §7.3 "Rounding"):

* projection factors are exact binary fractions (multiples of 0.25) so
  double sums are order-independent and bit-identical across engines;
* money sums go through ``decimal(18,2)`` (exact) and convert to double
  only for final ratio division;
* integer sums are cast to BIGINT on the oracle side (DuckDB widens to
  HUGEINT by default);
* every computed column is explicitly aliased identically in both
  dialects (the driver hash-matches by sorted column name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_pipelining_spark.money import D, duck_money_sum
from pyspark_pipelining_spark.operators import before_after as ba
from pyspark_pipelining_spark.operators import media, quality
from pyspark_pipelining_spark.operators.dedup import duck_hash60
from pyspark_pipelining_spark.operators.frequency import frequency_histogram
from pyspark_pipelining_spark.operators.mapping import (
    adserver_meta_dim,
    dimension_master_dim,
    friendly_names,
    hierarchy_dim,
    make_map,
)
from pyspark_pipelining_spark.operators.pairwise import pair_overlap, pivot_overlap_matrix
from pyspark_pipelining_spark.operators.project_univ import universe_ratios_by_etype
from pyspark_pipelining_spark.operators.reach import reach_all_dims, reach_count
from pyspark_pipelining_spark.operators.reach_week import incremental_weekly_reach
from pyspark_pipelining_spark.sources.registry import load_table, spread

QueryFn = Callable[[SparkSession, str], DataFrame]

ETYPES = ["click", "error", "purchase", "signup", "view"]

# ---------------------------------------------------------------------------
# Shared oracle CTE fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

SQL_EXPO = """
expo AS (
    SELECT user_id AS household_id,
           CAST(ts AS DATE) AS date,
           CAST(date_trunc('week', ts) AS DATE) AS week,
           event_type AS etype,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS campaignid
    FROM events
)"""

SQL_PROJ = """
proj AS (
    SELECT c_custkey AS household_id,
           CAST(1.0 + (c_custkey % 5) * 0.25 AS DOUBLE) AS projfact
    FROM customer
)"""

SQL_MEDIA = f"""
WITH {SQL_EXPO}, {SQL_PROJ},
m AS (
    SELECT e.household_id, e.date, e.week, e.etype, e.campaignid, p.projfact
    FROM expo e JOIN proj p ON e.household_id = p.household_id
)"""


def _media_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure fact with projfact attached, all dimension columns kept.

    (make_media projects minimally per-dimension; queries needing several
    dimensions at once join projection onto the full fact directly.)
    """
    expo = media.exposures(spark, sf_dir)
    proj = media.projection(spark, sf_dir)
    # No broadcast hint: proj is household-cardinality (scales with the
    # fact); let the threshold/AQE pick the strategy.
    return expo.join(proj, on="household_id", how="inner")


# ---------------------------------------------------------------------------
# Reach family
# ---------------------------------------------------------------------------


def q_reach_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.make_media(media.exposures(spark, sf_dir), "date", media.projection(spark, sf_dir))
    return reach_count(m, "household_id", None, "projfact")


SQL_REACH_OVERALL = f"""{SQL_MEDIA},
dd AS (SELECT household_id, any_value(projfact) AS projfact FROM m GROUP BY household_id)
SELECT 'all' AS dimension, '' AS value,
       round(sum(projfact)) AS "count",
       round(sum(projfact)) AS "unique",
       round(sum(projfact)) - round(sum(projfact)) AS duplicates
FROM dd
"""


def q_reach_by_etype(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.make_media(media.exposures(spark, sf_dir), "etype", media.projection(spark, sf_dir))
    return reach_count(m, "household_id", "etype", "projfact")


SQL_REACH_BY_ETYPE = f"""{SQL_MEDIA},
dd AS (
    SELECT household_id, etype, any_value(projfact) AS projfact
    FROM m GROUP BY household_id, etype
),
flagged AS (
    SELECT *, CASE WHEN count(*) OVER (PARTITION BY household_id) > 1 THEN 0 ELSE 1 END AS uniq
    FROM dd
)
SELECT 'etype' AS dimension, etype AS value,
       round(sum(projfact)) AS "count",
       round(sum(uniq * projfact)) AS "unique",
       round(sum(projfact)) - round(sum(uniq * projfact)) AS duplicates
FROM flagged GROUP BY etype
"""


def q_reach_all_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reach_all_dims(_media_full(spark, sf_dir), ["etype", "campaignid"])


SQL_REACH_ALL_DIMS = f"""{SQL_MEDIA},
melted AS (
    SELECT household_id, projfact, 'etype' AS dimension, CAST(etype AS VARCHAR) AS value FROM m
    UNION ALL
    SELECT household_id, projfact, 'campaignid', CAST(campaignid AS VARCHAR) FROM m
),
dd AS (
    SELECT household_id, dimension, value, any_value(projfact) AS projfact
    FROM melted WHERE value IS NOT NULL
    GROUP BY household_id, dimension, value
),
flagged AS (
    SELECT *, CASE WHEN count(*) OVER (PARTITION BY household_id, dimension) > 1 THEN 0 ELSE 1 END AS uniq
    FROM dd
)
SELECT dimension, value,
       round(sum(projfact)) AS "count",
       round(sum(uniq * projfact)) AS "unique",
       round(sum(projfact)) - round(sum(uniq * projfact)) AS duplicates
FROM flagged GROUP BY dimension, value
"""


def q_friendly_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reach by (etype, nation) with hierarchy friendly-name enrichment —
    the J2/X3 left-outer path (reference ``name_mapping.py:36-48``).

    Nation values hit the hierarchy dim (coalesce takes the friendly
    name); etype values miss it (coalesce keeps the raw value), so both
    branches of the left join are exercised.
    """
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    cust_nation = cust.select(
        F.col("c_custkey").alias("household_id"), F.col("c_nationkey")
    ).join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        on=F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("household_id", "nation")
    mn = _media_full(spark, sf_dir).join(cust_nation, on="household_id", how="inner")
    agg = reach_all_dims(mn, ["etype", "nation"])
    return friendly_names(agg, hierarchy_dim(spark, sf_dir), "value")


# DuckDB has no initcap; per-word capitalization via split/transform
# reproduces Spark's F.initcap exactly on these single-space names.
_SQL_INITCAP = (
    "array_to_string(list_transform(string_split(lower({c}), ' '), "
    "x -> upper(x[1]) || x[2:]), ' ')"
)

SQL_FRIENDLY_REACH = f"""{SQL_MEDIA},
cn AS (
    SELECT c_custkey AS household_id, n_name AS nation
    FROM customer JOIN nation ON c_nationkey = n_nationkey
),
mn AS (SELECT m.*, cn.nation FROM m JOIN cn USING (household_id)),
melted AS (
    SELECT household_id, projfact, 'etype' AS dimension, CAST(etype AS VARCHAR) AS value FROM mn
    UNION ALL
    SELECT household_id, projfact, 'nation', CAST(nation AS VARCHAR) FROM mn
),
dd AS (
    SELECT household_id, dimension, value, any_value(projfact) AS projfact
    FROM melted WHERE value IS NOT NULL
    GROUP BY household_id, dimension, value
),
flagged AS (
    SELECT *, CASE WHEN count(*) OVER (PARTITION BY household_id, dimension) > 1 THEN 0 ELSE 1 END AS uniq
    FROM dd
),
agg AS (
    SELECT dimension, value,
           round(sum(projfact)) AS "count",
           round(sum(uniq * projfact)) AS "unique",
           round(sum(projfact)) - round(sum(uniq * projfact)) AS duplicates
    FROM flagged GROUP BY dimension, value
),
hier AS (
    SELECT lower(r_name) AS k, {_SQL_INITCAP.format(c="r_name")} AS friendly_name FROM region
    UNION ALL
    SELECT lower(n_name), {_SQL_INITCAP.format(c="n_name")} FROM nation
)
SELECT a.dimension, coalesce(h.friendly_name, a.value) AS value,
       a."count", a."unique", a.duplicates
FROM agg a LEFT JOIN hier h ON lower(a.value) = h.k
"""


# ---------------------------------------------------------------------------
# Frequency family
# ---------------------------------------------------------------------------


def q_frequency_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.make_media(media.exposures(spark, sf_dir), "date", media.projection(spark, sf_dir))
    return frequency_histogram(m)


SQL_FREQUENCY_OVERALL = f"""{SQL_MEDIA},
hh AS (
    SELECT household_id, count(*) AS freq, max(projfact) AS projfact
    FROM m GROUP BY household_id
),
capped AS (SELECT CASE WHEN freq >= 10 THEN 10 ELSE freq END AS frequency, projfact FROM hh),
hist AS (SELECT frequency, sum(projfact) AS raw_hh FROM capped GROUP BY frequency)
SELECT frequency, CAST(round(raw_hh) AS BIGINT) AS proj_hh,
       raw_hh / sum(raw_hh) OVER () AS pct_hh
FROM hist
"""


def q_frequency_by_etype(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.make_media(media.exposures(spark, sf_dir), "etype", media.projection(spark, sf_dir))
    return frequency_histogram(m, dim="etype")


SQL_FREQUENCY_BY_ETYPE = f"""{SQL_MEDIA},
dd AS (
    SELECT household_id, etype, any_value(projfact) AS projfact
    FROM m GROUP BY household_id, etype
),
hh AS (
    SELECT household_id, count(*) AS freq, max(projfact) AS projfact
    FROM dd GROUP BY household_id
),
capped AS (SELECT CASE WHEN freq >= 10 THEN 10 ELSE freq END AS frequency, projfact FROM hh),
hist AS (SELECT frequency, sum(projfact) AS raw_hh FROM capped GROUP BY frequency)
SELECT frequency, CAST(round(raw_hh) AS BIGINT) AS proj_hh,
       raw_hh / sum(raw_hh) OVER () AS pct_hh
FROM hist
"""


# ---------------------------------------------------------------------------
# Incremental weekly reach (W1/W2 window rewrite)
# ---------------------------------------------------------------------------


def q_reach_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media_full(spark, sf_dir).select("week", "household_id", "projfact")
    return incremental_weekly_reach(m)


SQL_REACH_WEEK = f"""{SQL_MEDIA},
fw AS (
    SELECT household_id, min(week) AS week, max(projfact) AS projfact
    FROM m GROUP BY household_id
),
wk AS (
    SELECT week, CAST(round(sum(projfact)) AS BIGINT) AS counts
    FROM fw GROUP BY week
)
SELECT week, counts,
       CAST(sum(counts) OVER (ORDER BY week ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_counts
FROM wk
"""


# ---------------------------------------------------------------------------
# Pairwise overlap
# ---------------------------------------------------------------------------


def q_pairwise_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.make_media(media.exposures(spark, sf_dir), "etype", media.projection(spark, sf_dir))
    return pivot_overlap_matrix(m, "etype", ETYPES)


_cases = "\n           ".join(
    f"max(CASE WHEN etype = '{v}' THEN 1 ELSE 0 END) AS {v}," for v in ETYPES
).rstrip(",")
SQL_PAIRWISE_MATRIX = f"""{SQL_MEDIA},
pv AS (
    SELECT household_id, projfact,
           {_cases}
    FROM m GROUP BY household_id, projfact
)
SELECT {", ".join(ETYPES)}, round(sum(projfact)) AS "count"
FROM pv GROUP BY {", ".join(ETYPES)}
"""


def q_pairwise_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.make_media(media.exposures(spark, sf_dir), "etype", media.projection(spark, sf_dir))
    return pair_overlap(m, "etype")


SQL_PAIRWISE_PAIRS = f"""{SQL_MEDIA},
dd AS (
    SELECT household_id, etype, any_value(projfact) AS projfact
    FROM m GROUP BY household_id, etype
),
totals AS (SELECT etype, sum(projfact) AS total_hh FROM dd GROUP BY etype),
pairs AS (
    SELECT a.etype AS type_1, b.etype AS type_2, sum(a.projfact) AS overlap
    FROM dd a JOIN dd b ON a.household_id = b.household_id AND a.etype < b.etype
    GROUP BY a.etype, b.etype
)
SELECT type_1, type_2, round(overlap) AS overlap_hh,
       overlap / t1.total_hh AS pct_of_type_1,
       overlap / t2.total_hh AS pct_of_type_2
FROM pairs
JOIN totals t1 ON pairs.type_1 = t1.etype
JOIN totals t2 ON pairs.type_2 = t2.etype
"""


# ---------------------------------------------------------------------------
# Mapping dim
# ---------------------------------------------------------------------------


def q_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return make_map(adserver_meta_dim(spark, sf_dir), dimension_master_dim(spark, sf_dir))


SQL_MAPPING = f"""
WITH ka AS (
    SELECT upper(n_name) AS key,
           'v_' || lower(n_name) AS value,
           'nation_id' AS id_type,
           n_name AS id_value
    FROM nation
),
dm AS (
    SELECT 'nationid' AS dimension, n_name AS label,
           CASE WHEN n_nationkey % 2 = 0 THEN 'dig' ELSE 'tv' END AS etype,
           n_nationkey AS id
    FROM nation
),
norm AS (
    SELECT lower(key) AS key, value,
           regexp_replace(id_type, '_id', 'id') AS id_type, id_value
    FROM ka
),
ka2 AS (
    SELECT n.*,
           {duck_hash60('value')} % 1099511627776 AS val_id,
           'dig' AS etype2
    FROM norm n
)
SELECT dm.etype,
       coalesce(ka2.key, dm.dimension) AS key,
       dm.dimension, dm.label, dm.id, ka2.value,
       coalesce(ka2.val_id, dm.id) AS val_id
FROM ka2 RIGHT OUTER JOIN dm
  ON dm.dimension = ka2.id_type AND dm.label = ka2.id_value AND dm.etype = ka2.etype2
"""


# ---------------------------------------------------------------------------
# Projection-to-universe ratios
# ---------------------------------------------------------------------------


def q_project_univ(spark: SparkSession, sf_dir: str) -> DataFrame:
    expo = media.exposures(spark, sf_dir)
    proj = media.projection(spark, sf_dir)
    univ = expo.groupBy("etype").agg(F.count(F.lit(1)).alias("exposures"))
    return universe_ratios_by_etype(expo, proj, univ)


SQL_PROJECT_UNIV = f"""
WITH {SQL_EXPO}, {SQL_PROJ},
univ AS (SELECT etype, count(*) AS exposures FROM expo GROUP BY etype),
with_all AS (
    SELECT household_id, etype FROM expo
    UNION ALL
    SELECT household_id, 'all' FROM expo
),
p AS (
    SELECT w.etype, sum(pr.projfact) AS proj_sum
    FROM with_all w JOIN proj pr ON w.household_id = pr.household_id
    GROUP BY w.etype
),
u AS (
    SELECT etype, CAST(sum(exposures) AS BIGINT) AS univ_sum FROM (
        SELECT etype, exposures FROM univ
        UNION ALL
        SELECT 'all', exposures FROM univ
    ) GROUP BY etype
)
SELECT p.etype, u.univ_sum / p.proj_sum AS ratio
FROM p JOIN u ON p.etype = u.etype
"""


# ---------------------------------------------------------------------------
# Before/after purchase lift
# ---------------------------------------------------------------------------


def _ba_inputs(spark: SparkSession, sf_dir: str):
    purch = media.purchases(spark, sf_dir)
    expo = [media.exposures(spark, sf_dir).select("household_id", "date")]
    univ = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("household_id"))
    return purch, expo, univ


def q_before_after_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    purch, expo, univ = _ba_inputs(spark, sf_dir)
    lift, _ = ba.before_after_analysis(purch, expo, univ)
    return lift


def q_before_after_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    purch, expo, univ = _ba_inputs(spark, sf_dir)
    _, counts = ba.before_after_analysis(purch, expo, univ)
    return counts


_SQL_BA_RAW = """
expo AS (SELECT user_id AS household_id, CAST(ts AS DATE) AS date FROM events),
purch AS (
    SELECT o_custkey AS household_id,
           DATE '2023-12-20' + CAST(o_orderkey % 60 AS INTEGER) AS pdate,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS volume_tgt,
           o_totalprice AS volume_cat
    FROM orders
),
first_exp AS (
    SELECT e.household_id, min(e.date) AS date
    FROM expo e
    WHERE e.household_id IN (SELECT c_custkey FROM customer)
    GROUP BY e.household_id
),
stitched AS (
    SELECT coalesce(f.household_id, p.household_id) AS household_id,
           f.date, p.pdate, p.volume_tgt, p.volume_cat
    FROM first_exp f FULL OUTER JOIN purch p ON f.household_id = p.household_id
),
bounds AS (
    SELECT (SELECT max(pdate) FROM purch) AS max_dt,
           (SELECT min(date) FROM expo) AS min_dt
),
raw AS (
    SELECT household_id,
           CASE WHEN date IS NULL THEN 'not exposed' ELSE 'exposed' END AS hh_exposed,
           coalesce(date, min_dt) AS date, pdate, volume_tgt, volume_cat, max_dt
    FROM stitched CROSS JOIN bounds
)"""


def _sql_ba_weighted(src: str, min_wks: int, max_wks: int, out: str) -> str:
    """CTE chain: filter_to_range → tag → agg → zero-backfill → weights."""
    post = max_wks * 7 - 1
    return f"""
fr_{out} AS (
    SELECT *, date_diff('day', date, least(max_dt, date + {post})) + 1 AS wgt
    FROM {src}
    WHERE date_diff('day', pdate, date) < date_diff('day', date, least(max_dt, date + {post})) + 1
      AND pdate <= least(max_dt, date + {post})
      AND date_diff('day', date, least(max_dt, date + {post})) + 1 >= {min_wks * 7}
),
tagged_{out} AS (
    SELECT *, CASE WHEN pdate < date THEN 'before' ELSE 'after' END AS bef_aft FROM fr_{out}
),
hhagg_{out} AS (
    SELECT household_id, bef_aft, hh_exposed, max(wgt) AS wgt,
           CAST(sum(CAST(volume_tgt AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS volume_tgt,
           CAST(sum(CAST(volume_cat AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS volume_cat
    FROM tagged_{out} GROUP BY household_id, bef_aft, hh_exposed
),
stable_{out} AS (
    SELECT household_id, bef_aft, hh_exposed, wgt, volume_tgt, volume_cat FROM hhagg_{out}
    UNION ALL
    SELECT b.household_id, 'after', b.hh_exposed, b.wgt,
           CAST(0 AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))
    FROM hhagg_{out} b
    WHERE b.bef_aft = 'before' AND NOT EXISTS (
        SELECT 1 FROM hhagg_{out} a
        WHERE a.bef_aft = 'after' AND a.household_id = b.household_id
          AND a.hh_exposed = b.hh_exposed)
    UNION ALL
    SELECT a.household_id, 'before', a.hh_exposed, a.wgt,
           CAST(0 AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))
    FROM hhagg_{out} a
    WHERE a.bef_aft = 'after' AND NOT EXISTS (
        SELECT 1 FROM hhagg_{out} b
        WHERE b.bef_aft = 'before' AND b.household_id = a.household_id
          AND b.hh_exposed = a.hh_exposed)
),
{out} AS (
    SELECT *,
           CAST(volume_cat * bb AS DECIMAL(18,2)) AS volume_cat_bb,
           CAST(volume_tgt * wgt AS DECIMAL(18,2)) AS brand_wgt,
           CAST(volume_cat * wgt AS DECIMAL(18,2)) AS category_wgt,
           CAST(volume_cat * bb * wgt AS DECIMAL(18,2)) AS category_wgt_bb,
           CASE WHEN volume_tgt > 0 THEN wgt END AS bwgt,
           CASE WHEN volume_cat > 0 THEN wgt END AS cwgt,
           CASE WHEN volume_cat * bb > 0 THEN wgt END AS cwgt_bb
    FROM (
        SELECT *, max(CASE WHEN volume_tgt > 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY household_id) AS bb
        FROM stable_{out}
    )
)"""


SQL_BEFORE_AFTER_LIFT = f"""
WITH {_SQL_BA_RAW},
{_sql_ba_weighted("raw", 1, 13, "w")}
SELECT hh_exposed, bef_aft,
       {duck_money_sum('volume_tgt')} AS volume_tgt,
       {duck_money_sum('volume_cat')} AS volume_cat,
       {duck_money_sum('volume_cat_bb')} AS volume_cat_bb,
       {duck_money_sum('brand_wgt')} * count(bwgt) / CAST(sum(bwgt) AS BIGINT) AS brand_wgt,
       {duck_money_sum('category_wgt')} * count(cwgt) / CAST(sum(cwgt) AS BIGINT) AS category_wgt,
       {duck_money_sum('category_wgt_bb')} * count(cwgt_bb) / CAST(sum(cwgt_bb) AS BIGINT) AS category_wgt_bb,
       CAST(sum(bwgt) AS BIGINT) AS bwgt,
       CAST(sum(cwgt) AS BIGINT) AS cwgt,
       CAST(sum(cwgt_bb) AS BIGINT) AS cwgt_bb,
       CAST(sum(wgt) AS BIGINT) AS wgt,
       count(bwgt) AS bwgt_cnt, count(cwgt) AS cwgt_cnt, count(cwgt_bb) AS cwgt_bb_cnt,
       {duck_money_sum('volume_tgt')}
         / {duck_money_sum('volume_cat')} AS ratio,
       {duck_money_sum('volume_tgt')}
         / {duck_money_sum('volume_cat_bb')} AS ratio_bb,
       ({duck_money_sum('brand_wgt')} * count(bwgt) / CAST(sum(bwgt) AS BIGINT))
         / ({duck_money_sum('category_wgt')} * count(cwgt) / CAST(sum(cwgt) AS BIGINT)) AS weighted_ratio,
       ({duck_money_sum('brand_wgt')} * count(bwgt) / CAST(sum(bwgt) AS BIGINT))
         / ({duck_money_sum('category_wgt_bb')} * count(cwgt_bb) / CAST(sum(cwgt_bb) AS BIGINT)) AS weighted_ratio_bb,
       count(bwgt) / count(cwgt) AS i_ratio,
       count(bwgt) / count(cwgt_bb) AS i_ratio_bb
FROM w GROUP BY hh_exposed, bef_aft
"""


SQL_BEFORE_AFTER_COUNTS = f"""
WITH {_SQL_BA_RAW},
raw_exposed AS (SELECT * FROM raw WHERE hh_exposed = 'exposed'),
{_sql_ba_weighted("raw_exposed", 6, 6, "w6")},
per_side AS (
    SELECT bef_aft, household_id,
           CAST(sum(CAST(volume_tgt AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS volume_tgt,
           CAST(sum(CAST(volume_cat AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS volume_cat
    FROM w6 GROUP BY bef_aft, household_id
),
per_hh AS (
    SELECT household_id,
           max(CASE WHEN bef_aft = 'before' THEN volume_tgt ELSE CAST(0 AS DECIMAL(18,2)) END) AS b_tgt,
           max(CASE WHEN bef_aft = 'before' THEN volume_cat ELSE CAST(0 AS DECIMAL(18,2)) END) AS b_cat,
           max(CASE WHEN bef_aft = 'after' THEN volume_tgt ELSE CAST(0 AS DECIMAL(18,2)) END) AS a_tgt,
           max(CASE WHEN bef_aft = 'after' THEN volume_cat ELSE CAST(0 AS DECIMAL(18,2)) END) AS a_cat
    FROM per_side GROUP BY household_id
)
SELECT CASE WHEN b_tgt > 0 THEN 1 ELSE 0 END AS bb,
       CASE WHEN b_cat > b_tgt THEN 1 ELSE 0 END AS bc,
       CASE WHEN a_tgt > 0 THEN 1 ELSE 0 END AS ab,
       CASE WHEN a_cat > a_tgt THEN 1 ELSE 0 END AS ac,
       count(*) AS "count"
FROM per_hh GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# Quality (dataQA) family
# ---------------------------------------------------------------------------


def _log_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before the JSON parse: a single-split local scan would
    # otherwise run get_json_object over every row on one core
    ev = spread(load_table(spark, sf_dir, "events"))
    return quality.shift_hours(
        ev.select(
            "event_id",
            "ts",
            F.col("event_type"),
            F.get_json_object("props", "$.k").cast("long").alias("campaignid"),
        ),
        hours=0,
    )


def _ad_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic deterministic 'adserver' side derived from events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.to_date("ts").alias("date"),
        F.col("event_type"),
        (F.lit(1) + F.col("event_id") % 3).cast("long").alias("impressions"),
    )


SQL_LOG = """
log AS (
    SELECT event_id, ts, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS campaignid,
           CAST(ts AS DATE) AS date, CAST(1 AS BIGINT) AS exe_imp
    FROM events
)"""

SQL_AD = """
ad AS (
    SELECT CAST(ts AS DATE) AS date, event_type,
           CAST(1 + event_id % 3 AS BIGINT) AS impressions
    FROM events
)"""


def q_qa_log_vs_adserver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.log_vs_adserver(_log_frame(spark, sf_dir), _ad_frame(spark, sf_dir), ["event_type"])


SQL_QA_LOG_VS_ADSERVER = f"""
WITH {SQL_LOG}, {SQL_AD},
lg AS (SELECT event_type, CAST(sum(exe_imp) AS BIGINT) AS exe_imp FROM log GROUP BY event_type),
ag AS (SELECT event_type, CAST(sum(impressions) AS BIGINT) AS impressions FROM ad GROUP BY event_type)
SELECT coalesce(lg.event_type, ag.event_type) AS event_type, lg.exe_imp, ag.impressions,
       ag.impressions - lg.exe_imp AS diff,
       (ag.impressions - lg.exe_imp) / ag.impressions AS pct_diff
FROM lg FULL OUTER JOIN ag ON lg.event_type = ag.event_type
"""


def q_qa_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.grouping_sets_counts(_log_frame(spark, sf_dir), ["event_type", "campaignid"])


SQL_QA_GROUPING_SETS = f"""
WITH {SQL_LOG},
melted AS (
    SELECT 'event_type' AS dimension, CAST(event_type AS VARCHAR) AS value, date, exe_imp FROM log
    UNION ALL
    SELECT 'campaignid', CAST(campaignid AS VARCHAR), date, exe_imp FROM log
)
SELECT dimension, value,
       CAST(date AS VARCHAR) AS date_label,
       CAST(sum(exe_imp) AS BIGINT) AS exe_imp
FROM melted GROUP BY dimension, value, date
UNION ALL
SELECT dimension, value, 'whole period', CAST(sum(exe_imp) AS BIGINT)
FROM melted GROUP BY dimension, value
"""


def q_qa_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _log_frame(spark, sf_dir)
    return quality.grouped_counts(quality.trailing_window(log, 7), ["date"]).orderBy("date")


SQL_QA_TRAILING_WINDOW = f"""
WITH {SQL_LOG},
bound AS (SELECT max(date) AS max_d, max(date) - 6 AS min_d FROM log)
SELECT date, CAST(sum(exe_imp) AS BIGINT) AS exe_imp
FROM log CROSS JOIN bound
WHERE date BETWEEN min_d AND max_d
GROUP BY date
"""


def q_qa_distinct_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.distinct_meta(_log_frame(spark, sf_dir), ["event_type"], ["campaignid"])


SQL_QA_DISTINCT_META = f"""
WITH {SQL_LOG}
SELECT event_type,
       string_agg(DISTINCT trim(CAST(campaignid AS VARCHAR)), ' '
                  ORDER BY trim(CAST(campaignid AS VARCHAR))) AS campaignid
FROM log GROUP BY event_type
"""


def q_qa_hourshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-shifted tumbling daily window (reference §2.10)."""
    ev = load_table(spark, sf_dir, "events")
    shifted = quality.shift_hours(ev.select("ts", "value"), hours=5)
    return shifted.groupBy("date").agg(F.count(F.lit(1)).alias("n_events")).orderBy("date")


SQL_QA_HOURSHIFT = """
SELECT CAST(ts + INTERVAL 5 HOURS AS DATE) AS date, count(*) AS n_events
FROM events GROUP BY 1
"""


def q_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the (skew-prone) event_type key
    (operators/skew.salted_agg).  The oracle is the PLAIN group-by: a
    salted algebraic aggregate must be bit-identical to the unsalted
    one, so the correctness gate proves the rewrite is safe to apply
    under real skew."""
    from pyspark_pipelining_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.lit(1).alias("n_events"),
        F.col("value").cast(D).alias("total_value"),
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {"n_events": F.sum("n_events"), "total_value": F.sum("total_value")},
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("event_type")


SQL_SALTED_EVENT_COUNTS = f"""
SELECT event_type,
       count(*) AS n_events,
       {duck_money_sum('value')} AS total_value
FROM events GROUP BY event_type
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (streaming/stateful.py — SURVEY §2.10
    beyond-reference)."""
    from pyspark_pipelining_spark.streaming.stateful import sessionize_batch

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return sessionize_batch(ev, gap_min=30)


SQL_SESSIONIZE = f"""
WITH lagd AS (
    SELECT user_id, ts, event_id, value,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
flag AS (
    SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_s
    FROM lagd
),
sess AS (
    SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM flag
)
SELECT user_id, session_no,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us,
       count(*) AS n_events,
       {duck_money_sum('value')} AS total_value
FROM sess GROUP BY user_id, session_no
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

from pyspark_pipelining_spark.queries_corpus import ORACLES_CORPUS, QUERIES_CORPUS  # noqa: E402
from pyspark_pipelining_spark.queries_analytics import (  # noqa: E402
    ORACLES_ANALYTICS,
    QUERIES_ANALYTICS,
)
from pyspark_pipelining_spark.queries_coverage import (  # noqa: E402
    ORACLES_COVERAGE,
    QUERIES_COVERAGE,
)
from pyspark_pipelining_spark.queries_ann_media import (  # noqa: E402
    ORACLES_ANN_MEDIA,
    QUERIES_ANN_MEDIA,
)
from pyspark_pipelining_spark.queries_llm import ORACLES_LLM, QUERIES_LLM  # noqa: E402
from pyspark_pipelining_spark.queries_mining import (  # noqa: E402
    ORACLES_MINING,
    QUERIES_MINING,
)
from pyspark_pipelining_spark.queries_relational import ORACLES_REL, QUERIES_REL  # noqa: E402


def _merge(*parts: dict) -> dict:
    """One registry from the core and family dicts.  A name registered
    twice would silently shadow the other query or oracle, so it fails
    the import instead."""
    merged: dict = {}
    for part in parts:
        clash = merged.keys() & part.keys()
        if clash:
            raise ValueError(f"query names registered twice: {sorted(clash)}")
        merged.update(part)
    return merged


QUERIES: dict[str, QueryFn] = _merge(
    {
        "reach_overall": q_reach_overall,
        "reach_by_etype": q_reach_by_etype,
        "reach_all_dims": q_reach_all_dims,
        "friendly_reach": q_friendly_reach,
        "frequency_overall": q_frequency_overall,
        "frequency_by_etype": q_frequency_by_etype,
        "reach_week": q_reach_week,
        "pairwise_matrix": q_pairwise_matrix,
        "pairwise_pairs": q_pairwise_pairs,
        "mapping": q_mapping,
        "project_univ": q_project_univ,
        "before_after_lift": q_before_after_lift,
        "before_after_counts": q_before_after_counts,
        "qa_log_vs_adserver": q_qa_log_vs_adserver,
        "qa_grouping_sets": q_qa_grouping_sets,
        "qa_trailing_window": q_qa_trailing_window,
        "qa_distinct_meta": q_qa_distinct_meta,
        "qa_hourshift": q_qa_hourshift,
        "sessionize": q_sessionize,
        "salted_event_counts": q_salted_event_counts,
    },
    QUERIES_LLM,
    QUERIES_REL,
    QUERIES_CORPUS,
    QUERIES_ANALYTICS,
    QUERIES_COVERAGE,
    QUERIES_ANN_MEDIA,
    QUERIES_MINING,
)

ORACLES: dict[str, str] = _merge(
    {
        "reach_overall": SQL_REACH_OVERALL,
        "reach_by_etype": SQL_REACH_BY_ETYPE,
        "reach_all_dims": SQL_REACH_ALL_DIMS,
        "friendly_reach": SQL_FRIENDLY_REACH,
        "frequency_overall": SQL_FREQUENCY_OVERALL,
        "frequency_by_etype": SQL_FREQUENCY_BY_ETYPE,
        "reach_week": SQL_REACH_WEEK,
        "pairwise_matrix": SQL_PAIRWISE_MATRIX,
        "pairwise_pairs": SQL_PAIRWISE_PAIRS,
        "mapping": SQL_MAPPING,
        "project_univ": SQL_PROJECT_UNIV,
        "before_after_lift": SQL_BEFORE_AFTER_LIFT,
        "before_after_counts": SQL_BEFORE_AFTER_COUNTS,
        "qa_log_vs_adserver": SQL_QA_LOG_VS_ADSERVER,
        "qa_grouping_sets": SQL_QA_GROUPING_SETS,
        "qa_trailing_window": SQL_QA_TRAILING_WINDOW,
        "qa_distinct_meta": SQL_QA_DISTINCT_META,
        "qa_hourshift": SQL_QA_HOURSHIFT,
        "sessionize": SQL_SESSIONIZE,
        "salted_event_counts": SQL_SALTED_EVENT_COUNTS,
    },
    ORACLES_LLM,
    ORACLES_REL,
    ORACLES_CORPUS,
    ORACLES_ANALYTICS,
    ORACLES_COVERAGE,
    ORACLES_ANN_MEDIA,
    ORACLES_MINING,
)
