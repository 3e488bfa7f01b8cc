"""Product/behavioral analytics operators over the event and order
facts: cohort retention, RFM segmentation, day-of-week seasonality,
lagged cross-correlation, and the corpus filter funnel.

These are beyond-reference additions (the reference stops at
reach/frequency marketing KPIs — ``metrics/lib/hh_reach.py``,
``hh_freq.py``); the shapes here are the ones a training-data /
product pipeline actually runs at 100 TB, so every operator keeps the
engine-exactness rules from SURVEY §7.3: money as integer cents,
ratios as one IEEE division of exact integers, rounded before any
ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CENTS = "CAST(floor(value * 100) AS BIGINT)"


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted in every subsequent week they return.

    Scale shape: ONE distinct over (user, week) — the fact dedups to at
    most |users|·|weeks| rows before anything else; the cohort min is a
    groupBy on the user key, and the join back is user-keyed so it
    reuses the same hash partitioning; the final (cohort, offset) agg
    is weeks²-sized.  Nothing global, nothing collected.

    Output: ``cohort_week, week_offset, users`` (distinct users from
    that cohort active ``week_offset`` weeks after their first week).
    """
    weeks = events.select(
        F.col(user_col).alias("user_id"),
        F.to_date(F.date_trunc("week", F.col(ts_col))).alias("wk"),
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        weeks.join(cohort, "user_id")
        .select(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("users"))
        .orderBy("cohort_week", "week_offset")
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    customers from the order fact.

    Each customer gets three quartile codes (the ``ntile(4)``
    semantics) with fully deterministic ordering (metric, then
    customer key), concatenated to a segment label like ``'1-4-2'``;
    the output is the segment-level rollup.  Money is exact integer
    cents; recency is whole days from the corpus max order date (a
    1-row broadcast, never a collect).

    Scale shape (r15 verdict item 2): the quartile codes come from
    ONE two-phase exact distributed rank (``operators/rankcut``) over
    the MELTED (metric, value) frame — the three metrics explode to
    3n rows (desc metrics sign-flipped so one ascending pass ranks
    all three), ``histogram_ranks`` groups by metric with per-group
    bucket bounds, and a 3-value pivot folds the tiles back to one
    row per customer — never a single-task global ``ntile`` window,
    and one rank pass instead of three (A/B at sf0.1: 2.16 → 1.59 s
    median; the melt lesson in README "Scale design").  The customer aggregate
    is ``localCheckpoint``-ed once (two downstream branches).

    Output: ``segment, n_customers, monetary_cents``.
    """
    from pyspark_pipelining_spark.operators import rankcut

    per = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias("monetary"),
    )
    d0 = orders.agg(F.max(F.to_date("o_orderdate")).alias("d0"))
    per = (
        per.crossJoin(F.broadcast(d0))
        .withColumn("recency", F.datediff("d0", "last_order"))
        .localCheckpoint(eager=True)
    )
    melted = per.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("m"), F.col("recency").cast("long").alias("v")
                ),
                F.struct(
                    F.lit("f").alias("m"), (-F.col("freq")).cast("long").alias("v")
                ),
                F.struct(
                    F.lit("m").alias("m"),
                    (-F.col("monetary")).cast("long").alias("v"),
                ),
            )
        ).alias("x"),
    ).select("o_custkey", F.col("x.m").alias("m"), F.col("x.v").alias("v"))
    ranked = rankcut.histogram_ranks(
        melted, "v", "o_custkey", ascending=True, group_cols=["m"]
    )
    tiles = (
        ranked.select(
            "o_custkey",
            "m",
            rankcut.ntile_expr(F.col("rn"), F.col("n"), 4).alias("t"),
        )
        .groupBy("o_custkey")
        .pivot("m", ["r", "f", "m"])
        .agg(F.first("t"))
    )
    seg = per.select("o_custkey", "monetary").join(tiles, "o_custkey")
    return (
        seg.select(
            F.concat_ws("-", "r", "f", "m").alias("segment"), "monetary"
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").alias("monetary_cents"),
        )
        .orderBy("segment")
    )


def seasonal_dow_index(events: DataFrame) -> DataFrame:
    """Day-of-week seasonality per event type: mean value on each ISO
    weekday relative to the type's overall mean (index 1.0 = no
    seasonality).

    Exactness: cents sums and counts are exact integers; the index is
    evaluated as two exact-int divisions and one IEEE divide, rounded
    to 6dp — identical on any engine.  The type-level totals
    re-aggregate the (type, dow) partials (never a second scan).

    Output: ``event_type, dow, n_events, avg_cents, seasonal_index``.
    """
    per = (
        events.select(
            "event_type",
            F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int").alias("dow"),
            F.expr(CENTS).alias("cents"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("s"))
    )
    tot = per.groupBy("event_type").agg(
        F.sum("n_events").alias("tn"), F.sum("s").alias("ts_")
    )
    avg = F.round(F.col("s").cast("double") / F.col("n_events"), 6)
    idx = F.round(
        (F.col("s").cast("double") / F.col("n_events"))
        / (F.col("ts_").cast("double") / F.col("tn")),
        6,
    )
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n_events",
            avg.alias("avg_cents"),
            idx.alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


def cross_corr_lag(
    events: DataFrame,
    type_x: str = "view",
    type_y: str = "purchase",
    max_lag: int = 3,
) -> DataFrame:
    """Lagged co-movement of two event types' daily value series: for
    each lag ℓ ∈ [−max_lag, max_lag], the exact integer covariance
    numerator n·Σxy − Σx·Σy over the days where x(d) and y(d+ℓ) both
    exist.  The argmax lag is the lead/lag relationship (does x drive
    y?) — returned unreduced so callers (and the oracle) rank it.

    Scale shape: the fact collapses to ONE daily aggregate per type
    (single map-side-combined groupBy); the 2·max_lag+1 lag joins run
    on the days-sized series (broadcast — it is bounded by the
    calendar, not the data).

    Output: ``lag, n_days, cov_num`` (exact int64).
    """
    daily = (
        events.filter(F.col("event_type").isin(type_x, type_y))
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.expr(CENTS).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("v"))
        # 2·max_lag+1 union branches each reference the daily series
        # twice; truncate lineage ONCE so the fact scan + aggregate
        # never re-executes even if AQE exchange reuse fails to fire
        .localCheckpoint(eager=True)
    )
    x = daily.filter(F.col("event_type") == type_x).select("day", F.col("v").alias("x"))
    y = daily.filter(F.col("event_type") == type_y).select(
        F.col("day").alias("yday"), F.col("v").alias("y")
    )
    outs = []
    for lag in range(-max_lag, max_lag + 1):
        j = x.join(
            F.broadcast(y), F.date_add("day", lag) == F.col("yday")
        ).agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
        ).select(
            F.lit(lag).alias("lag"),
            "n_days",
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
                "cov_num"
            ),
        )
        outs.append(j)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("lag")


FUNNEL_STAGES = [
    ("all_docs", "true"),
    ("min_chars_200", "n_chars >= 200"),
    ("min_words_30", "size(split(lower(text), ' +')) >= 30"),
    (
        "alpha_ratio_60",
        "length(regexp_replace(text, '[^a-zA-Z]', '')) / length(text) >= 0.6",
    ),
]


def filter_funnel(docs: DataFrame) -> DataFrame:
    """Survivorship funnel through the corpus quality-filter chain:
    how many documents survive each cumulative stage — the first
    diagnostic anyone runs on a new crawl before committing to a
    filter recipe.

    ONE pass: every stage is a cumulative boolean conditional-sum in a
    single aggregate (no per-stage scans), unpivoted to rows with a
    stack projection.  Output: ``stage_idx, stage, n_rows, pct``
    (pct of all docs, 6dp).
    """
    flags = docs
    conds = []
    prev = F.lit(True)
    for name, expr in FUNNEL_STAGES:
        cur = prev & F.expr(expr)
        conds.append((name, cur))
        prev = cur
    agg = flags.agg(
        *[F.sum(c.cast("long")).alias(f"s{i}") for i, (_, c) in enumerate(conds)]
    )
    # stack carries (idx, name, stage count, total) per row so the pct
    # divide needs no second scan / self-join of the aggregate
    stack = ", ".join(
        f"{i}, '{name}', s{i}, s0" for i, (name, _) in enumerate(FUNNEL_STAGES)
    )
    n = len(FUNNEL_STAGES)
    return (
        agg.select(
            F.expr(f"stack({n}, {stack}) AS (stage_idx, stage, n_rows, _tot)")
        )
        .select(
            F.col("stage_idx").cast("int").alias("stage_idx"),
            "stage",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_tot"), 6).alias("pct"),
        )
        .orderBy("stage_idx")
    )
