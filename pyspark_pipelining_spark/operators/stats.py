"""Exact-arithmetic statistics operators (beyond-reference scope —
the per-group trend and anomaly primitives an analytics engine runs
over fact tables, built to be bit-reproducible across engines).

Determinism design: float sums are shuffle-order-dependent, so both
operators accumulate on an integer lattice (cents, epoch days) in
``decimal(38,0)`` — 128-bit exact, associative, and identical to the
DuckDB oracle's HUGEINT.  Division only happens once, at the very end,
on exactly-represented operands (a single correctly-rounded IEEE op),
or never: the outlier test is a pure integer comparison, no floats at
all.

Scale shape: each operator is one map-side-combined groupBy producing
a group-count-sized stats table, broadcast back over the fact — the
fact table itself is shuffled zero times (outliers) or once only to
aggregate (trend).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_pipelining_spark.money import D

#: cents-lattice conversion that both engines reproduce bit-for-bit:
#: double multiply (correctly rounded) then floor (exact) then cast of
#: an integral double (exact).  Plain CAST(double AS BIGINT) would NOT
#: be portable — Spark truncates, DuckDB rounds.
def _cents(col) -> "F.Column":
    return F.floor(col * F.lit(100)).cast("long")


def group_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group least-squares slope and intercept of integer ``y``
    against integer ``x`` (cents against epoch days, typically) — the
    "is this segment growing?" report.

    All five sufficient statistics (n, Σx, Σy, Σxy, Σx²) accumulate in
    ``decimal(38,0)``: int64 Σxy overflows at ~5e5 rows of
    (20 000-day × $10 000) facts, i.e. exactly warehouse scale.  The
    closed-form slope ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`` is emitted as
    a double — numerator and denominator are exact decimals, each cast
    correctly rounded, one division.  (The 128-bit exacts stay
    internal: surfacing them would force HUGEINT/Decimal output
    columns, which pandas renders as float64 on one engine and object
    on the other — the round-2 ``media_features`` dtype trap.)  Groups
    with a degenerate x-spread (denominator 0) are dropped rather than
    emitting NaN/NULL noise.

    Output: ``<group_col>, n, slope``.
    """
    d = "CAST({} AS DECIMAL(38,0))"
    xx, yy = d.format(x_col), d.format(y_col)
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({xx})").alias("sx"),
        F.expr(f"sum({yy})").alias("sy"),
        F.expr(f"sum({xx} * {yy})").alias("sxy"),
        F.expr(f"sum({xx} * {xx})").alias("sxx"),
    )
    nd = d.format("n")
    return (
        agg.select(
            group_col,
            "n",
            F.expr(f"CAST({nd} * sxy - sx * sy AS DECIMAL(38,0))").alias("_num"),
            F.expr(f"CAST({nd} * sxx - sx * sx AS DECIMAL(38,0))").alias("_den"),
        )
        .filter(F.col("_den") != 0)
        .select(
            group_col,
            "n",
            (F.col("_num").cast("double") / F.col("_den").cast("double")).alias(
                "slope"
            ),
        )
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    n_sigma: int = 3,
) -> DataFrame:
    """Rows whose value deviates more than ``n_sigma`` standard
    deviations from their group mean — anomaly flagging with ZERO float
    arithmetic: ``(v − μ)² > k²σ²`` multiplied through by ``n²`` gives
    ``(n·v − S)² > k²·(n·SS − S²)``, all integer-exact in
    ``decimal(38,0)``, so the flag can never flip on a last-ulp
    difference (the failure mode of a naive float z-score at a group
    boundary).

    The dollar ``value_col`` is snapped to the cents lattice first.
    Stats table is group-count rows, broadcast back; the fact table is
    never shuffled.  The exact 128-bit comparison stays internal (see
    :func:`group_trend` on why HUGEINT-sized columns don't belong in
    output).

    Output: ``<id_col>, <group_col>, v_cents``.
    """
    cents = df.select(
        id_col, group_col, _cents(F.col(value_col)).alias("v_cents")
    )
    vv = "CAST(v_cents AS DECIMAL(38,0))"
    stats = cents.groupBy(group_col).agg(
        F.expr("CAST(count(*) AS DECIMAL(19,0))").alias("gn"),
        F.expr(f"sum({vv})").alias("gs"),
        F.expr(f"sum({vv} * {vv})").alias("gss"),
    )
    joined = cents.join(F.broadcast(stats), on=group_col)
    dev = f"CAST(gn * {vv} - gs AS DECIMAL(19,0))"
    return joined.filter(
        F.expr(
            f"CAST({dev} * {dev} AS DECIMAL(38,0))"
            f" > CAST({n_sigma * n_sigma} * (gn * gss - gs * gs) AS DECIMAL(38,0))"
        )
    ).select(id_col, group_col, "v_cents")


def gapfill_daily(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key daily resample with zero-fill: one row per key per
    calendar day between that key's first and last activity, carrying
    the day's exact value sum (decimal cents → double) and an
    ``is_gap`` flag for synthesized days — the dense time series that
    feature windows / trend fits need (a gap read as "missing" instead
    of "zero" silently biases both).

    Scale shape: ONE map-side-combined groupBy on (key, day); the span
    table re-aggregates those partials (no second scan); the
    ``sequence``-explode expands each key to its span length (bounded
    by calendar days, not rows — at 100 TB this OUTPUT is tiny relative
    to the input events); the fill join shuffles only the daily table
    on (key, day).  No window functions, no global sort until the
    final presentation orderBy."""
    daily = df.groupBy(
        F.col(key), F.to_date(ts_col).alias("day")
    ).agg(F.sum(F.col(value_col).cast(D)).cast(D).alias("day_value"))
    span = daily.groupBy(key).agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    days = span.select(key, F.explode(F.sequence("_d0", "_d1")).alias("day"))
    return (
        days.join(daily, [key, "day"], "left")
        .select(
            key,
            "day",
            F.coalesce(F.col("day_value"), F.lit(0).cast(D))
            .cast("double")
            .alias("day_value"),
            F.col("day_value").isNull().cast("long").alias("is_gap"),
        )
        .orderBy(key, "day")
    )


def group_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group Pearson correlation of integer ``x`` and ``y`` columns
    (cents/lattice units — callers quantize upstream), via exact
    sufficient statistics.

    Stock ``corr()`` accumulates float co-moments whose value depends
    on shuffle order — unusable under a bit-equality contract.  Here
    all six sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    ``decimal(38,0)`` sums (same rationale as :func:`group_trend`), and

        r = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²) · (nΣy² − (Σy)²))

    is evaluated as correctly-rounded casts of exact decimals followed
    by IEEE sqrt/multiply/divide — a pure function of the group's
    multiset of rows.  Groups where either variance term is zero are
    dropped (r undefined).

    Overflow envelope (decimal(38,0) is a hard cap — Spark NULLs an
    overflowing product under non-ANSI, which the ``_dx != 0`` filter
    would silently drop): the largest intermediate is n·Σx² ≤ n²·V²
    where V bounds |x|,|y|, so exactness requires **n·V < 10¹⁹** per
    group — e.g. cents-scale values (V ≤ 10⁹) are safe to 10¹⁰ rows
    per group, far past any 100 TB partition.  Callers outside that
    envelope should run under ``spark.sql.ansi.enabled=true`` so
    overflow raises instead of nulling.

    Output: ``<group_col>, n, r``.
    """
    d = "CAST({} AS DECIMAL(38,0))"
    xx, yy = d.format(x_col), d.format(y_col)
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({xx})").alias("sx"),
        F.expr(f"sum({yy})").alias("sy"),
        F.expr(f"sum({xx} * {yy})").alias("sxy"),
        F.expr(f"sum({xx} * {xx})").alias("sxx"),
        F.expr(f"sum({yy} * {yy})").alias("syy"),
    )
    nd = d.format("n")
    return (
        agg.select(
            group_col,
            "n",
            F.expr(f"CAST({nd} * sxy - sx * sy AS DECIMAL(38,0))").alias("_num"),
            F.expr(f"CAST({nd} * sxx - sx * sx AS DECIMAL(38,0))").alias("_dx"),
            F.expr(f"CAST({nd} * syy - sy * sy AS DECIMAL(38,0))").alias("_dy"),
        )
        .filter((F.col("_dx") != 0) & (F.col("_dy") != 0))
        .select(
            group_col,
            "n",
            (
                F.col("_num").cast("double")
                / F.sqrt(F.col("_dx").cast("double") * F.col("_dy").cast("double"))
            ).alias("r"),
        )
    )


def drift_psi(
    df: DataFrame,
    group_col: str,
    period_col: str,
    bucket_col: str,
    scale: int = 10**9,
) -> DataFrame:
    """Population stability index per group between two periods — the
    standard distribution-drift monitor (PSI < 0.1 stable, > 0.25
    drifted) over pre-bucketed observations.

    Input rows: one per observation with ``period_col`` ∈ {1, 2} and an
    integer ``bucket_col``.  Laplace add-1 smoothing over the union
    bucket set keeps empty-on-one-side buckets finite (the classic PSI
    convention).

    Determinism: counts are exact ints; each bucket's term
    ``(p−q)·ln(p/q)`` is evaluated from those ints with elementwise
    IEEE ops (identical on any engine) and quantized to ``1/scale``
    units BEFORE the per-group sum, so the only reduction is an
    integer sum — shuffle-order-independent.

    Scale shape: one map-side-combined (group, period, bucket) count,
    a (group, bucket) re-aggregation of those partials, group-level
    totals re-aggregated again (never a second scan of the fact), and
    a broadcast join of the group-sized totals.

    Output: ``<group_col>, n1, n2, n_buckets, psi``.
    """
    hist = (
        df.groupBy(group_col, period_col, bucket_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(group_col, bucket_col)
        .agg(
            F.sum(F.when(F.col(period_col) == 1, F.col("n")).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col(period_col) == 2, F.col("n")).otherwise(0)).alias("c2"),
        )
    )
    totals = hist.groupBy(group_col).agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.count(F.lit(1)).alias("nb"),
    )
    j = hist.join(F.broadcast(totals), group_col)
    p = (F.col("c1") + 1).cast("double") / (F.col("n1") + F.col("nb")).cast("double")
    q = (F.col("c2") + 1).cast("double") / (F.col("n2") + F.col("nb")).cast("double")
    ratio = ((F.col("c1") + 1) * (F.col("n2") + F.col("nb"))).cast("double") / (
        (F.col("c2") + 1) * (F.col("n1") + F.col("nb"))
    ).cast("double")
    term_q = F.round((p - q) * F.log(ratio) * scale).cast("long")
    return (
        j.withColumn("tq", term_q)
        .groupBy(group_col, "n1", "n2", "nb")
        .agg(F.sum("tq").alias("sq"))
        .select(
            group_col,
            "n1",
            "n2",
            F.col("nb").alias("n_buckets"),
            (F.col("sq").cast("double") / F.lit(float(scale))).alias("psi"),
        )
    )


def group_moments(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group skewness and excess kurtosis of an integer column via
    exact sufficient statistics — stock ``skewness()``/``kurtosis()``
    accumulate float central moments whose value depends on shuffle
    order.

    Central moments are shift-invariant, so each group's values are
    first centered on the group's truncated integer mean (a broadcast
    join of group-sized means — the classic two-pass trick).  The
    centered residuals are small, so the power sums Σd, Σd², Σd³, Σd⁴
    fit comfortably in decimal(38,0) at any realistic group size
    (|d| ≲ value range, not value magnitude).  The integer-scaled
    central moments M2 = n²m2, M3 = n³m3, M4 = n⁴m4 (closed forms in
    the code) make the n-powers cancel exactly:

        skewness g1 = M3 / M2^1.5
        excess kurtosis g2 = M4 / M2² − 3

    with the float boundary confined to the final powers and divisions
    — identical IEEE on identical exact inputs.

    Overflow envelope (decimal(38,0) caps at 10³⁸; Spark NULLs an
    overflowing product under non-ANSI, and a NULLed moment would
    silently drop the group via the variance filter): with residual
    bound R = max|value − mean| within a group, the largest
    intermediate is the M4 closed form ≈ n³·Σd⁴ ≤ n⁴·R⁴, so exactness
    requires **n·R < ~3·10⁹** per group.  Quantized-score inputs
    (R ≤ 10³) are safe to ~3M rows per group; wider-range groups
    should pre-scale the column or run under
    ``spark.sql.ansi.enabled=true`` so overflow raises instead of
    nulling.

    Output: ``<group_col>, n, skewness, kurtosis_excess`` (groups with
    zero variance are dropped).
    """
    means = df.groupBy(group_col).agg(
        F.expr(f"sum(CAST({value_col} AS DECIMAL(38,0))) div count(*)").alias("_mu")
    )
    d = "CAST({} AS DECIMAL(38,0))".format(f"({value_col} - _mu)")
    agg = (
        df.join(F.broadcast(means), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"sum({d})").alias("s1"),
            F.expr(f"sum({d} * {d})").alias("s2"),
            F.expr(f"sum({d} * {d} * {d})").alias("s3"),
            F.expr(f"sum({d} * {d} * {d} * {d})").alias("s4"),
        )
    )
    nd = "CAST(n AS DECIMAL(38,0))"
    # central moments about the true mean, scaled by n^k to stay integer:
    # M2 = n·s2 − s1², M3 = n²·s3 − 3n·s1·s2 + 2s1³,
    # M4 = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴
    return (
        agg.select(
            group_col,
            "n",
            F.expr(f"CAST({nd} * s2 - s1 * s1 AS DECIMAL(38,0))").alias("_m2"),
            F.expr(
                f"CAST({nd} * {nd} * s3 - 3 * {nd} * s1 * s2 + 2 * s1 * s1 * s1"
                " AS DECIMAL(38,0))"
            ).alias("_m3"),
            F.expr(
                f"CAST({nd} * {nd} * {nd} * s4 - 4 * {nd} * {nd} * s1 * s3"
                f" + 6 * {nd} * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1"
                " AS DECIMAL(38,0))"
            ).alias("_m4"),
        )
        .filter(F.col("_m2") != 0)
        .select(
            group_col,
            "n",
            # M2 = n²m2, M3 = n³m3, M4 = n⁴m4 ⇒ the n-powers cancel:
            # g1 = m3/m2^1.5 = M3/M2^1.5 ; g2 = m4/m2² − 3 = M4/M2² − 3
            # mult+sqrt instead of pow(): pow is not correctly-rounded
            # IEEE, so engines can differ by an ulp; sqrt and * are exact
            F.round(
                F.col("_m3").cast("double")
                / (
                    F.col("_m2").cast("double")
                    * F.sqrt(F.col("_m2").cast("double"))
                ),
                6,
            ).alias("skewness"),
            F.round(
                F.col("_m4").cast("double")
                / (F.col("_m2").cast("double") * F.col("_m2").cast("double"))
                - F.lit(3.0),
                6,
            ).alias("kurtosis_excess"),
        )
    )
