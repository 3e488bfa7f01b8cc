"""KMV (k-minimum-values) distinct-count sketch — the "novel sketch"
custom-operator category (beyond-reference scope): a mergeable
cardinality estimator whose answer is a deterministic function of the
input SET, so unlike HyperLogLog it has a bit-exact cross-engine oracle.

Estimator: hash every value to a uniform 60-bit integer; keep the k
smallest distinct hashes per group.  If fewer than k distinct hashes
exist the count is exact (nothing was ever discarded); otherwise the
k-th smallest hash h_(k) estimates density and
``(k-1) · 2^60 / h_(k)`` estimates the distinct count.

Physical plan: ``distinct`` on (group, hash) — Spark's partial
aggregation dedups map-side, so the shuffle carries only distinct pairs
— then a per-group ``row_number() <= k`` window keeps the k smallest.
Everything stays in whole-stage codegen; the window's per-group sort is
spill-safe.  The shuffle is sized by the distinct (group, hash)
cardinality, not the row count, which is storable for vocabulary-like
domains (tokens, categories, ids-per-tenant) even at 100 TB of raw
rows.

Merge correctness: every one of the global k smallest distinct hashes
is among the k smallest of whichever partition saw it, so it survives
any partial step — the final k-min set is layout-independent
(property-tested under repartitioning).

Hashes are md5-derived (``operators/dedup.portable_hash60``, the first
60 bits of md5), so the DuckDB oracle reproduces the estimate
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.dedup import portable_hash60, portable_hash_id

TWO_60 = 1 << 60


def _kmv_mins(hashed: DataFrame, group_col: str, k: int) -> DataFrame:
    """The k smallest distinct ``h`` per group: map-side-deduped
    ``distinct`` so the shuffle carries only distinct (group, h) pairs,
    then a per-group ``row_number <= k`` window."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("h")
    return (
        hashed.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_distinct(df: DataFrame, group_col: str, value_col: str, k: int = 16) -> DataFrame:
    """Estimated distinct ``value_col`` per ``group_col`` via a KMV
    sketch.  Output: <group_col>, est_distinct (double, 6dp; exact when
    the group has fewer than k distinct values).
    """
    h = portable_hash60(F.col(value_col))
    hashed = df.select(F.col(group_col), h.alias("h"))
    merged = _kmv_mins(hashed, group_col, k).groupBy(group_col).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("mins")
    )
    n = F.size("mins")
    kth = F.element_at("mins", k)
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float((k - 1) * TWO_60)) / kth.cast("double")
    )
    return merged.select(group_col, F.round(est, 6).alias("est_distinct"))


def cms_sketch(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Count-min sketch counter table: ``(d, bucket, c)`` with ``depth``
    independent md5-derived hash rows of ``width`` buckets each.

    Unlike Misra-Gries (whose summary depends on stream order), the CMS
    counter table is a pure SUM per (row, bucket) — a deterministic,
    commutative function of the input multiset — so a DuckDB oracle
    reproduces both the sketch and every estimate bit-for-bit.

    ``group_cols`` builds one independent sketch per group in the same
    fold (``(*group_cols, d, bucket, c)``) — the per-source /
    per-day-partial shape whose ADDITIVE merge :func:`cms_merge`
    collapses back to the global table.

    Scale shape: the ``depth``-way explode inflates rows before the
    aggregation, but partial aggregation combines map-side down to
    ≤ depth × width rows per task, and the final table is bounded at
    |groups| × depth × width rows total — a broadcastable dim by
    construction, mergeable across partitions/days by simple addition.
    """
    w = F.lit(1).alias("c") if weight_col is None else F.col(weight_col).alias("c")
    exploded = df.select(
        *[F.col(g) for g in group_cols],
        F.col(key_col),
        w,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    )
    bucket = portable_hash_id(
        F.concat(F.col("d").cast("string"), F.lit(":"), F.col(key_col)), width
    )
    return (
        exploded.select(*group_cols, "d", bucket.alias("bucket"), "c")
        .groupBy(*group_cols, "d", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-estimate each key in ``keys`` against a :func:`cms_sketch`
    table: ``est = min over d of counter[d][h_d(key)]`` (the classic
    upper-bound estimate — never below the true count, inflated only by
    bucket collisions).

    Output: ``<key_col>, est`` (long).  The sketch is depth × width rows
    — broadcast — so estimation never shuffles the candidate side.
    """
    probes = keys.select(
        F.col(key_col), F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    ).withColumn(
        "bucket",
        portable_hash_id(
            F.concat(F.col("d").cast("string"), F.lit(":"), F.col(key_col)), width
        ),
    )
    joined = probes.join(F.broadcast(sketch), on=["d", "bucket"], how="left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce("c", F.lit(0))).alias("est")
    )


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 16, k_hashes: int = 3
) -> DataFrame:
    """Deterministic Bloom filter as a DataFrame: ``(word, bits)`` with
    ``m_bits / 64`` rows, each packing 64 filter bits via ``bit_or`` —
    a commutative aggregate, so the filter is layout-independent and
    mergeable (union two filters' rows and ``bit_or`` again).

    The k probe positions are md5-derived (salt ``i:``), identical in
    the DuckDB oracle.  Build cost: one map-side-combined groupBy over
    k rows per key; the result is ≤ m_bits/32 rows — broadcastable at
    any corpus size, unlike the exact key set it summarizes.  Words
    pack 32 bits (not 64): bit 63 would need ``1 << 63``, which
    overflow-checking engines (DuckDB, ANSI Spark) reject.
    """
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    portable_hash_id(
                        F.concat(F.lit(f"{i}:"), F.col(key_col)), m_bits
                    )
                    for i in range(k_hashes)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos div 32").alias("word"),
            # shiftleft's bit-count arg must be a literal in the python
            # API — the column form needs expr()
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Keep rows of ``df`` whose ``key_col`` MIGHT be in the set the
    filter was built from (no false negatives; false-positive rate
    ``(1 - e^(-k·n/m))^k``).  The probe is k broadcast lookups into the
    word table plus bit tests — the probe side is never shuffled, which
    is the point: prefilter a 100 TB fact against a reference set whose
    exact keys are too large to broadcast, then exact-verify the
    (small) surviving fraction.
    """
    out = df
    for i in range(k_hashes):
        pos = portable_hash_id(F.concat(F.lit(f"{i}:"), F.col(key_col)), m_bits)
        probe = bloom.select(
            F.col("word").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
        )
        out = (
            out.withColumn(f"_p{i}", pos)
            .withColumn(f"_wk{i}", F.expr(f"_p{i} div 32"))
            .join(
                F.broadcast(probe),
                on=F.col(f"_wk{i}") == F.col(f"_w{i}"),
                how="left",
            )
        )
        hit = (
            F.expr(
                f"shiftrightunsigned(coalesce(_b{i}, CAST(0 AS BIGINT)), "
                f"CAST(_p{i} % 32 AS INT))"
            )
            % 2
            == 1
        )
        out = out.filter(hit).drop(f"_p{i}", f"_wk{i}", f"_w{i}", f"_b{i}")
    return out


HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_W = 60 - HLL_P  # bits left in the hash after the bucket index
#: alpha_m · m² · 2^(W+1) as an exact Python double — shared with the
#: oracle via repr() so the one float division is bit-identical
#: cross-engine.  The 2^(W+1) factor undoes the integer scaling of the
#: harmonic sum S = Σ 2^(W+1−r) (empty registers count as r = 0).
HLL_NUM = (0.7213 / (1 + 1.079 / HLL_M)) * HLL_M * HLL_M * float(1 << (HLL_W + 1))


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """HyperLogLog register table per group: ``(group, bucket, r)``.

    The 60-bit md5 portable hash splits into a ``HLL_P``-bit bucket
    index and a ``HLL_W``-bit tail; ``rho`` is the position of the
    tail's highest set bit counted from the top (``W - bitlen + 1``,
    ``W + 1`` for an all-zero tail), computed exactly via
    ``length(bin(tail))`` — Spark's ``bin`` and DuckDB's ``bin`` both
    render without leading zeros, so the expression is engine-portable
    with no float log2 anywhere.

    ``r = max(rho)`` per (group, bucket) is a commutative, idempotent
    aggregate: the register table is layout-independent, mergeable
    across partitions/days/streams by another ``max``, and bounded at
    ``m`` rows per group — broadcastable at any input scale.  Partial
    aggregation combines map-side, so the shuffle carries at most
    ``m × tasks`` rows no matter how many raw values flow in (the
    classic reason HLL beats exact distinct at 100 TB).
    """
    h = portable_hash60(F.col(value_col))
    hashed = df.select(F.col(group_col), h.alias("h")).select(
        group_col,
        F.pmod(F.col("h"), F.lit(HLL_M)).alias("bucket"),
        # integer div, NOT `/`: float division of a 60-bit int would
        # round past the 53-bit double mantissa
        F.expr(f"h div {HLL_M}").alias("tail"),
    )
    rho = F.when(F.col("tail") == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin("tail"))
    )
    return (
        hashed.select(group_col, "bucket", rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(
    registers: DataFrame, group_col: str, include_registers: bool = False
) -> DataFrame:
    """Distinct-count estimate from a :func:`hll_registers` table.

    The harmonic mean is computed in scaled integers — ``S = Σ
    2^(W+1−r)`` over present registers plus ``2^(W+1)`` per
    never-touched register (max ``m·2^(W+1) = 2^61``, exact int64) — so
    the only float operations are one division (``HLL_NUM / S``) and,
    in the small-range regime, one ``ln``; both are identical in the
    DuckDB oracle and the result is rounded to 6dp.

    Small-range correction (classic HLL): when the raw estimate is
    ≤ 2.5·m and some registers are empty, linear counting
    ``m·ln(m/V)`` is the better estimator.  The 2^32-range correction
    from the original paper is unnecessary here: hashes are 60-bit, so
    collisions are negligible below ~2^30 distinct values.

    ``include_registers=True`` additionally emits ``n_regs`` (the
    touched-register count, long) from the SAME aggregate — callers
    wanting both the estimate and the register count must use this
    instead of a second ``count()`` branch, which would duplicate the
    whole upstream fold (measured 2× the scans in
    ``hll_register_merge``).
    """
    per_reg = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_W + 1} - r AS INT))")
    agg = registers.groupBy(group_col).agg(
        F.sum(per_reg).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    v = F.lit(HLL_M) - F.col("n_present")
    s = F.col("s_present") + v * F.lit(1 << (HLL_W + 1))
    raw = F.lit(HLL_NUM) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    cols = [group_col, F.round(est, 6).alias("est_distinct")]
    if include_registers:
        cols.append(F.col("n_present").cast("long").alias("n_regs"))
    return agg.select(*cols)


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Estimated distinct ``value_col`` per ``group_col`` via
    HyperLogLog (register build + estimate; see the two stages for the
    scale story).  Complements :func:`kmv_distinct`: HLL registers are
    O(m) per group with single-pass max-merge (the streaming/union
    workhorse), while KMV keeps the k minima (exact below k, and its
    estimate is a deterministic function of the input *set* regardless
    of m).  Both are bit-exact reproducible in the DuckDB oracle."""
    return hll_estimate(hll_registers(df, group_col, value_col), group_col)


def cms_merge(partials: DataFrame) -> DataFrame:
    """Merge any number of :func:`cms_sketch` counter tables (e.g. the
    per-micro-batch partials a streaming sink lands, or per-day
    sketches) into one: cell-wise addition — the defining property of
    the sketch.  One bounded groupBy; output ≤ depth × width rows."""
    return partials.groupBy("d", "bucket").agg(F.sum("c").alias("c"))


def kmv_overlap(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Set-overlap estimation between two value sets from their KMV
    sketches — distinct counts, union, Jaccard, and intersection in one
    row, without ever materializing either distinct set in one place
    (the theta-sketch workflow: compare corpus vocabularies, user
    audiences, url sets across sources).

    Method: the k smallest md5 hashes of each side; the union sketch is
    the k smallest of the merged min-sets; Jaccard ≈ (union-sketch
    members present in BOTH sides) / |union sketch| and intersection ≈
    J·|A∪B|.  Everything below the estimate divisions is exact integer/
    set arithmetic on deterministic hashes, so the estimates are
    bit-reproducible on any engine and layout, and EXACT whenever a
    side has < k distinct values.

    Scale shape: each side reduces map-side to distinct (tag, hash)
    pairs, then a k-row window per side; the overlap math runs on two
    k-length arrays in a single crossJoined row.

    Output (one row): ``est_left, est_right, est_union, jaccard,
    est_intersection`` (doubles, 6dp).
    """
    h = portable_hash60(F.col(value_col))

    def mins(df: DataFrame, tag: str) -> DataFrame:
        hashed = df.select(F.lit(tag).alias("g"), h.alias("h"))
        return (
            _kmv_mins(hashed, "g", k)
            .groupBy("g")
            .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias(f"mins_{tag}"))
            .drop("g")
        )

    def est(arr: str):
        n = F.size(arr)
        kth = F.element_at(arr, k)
        return F.round(
            F.when(n < k, n.cast("double")).otherwise(
                F.lit(float((k - 1) * TWO_60)) / kth.cast("double")
            ),
            6,
        )

    row = mins(left, "a").crossJoin(mins(right, "b"))
    u = F.expr(f"slice(array_sort(array_union(mins_a, mins_b)), 1, {k})")
    row = row.withColumn("u", u)
    matched = F.size(
        F.expr(
            "filter(u, x -> array_contains(mins_a, x) AND array_contains(mins_b, x))"
        )
    )
    jac = matched.cast("double") / F.size("u").cast("double")
    return row.select(
        est("mins_a").alias("est_left"),
        est("mins_b").alias("est_right"),
        est("u").alias("est_union"),
        F.round(jac, 6).alias("jaccard"),
        F.round(
            jac
            * F.when(F.size("u") < k, F.size("u").cast("double")).otherwise(
                F.lit(float((k - 1) * TWO_60)) / F.element_at("u", k).cast("double")
            ),
            6,
        ).alias("est_intersection"),
    )


def hll_windowed_distinct(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Sliding-window distinct counts from DAILY HLL registers — the
    pre-aggregation pattern that makes "7-day unique users" tractable
    at 100 TB: raw events fold once into per-day register tables
    (≤ m rows/day, layout-independent), and every window estimate is a
    register-table merge (``max`` per bucket), never a second scan of
    the raw data.

    Each day's registers replicate to the ``window_days`` windows that
    contain it (bounded fan-out: m·window_days rows per day), then one
    (window, bucket) max + the standard estimator.  Late-arriving data
    only touches its own day's registers; downstream windows re-merge
    for free.

    Output: ``window_start, window_end, est_distinct`` (windows are
    ``[window_start, window_start + window_days)``; only windows fully
    inside the observed day range are emitted, so every returned
    estimate covers a complete window).
    """
    daily = hll_registers(
        df.select(
            F.to_date(ts_col).alias("day"),
            F.col(value_col).cast("string").alias(value_col),
        ),
        "day",
        value_col,
    ).localCheckpoint(eager=True)  # consumed by both bounds and spans:
    # without truncation the raw-event scan + register build runs twice
    bounds = daily.select(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
    spans = daily.select(
        F.explode(
            F.expr(f"sequence(date_sub(day, {window_days - 1}), day)")
        ).alias("window_start"),
        "bucket",
        "r",
    )
    merged = spans.groupBy("window_start", "bucket").agg(F.max("r").alias("r"))
    est = hll_estimate(merged, "window_start")
    return (
        est.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("window_start") >= F.col("_d0"))
            & (F.expr(f"date_add(window_start, {window_days - 1})") <= F.col("_d1"))
        )
        .select(
            "window_start",
            F.expr(f"date_add(window_start, {window_days - 1})").alias("window_end"),
            "est_distinct",
        )
        .orderBy("window_start")
    )


def bitmap_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """EXACT per-group distinct counts via mergeable 64-bit-word
    bitmaps — the roaring-bitmap principle expressed as two ordinary
    aggregations, and the exact counterpart to :func:`hll_estimate`.

    Integer values map injectively to (word ``v >> 6`` arithmetic
    shift = floor(v/64), bit ``pmod(v, 64)``); words OR together per
    (group, word) with map-side
    partial aggregation, then ``bit_count`` sums per group.  The
    intermediate is one row per POPULATED word per group (≤ distinct/1
    and ≤ universe/64) — mergeable across partitions, days, or
    clusters by the same OR, which is why warehouses materialize these
    words as incremental distinct-count state.  For non-integer values
    a ``portable_hash_id`` first makes this an approximation; with
    native integer ids it is exact at any scale.

    Output: ``<group_col>, n_distinct`` (exact, bigint).
    """
    return (
        bitmap_words(df, group_col, value_col)
        .groupBy(group_col)
        .agg(F.sum(F.bit_count("word")).cast("long").alias("n_distinct"))
        .orderBy(group_col)
    )


def bitmap_words(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The mergeable state of :func:`bitmap_distinct`: one row per
    populated (group, word) with the OR of its 64 bits.  Partial word
    tables from any split of the input (partitions, days, streaming
    micro-batches) merge to the exact global table by the same
    ``bit_or`` — property-tested in tests/test_operators_unit.py.

    The word index uses ARITHMETIC shiftright (floor division), not
    ``div`` (truncation): with trunc, -1 div 64 = 0 while
    pmod(-1, 64) = 63 collides with value 63.  (floor(v/64),
    pmod(v, 64)) is injective over the full int64 range, and matches
    DuckDB's floor-division ``//`` in oracles."""
    words = df.select(
        F.col(group_col),
        F.expr(f"shiftright(CAST({value_col} AS BIGINT), 6)").alias("word_idx"),
        # SQL form: the Python shiftleft wrapper takes only literal shifts
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({value_col}, 64) AS INT))").alias("bit"),
    )
    return words.groupBy(group_col, "word_idx").agg(F.bit_or("bit").alias("word"))


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame
) -> DataFrame:
    """Equi-join cardinality estimation from two :func:`cms_sketch`
    counter tables — the textbook CMS inner product: for each of the
    ``depth`` rows, dot the two bucket vectors; the MIN over rows is an
    UPPER BOUND on ``Σ_k n_a(k)·n_b(k)`` (the exact join size), tight
    when hash collisions are rare.  This is the optimizer-style
    pre-join size probe: both sketches are bounded (depth × width
    rows, broadcastable), so estimating a 100 TB ⋈ 100 TB join costs
    two sketch scans and never touches the fact tables.

    Output: one row, ``est_join_size`` (long).
    """
    from pyspark_pipelining_spark import cache

    # both sketches feed TWO branches (the dot join and the depth-row
    # completion below) — persist so the fact-table scan behind each
    # sketch runs once, not once per branch (the sketches themselves
    # are ≤ depth × width rows)
    sketch_a = cache.keep(sketch_a)
    sketch_b = cache.keep(sketch_b)
    a = sketch_a.select("d", "bucket", F.col("c").alias("ca"))
    b = sketch_b.select("d", "bucket", F.col("c").alias("cb"))
    dots = (
        a.join(b, ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * cb")).alias("dot"))
    )
    # A depth row whose populated buckets are fully disjoint has a true
    # dot of 0 and would vanish from the inner join, silently loosening
    # the MIN; left-join the dots back onto the sketch's own depth rows
    # so absent overlap contributes an explicit 0 (and two disjoint key
    # sets estimate 0, not NULL).
    depths = sketch_a.select("d").union(sketch_b.select("d")).distinct()
    per_row = depths.join(dots, "d", "left").select(
        F.coalesce(F.col("dot"), F.lit(0).cast("decimal(38,0)")).alias("dot")
    )
    return per_row.agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("est_join_size")
    )
