"""Boundary-row unit tests for the operator library, in the reference's
style (tiny inline frames, one semantic edge per row — SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators import graph, multimodal
from pyspark_pipelining_spark.operators.dedup import (
    cluster_assignments,
    dedup_clusters,
    drop_duplicate_docs,
    exact_dedup,
    minhash_lsh_pairs,
    word_ngrams,
)
from pyspark_pipelining_spark.operators.frequency import frequency_histogram
from pyspark_pipelining_spark.operators.graph import kcore_peel, lpa_communities
from pyspark_pipelining_spark.operators.iterate import iterate
from pyspark_pipelining_spark.operators.media import make_media, union_frames
from pyspark_pipelining_spark.operators.reach import reach_count
from pyspark_pipelining_spark.operators.reach_week import incremental_weekly_reach
from pyspark_pipelining_spark.sources.registry import SchemaError


def test_reach_count_dedup_and_uniqueness(spark):
    # hh 1: two exposures to same value (dedup to 1, unique), hh 2: two
    # values (not unique), hh 3: one value + a null (null dropped, unique)
    df = spark.createDataFrame(
        [(1, "a", 2.0), (1, "a", 2.0), (2, "a", 1.0), (2, "b", 1.0), (3, "b", 3.0), (3, None, 3.0)],
        ["household_id", "dim", "projfact"],
    )
    out = {r["value"]: r for r in reach_count(df, "household_id", "dim", "projfact").collect()}
    assert out["a"]["count"] == 3.0  # hh1 (2.0) + hh2 (1.0)
    assert out["a"]["unique"] == 2.0  # only hh1 unique
    assert out["b"]["count"] == 4.0 and out["b"]["unique"] == 3.0
    assert out["a"]["duplicates"] == 1.0


def test_reach_count_overall_no_dim(spark):
    df = spark.createDataFrame([(1, 1.0), (1, 1.0), (2, 2.5)], ["household_id", "projfact"])
    row = reach_count(df, "household_id", None, "projfact").collect()[0]
    assert row["dimension"] == "all" and row["count"] == 4.0 and row["duplicates"] == 0.0


def test_frequency_cap_at_10(spark):
    rows = [(1, 1.0)] * 12 + [(2, 2.0)] * 3
    df = spark.createDataFrame(rows, ["household_id", "projfact"])
    hist = {r["frequency"]: r for r in frequency_histogram(df).collect()}
    assert set(hist) == {10, 3}  # hh1 capped 12→10
    assert hist[10]["proj_hh"] == 1 and hist[3]["proj_hh"] == 2
    assert abs(hist[3]["pct_hh"] - 2.0 / 3.0) < 1e-12


def test_incremental_weekly_reach_matches_loop_oracle(spark):
    import datetime as dt

    w1, w2, w3 = dt.date(2024, 1, 1), dt.date(2024, 1, 8), dt.date(2024, 1, 15)
    # hh1 first in w1 (again later — ignored), hh2 first in w2, hh3 in w1
    df = spark.createDataFrame(
        [(1, w1, 1.0), (1, w3, 1.0), (2, w2, 2.0), (3, w1, 1.5), (2, w3, 2.0)],
        ["household_id", "week", "projfact"],
    )
    out = {r["week"]: r for r in incremental_weekly_reach(df).collect()}
    assert out[w1]["counts"] == 3  # round(1.0 + 1.5) = 3 (HALF_UP)
    assert out[w2]["counts"] == 2
    assert w3 not in out  # nobody NEW in w3
    assert out[w2]["cum_counts"] == 5


def test_incremental_weekly_reach_unprojected(spark):
    import datetime as dt

    w1 = dt.date(2024, 1, 1)
    df = spark.createDataFrame([(1, w1, 9.0), (2, w1, 9.0)], ["household_id", "week", "projfact"])
    out = incremental_weekly_reach(df, project=False).collect()
    assert out[0]["counts"] == 2  # projfact replaced by 1 (reference bug fixed)


def test_make_media_missing_dim_fails_fast(spark):
    df = spark.createDataFrame([(1, "x")], ["household_id", "etype"])
    proj = spark.createDataFrame([(1, 1.0)], ["household_id", "projfact"])
    with pytest.raises(SchemaError, match="missing required columns"):
        make_media(df, "campaignid", proj)


def test_make_media_etype_ratio_rescale(spark):
    df = spark.createDataFrame([(1, "a", "tv"), (2, "b", "web")], ["household_id", "d", "etype"])
    proj = spark.createDataFrame([(1, 2.0), (2, 4.0)], ["household_id", "projfact"])
    ratio = spark.createDataFrame([("tv", 0.5), ("web", 2.0)], ["etype", "ratio"])
    out = {r["household_id"]: r["projfact"] for r in make_media(df, "d", proj, ratio).collect()}
    assert out[1] == 1.0 and out[2] == 8.0


def test_union_frames_aligns_by_name(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "id"])  # reversed column order
    rows = sorted(union_frames([a, b]).collect())
    assert rows == [(1, "x"), (2, "y")]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame([(5, "t"), (2, "t"), (9, "u")], ["doc_id", "text"])
    out = {r["text"]: r["doc_id"] for r in exact_dedup(df, ["text"]).collect()}
    assert out == {"t": 2, "u": 9}


def test_word_ngrams_short_doc(spark):
    df = spark.createDataFrame([(1, "single")], ["doc_id", "text"])
    row = word_ngrams(df, 2).collect()[0]
    assert row["ngrams"] == []  # 1 word → no bigrams, no crash


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "totally different words here now")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()
    assert [(r["doc_1"], r["doc_2"], r["est_jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_ivf_finds_duplicate_vector_in_same_cell(spark):
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators.similarity import ivf_assign, ivf_topk

    dim = 8
    base = [float(i % 3 - 1) for i in range(dim)]
    other = [float((i * 7) % 5 - 2) for i in range(dim)]
    emb = spark.createDataFrame(
        [(0, base), (1, base), (2, other)],
        "vec_id long, embedding array<float>",
    )
    # identical vectors must land in the same coarse cell
    cells = {
        r["vec_id"]: r["cell"]
        for r in emb.select("vec_id", ivf_assign(F.col("embedding"), 4, dim).alias("cell")).collect()
    }
    assert cells[0] == cells[1]
    # and the probe of vec 0's own cell must surface its twin at cosine 1.0
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = ivf_topk(emb, queries, k=1, cells=4, nprobe=1, dim=dim).collect()
    assert [(r["query_id"], r["vec_id"], r["cosine"]) for r in top] == [(0, 1, 1.0)]


def test_salted_agg_matches_plain_groupby(spark):
    from pyspark_pipelining_spark.operators.skew import salted_agg

    rows = [(k, float(v)) for k in ("hot", "cold") for v in range(1, 51 if k == "hot" else 4)]
    df = spark.createDataFrame(rows, "k string, x double").withColumn(
        "n_events", F.lit(1)
    ).withColumnRenamed("x", "total")
    got = {
        r["k"]: (r["n_events"], r["total"])
        for r in salted_agg(
            df, ["k"], {"n_events": F.sum("n_events"), "total": F.sum("total")}, 8
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["t"])
        for r in df.groupBy("k").agg(
            F.sum("n_events").alias("n"), F.sum("total").alias("t")
        ).collect()
    }
    assert got == want


def test_cluster_assignments_known_components(spark):
    # components: {1,2,3} (via 1-2, 2-3), {10,11}; 20 appears in no pair
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["doc_1", "doc_2"])
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], ["doc_id"])
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    # no pairs at all: every doc is its own cluster
    no_pairs = pairs.limit(0)
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, no_pairs).collect()}
    assert out == {i: i for i in (1, 2, 3, 10, 11, 20)}


# every loop that runs through operators/iterate.py, with its result on
# a single pair, on the path 1-2-3-4 (k=2 peels the path to nothing:
# the fixpoint probe then sees no rows for the last two rounds), on one
# pair listed three times and on one pair in both orientations.  The
# registered callers pass deduplicated LSH pairs; on the last two the
# loops keep the single-pair result, except that k-core counts a
# repeated pair as parallel edges, as its oracle's UNION ALL edge list
# does.
_PAIR_SETS = {
    "single": [(1, 2)],
    "path": [(1, 2), (2, 3), (3, 4)],
    "repeated": [(1, 2)] * 3,
    "both_orientations": [(1, 2), (2, 1)],
}
_LOOPS = {
    "cluster_assignments": (
        cluster_assignments,
        {
            "single": {(1, 1), (2, 1)},
            "path": {(1, 1), (2, 1), (3, 1), (4, 1)},
            "repeated": {(1, 1), (2, 1)},
            "both_orientations": {(1, 1), (2, 1)},
        },
    ),
    "kcore_peel": (
        lambda p: kcore_peel(p, k=2, rounds=3),
        {
            "single": set(),
            "path": set(),
            "repeated": {(1, 3), (2, 3)},
            "both_orientations": {(1, 2), (2, 2)},
        },
    ),
    # iterate's fixpoint mode with a count probe: the k-core to fixpoint
    "kcore_fixpoint": (
        lambda p: graph._degrees(
            iterate(graph.symmetrize(p), graph._peel(2), 50, until=F.count(F.lit(1)))
        ).orderBy("node"),
        {
            "single": set(),
            "path": set(),
            "repeated": {(1, 3), (2, 3)},
            "both_orientations": {(1, 2), (2, 2)},
        },
    ),
    # synchronous LPA: a lone pair swaps labels each round; on the path
    # ties break to the smaller label
    "lpa_communities": (
        lambda p: lpa_communities(p, rounds=2),
        {
            "single": {(1, 1), (2, 2)},
            "path": {(1, 1), (2, 2), (3, 1), (4, 2)},
            "repeated": {(1, 1), (2, 2)},
            "both_orientations": {(1, 1), (2, 2)},
        },
    ),
}


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_iterative_loops_on_degenerate_pair_sets(spark, loop):
    run, want = _LOOPS[loop]
    schema = "doc_1 bigint, doc_2 bigint"
    empty = run(spark.createDataFrame([], schema))
    assert empty.collect() == []
    for name, pairs in _PAIR_SETS.items():
        out = run(spark.createDataFrame(pairs, schema))
        assert out.schema == empty.schema, name
        assert {tuple(r) for r in out.collect()} == want[name], name


def test_pagerank_int_empty_edge_list(spark):
    from pyspark_pipelining_spark.operators.graph import pagerank_int

    star = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank_int(empty)
    assert out.collect() == []
    assert out.schema == pagerank_int(star).schema


def test_cluster_assignments_long_chain_propagates(spark):
    # a 6-hop chain forces multiple propagation rounds (diameter > 1)
    edges = [(i, i + 1) for i in range(1, 7)]
    pairs = spark.createDataFrame(edges, ["doc_1", "doc_2"])
    out = {r["doc_id"]: r["cluster_id"] for r in cluster_assignments(pairs).collect()}
    assert out == {i: 1 for i in range(1, 8)}


def test_drop_duplicate_docs_keeps_min_id_representatives(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a'"), (3, "a''"), (10, "b"), (11, "b'"), (20, "c")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["doc_1", "doc_2"])
    kept = sorted(r["doc_id"] for r in drop_duplicate_docs(docs, pairs).collect())
    assert kept == [1, 10, 20]


def test_asof_join_strict_and_inclusive(spark):
    from pyspark_pipelining_spark.operators.asof import asof_join

    probe = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20), (3, 2, 5)], ["event_id", "user_id", "ts"]
    )
    ref = spark.createDataFrame(
        [(100, 1, 10), (101, 1, 15), (102, 9, 1)], ["event_id", "user_id", "ts"]
    )
    strict = {
        r["event_id"]: (r["asof_ts"], r["asof_event_id"])
        for r in asof_join(probe, ref, "user_id", "ts", ["event_id"], strict=True).collect()
    }
    # probe 1 at t=10: the t=10 ref is NOT strictly prior -> unmatched
    assert strict[1] == (None, None)
    assert strict[2] == (15, 101)      # latest of {10, 15}
    assert strict[3] == (None, None)   # user 2 has no refs at all
    incl = {
        r["event_id"]: (r["asof_ts"], r["asof_event_id"])
        for r in asof_join(probe, ref, "user_id", "ts", ["event_id"], strict=False).collect()
    }
    assert incl[1] == (10, 100)        # same-instant ref matches inclusively
    assert incl[2] == (15, 101)


def test_kmv_distinct_exact_below_k_and_layout_independent(spark):
    from pyspark_pipelining_spark.operators.sketch import kmv_distinct

    # group "small" has 5 distinct values (< k=16) -> exact count
    rows = [("small", f"v{i % 5}") for i in range(50)]
    # group "big" has 500 distinct values -> estimator path
    rows += [("big", f"w{i}") for i in range(500)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = {r["grp"]: r["est_distinct"] for r in kmv_distinct(df, "grp", "val").collect()}
    assert out["small"] == 5.0
    assert 250 <= out["big"] <= 1000  # KMV k=16 is coarse; order of magnitude
    # the k-min set is a function of the value SET, not the layout
    for parts in (1, 7):
        again = {
            r["grp"]: r["est_distinct"]
            for r in kmv_distinct(df.repartition(parts), "grp", "val").collect()
        }
        assert again == out, parts


def test_hll_distinct_accuracy_merge_and_layout_independence(spark):
    from pyspark_pipelining_spark.operators.sketch import (
        HLL_M,
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    # "small" (40 distinct) lands in the linear-counting branch; "big"
    # (5000 distinct) in the raw-harmonic branch.  m=256 gives ~6.5%
    # standard error; assert 4 sigma.
    rows = [("small", f"v{i % 40}") for i in range(200)]
    rows += [("big", f"w{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = {r["grp"]: r["est_distinct"] for r in hll_distinct(df, "grp", "val").collect()}
    assert abs(out["small"] - 40) <= 40 * 0.26
    assert abs(out["big"] - 5000) <= 5000 * 0.26
    # registers are a commutative max -> layout-independent
    again = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct(df.repartition(7), "grp", "val").collect()
    }
    assert again == out
    # mergeable: max-merge of two halves' registers == whole's registers
    half1 = spark.createDataFrame(rows[:2000], ["grp", "val"])
    half2 = spark.createDataFrame(rows[2000:], ["grp", "val"])
    merged_regs = (
        hll_registers(half1, "grp", "val")
        .unionByName(hll_registers(half2, "grp", "val"))
        .groupBy("grp", "bucket")
        .agg(F.max("r").alias("r"))
    )
    merged_est = {
        r["grp"]: r["est_distinct"] for r in hll_estimate(merged_regs, "grp").collect()
    }
    assert merged_est == out
    # register table is bounded at m rows per group
    n_regs = hll_registers(df, "grp", "val").groupBy("grp").count().collect()
    assert all(r["count"] <= HLL_M for r in n_regs)


def test_centroid_cosines_survives_int64_overflow_regime(spark):
    """Sum-of-squares of the per-dim centroid sums exceeds int64 when a
    label is large and aligned (here: 2200 identical all-ones vectors,
    4 dims, grid 1e6 -> n2 = 4*(2.2e9)^2 ~ 1.9e19 > 2^63).  The decimal
    accumulators must absorb it; every cosine to the centroid is 1."""
    from pyspark_pipelining_spark.operators.similarity import centroid_cosines

    n = 2200
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit("a").alias("label"),
        F.array(*[F.lit(1.0)] * 4).alias("embedding"),
    )
    out = centroid_cosines(df, grid=1_000_000).collect()
    assert len(out) == n
    assert all(r["centroid_cos"] == 1.0 for r in out)


def test_cms_sketch_mergeable_and_overestimates(spark):
    """The CMS counter table must be layout-independent, mergeable by
    addition, and every point estimate >= the true count."""
    from pyspark_pipelining_spark.operators.sketch import cms_estimate, cms_sketch

    rows = [("a",)] * 10 + [("b",)] * 5 + [(f"x{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, ["k"])
    base = sorted(map(tuple, cms_sketch(df, "k", width=64).collect()))
    # layout independence
    again = sorted(map(tuple, cms_sketch(df.repartition(7), "k", width=64).collect()))
    assert again == base
    # mergeability: sketch(A) + sketch(B) == sketch(A union B), cell-wise
    half1 = spark.createDataFrame(rows[:100], ["k"])
    half2 = spark.createDataFrame(rows[100:], ["k"])
    s1 = {(r["d"], r["bucket"]): r["c"] for r in cms_sketch(half1, "k", width=64).collect()}
    s2 = {(r["d"], r["bucket"]): r["c"] for r in cms_sketch(half2, "k", width=64).collect()}
    merged = {}
    for s in (s1, s2):
        for key, c in s.items():
            merged[key] = merged.get(key, 0) + c
    assert merged == {(r[0], r[1]): r[2] for r in base}
    # estimates never undercount
    keys = spark.createDataFrame([("a",), ("b",), ("x0",), ("absent",)], ["k"])
    est = {r["k"]: r["est"] for r in cms_estimate(cms_sketch(df, "k", width=64), keys, "k", width=64).collect()}
    assert est["a"] >= 10 and est["b"] >= 5 and est["x0"] >= 1 and est["absent"] >= 0


def test_interval_join_binned_bounds_and_multibin_intervals(spark):
    """Inclusive [start, end] bounds, and an interval spanning several
    bins still matches points in every bin it overlaps (exactly once)."""
    from pyspark_pipelining_spark.operators.asof import interval_join_binned

    M = 60 * 1_000_000  # one minute in micros
    points = spark.createDataFrame(
        [(1, 0 * M, 10), (1, 5 * M, 11), (1, 150 * M, 12), (1, 151 * M, 13), (2, 5 * M, 14)],
        "k long, p_us long, point_id long",
    )
    # one interval [0, 150min] spanning 3 bins of 60min; one unmatched key
    intervals = spark.createDataFrame(
        [(1, 0 * M, 150 * M, 100)], "k long, s_us long, e_us long, iv_id long"
    )
    out = interval_join_binned(points, intervals, "k", "p_us", "s_us", "e_us", bin_minutes=60)
    got = sorted((r["point_id"], r["iv_id"]) for r in out.collect())
    # 0min (start, inclusive), 5min, 150min (end, inclusive); 151min out;
    # key 2 never matches; no duplicates from multi-bin replication
    assert got == [(10, 100), (11, 100), (12, 100)]


def test_scd2_rebuild_collapses_and_is_idempotent(spark):
    import datetime as dt

    from pyspark_pipelining_spark.operators.scd import scd2_rebuild

    d = lambda s: dt.date.fromisoformat(s)  # noqa: E731
    versions = spark.createDataFrame(
        [
            (1, d("2024-01-01"), "gold"),
            (1, d("2024-02-01"), "gold"),     # no change -> collapsed
            (1, d("2024-03-01"), "silver"),   # change -> new version
            (1, d("2024-04-01"), None),       # null is a value, not a wildcard
            (2, d("2024-01-15"), None),
            (2, d("2024-02-15"), None),       # null == null (no change)
        ],
        "key long, valid_from date, attr string",
    )
    out = sorted(
        (r["key"], str(r["valid_from"]), r["valid_to"] and str(r["valid_to"]), r["attr"])
        for r in scd2_rebuild(versions, "key", "valid_from", ["attr"]).collect()
    )
    assert out == [
        (1, "2024-01-01", "2024-03-01", "gold"),
        (1, "2024-03-01", "2024-04-01", "silver"),
        (1, "2024-04-01", None, None),
        (2, "2024-01-15", None, None),
    ]
    # idempotent: rebuilding the rebuilt history (open rows as versions)
    # yields the same versions
    rebuilt = scd2_rebuild(versions, "key", "valid_from", ["attr"]).select(
        "key", "valid_from", "attr"
    )
    again = sorted(
        (r["key"], str(r["valid_from"]), r["valid_to"] and str(r["valid_to"]), r["attr"])
        for r in scd2_rebuild(rebuilt, "key", "valid_from", ["attr"]).collect()
    )
    assert again == out


def test_bloom_no_false_negatives_and_filters_most_outsiders(spark):
    from pyspark_pipelining_spark.operators.sketch import bloom_build, bloom_probe

    ref = spark.createDataFrame([(f"key{i}",) for i in range(200)], ["k"])
    bloom = bloom_build(ref, "k", m_bits=1 << 14, k_hashes=3)
    # every member must pass (bloom guarantees no false negatives)
    passed_members = bloom_probe(ref, bloom, "k", m_bits=1 << 14, k_hashes=3)
    assert passed_members.count() == 200
    # outsiders mostly rejected (fp rate ~(1-e^(-kn/m))^k ~ 0.04% here)
    outsiders = spark.createDataFrame([(f"other{i}",) for i in range(500)], ["k"])
    n_fp = bloom_probe(outsiders, bloom, "k", m_bits=1 << 14, k_hashes=3).count()
    assert n_fp <= 10


def test_pagerank_int_star_graph_ranks_center_highest(spark):
    from pyspark_pipelining_spark.operators.graph import pagerank_int

    # star: center 0 connected to 1..4 (undirected -> both directions)
    pairs = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    out = {r["id"]: r["r"] for r in pagerank_int(edges, iters=3).collect()}
    assert len(out) == 5
    leaves = [out[i] for i in range(1, 5)]
    assert len(set(leaves)) == 1  # symmetric leaves rank equally
    assert out[0] > leaves[0]     # the hub dominates
    # deterministic across layouts
    again = {
        r["id"]: r["r"]
        for r in pagerank_int(edges.repartition(7), iters=3).collect()
    }
    assert again == out


def test_triangle_count_known_graphs(spark):
    import itertools

    from pyspark_pipelining_spark.operators.graph import triangle_count

    def sym(pairs):
        return pairs + [(b, a) for a, b in pairs]

    # K4: every node sits in C(3,2) = 3 triangles
    k4 = sym(list(itertools.combinations(range(4), 2)))
    out = {
        r["id"]: r["triangles"]
        for r in triangle_count(spark.createDataFrame(k4, "src long, dst long")).collect()
    }
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    # path: triangle-free
    path = sym([(0, 1), (1, 2), (2, 3)])
    assert (
        triangle_count(spark.createDataFrame(path, "src long, dst long")).count() == 0
    )
    # one triangle + pendant: pendant node absent from the output
    g = sym([(0, 1), (1, 2), (0, 2), (0, 3)])
    out = {
        r["id"]: r["triangles"]
        for r in triangle_count(spark.createDataFrame(g, "src long, dst long")).collect()
    }
    assert out == {0: 1, 1: 1, 2: 1}


def test_chunk_documents_covers_text_exactly(spark):
    from pyspark_pipelining_spark.operators.corpus import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 48), (2, "xy" * 200), (3, ""), (4, "short")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, size=200, overlap=50).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc  # empty doc -> no chunks
    assert [r["chunk_len"] for r in by_doc[1]] == [48]
    # 400 chars, stride 150 -> starts 0/150/300, last chunk 100 chars
    assert [r["chunk_len"] for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])] == [
        200,
        200,
        100,
    ]
    # stitching the non-overlap prefixes + final chunk rebuilds the text
    chunks = [r["chunk_text"] for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])]
    rebuilt = "".join(c[:150] for c in chunks[:-1]) + chunks[-1]
    assert rebuilt == "xy" * 200
    # consecutive chunks share exactly the 50-char overlap
    assert chunks[0][150:] == chunks[1][:50]


def test_weighted_sample_is_exact_k_and_layout_independent(spark):
    from pyspark_pipelining_spark.operators.corpus import weighted_sample

    rows = [(i, "g" + str(i % 3), 10 + (i * 37) % 90) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    picked = sorted(
        (r["source"], r["doc_id"]) for r in weighted_sample(df, k=4).collect()
    )
    assert len(picked) == 12  # exactly k per group
    again = sorted(
        (r["source"], r["doc_id"])
        for r in weighted_sample(df.repartition(13), k=4).collect()
    )
    assert picked == again


def test_funnel_stages_ordering_semantics(spark):
    import datetime as dt

    from pyspark_pipelining_spark.operators.funnel import funnel_stages

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: full path in order -> 3
        (1, 1, t(1), "view"),
        (1, 2, t(2), "click"),
        (1, 3, t(3), "purchase"),
        # user 2: purchase BEFORE the view/click -> only view+click count
        (2, 4, t(1), "purchase"),
        (2, 5, t(2), "view"),
        (2, 6, t(3), "click"),
        # user 3: no step-1 event at all -> 0
        (3, 7, t(1), "click"),
        (3, 8, t(2), "purchase"),
        # user 4: same-timestamp tie resolves by event_id (view id=9
        # before click id=10 -> both match)
        (4, 9, t(5), "view"),
        (4, 10, t(5), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: r["stage"]
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    }
    assert out == {1: 3, 2: 2, 3: 0, 4: 2}


def test_group_trend_recovers_exact_slope(spark):
    from pyspark_pipelining_spark.operators.stats import group_trend

    # y = 7x + 3 exactly -> slope must be exactly 7.0
    rows = [("a", x, 7 * x + 3) for x in range(50)]
    # degenerate group: single x value -> dropped, not NaN
    rows += [("b", 5, y) for y in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r["slope"] for r in group_trend(df, "x", "y", "g").collect()}
    assert out == {"a": 7.0}


def test_zscore_outliers_flags_only_the_spike(spark):
    from pyspark_pipelining_spark.operators.stats import zscore_outliers

    rows = [(i, "t", 10.0 + (i % 7) / 100) for i in range(100)]
    rows.append((100, "t", 5000.0))  # the anomaly
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = zscore_outliers(df, "value", "event_type", "event_id").collect()
    assert [r["event_id"] for r in out] == [100]
    assert out[0]["v_cents"] == 500000


def test_kmeans_int_separates_blobs_and_is_layout_independent(spark):
    from pyspark_pipelining_spark.operators.cluster import kmeans_int

    # two tight blobs; the id%2 seeding is informative but imperfect
    # (4 members of each blob carry the other parity), so Lloyd must
    # actually move those 8 points to converge on the true split
    a_ids = list(range(0, 32, 2)) + [1, 3, 5, 7]          # 16 even + 4 odd
    b_ids = [i for i in range(40) if i not in a_ids]       # 4 even + 16 odd
    rows = [(i, [0.9 + (i % 5) * 1e-3] * 4) for i in a_ids]
    rows += [(i, [-0.9 + (i % 5) * 1e-3] * 4) for i in b_ids]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_int(df, k=2, iters=2).collect()
    cells = {r["vec_id"]: r["cell"] for r in out}
    blob_a = {cells[i] for i in a_ids}
    blob_b = {cells[i] for i in b_ids}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    again = {
        r["vec_id"]: (r["cell"], r["d"])
        for r in kmeans_int(df.repartition(7), k=2, iters=2).collect()
    }
    assert again == {r["vec_id"]: (r["cell"], r["d"]) for r in out}


def test_repetition_signals_hand_computed(spark):
    from pyspark_pipelining_spark.operators.text import repetition_signals

    # doc 1: "the cat" and "cat sat" bigrams each occur twice (7 chars
    # -> 14 covered); trigram "the cat sat" occurs twice (11 -> 22).
    # doc 2: single word -> no grams at all. doc 3: one unique bigram.
    df = spark.createDataFrame(
        [(1, "the cat sat the cat sat end"), (2, "one"), (3, "a b")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["n_chars"] == 27
    assert out[1]["top2_chars"] == 14 and out[1]["dup3_chars"] == 22
    assert out[1]["top2_frac"] == round(14 / 27, 6)
    assert out[1]["dup3_frac"] == round(22 / 27, 6)
    assert out[2]["top2_chars"] == 0 and out[2]["dup3_chars"] == 0
    assert out[2]["top2_frac"] == 0.0
    assert out[3]["top2_chars"] == 3 and out[3]["top2_frac"] == 1.0
    assert out[3]["dup3_chars"] == 0


def test_zorder_key_interleaves_bits(spark):
    from pyspark_pipelining_spark.operators.layout import with_zorder_key

    # full 4x4 grid, bits=2: ranges are [0,3] so scaling is identity and
    # zkey must be the textbook Morton number (a even bits, b odd bits)
    rows = [(a, b) for a in range(4) for b in range(4)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = {(r["a"], r["b"]): r["zkey"] for r in with_zorder_key(df, ("a", "b"), bits=2).collect()}

    def morton(a, b):
        z = 0
        for i in range(2):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert out == {(a, b): morton(a, b) for a in range(4) for b in range(4)}


def test_cooccur_pmi_hand_computed(spark):
    import math

    from pyspark_pipelining_spark.operators.text import cooccur_pmi

    # "a b a b": dist-1 pairs (a,b)x2 (b,a)x1; dist-2 pairs (a,a) (b,b)
    # N=5, left(a)=3, right(b)=3 -> pmi(a,b) = ln(2*5/(3*3))
    df = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    out = cooccur_pmi(df, min_count=2).collect()
    assert [(r["w1"], r["w2"], r["pair_cnt"]) for r in out] == [("a", "b", 2)]
    assert out[0]["pmi"] == round(math.log(2.0 * 5 / (3.0 * 3)), 6)


def test_profile_table_counts_nulls_and_distincts(spark):
    from pyspark_pipelining_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "id long, s string"
    )
    out = {r["col_name"]: r for r in profile_table(df, ["id", "s"]).collect()}
    assert out["id"]["n_rows"] == 3 and out["id"]["n_nulls"] == 0
    assert out["id"]["n_distinct"] == 2
    assert (out["id"]["min_val"], out["id"]["max_val"]) == ("1", "2")
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert (out["s"]["min_val"], out["s"]["max_val"]) == ("a", "b")


def test_inverted_index_caps_postings_and_filters_df(spark):
    from pyspark_pipelining_spark.operators.text import inverted_index

    # y appears in 3 docs (df=3, postings capped at 2); x repeats inside
    # doc 1 but counts once; z/q fall below min_df
    df = spark.createDataFrame(
        [(1, "x y x"), (2, "y z"), (3, "y q")], ["doc_id", "text"]
    )
    out = inverted_index(df, min_df=2, max_postings=2).collect()
    assert [(r["token"], r["doc_freq"], r["postings"]) for r in out] == [("y", 3, [1, 2])]


def test_fk_integrity_counts_orphans_and_nulls(spark):
    from pyspark_pipelining_spark.operators.profile import fk_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 10)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = {
        r["relation"]: r
        for r in fk_integrity([("c_to_p", child, "fk", parent, "pk")]).collect()
    }
    r = out["c_to_p"]
    # 4 child rows; 1 null key; 1 non-null orphan (fk=99)
    assert (r["n_child"], r["n_null_keys"], r["n_orphans"]) == (4, 1, 1)


def test_skew_report_exact_ppm_and_tiebreak(spark):
    from pyspark_pipelining_spark.operators.skew import skew_report

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [("c",)] * 2, "k string"
    )
    out = skew_report(df, ["k"], top_k=2).collect()
    # a: 6/10 = 600000 ppm; b/c tie at 2 -> asc tiebreak picks b
    assert [(r["k"], r["n_rows"], r["share_ppm"]) for r in out] == [
        ("a", 6, 600000),
        ("b", 2, 200000),
    ]


def test_tfidf_top_terms_hand_computed(spark):
    import math
    from pyspark_pipelining_spark.operators.text import tfidf_top_terms

    # "a" in both docs (idf=0); "b" twice in doc 1 only; "c" in doc 2 only
    df = spark.createDataFrame(
        [(1, "a b b"), (2, "a c")], ["doc_id", "text"]
    )
    out = [
        (r["doc_id"], r["token"], r["tf"], r["score"], r["rn"])
        for r in tfidf_top_terms(df, k=2).collect()
    ]
    ln2 = round(math.log(2.0), 6)
    assert out == [
        (1, "b", 2, round(2 * math.log(2.0), 6), 1),
        (1, "a", 1, 0.0, 2),
        (2, "c", 1, ln2, 1),
        (2, "a", 1, 0.0, 2),
    ]


def test_gapfill_daily_synthesizes_missing_days(spark):
    import datetime
    from pyspark_pipelining_spark.operators.stats import gapfill_daily

    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 5), 1.25),
            (1, datetime.datetime(2024, 1, 1, 9), 2.00),
            (1, datetime.datetime(2024, 1, 4, 1), 4.50),
            (2, datetime.datetime(2024, 2, 10, 0), 7.00),
        ],
        ["user_id", "ts", "value"],
    )
    out = [
        (r["user_id"], str(r["day"]), r["day_value"], r["is_gap"])
        for r in gapfill_daily(df).collect()
    ]
    # user 1 spans 4 calendar days with days 2-3 synthesized at 0.0;
    # user 2 is a single-day span with no gaps.
    assert out == [
        (1, "2024-01-01", 3.25, 0),
        (1, "2024-01-02", 0.0, 1),
        (1, "2024-01-03", 0.0, 1),
        (1, "2024-01-04", 4.5, 0),
        (2, "2024-02-10", 7.0, 0),
    ]


def test_fuzzy_pairs_distance_and_blocking(spark):
    """Levenshtein thresholds inside blocks; cross-block pairs never
    compared even when identical."""
    from pyspark_pipelining_spark.operators.linkage import fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "acme corp", "A"),
            (2, "acme c0rp", "A"),   # dist 1 → pair
            (3, "acme corporation", "A"),  # dist 7 from #1 → cut
            (4, "acme corp", "B"),   # identical to #1 but other block
            (5, "acme cort", "A"),   # dist 1 from #1, dist 2 from #2
        ],
        "id long, name string, blk string",
    )
    got = {
        (r.key_1, r.key_2, r.dist)
        for r in fuzzy_pairs(df, "id", "name", "blk", max_dist=2).collect()
    }
    assert got == {(1, 2, 1), (1, 5, 1), (2, 5, 2)}


def test_session_window_boundary_merges_touching_windows(spark):
    """Session windows MERGE when they touch: an event at exactly
    prev + gap continues the session; only a strictly larger gap
    starts a new one — the rule the oracle mirrors with a strict >."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:29:59"),   # inside the gap → same session
            (1, "2024-01-01 00:59:59"),   # exactly 30 min later → MERGES
            (1, "2024-01-01 01:30:00"),   # 30 min 1 s gap (> 30 min) → NEW
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in out) == [1, 3]


def test_lm_score_short_doc_guard(spark):
    """length-1 text yields no bigrams (sequence(1,0) would otherwise
    be a DESCENDING Spark array) and the doc drops from the output."""
    from pyspark_pipelining_spark.operators.text import lm_bigram_score

    df = spark.createDataFrame(
        [(1, "abab"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in lm_bigram_score(df).collect()}
    assert set(rows) == {1}
    assert rows[1].n_bigrams == 3  # ab, ba, ab


def test_table_diff_statuses(spark):
    """Each status bucket: added (key only right), removed (only
    left), changed (fingerprint differs), unchanged."""
    from pyspark_pipelining_spark.operators.profile import table_diff

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)],
        "k long, v string",
    )
    right = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, None), (5, "new")],
        "k long, v string",
    )
    got = {r.status: r.n_rows for r in table_diff(left, right, ["k"], ["v"]).collect()}
    assert got == {"added": 1, "removed": 1, "changed": 1, "unchanged": 2}


def test_ewma_dyadic_weights_hand_computed(spark):
    """3-event series 1.00, 2.00, 4.00: weights 1,2,4 (newest heaviest),
    denominator 2^3 - 1 = 7 → EWMA = (100 + 400 + 1600)/(7·100) = 3.0."""
    from pyspark_pipelining_spark.queries_relational import q_ewma_user_value  # noqa: F401
    from pyspark_pipelining_spark.queries import QUERIES
    import datetime as dt

    # drive through the same plan by building a tiny frame inline
    from pyspark.sql import functions as F, Window

    df = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00", 1.0),
         (1, 11, "2024-01-01 00:01:00", 2.0),
         (1, 12, "2024-01-01 00:02:00", 4.0)],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(-15, 0)
    base = df.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    arr = F.array_sort(F.collect_list(F.struct("us", "event_id", "cents")).over(w))
    out = (
        base.withColumn("arr", arr)
        .select(
            "event_id",
            (
                F.expr(
                    "aggregate(sequence(0, size(arr) - 1), CAST(0 AS BIGINT),"
                    " (acc, j) -> acc + element_at(arr, CAST(j + 1 AS INT)).cents"
                    "   * shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)))"
                ).cast("double")
                / (F.expr("shiftleft(CAST(1 AS BIGINT), size(arr)) - 1").cast("double") * 100.0)
            ).alias("ewma"),
        )
        .collect()
    )
    got = {r.event_id: r.ewma for r in out}
    assert got[10] == 1.0
    assert got[11] == (100 * 1 + 200 * 2) / (3 * 100)  # 5/3
    assert got[12] == 3.0


def test_drift_psi_zero_for_identical_distributions(spark):
    """Identical period distributions give exactly psi = 0 (p == q per
    bucket, including the smoothing terms); a shifted one is > 0."""
    from pyspark_pipelining_spark.operators.stats import drift_psi

    same = spark.createDataFrame(
        [("g", p, b) for p in (1, 2) for b in [0, 0, 1, 1, 2]],
        "g string, period int, bucket long",
    )
    row = drift_psi(same, "g", "period", "bucket").collect()[0]
    assert row.psi == 0.0 and row.n1 == row.n2 == 5
    shifted = spark.createDataFrame(
        [("g", 1, 0)] * 5 + [("g", 2, 9)] * 5,
        "g string, period int, bucket long",
    )
    assert drift_psi(shifted, "g", "period", "bucket").collect()[0].psi > 1.0


def test_kmv_overlap_exact_for_small_sets_and_sane_estimates(spark):
    """Below k distinct values every figure is exact; above k the
    estimates stay within 25% of truth on a 1000-element overlap."""
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators.sketch import kmv_overlap

    small_a = spark.range(4).select(F.concat(F.lit("x"), "id").alias("v"))
    small_b = spark.range(2, 6).select(F.concat(F.lit("x"), "id").alias("v"))
    r = kmv_overlap(small_a, small_b, "v", k=64).collect()[0]
    assert (r.est_left, r.est_right, r.est_union) == (4.0, 4.0, 6.0)
    assert r.jaccard == round(2 / 6, 6) and r.est_intersection == 2.0

    big_a = spark.range(1000).select(F.concat(F.lit("t"), "id").alias("v"))
    big_b = spark.range(500, 1500).select(F.concat(F.lit("t"), "id").alias("v"))
    r = kmv_overlap(big_a, big_b, "v", k=128).collect()[0]
    assert abs(r.est_left - 1000) / 1000 < 0.25
    assert abs(r.est_union - 1500) / 1500 < 0.25
    assert abs(r.est_intersection - 500) / 500 < 0.5  # J·U compounds error


def test_group_moments_symmetric_and_skewed(spark):
    """Symmetric values give skew exactly 0 (uniform {1,2,3}: excess
    kurtosis −1.5); adding a far-right outlier flips skew positive."""
    from pyspark_pipelining_spark.operators.stats import group_moments

    sym = spark.createDataFrame(
        [("g", v) for v in (1, 2, 3)], "g string, x long"
    )
    r = group_moments(sym, "x", "g").collect()[0]
    assert r.skewness == 0.0 and r.kurtosis_excess == -1.5
    skewed = spark.createDataFrame(
        [("g", v) for v in (1, 1, 1, 1, 100)], "g string, x long"
    )
    assert group_moments(skewed, "x", "g").collect()[0].skewness > 1.0


def test_pq_adc_dense_tables_survive_noncontiguous_cells(spark):
    """ADC lookup tables are indexed by cell id: when Lloyd leaves
    empty cells (non-contiguous surviving ids), a positional table
    would read the wrong cell's distance — the dense k-slot table must
    still score exactly (ADVICE r04, similarity.py ADC lookup)."""
    from pyspark_pipelining_spark.operators.similarity import pq_adc_topk

    dim, m, k = 8, 2, 8
    # vec ids 0,1,2,5,6 seed cells {0,1,2,5,6} (cell = id mod 8) and the
    # vectors are far apart, so cells 3,4,7 stay empty and ids keep a gap
    vecs = {
        0: [0.0] * 8,
        1: [1.0] * 8,
        2: [2.0] * 8,
        5: [5.0] * 8,
        6: [6.0] * 8,
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(100, [4.9] * 8)], "query_id long, query_vec array<double>"
    )
    out = pq_adc_topk(emb, q, m=m, k=k, iters=2, dim=dim, topk=len(vecs))
    rows = [(r["vec_id"], r["adc_d"]) for r in out.collect()]
    # every vector is its own centroid here, so ADC distance == exact
    # snapped L2^2 distance
    grid = 10**6
    snap = lambda xs: [round(x * grid) for x in xs]  # noqa: E731
    qs = snap([4.9] * 8)
    exact = {
        i: sum((a - b) ** 2 for a, b in zip(qs, snap(v))) for i, v in vecs.items()
    }
    assert rows == sorted(exact.items(), key=lambda kv: (kv[1], kv[0]))


def test_pq_train_codes_rejects_zero_iters(spark):
    from pyspark_pipelining_spark.operators.similarity import pq_train_codes

    emb = spark.createDataFrame([(0, [0.0] * 8)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="iters"):
        pq_train_codes(emb, m=2, k=2, iters=0, dim=8)


def test_retention_cohorts_offsets_and_counts(spark):
    from pyspark_pipelining_spark.operators.analytics import retention_cohorts

    # u1 active weeks 0 and 2 (Mondays 2024-01-01, 2024-01-15); u2 week 0 only
    df = spark.createDataFrame(
        [
            (1, "2024-01-02 10:00:00"),
            (1, "2024-01-03 11:00:00"),
            (1, "2024-01-16 09:00:00"),
            (2, "2024-01-04 08:00:00"),
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {(str(r["cohort_week"]), r["week_offset"]): r["users"] for r in retention_cohorts(df).collect()}
    assert out == {("2024-01-01", 0): 2, ("2024-01-01", 2): 1}


def test_cross_corr_lag_exact_numerator(spark):
    from pyspark_pipelining_spark.operators.analytics import cross_corr_lag

    # x: day0=1.00, day1=2.00 (cents 100, 200); y: day1=3.00, day2=6.00
    df = spark.createDataFrame(
        [
            ("view", "2024-01-01 00:00:00", 1.0),
            ("view", "2024-01-02 00:00:00", 2.0),
            ("purchase", "2024-01-02 00:00:00", 3.0),
            ("purchase", "2024-01-03 00:00:00", 6.0),
        ],
        "event_type string, ts_s string, value double",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    rows = {r["lag"]: (r["n_days"], r["cov_num"]) for r in cross_corr_lag(df, max_lag=1).collect()}
    # lag +1: pairs (100,300),(200,600) -> n=2, num=2*(30000+120000)-300*900=30000
    assert rows[1] == (2, 30000)
    # lag 0: pair (200,300) -> n=1, num=1*60000-200*300=0
    assert rows[0] == (1, 0)


def test_filter_funnel_is_monotone_and_complete(spark):
    from pyspark_pipelining_spark.operators.analytics import filter_funnel

    df = spark.createDataFrame(
        [(1, "short", 5), (2, "word " * 50, 250), (3, "a1b2! " * 50, 300)],
        "doc_id long, text string, n_chars long",
    )
    rows = filter_funnel(df).collect()
    counts = [r["n_rows"] for r in rows]
    assert counts[0] == 3 and counts == sorted(counts, reverse=True)
    assert rows[0]["pct"] == 1.0


def test_ngram_novelty_short_docs_and_shared_grams(spark):
    from pyspark_pipelining_spark.operators.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b"),                # < 3 words -> 0 grams
            (2, "x y z w"),            # grams: 'x y z', 'y z w'
            (3, "x y z q"),            # grams: 'x y z' (shared), 'y z q'
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_ngrams"], r["n_unique"], r["novelty"]) for r in ngram_novelty(df).collect()}
    assert out[1] == (0, 0, 0.0)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 1, 0.5)


def test_node_jaccard_triangle_plus_tail(spark):
    from pyspark_pipelining_spark.operators.graph import node_jaccard

    # triangle 1-2-3 plus tail 3-4; pair (1,2): N(1)={2,3}, N(2)={1,3} -> common={3}
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_1 long, doc_2 long"
    )
    out = {(r["doc_1"], r["doc_2"]): r for r in node_jaccard(pairs).collect()}
    r12 = out[(1, 2)]
    assert (r12["deg_1"], r12["deg_2"], r12["common"]) == (2, 2, 1)
    assert r12["jaccard"] == round(1 / 3, 6)
    r34 = out[(3, 4)]
    # N(3)={1,2,4}, N(4)={3} -> no common, union=4
    assert (r34["deg_1"], r34["deg_2"], r34["common"], r34["jaccard"]) == (3, 1, 0, 0.0)


def test_rfm_segments_partition_customers(spark):
    from pyspark_pipelining_spark.operators.analytics import rfm_segments

    df = spark.createDataFrame(
        [(k, f"1995-0{1 + k % 8}-01 00:00:00", 100.0 * (k + 1)) for k in range(8)],
        "o_custkey long, od string, o_totalprice double",
    ).select("o_custkey", F.col("od").cast("timestamp").alias("o_orderdate"), "o_totalprice")
    rows = rfm_segments(df).collect()
    assert sum(r["n_customers"] for r in rows) == 8
    assert sum(r["monetary_cents"] for r in rows) == sum(100 * 100 * (k + 1) for k in range(8))


def test_merge_upsert_all_three_actions(spark):
    from pyspark_pipelining_spark.operators.cdc import merge_upsert

    target = spark.createDataFrame([(1, 100), (2, 200)], ["k", "v"])
    source = spark.createDataFrame([(2, 5), (3, 7)], ["k", "d"])
    out = merge_upsert(target, source, "k", "v", "d", combine=lambda t, s: t + s)
    rows = {r["k"]: (r["action"], r["merged"]) for r in out.collect()}
    assert rows == {1: ("keep", 100), 2: ("update", 205), 3: ("insert", 7)}


def test_merge_upsert_default_source_wins(spark):
    from pyspark_pipelining_spark.operators.cdc import merge_upsert

    target = spark.createDataFrame([(1, 100)], ["k", "v"])
    source = spark.createDataFrame([(1, 5)], ["k", "d"])
    out = merge_upsert(target, source, "k", "v", "d")
    assert out.collect()[0]["merged"] == 5


def test_kcore_peel_strips_tails_keeps_core(spark):
    from pyspark_pipelining_spark.operators.graph import kcore_peel

    # triangle 1-2-3 (2-core) + tail 3-4-5 (peels away over 2 rounds)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["doc_1", "doc_2"]
    )
    out = {r["node"]: r["degree"] for r in kcore_peel(pairs, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_peel_zero_rounds_is_degree_table(spark):
    from pyspark_pipelining_spark.operators.graph import kcore_peel

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_1", "doc_2"])
    out = {r["node"]: r["degree"] for r in kcore_peel(pairs, rounds=0).collect()}
    assert out == {1: 1, 2: 2, 3: 1}


def test_media_header_sniff_round_trip_and_rejects_non_png(spark):
    """synthesize_png_payload writes a REAL PNG signature + big-endian
    dims; sniff_headers must parse them back exactly, JVM-side, and
    classify unwrapped payloads as opaque bytes with NULL dims."""
    from pyspark_pipelining_spark.operators.multimodal import (
        documents_as_media,
        sniff_headers,
        synthesize_png_payload,
    )
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    media = documents_as_media(docs)
    wrapped = synthesize_png_payload(media)
    sniffed = sniff_headers(wrapped).join(
        media.select("media_id", "meta"), "media_id"
    )
    rows = sniffed.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["sniffed_mime"] == "image/png"
        assert r["sniffed_width"] == r["meta"]["width"]
        assert r["sniffed_height"] == r["meta"]["height"]
    # unwrapped text payloads must NOT sniff as PNG
    plain = sniff_headers(media).collect()
    assert all(
        r["sniffed_mime"] == "application/octet-stream"
        and r["sniffed_width"] is None
        for r in plain
    )
    # the sniff plan is pure JVM — no Python worker anywhere
    plan = sniff_headers(wrapped)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wav_sniff_little_endian_round_trip(spark):
    """RIFF/WAVE synthesis writes the sample rate little-endian; the
    sniffer must reassemble it byte-by-byte (and still reject the same
    bytes when the RIFF magic is absent)."""
    from pyspark_pipelining_spark.operators.multimodal import (
        documents_as_media,
        sniff_headers,
        synthesize_wav_payload,
    )
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    wav = synthesize_wav_payload(documents_as_media(docs))
    got = sniff_headers(wav).join(
        wav.select("media_id", "expected_sample_rate"), "media_id"
    )
    rows = got.collect()
    assert len(rows) == 40
    for r in rows:
        assert r["sniffed_mime"] == "audio/wav"
        assert r["sniffed_sample_rate"] == r["expected_sample_rate"]
        assert r["sniffed_width"] is None


def test_bq_encode_known_bits_and_multiword(spark):
    from pyspark_pipelining_spark.operators.similarity import bq_encode

    # dim=70 -> two words; bits 0,2 set in word 0; bits 64,69 -> 0,5 in word 1
    vec = [0.0] * 70
    vec[0] = 1.0
    vec[2] = 0.5
    vec[64] = 3.0
    vec[69] = 0.1
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    row = bq_encode(df, dim=70).collect()[0]
    assert row["bq"] == [(1 << 0) | (1 << 2), (1 << 0) | (1 << 5)]


def test_bq_hamming_topk_matches_numpy_model(spark):
    import numpy as np

    from pyspark_pipelining_spark.operators.similarity import bq_hamming_topk
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        (r["query_id"], r["vec_id"], r["hamming"], r["rank"])
        for r in bq_hamming_topk(emb, qv, k=5).collect()
    ]

    rows = emb.collect()
    bits = {r["vec_id"]: np.array([x > 0 for x in r["embedding"]]) for r in rows}
    want = []
    for q in range(3):
        scored = sorted(
            (int(np.sum(bits[q] ^ b)), vid) for vid, b in bits.items() if vid != q
        )
        want += [(q, vid, h, i + 1) for i, (h, vid) in enumerate(scored[:5])]
    assert got == want


def test_bq_hamming_of_duplicate_vector_is_zero(spark):
    from pyspark_pipelining_spark.operators.similarity import bq_hamming_topk

    v = [1.0, -1.0, 0.5, -0.5] * 16
    df = spark.createDataFrame(
        [(0, v), (1, v), (2, [-x for x in v])], ["vec_id", "embedding"]
    )
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = {r["vec_id"]: r["hamming"] for r in bq_hamming_topk(df, q, k=2).collect()}
    assert out[1] == 0          # identical vector: distance 0
    assert out[2] == 64         # sign-flip changes EVERY bit (on->off and off->on)


def test_bq_rerank_recall_vs_bruteforce(spark):
    """Hamming-shortlist + exact-cosine rerank must recover most of the
    true top-5 (recall floor) and ALL of it when the shortlist is the
    whole corpus (exactness ceiling)."""
    from pyspark_pipelining_spark.operators.similarity import (
        bq_rerank_topk,
        cosine_topk,
    )
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(emb, qv, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in bq_rerank_topk(emb, qv, k=5, shortlist=100).collect()
    }
    assert len(got & truth) / len(truth) >= 0.5  # BQ floor on random vectors
    full = {
        (r["query_id"], r["vec_id"])
        for r in bq_rerank_topk(emb, qv, k=5, shortlist=10_000).collect()
    }
    assert full == truth  # whole-corpus shortlist == brute force


def test_sq8_codes_match_python_model_and_recall(spark):
    """The staged SQ8 rung (scalar quantization — the precision step
    between BQ's sign bits and PQ's trained codebooks): (a) every code
    equals a plain-Python floor-affine model against the per-dim
    corpus min/max (the floor-not-round determinism contract), (b) the
    shortlist+rerank recovers most of the true top-5 at the staged
    shortlist and ALL of it when the shortlist is the whole corpus,
    and (c) SQ8's 8-bit shortlist is at least as good as BQ's 1-bit
    one at the same shortlist size (the precision-ladder claim)."""
    import math

    from pyspark_pipelining_spark.operators.similarity import (
        bq_rerank_topk,
        cosine_topk,
        sq8_encode,
        sq8_rerank_topk,
        sq8_stats,
    )
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # (a) code model
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    dim = 64
    mins = [min(v[i] for v in vecs.values()) for i in range(dim)]
    maxs = [max(v[i] for v in vecs.values()) for i in range(dim)]
    got = {
        r["vec_id"]: list(r["sq"])
        for r in sq8_encode(emb, sq8_stats(emb)).collect()
    }
    for vid, v in vecs.items():
        want = [
            min(
                255,
                math.floor(
                    (float(v[i]) - float(mins[i]))
                    * 256.0
                    / (float(maxs[i]) - float(mins[i]))
                ),
            )
            if maxs[i] > mins[i]
            else 0
            for i in range(dim)
        ]
        assert got[vid] == want, vid
        assert all(0 <= c <= 255 for c in want)
    # (b) recall floor + exactness ceiling
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(emb, qv, k=5).collect()
    }
    sq50 = {
        (r["query_id"], r["vec_id"])
        for r in sq8_rerank_topk(emb, qv, k=5, shortlist=50).collect()
    }
    assert len(sq50 & truth) / len(truth) >= 0.8  # 8-bit floor
    full = {
        (r["query_id"], r["vec_id"])
        for r in sq8_rerank_topk(emb, qv, k=5, shortlist=10_000).collect()
    }
    assert full == truth
    # (c) at the same shortlist, 8 bits never recalls less than 1 bit
    bq50 = {
        (r["query_id"], r["vec_id"])
        for r in bq_rerank_topk(emb, qv, k=5, shortlist=50).collect()
    }
    assert len(sq50 & truth) >= len(bq50 & truth)


def test_hll_windowed_distinct_tracks_exact_sliding_counts(spark):
    """7-day register merges must estimate each full window's exact
    distinct-user count within HLL tolerance, and merging must never
    be worse than the per-day estimates it folds (register max is
    lossless)."""
    from pyspark_pipelining_spark.operators.sketch import hll_windowed_distinct
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select("ts", "user_id")
    out = hll_windowed_distinct(ev, "ts", "user_id", window_days=7).collect()
    assert len(out) > 0

    exact_rows = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct().collect()
    by_day: dict = {}
    for r in exact_rows:
        by_day.setdefault(r["day"], set()).add(r["user_id"])
    import datetime as dt

    for r in out:
        days = [r["window_start"] + dt.timedelta(days=i) for i in range(7)]
        exact = len(set().union(*(by_day.get(d, set()) for d in days)))
        assert exact > 0
        rel_err = abs(r["est_distinct"] - exact) / exact
        assert rel_err < 0.15, (r["window_start"], exact, r["est_distinct"])


def test_bitmap_words_merge_across_splits_exactly(spark):
    """bitmap_distinct's (group, word) state is mergeable: partial word
    tables from ANY split of the input (here 3 disjoint chunks, like
    streaming micro-batches or daily partitions) bit_or-merge to the
    identical global table — and the popcount totals equal the exact
    distinct counts."""
    from pyspark_pipelining_spark.operators.sketch import (
        bitmap_distinct,
        bitmap_words,
    )

    rows = [(f"g{v % 3}", v * 7 % 500) for v in range(400)]
    df = spark.createDataFrame(rows, "grp string, val bigint")
    whole = {
        (r["grp"], r["word_idx"]): r["word"]
        for r in bitmap_words(df, "grp", "val").collect()
    }
    parts = [df.filter(F.pmod("val", F.lit(3)) == i) for i in range(3)]
    partials = [bitmap_words(p, "grp", "val") for p in parts]
    merged_df = partials[0].unionByName(partials[1]).unionByName(partials[2])
    merged = {
        (r["grp"], r["word_idx"]): r["word"]
        for r in merged_df.groupBy("grp", "word_idx")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    }
    assert merged == whole
    exact = {
        r["grp"]: r["cnt"]
        for r in df.groupBy("grp").agg(F.countDistinct("val").alias("cnt")).collect()
    }
    got = {
        r["grp"]: r["n_distinct"] for r in bitmap_distinct(df, "grp", "val").collect()
    }
    assert got == exact


def test_cms_inner_product_bounds_join_size(spark):
    """CMS inner product: always an upper bound on the exact equi-join
    cardinality, exact when the key set is far below the bucket count,
    and still a usable estimate under deliberate collisions."""
    from pyspark_pipelining_spark.operators.sketch import cms_inner_product, cms_sketch

    rows_a = [(f"k{v % 17}",) for v in range(300)]
    rows_b = [(f"k{v % 23}",) for v in range(200)]
    a = spark.createDataFrame(rows_a, ["k"])
    b = spark.createDataFrame(rows_b, ["k"])
    exact = (
        a.groupBy("k").count().withColumnRenamed("count", "na")
        .join(b.groupBy("k").count().withColumnRenamed("count", "nb"), "k")
        .selectExpr("CAST(sum(na * nb) AS BIGINT) AS s")
        .collect()[0]["s"]
    )
    # wide sketch: 17/23 keys over 1024 buckets -> collision-free -> exact
    est = cms_inner_product(
        cms_sketch(a, "k"), cms_sketch(b, "k")
    ).collect()[0]["est_join_size"]
    assert est == exact
    # narrow sketch: forced collisions -> still an upper bound
    est_narrow = cms_inner_product(
        cms_sketch(a, "k", width=8), cms_sketch(b, "k", width=8)
    ).collect()[0]["est_join_size"]
    assert est_narrow >= exact


def test_cms_inner_product_disjoint_keys_is_zero(spark):
    """ADVICE r06: fully disjoint key sets must estimate 0 (one row),
    not an empty frame / NULL — a depth row with no shared populated
    bucket contributes an explicit 0 to the MIN."""
    from pyspark_pipelining_spark.operators.sketch import cms_inner_product, cms_sketch

    a = spark.createDataFrame([(f"a{v}",) for v in range(20)], ["k"])
    b = spark.createDataFrame([(f"b{v}",) for v in range(20)], ["k"])
    out = cms_inner_product(cms_sketch(a, "k"), cms_sketch(b, "k")).collect()
    assert len(out) == 1 and out[0]["est_join_size"] == 0


def test_bitmap_distinct_exact_for_negative_values(spark):
    """ADVICE r06: the (word, bit) mapping must be injective over the
    FULL int64 range — with trunc division -1 collided with 63; the
    arithmetic-shift word index (floor semantics) keeps negatives
    distinct and the popcount exact."""
    from pyspark_pipelining_spark.operators.sketch import bitmap_distinct

    vals = [-130, -129, -128, -65, -64, -63, -2, -1, 0, 1, 62, 63, 64, 127]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, val bigint")
    got = bitmap_distinct(df, "grp", "val").collect()
    assert got[0]["n_distinct"] == len(set(vals))


def test_bitmap_oracle_word_mechanics_match_spark_on_negatives(spark):
    """ADVICE r07: the sketch_calibration oracle's (>> 6, & 63) word
    mapping must equal Spark's (shiftright, pmod) over the full int64
    range — DuckDB's truncating // and sign-keeping % diverge on
    negative ids, so the oracle uses the bitwise forms instead."""
    import duckdb

    vals = [
        -(2**63), -(2**63) + 1, -130, -65, -64, -63, -1, 0, 1,
        63, 64, 127, 2**63 - 1,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "val bigint")
    spark_rows = sorted(
        (r["w"], r["b"])
        for r in df.selectExpr(
            "shiftright(val, 6) AS w", "CAST(pmod(val, 64) AS INT) AS b"
        ).collect()
    )
    duck_rows = sorted(
        duckdb.sql(
            "SELECT v >> 6, CAST(v & 63 AS INTEGER) FROM (VALUES "
            + ", ".join(f"(CAST({v} AS BIGINT))" for v in vals)
            + ") t(v)"
        ).fetchall()
    )
    assert spark_rows == duck_rows


def test_containment_join_catches_planted_subset_duplicate(spark):
    """The semantic story behind prefix_containment_join: a short doc
    quoted verbatim inside a much longer one has containment 1.0 even
    when Jaccard is far below any dedup threshold — the subset-dup
    class the asymmetric join exists for."""
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators.dedup import (
        prefix_containment_join,
        prefix_jaccard_join,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i} z{i}" for i in range(30))
    rows = [
        (1, short),
        (2, filler + " " + short + " " + filler.upper().lower()),
        (3, "totally unrelated words " + " ".join(f"q{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_inner"], r["doc_outer"]): r["containment"]
        for r in prefix_containment_join(docs, threshold=0.8, n=4).collect()
    }
    # every 4-gram of doc 1 appears in doc 2 -> containment exactly 1.0
    assert got.get((1, 2)) == 1.0
    # the reverse direction is NOT contained, nor is the unrelated doc
    assert (2, 1) not in got and (3, 2) not in got and (1, 3) not in got
    # and symmetric Jaccard misses the pair entirely at the same bar
    jac = {
        (r["doc_1"], r["doc_2"])
        for r in prefix_jaccard_join(docs, threshold=0.8, n=4).collect()
    }
    assert (1, 2) not in jac


def test_wav_pcm_windows_matches_stdlib_decode(spark):
    """The JVM hex/conv/HOF decode of the committed PCM16 fixtures must
    equal a stdlib wave+struct decode sample-for-sample: per-window
    peak and RMS, the short final window included (fixtures are
    2048 = 8×256 samples, so also check a non-multiple window size)."""
    import math
    import struct
    import wave

    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.queries_ann_media import WAV_FIXTURE_DIR, WAV_PCM
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, WAV_FIXTURE_DIR, glob="*.wav")
    for ws in (256, 300):  # 2048 % 300 != 0 → short last window
        got = [
            tuple(r)
            for r in wav_features(files, window_samples=ws)
            .select(*WAV_PCM)
            .orderBy("file_name", "win")
            .collect()
        ]
        want = []
        for name in ("noise_lcg.wav", "tone_ramp.wav", "tone_triangle.wav"):
            w = wave.open(f"{WAV_FIXTURE_DIR}/{name}")
            raw = w.readframes(w.getnframes())
            s = struct.unpack(f"<{len(raw) // 2}h", raw)
            assert (w.getnchannels(), w.getsampwidth()) == (1, 2)
            for wi in range((len(s) + ws - 1) // ws):
                seg = s[wi * ws : (wi + 1) * ws]
                ss = sum(x * x for x in seg)
                want.append(
                    (
                        name,
                        wi,
                        w.getframerate(),
                        len(seg),
                        max(abs(x) for x in seg),
                        round(math.sqrt(ss / len(seg)), 6),
                    )
                )
        assert got == want


def test_wav_window_features_matches_stdlib_decode(spark, tmp_path):
    """`wav_features` (mono): zero-crossing count/rate and first-lag
    autocorrelation from the SAME fold must equal a stdlib wave+struct
    model pair-for-pair, its amplitude columns must equal the
    `wav_pcm_windows` projection exactly (superset contract), and the
    edge rows are pinned: an all-zero window → ac1 = 0.0 (ss = 0, not
    NULL/÷0) and a 1-sample tail window → zcr = 0.0 (no pairs)."""
    import math
    import shutil
    import struct
    import wave

    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.queries_ann_media import (
        WAV_FEATURES,
        WAV_FIXTURE_DIR,
        WAV_PCM,
    )
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    d = tmp_path / "lake"
    d.mkdir()
    for name in ("noise_lcg.wav", "tone_ramp.wav", "tone_triangle.wav"):
        shutil.copy(f"{WAV_FIXTURE_DIR}/{name}", d / name)
    # 301 samples at ws=300 → a 1-sample tail window (zcr must be 0.0,
    # not NULL/÷0); first 300 samples all zero → ac1 must be 0.0
    edge = [0] * 300 + [7]
    (d / "edge_silence.wav").write_bytes(
        b"RIFF" + struct.pack("<I", 36 + 2 * len(edge)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 2 * len(edge))
        + struct.pack(f"<{len(edge)}h", *edge)
    )
    files = load_binary_files(spark, str(d), glob="*.wav")
    ws = 300
    got = [
        tuple(r)
        for r in wav_features(files, window_samples=ws)
        .select(*WAV_FEATURES)
        .orderBy("file_name", "win")
        .collect()
    ]
    base = [
        tuple(r)
        for r in wav_features(files, window_samples=ws)
        .select(*WAV_PCM)
        .orderBy("file_name", "win")
        .collect()
    ]
    want = []
    for p in sorted(d.iterdir()):
        w = wave.open(str(p))
        raw = w.readframes(w.getnframes())
        s = struct.unpack(f"<{len(raw) // 2}h", raw)
        for wi in range((len(s) + ws - 1) // ws):
            seg = s[wi * ws : (wi + 1) * ws]
            ss = sum(x * x for x in seg)
            zc = sum(1 for a, b in zip(seg, seg[1:]) if a * b < 0)
            ac = sum(a * b for a, b in zip(seg, seg[1:]))
            want.append(
                (
                    p.name,
                    wi,
                    w.getframerate(),
                    len(seg),
                    max(abs(x) for x in seg),
                    round(math.sqrt(ss / len(seg)), 6),
                    zc,
                    round(zc / max(len(seg) - 1, 1), 6),
                    round(ac / ss, 6) if ss > 0 else 0.0,
                )
            )
    assert got == want
    # superset contract: shared columns bit-equal to the registered op
    assert [g[:6] for g in got] == base
    # the pinned edges actually occurred
    edges = {g[1]: g for g in got if g[0] == "edge_silence.wav"}
    assert edges[0][5:] == (0.0, 0, 0.0, 0.0)  # silent: rms=zc=zcr=ac1=0
    assert edges[1][3] == 1 and edges[1][7] == 0.0  # 1-sample tail
    # semantic sanity on the deterministic fixtures: slow periodic
    # content is strongly self-correlated at lag 1, LCG noise is not
    # (the voiced/unvoiced proxy the docstring claims)
    def mean_ac1(name):
        rows = [g for g in got if g[0] == name]
        return sum(g[8] for g in rows) / len(rows)

    # ramp: the per-period sawtooth discontinuity caps lag-1
    # correlation (~0.80 on this fixture); triangle is smooth
    assert mean_ac1("tone_ramp.wav") > 0.75
    assert mean_ac1("tone_triangle.wav") > 0.9
    assert abs(mean_ac1("noise_lcg.wav")) < 0.2


def test_wav_pcm_windows_filters_strays_not_errors(spark, tmp_path):
    """Lake-scan convention: non-WAV bytes, stereo, and 8-bit files are
    FILTERED by the header guards (never an exception); a valid PCM16
    mono file alongside them still decodes."""
    import shutil
    import struct

    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.queries_ann_media import WAV_FIXTURE_DIR
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    d = tmp_path / "lake"
    d.mkdir()
    (d / "not_audio.wav").write_bytes(b"PK\x03\x04 definitely a zip")
    samples = struct.pack("<4h", 1, -1, 2, -2)
    stereo = (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    (d / "stereo.wav").write_bytes(stereo)
    mono_hdr = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    )
    # canonical header but EMPTY data chunk: must not fabricate a
    # zero-sample window row (the oracle's per-sample unnest is empty)
    (d / "empty_data.wav").write_bytes(mono_hdr + b"data" + struct.pack("<I", 0))
    # data_bytes overstates the payload: must filter, not decode ''
    # into NULL samples (the oracle would hard-error on CAST('0x'))
    (d / "truncated.wav").write_bytes(
        mono_hdr + b"data" + struct.pack("<I", 4096) + samples
    )
    shutil.copy(f"{WAV_FIXTURE_DIR}/tone_ramp.wav", d / "tone_ramp.wav")
    out = wav_features(load_binary_files(spark, str(d), glob="*.wav")).collect()
    assert {r["file_name"] for r in out} == {"tone_ramp.wav"}
    assert len(out) == 8


def test_wav_fixture_generator_is_deterministic(tmp_path, monkeypatch):
    """Re-running tools/gen_wav_fixtures.py must reproduce the committed
    bytes exactly (the cross-engine byte contract the oracle relies on)
    — both the mono lake and the round-12 stereo lake."""
    import tools.gen_wav_fixtures as gen

    monkeypatch.setattr(gen, "OUT_DIR", str(tmp_path / "audio"))
    monkeypatch.setattr(gen, "STEREO_DIR", str(tmp_path / "audio_stereo"))
    gen.main()
    for name in ("tone_triangle.wav", "tone_ramp.wav", "noise_lcg.wav"):
        with open(f"{gen.HERE}/fixtures/audio/{name}", "rb") as committed:
            with open(tmp_path / "audio" / name, "rb") as fresh:
                assert committed.read() == fresh.read(), name
    for name in (
        "stereo_tri_noise.wav",
        "stereo_ramp_inv.wav",
        "mono_stray.wav",
        "stereo_partial_tail.wav",
    ):
        with open(f"{gen.HERE}/fixtures/audio_stereo/{name}", "rb") as committed:
            with open(tmp_path / "audio_stereo" / name, "rb") as fresh:
                assert committed.read() == fresh.read(), name


def test_wav_stereo_features_matches_stdlib_decode(spark):
    """``wav_features(channels=2)`` over the committed stereo lake must equal a stdlib wave+struct
    per-channel pair model row-for-row, and the lake's designed pins
    must hold: the mono stray is FILTERED by the channels==2 gate
    (never errored), the trailing-partial-frame file truncates to
    whole frames, R = −L symmetry leaves rms/zc/zcr/ac1 equal between
    channels (products and squares are sign-blind), and the
    L-triangle/R-noise file separates the channels' ac1 exactly as
    the mono semantic pins do — per channel, from ONE interleaved
    decode."""
    import math
    import struct
    import wave

    from pyspark_pipelining_spark.operators.multimodal import wav_features
    from pyspark_pipelining_spark.queries_ann_media import (
        WAV_STEREO_FIXTURE_DIR,
        WAV_STEREO_WINDOW,
    )
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, WAV_STEREO_FIXTURE_DIR, glob="*.wav")
    got = [
        tuple(r)
        for r in wav_features(files, window_samples=WAV_STEREO_WINDOW, channels=2)
        .orderBy("file_name", "win", "channel")
        .collect()
    ]
    names = {g[0] for g in got}
    assert "mono_stray.wav" not in names  # gate filters, never errors
    assert names == {
        "stereo_tri_noise.wav",
        "stereo_ramp_inv.wav",
        "stereo_partial_tail.wav",
    }
    ws = WAV_STEREO_WINDOW
    want = []
    import os

    for name in sorted(names):
        w = wave.open(os.path.join(WAV_STEREO_FIXTURE_DIR, name))
        assert w.getnchannels() == 2
        raw = w.readframes(w.getnframes())
        flat = struct.unpack(f"<{len(raw) // 2}h", raw)
        chans = [flat[0::2], flat[1::2]]
        n_frames = len(flat) // 2
        for wi in range((n_frames + ws - 1) // ws):
            for c in (0, 1):
                seg = chans[c][wi * ws : (wi + 1) * ws]
                ss = sum(x * x for x in seg)
                zc = sum(1 for a, b in zip(seg, seg[1:]) if a * b < 0)
                ac = sum(a * b for a, b in zip(seg, seg[1:]))
                want.append(
                    (
                        name,
                        wi,
                        c,
                        w.getframerate(),
                        len(seg),
                        max(abs(x) for x in seg),
                        round(math.sqrt(ss / len(seg)), 6),
                        zc,
                        round(zc / max(len(seg) - 1, 1), 6),
                        round(ac / ss, 6) if ss > 0 else 0.0,
                    )
                )
    assert got == want
    # partial tail: 64 full frames + 2 stray bytes → ONE 64-frame
    # window per channel (the stdlib model saw the same truncation:
    # wave reports whole frames only)
    tail = [g for g in got if g[0] == "stereo_partial_tail.wav"]
    assert len(tail) == 2 and all(g[4] == 64 for g in tail)
    # R = −L: every per-window feature except nothing differs
    inv = [g for g in got if g[0] == "stereo_ramp_inv.wav"]
    left = [g for g in inv if g[2] == 0]
    right = [g for g in inv if g[2] == 1]
    assert [g[5:] for g in left] == [g[5:] for g in right]
    # voiced/unvoiced separation per channel from one decode
    tn = [g for g in got if g[0] == "stereo_tri_noise.wav"]

    def mean_ac1(c):
        rows = [g for g in tn if g[2] == c]
        return sum(g[9] for g in rows) / len(rows)

    assert mean_ac1(0) > 0.9  # L: triangle
    assert abs(mean_ac1(1)) < 0.2  # R: LCG noise


def _python_png_walk(name: str, b: bytes) -> list[tuple]:
    """Plain-struct reference walk for the PNG chunk tests (mirrors the
    clean-termination contract: returns [] unless the walk ends at IEND
    exactly at EOF with letters-only types)."""
    import struct

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return []
    off, out = 8, []
    while True:
        if off + 8 > len(b):
            return []
        ln = struct.unpack(">I", b[off : off + 4])[0]
        ct = b[off + 4 : off + 8]
        if not all(65 <= c <= 90 or 97 <= c <= 122 for c in ct):
            return []
        if off + 12 + ln > len(b):
            return []
        crc = struct.unpack(">I", b[off + 8 + ln : off + 12 + ln])[0]
        out.append((name, len(out), off, ct.decode(), ln, crc))
        off += 12 + ln
        if ct == b"IEND":
            return out if off == len(b) else []


def test_png_chunk_walk_matches_python_model(spark):
    """The JVM aggregate-HOF chunk walk over the committed fixtures must
    equal the plain-struct reference walk row-for-row — offsets, types,
    lengths, and stored CRCs, including the multi-IDAT file and the
    zero-length IDAT chunk."""
    import glob

    from pyspark_pipelining_spark.operators.multimodal import png_chunk_walk
    from pyspark_pipelining_spark.queries_ann_media import PNG_FIXTURE_DIR
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, PNG_FIXTURE_DIR, glob="*.png")
    got = [
        tuple(r) for r in png_chunk_walk(files).orderBy("file_name", "idx").collect()
    ]
    want = []
    for p in sorted(glob.glob(f"{PNG_FIXTURE_DIR}/*.png")):
        with open(p, "rb") as fh:
            want += _python_png_walk(p.rsplit("/", 1)[-1], fh.read())
    assert len(want) >= 17  # 3 + 8 + 6 chunks across the three fixtures
    assert got == want


def test_png_chunk_walk_filters_strays_not_errors(spark, tmp_path):
    """Lake-scan convention: non-PNG bytes, a length that overruns EOF,
    trailing garbage after IEND, a non-letter chunk type, and a file
    with more chunks than the fold cap are all FILTERED (never an
    exception); a valid file alongside still walks."""
    import shutil

    from pyspark_pipelining_spark.operators.multimodal import png_chunk_walk
    from pyspark_pipelining_spark.queries_ann_media import PNG_FIXTURE_DIR
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, ihdr

    d = tmp_path / "lake"
    d.mkdir()
    (d / "not_png.png").write_bytes(b"GIF89a definitely not a png")
    base = SIG + ihdr(4, 4, 0)
    # declared length overruns the payload: walk must stop, not decode ''
    (d / "truncated.png").write_bytes(
        base + b"\x00\x00\x10\x00IDATxx"
    )
    (d / "trailing.png").write_bytes(
        base + chunk(b"IDAT", b"xx") + chunk(b"IEND", b"") + b"GARBAGE"
    )
    # chunk type with a non-letter byte: stray, filtered
    (d / "badtype.png").write_bytes(
        base + chunk(b"tE\x01t", b"k\x00v") + chunk(b"IEND", b"")
    )
    # 6 chunks walked with max_chunks=4: IEND never reached -> filtered
    many = base + b"".join(chunk(b"teXt", bytes([i])) for i in range(4))
    many += chunk(b"IEND", b"")
    (d / "toomany.png").write_bytes(many)
    shutil.copy(f"{PNG_FIXTURE_DIR}/gradient_gray.png", d / "gradient_gray.png")

    files = load_binary_files(spark, str(d), glob="*.png")
    out = png_chunk_walk(files, max_chunks=4).collect()
    assert {r["file_name"] for r in out} == {"gradient_gray.png"}
    assert len(out) == 3
    # the same 6-chunk file IS clean under the default cap
    out64 = png_chunk_walk(files).collect()
    assert {r["file_name"] for r in out64} == {"gradient_gray.png", "toomany.png"}
    assert [r["ctype"] for r in out64 if r["file_name"] == "toomany.png"] == [
        "IHDR", "teXt", "teXt", "teXt", "teXt", "IEND",
    ]


def test_png_chunk_walk_stray_contract_matches_oracle(spark, tmp_path):
    """r09 verdict item 5: pin the filtered-never-errored contract at
    the DEFAULT ``PNG_MAX_CHUNKS`` cap on BOTH engines.  A chunk table
    truncated MID-walk (several valid chunks, then a length field
    pointing past EOF), a file with one chunk more than the cap, and a
    file with exactly cap chunks (the keep side of the boundary) must
    behave identically in the Spark HOF walk and the DuckDB
    recursive-CTE oracle — full row parity over the planted lake, no
    exception on either side."""
    import shutil

    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import png_chunk_walk
    from pyspark_pipelining_spark.queries_ann_media import (
        PNG_FIXTURE_DIR,
        PNG_MAX_CHUNKS,
        _sql_png_chunks,
    )
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, ihdr

    d = tmp_path / "lake"
    d.mkdir()
    base = SIG + ihdr(4, 4, 0)
    # chunk table truncated MID-walk: two valid chunks first, then a
    # length field pointing past EOF — the valid PREFIX must not leak
    (d / "midtrunc.png").write_bytes(
        base
        + chunk(b"teXt", b"a")
        + chunk(b"teXt", b"bb")
        + b"\x00\x00\xff\x00IDATxxxx"
    )
    # exactly AT the cap: IHDR + (cap-2) teXt + IEND — IEND is chunk
    # cap-1 (0-based), appended on the fold's final permitted step
    at_cap = base + b"".join(
        chunk(b"teXt", bytes([i % 251])) for i in range(PNG_MAX_CHUNKS - 2)
    ) + chunk(b"IEND", b"")
    (d / "at_cap.png").write_bytes(at_cap)
    # one chunk OVER the cap: IEND exists but sits beyond the fold
    over = base + b"".join(
        chunk(b"teXt", bytes([i % 251])) for i in range(PNG_MAX_CHUNKS - 1)
    ) + chunk(b"IEND", b"")
    (d / "over_cap.png").write_bytes(over)
    shutil.copy(f"{PNG_FIXTURE_DIR}/gradient_gray.png", d / "gradient_gray.png")

    files = load_binary_files(spark, str(d), glob="*.png")
    got = sorted(
        tuple(r)
        for r in png_chunk_walk(files, max_chunks=PNG_MAX_CHUNKS).collect()
    )
    kept = {r[0] for r in got}
    assert kept == {"at_cap.png", "gradient_gray.png"}
    assert sum(1 for r in got if r[0] == "at_cap.png") == PNG_MAX_CHUNKS

    res = duckdb.connect().execute(_sql_png_chunks(fixture_dir=str(d)))
    want = sorted(tuple(r) for r in res.fetchall())
    assert got == want


def test_png_oracle_survives_quoted_fixture_path(tmp_path):
    """r09 ADVICE: the fixture path is interpolated into the oracle as
    a single-quoted SQL literal — a checkout under a directory whose
    name contains a quote must still parse and return rows (the
    sql_str_literal doubling), not truncate the literal."""
    import shutil

    import duckdb

    from pyspark_pipelining_spark.queries_ann_media import (
        PNG_FIXTURE_DIR,
        _sql_png_chunks,
    )
    from pyspark_pipelining_spark.sources.registry import sql_str_literal

    assert sql_str_literal("it's a 'path'") == "it''s a ''path''"
    d = tmp_path / "o'brien's checkout"
    d.mkdir()
    shutil.copy(f"{PNG_FIXTURE_DIR}/gradient_gray.png", d / "gradient_gray.png")
    rows = duckdb.connect().execute(_sql_png_chunks(fixture_dir=str(d))).fetchall()
    assert [r[3] for r in rows] == ["IHDR", "IDAT", "IEND"]


def test_png_fixture_generator_is_deterministic(tmp_path, monkeypatch):
    """Re-running tools/gen_png_fixtures.py must reproduce the committed
    bytes exactly — the stored-deflate construction means no zlib
    version can change the output (the cross-engine byte contract)."""
    import tools.gen_png_fixtures as gen

    monkeypatch.setattr(gen, "OUT_DIR", str(tmp_path))
    gen.main()
    for name in ("gradient_gray.png", "bands_rgb.png", "palette_dots.png"):
        with open(f"{gen.HERE}/fixtures/images/{name}", "rb") as committed:
            with open(tmp_path / name, "rb") as fresh:
                assert committed.read() == fresh.read(), name


def test_theilsen_trend_matches_python_model(spark):
    """The staged Theil–Sen query must equal an independent pandas +
    statistics.median model of median-of-pairwise-slopes computed from
    the raw parquet (not just match DuckDB determinism: this pins the
    SEMANTICS — pair enumeration, slope arithmetic, explicit median)."""
    import statistics

    import pandas as pd

    from pyspark_pipelining_spark.queries_analytics import q_theilsen_trend

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    c = pd.read_parquet(f"{sf}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    d = pd.to_datetime(j["o_orderdate"])
    j["m"] = d.dt.year * 12 + d.dt.month
    j["cents"] = (
        j["o_totalprice"].astype("float64").round(2).mul(100).round().astype("int64")
    )
    monthly = j.groupby(["c_mktsegment", "m"])["cents"].sum().reset_index()
    want = {}
    for seg, g in monthly.groupby("c_mktsegment"):
        rows = sorted(zip(g["m"], g["cents"]))
        slopes = [
            (float(y2 - y1)) / float(m2 - m1)
            for i, (m1, y1) in enumerate(rows)
            for (m2, y2) in rows[i + 1 :]
        ]
        want[seg] = (
            len(slopes),
            round(statistics.median(slopes) / 100.0, 6),
        )
    got = {
        r["c_mktsegment"]: (r["n_pairs"], r["theilsen_dollars_per_month"])
        for r in q_theilsen_trend(spark, sf).collect()
    }
    assert got == want


def test_wav_pcm_windows_filters_oversized_files_not_overflows(spark):
    """The size envelope is a FILTER, not a crash — and it must test
    the cheap ``length`` metadata column UPSTREAM of the hex
    projection: an oversized file would abort inside ``hex()`` itself
    (2×-payload array beyond the JVM ceiling) before any data_bytes
    predicate could run, and past the hex hazard the substring
    positions would CAST_OVERFLOW under ANSI.  Exercised by lowering
    the cap under the committed 4140-byte fixtures (a real >1 GiB file
    is the same predicate on the same column), and the placement is
    plan-asserted: the length gate reaches the binaryFile SCAN's
    filters, so oversized payloads are excluded at the source."""
    from pyspark_pipelining_spark.operators.multimodal import (
        WAV_HEX_SAFE_FILE_BYTES,
        WAV_INT32_SAFE_DATA_BYTES,
        wav_features,
    )
    from pyspark_pipelining_spark.queries_ann_media import WAV_FIXTURE_DIR
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    assert WAV_INT32_SAFE_DATA_BYTES == (2**31 - 1 - 89) // 2
    assert WAV_HEX_SAFE_FILE_BYTES == (2**31 - 16) // 2
    files = load_binary_files(spark, WAV_FIXTURE_DIR, glob="*.wav")
    assert wav_features(files, max_data_bytes=1000).count() == 0
    assert wav_features(files, max_data_bytes=4096).count() == 24
    plan = (
        wav_features(files)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(l for l in plan.split("\n") if "FileScan binaryFile" in l)
    assert f"<= {WAV_HEX_SAFE_FILE_BYTES}" in scan, scan


def test_png_pixel_stats_matches_stdlib_model(spark):
    """The one-expression JVM decode chain (chunk walk → IDAT concat →
    stored-deflate inflation → filter-0 strip → channel folds, with
    palette indices resolved through PLTE) must reproduce stdlib
    zlib.decompress + a plain-Python pixel walk exactly, on all three
    committed fixtures (gray, RGB with multi-IDAT, palette with a
    zero-length IDAT — emitting TRUE RGB channels)."""
    import glob
    import struct
    import zlib

    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.queries_ann_media import PNG_FIXTURE_DIR
    from pyspark_pipelining_spark.sources.registry import load_binary_files

    files = load_binary_files(spark, PNG_FIXTURE_DIR, glob="*.png")
    got = [
        tuple(r)
        for r in png_pixel_stats(files).orderBy("file_name", "channel").collect()
    ]
    want = []
    for p in sorted(glob.glob(f"{PNG_FIXTURE_DIR}/*.png")):
        b = open(p, "rb").read()
        off, idat, plte = 8, b"", b""
        w = h = ctype = None
        while True:
            ln = struct.unpack(">I", b[off : off + 4])[0]
            ct4 = b[off + 4 : off + 8]
            if ct4 == b"IHDR":
                w, h, _bd, ctype = struct.unpack(">IIBB", b[off + 8 : off + 18])
            if ct4 == b"IDAT":
                idat += b[off + 8 : off + 8 + ln]
            if ct4 == b"PLTE":
                plte = b[off + 8 : off + 8 + ln]
            off += 12 + ln
            if ct4 == b"IEND":
                break
        raw = zlib.decompress(idat)
        bpp = 3 if ctype == 2 else 1
        nch = 1 if ctype == 0 else 3
        stride = 1 + w * bpp
        rows = [raw[r * stride : (r + 1) * stride] for r in range(h)]
        assert all(r[0] == 0 for r in rows)
        name = p.rsplit("/", 1)[-1]
        for c in range(nch):
            if ctype == 3:
                vals = [
                    plte[3 * row[1 + x] + c] for row in rows for x in range(w)
                ]
            else:
                vals = [row[1 + x * bpp + c] for row in rows for x in range(w)]
            want.append(
                (
                    name, c, w, h, w * h,
                    sum(vals), min(vals), max(vals),
                    round(sum(vals) / (w * h), 6),
                )
            )
    assert got == want


def test_png_pixel_stats_stray_contract_matches_oracle(spark, tmp_path):
    """Filtered-never-errored, cross-engine, for the DECODE gates the
    chunk walk cannot see: a really-compressed PNG (dynamic-Huffman
    deflate — a structurally perfect chunk table), a corrupted NLEN
    complement, a non-zero scanline filter byte, an image over the
    pixel cap, a stream with more stored blocks than the fold cap, and
    an interlaced 1×1 (whose Adam7 raw layout coincides with the linear
    one) all vanish identically from the Spark plan and the DuckDB
    recursive-CTE oracle; the committed fixtures alongside still
    decode with full row parity."""
    import shutil
    import struct
    import zlib

    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.queries_ann_media import PNG_FIXTURE_DIR
    from pyspark_pipelining_spark.queries_ann_media import _sql_png_pixel_stats
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, deflate_stored, ihdr

    d = tmp_path / "lake"
    d.mkdir()
    w, h = 4, 3
    raw = b"".join(b"\x00" + bytes((x * 7 + y) % 256 for x in range(w)) for y in range(h))
    # really compressed: valid PNG, BTYPE != 0 -> outside the codec-free scope
    (d / "compressed.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", zlib.compress(raw, 9)) + chunk(b"IEND", b"")
    )
    # corrupted NLEN complement in an otherwise stored stream
    z = bytearray(deflate_stored(raw))
    z[5] ^= 0xFF  # NLEN low byte
    (d / "badnlen.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", bytes(z)) + chunk(b"IEND", b"")
    )
    # non-zero scanline filter byte (Sub): decodable by real codecs, not here
    fraw = b"\x01" + raw[1 : 1 + w] + raw[1 + w :]
    (d / "subfilter.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", deflate_stored(fraw)) + chunk(b"IEND", b"")
    )
    # over the pixel cap (exercised by lowering the cap to w*h - 1)
    (d / "valid_small.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", deflate_stored(raw)) + chunk(b"IEND", b"")
    )
    # more stored blocks than the fold cap (1-byte blocks)
    many = b"\x78\x01"
    for k, byte in enumerate(raw):
        fin = 1 if k == len(raw) - 1 else 0
        many += bytes([fin]) + struct.pack("<HH", 1, 1 ^ 0xFFFF) + bytes([byte])
    many += struct.pack(">I", zlib.adler32(raw) & 0xFFFFFFFF)
    (d / "manyblocks.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", many) + chunk(b"IEND", b"")
    )
    # interlaced (Adam7) 1×1: the single pass's raw layout COINCIDES
    # with the linear one (one filter byte + one sample), so every
    # byte-level gate downstream passes — only the IHDR interlace flag
    # separates it, and both decoders must filter on it (r10 ADVICE
    # item 1: the oracle used to omit il from its WHERE clause)
    (d / "interlaced_1x1.png").write_bytes(
        SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", deflate_stored(b"\x00\x2a"))
        + chunk(b"IEND", b"")
    )
    shutil.copy(f"{PNG_FIXTURE_DIR}/gradient_gray.png", d / "gradient_gray.png")
    shutil.copy(f"{PNG_FIXTURE_DIR}/bands_rgb.png", d / "bands_rgb.png")

    files = load_binary_files(spark, str(d), glob="*.png")
    got = sorted(
        tuple(r)
        for r in png_pixel_stats(files, max_blocks=8).collect()
    )
    assert {r[0] for r in got} == {
        "gradient_gray.png", "bands_rgb.png", "valid_small.png",
    }
    res = duckdb.connect().execute(
        _sql_png_pixel_stats(fixture_dir=str(d), max_blocks=8)
    )
    want = sorted(tuple(r) for r in res.fetchall())
    assert got == want

    # pixel cap at exactly w*h = 12: valid_small stays, the larger
    # fixtures (128 px / 64 px) drop — identically on both engines
    capped = sorted(
        tuple(r) for r in png_pixel_stats(files, max_px=12, max_blocks=8).collect()
    )
    assert {r[0] for r in capped} == {"valid_small.png"}
    res2 = duckdb.connect().execute(
        _sql_png_pixel_stats(fixture_dir=str(d), max_px=12, max_blocks=8)
    )
    assert capped == sorted(tuple(r) for r in res2.fetchall())


def test_png_filter_pixel_stats_stray_contract_matches_oracle(spark, tmp_path):
    """Filtered-never-errored, cross-engine, for the Sub/Up decode
    rung (staged ``png_filter_pixel_stats``): an Average-filtered row,
    a Paeth-filtered row, a really-compressed stream, a corrupted
    NLEN, and an interlaced 1×1 all vanish identically from the Spark
    window plan and the DuckDB window oracle, while Sub/Up/mixed
    images alongside decode with full row parity — and the registered
    filter-0 decoder still DROPS the Sub/Up images (its scope is
    unchanged by the new operator)."""
    import shutil
    import struct
    import zlib

    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import (
        png_filtered_pixel_stats,
        png_pixel_stats,
    )
    from pyspark_pipelining_spark.queries_ann_media import (
        PNG_FILTER_FIXTURE_DIR,
        _sql_png_filter_pixel_stats,
    )
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, deflate_stored, filter_rows, ihdr

    d = tmp_path / "lake"
    d.mkdir()
    w, h = 4, 3
    pixels = [[(x * 11 + y * 3) % 256 for x in range(w)] for y in range(h)]
    # Paeth-filtered row: like the committed avg_stray but type 4
    (d / "paeth_stray.png").write_bytes(
        SIG
        + ihdr(w, h, 0)
        + chunk(b"IDAT", deflate_stored(filter_rows(pixels, 1, [0, 4, 0])))
        + chunk(b"IEND", b"")
    )
    # really compressed: dynamic-Huffman deflate, outside the scope
    (d / "compressed.png").write_bytes(
        SIG
        + ihdr(w, h, 0)
        + chunk(b"IDAT", zlib.compress(filter_rows(pixels, 1, [0, 1, 2]), 9))
        + chunk(b"IEND", b"")
    )
    # corrupted NLEN complement in an otherwise stored Sub/Up stream
    z = bytearray(deflate_stored(filter_rows(pixels, 1, [1, 2, 1])))
    z[5] ^= 0xFF
    (d / "badnlen.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", bytes(z)) + chunk(b"IEND", b"")
    )
    # interlaced 1×1 (r10 ADVICE class): only the IHDR flag gates it
    (d / "interlaced_1x1.png").write_bytes(
        SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", deflate_stored(b"\x00\x2a"))
        + chunk(b"IEND", b"")
    )
    # a decodable mixed-filter image planted next to the strays
    (d / "mixed_ok.png").write_bytes(
        SIG
        + ihdr(w, h, 0)
        + chunk(b"IDAT", deflate_stored(filter_rows(pixels, 1, [2, 1, 2])))
        + chunk(b"IEND", b"")
    )
    for name in ("sub_gray.png", "up_rgb.png", "mixed_palette.png"):
        shutil.copy(f"{PNG_FILTER_FIXTURE_DIR}/{name}", d / name)

    files = load_binary_files(spark, str(d), glob="*.png")
    got = sorted(tuple(r) for r in png_filtered_pixel_stats(files).collect())
    assert {r[0] for r in got} == {
        "mixed_ok.png", "sub_gray.png", "up_rgb.png", "mixed_palette.png",
    }
    flat = [v for row in pixels for v in row]
    assert [r[5] for r in got if r[0] == "mixed_ok.png"] == [sum(flat)]
    want = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(_sql_png_filter_pixel_stats(fixture_dir=str(d)))
        .fetchall()
    )
    assert got == want
    # scope separation: the registered filter-0 decoder must not start
    # emitting rows for filtered scanlines because the new rung exists
    f0 = {r["file_name"] for r in png_pixel_stats(files).collect()}
    assert "sub_gray.png" not in f0 and "up_rgb.png" not in f0
    assert "mixed_ok.png" not in f0


def test_png_pixel_stats_row_cap_filters_tall_images_both_engines(spark, tmp_path):
    """The scanline budget (PNG_MAX_ROWS): per-row hex slicing is
    O(rows · raw), so a pathological tall-and-thin image inside the
    pixel cap would re-quadratize the decode on one task — such shapes
    FILTER (never error), identically on Spark and the oracle, while
    the same image passes under the default cap."""
    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.queries_ann_media import _sql_png_pixel_stats
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, deflate_stored, ihdr

    d = tmp_path / "lake"
    d.mkdir()
    w, h = 2, 8
    raw = b"".join(
        b"\x00" + bytes((x + y) % 256 for x in range(w)) for y in range(h)
    )
    (d / "tall.png").write_bytes(
        SIG + ihdr(w, h, 0) + chunk(b"IDAT", deflate_stored(raw)) + chunk(b"IEND", b"")
    )
    files = load_binary_files(spark, str(d), glob="*.png")
    assert len(png_pixel_stats(files).collect()) == 1
    assert png_pixel_stats(files, max_rows=4).collect() == []
    con = duckdb.connect()
    assert len(con.execute(_sql_png_pixel_stats(fixture_dir=str(d))).fetchall()) == 1
    assert con.execute(
        _sql_png_pixel_stats(fixture_dir=str(d), max_rows=4)
    ).fetchall() == []


def test_png_pixel_stats_huge_ihdr_dimensions_filter_not_error(spark, tmp_path):
    """A malicious IHDR declaring w = h = 0xFFFFFFFF must FILTER, not
    raise: the naive ``w*h <= cap`` gate would overflow int64 (ANSI
    error on Spark, BIGINT overflow on DuckDB) before the comparison —
    the per-dimension caps must short-circuit first, identically on
    both engines."""
    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.queries_ann_media import _sql_png_pixel_stats
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, deflate_stored

    import struct

    huge_ihdr = chunk(
        b"IHDR", struct.pack(">IIBBBBB", 0xFFFFFFFF, 0xFFFFFFFF, 8, 0, 0, 0, 0)
    )
    body = SIG + huge_ihdr + chunk(b"IDAT", deflate_stored(b"\x00\x01")) + chunk(
        b"IEND", b""
    )
    d = tmp_path / "lake"
    d.mkdir()
    (d / "huge.png").write_bytes(body)
    files = load_binary_files(spark, str(d), glob="*.png")
    assert png_pixel_stats(files).collect() == []
    assert (
        duckdb.connect()
        .execute(_sql_png_pixel_stats(fixture_dir=str(d)))
        .fetchall()
        == []
    )


def test_png_pixel_stats_oversized_stream_filters_both_engines(spark, tmp_path):
    """A small-dims PNG carrying a zlib stream far larger than any
    in-scope raw size must FILTER at the stream ceiling (past ~512 MB
    the walk's int32 hex positions would error under ANSI; the ceiling
    also refuses the wasted walk) — identically on both engines."""
    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.queries_ann_media import _sql_png_pixel_stats
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, deflate_stored, ihdr

    w, h = 2, 2
    # a structurally valid stored stream whose raw payload (256 KB) is
    # far beyond what 2x2 pixels could need — over the stream ceiling
    big = deflate_stored(b"\x00" * (256 * 1024))
    body = SIG + ihdr(w, h, 0) + chunk(b"IDAT", big) + chunk(b"IEND", b"")
    d = tmp_path / "lake"
    d.mkdir()
    (d / "bigstream.png").write_bytes(body)
    files = load_binary_files(spark, str(d), glob="*.png")
    assert png_pixel_stats(files).collect() == []
    assert (
        duckdb.connect()
        .execute(_sql_png_pixel_stats(fixture_dir=str(d)))
        .fetchall()
        == []
    )


def test_png_pixel_stats_palette_strays_filter_both_engines(spark, tmp_path):
    """Palette-specific stray contract, cross-engine: a color-type-3
    PNG with NO PLTE, one with a PLTE whose length is not a multiple
    of 3, and one whose pixel indices point past the palette end all
    FILTER identically on Spark and the oracle, while a valid palette
    sibling resolves to three RGB channels on both."""
    import duckdb

    from pyspark_pipelining_spark.operators.multimodal import png_pixel_stats
    from pyspark_pipelining_spark.queries_ann_media import _sql_png_pixel_stats
    from pyspark_pipelining_spark.sources.registry import load_binary_files
    from tools.gen_png_fixtures import SIG, chunk, deflate_stored, ihdr

    d = tmp_path / "lake"
    d.mkdir()
    w, h = 3, 2
    raw = b"".join(b"\x00" + bytes([0, 1, 2]) for _ in range(h))
    idat = chunk(b"IDAT", deflate_stored(raw))
    pal4 = bytes(range(12))  # 4 entries
    (d / "no_plte.png").write_bytes(SIG + ihdr(w, h, 3) + idat + chunk(b"IEND", b""))
    (d / "bad_plte.png").write_bytes(
        SIG + ihdr(w, h, 3) + chunk(b"PLTE", pal4 + b"\x00") + idat + chunk(b"IEND", b"")
    )
    oob = b"".join(b"\x00" + bytes([0, 1, 9]) for _ in range(h))  # index 9 > 3
    (d / "oob_idx.png").write_bytes(
        SIG + ihdr(w, h, 3) + chunk(b"PLTE", pal4)
        + chunk(b"IDAT", deflate_stored(oob)) + chunk(b"IEND", b"")
    )
    (d / "ok_pal.png").write_bytes(
        SIG + ihdr(w, h, 3) + chunk(b"PLTE", pal4) + idat + chunk(b"IEND", b"")
    )

    files = load_binary_files(spark, str(d), glob="*.png")
    got = sorted(tuple(r) for r in png_pixel_stats(files).collect())
    assert {r[0] for r in got} == {"ok_pal.png"}
    assert len(got) == 3  # resolved RGB channels
    # channel c values: palette rows are (0,1,2),(3,4,5),(6,7,8); the
    # image uses indices 0,1,2 per row -> values {c, 3+c, 6+c} twice
    for c in range(3):
        assert got[c][5] == 2 * (c + 3 + c + 6 + c)  # sum
        assert got[c][6] == c and got[c][7] == 6 + c  # min, max
    want = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(_sql_png_pixel_stats(fixture_dir=str(d)))
        .fetchall()
    )
    assert got == want


# media operator -> (committed fixture lake, file glob, call)
MEDIA_OPERATORS = {
    "wav_features_mono": ("audio", "*.wav", multimodal.wav_features),
    "wav_features_stereo": ("audio_stereo", "*.wav", lambda f: multimodal.wav_features(f, channels=2)),
    "png_chunk_walk": ("images", "*.png", multimodal.png_chunk_walk),
    "png_pixel_stats": ("images", "*.png", multimodal.png_pixel_stats),
    "png_filtered_pixel_stats": ("images_filters", "*.png", multimodal.png_filtered_pixel_stats),
}


@pytest.mark.parametrize("degenerate", ["no_rows", "zero_byte_file"])
@pytest.mark.parametrize("op", list(MEDIA_OPERATORS))
def test_media_operators_on_degenerate_inputs(spark, tmp_path, op, degenerate):
    """Every media operator returns an empty result with the schema of
    its fixture-fed result, and raises nothing, on (a) the committed
    fixture frame with no rows left — filtered by ``length < 0``, a
    predicate Spark cannot fold away, so every stage of the plan runs
    over zero rows — and (b) a lake of one zero-byte file, a stray
    every header gate must filter."""
    from pyspark_pipelining_spark.sources.registry import fixtures_dir, load_binary_files

    lake, glob, run = MEDIA_OPERATORS[op]
    files = load_binary_files(spark, fixtures_dir(lake), glob=glob)
    want = run(files).schema
    if degenerate == "no_rows":
        files = files.filter(F.col("length") < 0)
    else:
        (tmp_path / f"empty{glob[1:]}").write_bytes(b"")
        files = load_binary_files(spark, str(tmp_path), glob=glob)
    out = run(files)
    assert out.collect() == []
    assert out.schema == want


def test_with_ivf_cell_equals_inline_assign(spark):
    """The r15 two-projection rewrite (``with_ivf_cell`` — scores
    array materialized once, argmax reads the column) must assign the
    IDENTICAL cell as the single-expression ``ivf_assign`` on
    arbitrary vectors, including exact-tie vectors (the all-zero
    vector scores 0.0 against every centroid — both paths must pick
    cell 0, the first-max rule)."""
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.operators.similarity import (
        ivf_assign,
        with_ivf_cell,
    )

    dim, cells = 8, 4
    rows = [
        (0, [0.0] * dim),                      # all-tie → cell 0
        (1, [1.0] * dim),
        (2, [(-1.0) ** i * (i + 1) / dim for i in range(dim)]),
        (3, [0.5] * (dim // 2) + [-0.5] * (dim // 2)),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id", ivf_assign(F.col("embedding"), cells, dim).alias("cell")
        ).collect()
    }
    b = {
        r["vec_id"]: r["cell"]
        for r in with_ivf_cell(df, cells, dim)
        .select("vec_id", "cell")
        .collect()
    }
    assert a == b
    assert a[0] == 0, a
