"""The near-duplicate graph family: integer PageRank, triangle counts,
neighbor Jaccard, k-core peeling, label propagation and 2-hop harmonic
centrality over one edge table.

One edge format: :func:`symmetrize` turns an undirected ``doc_1,
doc_2`` pair list into the directed ``src, dst`` edge table every
operator here reads, and :func:`duck_edges` renders the same table for
the DuckDB oracles.  Per-node degree comes from :func:`_degrees`.  No
module outside this one names the edge columns.

Integer PageRank (beyond-reference scope; the web-graph centrality
signal corpus curation pipelines use alongside text-quality scores).
Classic PageRank is float arithmetic whose sums are
shuffle-order-dependent, so not oracle-comparable.  Here rank mass is
an int64 in units of ``1/SCALE`` and every step is integer: per-edge
contribution ``r div deg`` (floor), damping ``(num · s) div den``.
Integer sums are commutative/associative, so the result is a pure
function of the graph: bit-identical in any engine, any layout.  The
floor divisions leak ≤ deg ulps of mass per node per round (documented,
deliberate): determinism is worth more than the 1e-12-scale mass drift,
and ranking order is unaffected at any realistic scale.

Scale shape per PageRank round: one join of edges to the rank vector on
src, one (dst) aggregation with map-side combine.  The (src, dst, deg)
edge table is lazily ``localCheckpoint``-ed once: the iterative plan
references it every round, and without truncation Spark re-executes
the whole upstream edge pipeline (an LSH candidate join here) per
reference (measured 18–28 s → ~2 s at sf0.1).  The rounds run through
:func:`iterate.iterate`'s fixed mode; the node count enters once, as a
1-row crossJoin at the entry state, which also carries the damping's
base term as a column, so no round needs a driver scalar or a
crossJoin of its own.  A symmetrized graph needs no per-round re-join to the node
set: every node has in-edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.iterate import iterate

# PageRank's integer constants; the DuckDB oracle reads them from here
SCALE = 10**12
DAMP_NUM, DAMP_DEN = 85, 100


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Both directions of an undirected ``doc_1, doc_2`` pair list as
    the ``src, dst`` edge table, via ONE map-side explode (r17, guide
    §2.4 / r16 verdict item 8): the former ``select ∪ select-swapped``
    referenced the pair frame from two branches, so when the pair frame
    is an unpersisted expensive pipeline (the LSH candidate join
    everywhere in this module), Catalyst clones that whole subtree into
    both union branches and an eager edge checkpoint executes it twice
    (ReuseExchange dedupes the final dedup exchange when shapes align,
    but the post-exchange aggregate and projections still run per
    branch).  One explode = one reference = the upstream pipeline
    appears exactly once in the materialization job.  Row multiset is
    identical to the union, and to :func:`duck_edges`."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_1").alias("src"), F.col("doc_2").alias("dst")),
                F.struct(F.col("doc_2").alias("src"), F.col("doc_1").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def duck_edges() -> str:
    """:func:`symmetrize` as DuckDB SQL: the ``edges(src, dst)`` CTE
    over a ``pairs(doc_1, doc_2)`` CTE."""
    return """edges AS (
    SELECT doc_1 AS src, doc_2 AS dst FROM pairs
    UNION ALL
    SELECT doc_2 AS src, doc_1 AS dst FROM pairs
)"""


def _degrees(edges: DataFrame) -> DataFrame:
    """``node, degree`` of a symmetrized ``src, dst`` edge table."""
    return edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))


def pagerank_int(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed ``src, dst``
    edge list (symmetrize upstream for an undirected similarity graph;
    then every node has out-degree ≥ 1 and no dangling-mass handling is
    needed).

    The entry state is the node set at ``r = SCALE div n``; every round
    is the same step, ``r div deg`` over the edges, then
    ``base + (DAMP_NUM · s) div DAMP_DEN``.

    Output: ``id, r``, rank in integer ``1/SCALE`` units.
    """
    ed = (
        edges.select(F.col("src").alias("node"), "dst")
        .join(_degrees(edges), "node")
        .localCheckpoint(eager=False)
    )
    nodes = ed.select("node").distinct()
    # n as the 1-row lazy crossJoin scalar; an empty edge list has no
    # nodes, and greatest(n, 1) keeps ANSI division from failing on it
    base = SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    state = nodes.crossJoin(nodes.agg(F.count(F.lit(1)).alias("n"))).select(
        "node",
        F.expr(f"CAST({SCALE} AS BIGINT) div greatest(n, 1)").alias("r"),
        F.expr(f"CAST({base} AS BIGINT) div greatest(n, 1)").alias("base"),
    )

    def step(rank: DataFrame) -> DataFrame:
        sums = (
            ed.join(rank, "node")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r div degree")).alias("s"), F.max("base").alias("base"))
        )
        return sums.select(
            "node", F.expr(f"base + (({DAMP_NUM} * s) div {DAMP_DEN})").alias("r"), "base"
        )

    return iterate(state, step, iters).select(F.col("node").alias("id"), "r")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    symmetrized edge list (both directions present, no self-loops) —
    the local-clustering signal corpus curation uses to separate dense
    near-duplicate cliques from chance LSH collisions.

    Scale shape — degree-ordered orientation: each undirected edge is
    directed from its lower ``(deg, id)`` endpoint to the higher one,
    so every triangle is found exactly once, from its lowest-degree
    corner.  Wedge fan-out per node is then bounded by O(sqrt(m)) on
    any graph (the classic O(m^1.5) triangle-enumeration bound), which
    is what keeps a power-law similarity graph tractable: the id-only
    a<b<c orientation lets one celebrity node with 10^6 neighbors
    enumerate 10^12 wedges; degree ordering caps it.  Three shuffles
    (degree agg, wedge self-join on the pivot, closing-edge join), all
    on node ids, payload is ids only.

    Output: ``id, triangles`` for every node in ≥ 1 triangle.

    The edge list is materialized once (``localCheckpoint``) before the
    three self-references — same reasoning as :func:`pagerank_int`:
    without truncation Spark re-executes the upstream edge pipeline
    (an LSH candidate join here) once per reference, measured 26 s →
    ~3 s at sf0.1.
    """
    ed = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = _degrees(ed)
    # orient each undirected edge lower-(deg,id) -> higher-(deg,id);
    # keep the head's degree so wedges can canonically order (b, c)
    both = ed.join(
        deg.select(F.col("node").alias("src"), F.col("degree").alias("da")), "src"
    ).join(deg.select(F.col("node").alias("dst"), F.col("degree").alias("db")), "dst")
    oriented = both.filter(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("src") < F.col("dst")))
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"), "db")
    # wedges from the pivot a: unordered pair {b, c} counted once via
    # the same (deg, id) order — the closing edge is then oriented b->c
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, on="a").filter(
        (F.col("e1.db") < F.col("e2.db"))
        | ((F.col("e1.db") == F.col("e2.db")) & (F.col("e1.b") < F.col("e2.b")))
    ).select(F.col("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing, on=["b", "c"])
    # one explode instead of a 3-way union of tris projections: the
    # union referenced the wedge⋈closing join from three branches, so
    # the join (and everything the ReusedExchange rule does not dedupe)
    # executed once per corner; the explode emits all three corners
    # map-side from a single join execution (guide §2.4).
    corners = tris.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("id")
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))


def node_jaccard(pairs: DataFrame) -> DataFrame:
    """Neighbor-set Jaccard similarity for each candidate pair in an
    undirected graph given as (doc_1, doc_2) edges with doc_1 < doc_2
    — structural similarity (do these two documents sit in the same
    near-dup neighborhood?), the link-prediction baseline.

    Scale shape: the edge list symmetrizes once; degrees are ONE
    node-keyed count; common neighbors come from the standard
    wedge-join (edges ⋈ edges on the shared endpoint) RESTRICTED to
    the candidate pairs first, so the join is |pairs|-bounded, not
    |wedges|-bounded.  Pairs with no common neighbor survive via the
    left join with ``common = 0``.

    Output: ``doc_1, doc_2, deg_1, deg_2, common, jaccard`` (6dp;
    neighbor sets include the partner node itself, so
    ``union = deg_1 + deg_2 - common`` is never zero for an edge).
    """
    # The candidate-pair input is typically an expensive LSH pipeline;
    # this plan references it from five branches (edge union ×2, the
    # pair spine, both wedge sides).  Truncating lineage once up front
    # guarantees a single execution regardless of whether AQE's
    # ReusedExchange can dedupe the branches (it usually can here —
    # measured ~11% at sf0.1 — but reuse is plan-shape-fragile and the
    # wedge join dominates anyway).
    p = pairs.select("doc_1", "doc_2").localCheckpoint(eager=True)
    edges = symmetrize(p)
    deg = _degrees(edges)
    ea = edges.select(F.col("src").alias("a"), F.col("dst").alias("na"))
    eb = edges.select(F.col("src").alias("b"), F.col("dst").alias("nb"))
    common = (
        p.join(ea, p["doc_1"] == ea["a"])
        .join(eb, (p["doc_2"] == eb["b"]) & (ea["na"] == eb["nb"]))
        .groupBy("doc_1", "doc_2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        p.join(common, ["doc_1", "doc_2"], "left")
        .join(deg.select(F.col("node").alias("doc_1"), F.col("degree").alias("deg_1")), "doc_1")
        .join(deg.select(F.col("node").alias("doc_2"), F.col("degree").alias("deg_2")), "doc_2")
        .select(
            "doc_1",
            "doc_2",
            "deg_1",
            "deg_2",
            F.coalesce("common", F.lit(0)).alias("common"),
            F.round(
                F.coalesce("common", F.lit(0))
                / (F.col("deg_1") + F.col("deg_2") - F.coalesce("common", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
        .orderBy("doc_1", "doc_2")
    )


def _peel(k: int):
    """One synchronous peel round: drop every directed edge with an
    endpoint of degree below ``k`` — one node-keyed degree aggregation
    and two semi-joins against the surviving nodes, all shuffles keyed
    on node id."""

    def step(edges: DataFrame) -> DataFrame:
        keep = _degrees(edges).filter(F.col("degree") >= k).select(F.col("node").alias("src"))
        return edges.join(keep, "src", "leftsemi").join(
            keep.select(F.col("src").alias("dst")), "dst", "leftsemi"
        )

    return step


def kcore_peel(pairs: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    removing nodes whose current degree is below ``k`` (and their
    edges).  A fixed round count keeps the plan finite and the oracle
    expressible (the SQL unrolls the same rounds); once no round
    removes an edge the result is the true k-core.

    The rounds run through :func:`iterate.iterate`'s fixed mode: the
    edge table and every round's survivors are lazily
    ``localCheckpoint``-ed, so the iterative plan never re-executes the
    upstream candidate-pair pipeline and no round costs a job of its
    own.

    Input contract: ``pairs`` lists each undirected pair once, as the
    registered callers' deduplicated LSH pairs do.  A pair listed
    twice (repeated, or in both orientations) counts as parallel
    edges: ``[(1, 2)] * 3`` keeps both nodes at degree 3, exactly as
    the oracle's ``UNION ALL`` edge list does.

    Output: ``node, degree`` for nodes surviving all rounds, with their
    post-peel degree.
    """
    edges = symmetrize(pairs).localCheckpoint(eager=False)
    return _degrees(iterate(edges, _peel(k), rounds)).orderBy("node")


def lpa_communities(pairs: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label propagation communities over a candidate-pair
    graph, made DETERMINISTIC: each round every node adopts the most
    frequent label among its neighbors, ties broken by smallest label
    (classic LPA is order-dependent; the (count desc, label asc)
    argmax makes any engine and any layout agree, and a bounded round
    count keeps the oracle expressible — the same bounded-unroll
    contract as :func:`kcore_peel`).

    Scale shape per round: one edge ⋈ labels shuffle keyed on node id,
    one (node, label) count with map-side partials, one per-node
    argmax window — all keyed on node.  The rounds run through
    :func:`iterate.iterate`'s fixed mode, so the edge table and every
    round's labels are lazily ``localCheckpoint``-ed.

    Output: ``node, community`` (community = converged-or-bounded
    label), one row per node appearing in ``pairs``.
    """
    edges = symmetrize(pairs).localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lbl"))

    def propagate(lbl: DataFrame) -> DataFrame:
        nbr = edges.join(lbl.select(F.col("node").alias("dst"), "lbl"), "dst").select(
            F.col("src").alias("node"), "lbl"
        )
        counts = nbr.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "lbl")
        )

    labels = iterate(labels, propagate, rounds)
    return labels.select("node", F.col("lbl").alias("community")).orderBy("node")


def harmonic_2hop(pairs: DataFrame) -> DataFrame:
    """Radius-2 harmonic centrality over an undirected pair frame
    ``(doc_1, doc_2)``: ``n1 + n2/2`` with n1 = direct neighbors,
    n2 = nodes at distance exactly 2 (wedge equi-join keyed on the
    middle node, then direct edges and self anti-joined away).

    Scale bound (pinned by tests/test_properties.py): the radius cap
    is STRUCTURAL — one wedge join can only reach distance ≤ 2, so
    unlike iterative BFS there is no frontier growth to cap; the only
    expansion is the wedge join, whose row count is exactly
    Σ_mid deg(mid)² (degree-bounded, the triangle-counting shape), and
    it collapses through distinct before the anti-join.

    Output: ``node, n1, n2, harmonic_2``."""
    edges = symmetrize(pairs).localCheckpoint(eager=True)
    two = (
        edges.alias("e1")
        .join(edges.select(F.col("src").alias("dst"), F.col("dst").alias("d2")).alias("e2"), "dst")
        .select("src", "d2")
        .filter(F.col("src") != F.col("d2"))
        .distinct()
        .join(edges.select("src", F.col("dst").alias("d2")), ["src", "d2"], "left_anti")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    n2 = F.coalesce("n2", F.lit(0))
    return (
        _degrees(edges)
        .join(two, "node", "left")
        .select(
            "node",
            F.col("degree").alias("n1"),
            n2.alias("n2"),
            F.round(F.col("degree") + n2 / F.lit(2.0), 6).alias("harmonic_2"),
        )
        .orderBy("node")
    )
