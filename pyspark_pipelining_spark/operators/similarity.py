"""Similarity search over embedding columns: the ANN ladder.

Every rung has the filter-and-refine shape of the similarity-search
literature (REPOSE, ICDE'21; Continuously Adaptive Similarity Search,
SIGMOD'20), and each stage of that shape is written once here:

1. **encode**: a cheap key per vector: a hyperplane bucket
   (:func:`hyperplane_signature`), a coarse IVF cell
   (:func:`with_ivf_cell`; learned cells in :func:`ivf_topk_learned_q`),
   PQ codes (:func:`_code_arrays`), sign-bit words (:func:`bq_encode`)
   or int8 codes (:func:`sq8_encode`).  Brute force
   (:func:`cosine_topk`) skips it.
2. **shortlist**: a query's candidates are the vectors that share its
   bucket or one of its probed cells (:func:`_ivf_probes`), or its best
   ``shortlist`` by a compressed score (Hamming, the SQ8 integer dot, the
   PQ asymmetric distance :func:`_adc` over :func:`_adc_tables`).
3. **refine**: exact scores on the survivors: the rounded cosine
   :func:`_cosine` over in-join candidates (:func:`_cosine_topk`) or
   over an id shortlist (:func:`_rerank_cosine`), or the exact lattice
   L2² :func:`_l2sq` (IVF-PQ re-rank).
4. **top-k**: :func:`_topk`, one per-query ``row_number`` window that
   Spark plans as a WindowGroupLimit.

The corpus is ``(vec_id, embedding)``, the broadcast query set
``(query_id, query_vec)``, and a vector is never its own neighbor.
Float dots are double-precision left folds (``zip_with`` +
``aggregate``): a fixed summation order, unlike a shuffle-order
dependent explode/sum, so results are bit-deterministic and
oracle-comparable (cosines rounded to 6 decimals to absorb engine-side
float→double cast noise).  The integer rungs snap coordinates to a
lattice (:func:`cluster.snap`) and stay in exact int64.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark import cache
from pyspark_pipelining_spark.operators.cluster import GRID, lloyd_int, snap
from pyspark_pipelining_spark.sources.registry import spread

_NOT_SELF = "vec_id != query_id"


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine(a, b):
    """Cosine of two array columns, rounded to 6 decimals."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def duck_cosine(a: str = "e.embedding", b: str = "q.query_vec") -> str:
    """:func:`_cosine` as DuckDB SQL over two array expressions, by
    default a corpus row ``e`` and a query row ``q``."""
    a, b = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    dot, na, nb = (f"list_dot_product({x}, {y})" for x, y in ((a, b), (a, a), (b, b)))
    return f"round({dot} / (sqrt({na}) * sqrt({nb})), 6)"


def _l2sq(a, b):
    """Exact int64 squared L2 distance of two lattice vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _topk(df: DataFrame, k: int, order: list, rank: str = "rank") -> DataFrame:
    """The ``k`` first rows of each query by ``order``, numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def duck_rank(order: str = "cosine DESC, vec_id ASC") -> str:
    """:func:`_topk`'s ``rank`` column as DuckDB SQL: each query's rows
    numbered by ``order`` (by default the cosine rungs' order, ties on
    ``vec_id``).  The ``rank <= k`` cut stays at the call site."""
    return f"CAST(row_number() OVER (PARTITION BY query_id ORDER BY {order}) AS INTEGER) AS rank"


def _cosine_topk(pairs: DataFrame, k: int, dedup: bool = False) -> DataFrame:
    """Refine candidate ``pairs`` (vec_id, embedding, query_id,
    query_vec) by exact cosine: query_id, vec_id, cosine, rank (ties on
    vec_id).  ``dedup`` scores a pair found several times once."""
    scored = pairs.select(
        "query_id", "vec_id", _cosine(F.col("embedding"), F.col("query_vec")).alias("cosine")
    )
    if dedup:
        scored = scored.dropDuplicates(["query_id", "vec_id", "cosine"])
    return _topk(scored, k, [F.desc("cosine"), F.asc("vec_id")]).orderBy("query_id", "rank")


def _rerank_cosine(
    short: DataFrame, emb_df: DataFrame, query_df: DataFrame, k: int
) -> DataFrame:
    """Exact-cosine top-k over a ``(query_id, vec_id)`` shortlist: one
    broadcast hash join of the |q|·shortlist ids against the corpus, so
    full floats are touched for shortlisted rows only."""
    pairs = (
        F.broadcast(short)
        .join(spread(emb_df).select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(query_df.select("query_id", "query_vec")), "query_id")
    )
    return _cosine_topk(pairs, k)


def _rank_distance(scored: DataFrame, dist: str, topk: int) -> DataFrame:
    """The ``topk`` smallest integer ``dist`` per query (ties on
    vec_id), ranked in a bigint ``rn``."""
    return (
        _topk(scored, topk, [F.asc(dist), F.asc("vec_id")], rank="rn")
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("query_id", "rn")
    )


def cosine_topk(emb_df: DataFrame, query_df: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector: the ladder's
    baseline, every corpus vector is a candidate (one broadcast-join map
    stage + one top-k shuffle on query_id).

    Output: query_id, vec_id, cosine (rounded 6dp), rank.
    """
    pairs = spread(emb_df).crossJoin(F.broadcast(query_df)).filter(_NOT_SELF)
    return _cosine_topk(pairs, k)


def hyperplane_signature(vec_col, num_planes: int = 8, dim: int = 64, offset: int = 0):
    """Deterministic random-hyperplane LSH signature (bit b = sign of
    dot with plane b).  Plane coefficients come from a portable integer
    formula (no RNG), so any engine reproduces them.  ``offset`` shifts
    the plane index so multiple independent tables can draw disjoint
    plane sets (table t passes ``offset=t*num_planes``).  Zero planes
    yields the constant bucket 0 (one bucket == exact search)."""
    sig = F.lit(0)
    for p in range(offset, offset + num_planes):
        # dot with an integer plane whose coefficients are the portable
        # pseudo-random formula ((i*31 + p*17 + 7) % 7) - 3 ∈ {-3..3}
        terms = F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: x.cast("double") * (((i * 31 + p * 17 + 7) % 7) - 3).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # round before the sign test so engine-level summation noise in
        # the last ulp cannot flip a bucket bit near zero
        bit = F.when(F.round(terms, 6) > 0, F.lit(1 << (p - offset))).otherwise(F.lit(0))
        sig = sig + bit
    return sig


def lsh_cosine_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane
    bucket in at least one of ``num_tables`` independent tables; exact
    cosine re-rank over the deduplicated candidate set.

    Output: query_id, vec_id, cosine, rank (rank within candidates).
    At scale, the equi-join on ``(table, bucket)`` replaces the full
    cross product — recall is tuned DOWN by ``num_planes`` (more planes
    → smaller buckets) and UP by ``num_tables`` (a true neighbor only
    needs to collide once); candidate volume grows linearly in tables,
    never all-pairs.  ``num_tables=1`` is the classic single-signature
    form; the corpus side explodes to ``num_tables`` rows per vector
    (map-side, no shuffle of vectors beyond the bucket join).
    """
    if num_tables <= 1:
        # classic single-signature form: direct bucket columns, no
        # generate/table-key machinery, no dedup (one table → a pair
        # collides at most once) — measured 1.34× faster than routing
        # through the 1-element posexplode
        corpus = spread(emb_df).withColumn(
            "bucket", hyperplane_signature(F.col("embedding"), num_planes, dim)
        )
        queries = query_df.withColumn(
            "bucket", hyperplane_signature(F.col("query_vec"), num_planes, dim)
        )
        return _cosine_topk(corpus.join(F.broadcast(queries), on="bucket").filter(_NOT_SELF), k)

    def buckets(vec):
        return F.posexplode(
            F.array(
                *[
                    hyperplane_signature(F.col(vec), num_planes, dim, offset=t * num_planes)
                    for t in range(num_tables)
                ]
            )
        ).alias("tbl", "bucket")

    corpus = spread(emb_df).select("vec_id", "embedding", buckets("embedding"))
    queries = query_df.select("query_id", "query_vec", buckets("query_vec"))
    joined = corpus.join(F.broadcast(queries), on=["tbl", "bucket"]).filter(_NOT_SELF)
    # a pair colliding in several tables must score once — but the
    # cosine is a pure function of the two vectors, so every colliding
    # copy carries the identical score: compute it map-side per
    # collision and dedup the NARROW (query, vec, cosine) rows instead of
    # shipping both 64-float vectors through a first()-aggregate (r17,
    # guide §2.3: the dedup exchange drops from ~1 KB to 24 B per
    # candidate row, and the keys-only dedup stays a HashAggregate).
    # A/B at sf0.1: 2.55 → 2.23 s median, results identical.
    return _cosine_topk(joined, k, dedup=True)


def _int_plane_dot(vec_col, j: int, dim: int):
    """Dot of ``vec_col`` with deterministic integer pseudo-centroid j
    (coefficients ``((i*13 + j*29 + 5) % 11) - 5`` ∈ {-5..5}) — portable
    integer formula, rounded 6dp so the cell choice is engine-stable."""
    terms = F.aggregate(
        F.zip_with(
            vec_col,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda x, i: x.cast("double") * (((i * 13 + j * 29 + 5) % 11) - 5).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(terms, 6)


def ivf_cell_scores(vec_col, k: int, dim: int) -> list:
    return [_int_plane_dot(vec_col, j, dim) for j in range(k)]


def _argmax_first(arr_col):
    """Index (0-based) of the FIRST maximum in an array column — the
    ties→smallest-index convention every oracle CASE-argmax mirrors.
    ``array_position`` scans left-to-right, so exactly one pass over an
    already-materialized array; INT like the old when-chain emitted."""
    return (F.array_position(arr_col, F.array_max(arr_col)) - 1).cast("int")


def ivf_assign(vec_col, k: int, dim: int):
    """Coarse-quantizer cell id: argmax dot with the k fixed centroids
    (ties → smallest j).  This is the IVF *assignment* step; with a
    trained quantizer the centroids would come from k-means — here they
    are a deterministic formula so the DuckDB oracle reproduces the
    index exactly.  Swap `_int_plane_dot` for a broadcast-joined learned
    centroid table to upgrade; the surrounding plan is unchanged.

    Expression shape matters here: higher-order-function folds are
    CodegenFallback (interpreted per element, no codegen subexpression
    elimination), so the former ``greatest(s0..s7)`` + 8×``when(sj =
    best)`` chain evaluated each 64-element plane dot up to 9 times —
    72 interpreted folds per corpus row (measured: the executed-plan
    string carried 72 ``aggregate(`` nodes, and the r14 driver bench
    flagged the query as a variance magnet).  Building ONE array of the
    k scores and taking ``array_position(arr, array_max(arr))`` caps it
    at 2 array evaluations (16 folds) in-line — and call sites that
    project the array into a named column first (:func:`with_ivf_cell`)
    get it down to k folds exactly, because CollapseProject refuses to
    inline a non-cheap producer referenced more than once."""
    return _argmax_first(F.array(*ivf_cell_scores(vec_col, k, dim)))


def with_ivf_cell(df: DataFrame, cells: int, dim: int) -> DataFrame:
    """Attach the IVF ``cell`` of ``embedding`` with the k plane-dot
    folds evaluated EXACTLY once per row: the scores array is projected
    into its own column first, and the argmax reads that column in a
    second projection — CollapseProject keeps the two apart (the
    producer is non-cheap and consumed twice), so the optimized plan
    carries k ``aggregate(`` folds per row, not 9k (see
    :func:`ivf_assign`)."""
    scores = F.array(*ivf_cell_scores(F.col("embedding"), cells, dim))
    return (
        df.withColumn("_ivf_scores", scores)
        .withColumn("cell", _argmax_first(F.col("_ivf_scores")))
        .drop("_ivf_scores")
    )


def _ivf_probes(query_df: DataFrame, cells: int, nprobe: int, dim: int) -> DataFrame:
    """(query_id, query_vec, cell): each query's ``nprobe`` best coarse
    cells by plane-dot score, ties on the smaller cell."""
    scores = ivf_cell_scores(F.col("query_vec"), cells, dim)
    probes = query_df.select(
        "query_id",
        "query_vec",
        F.explode(
            F.array(
                *[F.struct(F.lit(j).alias("cell"), s.alias("score")) for j, s in enumerate(scores)]
            )
        ).alias("p"),
    ).select("query_id", "query_vec", "p.cell", "p.score")
    return _topk(probes, nprobe, [F.desc("score"), F.asc("cell")], rank="probe_rank").select(
        "query_id", "query_vec", "cell"
    )


def ivf_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are bucketed into ``cells`` coarse
    cells once (argmax dot with fixed centroids); each query probes its
    ``nprobe`` best cells and exact-cosine re-ranks only those vectors.

    Output: query_id, vec_id, cosine, rank.  At 100 TB the corpus side
    is written partitioned by ``cell`` so a probe is a partition-pruned
    scan; recall is tuned by ``nprobe`` (cells scanned per query) and
    ``cells`` (inverse of cell size).
    """
    corpus = with_ivf_cell(spread(emb_df), cells, dim)
    probes = _ivf_probes(query_df, cells, nprobe, dim)
    return _cosine_topk(corpus.join(F.broadcast(probes), on="cell").filter(_NOT_SELF), k)


def embedding_near_dup_pairs(
    emb_df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking: vectors
    sharing a hyperplane bucket whose exact cosine ≥ threshold.
    Output: id_1, id_2, cosine."""
    # persisted: the bucket self-join reads it twice, and the signature is
    # num_planes folds over the full vector — too costly to compute per branch
    sig = cache.keep(
        spread(emb_df).withColumn(
            "bucket", hyperplane_signature(F.col("embedding"), num_planes, dim)
        )
    )
    a = sig.alias("a")
    b = sig.select("vec_id", "embedding", "bucket").alias("b")
    cand = a.join(
        b,
        on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.vec_id") < F.col("b.vec_id")],
    )
    return (
        cand.select(
            F.col("a.vec_id").alias("id_1"),
            F.col("b.vec_id").alias("id_2"),
            _cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_1", "id_2")
    )


def centroid_cosines(emb_df: DataFrame, grid: int = 1_000_000) -> DataFrame:
    """Per-vector cosine to its own label's centroid — the standard
    cluster-coherence / outlier score over an embedding column (low
    cosine = the vector sits far from its group's center).

    Output: vec_id, label, centroid_cos.

    Exactness: group-aggregated float sums are shuffle-order-dependent,
    so naive double centroids are not oracle-comparable.  Instead each
    coordinate is snapped to a ``1/grid`` integer lattice; centroid
    numerators are then exact integer sums (order-free), and because
    cosine is scale-invariant the ``1/n`` of the mean cancels:
    ``cos(v, mean) = Σv·s / (|v|·|s|)`` where ``s`` is the per-dim sum.
    Both engines do identical integer arithmetic and two identical
    sqrt/division ops at the end — bit-stable without any fold-order
    contract.

    Overflow headroom: the per-dim sum ``s`` stays int64 for
    ``n·grid < 2⁶³`` (n = vectors per label) — ample.  The *squared*
    terms are not: ``Σ_dims s²`` reaches ``dims·(n·grid)²``, which blows
    int64 at only n≈1e4·(1e6/grid) even before adversarial alignment,
    so ``dot`` and ``n2`` accumulate as exact ``decimal(38,0)`` on the
    Spark side and ``HUGEINT`` in the DuckDB oracle (both 128-bit-exact,
    both correctly rounded on the final cast to double) — safe to
    ``dims·(n·grid)² < 10³⁸``, i.e. n·grid < ~1.1e18.  ``n1`` is a
    per-vector sum (``≤ dims·grid²``), fine as int64 for grid ≤ 1e8.

    Scale shape: one posexplode + one (label, dim) aggregation — the
    centroid table is ``labels × dims`` rows, a true broadcast dim —
    then a map-side probe and one vec_id aggregation.  Payload
    inflation is dims × 16 bytes per row, bandwidth-bounded, no skew
    (dims are uniform).
    """
    q = spread(emb_df).select("vec_id", "label", snap("embedding", grid).alias("qv"))
    dims = q.select("vec_id", "label", F.posexplode("qv").alias("pos", "v"))
    cent = dims.groupBy("label", "pos").agg(F.sum("v").alias("s"))
    dec_s = F.col("s").cast("decimal(38,0)")
    parts = (
        dims.join(F.broadcast(cent), on=["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("s")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("n1"),
            F.sum(dec_s * F.col("s")).alias("n2"),
        )
    )
    return parts.select(
        "vec_id",
        "label",
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("n1").cast("double")) * F.sqrt(F.col("n2").cast("double"))),
            6,
        ).alias("centroid_cos"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN scale path
# ---------------------------------------------------------------------------


def _subvectors(df: DataFrame, key: str, vec: str, m: int, dim: int) -> DataFrame:
    """(key, sub, sv): each vector snapped to the ``1/GRID`` lattice and
    split into ``m`` contiguous subvectors of ``dim/m`` coordinates."""
    d2 = dim // m
    return (
        df.select(key, snap(vec, GRID).alias("_s"))
        .select(
            key,
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m - 1}),"
                    f" j -> struct(CAST(j AS BIGINT) AS sub,"
                    f" slice(_s, j * {d2} + 1, {d2}) AS sv))"
                )
            ).alias("e"),
        )
        .select(key, "e.sub", "e.sv")
    )


def pq_train_codes(
    emb_df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode every vector — the
    FAISS-style product quantizer that compresses a ``dim``-float
    vector to ``m`` byte codes so a 100 TB embedding corpus fits the
    memory budget ANN search needs.

    The vector splits into ``m`` contiguous subvectors of ``dim/m``
    coordinates; each subspace runs the deterministic integer Lloyd
    step of ``cluster.kmeans_int`` (:func:`cluster.lloyd_int`: 1/``GRID``
    lattice snap, truncated integer centroid means, exact int64
    squared-L2, ties on cell id, seeding ``cell = id mod k``) — all
    ``m`` subspaces advance together in ONE plan keyed by ``sub``.

    Scale shape: assignment is a map-side higher-order argmin against
    one broadcast (sub, cell, centroid) row — vectors NEVER shuffle;
    the only exchanges are the (sub, cell, pos) centroid aggregations
    (≤ m·k·dim/m rows) per Lloyd step.

    Returns ``(codes, codebook)``: codes = (vec_id, sub, cell, d);
    codebook = (sub, cell, centroid) of the final iteration.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if iters < 1:
        raise ValueError(
            f"iters must be >= 1 (got {iters}): the codebook and the "
            "distance column only exist after the first Lloyd step"
        )
    subs = _subvectors(emb_df, "vec_id", "embedding", m, dim).localCheckpoint(eager=True)
    assigned, codebook = lloyd_int(subs, k, iters, "vec_id", "sv", keys=["sub"])
    return assigned.select("vec_id", "sub", "cell", "d"), codebook


def _code_arrays(
    emb_df: DataFrame, m: int, k: int, iters: int, dim: int
) -> tuple[DataFrame, DataFrame]:
    """PQ-encode the corpus: ``((vec_id, code), codebook)``, ``code`` the
    vector's ``m`` cell ids in sub order."""
    codes, codebook = pq_train_codes(emb_df, m=m, k=k, iters=iters, dim=dim)
    code_arr = codes.groupBy("vec_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(sub, cell))), p -> p.cell)"
        ).alias("code")
    )
    return code_arr, codebook


def _adc_tables(
    query_df: DataFrame, codebook: DataFrame, m: int, k: int, dim: int
) -> DataFrame:
    """(query_id, tabs): per query an m×k table of exact integer L2²
    from each query subvector to every centroid of its subspace."""
    dt = (
        _subvectors(query_df, "query_id", "query_vec", m, dim)
        .join(F.broadcast(codebook), "sub")
        .select("query_id", "sub", "cell", _l2sq(F.col("sv"), F.col("centroid")).alias("d"))
    )
    # Densify each (query, sub) table to exactly k slots indexed BY CELL
    # ID, not by position: if a Lloyd cell empties during training the
    # surviving cell ids are non-contiguous, and a positional
    # collect_list lookup would read the wrong cell's distance (or NULL
    # out of bounds).  Codes can only ever reference cells present in
    # the final codebook, so the NULL filler slots are never read.
    return (
        dt.groupBy("query_id", "sub")
        .agg(F.expr("map_from_entries(collect_list(struct(cell, d)))").alias("dmap"))
        .select(
            "query_id",
            "sub",
            F.expr(
                f"transform(sequence(0, {k - 1}),"
                f" c -> element_at(dmap, CAST(c AS BIGINT)))"
            ).alias("tab"),
        )
        .groupBy("query_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(sub, tab))), p -> p.tab)"
            ).alias("tabs")
        )
    )


def _adc(tabs: str, m: int) -> str:
    """SQL of the asymmetric distance of ``code`` under the tables
    ``tabs``: the integer sum of ``m`` table lookups."""
    return (
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT),"
        f" (acc, j) -> acc + element_at(element_at({tabs}, CAST(j + 1 AS INT)),"
        f"  CAST(element_at(code, CAST(j + 1 AS INT)) + 1 AS INT)))"
    )


def pq_adc_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes an m×k table of exact integer distances to every
    codebook centroid, and a candidate's score is the integer sum of m
    table lookups — the corpus is scanned as codes only, never as
    vectors.

    Scale shape: the distance tables ride in ONE broadcast row
    (|queries|·m·k ints); scoring is a map-side higher-order fold over
    each vector's code array; the shuffles are the narrow
    (id, sub, cell)→code-array groupBy and the per-query top-k window
    over (query, score)-pruned rows.

    Output: ``query_id, vec_id, adc_d, rn`` (rn ≤ topk per query,
    ties on vec_id, self-matches excluded).
    """
    code_arr, codebook = _code_arrays(emb_df, m, k, iters, dim)
    tables = _adc_tables(query_df, codebook, m, k, dim).agg(
        F.collect_list(F.struct("query_id", "tabs")).alias("qtabs")
    )
    scored = (
        code_arr.crossJoin(F.broadcast(tables))
        .select(
            "vec_id",
            F.explode(
                F.expr(
                    "transform(qtabs, q -> struct(q.query_id AS query_id,"
                    f" {_adc('q.tabs', m)} AS adc_d))"
                )
            ).alias("e"),
        )
        .select("e.query_id", "vec_id", "e.adc_d")
        .filter(_NOT_SELF)
    )
    return _rank_distance(scored, "adc_d", topk)


# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss) — ANN's dimensionality path
# ---------------------------------------------------------------------------


def rp_signs(dim: int, k: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix shared between engine and
    oracle (the minhash_coeffs precedent): sign(i, j) = parity of
    md5(f"{i}:{j}").  A dense Rademacher matrix satisfies the JL lemma
    with the same guarantees as Gaussian entries."""
    import hashlib

    return [
        [
            1 - 2 * (hashlib.md5(f"{i}:{j}".encode()).digest()[-1] & 1)
            for i in range(dim)
        ]
        for j in range(k)
    ]


def rp_project(
    emb_df: DataFrame, k: int = 8, dim: int = 64, grid: int = 10**6
) -> DataFrame:
    """Johnson–Lindenstrauss sketch: project each embedding to ``k``
    Rademacher-signed sums — the dimensionality-reduction pre-pass that
    shrinks a 100 TB ANN problem's vector payload ``dim/k``-fold while
    approximately preserving pairwise distances (JL lemma).

    Exact arithmetic: coordinates snap to the 1/``grid`` lattice and
    each projection is an int64 signed sum (|r_j| ≤ dim·grid·max|x|,
    far below overflow), so the sketch is bit-identical on any engine
    or layout.  Pure map-side work — zero shuffle.

    Output: ``vec_id, r0..r{k-1}`` (int64) and ``norm2`` (Σ r_j²).
    """
    cols = [
        F.expr(
            f"aggregate(zip_with(_s, array({', '.join(map(str, signs))}), (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias(f"r{j}")
        for j, signs in enumerate(rp_signs(dim, k))
    ]
    out = emb_df.select("vec_id", snap("embedding", grid).alias("_s")).select("vec_id", *cols)
    norm2 = reduce(add, [F.col(f"r{j}") * F.col(f"r{j}") for j in range(k)])
    return out.withColumn("norm2", norm2)


def ivfpq_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    cells: int = 8,
    nprobe: int = 2,
    topk: int = 5,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ — the production ANN index shape, composed from the two
    existing stages: the coarse quantizer prunes each query to
    ``nprobe`` cells (``ivf_assign``), and only those cells' vectors
    are scored, in the compressed domain, by PQ asymmetric distance
    (``pq_train_codes`` codebooks + per-query lookup tables).

    Scale shape: the corpus flows as (vec_id, cell, m codes) — vectors
    themselves never join or shuffle after encoding; probes and
    distance tables are broadcast (|q|·nprobe and |q|·m·k rows); the
    candidate join is an equi-join on the cell key, so at 100 TB a
    cell-partitioned layout turns each probe into a pruned scan
    exactly as in :func:`ivf_topk`.

    Output: ``query_id, vec_id, adc_d, rn`` (rn ≤ topk per query;
    self-matches excluded, mirroring ivf_topk).

    ``rerank > 0`` appends the FAISS ``IndexRefineFlat`` stage: the ADC
    top-``rerank`` shortlist per query is re-scored with the EXACT
    integer L2² on the snapped vectors, and the final top-k ranks on
    that.  This is what makes IVF-PQ usable when neighbor margins are
    small (measured here: ADC-only recall@5 ≈ 0.07 on near-random unit
    vectors; rerank recovers the full exact-within-probed-cells
    ceiling).  Scale shape: the shortlist is |q|·rerank rows —
    broadcast against the corpus, so the vector fetch is one broadcast
    hash join touching only shortlisted ids; output becomes
    ``query_id, vec_id, exact_d, rn``.
    """
    code_arr, codebook = _code_arrays(emb_df, m, k, iters, dim)
    cand_side = code_arr.join(
        with_ivf_cell(spread(emb_df), cells, dim).select("vec_id", "cell"), "vec_id"
    )
    probes = _ivf_probes(query_df, cells, nprobe, dim).select("query_id", "cell")
    scored = (
        cand_side.join(F.broadcast(probes), "cell")
        .filter(_NOT_SELF)
        .join(F.broadcast(_adc_tables(query_df, codebook, m, k, dim)), "query_id")
        .select("query_id", "vec_id", F.expr(_adc("tabs", m)).alias("adc_d"))
    )
    if not rerank:
        return _rank_distance(scored, "adc_d", topk)
    short = _topk(scored, rerank, [F.asc("adc_d"), F.asc("vec_id")], rank="rr").select(
        "query_id", "vec_id"
    )
    queries = query_df.select("query_id", snap("query_vec", GRID).alias("qv"))
    exact = (
        F.broadcast(short)
        .join(emb_df.select("vec_id", snap("embedding", GRID).alias("sv")), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", _l2sq(F.col("sv"), F.col("qv")).alias("exact_d"))
    )
    return _rank_distance(exact, "exact_d", topk)


# --- binary quantization (sign bits) + Hamming search --------------------


def bq_encode(emb_df: DataFrame, dim: int = 64) -> DataFrame:
    """Binary quantization: each vector collapses to ``ceil(dim/64)``
    int64 words of sign bits (bit i set ⟺ x_i > 0) — a 256× compression
    of a float64 vector that preserves angular neighborhoods well
    enough for shortlist generation (the BQ mode modern vector stores
    ship).  Encoding is one map-side fold per word; nothing shuffles.

    An engine-portable oracle exists: DuckDB builds the identical words
    with the same fold (`xor`/`bit_count` on BIGINT are available
    there for the search half).

    Output: ``vec_id, bq`` (array of int64 words, little-word first).
    """
    n_words = (dim + 63) // 64
    words = [
        F.expr(
            f"aggregate(sequence({w * 64}, {min(dim, (w + 1) * 64) - 1}),"
            " CAST(0 AS BIGINT),"
            " (acc, i) -> acc + CASE WHEN element_at(embedding, i + 1) > 0"
            f" THEN shiftleft(CAST(1 AS BIGINT), i - {w * 64})"
            " ELSE CAST(0 AS BIGINT) END)"
        )
        for w in range(n_words)
    ]
    return emb_df.select("vec_id", F.array(*words).alias("bq"))


def _query_corpus(query_df: DataFrame) -> DataFrame:
    """The query set renamed to the corpus columns, to encode it alike."""
    return query_df.select(
        F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")
    )


def bq_hamming_topk(
    emb_df: DataFrame, query_df: DataFrame, k: int = 5, dim: int = 64
) -> DataFrame:
    """Exact Hamming top-k over the binary-quantized corpus: encode
    both sides, broadcast the (tiny) query codes, score with
    ``Σ bit_count(xor(word_i, qword_i))`` — pure JVM integer ops inside
    whole-stage codegen, with the corpus flowing as words, never
    vectors.

    The standard deployment is shortlist-then-rerank (like
    :func:`ivfpq_topk` with ``rerank``): Hamming prunes, exact cosine
    re-scores the survivors.

    Output: ``query_id, vec_id, hamming, rank`` (deterministic
    ``(distance, vec_id)`` tiebreak, self-matches excluded).
    """
    corpus = bq_encode(spread(emb_df), dim=dim)
    queries = bq_encode(_query_corpus(query_df), dim=dim).select(
        F.col("vec_id").alias("query_id"), F.col("bq").alias("qbq")
    )
    n_words = (dim + 63) // 64
    ham = sum(
        F.bit_count(
            F.element_at("bq", w + 1).bitwiseXOR(F.element_at("qbq", w + 1))
        )
        for w in range(n_words)
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(_NOT_SELF)
        .select("query_id", "vec_id", ham.cast("int").alias("hamming"))
    )
    return _topk(scored, k, [F.asc("hamming"), F.asc("vec_id")]).orderBy("query_id", "rank")


def bq_rerank_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
) -> DataFrame:
    """The production BQ deployment: Hamming over sign bits prunes the
    corpus to a ``shortlist`` per query, exact cosine re-scores only
    those survivors — compressed-domain scan cost with full-precision
    final ranking (same two-stage shape as ``ivfpq_topk(rerank=...)``).

    Scale shape: stage 1 streams the corpus as int64 words; stage 2 is
    :func:`_rerank_cosine`.

    Output: ``query_id, vec_id, cosine, rank``.
    """
    short = bq_hamming_topk(emb_df, query_df, k=shortlist, dim=dim).select(
        "query_id", "vec_id"
    )
    return _rerank_cosine(short, emb_df, query_df, k)


def sq8_stats(emb_df: DataFrame, dim: int = 64) -> DataFrame:
    """Corpus-calibrated per-dimension quantization bounds for
    :func:`sq8_encode`: ONE row carrying ``mins`` / ``maxs`` arrays of
    length ``dim`` (doubles).

    Scale shape: posexplode fans rows ×dim, but the groupBy has
    exactly ``dim`` keys, so partial aggregation combines map-side and
    the shuffle carries ≤ dim × partitions rows — per-dim stats cost a
    scan, never a wide shuffle.  The single row is meant to be
    ``F.broadcast``-crossJoined onto both encode sides (the repo's
    1-row lazy scalar convention), which is also what makes the
    calibration CONSISTENT: corpus and queries quantize against the
    same bounds."""
    ex = spread(emb_df).select(
        F.posexplode("embedding").alias("i", "x")
    ).select("i", F.col("x").cast("double").alias("x"))
    dims = ex.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return dims.agg(
        F.array_sort(F.collect_list(F.struct("i", "mn"))).alias("_a"),
        F.array_sort(F.collect_list(F.struct("i", "mx"))).alias("_b"),
    ).select(
        F.expr("transform(_a, s -> s.mn)").alias("mins"),
        F.expr("transform(_b, s -> s.mx)").alias("maxs"),
    )


def sq8_encode(emb_df: DataFrame, stats_df: DataFrame, dim: int = 64) -> DataFrame:
    """Scalar quantization to int8-range codes — the classic SQ8 rung
    between binary quantization (:func:`bq_encode`, 1 bit/dim) and
    product quantization (:func:`pq_train_codes`, sub-byte/dim with a
    trained codebook): each dimension maps affinely onto [0, 255]
    against the corpus-calibrated per-dim bounds, a 4× shrink of a
    float32 vector with no codebook to train.

    Cross-engine exactness: the code is
    ``least(255, floor((x − mn) · 256 / (mx − mn)))`` (0 when the
    dimension is constant) — floor, not round, because IEEE-double
    ``floor`` is bit-deterministic given identical inputs while
    half-way ``round`` ties break differently across engines
    (HALF_UP vs half-away vs banker's — the repo's decimal-discipline
    class of hazard, avoided rather than argued about).  Both engines
    compute the same three double ops in the same order, so codes are
    bit-identical by construction.

    Output: ``vec_id, sq`` (array<int> of length ``dim``, values in
    [0, 255]); encoding is one map-side ``transform`` against the
    broadcast 1-row stats — nothing shuffles."""
    # try_element_at: an empty corpus calibrates to empty bounds, and
    # the query side must still encode (to all zeros) instead of raising
    code = (
        f"transform(sequence(0, {dim - 1}), i -> CASE"
        f" WHEN try_element_at(maxs, i + 1) > try_element_at(mins, i + 1) THEN"
        f" least(255, CAST(floor((CAST(element_at(embedding, i + 1) AS DOUBLE)"
        f" - element_at(mins, i + 1)) * 256.0D"
        f" / (element_at(maxs, i + 1) - element_at(mins, i + 1))) AS INT))"
        f" ELSE 0 END)"
    )
    return (
        emb_df.crossJoin(F.broadcast(stats_df))
        .select("vec_id", F.expr(code).alias("sq"))
    )


def sq8_rerank_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
) -> DataFrame:
    """The production SQ8 deployment (the FAISS ``SQ8`` /
    vector-store "scalar quantization" mode): a SYMMETRIC
    integer-dot shortlist over int8-range codes, then exact cosine
    re-scoring of the survivors — the same two-stage shape as
    :func:`bq_rerank_topk` one precision rung up (8 bits/dim instead
    of 1), with the corpus flowing as ``dim`` bytes per vector instead
    of ``4·dim`` float bytes.

    Shortlist score: ``Σ (c_i − 128)(q_i − 128)`` — centering the
    [0, 255] codes makes the integer dot track the cosine's signed
    geometry (an uncentered code dot is dominated by the all-positive
    offset); every term is |·| ≤ 128², the sum ≤ dim·2¹⁴ — exact int64
    on any engine, so the shortlist is deterministic and
    oracle-reproducible bit-for-bit (ties break on id).  Stage 2 is
    :func:`_rerank_cosine`.

    Scale shape: both sides quantize against the SAME broadcast 1-row
    corpus calibration (:func:`sq8_stats` — one dim-keyed map-side
    aggregate); the scan side of the shortlist carries codes, never
    vectors; everything is whole-stage-codegen integer MACs.

    Output: ``query_id, vec_id, cosine, rank``."""
    stats = sq8_stats(emb_df, dim=dim)
    corpus = sq8_encode(spread(emb_df), stats, dim=dim)
    queries = sq8_encode(_query_corpus(query_df), stats, dim=dim).select(
        F.col("vec_id").alias("query_id"), F.col("sq").alias("qsq")
    )
    idot = F.expr(
        "aggregate(zip_with(sq, qsq, (a, b) ->"
        " (CAST(a AS BIGINT) - 128) * (CAST(b AS BIGINT) - 128)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(_NOT_SELF)
        .select("query_id", "vec_id", idot.alias("idot"))
    )
    short = _topk(scored, shortlist, [F.desc("idot"), F.asc("vec_id")], rank="_rn").select(
        "query_id", "vec_id"
    )
    return _rerank_cosine(short, emb_df, query_df, k)


def ivf_topk_learned_q(
    emb_df: DataFrame,
    query_df: DataFrame,
    centroids_q: DataFrame,
    grid: int,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search against FROZEN integer-quantized centroids (the
    iterative float k-means trainer in ``tools/gen_ann_fixtures.py`` is
    not single-SQL-expressible, so it runs once, offline): given a
    committed ``(cell, centroid_q array<bigint>)`` table (the trained
    coarse quantizer snapped to a ``grid`` lattice), assignment and
    probe selection are EXACT int64 L2² arithmetic — both engines
    replay every distance bit-identically, so the full query (assign →
    probe → exact-cosine re-rank) carries a DuckDB oracle, unlike the
    trainer.

    Shape (all 1-row-lazy / broadcast, no unbounded window):

    * corpus assignment is one map-side pass: the ≤ ``cells`` centroid
      rows collapse to a single array via ``collect_list`` (1-row lazy
      crossJoin, repo scalar convention — never ``.collect()``), and
      per corpus row ONE l2 fold per centroid builds a (d, cell)
      struct array whose sorted head is the argmin (ties break to the
      smallest cell id) — the probes shape, so no distance is ever
      evaluated twice (r15 ADVICE);
    * probes: the same array sorted by (distance, cell), sliced to
      ``nprobe``, exploded — no per-query window;
    * candidate scoring: broadcast probe join on ``cell`` + exact
      cosine + per-query top-k window (the registered ``sim_ivf_topk``
      shape).  At 100 TB the corpus is written partitioned by ``cell``
      and a probe is a pruned scan; the quantized trainer output is
      exactly what a production IVF deployment ships to executors.

    Output: ``query_id, vec_id, cosine, rank``.
    """
    cents_arr = centroids_q.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid_q"))).alias("cents")
    )

    def by_distance(df, vec):
        # one l2 fold per centroid in a dedicated projection (the
        # former fold-argmin re-evaluated each centroid's distance twice
        # per step — the CodegenFallback recomputation class the r15
        # ivf_assign rewrite removed): ``_d`` holds the (d, cell)
        # structs sorted nearest first
        return (
            df.crossJoin(F.broadcast(cents_arr))
            .withColumn("_q", snap(vec, grid))
            .withColumn(
                "_d",
                F.array_sort(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            _l2sq(F.col("_q"), c["centroid_q"]).alias("d"),
                            c["cell"].cast("int").alias("cell"),
                        ),
                    )
                ),
            )
        )

    corpus = by_distance(spread(emb_df), "embedding").select(
        "vec_id", "embedding", F.col("_d")[0]["cell"].alias("cell")
    )
    probes = by_distance(query_df, "query_vec").select(
        "query_id", "query_vec", F.explode(F.slice("_d", 1, nprobe)).alias("p")
    ).select("query_id", "query_vec", "p.cell")
    return _cosine_topk(corpus.join(F.broadcast(probes), on="cell").filter(_NOT_SELF), k)
