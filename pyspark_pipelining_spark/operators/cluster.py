"""Integer-lattice k-means — deterministic Lloyd clustering over
embedding columns (beyond-reference scope: the semantic-clustering /
IVF-quantizer-training primitive of an embedding-aware corpus engine).

Determinism design (the pagerank_int playbook applied to clustering):
classic k-means is float arithmetic whose per-cell means depend on
shuffle order — not oracle-comparable and not even run-to-run stable.
Here every coordinate snaps to a ``1/grid`` integer lattice
(``round(double(x)·grid)``, exact in both engines — the float operand
is widened BEFORE the multiply), centroids are truncated
integer means (``sum div count`` — Spark ``div`` and DuckDB ``//``
both truncate toward zero, verified including negatives), and
distances are exact int64 squared-L2 (headroom: diff ≤ 2·grid,
squared ≤ 4·grid², ×64 dims = 2.6e14 at grid 1e6 — five orders below
int64).  Assignment ties break on cell id.  The whole 2-iteration run
is a pure function of the data — bit-identical in any engine, any
partitioning, any layout — so a DuckDB oracle can replay it unrolled.

Scale shape per Lloyd step: one posexplode→groupBy(cell, pos) partial
aggregation for centroids (map-side combined; k×dim result — always
tiny), centroids broadcast back, assignment is a map-side argmin over
k distance expressions.  The corpus shuffles only in the centroid
aggregation, and only (cell, pos, coord) triples move — never whole
vectors.  A fixed iteration count keeps the plan finite (a
convergence-driven variant would run through ``operators/iterate.py``).
:func:`lloyd_int` is the one Lloyd step, shared with
``similarity.pq_train_codes`` (one codebook per ``sub`` key there).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID = 1_000_000


def snap(vec, grid: int):
    """The ``1/grid`` lattice snap of an array column, as int64: the
    float is widened BEFORE the multiply (a float-precision product
    rounds differently across engines), so DuckDB's
    ``CAST(round(CAST(x AS DOUBLE) * grid) AS BIGINT)`` matches it."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * grid).cast("long"))


def lloyd_int(
    points: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec: str,
    keys: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """``iters`` integer Lloyd steps over lattice vectors, one codebook
    per ``keys`` group.

    ``points`` carries ``id_col``, ``keys`` and the int64 lattice vector
    ``vec``; seeding is ``cell = id mod k``.  Each step aggregates the
    centroids as truncated means (``sum div count`` per (keys, cell,
    pos)) and reassigns by a map-side argmin against ONE broadcast row
    holding every (keys, cell, centroid) — the points never shuffle.
    ``array_min`` over (d, cell) structs keeps the cell-ascending tie
    rule and is insensitive to ``collect_list``'s nondeterministic
    order; with ``keys`` each point only scores its own group's
    centroids.

    Returns ``(assigned, codebook)``: assigned = (id, keys, vec, cell,
    d); codebook = (keys, cell, centroid) of the last step.  Needs
    ``iters >= 1``: the distance exists only after a step.
    """
    cents = "cents"
    if keys:
        same_group = " AND ".join(f"c.{key} = {key}" for key in keys)
        cents = f"filter(cents, c -> {same_group})"
    best = F.expr(
        f"array_min(transform({cents}, c -> struct("
        f"  aggregate(zip_with({vec}, c.centroid, (a, b) -> (a - b) * (a - b)),"
        "            CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d,"
        "  c.cell AS cell)))"
    )
    assigned = points.select(
        id_col, *keys, vec, F.pmod(F.col(id_col), F.lit(k)).cast("long").alias("cell")
    )
    codebook = None
    for _ in range(iters):
        codebook = (
            assigned.select(*keys, "cell", F.posexplode(vec).alias("pos", "x"))
            .groupBy(*keys, "cell", "pos")
            .agg(F.expr("sum(x) div count(*)").alias("c"))
            .groupBy(*keys, "cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))), p -> p.c)"
                ).alias("centroid")
            )
        )
        cent_row = codebook.agg(
            F.collect_list(F.struct(*keys, "cell", "centroid")).alias("cents")
        )
        assigned = (
            points.crossJoin(F.broadcast(cent_row))
            .withColumn("best", best)
            .select(
                id_col,
                *keys,
                vec,
                F.col("best.cell").alias("cell"),
                F.col("best.d").alias("d"),
            )
        )
    return assigned, codebook


def kmeans_int(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = GRID,
    keep_vec: bool = False,
) -> DataFrame:
    """Deterministic k-means assignment after ``iters`` Lloyd steps
    (:func:`lloyd_int`).

    Seeding: ``cell = id mod k`` (engine-portable, data-independent).
    Output: ``<id_col>, cell, d`` — final cell and exact int64 squared
    lattice distance to its centroid.  ``keep_vec=True`` also emits
    ``s``, the snapped lattice vector the assignment already carries —
    free for consumers that need the coordinates downstream
    (``dedup.semantic_dedup``'s cosine stage), where re-snapping and
    joining back on id would cost an extra scan plus a shuffle join.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1 (distance needs a centroid)")
    snapped = emb_df.select(id_col, snap(vec_col, grid).alias("s")).localCheckpoint(
        eager=True
    )
    assigned, _ = lloyd_int(snapped, k, iters, id_col, "s")
    cols = [id_col, "cell", "d"] + (["s"] if keep_vec else [])
    return assigned.select(*cols)
