"""Generate the committed trained-coarse-quantizer fixture under
``fixtures/ann/centroids.parquet`` — the frozen centroid table the
queued ``sim_ivf_learned_topk`` query (and its DuckDB oracle) assign
against.

The k-means trainer (:func:`learned_centroids` below) is iterative
and NOT single-SQL-expressible, so it runs ONCE here —
deterministic seeding (``vec_id % cells``) + Lloyd steps on the
sf0.001 embeddings — and the result is snapped to an integer lattice
(``round(c * CENT_GRID)`` per coordinate) before committing.  The
committed table, not the trainer, is the query's input: assignment
and probe selection downstream are exact int64 L2² arithmetic both
engines replay bit-identically, the ``semantic_dedup`` lattice
convention.

Training at sf0.001 and querying any sf is the production shape: a
coarse quantizer is trained on a sample and FROZEN; the index then
assigns arbitrarily much data against it.

Re-running this script must be a no-op diff (float Lloyd means are
deterministic here: single JVM, fixed partitioning of a 500-row
table, exact float32→double widening):

    python tools/gen_ann_fixtures.py
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

OUT_DIR = os.path.join(HERE, "fixtures", "ann")
OUT_PATH = os.path.join(OUT_DIR, "centroids.parquet")

TRAIN_SF = "/root/testdata/sf0.001"
CELLS = 8
ITERS = 2
#: lattice grid for the committed centroid coordinates AND the query
#: side's embedding quantization (|x| <= 1 and |c| <= 1, so quantized
#: values fit comfortably: diff^2 <= (2*2^20)^2 ~ 4.4e12, x64 dims
#: ~2.8e14 << 2^63) — must match CENT_GRID in queries_ann_media.py
CENT_GRID = 1 << 20


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """(cell, centroid array<double>): the float mean of each cell's
    ``embedding`` vectors."""
    return (
        assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def learned_centroids(emb_df: DataFrame, cells: int, iters: int) -> DataFrame:
    """K-means-style coarse quantizer training (the scale upgrade over
    the fixed-formula centroids of ``operators/similarity.ivf_assign``).

    Deterministic seeding (``vec_id % cells``) + ``iters`` float Lloyd
    steps; each step is one posexplode→groupBy mean (shuffle on (cell,
    pos)) and one broadcast-reassignment (centroids are k×dim — always
    tiny).  Returns (cell, centroid array<double>).  The engine's own
    Lloyd step is the integer one, ``operators/cluster.lloyd_int``;
    this float trainer only feeds the committed fixture, which
    ``similarity.ivf_topk_learned_q`` searches.
    """
    assigned = emb_df.select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(cells)).alias("cell")
    )
    dist = F.aggregate(
        F.zip_with("embedding", "centroid", lambda x, c: (x.cast("double") - c) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(iters):
        assigned = (
            emb_df.crossJoin(F.broadcast(_mean_centroids(assigned)))
            .withColumn("d", dist)
            .groupBy("vec_id", "embedding")
            .agg(F.min(F.struct("d", "cell")).alias("best"))
            .select("vec_id", "embedding", F.col("best.cell").alias("cell"))
        )
    return _mean_centroids(assigned)


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_pipelining_spark.session import get_spark
    from pyspark_pipelining_spark.sources.registry import load_table

    spark = get_spark("gen-ann-fixtures", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, TRAIN_SF, "embeddings")
    cent = learned_centroids(emb, cells=CELLS, iters=ITERS)
    rows = sorted(
        ((r["cell"], list(r["centroid"])) for r in cent.collect()),
        key=lambda t: t[0],
    )
    assert len(rows) == CELLS, [r[0] for r in rows]
    cells = [int(c) for c, _ in rows]
    quantized = [
        [int(round(x * CENT_GRID)) for x in centroid] for _, centroid in rows
    ]
    os.makedirs(OUT_DIR, exist_ok=True)
    table = pa.table(
        {
            "cell": pa.array(cells, type=pa.int64()),
            "centroid_q": pa.array(quantized, type=pa.list_(pa.int64())),
        }
    )
    pq.write_table(table, OUT_PATH)
    print(f"wrote {OUT_PATH}: {len(cells)} centroids, grid {CENT_GRID}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
