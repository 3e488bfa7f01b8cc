"""Generate the committed trained-coarse-quantizer fixture under
``fixtures/ann/centroids.parquet`` — the frozen centroid table the
queued ``sim_ivf_learned_topk`` query (and its DuckDB oracle) assign
against.

The k-means trainer (``operators/similarity.learned_centroids``) is
iterative and NOT single-SQL-expressible, so it runs ONCE here —
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


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_pipelining_spark.operators.similarity import learned_centroids
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
