"""ANN ladder recall ORDERING pins (r13 verdict stretch item): the
README decision table's strongest claims, asserted as orderings (never
absolute recall values — those are corpus- and sf-specific, per the
table's non-transferability caveats) at sf0.001 so a silent quantizer
regression fails the suite instead of only drifting a hand-run
measurement (`tools/ann_recall.py`).

What is safe to pin at smoke scale (verified against measured values
0.0 / 0.4 / 0.27 / 0.07 / 0.07 / 0.13 / 0.2 / 0.8 / 1.0):

* SQ8 + exact-int rerank recovers the exact top-k EXACTLY (recall 1.0)
  — the headline claim; a min/max calibration or centered-dot bug
  breaks this first;
* exact-rerank variants never score below their quantized bases
  (BQ+rerank >= BQ, IVFPQ+rerank >= IVFPQ) — reranking the same
  shortlist by exact distance cannot lose to the quantized ranking on
  this corpus, and a rerank wiring bug (wrong id join, wrong score
  sign) drops it to ~0;
* multi-table LSH never scores below single-table (candidate union is
  a superset);
* SQ8 tops the whole ladder (it is exact; everything else quantizes).

NOT pinned: the PQ-vs-BQ-vs-IVF interior ordering — at sf0.001 it
inverts vs sf0.1 (BQ 0.2 > PQ 0.07 here; the opposite at sf0.1), which
is exactly the non-transferability the README documents.

Full-suite only (not the quick lane): ten sf0.001 query evaluations.

``test_rungs_on_degenerate_inputs`` runs every ranking rung on an empty
corpus, an empty query set and a corpus equal to the query set.
"""

from __future__ import annotations

import pytest

from pyspark_pipelining_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE
from tools.ann_recall import BASELINE, VARIANTS, recalls


def test_ladder_recall_orderings(spark):
    rec = recalls(spark, SF_SMOKE)
    assert BASELINE in rec, "baseline produced no queries"
    for name in VARIANTS:
        assert name in rec, f"{name}: no shared query_ids with baseline"
    # the headline: SQ8's int8 shortlist + exact-int rerank is EXACT
    assert rec["sim_sq8_rerank"] == 1.0, rec
    # and therefore tops every quantized rung
    assert all(rec["sim_sq8_rerank"] >= v for v in rec.values()), rec
    # exact rerank never loses to its quantized base
    assert rec["sim_bq_rerank"] >= rec["sim_bq_topk"], rec
    assert rec["sim_ivfpq_rerank"] >= rec["sim_ivfpq_topk"], rec
    # more LSH tables = candidate superset = no recall loss
    assert rec["sim_lsh_multitable"] >= rec["sim_lsh_topk"], rec
    # the rerank rungs must actually buy something over the weakest
    # quantized signal (a rerank wired to the wrong score collapses)
    assert rec["sim_bq_rerank"] > rec["sim_pq_topk"], rec


DIM = 8
RUNGS = {
    "cosine_topk": lambda e, q: sim.cosine_topk(e, q, k=3),
    "lsh_1_table": lambda e, q: sim.lsh_cosine_topk(e, q, k=3, num_planes=2, dim=DIM),
    "lsh_4_tables": lambda e, q: sim.lsh_cosine_topk(
        e, q, k=3, num_planes=2, dim=DIM, num_tables=4
    ),
    "ivf_topk": lambda e, q: sim.ivf_topk(e, q, k=3, cells=2, nprobe=2, dim=DIM),
    "pq_adc_topk": lambda e, q: sim.pq_adc_topk(e, q, m=2, k=2, dim=DIM, topk=3),
    "ivfpq_topk": lambda e, q: sim.ivfpq_topk(
        e, q, m=2, k=2, dim=DIM, cells=2, nprobe=2, topk=3
    ),
    "ivfpq_rerank": lambda e, q: sim.ivfpq_topk(
        e, q, m=2, k=2, dim=DIM, cells=2, nprobe=2, topk=3, rerank=4
    ),
    "bq_hamming_topk": lambda e, q: sim.bq_hamming_topk(e, q, k=3, dim=DIM),
    "bq_rerank_topk": lambda e, q: sim.bq_rerank_topk(e, q, k=3, shortlist=4, dim=DIM),
    "sq8_rerank_topk": lambda e, q: sim.sq8_rerank_topk(e, q, k=3, shortlist=4, dim=DIM),
}


@pytest.mark.parametrize("rung", sorted(RUNGS))
def test_rungs_on_degenerate_inputs(spark, rung):
    """No rung raises on an empty corpus or an empty query set, both give
    an empty result with the schema of a non-empty run, and no rung ever
    returns a query as its own neighbor, even when the corpus IS the
    query set."""
    vecs = [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(DIM)]) for i in range(4)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(vecs, "query_id long, query_vec array<float>")
    run = RUNGS[rung]
    full = run(emb, queries)
    rows = full.collect()
    assert rows, rung
    assert all(r["query_id"] != r["vec_id"] for r in rows), rows
    # a filter no row passes, so the optimizer cannot fold the plan away
    for e, q in ((emb.filter("vec_id < 0"), queries), (emb, queries.filter("query_id < 0"))):
        empty = run(e, q)
        assert empty.schema == full.schema
        assert empty.collect() == []
