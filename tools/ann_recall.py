"""Recall proxies for the ANN ladder decision table (r12 verdict
item 8): for every approximate variant, the overlap of its top-k
vec_id set with the exact brute-force cosine top-k, averaged over the
shared query set, at a chosen sf:

    python tools/ann_recall.py [--sf /root/testdata/sf0.1]

This is a measurement tool, not a gate — the per-variant exactness
contracts (bit-identical oracles) live in the test suite; recall
against exact cosine is the LADDER property (how much ranking quality
each compression rung trades), recorded in README's decision table.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

# approximate-variant query names, each compared against BASELINE's
# exact top-k by (query_id, vec_id) set overlap
VARIANTS = [
    "sim_lsh_topk",
    "sim_lsh_multitable",
    "sim_ivf_topk",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "sim_ivfpq_rerank",
    "sim_bq_topk",
    "sim_bq_rerank",
    "sim_sq8_rerank",
]

BASELINE = "sim_bruteforce_topk"


def recalls(spark, sf: str) -> dict[str, float]:
    """Recall@k of the baseline (1.0) and of every variant that shares
    a query with it: the overlap of its top-k ``vec_id`` set with the
    exact top-k, averaged over the shared queries."""
    from pyspark_pipelining_spark import runner

    queries = runner.resolve([BASELINE, *VARIANTS])

    def topk_sets(name):
        out: dict = {}
        for r in queries[name](spark, sf).collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        runner.release(spark)
        return out

    exact = topk_sets(BASELINE)
    rec = {}
    for name in [BASELINE, *VARIANTS]:
        got = exact if name == BASELINE else topk_sets(name)
        qids = sorted(set(exact) & set(got))
        if qids:
            rec[name] = sum(len(exact[q] & got[q]) / len(exact[q]) for q in qids) / len(qids)
    return rec


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args(argv)

    from pyspark_pipelining_spark import runner

    spark = runner.session("ann-recall")
    rec = recalls(spark, args.sf)
    for name in [BASELINE, *VARIANTS]:
        if name in rec:
            print(f"{name}: recall@k={rec[name]:.3f}")
        else:
            print(f"{name}: no rows shared with the baseline, incomparable")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
