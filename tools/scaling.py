"""Measured scaling curves for the suite's most expensive queries —
the cheapest possible early warning before any real scale-up (r11
verdict item 6): the 100 TB arguments elsewhere in the repo are design
arguments plus single-sf timings, and the testdata ships three
committed scales (sf0.001/0.01/0.1, 100× end to end), so the scaling
EXPONENT is directly measurable:

    python tools/scaling.py [query ...] [--reps 3]

Defaults to the five most expensive bench queries (`corpus_prep`,
`dedup_clusters`, `dedup_impact`, `node_jaccard`, `harmonic_2hop`).
Methodology is tools/bracket.py's (``runner.timed_runs``: one untimed
warm-up per (query, sf), then median of N timed repeats to a noop
sink, persist handles and session cache dropped between repeats,
ambient load recorded before the JVM starts).  For each adjacent sf
decade it prints the fitted exponent e in t ∝ sf^e — e ≈ 1 is
linear, e well over 1 is the superlinear surprise this tool exists to
catch.

Reading the exponents honestly: at the small end, the per-query
scheduling floor (stage dispatch, planning, the ~40-stage iterative
DAGs) dominates wall clock, so the 0.001→0.01 exponent UNDERSTATES
data-work growth (time barely moves while data 10×es); the 0.01→0.1
decade carries most of the signal.  Expected shapes from the design
arguments: ~linear (e ≲ 1 after the floor) for the dedup/corpus
family (band-bucketed joins, pointer jumping with O(log n) bounded
rounds), Σdeg²-bounded for the graph pair (wedge joins — testdata
degree distributions keep Σdeg² near-linear in sf).
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

DEFAULT_QUERIES = [
    "corpus_prep",
    "dedup_clusters",
    "dedup_impact",
    "node_jaccard",
    "harmonic_2hop",
]

# the next cost tier, measured late round 12:
# `python tools/scaling.py --tier2` re-measures it in one command
TIER2_QUERIES = [
    "sim_ivfpq_rerank",
    "graph_triangles",
    "sparse_cosine_pairs",
    "jaccard_prefix_pairs",
    "price_quantile_sketch",
]

# tier 3 (r12 verdict item 3): the span family — the top of the cost
# ladder, carrying a hypothesis-proved quadratic MODEL whose measured
# decade exponents live here.  `exact_substring_spans_w8` is the same
# cross-doc query with the winnowing lever ON at w=8 (min_span 32 >=
# gram_len + w - 1 = 23, so output stays bit-identical) — a
# superlinear surprise on either variant is the cheapest early warning
# that the island join's pair filter has a skew hole.
TIER3_QUERIES = [
    "exact_substring_spans",
    "self_repeat_spans",
    "exact_substring_spans_w8",
    # registered round 14: the cluster-keyed SemDeDup pair join
    "semantic_dedup",
    # staged round 14 (r13 verdict item 2 asks for a tier-3 row): the
    # DSIR λ model (map-side hashing + B-bounded histograms + one
    # doc-keyed shuffle — expected ~flat-to-linear), its TakeOrdered
    # resample, and the decon span/report pair riding the island join
    "dsir_weights",
    "dsir_sample_topk",
    "decontamination_spans",
    "decontamination_report",
    "gopher_repetition",
    "unimax_allocation",
    # queued round 16 (r14 verdict item 3 asks for the same bar): the
    # CCNet histogram cut (lm_score's bounded model pass + a bin-keyed
    # window — expected ~lm_score-shaped), the battery (two bounded
    # gram scans, one doc-keyed join), and the learned-centroid IVF
    # (map-side lattice assignment + broadcast probes — expected flat)
    "ccnet_ppl_buckets",
    "quality_battery",
    "sim_ivf_learned_topk",
    # queued round 17 (the r15 verdict's r18-queue refill): the
    # paragraph-grain LSH (unit count x words/W but shingle sets
    # shrink — expected ~dedup_minhash-shaped with a higher constant)
    # and the frozen linear classifier (map-side hash + broadcast
    # weight join + one doc-keyed sum — expected ~lm_score-flat)
    "paragraph_dedup",
    "fasttext_quality",
]


def _q_exact_substring_spans_w8(spark, sf_dir):
    from pyspark_pipelining_spark.operators import dedup
    from pyspark_pipelining_spark.queries_llm import (
        SPAN_GRAM_LEN,
        SPAN_MAX_OCC,
        SPAN_MIN,
    )
    from pyspark_pipelining_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(
        docs,
        gram_len=SPAN_GRAM_LEN,
        min_span=SPAN_MIN,
        max_gram_occurrences=SPAN_MAX_OCC,
        winnow=8,
    ).orderBy("doc_a", "doc_b", "start_a", "start_b")


# variants that exist nowhere else (parameter overrides)
EXTRA_QUERIES = {
    "exact_substring_spans_w8": _q_exact_substring_spans_w8,
}

SFS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tier2", action="store_true")
    ap.add_argument("--tier3", action="store_true")
    args = ap.parse_args(argv)
    names = args.queries or (
        TIER3_QUERIES
        if args.tier3
        else (TIER2_QUERIES if args.tier2 else DEFAULT_QUERIES)
    )

    from pyspark_pipelining_spark import runner
    from pyspark_pipelining_spark.queries import QUERIES

    ambient = runner.ambient_load()
    queries = runner.resolve(names, {**QUERIES, **EXTRA_QUERIES})
    if queries is None:
        return 2

    spark = runner.session("scaling")
    print(f"ambient load1/load5 before JVM: {ambient}")

    results: dict[str, dict[float, float]] = {}
    for name, fn in queries.items():
        results[name] = {
            sf: statistics.median(runner.timed_runs(spark, fn, sf_dir, args.reps))
            for sf_dir, sf in SFS
        }
        ts = results[name]
        e_small = math.log(ts[0.01] / ts[0.001]) / math.log(10)
        e_big = math.log(ts[0.1] / ts[0.01]) / math.log(10)
        print(
            f"{name}: t(0.001)={ts[0.001]:.3f} t(0.01)={ts[0.01]:.3f}"
            f" t(0.1)={ts[0.1]:.3f}"
            f"  exp[0.001->0.01]={e_small:.2f} exp[0.01->0.1]={e_big:.2f}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
