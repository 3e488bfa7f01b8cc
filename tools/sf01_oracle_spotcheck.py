"""One-shot sf0.1 oracle verification for the numerically-sensitive
queries (r06 verdict item 6).

The regular oracle gates run at sf0.001 (every pytest) and sf0.01
(slow marker + the driver).  Sums at sf0.1 are ~100x larger, so the
overflow / precision envelopes of the integer-sufficient-statistic
queries deserve one documented pass at that scale:

    python tools/sf01_oracle_spotcheck.py [--all]

Prints one OK/FAIL line per query and exits non-zero on any mismatch.
Not part of the default pytest run (costs ~2 min); re-run after touching any of
the listed queries' arithmetic.  ``--all`` runs EVERY registered
query with an oracle — the full-registry sf0.1 certification
(~12 min; first recorded pass round 13: 213/213 match).
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the precision-envelope set: decimal(38,0) sufficient statistics,
# int64-quantized log terms, rank/interval integer arithmetic, binned
# ECDF gaps — everywhere a 100x bigger sum could overflow or round
# differently between engines
SENSITIVE = [
    "global_stats",
    "value_outliers",
    "value_moments",
    "value_drift_psi",
    "ks_drift",
    "mutual_information",
    "conditional_entropy",
    "gini_by_type",
    "exact_median_value",
    "trimmed_mean_value",
    "burstiness",
    "runs_test",
    "corr_price_qty",
    "benford_digits",
    "cms_join_size",
    # r08 registrations: µs interval arithmetic, int64-quantized log
    # regression, and the largest exact-verify candidate set of the six
    "conversion_lag",
    "zipf_slope",
    "containment_pairs",
    # r09 registrations: int64-quantized IDF weights with decimal dot
    # products, integer rank arithmetic over 100x more cells, and
    # decimal(38,0) regression cross-products
    "sparse_cosine_pairs",
    "price_quantile_sketch",
    "trend_by_segment",
    # r10 registrations: integer rank arithmetic over merged partial
    # bins; µs-exact session boundaries at 100x more events;
    # Δcents-in-double pairwise slopes over 100x larger monthly sums
    # (png_chunks reads committed fixtures, so sf does not scale it —
    # the oracle gates cover it)
    "doclen_sketch_merge",
    "session_window_stats",
    "theilsen_trend",
    # r09 sweep: n·v residuals widened to decimal(38,0) (silent-wrap class)
    "cusum_changepoint",
    # r11 staging: register estimates in the linear-counting/raw
    # crossover regime at 100x more tokens; decimal month sums behind
    # the pruned read (png_pixel_stats is fixture-fed, like png_chunks)
    "hll_register_merge",
    "partition_pruned_revenue",
    # r12 staging: CMS counter sums + heavy-hitter estimates at 100x
    # more tokens (collision overcount must match bit-exact on both
    # engines); decimal money sums behind the dynamically-pruned read
    # (wav_window_features / png_filter_pixel_stats are fixture-fed,
    # like png_chunks — sf does not scale them)
    "cms_merge_parity",
    "dpp_top_year_revenue",
    # r13 staging: KMV's k-min hash sets drawn from ~100x more distinct
    # tokens (the retained order statistics change entirely with scale;
    # both engines must agree bit-exact), and SQ8's corpus-calibrated
    # min/max bounds + exact int64 centered dots over the full sf0.1
    # embedding table (wav_stereo_features is fixture-fed, like
    # png_chunks — sf does not scale it)
    "kmv_merge_parity",
    "sim_sq8_rerank",
    # r14 registrations (the span pair, promoted from the r12 queue):
    # gram islands over ~100x more document pairs — the island window
    # key and the max-occurrence gram filter must agree bit-exact at a
    # corpus size where hot grams actually hit the cap; semantic_dedup
    # squares HUGEINT dot products over the full sf0.1 embedding table
    # (the decimal(38,0) headroom envelope the ADVICE note documents)
    "exact_substring_spans",
    "self_repeat_spans",
    "semantic_dedup",
    # r15 staging: eval-vs-train span islands at a corpus size where
    # the eval source actually shares hot grams with every train source
    "decontamination_spans",
    # r15 queued registrations: the CCNet cut re-quantizes the int64
    # λ sums through one double division per doc (100x bigger
    # numerators at sf0.1), and the learned-centroid IVF's lattice
    # L2² sums grow with nothing but stay worth one documented pass
    "ccnet_ppl_buckets",
    "sim_ivf_learned_topk",
    # r16 queued: the paragraph-grain LSH multiplies the signature
    # unit count ~8x at sf0.1 (md5 minhash arithmetic over far more
    # collisions), and the classifier's int64 weight sums meet 10x
    # more grams per bucket
    "paragraph_dedup",
    "fasttext_quality",
]


def main() -> int:
    from pyspark_pipelining_spark import runner
    from pyspark_pipelining_spark.queries import ORACLES
    from tests.oracle_utils import compare

    # --all: one-off FULL-registry pass (every registered query with an
    # oracle) at sf0.1 — the strongest value-level certification the
    # committed testdata supports; ~tens of minutes, so the default
    # stays the SENSITIVE list
    queries = runner.resolve([] if "--all" in sys.argv[1:] else SENSITIVE)
    if queries is None:
        return 2

    spark = runner.session("sf01-spotcheck", master="local[8]", shuffle_partitions=16)

    # semantic_dedup lattice precondition at THIS scale (r14 ADVICE):
    # the decimal(38,0) headroom argument assumes |x| <= 1 per
    # embedding coordinate; sf0.001/sf0.01 are pinned by
    # tests/test_semantic_dedup.py, and this probe covers the sf0.1
    # table the spotcheck certifies against — a regeneration outside
    # the envelope fails loudly here, never as silent NULL-overflow
    from pyspark.sql import functions as F

    from pyspark_pipelining_spark.sources.registry import load_table

    mx = (
        load_table(spark, SF_DIR, "embeddings")
        .select(
            F.max(
                F.expr(
                    "aggregate(embedding, CAST(0.0 AS DOUBLE),"
                    " (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
                )
            ).alias("mx")
        )
        .collect()[0]["mx"]
    )
    if mx is not None and mx > 1.0:
        print(f"FAIL embeddings lattice precondition: max |x| = {mx} > 1.0")
        return 1

    failures = []
    for name, fn in queries.items():
        if name not in ORACLES:
            print(f"SKIP {name}: no oracle (rows-only driver check)")
            continue
        try:
            compare(spark, SF_DIR, fn, ORACLES[name])
            print(f"OK   {name}")
        except Exception as exc:  # record mismatches AND runtime errors
            failures.append(name)
            print(f"FAIL {name}: {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            runner.release(spark)
    if failures:
        print(f"failures: {failures}")
        return 1
    print(f"checked {len(queries)} queries at {SF_DIR}: all match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
