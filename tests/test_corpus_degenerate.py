"""Every public operator of the corpus family (``operators/dedup.py``,
``text.py``, ``corpus.py``) on three degenerate documents frames:

* empty — built by a filter no row passes, so Spark cannot fold the
  plan away;
* one row;
* four copies of one document (same text and source, ``doc_id`` 0-3).

No operator may raise.  The empty input must give an empty result with
the schema of the four-copy run, and the four copies pin each dedup
operator's answer on exact duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators import corpus, dedup, text

TEXT = (
    "the fast key order sort table scan merge part window small hash scan"
    " join order batch batch batch stream spark window window dup"
)
SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"

_WEIGHTS = [(-1, 5), (0, 7), (1, -3)]


def _emb(docs):
    return docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 8).cast("array<float>").alias("embedding"),
    )


def _source_counts(docs):
    return docs.groupBy("source").agg(F.sum("n_chars").alias("n_chars"))


OPS = {
    # dedup.py
    "exact_dedup": lambda d: dedup.exact_dedup(d, ["text"]),
    "word_ngrams": lambda d: dedup.word_ngrams(d),
    "minhash_signatures": dedup.minhash_signatures,
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "near_dup_pairs": dedup.near_dup_pairs,
    "cluster_assignments": lambda d: dedup.cluster_assignments(dedup.near_dup_pairs(d)),
    "dedup_clusters": lambda d: dedup.dedup_clusters(d, dedup.near_dup_pairs(d)),
    "drop_duplicate_docs": lambda d: dedup.drop_duplicate_docs(d, dedup.near_dup_pairs(d)),
    "simhash": dedup.simhash,
    "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
    "prefix_jaccard_join": dedup.prefix_jaccard_join,
    "prefix_containment_join": dedup.prefix_containment_join,
    "tfidf_cosine_pairs": dedup.tfidf_cosine_pairs,
    "exact_substring_spans": dedup.exact_substring_spans,
    "exact_substring_spans_self": lambda d: dedup.exact_substring_spans(d, scope="self"),
    "exact_substring_spans_xor": lambda d: dedup.exact_substring_spans(
        d, xor_docs=d.filter(F.col("doc_id") == 0).select("doc_id")
    ),
    "semantic_dedup": lambda d: dedup.semantic_dedup(_emb(d), k=2),
    "paragraph_chunks": dedup.paragraph_chunks,
    "paragraph_dup_stats": dedup.paragraph_dup_stats,
    # text.py
    "with_words": text.with_words,
    "language_id": text.language_id,
    "quality_score": text.quality_score,
    "token_count": text.token_count,
    "fingerprint": text.fingerprint,
    "repetition_signals": text.repetition_signals,
    "inverted_index": lambda d: text.inverted_index(d, min_df=1),
    "tfidf_top_terms": text.tfidf_top_terms,
    "cooccur_pmi": lambda d: text.cooccur_pmi(d, min_count=1),
    "bm25_scores": lambda d: text.bm25_scores(d, ("the", "window")),
    "lm_bigram_score": text.lm_bigram_score,
    "ngram_novelty": text.ngram_novelty,
    "hapax_stats": text.hapax_stats,
    "oov_rate": lambda d: text.oov_rate(d, vocab_k=5),
    "gopher_repetition": text.gopher_repetition,
    "quality_battery": text.quality_battery,
    "linear_quality_score": lambda d: text.linear_quality_score(
        d, d.sparkSession.createDataFrame(_WEIGHTS, "bucket long, w_q6 long"), buckets=2
    ),
    # corpus.py
    "scrub_pii": corpus.scrub_pii,
    "contamination": lambda d: corpus.contamination(d, d),
    "vocab_topk": corpus.vocab_topk,
    "stratified_topk_sample": corpus.stratified_topk_sample,
    "hash_fraction_sample": lambda d: corpus.hash_fraction_sample(d, 0.5),
    "pack_greedy": lambda d: corpus.pack_greedy(d, budget=300),
    "collapse_repeats": corpus.collapse_repeats,
    "dedup_lines": corpus.dedup_lines,
    "training_shuffle": lambda d: corpus.training_shuffle(d, 2),
    "histogram_quantiles": lambda d: corpus.histogram_quantiles(d, "n_chars", "source", 10),
    "mixture_sample": lambda d: corpus.mixture_sample(d, {"src0": 300}),
    "chunk_documents": lambda d: corpus.chunk_documents(d, size=50, overlap=10),
    "weighted_sample": corpus.weighted_sample,
    "merge_pair_counts": corpus.merge_pair_counts,
    "split_assign": lambda d: corpus.split_assign(d, {"train": 0.5, "val": 0.25}),
    "dsir_logweights": lambda d: corpus.dsir_logweights(d, d),
    "dsir_resample": lambda d: corpus.dsir_resample(corpus.dsir_logweights(d, d), k=2),
    "unimax_allocation": lambda d: corpus.unimax_allocation(_source_counts(d), budget=300),
    "ccnet_ppl_buckets": corpus.ccnet_ppl_buckets,
}

PAIRS_6 = {(a, b, 1.0) for a in range(4) for b in range(a + 1, 4)}


def _pairs(rows):
    return {(r[0], r[1], r[2]) for r in rows}


# what each dedup operator returns on the four copies
FOUR_COPIES = {
    "exact_dedup": lambda rows: [r["doc_id"] for r in rows] == [0],
    "drop_duplicate_docs": lambda rows: [r["doc_id"] for r in rows] == [0],
    "dedup_clusters": lambda rows: {tuple(r) for r in rows} == {(i, 0) for i in range(4)},
    "minhash_lsh_pairs": lambda rows: _pairs(rows) == PAIRS_6 and len(rows) == 6,
    "near_dup_pairs": lambda rows: _pairs(rows) == PAIRS_6 and len(rows) == 6,
    "ngram_jaccard_pairs": lambda rows: _pairs(rows) == PAIRS_6 and len(rows) == 6,
    "prefix_jaccard_join": lambda rows: _pairs(rows) == PAIRS_6 and len(rows) == 6,
    "prefix_containment_join": lambda rows: len(rows) == 12
    and _pairs(rows) == {(a, b, 1.0) for a in range(4) for b in range(4) if a != b},
    "exact_substring_spans": lambda rows: len(rows) == 6
    and {tuple(r) for r in rows} == {(a, b, 1, 1, len(TEXT)) for a, b, _ in PAIRS_6},
    "exact_substring_spans_xor": lambda rows: {tuple(r) for r in rows}
    == {(0, b, 1, 1, len(TEXT)) for b in (1, 2, 3)},
    "simhash": lambda rows: len(rows) == 4 and len({r["simhash"] for r in rows}) == 1,
    "paragraph_dup_stats": lambda rows: len(rows) == 4 and all(r["flagged"] == 1 for r in rows),
    "semantic_dedup": lambda rows: sorted(r["dropped"] for r in rows) == [0, 1, 1, 1],
}


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    # a one-file parquet lake, like the documents table: a JVM scan, so
    # no operator pays a Python worker per read of the input
    path = str(tmp_path_factory.mktemp("degenerate") / "documents")
    spark.createDataFrame(
        [(i, TEXT, "en", "src0", len(TEXT)) for i in range(4)], SCHEMA
    ).coalesce(1).write.parquet(path)
    four = spark.read.parquet(path)
    return {
        "empty": four.filter(F.col("doc_id") < 0),
        "one": four.filter(F.col("doc_id") == 0),
        "four": four,
    }


@pytest.mark.parametrize("op", sorted(OPS))
def test_corpus_family_on_degenerate_inputs(inputs, op):
    run = OPS[op]
    four = run(inputs["four"])
    rows = four.collect()
    run(inputs["one"]).collect()
    empty = run(inputs["empty"])
    assert empty.schema == four.schema
    assert empty.collect() == []
    if op == "tfidf_cosine_pairs":
        assert rows == [], (
            "every gram of the four copies has idf ln(4/4) = 0, so each"
            " pair has zero norms and the zero-norm guard drops it"
        )
    elif op in FOUR_COPIES:
        assert FOUR_COPIES[op](rows), rows
