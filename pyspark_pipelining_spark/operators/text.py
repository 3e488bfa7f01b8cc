"""Text-analysis operators for large-scale training-data pipelines
(beyond-reference scope; no analogue in xiaowei1234/pySpark-Pipelining —
SURVEY §7.2 step 12).

Everything is built from JVM-side higher-order functions
(``transform`` / ``aggregate`` / ``filter`` over word arrays) — no
Python UDFs in the hot path, so the whole stage stays inside
whole-stage codegen and scales linearly over a 100 TB documents table.

Determinism contract: all scores are arithmetic over exact ints and
left-fold hashes, so results are bit-identical across engines (each
operator has a DuckDB oracle in queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark import cache
from pyspark_pipelining_spark.sources.registry import spread

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Real deployments plug in fastText/CLD3 via a Pandas UDF;
#: the heuristic keeps the engine dependency-free and deterministic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "est"),
    "de": ("der", "die", "das", "und", "zu", "in", "ein", "ist"),
    "zh": ("de", "shi", "le", "zai", "you", "he", "wo", "ta"),
}

FNV_MOD = 1_000_000_007


def with_words(df: DataFrame) -> DataFrame:
    """Lowercased whitespace tokenization of ``text`` as the array column
    ``words``.

    Spreads single-split local scans first so the downstream per-word
    array work parallelizes (no-op on multi-split cluster scans)."""
    return spread(df).withColumn("words", F.split(F.lower(F.col("text")), " +"))


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-ratio language ID: per language, the fraction of the
    document's words that hit that language's stopword list; prediction
    is the argmax (ties break by language code order).

    Output: doc_id, per-language ``score_<lang>`` columns, ``pred_lang``.
    """
    out = with_words(df)
    langs = sorted(STOPWORDS)
    for lang in langs:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter("words", lambda w: F.array_contains(sw, w)))
        out = out.withColumn(f"score_{lang}", hits / F.size("words"))
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lang}") == best, F.lit(lang)) for lang in langs]
    )
    return out.select("doc_id", *[f"score_{lang}" for lang in langs], pred.alias("pred_lang"))


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic document-quality features + composite score:
    word count, mean word length, stopword ratio (English list),
    alphabetic-character ratio.  Output: doc_id + feature columns +
    ``quality`` in [0,1]."""
    words = with_words(df)
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_words = F.size("words")
    n_chars = F.length(F.col("text"))
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    stop_hits = F.size(F.filter("words", lambda w: F.array_contains(sw, w)))
    feats = words.select(
        "doc_id",
        n_words.alias("n_words"),
        (n_chars / n_words).alias("mean_word_len"),
        (stop_hits / n_words).alias("stopword_ratio"),
        (alpha_chars / n_chars).alias("alpha_ratio"),
    )
    # composite: reward alpha text with moderate word length + some stopwords
    quality = (
        F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.25
        + F.col("alpha_ratio") * 0.5
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.25
    )
    return feats.withColumn("quality", quality)


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword proxy: number of
    matches of ``[a-z]+|[0-9]+|[^a-z0-9\\s]`` over the lowercased text
    (letters runs + digit runs + standalone symbols)."""
    return df.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " +")).alias("ws_tokens"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("subword_tokens"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the word sequence
    (per-word code = 31·len + first-char codepoint, folded left with
    ``h = (h*31 + code) mod 1e9+7``) — a cheap, portable document
    fingerprint for exact-duplicate detection at scale."""
    words = with_words(df)
    codes = F.transform(
        "words", lambda w: (F.length(w) * 31 + F.ascii(F.substring(w, 1, 1))).cast("long")
    )
    fp = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % FNV_MOD
    )
    return words.select("doc_id", fp.alias("fingerprint"))


def word_grams(n: int):
    """Array of word n-grams (space-joined) from the ``words`` column.

    Guarded on ``size >= n``: Spark's ``sequence(1, 0)`` is DESCENDING
    ``[1, 0]``, so an unguarded sequence would fabricate grams for
    too-short documents.  Null ``words`` give ``[]``.  The one word
    n-gram builder: :func:`dedup.word_ngrams` and every gram feature
    here call it."""
    sz = F.size("words")

    def gram(i):
        parts: list = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(F.col("words"), i + F.lit(j)))
        return F.concat(*parts)

    return F.when(
        sz >= n, F.transform(F.sequence(F.lit(1), sz - F.lit(n - 1)), gram)
    ).otherwise(F.array().cast("array<string>"))


def _run_stats(arr):
    """Per-document n-gram repetition stats WITHOUT a shuffle: sort the
    gram array, then one left-fold turns equal-value runs into counts.
    Returns struct(best, dup): ``best`` = max over distinct grams of
    count x char-length (chars covered by the single most repetitive
    gram), ``dup`` = total chars covered by grams occurring >= 2 times.

    Empty-string sentinel is safe: grams are never '' (words come from
    a ' +' split, so even degenerate grams contain the joining space)."""
    srt = F.array_sort(arr)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"] == x
        closed = F.length(acc["prev"]).cast("long") * acc["run"]
        best = F.when(same, acc["best"]).otherwise(F.greatest(acc["best"], closed))
        dup = F.when(same | (acc["run"] < 2), acc["dup"]).otherwise(acc["dup"] + closed)
        run = F.when(same, acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("long")
        return F.struct(
            x.alias("prev"), run.alias("run"), best.alias("best"), dup.alias("dup")
        )

    def fin(acc):
        closed = F.length(acc["prev"]).cast("long") * acc["run"]
        best = F.greatest(acc["best"], closed)
        dup = acc["dup"] + F.when(acc["run"] >= 2, closed).otherwise(F.lit(0).cast("long"))
        return F.struct(best.alias("best"), dup.alias("dup"))

    return F.aggregate(srt, init, step, fin)


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher/C4-style repetition quality signals, one row per document:

    - ``top2_chars`` / ``top2_frac``: characters covered by the single
      most repetition-heavy word bigram (max over bigrams of
      occurrence-count x gram length), as count and as a fraction of
      the document's characters.  High fraction = boilerplate/spam.
    - ``dup3_chars`` / ``dup3_frac``: characters covered by all word
      trigrams occurring more than once (Gopher's "fraction of chars in
      duplicated n-grams", without the overlap discount — documented
      deterministic variant so the DuckDB oracle is exact).

    Scale shape: per-document higher-order array fold over the SORTED
    gram array (runs of equal grams = counts) — zero shuffle, zero
    explode, embarrassingly parallel over a 100 TB corpus.  Cost is
    O(words x log words) per document, memory bounded by the document
    itself."""
    words = with_words(df)
    n_chars = F.length(F.col("text")).cast("long")
    b = _run_stats(word_grams(2))
    t = _run_stats(word_grams(3))
    out = words.select(
        "doc_id",
        n_chars.alias("n_chars"),
        b["best"].alias("top2_chars"),
        t["dup"].alias("dup3_chars"),
    )
    frac = lambda c: F.when(  # noqa: E731
        F.col("n_chars") > 0, F.round(F.col(c) / F.col("n_chars"), 6)
    ).otherwise(F.lit(0.0))
    return out.withColumn("top2_frac", frac("top2_chars")).withColumn(
        "dup3_frac", frac("dup3_chars")
    )


def inverted_index(
    df: DataFrame,
    min_df: int = 2,
    max_postings: int = 10,
    salts: int = 8,
) -> DataFrame:
    """Token -> posting-list inverted index (head): per token, the
    document frequency and the first ``max_postings`` doc_ids in sorted
    order — the retrieval structure behind term lookup / BM25 serving.

    Scale shape (two-phase salted top-k): per-doc ``array_distinct``
    BEFORE explode (map-side dedup — the token stream that shuffles is
    already unique per doc), then phase 1 partitions by
    ``(token, salt)`` where salt = hash(doc_id) mod ``salts``, so a
    stopword-grade token's posting stream is sorted as ``salts``
    independent spillable sorts instead of one giant task; each salt
    bucket keeps its smallest ``max_postings`` ids plus its exact
    count.  Phase 2 merges per token: doc_freq = Σ bucket counts, and
    the global smallest-k is the smallest k of the ≤ salts·k merged
    candidates (every global top-k id is top-k within its own bucket,
    so the merge is lossless).  Per-token state after phase 1 is
    bounded by salts·max_postings regardless of token frequency.  The
    full-postings variant of this operator would instead bucket-write
    by token and never collect."""
    words = with_words(df)
    toks = words.select("doc_id", F.explode(F.array_distinct("words")).alias("token"))
    salted = toks.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salts)).cast("int")
    )
    part = Window.partitionBy("token", "salt")
    ranked = salted.select(
        "token",
        "salt",
        "doc_id",
        F.count(F.lit(1)).over(part).alias("bucket_cnt"),
        F.row_number().over(part.orderBy("doc_id")).alias("rn"),
    )
    partial = (
        ranked.filter(F.col("rn") <= max_postings)
        .groupBy("token", "salt")
        .agg(
            F.max("bucket_cnt").alias("bucket_cnt"),
            F.collect_list("doc_id").alias("ids"),
        )
    )
    return (
        partial.groupBy("token")
        .agg(
            F.sum("bucket_cnt").alias("doc_freq"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("ids"))), 1, max_postings
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= min_df)
        .orderBy("token")
    )


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic keyword /
    relevance-feature extractor (score = tf · ln(N / df), the plain
    unsmoothed variant so the oracle shares the exact expression).

    Floats are confined to ONE ln() over a ratio of exact ints,
    rounded to 6dp BEFORE ranking, so both engines rank identical
    values; ties break token-ascending.

    Scale shape: tf is ONE map-side-combined groupBy on
    (doc_id, token); document frequency re-aggregates the tf partials
    (no second corpus pass); N is a broadcast scalar; the tf↔df join
    shuffles only vocabulary-sized keys; the final top-k is a bounded
    row_number window per doc_id.  Three shuffles total, none over raw
    token streams."""
    words = with_words(df)
    toks = words.select("doc_id", F.explode("words").alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")), 6
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("doc_id", "token", "tf", "doc_freq", "score", "rn")
        .orderBy("doc_id", "rn")
    )


def cooccur_pmi(
    df: DataFrame,
    max_skip: int = 2,
    min_count: int = 3,
) -> DataFrame:
    """Skip-gram word co-occurrence with pointwise mutual information —
    the classic collocation / word-association statistic (word2vec's
    SGNS factorizes exactly this matrix).

    Pairs are ORDERED (w1 precedes w2) at token distance 1..max_skip.
    PMI = ln(c(w1,w2) * N / (c(w1,*) * c(*,w2))) with marginals taken
    from the FULL pair multiset (before the min_count output filter),
    rounded to 6dp.  All counts are exact ints; the single ln() is the
    only float op, evaluated on an identically-associated expression in
    both engines.

    Scale shape: explode -> ONE map-side-combined groupBy on the pair
    (the token stream never shuffles raw — only (pair, count) partials);
    the marginals are SUM windows over the w1/w2 partitions of the
    pair-count table — the count-window-over-key pattern (README
    "Scale design"): two shuffles of the pair table total, vs the
    marginal-table formulation's four (two to build them over the FULL
    multiset, two to join them back; A/B at sf0.1: 1.51 s → 0.74 s
    median, identical output).  Marginals compute BEFORE the min_count
    output filter, preserving the full-multiset semantics.  The window
    skew envelope is benign HERE because it runs over the
    already-aggregated pair-count table: a stopword's w1 partition
    holds at most |vocab| rows (its distinct successors), never
    corpus-sized.  The grand total is a broadcast single-row agg.  At
    100 TB the pair groupBy is the one unavoidable shuffle, and AQE
    handles the heavy head (stopword pairs) via skew split."""
    words = with_words(df)
    sz = F.size("words")

    def mk(d: int):
        # closure factory: a one-arg lambda (a captured default would
        # flip F.transform into its (element, index) form)
        return lambda i: F.struct(
            F.element_at(F.col("words"), i).alias("w1"),
            F.element_at(F.col("words"), i + F.lit(d)).alias("w2"),
        )

    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    arrays = [
        F.when(sz >= d + 1, F.transform(F.sequence(F.lit(1), sz - F.lit(d)), mk(d)))
        .otherwise(empty)
        for d in range(1, max_skip + 1)
    ]
    pairs = words.select(F.explode(F.concat(*arrays)).alias("p")).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_cnt"))
    tot = pc.agg(F.sum("pair_cnt").alias("n_pairs"))
    pmi = F.round(
        F.log(
            (F.col("pair_cnt").cast("double") * F.col("n_pairs"))
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    return (
        pc.withColumn("c1", F.sum("pair_cnt").over(Window.partitionBy("w1")))
        .withColumn("c2", F.sum("pair_cnt").over(Window.partitionBy("w2")))
        .filter(F.col("pair_cnt") >= min_count)
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "pair_cnt", pmi.alias("pmi"))
        .orderBy("w1", "w2")
    )


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a fixed term set — the
    standard retrieval/quality-filter scorer (rank documents against a
    topic probe, keep the head).

    Output: doc_id, score (double, 6dp; 0 when no term appears).

    Scale shape: term frequencies are per-row higher-order array
    functions (no explode, no shuffle); the only aggregation is ONE
    global single-row stats pass (N, Σdl, per-term document frequency)
    whose result broadcast-cross-joins back — corpus-size-independent.
    The term list is a compile-time constant of the plan, the right
    trade for a fixed probe set (a dynamic query side would be a
    broadcast join against an inverted index instead).
    """
    words = with_words(df)
    wl = words.select("doc_id", "words", F.size("words").alias("dl"))

    def eq_term(t: str):
        # one-arg lambda: F.filter inspects arity, and a captured default
        # arg would make it look like the two-arg (element, index) form
        return lambda w: w == F.lit(t)

    tf_cols = [
        F.size(F.filter("words", eq_term(t))).alias(f"tf_{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = wl.select("doc_id", "dl", *tf_cols)
    aggs = [F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")]
    aggs += [
        F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
        for i in range(len(terms))
    ]
    stats = per_doc.agg(*aggs)
    joined = per_doc.crossJoin(F.broadcast(stats))
    nd = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    score = F.lit(0.0)
    for i in range(len(terms)):
        dfi = F.col(f"df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (nd - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)))
        tf = F.col(f"tf_{i}").cast("double")
        score = score + idf * ((tf * F.lit(k1 + 1.0)) / (tf + norm))
    return joined.select("doc_id", F.round(score, 6).alias("score"))


def lm_bigram_score(df: DataFrame, scale: int = 10**6) -> DataFrame:
    """Character-bigram language-model quality score — the KenLM-style
    perplexity filter of training-data pipelines (CCNet/Gopher use a
    5-gram LM; the char-bigram variant keeps the model a tiny broadcast
    dim while exercising the identical shape), self-trained on the
    corpus in the same pass.

    Score: mean over the document's char bigrams of
    ``ln C(ab) − ln C(a)`` (the MLE conditional log-prob), where the
    counts are corpus totals.  Low scores mark documents whose
    character sequences are unusual for the corpus (mojibake, binary
    spills, wrong-language fragments).

    Determinism: floats are confined to the per-DISTINCT-bigram model
    table — one ln per exact-int count, quantized to int64 millionths
    (``logp_q6``) BEFORE any per-document arithmetic.  Per-doc totals
    are then integer sums (order-independent under any shuffle), and
    the final mean is a single double division of two exact ints.

    Scale shape: bigram explosion is map-side (sequence+substring,
    whole-stage codegen); C(ab) is a map-side-combined groupBy onto a
    ≲ |alphabet|² key space; C(a) re-aggregates the C(ab) partials (no
    second corpus pass); the model joins back as a broadcast; the only
    data-sized shuffle is the per-doc integer-sum groupBy.

    Output: ``doc_id, n_bigrams, total_q6, avg_logp``.
    """
    base = spread(df).select(
        "doc_id", F.lower(F.col("text")).alias("t")
    )
    # guard: sequence(1, 0) in Spark is a DESCENDING [1, 0], not empty
    grams = F.when(
        F.length("t") >= 2,
        F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    toks = base.select("doc_id", F.explode(grams).alias("bg"))
    c2 = toks.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy(F.substring("bg", 1, 1).alias("ch")).agg(
        F.sum("c2").alias("c1")
    )
    model = (
        c2.join(c1, F.substring("bg", 1, 1) == F.col("ch"))
        .select(
            "bg",
            F.round((F.log("c2") - F.log("c1")) * scale)
            .cast("long")
            .alias("logp_q6"),
        )
    )
    per_doc = (
        toks.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_q6").alias("total_q6"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "total_q6",
        F.round(
            F.col("total_q6") / (F.lit(float(scale)) * F.col("n_bigrams")), 6
        ).alias("avg_logp"),
    )


def ngram_novelty(df: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word n-grams that appear in NO other document — the
    memorization/boilerplate signal (low novelty = the document is
    assembled from corpus-common phrases; the complement of the
    Gopher/RefinedWeb duplicate-n-gram filters).

    Scale shape (r09, fully skew-proof): per-doc ``array_distinct``
    before the explode (the n-gram stream that shuffles is unique per
    doc), ``n_ngrams`` read straight off the array size (no shuffle at
    all), and the novelty count from ONE map-side-combined
    gram-aggregate exploiting that a df=1 gram's owning document IS
    ``min(doc_id)`` — so no posting list ever gathers in one task (the
    r08 count-window form keyed a hot gram's full posting list to a
    single window task; re-A/B at sf0.1: 1.20 s vs 1.24 s median,
    identical output — the skew-safe plan costs nothing).  Docs
    with fewer than ``n`` words surface with ``n_ngrams = 0,
    novelty = 0``.

    Output: ``doc_id, n_ngrams, n_unique, novelty`` (6dp).
    """
    words = with_words(df)
    # word_grams guards size < n (sequence(1, 0) is DESCENDING [1, 0]
    # in Spark and would fabricate grams for too-short docs)
    grams = words.select("doc_id", F.array_distinct(word_grams(n)).alias("grams"))
    toks = grams.select("doc_id", F.explode("grams").alias("gram"))
    uniq = (
        toks.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    sizes = grams.select("doc_id", F.size("grams").cast("long").alias("n_ngrams"))
    return (
        sizes.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.when(
                F.col("n_ngrams") > 0,
                F.round(F.coalesce("n_unique", F.lit(0)) / F.col("n_ngrams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("novelty"),
        )
        .orderBy("doc_id")
    )


def hapax_stats(df: DataFrame) -> DataFrame:
    """Per-source vocabulary-growth signals: token count, vocabulary
    size, hapax legomena (tokens occurring exactly once in the source),
    hapax ratio and type-token ratio — the classic Zipf-tail health
    check an ingest pipeline runs to spot boilerplate-heavy or
    truncated sources (low hapax ratio → repetitive text).

    Shape: one (source, token) count with map-side partials, then one
    per-source fold — two key-bounded shuffles, no windows, no Python.

    Output: ``source, n_tokens, vocab_size, hapax, hapax_ratio,
    ttr`` (ratios rounded 6).
    """
    toks = with_words(df).select(
        "source", F.explode("words").alias("token")
    ).filter(F.length("token") > 0)
    per_tok = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_tok.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum((F.col("cnt") == 1).cast("long")).alias("hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            "hapax",
            F.round(F.col("hapax") / F.col("vocab_size"), 6).alias("hapax_ratio"),
            F.round(F.col("vocab_size") / F.col("n_tokens"), 6).alias("ttr"),
        )
        .orderBy("source")
    )


def oov_rate(df: DataFrame, vocab_k: int = 100) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus-wide top-k
    vocabulary (frequency desc, token asc ties): the coverage check
    run before committing to a tokenizer vocab size.

    Shape: global token counts fold map-side; the top-k is
    ``orderBy().limit()`` (TakeOrdered — per-partition heaps, never a
    single-partition window); membership joins back as a BROADCAST
    left-semi-style null check, so the per-source pass never shuffles
    the vocabulary.

    Output: ``source, n_tokens, oov_tokens, oov_rate``.
    """
    toks = with_words(df).select(
        "source", F.explode("words").alias("token")
    ).filter(F.length("token") > 0)
    toks = cache.keep(toks)
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_in_vocab").isNull().cast("long")).alias("oov_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            F.round(F.col("oov_tokens") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


#: integer-exact Gopher repetition thresholds as (num, den) fractions:
#: top-2-gram char coverage > 1/5 and top-3-gram > 9/50 (= 0.18) are
#: the Rae et al. 2021 Table A1 values verbatim; duplicated-3-gram
#: word coverage > 3/20 (= 0.15) BORROWS the paper's 0.15 from its
#: duplicate-5-gram CHAR-fraction row and adapts it to 3-gram WORD
#: coverage for this corpus (whose short synthetic docs rarely carry
#: 5-grams twice) — an adaptation, not a published threshold
GOPHER_TOP2 = (1, 5)
GOPHER_TOP3 = (9, 50)
GOPHER_DUP3 = (3, 20)

# single-BIGINT encoding of (count, coverage) so "most frequent gram,
# char-coverage tiebreak" is ONE max() both engines order identically
# (DuckDB cannot max() a struct): count * 1e9 + coverage, exact while
# coverage < 1e9 (coverage <= n_chars * occurrences, far below)
_GOPHER_KEY = 1_000_000_000


def _gopher_pack(c, cov, key: int = _GOPHER_KEY):
    """Pack (count, coverage) into one orderable BIGINT: ``c*key +
    cov``.  The encoding silently breaks count ordering (and the
    ``% key`` coverage extraction) once ``cov >= key`` — and because
    BOTH engines would compute the same corrupted key, the oracle gate
    cannot see it — so the envelope is enforced HERE, at runtime, with
    a JVM-side ``raise_error`` branch: a doc big enough to overflow
    (coverage ≥ 1e9 chars ≈ a 1 GB gram footprint) fails the job
    loudly instead of mis-ranking grams."""
    return c * key + F.when(cov < key, cov).otherwise(
        F.raise_error(
            F.format_string(
                "gopher_repetition: gram coverage %s >= packing key "
                f"{key}; (count, coverage) encoding would corrupt",
                cov,
            )
        ).cast("long")
    )


def gopher_repetition(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Table A1) — the published
    repetition filters a pretraining pipeline runs beside perplexity
    (:func:`lm_bigram_score`) and doc-level dedup:

    * ``top{2,3}_char_frac`` — characters contained in the MOST
      FREQUENT word n-gram (count × gram char length, the paper's
      definition — overlapping occurrences may push it past 1) over
      document chars; ties on count break by larger coverage, which
      leaves the fraction itself deterministic either way;
    * ``dup3_word_frac`` — fraction of WORD positions covered by some
      3-gram occurring more than once in the document, overlaps
      counted once (interval union over [i, i+2] word spans — the
      island-window pass).  The paper states its dup-n-gram family in
      characters; this corpus is single-space word soup, so word
      positions carry the same signal without re-deriving char
      offsets, and the adaptation is exact rather than approximate;
    * ``flagged_repetition`` — 1 iff any signal exceeds its published
      threshold, compared in integers (``den·cov > num·total``) so the
      verdict never touches a float.

    The paper's duplicate-LINE family is deliberately absent: the
    corpus has no newlines (probed), so those columns would be
    constant — value-blind to the oracle.  n = 2, 3 (not the paper's
    full 2..10) because this corpus has no duplicated 4-grams-or-
    longer within documents at either gate scale (probed; a constant
    column again).

    Scale shape (r16 fused rewrite): the 2- and 3-grams explode as a
    combined (n, pos, g) struct array, and a single LOGICAL
    (doc, n, gram)-keyed window count serves both signal families: the
    packed top-gram key folds through a doc-keyed aggregate
    (per-occurrence max equals per-distinct-gram max), and the
    duplicated-3-gram rows feed the island window directly with their
    positions.  Because the ``occ`` subtree is deliberately NOT
    persisted, Catalyst clones it into the tops and dup branches, so
    the plan physically runs TWO gram-window passes instead of the
    per-family version's three (locked shape: 4 scans / 2 generates /
    4 windows) — persisting ``occ`` to get a single physical pass was
    measured and LOST (interleaved sf0.1 medians 4.24 → 5.54 s under
    identical ambient: the corpus-sized occurrence cache plus its
    materialization barrier costs more than the second stage-parallel
    window; the same §5 lesson as the DSIR occurrence stream).
    Shuffle ledger vs the per-family version: the occurrence window
    replaces two partial-agg'd (doc, gram) counts AND the separate
    occurrence window the dup pass already paid.  (A/B at sf0.1:
    2.82 → 2.10 s median; bit-identical at sf0.001 and sf0.1.)  Output:
    ``doc_id, n_words, n_chars, top2_char_frac, top3_char_frac,
    dup3_word_frac, flagged_repetition`` with exact BIGINT numerators
    kept (``top2_cov, top3_cov, dup3_cov_words``) so downstream joins
    can re-derive any ratio losslessly.
    """
    words = with_words(df).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("words").alias("n_words"),
        "words",
    )

    def gram_structs(n: int) -> str:
        parts = ", ".join(
            f"element_at(words, CAST(i + {j} AS INT))" for j in range(n)
        )
        return (
            f"CASE WHEN size(words) >= {n} THEN "
            f"transform(sequence(1, size(words) - {n - 1}),"
            f" i -> struct({n} AS n, i AS pos, concat_ws(' ', {parts}) AS g)) "
            f"ELSE array() END"
        )

    ex = words.select(
        "doc_id",
        F.explode(
            F.expr(f"concat({gram_structs(2)}, {gram_structs(3)})")
        ).alias("o"),
    ).select("doc_id", "o.n", "o.pos", "o.g")

    occ = ex.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "n", "g"))
    )

    # per-occurrence max of the packed key == per-distinct-gram max
    # (duplicate occurrences of a gram carry identical keys)
    k = _gopher_pack(F.col("c"), F.col("c") * F.length("g"))
    tops = occ.groupBy("doc_id").agg(
        (F.max(F.when(F.col("n") == 2, k)) % _GOPHER_KEY)
        .cast("long")
        .alias("top2_cov"),
        (F.max(F.when(F.col("n") == 3, k)) % _GOPHER_KEY)
        .cast("long")
        .alias("top3_cov"),
    )

    # duplicated-3-gram word-interval union per doc (the island pass)
    dup_occ = occ.filter((F.col("n") == 3) & (F.col("c") > 1)).select(
        "doc_id", F.col("pos").alias("s"), (F.col("pos") + 2).alias("e")
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = dup_occ.withColumn(
        "isl",
        F.sum(
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    dup3 = (
        isl.groupBy("doc_id", "isl")
        .agg((F.max("e") - F.min("s") + 1).alias("ext"))
        .groupBy("doc_id")
        .agg(F.sum("ext").cast("long").alias("dup3_cov_words"))
    )

    # the words frame already carries both lengths — no join back to df
    base = words.select("doc_id", "n_chars", "n_words")
    out = (
        base.join(tops, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.coalesce("top2_cov", F.lit(0)).cast("long").alias("top2_cov"),
            F.coalesce("top3_cov", F.lit(0)).cast("long").alias("top3_cov"),
            F.coalesce("dup3_cov_words", F.lit(0))
            .cast("long")
            .alias("dup3_cov_words"),
        )
    )
    p2, q2 = GOPHER_TOP2
    p3, q3 = GOPHER_TOP3
    pd_, qd = GOPHER_DUP3
    def frac(num: str, den: str):
        # empty docs have n_chars 0 (ANSI divide-by-zero); their
        # coverage is 0, so the fraction is 0 by definition
        return F.when(
            F.col(den) > 0, F.round(F.col(num) / F.col(den), 6)
        ).otherwise(F.lit(0.0))

    return out.select(
        "*",
        frac("top2_cov", "n_chars").alias("top2_char_frac"),
        frac("top3_cov", "n_chars").alias("top3_char_frac"),
        frac("dup3_cov_words", "n_words").alias("dup3_word_frac"),
        F.when(
            (F.col("top2_cov") * q2 > F.col("n_chars") * p2)
            | (F.col("top3_cov") * q3 > F.col("n_chars") * p3)
            | (F.col("dup3_cov_words") * qd > F.col("n_words") * pd_),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("flagged_repetition"),
    )


#: Quality-battery thresholds as exact integer fractions / bounds —
#: the Gopher (Rae et al. 2021 Table A1) document-level rules, with
#: bounds ADAPTED to this corpus where the paper's verbatim values
#: would leave a branch empty and the oracle value-blind (the
#: GOPHER_DUP3 lesson): word count 20..90 (paper: 50..100k — this
#: corpus spans 10..100 words), mean word length 4..5 via
#: cross-multiplication (paper: 3..10 — this corpus spans 3.5..5.7),
#: >= 2 stopword hits (paper: >= 2 from an 8-word English list; this
#: vocabulary contains exactly two of them, "the" and "a")
BATTERY_MIN_WORDS = 20
BATTERY_MAX_WORDS = 90
BATTERY_WORDLEN = (4, 5)  # mean word length lo..hi, integer bounds
BATTERY_STOPWORDS = ("a", "the")
BATTERY_MIN_STOPWORDS = 2


def quality_battery(df: DataFrame) -> DataFrame:
    """FineWeb-style composed heuristic battery (Penedo et al. 2024,
    "The FineWeb Datasets" — whose pipeline composes the C4 and Gopher
    rule sets into per-rule flags plus one keep decision; the three
    FineWeb-original filters are LINE-based and this corpus is
    single-line by construction, so the battery composes the
    applicable DOCUMENT-level Gopher rules with the repetition
    composite instead):

    * ``flag_word_count`` — word count outside
      [BATTERY_MIN_WORDS, BATTERY_MAX_WORDS];
    * ``flag_word_len`` — mean word length outside BATTERY_WORDLEN,
      compared as ``lo·n_words ≤ Σ len(word) ≤ hi·n_words`` (exact
      integer cross-multiplication, no float mean);
    * ``flag_stopword`` — fewer than BATTERY_MIN_STOPWORDS hits from
      BATTERY_STOPWORDS (Gopher's "must contain stop words" rule);
    * ``flag_repetition`` — :func:`gopher_repetition`'s composite at
      the established thresholds (one reused scan family, the
      composition FineWeb's pipeline performs);
    * ``kept = 1`` iff every flag is 0.

    All four rules are exact integer comparisons, so the DuckDB oracle
    replays every flag bit-identically; the only doubles in the output
    are the boundary convenience ratios.

    Scale shape: words/stopword counts are one map-side pass
    (higher-order functions over the words array, no explode);
    repetition signals reuse ``gopher_repetition``'s bounded
    per-(doc, gram) aggregates; the battery join is doc-keyed — at
    100 TB this is the same two shuffles gopher_repetition already
    costs, plus zero.

    Output: ``doc_id, n_words, sum_word_len, n_stopwords,
    flag_word_count, flag_word_len, flag_stopword, flag_repetition,
    kept`` — all BIGINT.
    """
    words = with_words(df)
    stop_arr = ", ".join(f"'{s}'" for s in BATTERY_STOPWORDS)
    base = words.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.expr(
            "aggregate(words, CAST(0 AS BIGINT),"
            " (acc, x) -> acc + length(x))"
        ).alias("sum_word_len"),
        F.expr(
            f"size(filter(words, x -> array_contains(array({stop_arr}), x)))"
        )
        .cast("long")
        .alias("n_stopwords"),
    )
    rep = gopher_repetition(df).select(
        "doc_id", "flagged_repetition"
    )
    lo, hi = BATTERY_WORDLEN
    flag_wc = (
        (F.col("n_words") < BATTERY_MIN_WORDS)
        | (F.col("n_words") > BATTERY_MAX_WORDS)
    ).cast("long")
    flag_wl = (
        (F.col("sum_word_len") < lo * F.col("n_words"))
        | (F.col("sum_word_len") > hi * F.col("n_words"))
    ).cast("long")
    flag_sw = (F.col("n_stopwords") < BATTERY_MIN_STOPWORDS).cast("long")
    out = base.join(rep, "doc_id").select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_stopwords",
        flag_wc.alias("flag_word_count"),
        flag_wl.alias("flag_word_len"),
        flag_sw.alias("flag_stopword"),
        F.col("flagged_repetition").alias("flag_repetition"),
    )
    return out.withColumn(
        "kept",
        (
            (F.col("flag_word_count") == 0)
            & (F.col("flag_word_len") == 0)
            & (F.col("flag_stopword") == 0)
            & (F.col("flag_repetition") == 0)
        ).cast("long"),
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring (round-16): DCLM / fastText-style linear
# classifier over hashed word-bigram bags (Li et al. 2024 "DataComp-LM"
# filters with a fastText classifier; Joulin et al. 2016 fastText is a
# LINEAR model over hashed n-grams — which is exactly why the FROZEN
# model replays bit-identically in SQL while the training loop, like
# the IVF k-means trainer, runs once offline:
# tools/gen_fasttext_fixture.py)
# ---------------------------------------------------------------------------

#: hash-bucket count of the committed classifier fixture — must match
#: tools/gen_fasttext_fixture.py BUCKETS (asserted in tests)
FASTTEXT_BUCKETS = 4096


def linear_quality_score(
    df: DataFrame,
    weights: DataFrame,
    buckets: int = FASTTEXT_BUCKETS,
) -> DataFrame:
    """Score every document with a frozen linear hashed-bigram
    classifier: ``score = (Σ_grams w[h(gram)])/n + bias`` with int64
    ``w_q6`` weights, evaluated in exact integer arithmetic — ``kept``
    is ``sum_q6 + bias_q6·n_grams > 0`` (the sign of the mean score),
    so both engines agree bit-for-bit without ever forming the mean in
    floating point; the reported ``score_q6`` is the one
    correctly-rounded division the repo's lm_score convention uses.

    ``weights`` is the committed fixture frame ``(bucket, w_q6)`` with
    the bias at ``bucket = -1``.

    Scale shape: the gram explode and md5 bucket hash are map-side; the
    weight table is ``buckets``+1 rows, broadcast; the only
    corpus-sized shuffle is the per-doc sum — a training-data pipeline
    scores 100 TB with one scan, one broadcast join, one aggregate.

    Output: ``doc_id, n_grams, sum_q6, score_q6, kept`` (docs too
    short for a bigram appear with zeros and ``kept = 0``)."""
    from pyspark_pipelining_spark.operators.dedup import portable_hash_id

    bias = weights.filter(F.col("bucket") == -1).select(
        F.col("w_q6").alias("bias_q6")
    )
    w_tab = weights.filter(F.col("bucket") >= 0)
    grams = (
        with_words(df.select("doc_id", "text"))
        .select("doc_id", F.explode(word_grams(2)).alias("gram"))
        .select("doc_id", portable_hash_id(F.col("gram"), buckets).alias("bucket"))
    )
    per_doc = (
        grams.join(F.broadcast(w_tab), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("w_q6").alias("sum_q6"),
        )
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(bias))
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("sum_q6", F.lit(0)).cast("long").alias("sum_q6"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(
                    (
                        F.coalesce("sum_q6", F.lit(0))
                        + F.col("bias_q6") * F.coalesce("n_grams", F.lit(0))
                    )
                    / F.coalesce("n_grams", F.lit(0))
                )
                .cast("long"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score_q6"),
            F.when(
                (F.coalesce("n_grams", F.lit(0)) > 0)
                & (
                    F.coalesce("sum_q6", F.lit(0))
                    + F.col("bias_q6") * F.coalesce("n_grams", F.lit(0))
                    > 0
                ),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("kept"),
        )
    )
