"""Corpus-preparation query registry: PII scrub, benchmark
decontamination, sampling, vocabulary stats, sequence packing, and
embedding cluster-coherence (merged into the driver contract by
``queries.py``).

Oracle-parity notes: n-gram ids reuse the md5-derived portable hash
(operators/dedup.py); the greedy packer's oracle is a per-group
recursive CTE (each group walks one row per recursion round, the same
technique as the dedup_clusters reachability oracle); centroid cosines
are exact int64 lattice arithmetic so no fold-order contract is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators import corpus, similarity
from pyspark_pipelining_spark.operators.dedup import MERSENNE, duck_hash60, portable_hash60
from pyspark_pipelining_spark.queries_llm import SQL_WORDS, _sql_near_dup_pairs
from pyspark_pipelining_spark.sources.registry import load_table

EVAL_SOURCE = "src19"  # stand-in benchmark set for the decontamination scan
PACK_BUDGET = 2000
SAMPLE_K = 2
VOCAB_K = 50


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.scrub_pii(load_table(spark, sf_dir, "documents"))


def _sql_scrub() -> str:
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER) AS n_{name}"
        for name, pat, _ in corpus.PII_RULES
    )
    clean = "text"
    for _, pat, repl in corpus.PII_RULES:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, {counts}, {clean} AS clean FROM documents"


SQL_SCRUB_PII = _sql_scrub()


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.contamination(
        docs.filter(F.col("source") != EVAL_SOURCE),
        docs.filter(F.col("source") == EVAL_SOURCE),
        n=3,
    )


SQL_CONTAMINATION = f"""
WITH {SQL_WORDS},
tg AS (
    SELECT doc_id, source,
           list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                          i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS gs
    FROM words
),
cg AS (
    SELECT doc_id,
           {duck_hash60('g')} % {MERSENNE} AS gid
    FROM (SELECT DISTINCT doc_id, unnest(gs) AS g FROM tg WHERE source <> '{EVAL_SOURCE}')
),
eg AS (
    SELECT DISTINCT {duck_hash60('g')} % {MERSENNE} AS gid
    FROM (SELECT DISTINCT unnest(gs) AS g FROM tg WHERE source = '{EVAL_SOURCE}')
),
hits AS (
    SELECT cg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN eg.gid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
    FROM cg LEFT JOIN eg ON cg.gid = eg.gid
    GROUP BY cg.doc_id
)
SELECT doc_id, n_grams, n_contaminated,
       n_contaminated / n_grams AS contamination
FROM hits
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.vocab_topk(load_table(spark, sf_dir, "documents"), k=VOCAB_K)


SQL_VOCAB_TOPK = f"""
WITH {SQL_WORDS},
toks AS (SELECT unnest(w) AS token FROM words)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM toks WHERE length(token) > 0
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {VOCAB_K}
"""


def q_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles (p25/p50/p75/p90) from the 64-char
    bucket histogram (operators/corpus.histogram_quantiles) — the
    scale-safe percentile path with a bit-exact integer oracle."""
    return corpus.histogram_quantiles(
        load_table(spark, sf_dir, "documents"), "n_chars", "source", 64
    )


SQL_DOCLEN_QUANTILES = """
WITH hist AS (
    SELECT source, CAST(n_chars // 64 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
),
cum AS (
    SELECT source, bucket, n_docs,
           sum(n_docs) OVER (PARTITION BY source ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS cum,
           sum(n_docs) OVER (PARTITION BY source) AS n
    FROM hist
)
SELECT source, q, CAST(min(bucket) * 64 AS BIGINT) AS lo
FROM cum, unnest([25, 50, 75, 90]) AS t(q)
WHERE cum * 100 >= q * n
GROUP BY source, q
"""


#: Explicit corpus mixture: src0 halved, src1 down to ~2k chars, src4
#: kept whole (target above its total).  Scales-invariant fractions at
#: sf0.01 sized so each regime (partial, heavy, no-op cut) is exercised.
MIX_TARGETS = {"src0": 4000, "src1": 2000, "src4": 1_000_000}
MIX_GRID = 1_000_000


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample sources toward per-source char budgets
    (operators/corpus.mixture_sample) — the data-mixing step of a
    multi-source training corpus."""
    return corpus.mixture_sample(
        load_table(spark, sf_dir, "documents"), MIX_TARGETS, grid=MIX_GRID
    )


def _sql_mixture() -> str:
    values = ", ".join(f"('{g}', {t})" for g, t in sorted(MIX_TARGETS.items()))
    return f"""
WITH totals AS (
    SELECT source, CAST(sum(n_chars) AS BIGINT) AS total
    FROM documents GROUP BY source
),
t AS (SELECT * FROM (VALUES {values}) AS v(source, target)),
cut AS (
    SELECT totals.source,
           least({MIX_GRID}, CAST(CAST(target AS HUGEINT) * {MIX_GRID} // total AS BIGINT)) AS cutv
    FROM totals JOIN t ON totals.source = t.source
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN cut ON d.source = cut.source
WHERE {duck_hash60('CAST(d.doc_id AS VARCHAR)')}
      % {MIX_GRID} < cutv
"""


SQL_MIXTURE_SAMPLE = _sql_mixture()


BLOOM_M, BLOOM_K = 1 << 16, 3


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter demo (operators/sketch.bloom_build /
    bloom_probe): the distinct non-English vocabulary probes a filter
    built from the English vocabulary.  Output: every candidate token
    the bloom PASSES, flagged with whether it is truly in the reference
    set — the exact-verify step a production prefilter feeds, and the
    false-positive surface the oracle pins bit-for-bit."""
    from pyspark_pipelining_spark.operators.sketch import bloom_build, bloom_probe
    from pyspark_pipelining_spark.operators.text import with_words

    docs = load_table(spark, sf_dir, "documents")
    toks = with_words(docs).select(
        "lang", F.explode("words").alias("token")
    ).filter(F.length("token") > 0)
    ref = toks.filter(F.col("lang") == "en").select("token").distinct()
    cand = toks.filter(F.col("lang") != "en").select("token").distinct()
    bloom = bloom_build(ref, "token", m_bits=BLOOM_M, k_hashes=BLOOM_K)
    passed = bloom_probe(cand, bloom, "token", m_bits=BLOOM_M, k_hashes=BLOOM_K)
    return passed.join(
        ref.withColumn("in_ref", F.lit(1)), on="token", how="left"
    ).select("token", F.coalesce("in_ref", F.lit(0)).alias("in_ref"))


SQL_BLOOM_PREFILTER = f"""
WITH {{words}},
tok AS (
    SELECT lang, unnest(w) AS token FROM words
),
tok2 AS (SELECT lang, token FROM tok WHERE length(token) > 0),
ref AS (SELECT DISTINCT token FROM tok2 WHERE lang = 'en'),
cand AS (SELECT DISTINCT token FROM tok2 WHERE lang <> 'en'),
ref_pos AS (
    SELECT {duck_hash60("t.i || ':' || token")} % {BLOOM_M} AS p
    FROM ref, range({BLOOM_K}) t(i)
),
bloom AS (
    SELECT p // 32 AS word,
           bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
    FROM ref_pos GROUP BY 1
),
probe AS (
    SELECT cand.token,
           {duck_hash60("t.i || ':' || cand.token")} % {BLOOM_M} AS p
    FROM cand, range({BLOOM_K}) t(i)
),
hits AS (
    SELECT pr.token
    FROM probe pr JOIN bloom b ON pr.p // 32 = b.word
    WHERE (b.bits >> CAST(pr.p % 32 AS INTEGER)) & 1 = 1
    GROUP BY pr.token HAVING count(*) = {BLOOM_K}
)
SELECT h.token,
       CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END AS in_ref
FROM hits h LEFT JOIN ref r ON h.token = r.token
""".replace("{words}", SQL_WORDS)


BM25_TERMS = ("join", "hash", "filter")
BM25_K1, BM25_B = 1.2, 0.75


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document to a fixed topic probe
    (operators/text.bm25_scores)."""
    from pyspark_pipelining_spark.operators.text import bm25_scores

    return bm25_scores(
        load_table(spark, sf_dir, "documents"), BM25_TERMS, k1=BM25_K1, b=BM25_B
    )


def _sql_bm25() -> str:
    """DuckDB oracle mirroring bm25_scores' float expression tree
    EXACTLY (same literals via repr, same association order) so the
    doubles agree bit-for-bit before the round(…, 6)."""
    k1, b = repr(BM25_K1), repr(BM25_B)
    one_minus_b, k1p1 = repr(1.0 - BM25_B), repr(BM25_K1 + 1.0)
    tf_defs = ",\n           ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_defs = ",\n           ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    norm = (
        f"{k1} * ({one_minus_b} + {b} * CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))"
    )
    score = "0.0"
    for i in range(len(BM25_TERMS)):
        idf = (
            f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        )
        contrib = (
            f"{idf} * ((CAST(tf_{i} AS DOUBLE) * {k1p1})"
            f" / (CAST(tf_{i} AS DOUBLE) + {norm}))"
        )
        score = f"({score} + {contrib})"
    return f"""
WITH {SQL_WORDS},
per_doc AS (
    SELECT doc_id, len(w) AS dl,
           {tf_defs}
    FROM words
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
           {df_defs}
    FROM per_doc
)
SELECT doc_id, round({score}, 6) AS score
FROM per_doc, stats
"""


SQL_BM25_RANK = _sql_bm25()


CMS_DEPTH, CMS_WIDTH, CMS_K = 4, 1024, 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch point estimates for the exact top-CMS_K tokens
    (operators/sketch.cms_sketch / cms_estimate): est >= n always, the
    gap being bucket-collision inflation.  The report a streaming-side
    frequency monitor would produce — here cross-checked against the
    exact counts so the oracle pins both the sketch and the estimates."""
    from pyspark_pipelining_spark.operators.sketch import cms_estimate, cms_sketch
    from pyspark_pipelining_spark.operators.text import with_words

    docs = load_table(spark, sf_dir, "documents")
    tokens = (
        with_words(docs)
        .select(F.explode("words").alias("token"))
        .filter(F.length("token") > 0)
    )
    sk = cms_sketch(tokens, "token", depth=CMS_DEPTH, width=CMS_WIDTH)
    cand = corpus.vocab_topk(docs, k=CMS_K)  # token, n (exact)
    est = cms_estimate(sk, cand.select("token"), "token", depth=CMS_DEPTH, width=CMS_WIDTH)
    return cand.join(est, on="token").select("token", "n", "est")


SQL_CMS_HEAVY_HITTERS = f"""
WITH {{words}},
tok AS (
    SELECT unnest(w) AS token FROM words
),
tok2 AS (SELECT token FROM tok WHERE length(token) > 0),
counters AS (
    SELECT t.d,
           {duck_hash60("CAST(t.d AS VARCHAR) || ':' || token")}
               % {CMS_WIDTH} AS bucket,
           CAST(count(*) AS BIGINT) AS c
    FROM tok2, range({CMS_DEPTH}) t(d)
    GROUP BY 1, 2
),
cand AS (
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM tok2 GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT {CMS_K}
),
probes AS (
    SELECT cand.token, cand.n, t.d,
           {duck_hash60("CAST(t.d AS VARCHAR) || ':' || cand.token")}
               % {CMS_WIDTH} AS bucket
    FROM cand, range({CMS_DEPTH}) t(d)
)
SELECT p.token, CAST(max(p.n) AS BIGINT) AS n,
       CAST(min(COALESCE(c.c, 0)) AS BIGINT) AS est
FROM probes p LEFT JOIN counters c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.token
""".replace("{words}", SQL_WORDS)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.stratified_topk_sample(
        load_table(spark, sf_dir, "documents"), k=SAMPLE_K
    )


SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, source FROM documents
QUALIFY row_number() OVER (
    PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
) <= {SAMPLE_K}
"""


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side deterministic ~25% sample (no shuffle, layout- and
    engine-independent): the 100 TB sampling path."""
    return corpus.hash_fraction_sample(
        load_table(spark, sf_dir, "documents"), 0.25
    ).select("doc_id", "source")


SQL_SAMPLE_HASH = f"""
SELECT doc_id, source FROM documents
WHERE {duck_hash60('CAST(doc_id AS VARCHAR)')} % 1000000 < 250000
"""


def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.pack_greedy(
        load_table(spark, sf_dir, "documents"), budget=PACK_BUDGET
    )


SQL_PACK_GREEDY = f"""
WITH RECURSIVE seq AS (
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
    FROM documents
),
walk(source, rn, doc_id, pack_id, fill) AS (
    SELECT source, rn, doc_id, CAST(0 AS BIGINT), n_chars FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.source, s.rn, s.doc_id,
           CASE WHEN w.fill + s.n_chars <= {PACK_BUDGET} THEN w.pack_id ELSE w.pack_id + 1 END,
           CASE WHEN w.fill + s.n_chars <= {PACK_BUDGET} THEN w.fill + s.n_chars ELSE s.n_chars END
    FROM walk w JOIN seq s ON s.source = w.source AND s.rn = w.rn + 1
)
SELECT doc_id, source, pack_id FROM walk
"""


def q_embedding_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.centroid_cosines(load_table(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_COHERENCE = """
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
    FROM embeddings
),
dims AS (
    SELECT vec_id, label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q
),
cent AS (
    SELECT label, pos, CAST(sum(v) AS BIGINT) AS s FROM dims GROUP BY label, pos
),
parts AS (
    -- dot / n2 in HUGEINT: their squared terms blow int64 at realistic
    -- label sizes (mirrors Spark's decimal(38,0) accumulators)
    SELECT d.vec_id, d.label,
           sum(CAST(d.v AS HUGEINT) * c.s) AS dot,
           CAST(sum(d.v * d.v) AS BIGINT) AS n1,
           sum(CAST(c.s AS HUGEINT) * c.s) AS n2
    FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
    GROUP BY d.vec_id, d.label
)
SELECT vec_id, label,
       round(CAST(dot AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))), 6)
           AS centroid_cos
FROM parts
"""


def q_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.collapse_repeats(load_table(spark, sf_dir, "documents"))


SQL_COLLAPSE_REPEATS = f"""
WITH {SQL_WORDS},
keep AS (
    SELECT doc_id, w,
           list_filter(range(1, len(w) + 1),
                       i -> i = 1 OR w[i] <> w[greatest(i - 1, 1)]) AS ks
    FROM words
)
SELECT doc_id,
       CAST(len(w) AS INTEGER) AS n_words,
       CAST(len(ks) AS INTEGER) AS n_kept,
       array_to_string(list_transform(ks, i -> w[i]), ' ') AS clean
FROM keep
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global exact line dedup (operators/corpus.dedup_lines):
    first occurrence of each distinct trimmed sentence-ish line wins,
    documents reassembled from survivors."""
    return corpus.dedup_lines(load_table(spark, sf_dir, "documents"))


SQL_DEDUP_LINES = r"""
WITH split AS (
    SELECT doc_id, regexp_split_to_array(text, '[.!?]\s+') AS arr FROM documents
),
lines0 AS (
    SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS raw
    FROM split
),
lines AS (
    SELECT doc_id, pos, trim(raw) AS line
    FROM lines0 WHERE length(trim(raw)) > 0
),
n_lines AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
ranked AS (
    SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rk
    FROM lines
),
rebuilt AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(line, ' ' ORDER BY pos) AS clean
    FROM ranked WHERE rk = 1 GROUP BY doc_id
)
SELECT n.doc_id, n.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.clean, '') AS clean
FROM n_lines n LEFT JOIN rebuilt r USING (doc_id)
"""


def q_dedup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: how many near-duplicate pairs
    (LSH candidates at est Jaccard ≥ 0.5) connect each pair of sources —
    the corpus-curation report that tells you WHICH crawls overlap.
    Source pairs are canonicalized (least/greatest) so the matrix is
    upper-triangular regardless of doc-id orientation."""
    from pyspark_pipelining_spark.operators import dedup as _dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dedup.near_dup_pairs(docs)
    s1 = docs.select(F.col("doc_id").alias("doc_1"), F.col("source").alias("s1"))
    s2 = docs.select(F.col("doc_id").alias("doc_2"), F.col("source").alias("s2"))
    return (
        pairs.join(s1, "doc_1")
        .join(s2, "doc_2")
        .groupBy(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _sql_dedup_matrix() -> str:
    return f"""
WITH {_sql_near_dup_pairs()}
SELECT least(d1.source, d2.source) AS source_a,
       greatest(d1.source, d2.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN documents d1 ON pairs.doc_1 = d1.doc_id
JOIN documents d2 ON pairs.doc_2 = d2.doc_id
GROUP BY 1, 2
"""


SQL_DEDUP_MATRIX = _sql_dedup_matrix()


def q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via the KMV sketch
    (operators/sketch.py) — deterministic, so the DuckDB oracle
    reproduces the ESTIMATE bit-for-bit (exact below k distinct)."""
    from pyspark_pipelining_spark.operators.sketch import kmv_distinct
    from pyspark_pipelining_spark.operators.text import with_words

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        with_words(docs)
        .select("source", F.explode("words").alias("token"))
        .filter(F.length("token") > 0)
    )
    return kmv_distinct(toks, "source", "token", k=16)


SQL_KMV_DISTINCT_TOKENS = f"""
WITH {SQL_WORDS},
toks AS (
    SELECT DISTINCT source, unnest(w) AS token FROM words
),
hashed AS (
    SELECT DISTINCT source,
           {duck_hash60('token')} AS h
    FROM toks WHERE length(token) > 0
),
ranked AS (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rk,
           count(*) OVER (PARTITION BY source) AS nd
    FROM hashed
)
SELECT source,
       CASE WHEN max(nd) >= 16
            THEN round(15.0 * {1 << 60} / max(CASE WHEN rk = 16 THEN h END), 6)
            ELSE round(CAST(max(nd) AS DOUBLE), 6) END AS est_distinct
FROM ranked GROUP BY source
"""


def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via HyperLogLog
    (operators/sketch.hll_distinct) — the O(m)-state single-pass
    counterpart to ``kmv_distinct_tokens``; integer registers and a
    shared float numerator make the estimate bit-exact cross-engine."""
    from pyspark_pipelining_spark.operators.sketch import hll_distinct
    from pyspark_pipelining_spark.operators.text import with_words

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        with_words(docs)
        .select("source", F.explode("words").alias("token"))
        .filter(F.length("token") > 0)
    )
    return hll_distinct(toks, "source", "token")


def _sql_hll() -> str:
    from pyspark_pipelining_spark.operators.sketch import HLL_M, HLL_NUM, HLL_W

    top = HLL_W + 1
    raw = (
        f"{HLL_NUM!r} / CAST(s_present + ({HLL_M} - n_present) "
        f"* (CAST(1 AS BIGINT) << {top}) AS DOUBLE)"
    )
    return f"""
WITH {SQL_WORDS},
toks AS (SELECT source, unnest(w) AS token FROM words),
hashed AS (
    SELECT source, {duck_hash60('token')} AS h
    FROM toks WHERE length(token) > 0
),
regs AS (
    SELECT source, h % {HLL_M} AS bucket,
           max(CASE WHEN h // {HLL_M} = 0 THEN {top}
                    ELSE {top} - length(bin(h // {HLL_M})) END) AS r
    FROM hashed GROUP BY source, bucket
),
agg AS (
    SELECT source,
           sum(CAST(1 AS BIGINT) << ({top} - r)) AS s_present,
           count(*) AS n_present
    FROM regs GROUP BY source
)
SELECT source,
       round(CASE WHEN {raw} <= {2.5 * HLL_M!r} AND n_present < {HLL_M}
                  THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST({HLL_M} - n_present AS DOUBLE))
                  ELSE {raw} END, 6) AS est_distinct
FROM agg
"""


SQL_HLL_DISTINCT_TOKENS = _sql_hll()


def q_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution report: documents bucketed by
    ``n_chars // 64`` (exact integer division — no float binning
    ambiguity), counted per (source, bucket).  One map-side-combined
    groupBy; the report is dimension-sized, so the final sort is cheap
    and keeps the output stable for eyeballing."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.expr("CAST(n_chars div 64 AS BIGINT)").alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "bucket")
    )


SQL_DOCLEN_HISTOGRAM = """
SELECT source, CAST(n_chars // 64 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY source, bucket
ORDER BY source, bucket
"""




CHUNK_SIZE = 200
CHUNK_OVERLAP = 50


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window RAG chunking (operators/corpus.chunk_documents):
    pure map-side sequence/posexplode/substring, chunk counts derived
    from length(text) by integer arithmetic both engines share."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.chunk_documents(
        docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    ).orderBy("doc_id", "chunk_id")


_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP
# chunk-index spine derived from each document's OWN length via a
# lateral unnest(range(...)) — the span-oracle pattern (r12 ADVICE:
# a fixed spine bound silently truncates the oracle if doc lengths
# ever outgrow it; this one formerly capped at 256·stride chars)
SQL_CHUNK_OVERLAP = f"""
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       substring(text, CAST(i AS INT) * {_STRIDE} + 1, {CHUNK_SIZE}) AS chunk_text,
       CAST(length(substring(text, CAST(i AS INT) * {_STRIDE} + 1, {CHUNK_SIZE})) AS INTEGER) AS chunk_len
FROM (
    SELECT doc_id, text,
           unnest(range(0, (length(text) + {_STRIDE} - 1) // {_STRIDE})) AS i
    FROM documents
)
ORDER BY doc_id, chunk_id
"""

WEIGHTED_K = 5


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Poisson weighted sampling
    (operators/corpus.weighted_sample): k docs per source with
    inclusion probability ~ n_chars, deterministic via the md5
    hash/weight priority both engines compute bit-identically."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.weighted_sample(docs, k=WEIGHTED_K).orderBy("source", "doc_id")


SQL_WEIGHTED_SAMPLE = f"""
WITH pr AS (
    SELECT doc_id, source, n_chars,
           CAST({duck_hash60('CAST(doc_id AS VARCHAR)')} AS DOUBLE)
               / CAST(n_chars AS DOUBLE) AS prio
    FROM documents
),
r AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY prio, doc_id) AS rn
    FROM pr
)
SELECT doc_id, source, n_chars FROM r WHERE rn <= {WEIGHTED_K}
ORDER BY source, doc_id
"""




BPE_K = 40


def q_bpe_pair_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style merge-candidate scoring
    (operators/corpus.merge_pair_counts): top-k adjacent word pairs by
    corpus frequency, higher-order pair construction + TakeOrdered (no
    global sort, no Python)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.merge_pair_counts(docs, k=BPE_K)


SQL_BPE_PAIR_TOPK = f"""
WITH words AS (
    SELECT string_split_regex(lower(text), ' +') AS w FROM documents
),
pairs AS (
    SELECT unnest(list_transform(range(1, len(w)), i -> struct_pack(
               w1 := w[i], w2 := w[i + 1]))) AS p
    FROM words WHERE len(w) >= 2
)
SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pairs
FROM pairs GROUP BY p.w1, p.w2
ORDER BY n_pairs DESC, w1, w2
LIMIT {BPE_K}
"""


PMI_MIN_COUNT = 3


def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence PMI (operators/text.cooccur_pmi):
    ordered word pairs at distance 1-2, exact counts, marginals from
    the full pair multiset, one ln() per output row."""
    from pyspark_pipelining_spark.operators import text as text_ops

    return text_ops.cooccur_pmi(
        load_table(spark, sf_dir, "documents"), min_count=PMI_MIN_COUNT
    )


SQL_COOCCUR_PMI = f"""
WITH {SQL_WORDS},
p1 AS (
    SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                 i -> {{'w1': w[i], 'w2': w[i + 1]}})) AS p
    FROM words
),
p2 AS (
    SELECT unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                 i -> {{'w1': w[i], 'w2': w[i + 2]}})) AS p
    FROM words
),
pairs AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM p1 UNION ALL SELECT p.w1, p.w2 FROM p2),
pc AS (SELECT w1, w2, count(*) AS pair_cnt FROM pairs GROUP BY w1, w2),
l AS (SELECT w1, sum(pair_cnt) AS c1 FROM pc GROUP BY w1),
r AS (SELECT w2, sum(pair_cnt) AS c2 FROM pc GROUP BY w2),
tot AS (SELECT sum(pair_cnt) AS n_pairs FROM pc)
SELECT pc.w1, pc.w2, pc.pair_cnt,
       round(ln((CAST(pc.pair_cnt AS DOUBLE) * n_pairs) / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
FROM pc
JOIN l USING (w1)
JOIN r USING (w2)
CROSS JOIN tot
WHERE pc.pair_cnt >= {PMI_MIN_COUNT}
ORDER BY pc.w1, pc.w2
"""


INDEX_MIN_DF = 2
INDEX_POSTINGS = 10


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index head (operators/text.inverted_index): per token,
    document frequency + first 10 sorted doc_ids.

    The posting array is serialized to a comma-joined string at this
    query boundary — the driver's pandas canonicalizer cannot sort or
    hash list-valued cells (CORRECTNESS_r04 ``unhashable type: 'list'``)
    — while the operator itself keeps returning the typed ArrayType
    column for programmatic users."""
    from pyspark_pipelining_spark.operators import text as text_ops

    idx = text_ops.inverted_index(
        load_table(spark, sf_dir, "documents"),
        min_df=INDEX_MIN_DF,
        max_postings=INDEX_POSTINGS,
    )
    return idx.select(
        "token",
        "doc_freq",
        F.array_join(F.expr("transform(postings, x -> CAST(x AS STRING))"), ",").alias(
            "postings"
        ),
    )


SQL_INVERTED_INDEX = f"""
WITH {SQL_WORDS},
toks AS (SELECT doc_id, unnest(list_distinct(w)) AS token FROM words),
agg AS (
    SELECT token,
           count(*) AS doc_freq,
           (list(doc_id ORDER BY doc_id))[1:{INDEX_POSTINGS}] AS postings
    FROM toks GROUP BY token
)
SELECT token, CAST(doc_freq AS BIGINT) AS doc_freq,
       array_to_string(postings, ',') AS postings
FROM agg
WHERE doc_freq >= {INDEX_MIN_DF}
ORDER BY token
"""


TFIDF_K = 5


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF keywords (operators/text.tfidf_top_terms)."""
    from pyspark_pipelining_spark.operators import text as text_ops

    return text_ops.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), k=TFIDF_K
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH {SQL_WORDS},
toks AS (SELECT doc_id, unnest(w) AS token FROM words),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
           round(tf.tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS score
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
    FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
       CAST(doc_freq AS BIGINT) AS doc_freq, score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {TFIDF_K}
ORDER BY doc_id, rn
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM quality score, self-trained on the corpus
    (operators/text.lm_bigram_score) — the KenLM-perplexity-filter
    shape of CCNet/Gopher-style pipelines with a broadcast-sized
    model table."""
    from pyspark_pipelining_spark.operators import text as text_ops

    return text_ops.lm_bigram_score(load_table(spark, sf_dir, "documents"))


SQL_LM_SCORE = """
WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
    FROM base WHERE length(t) >= 2
),
toks AS (SELECT doc_id, substring(t, i, 2) AS bg FROM idx),
c2 AS (SELECT bg, count(*) AS c2 FROM toks GROUP BY bg),
c1 AS (SELECT substring(bg, 1, 1) AS ch, sum(c2) AS c1 FROM c2 GROUP BY 1),
model AS (
    SELECT bg, CAST(round((ln(c2) - ln(c1)) * 1000000) AS BIGINT) AS logp_q6
    FROM c2 JOIN c1 ON substring(bg, 1, 1) = c1.ch
),
per AS (
    SELECT doc_id, count(*) AS n_bigrams, sum(logp_q6) AS total_q6
    FROM toks JOIN model USING (bg) GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(total_q6 AS BIGINT) AS total_q6,
       round(total_q6 / (1000000.0 * n_bigrams), 6) AS avg_logp
FROM per
"""


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "split0"
SPLIT_GRID = 1_000_000


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report
    (operators/corpus.split_assign): per-(split, source) document and
    char counts — reproducible, append-stable, zero-shuffle assignment
    that ``randomSplit`` (layout-dependent seed) cannot provide."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        corpus.split_assign(docs, SPLIT_FRACTIONS, salt=SPLIT_SALT, grid=SPLIT_GRID)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


def _sql_dataset_split() -> str:
    lo = 0
    cases = []
    for name, frac in SPLIT_FRACTIONS.items():
        hi = lo + int(frac * SPLIT_GRID)
        cases.append(f"WHEN b >= {lo} AND b < {hi} THEN '{name}'")
        lo = hi
    return f"""
WITH hashed AS (
    SELECT source, n_chars,
           {duck_hash60(f"'{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)")}
           % {SPLIT_GRID} AS b
    FROM documents
),
tagged AS (
    SELECT source, n_chars,
           CASE {" ".join(cases)} ELSE '__rest' END AS split
    FROM hashed
)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM tagged GROUP BY split, source
"""


SQL_DATASET_SPLIT = _sql_dataset_split()


KMV_OVERLAP_K = 64


def q_kmv_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English-vs-other word-BIGRAM vocabulary overlap from KMV
    sketches (operators/sketch.kmv_overlap): distinct counts, union,
    Jaccard, and intersection estimated from two k-min sets — the
    theta-sketch set-operation workflow, without materializing either
    vocabulary in one place.  Bigrams (not unigrams) because the
    synthetic corpus shares one small word pool: the pair space is
    thousands of values, so the kth-min ESTIMATION path is actually
    exercised rather than the exact small-set fallback."""
    from pyspark_pipelining_spark.operators.sketch import kmv_overlap
    from pyspark_pipelining_spark.operators.text import with_words, word_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = with_words(docs).select("lang", F.explode(word_grams(2)).alias("token"))
    return kmv_overlap(
        grams.filter(F.col("lang") == "en"),
        grams.filter(F.col("lang") != "en"),
        "token",
        k=KMV_OVERLAP_K,
    )


def _sql_kmv_overlap() -> str:
    k = KMV_OVERLAP_K
    const = f"{k - 1}.0 * {1 << 60}"

    def est(m: str) -> str:
        return (
            f"CASE WHEN len({m}) < {k} THEN round(CAST(len({m}) AS DOUBLE), 6)"
            f" ELSE round({const} / CAST({m}[{k}] AS DOUBLE), 6) END"
        )

    return f"""
WITH {SQL_WORDS},
tg AS (
    SELECT lang,
           list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                          i -> w[i] || ' ' || w[i + 1]) AS gs
    FROM words
),
tok2 AS (SELECT lang, unnest(gs) AS token FROM tg),
ha AS (SELECT DISTINCT {duck_hash60('token')} AS hh
       FROM tok2 WHERE lang = 'en'),
hb AS (SELECT DISTINCT {duck_hash60('token')} AS hh
       FROM tok2 WHERE lang <> 'en'),
ma AS (SELECT list(hh ORDER BY hh) AS m
       FROM (SELECT hh FROM ha ORDER BY hh LIMIT {k})),
mb AS (SELECT list(hh ORDER BY hh) AS m
       FROM (SELECT hh FROM hb ORDER BY hh LIMIT {k})),
uni AS (
    SELECT ma.m AS a, mb.m AS b,
           list_slice(list_sort(list_distinct(list_concat(ma.m, mb.m))), 1, {k}) AS u
    FROM ma, mb
)
SELECT {est("a")} AS est_left,
       {est("b")} AS est_right,
       {est("u")} AS est_union,
       round(CAST(len(list_filter(u, x -> list_contains(a, x) AND list_contains(b, x))) AS DOUBLE)
             / CAST(len(u) AS DOUBLE), 6) AS jaccard,
       round((CAST(len(list_filter(u, x -> list_contains(a, x) AND list_contains(b, x))) AS DOUBLE)
              / CAST(len(u) AS DOUBLE))
             * (CASE WHEN len(u) < {k} THEN CAST(len(u) AS DOUBLE)
                     ELSE {const} / CAST(u[{k}] AS DOUBLE) END), 6) AS est_intersection
FROM uni
"""


SQL_KMV_VOCAB_OVERLAP = _sql_kmv_overlap()


# --- vocabulary-growth and coverage signals ------------------------------

OOV_VOCAB_K = 100


def q_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax-legomena / type-token ratios
    (operators/text.hapax_stats): the Zipf-tail health check for
    boilerplate-heavy or truncated sources."""
    from pyspark_pipelining_spark.operators.text import hapax_stats

    return hapax_stats(load_table(spark, sf_dir, "documents"))


SQL_HAPAX_STATS = f"""
WITH {SQL_WORDS},
toks AS (
    SELECT source, unnest(w) AS token FROM words
),
per_tok AS (
    SELECT source, token, count(*) AS cnt
    FROM toks WHERE length(token) > 0
    GROUP BY source, token
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio,
       round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS ttr
FROM per_tok
GROUP BY source
ORDER BY source
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-100
    vocabulary (operators/text.oov_rate): tokenizer-coverage check;
    the vocab is a TakeOrdered top-k broadcast back to the token
    stream."""
    from pyspark_pipelining_spark.operators.text import oov_rate

    return oov_rate(load_table(spark, sf_dir, "documents"), vocab_k=OOV_VOCAB_K)


SQL_OOV_RATE = f"""
WITH {SQL_WORDS},
toks AS (
    SELECT source, unnest(w) AS token FROM words
),
clean AS (SELECT source, token FROM toks WHERE length(token) > 0),
vocab AS (
    SELECT token FROM clean
    GROUP BY token
    ORDER BY count(*) DESC, token ASC
    LIMIT {OOV_VOCAB_K}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM clean c LEFT JOIN vocab v ON c.token = v.token
GROUP BY source
ORDER BY source
"""


QUERIES_CORPUS = {
    "hapax_stats": q_hapax_stats,
    "oov_rate": q_oov_rate,
    "doclen_histogram": q_doclen_histogram,
    "cooccur_pmi": q_cooccur_pmi,
    "inverted_index": q_inverted_index,
    "tfidf_top_terms": q_tfidf_top_terms,
    "hll_distinct_tokens": q_hll_distinct_tokens,
    "kmv_distinct_tokens": q_kmv_distinct_tokens,
    "mixture_sample": q_mixture_sample,
    "collapse_repeats": q_collapse_repeats,
    "bloom_prefilter": q_bloom_prefilter,
    "bm25_rank": q_bm25_rank,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "dedup_lines": q_dedup_lines,
    "dedup_matrix": q_dedup_matrix,
    "doclen_quantiles": q_doclen_quantiles,
    "scrub_pii": q_scrub_pii,
    "contamination": q_contamination,
    "vocab_topk": q_vocab_topk,
    "sample_stratified": q_sample_stratified,
    "sample_hash": q_sample_hash,
    "pack_greedy": q_pack_greedy,
    "embedding_coherence": q_embedding_coherence,
    "chunk_overlap": q_chunk_overlap,
    "weighted_sample": q_weighted_sample,
    "bpe_pair_topk": q_bpe_pair_topk,
    "lm_score": q_lm_score,
    "dataset_split": q_dataset_split,
    "kmv_vocab_overlap": q_kmv_vocab_overlap,
}

ORACLES_CORPUS = {
    "hapax_stats": SQL_HAPAX_STATS,
    "oov_rate": SQL_OOV_RATE,
    "doclen_histogram": SQL_DOCLEN_HISTOGRAM,
    "cooccur_pmi": SQL_COOCCUR_PMI,
    "inverted_index": SQL_INVERTED_INDEX,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "hll_distinct_tokens": SQL_HLL_DISTINCT_TOKENS,
    "kmv_distinct_tokens": SQL_KMV_DISTINCT_TOKENS,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "collapse_repeats": SQL_COLLAPSE_REPEATS,
    "bloom_prefilter": SQL_BLOOM_PREFILTER,
    "bm25_rank": SQL_BM25_RANK,
    "cms_heavy_hitters": SQL_CMS_HEAVY_HITTERS,
    "dedup_lines": SQL_DEDUP_LINES,
    "dedup_matrix": SQL_DEDUP_MATRIX,
    "doclen_quantiles": SQL_DOCLEN_QUANTILES,
    "scrub_pii": SQL_SCRUB_PII,
    "contamination": SQL_CONTAMINATION,
    "vocab_topk": SQL_VOCAB_TOPK,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "sample_hash": SQL_SAMPLE_HASH,
    "pack_greedy": SQL_PACK_GREEDY,
    "embedding_coherence": SQL_EMBEDDING_COHERENCE,
    "chunk_overlap": SQL_CHUNK_OVERLAP,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "bpe_pair_topk": SQL_BPE_PAIR_TOPK,
    "lm_score": SQL_LM_SCORE,
    "dataset_split": SQL_DATASET_SPLIT,
    "kmv_vocab_overlap": SQL_KMV_VOCAB_OVERLAP,
}


# --- Round-11 registration (formerly queries_staged.py): HLL register
# merge parity — per-source partials vs global fold -------------------


def _hll_tokens_plan(docs: DataFrame) -> DataFrame:
    """The token derivation as a pure DataFrame→DataFrame plan — shared
    verbatim between the registered batch callable and the streaming
    test (tests/test_streaming.py), which drives it per micro-batch
    through readStream+foreachBatch: registered surface ≡ streaming
    surface, one plan."""
    from pyspark_pipelining_spark.operators.text import with_words

    return (
        with_words(docs)
        .select("source", F.explode("words").alias("token"))
        .filter(F.length("token") > 0)
        .withColumn("g", F.lit("all"))
    )


def _hll_global_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hll_tokens_plan(load_table(spark, sf_dir, "documents"))


def q_hll_register_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct-token cardinality from HyperLogLog registers,
    twice IN ONE PLAN: (a) per-source PARTIAL register tables
    max-merged by a second aggregate (the per-partition /
    per-day-stream shape), and (b) the single-level global fold.  The
    register estimate sets must be bit-identical — ``r = max(rho)`` is
    associative, commutative, and idempotent, so any grouping of the
    input folds to the same register table; this is the merge
    guarantee that makes HLL the distinct-count workhorse at 100 TB
    (each executor keeps m=256 integer registers, the merge is one
    bounded max-groupBy) and the HLL counterpart to
    ``doclen_sketch_merge``'s histogram-bin proof (r09 verdict item 4).

    Scale shape: the partial fold combines map-side on (source,
    bucket) and its output is bounded by |sources| × m regardless of
    token count; the merge fold runs over that bounded table.  The
    direct branch is an independent single fold over the same hashed
    tokens (bounded at m rows out).  Estimates share the exact
    integer-register arithmetic of ``hll_distinct_tokens`` — the only
    floats are the final shared-numerator division (and ln in the
    small-range regime), identical in both engines."""
    from pyspark_pipelining_spark.operators.sketch import hll_estimate, hll_registers

    toks = _hll_global_tokens(spark, sf_dir)
    partial = hll_registers(toks, "source", "token")
    merged_regs = (
        partial.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .withColumn("g", F.lit("all"))
    )
    # estimate + register count come from ONE aggregate per branch
    # (include_registers) — a separate count() branch duplicated the
    # whole token fold: measured 4 documents scans → 2 after the fix;
    # wall clock at sf0.1 is parity (the local[32] parallel slack
    # absorbed the duplicates: 1.37 → 1.31 s median-of-5) but the
    # scan/CPU work halves, which is what survives a 100× scale-up
    est_m = hll_estimate(merged_regs, "g", include_registers=True).select(
        F.col("n_regs").alias("n_regs_merged"),
        F.col("est_distinct").alias("est_merged"),
    )
    direct_regs = hll_registers(toks, "g", "token")
    est_d = hll_estimate(direct_regs, "g", include_registers=True).select(
        F.col("n_regs").alias("n_regs_direct"),
        F.col("est_distinct").alias("est_direct"),
    )
    # 1-row lazy broadcast crossJoin stitch (repo scalar convention)
    return est_m.crossJoin(F.broadcast(est_d))


def _sql_hll_register_merge() -> str:
    from pyspark_pipelining_spark.operators.sketch import HLL_M, HLL_NUM, HLL_W

    top = HLL_W + 1
    rho = (
        f"CASE WHEN h // {HLL_M} = 0 THEN {top} "
        f"ELSE {top} - length(bin(h // {HLL_M})) END"
    )

    def est(agg: str) -> str:
        raw = (
            f"{HLL_NUM!r} / CAST(s_present + ({HLL_M} - n_present) "
            f"* (CAST(1 AS BIGINT) << {top}) AS DOUBLE)"
        )
        return (
            f"(SELECT round(CASE WHEN {raw} <= {2.5 * HLL_M!r} AND n_present < {HLL_M} "
            f"THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST({HLL_M} - n_present AS DOUBLE)) "
            f"ELSE {raw} END, 6) FROM {agg})"
        )

    return f"""
WITH {SQL_WORDS},
toks AS (SELECT source, unnest(w) AS token FROM words),
hashed AS (
    SELECT source, {duck_hash60('token')} AS h
    FROM toks WHERE length(token) > 0
),
pr AS (
    SELECT source, h % {HLL_M} AS bucket, max({rho}) AS r
    FROM hashed GROUP BY source, bucket
),
merged AS (SELECT bucket, max(r) AS r FROM pr GROUP BY bucket),
direct AS (
    SELECT h % {HLL_M} AS bucket, max({rho}) AS r
    FROM hashed GROUP BY bucket
),
am AS (
    SELECT sum(CAST(1 AS BIGINT) << ({top} - r)) AS s_present,
           count(*) AS n_present
    FROM merged
),
ad AS (
    SELECT sum(CAST(1 AS BIGINT) << ({top} - r)) AS s_present,
           count(*) AS n_present
    FROM direct
)
SELECT CAST((SELECT n_present FROM am) AS BIGINT) AS n_regs_merged,
       {est('am')} AS est_merged,
       CAST((SELECT n_present FROM ad) AS BIGINT) AS n_regs_direct,
       {est('ad')} AS est_direct
"""


SQL_HLL_REGISTER_MERGE = _sql_hll_register_merge()

QUERIES_CORPUS["hll_register_merge"] = q_hll_register_merge
ORACLES_CORPUS["hll_register_merge"] = SQL_HLL_REGISTER_MERGE


# --- Round-12 registration (formerly queries_staged.py): CMS counter
# merge parity — per-source partials vs global fold -------------------

CMSM_DEPTH, CMSM_WIDTH, CMSM_K = 4, 1024, 20


def _cms_token_counts(docs: DataFrame) -> DataFrame:
    """Pure plan: ``(source, token, n)`` counts from a documents frame
    — the token derivation shared by :func:`q_cms_merge_parity` and
    the streaming one-plan test (``tests/test_streaming.py``), the
    ``_hll_tokens_plan`` pattern: the registered surface and the
    per-micro-batch surface execute the SAME function."""
    from pyspark_pipelining_spark.operators.text import with_words

    toks = (
        with_words(docs)
        .select("source", F.explode("words").alias("token"))
        .filter(F.length("token") > 0)
    )
    return toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))


def q_cms_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch merge-parity proof, completing the
    mergeable-sketch trio (histogram bins r10, HLL registers r11, CMS
    counters here — r10 verdict item 2): per-source PARTIAL counter
    tables summed cell-wise by a second aggregate
    (:func:`operators.sketch.cms_merge`) must equal the single-level
    global fold BIT-IDENTICALLY.  CMS's merge law is counter ADDITION —
    unlike HLL's idempotent max, merging the same partial twice WOULD
    double-count, so the parity worth proving is that any disjoint
    partition of the input (executors, days, micro-batches) sums to
    the same table, which integer-sum associativity guarantees.

    In one plan: (a) the cell-level proof — a full outer join of the
    merged and direct counter tables counting mismatching cells
    (``n_cell_mismatch``, must be 0) next to the table size
    (``n_cells``); (b) the consumer-level proof — point estimates for
    the exact top-``CMSM_K`` tokens from BOTH tables side-by-side
    (``est_merged`` = ``est_direct``, each ≥ the true count ``n``, the
    classic CMS upper bound inflated only by bucket collisions).

    Scale shape: ONE ``documents`` scan — the (source, token) count
    fold is ``localCheckpoint``-ed (repo convention for expensive
    multi-branch inputs) and every downstream branch (partials, global
    counts, candidates) folds that bounded |sources|×|vocab| table;
    each sketch is ≤ depth × width integer rows, the merge is one
    bounded groupBy, and the estimate join broadcasts the sketch so
    candidates never shuffle.  All arithmetic is integer end-to-end —
    no float fold-order contract needed."""
    from pyspark_pipelining_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts_src = _cms_token_counts(docs)
    # one documents scan feeds the partial-sketch, global-count, and
    # candidate branches (CLAUDE.md: checkpoint multi-branch inputs)
    counts_src = counts_src.localCheckpoint(eager=True)
    partials = cms_sketch(
        counts_src,
        "token",
        weight_col="n",
        depth=CMSM_DEPTH,
        width=CMSM_WIDTH,
        group_cols=("source",),
    )
    merged = cms_merge(partials.drop("source"))
    counts = counts_src.groupBy("token").agg(F.sum("n").alias("n"))
    direct = cms_sketch(
        counts, "token", weight_col="n", depth=CMSM_DEPTH, width=CMSM_WIDTH
    )
    cand = counts.orderBy(F.desc("n"), F.asc("token")).limit(CMSM_K)
    est_m = cms_estimate(
        merged, cand.select("token"), "token", depth=CMSM_DEPTH, width=CMSM_WIDTH
    ).withColumnRenamed("est", "est_merged")
    est_d = cms_estimate(
        direct, cand.select("token"), "token", depth=CMSM_DEPTH, width=CMSM_WIDTH
    ).withColumnRenamed("est", "est_direct")
    cells = (
        merged.select("d", "bucket", F.col("c").alias("c_m"))
        .join(
            direct.select("d", "bucket", F.col("c").alias("c_d")),
            on=["d", "bucket"],
            how="full_outer",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(
                F.when(
                    F.coalesce("c_m", F.lit(-1)) != F.coalesce("c_d", F.lit(-1)), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cell_mismatch"),
        )
    )
    return (
        cand.join(est_m, on="token")
        .join(est_d, on="token")
        # 1-row lazy broadcast crossJoin stitch (repo scalar convention)
        .crossJoin(F.broadcast(cells))
        .select(
            "token",
            F.col("n").cast("long").alias("n"),
            "est_merged",
            "est_direct",
            "n_cells",
            "n_cell_mismatch",
        )
        .orderBy(F.desc("n"), F.asc("token"))
    )


def _sql_cms_merge_parity() -> str:
    def h(key_expr: str) -> str:
        return duck_hash60(f"CAST(t.d AS VARCHAR) || ':' || {key_expr}") + f" % {CMSM_WIDTH}"

    return f"""
WITH {SQL_WORDS},
tok AS (SELECT source, unnest(w) AS token FROM words),
tok2 AS (SELECT source, token FROM tok WHERE length(token) > 0),
counts_src AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS n
    FROM tok2 GROUP BY 1, 2
),
partials AS (
    SELECT cs.source, t.d, {h('cs.token')} AS bucket,
           CAST(sum(cs.n) AS BIGINT) AS c
    FROM counts_src cs, range({CMSM_DEPTH}) t(d)
    GROUP BY 1, 2, 3
),
merged AS (SELECT d, bucket, CAST(sum(c) AS BIGINT) AS c FROM partials GROUP BY 1, 2),
counts AS (SELECT token, CAST(sum(n) AS BIGINT) AS n FROM counts_src GROUP BY 1),
direct AS (
    SELECT t.d, {h('c2.token')} AS bucket, CAST(sum(c2.n) AS BIGINT) AS c
    FROM counts c2, range({CMSM_DEPTH}) t(d)
    GROUP BY 1, 2
),
cells AS (
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(coalesce(sum(CASE WHEN COALESCE(m.c, -1) <> COALESCE(t.c, -1)
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_cell_mismatch
    FROM merged m FULL OUTER JOIN direct t ON m.d = t.d AND m.bucket = t.bucket
),
cand AS (SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT {CMSM_K}),
probes AS (
    SELECT cand.token, cand.n, t.d, {h('cand.token')} AS bucket
    FROM cand, range({CMSM_DEPTH}) t(d)
),
est AS (
    SELECT p.token, max(p.n) AS n,
           CAST(min(COALESCE(m.c, 0)) AS BIGINT) AS est_merged,
           CAST(min(COALESCE(t.c, 0)) AS BIGINT) AS est_direct
    FROM probes p
    LEFT JOIN merged m ON p.d = m.d AND p.bucket = m.bucket
    LEFT JOIN direct t ON p.d = t.d AND p.bucket = t.bucket
    GROUP BY p.token
)
SELECT e.token, CAST(e.n AS BIGINT) AS n, e.est_merged, e.est_direct,
       c.n_cells, c.n_cell_mismatch
FROM est e CROSS JOIN cells c
ORDER BY n DESC, token ASC
"""


SQL_CMS_MERGE_PARITY = _sql_cms_merge_parity()

QUERIES_CORPUS["cms_merge_parity"] = q_cms_merge_parity
ORACLES_CORPUS["cms_merge_parity"] = SQL_CMS_MERGE_PARITY


# --- Round-13 registration (formerly queries_staged.py): KMV merge
# parity — union-then-retain-k vs the global k-min set ----------------

KMVP_K = 16


def _kmv_source_hashes(docs: DataFrame) -> DataFrame:
    """Pure plan: distinct ``(source, h)`` token hashes from a
    documents frame — the md5-derived 60-bit hash shared with
    ``operators/sketch.kmv_distinct`` and, verbatim, with the
    streaming one-plan test (``tests/test_streaming.py``), which
    drives it per micro-batch: registered surface ≡ per-batch
    surface."""
    from pyspark_pipelining_spark.operators.text import with_words

    toks = (
        with_words(docs)
        .select("source", F.explode("words").alias("token"))
        .filter(F.length("token") > 0)
    )
    h = portable_hash60(F.col("token"))
    return toks.select("source", h.alias("h")).distinct()


def _kmv_rank_topk(hashes: DataFrame, k: int) -> DataFrame:
    """k smallest distinct hashes with their rank: ``orderBy().limit()``
    compiles to TakeOrderedAndProject (per-partition top-k, driver
    merge of k candidates per partition — never a global sort), and
    the rank window runs AFTER the limit, over ≤ k rows (benign
    single-partition window, repo convention)."""
    from pyspark.sql import Window

    topk = hashes.select("h").distinct().orderBy("h").limit(k)
    w = Window.orderBy("h")
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def q_kmv_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV merge-parity proof, completing the mergeable-sketch merge-law
    QUARTET (histogram bins ADD r10, HLL registers MAX r11, CMS
    counters ADD r12 — r11 verdict item 4): per-source PARTIAL k-min
    sets, merged by union-then-retain-k-smallest, must equal the
    single-level global k-min set BIT-IDENTICALLY — hash by hash, rank
    by rank, and through the density estimate both sets imply.

    KMV's merge law is different from all three siblings: an
    ORDER-STATISTICS TRUNCATION, not a pointwise fold.  It is
    idempotent like HLL's max (re-merging the same partial is a no-op
    — re-delivery safe), but NOT pointwise: a hash present in one
    partial and absent from another is normal (each source truncates
    its own view), and mid-stream partial merges can disagree with
    each other — the guarantee is only that the k smallest of the
    UNION equal the global k smallest, because every global survivor
    is among the k smallest of whichever source saw it, so no
    truncation step can ever discard it.

    In one plan: (a) the set-level proof — merged and direct ranked
    sets full-outer-joined on rank, emitting ``h_merged`` /
    ``h_direct`` per rank plus the mismatch count
    (``n_set_mismatch``, must be 0); (b) the consumer-level proof —
    ``est_merged`` = ``est_direct`` (the shared (k−1)·2⁶⁰/h₍ₖ₎
    estimator, 6dp), next to the exact distinct count
    (``n_distinct_exact``) the estimate approximates.

    Scale shape: ONE ``documents`` scan — the distinct (source, h)
    table is ``localCheckpoint``-ed and every branch (per-source
    partials, global k-min, exact count) folds it; the per-source
    rank window is bounded by per-source vocabulary (the registered
    ``kmv_distinct_tokens`` shape); both k-min extractions are
    TakeOrderedAndProject (never a single-partition sort of the
    vocabulary); the merge input is ≤ k·|sources| candidate rows.
    Hashes are exact int64 end-to-end; the only float is the final
    estimate division, identical in both engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    hashed = _kmv_source_hashes(docs).localCheckpoint(eager=True)
    # per-source partial k-min sets (bounded per-source windows)
    w_src = Window.partitionBy("source").orderBy("h")
    partials = (
        hashed.withColumn("_rn", F.row_number().over(w_src))
        .filter(F.col("_rn") <= KMVP_K)
        .select("h")
    )
    merged = _kmv_rank_topk(partials, KMVP_K)
    direct = _kmv_rank_topk(hashed, KMVP_K)

    def est(ranked: DataFrame, name: str) -> DataFrame:
        n = F.count(F.lit(1))
        kth = F.max(F.when(F.col("rank") == KMVP_K, F.col("h")))
        e = F.when(n < KMVP_K, n.cast("double")).otherwise(
            F.lit(float((KMVP_K - 1) * (1 << 60))) / kth.cast("double")
        )
        return ranked.agg(F.round(e, 6).alias(name))

    nd = hashed.select("h").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_exact")
    )
    joined = merged.withColumnRenamed("h", "h_merged").join(
        direct.withColumnRenamed("h", "h_direct"), on="rank", how="full_outer"
    )
    mism = joined.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.coalesce("h_merged", F.lit(-1))
                    != F.coalesce("h_direct", F.lit(-1)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_set_mismatch")
    )
    return (
        joined
        # 1-row lazy broadcast crossJoin stitches (repo scalar convention)
        .crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(est(merged, "est_merged")))
        .crossJoin(F.broadcast(est(direct, "est_direct")))
        .crossJoin(F.broadcast(nd))
        .select(
            "rank",
            "h_merged",
            "h_direct",
            "n_set_mismatch",
            "est_merged",
            "est_direct",
            "n_distinct_exact",
        )
        .orderBy("rank")
    )


def _sql_kmv_merge_parity() -> str:
    k = KMVP_K
    num = f"{float(k - 1)!r} * {1 << 60}"
    return f"""
WITH {SQL_WORDS},
tok AS (SELECT source, unnest(w) AS token FROM words),
hashed AS (
    SELECT DISTINCT source,
           {duck_hash60('token')} AS h
    FROM tok WHERE length(token) > 0
),
partials AS (
    SELECT source, h FROM hashed
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= {k}
),
mtop AS (SELECT DISTINCT h FROM partials ORDER BY h LIMIT {k}),
mr AS (SELECT h, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rank FROM mtop),
duniq AS (SELECT DISTINCT h FROM hashed),
dtop AS (SELECT h FROM duniq ORDER BY h LIMIT {k}),
dr AS (SELECT h, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rank FROM dtop),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct_exact FROM duniq),
joined AS (
    SELECT COALESCE(m.rank, d.rank) AS rank, m.h AS h_merged, d.h AS h_direct
    FROM mr m FULL OUTER JOIN dr d ON m.rank = d.rank
),
mism AS (
    SELECT CAST(coalesce(sum(CASE WHEN COALESCE(h_merged, -1)
                                       <> COALESCE(h_direct, -1)
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_set_mismatch
    FROM joined
),
em AS (
    SELECT CASE WHEN count(*) < {k} THEN round(CAST(count(*) AS DOUBLE), 6)
                ELSE round({num} / max(CASE WHEN rank = {k} THEN h END), 6)
           END AS est_merged
    FROM mr
),
ed AS (
    SELECT CASE WHEN count(*) < {k} THEN round(CAST(count(*) AS DOUBLE), 6)
                ELSE round({num} / max(CASE WHEN rank = {k} THEN h END), 6)
           END AS est_direct
    FROM dr
)
SELECT j.rank, j.h_merged, j.h_direct, mism.n_set_mismatch,
       em.est_merged, ed.est_direct, nd.n_distinct_exact
FROM joined j
CROSS JOIN mism CROSS JOIN em CROSS JOIN ed CROSS JOIN nd
ORDER BY rank
"""


SQL_KMV_MERGE_PARITY = _sql_kmv_merge_parity()

QUERIES_CORPUS["kmv_merge_parity"] = q_kmv_merge_parity
ORACLES_CORPUS["kmv_merge_parity"] = SQL_KMV_MERGE_PARITY


# --- Round-15 registration (formerly queries_staged.py): span-based
# benchmark decontamination + the DSIR importance-resampling pair ----

DECON_GRAM_LEN = 16
DECON_MIN = 24


def _decontamination_spans_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination — the Lee et al. 2022
    decontamination shape, reusing the island machinery UNCHANGED
    (``operators/dedup.exact_substring_spans``, scope="cross"): find
    every verbatim span >= 24 chars shared between an EVAL document
    (``source = 'src19'``, the corpus's stand-in benchmark set — the
    registered ``contamination`` query's convention) and a TRAIN
    document (every other source), then orient each pair eval-side
    first.  Strictly stronger than the registered ``contamination``
    query, which scores documents by 8-gram overlap fraction: this
    reports the exact overlapping PASSAGES with positions, the
    actionable artifact (mask the span / drop the train doc / flag the
    benchmark).

    The eval XOR train filter runs AFTER the symmetric span scan, so
    the operator stays untouched; on a real 100 TB lake the one-line
    refinement is a side predicate inside the operator's pair join
    (eval ids are a tiny broadcast set), which prunes the train×train
    pair space — documented rather than implemented because the staged
    contract is machinery-reuse, and train×train spans are the
    REGISTERED ``exact_substring_spans`` output this query's scan
    shares (one corpus scan can serve both).

    Output: ``eval_doc, eval_start, train_doc, train_start,
    train_source, span_len`` — BIGINTs plus the source string,
    deterministic order."""
    from pyspark_pipelining_spark.operators import dedup
    from pyspark_pipelining_spark.queries_llm import SPAN_MAX_OCC

    docs = load_table(spark, sf_dir, "documents")
    # eval XOR train is pushed INTO the operator's pair join
    # (xor_docs — the r15 pushdown): the hash self-join becomes
    # eval-grams × train-grams, so the train×train pair space (at
    # 100 TB, ~all of it) never materializes.  Output is identical to
    # the former filter-after-scan formulation (operator normalizes
    # back to doc_a < doc_b; the oracle still replays filter-after,
    # gate-proved).  Measured same-harness A/B at sf0.1: 3.14 s →
    # 2.66 s median-of-5 with a visibly tighter spread — modest here
    # because the gram scan+checkpoint dominates at 5k docs, but the
    # pruned pair space is the asymptotic term at corpus scale.
    spans = dedup.exact_substring_spans(
        docs,
        gram_len=DECON_GRAM_LEN,
        min_span=DECON_MIN,
        max_gram_occurrences=SPAN_MAX_OCC,
        xor_docs=docs.filter(F.col("source") == EVAL_SOURCE).select("doc_id"),
    )
    meta = docs.select("doc_id", "source")
    tagged = (
        spans.join(
            meta.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
            ),
            "doc_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
            ),
            "doc_b",
        )
        .filter(
            (F.col("source_a") == EVAL_SOURCE) != (F.col("source_b") == EVAL_SOURCE)
        )
    )
    a_is_eval = F.col("source_a") == EVAL_SOURCE
    return tagged.select(
        F.when(a_is_eval, F.col("doc_a")).otherwise(F.col("doc_b")).alias("eval_doc"),
        F.when(a_is_eval, F.col("start_a"))
        .otherwise(F.col("start_b"))
        .alias("eval_start"),
        F.when(a_is_eval, F.col("doc_b")).otherwise(F.col("doc_a")).alias("train_doc"),
        F.when(a_is_eval, F.col("start_b"))
        .otherwise(F.col("start_a"))
        .alias("train_start"),
        F.when(a_is_eval, F.col("source_b"))
        .otherwise(F.col("source_a"))
        .alias("train_source"),
        "span_len",
    )


def q_decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the trailing global sort is this query's OUTPUT contract only —
    # internal consumers (decontamination_report) read the unordered
    # frame so the range exchange + sort never run under their window
    # (r17; guide §2.4: an orderBy used only for deterministic output
    # is a pure range-shuffle tax for any re-aggregating consumer)
    return _decontamination_spans_frame(spark, sf_dir).orderBy(
        "eval_doc", "eval_start", "train_doc", "train_start"
    )


def _sql_decontamination_spans() -> str:
    from pyspark_pipelining_spark.queries_llm import SPAN_MAX_OCC, _sql_span_grams

    return f"""
WITH {_sql_span_grams(DECON_GRAM_LEN)},
kept AS (
  SELECT * FROM span_grams
  WHERE h NOT IN (SELECT h FROM span_grams GROUP BY h HAVING count(*) > {SPAN_MAX_OCC})
),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pa, b.pos AS pb
  FROM kept a JOIN kept b USING (h)
  WHERE a.doc < b.doc
),
isl AS (
  SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS k
  FROM pairs
),
spans AS (
  SELECT doc_a, doc_b,
         CAST(min(pa) AS BIGINT) AS start_a,
         CAST(min(pb) AS BIGINT) AS start_b,
         CAST(count(*) + {DECON_GRAM_LEN} - 1 AS BIGINT) AS span_len
  FROM isl
  GROUP BY doc_a, doc_b, diag, k
  HAVING count(*) + {DECON_GRAM_LEN} - 1 >= {DECON_MIN}
),
tagged AS (
  SELECT s.*, da.source AS source_a, db.source AS source_b
  FROM spans s
  JOIN documents da ON da.doc_id = s.doc_a
  JOIN documents db ON db.doc_id = s.doc_b
  WHERE (da.source = '{EVAL_SOURCE}') <> (db.source = '{EVAL_SOURCE}')
)
SELECT CASE WHEN source_a = '{EVAL_SOURCE}' THEN doc_a ELSE doc_b END AS eval_doc,
       CASE WHEN source_a = '{EVAL_SOURCE}' THEN start_a ELSE start_b END AS eval_start,
       CASE WHEN source_a = '{EVAL_SOURCE}' THEN doc_b ELSE doc_a END AS train_doc,
       CASE WHEN source_a = '{EVAL_SOURCE}' THEN start_b ELSE start_a END AS train_start,
       CASE WHEN source_a = '{EVAL_SOURCE}' THEN source_b ELSE source_a END AS train_source,
       span_len
FROM tagged
ORDER BY eval_doc, eval_start, train_doc, train_start
"""


SQL_DECONTAMINATION_SPANS = _sql_decontamination_spans()

QUERIES_CORPUS["decontamination_spans"] = q_decontamination_spans
ORACLES_CORPUS["decontamination_spans"] = SQL_DECONTAMINATION_SPANS


# --- DSIR importance weights + Gumbel top-k resample (Xie et al. 2023
# — the published data-curation rung beside quality_score / sampling;
# r13 verdict item 2) -------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_Q = 1_000_000
DSIR_K = 64
DSIR_SALT = "dsir0"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hashed-bigram log-importance weights toward the
    eval-source target distribution
    (``operators/corpus.dsir_logweights``): every raw (non-eval) doc
    scored by how much likelier its hashed word-bigram bag is under
    the target histogram than the raw histogram — exact integer sums
    of int64-quantized per-bucket log-ratios (the ``lm_score``
    convention), so the oracle replays the whole model
    bit-identically.  Target = ``src19`` (the corpus's stand-in
    benchmark/domain set, the ``contamination`` convention)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != EVAL_SOURCE)
    tgt = docs.filter(F.col("source") == EVAL_SOURCE)
    wts = corpus.dsir_logweights(raw, tgt, buckets=DSIR_BUCKETS, q=DSIR_Q)
    return (
        wts.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_grams", "logweight_q6", "logweight")
        .orderBy("doc_id")
    )


def _sql_dsir_lam() -> str:
    """Shared oracle CTE chain: hashed-bigram occurrences, per-side
    histograms, quantized per-bucket log-likelihood-ratios, and the
    per-raw-doc integer weight sums — mirrors
    ``operators/corpus.dsir_logweights`` term for term (same ln
    grouping order, same +1 / +buckets smoothing)."""
    B, q = DSIR_BUCKETS, DSIR_Q
    return f"""dsir_words AS (
    SELECT doc_id, source, string_split_regex(lower(text), ' +') AS w
    FROM documents
),
dsir_occs AS (
    SELECT doc_id, source,
           {duck_hash60("w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]")}
             % {B} AS bucket
    FROM (
        SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
        FROM dsir_words WHERE len(w) >= 2
    )
),
rh AS (SELECT bucket, count(*) AS cr FROM dsir_occs
       WHERE source <> '{EVAL_SOURCE}' GROUP BY bucket),
th AS (SELECT bucket, count(*) AS ct FROM dsir_occs
       WHERE source = '{EVAL_SOURCE}' GROUP BY bucket),
tot AS (SELECT (SELECT coalesce(sum(cr), 0) FROM rh) AS tr,
               (SELECT coalesce(sum(ct), 0) FROM th) AS tt),
lam AS (
    SELECT coalesce(rh.bucket, th.bucket) AS bucket,
           CAST(round((ln(coalesce(ct, 0) + 1) - ln(tt + {B})
                       - ln(coalesce(cr, 0) + 1) + ln(tr + {B})) * {q})
                AS BIGINT) AS lam_q
    FROM rh FULL OUTER JOIN th ON rh.bucket = th.bucket CROSS JOIN tot
),
dsir_scored AS (
    SELECT o.doc_id, count(*) AS n_grams, sum(lam_q) AS lw
    FROM dsir_occs o JOIN lam USING (bucket)
    WHERE o.source <> '{EVAL_SOURCE}'
    GROUP BY o.doc_id
),
dsir_weights AS (
    SELECT d.doc_id, d.source,
           CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(s.lw, 0) AS BIGINT) AS logweight_q6
    FROM documents d LEFT JOIN dsir_scored s USING (doc_id)
    WHERE d.source <> '{EVAL_SOURCE}'
)"""


def _sql_dsir_weights() -> str:
    return f"""
WITH {_sql_dsir_lam()}
SELECT doc_id, source, n_grams, logweight_q6,
       round(logweight_q6 / {float(DSIR_Q)}, 6) AS logweight
FROM dsir_weights
ORDER BY doc_id
"""


SQL_DSIR_WEIGHTS = _sql_dsir_weights()

QUERIES_CORPUS["dsir_weights"] = q_dsir_weights
ORACLES_CORPUS["dsir_weights"] = SQL_DSIR_WEIGHTS

# Gumbel hash grid: 2^52 keeps (h52 + 1) and (2^52 + 1) exactly
# representable as doubles, so u = (h52 + 1) / (2^52 + 1) is ONE
# correctly-rounded division of exact operands — bit-identical in both
# engines and strictly inside (0, 1) (a 2^60 grid would round u to
# exactly 1.0 for the top hash values and -ln(-ln(1)) = inf)
DSIR_GUMBEL_GRID = 1 << 52


def q_dsir_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resample over the DSIR weights
    (``operators/corpus.dsir_resample``): the k documents with the
    largest ``logweight_q6 + quantized salted-hash Gumbel`` — exactly
    a without-replacement sample with probability ∝ importance weight
    (Gumbel-max), yet deterministic across runs, engines, and
    partitionings.  Selection is a TakeOrdered top-k, never a full
    sort."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != EVAL_SOURCE)
    tgt = docs.filter(F.col("source") == EVAL_SOURCE)
    wts = corpus.dsir_logweights(raw, tgt, buckets=DSIR_BUCKETS, q=DSIR_Q)
    res = corpus.dsir_resample(wts, k=DSIR_K, salt=DSIR_SALT, q=DSIR_Q)
    return (
        res.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "logweight_q6", "key_q6", "rank")
        .orderBy("rank")
    )


def _sql_dsir_sample_topk() -> str:
    g, q = DSIR_GUMBEL_GRID, DSIR_Q
    return f"""
WITH {_sql_dsir_lam()},
keyed AS (
    SELECT doc_id, source, logweight_q6,
           logweight_q6 + CAST(round(-ln(-ln(
               (({duck_hash60(f"'{DSIR_SALT}:' || CAST(doc_id AS VARCHAR)")}
                 % {g}) + 1) / {float(g + 1)!r}
           )) * {q}) AS BIGINT) AS key_q6
    FROM dsir_weights
)
SELECT doc_id, source, logweight_q6, key_q6,
       CAST(row_number() OVER (ORDER BY key_q6 DESC, doc_id) AS BIGINT) AS rank
FROM keyed
ORDER BY key_q6 DESC, doc_id
LIMIT {DSIR_K}
"""


SQL_DSIR_SAMPLE_TOPK = _sql_dsir_sample_topk()

QUERIES_CORPUS["dsir_sample_topk"] = q_dsir_sample_topk
ORACLES_CORPUS["dsir_sample_topk"] = SQL_DSIR_SAMPLE_TOPK


# ---------------------------------------------------------------------------
# Round-16 registrations (formerly queries_staged.py): per-eval-doc
# decontamination report (r13 verdict item 5) and UniMax budget
# allocation (Chung et al. 2023).  Gates in tests/test_decontamination.py
# and tests/test_unimax.py.
# ---------------------------------------------------------------------------

#: flag an eval doc when >= 1/20 (5%) of its characters are covered by
#: verbatim train overlaps — integer-compared (20·overlap >= n_chars)
#: so the verdict never touches a float
DECON_RATE_NUM, DECON_RATE_DEN = 1, 20


def q_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-document contamination RATE over the span output — the
    artifact a corpus owner actually consumes (r13 verdict item 5):
    for EVERY eval doc, the union of its train-overlapped character
    intervals (overlapping spans must not double-count), the span and
    distinct-train-doc counts, the rate against the doc's length, the
    integer-exact flag at ``DECON_RATE_NUM/DECON_RATE_DEN``, and the
    doc's ``dataset_split`` assignment (same fractions/salt as the
    registered query) — so train/val assignment is auditable
    end-to-end against contamination pressure.

    Interval union is one window pass per eval doc: a span starts a
    new covered island iff its start lies strictly past the running
    max end of every earlier span (sorted by start; ties broken by
    end/train ids for full determinism); union length is then the sum
    of per-island extents.  Adjacent-but-not-overlapping islands sum
    to the same char count merged or not, so the strict comparison is
    exact.  Clean eval docs appear with zeros (an auditor must see the
    whole benchmark, not only the dirty part).

    Scale shape: the spans frame is the (already bounded) island-join
    output keyed by eval_doc — the window and the final aggregate
    reuse that one partitioning; the eval-doc dimension join is a
    broadcast (the benchmark set is small by construction)."""
    from pyspark.sql import Window

    spans = _decontamination_spans_frame(spark, sf_dir).select(
        "eval_doc",
        "eval_start",
        (F.col("eval_start") + F.col("span_len") - 1).alias("eval_end"),
        "train_doc",
    )
    w = Window.partitionBy("eval_doc").orderBy(
        "eval_start", "eval_end", "train_doc"
    )
    prev_max = F.max("eval_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = spans.withColumn(
        "isl",
        F.sum(
            F.when(prev_max.isNull() | (F.col("eval_start") > prev_max), 1).otherwise(
                0
            )
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        islands.groupBy("eval_doc", "isl")
        .agg(
            (F.max("eval_end") - F.min("eval_start") + 1).alias("ext"),
            F.count(F.lit(1)).alias("n"),
            F.collect_set("train_doc").alias("tset"),
        )
        .groupBy("eval_doc")
        .agg(
            F.sum("ext").cast("long").alias("overlap_chars"),
            F.sum("n").cast("long").alias("n_spans"),
            F.size(F.array_distinct(F.flatten(F.collect_list("tset"))))
            .cast("long")
            .alias("n_train_docs"),
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = corpus.split_assign(
        docs.filter(F.col("source") == EVAL_SOURCE),
        SPLIT_FRACTIONS,
        salt=SPLIT_SALT,
        grid=SPLIT_GRID,
    ).select("doc_id", "split", "n_chars")
    out = eval_docs.join(
        per_doc, eval_docs.doc_id == per_doc.eval_doc, "left"
    ).select(
        F.col("doc_id").alias("eval_doc"),
        "split",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
        F.coalesce("overlap_chars", F.lit(0)).cast("long").alias("overlap_chars"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(F.coalesce("overlap_chars", F.lit(0)) / F.col("n_chars"), 6).alias(
            "contamination_rate"
        ),
        F.when(
            F.coalesce("overlap_chars", F.lit(0)) * DECON_RATE_DEN
            >= F.col("n_chars") * DECON_RATE_NUM,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("flagged"),
    )
    return out.orderBy("eval_doc")


def _sql_decontamination_report() -> str:
    lo = 0
    cases = []
    for name, frac in SPLIT_FRACTIONS.items():
        hi = lo + int(frac * SPLIT_GRID)
        cases.append(f"WHEN b >= {lo} AND b < {hi} THEN '{name}'")
        lo = hi
    decon = SQL_DECONTAMINATION_SPANS.strip().rstrip()
    # reuse the registered spans oracle verbatim as a subquery (minus
    # its display ORDER BY — the aggregate re-sorts)
    decon = decon[: decon.rindex("ORDER BY")]
    return f"""
WITH spanrows AS (
    SELECT eval_doc, eval_start,
           eval_start + span_len - 1 AS eval_end, train_doc
    FROM ({decon})
),
flagged_isl AS (
    SELECT eval_doc, eval_start, eval_end, train_doc,
           CASE WHEN max(eval_end) OVER (
                    PARTITION BY eval_doc
                    ORDER BY eval_start, eval_end, train_doc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                 OR eval_start > max(eval_end) OVER (
                    PARTITION BY eval_doc
                    ORDER BY eval_start, eval_end, train_doc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) THEN 1 ELSE 0 END AS new_isl
    FROM spanrows
),
isl AS (
    SELECT *, sum(new_isl) OVER (
               PARTITION BY eval_doc
               ORDER BY eval_start, eval_end, train_doc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS isl
    FROM flagged_isl
),
per_isl AS (
    SELECT eval_doc, isl,
           max(eval_end) - min(eval_start) + 1 AS ext,
           count(*) AS n,
           list(DISTINCT train_doc) AS tset
    FROM isl GROUP BY eval_doc, isl
),
per_doc AS (
    SELECT eval_doc,
           sum(ext) AS overlap_chars,
           sum(n) AS n_spans,
           len(list_distinct(flatten(list(tset)))) AS n_train_docs
    FROM per_isl GROUP BY eval_doc
),
eval_docs AS (
    SELECT doc_id, n_chars,
           CASE {" ".join(cases)} ELSE '__rest' END AS split
    FROM (
        SELECT doc_id, n_chars,
               {duck_hash60(f"'{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)")}
                 % {SPLIT_GRID} AS b
        FROM documents WHERE source = '{EVAL_SOURCE}'
    )
)
SELECT e.doc_id AS eval_doc, e.split,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.n_train_docs, 0) AS BIGINT) AS n_train_docs,
       CAST(coalesce(p.overlap_chars, 0) AS BIGINT) AS overlap_chars,
       CAST(e.n_chars AS BIGINT) AS n_chars,
       round(coalesce(p.overlap_chars, 0) / CAST(e.n_chars AS DOUBLE), 6)
         AS contamination_rate,
       CAST(CASE WHEN coalesce(p.overlap_chars, 0) * {DECON_RATE_DEN}
                      >= e.n_chars * {DECON_RATE_NUM}
            THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM eval_docs e LEFT JOIN per_doc p ON e.doc_id = p.eval_doc
ORDER BY e.doc_id
"""


SQL_DECONTAMINATION_REPORT = _sql_decontamination_report()

QUERIES_CORPUS["decontamination_report"] = q_decontamination_report
ORACLES_CORPUS["decontamination_report"] = SQL_DECONTAMINATION_REPORT


UNIMAX_EPOCHS = 1
UNIMAX_FRAC = (19, 20)


def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax waterfill over per-source character budgets
    (``operators/corpus.unimax_allocation``): allocate 19/20 of the
    corpus's total characters uniformly across sources with a
    1-epoch per-source cap — small sources cap out at their full
    data, the freed budget redistributes over the rest, and
    ``Σ alloc`` equals the budget EXACTLY (integer waterfill; the
    division remainder goes to the first uncapped sources in sort
    order).  The 19/20 fraction sits inside this corpus's ±20%
    source-size spread deliberately, so BOTH branches (capped and
    level-allocated) are populated at every committed scale — a
    budget under the smallest cap would leave ``is_capped``
    constant-zero and the oracle value-blind to the prefix logic."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.sum("n_chars").alias("n_chars"))
    return corpus.unimax_allocation(
        src, max_epochs=UNIMAX_EPOCHS, budget_frac=UNIMAX_FRAC
    ).orderBy("source")


def _sql_unimax_allocation() -> str:
    e = UNIMAX_EPOCHS
    p, q = UNIMAX_FRAC
    return f"""
WITH src AS (
    SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_avail
    FROM documents GROUP BY source
),
tot AS (SELECT count(*) AS m, sum(n_avail) AS ntot FROM src),
ranked AS (
    SELECT source, n_avail, n_avail * {e} AS cap,
           CAST(row_number() OVER (ORDER BY n_avail * {e}, source) AS BIGINT) AS idx,
           coalesce(sum(n_avail * {e}) OVER (
               ORDER BY n_avail * {e}, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
           m, (ntot * {p}) // {q} AS B
    FROM src CROSS JOIN tot
),
flagged AS (
    SELECT *, B - pfx AS rem, m - idx + 1 AS denom,
           CASE WHEN cap * (m - idx + 1) >= B - pfx THEN 1 ELSE 0 END AS ok
    FROM ranked
),
solved AS (
    SELECT *,
           max(CASE WHEN ok = 1 THEN rem END) OVER () AS rem_k,
           max(CASE WHEN ok = 1 THEN denom END) OVER () AS denom_k,
           max(idx) OVER () AS mx
    FROM flagged
),
alloc AS (
    SELECT source, n_avail, cap, denom_k,
           CASE WHEN denom_k IS NULL OR idx < mx - denom_k + 1 THEN 1 ELSE 0 END AS is_capped,
           CASE WHEN denom_k IS NULL THEN cap
                WHEN idx < mx - denom_k + 1 THEN cap
                ELSE rem_k // denom_k
                     + CASE WHEN idx - (mx - denom_k + 1) < rem_k % denom_k
                            THEN 1 ELSE 0 END
           END AS alloc
    FROM solved
)
SELECT source, n_avail, CAST(cap AS BIGINT) AS cap,
       CAST(alloc AS BIGINT) AS alloc,
       CASE WHEN n_avail > 0 THEN round(alloc / CAST(n_avail AS DOUBLE), 6)
            ELSE 0.0 END AS epochs,
       CAST(is_capped AS BIGINT) AS is_capped
FROM alloc
ORDER BY source
"""


SQL_UNIMAX_ALLOCATION = _sql_unimax_allocation()

QUERIES_CORPUS["unimax_allocation"] = q_unimax_allocation
ORACLES_CORPUS["unimax_allocation"] = SQL_UNIMAX_ALLOCATION


# ---------------------------------------------------------------------------
# Round-18 registration (formerly queries_staged.py): CCNet
# perplexity-bucket filtering (Wenzek et al. 2020; the published
# LM-quality rung above the raw lm_score).  Gates in tests/test_ccnet.py.
# ---------------------------------------------------------------------------

CCNET_BIN_W = 2_000
CCNET_OFFSET = 10_000_000


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets over ``documents``
    (``operators/corpus.ccnet_ppl_buckets``): per-source thirds of the
    char-bigram LM score distribution via integer histogram cuts —
    the paper's per-language percentile filter with ``source`` as the
    language analog; ``kept`` = head+middle.  Every arithmetic step
    after the one re-quantizing division is exact integer, so the
    oracle replays bucket boundaries bit-identically."""
    from pyspark_pipelining_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    return corpus.ccnet_ppl_buckets(
        docs, bin_w=CCNET_BIN_W, offset=CCNET_OFFSET
    ).orderBy("doc_id")


def _sql_ccnet_ppl_buckets() -> str:
    w, off = CCNET_BIN_W, CCNET_OFFSET
    return f"""
WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
    FROM base WHERE length(t) >= 2
),
toks AS (SELECT doc_id, substring(t, i, 2) AS bg FROM idx),
c2 AS (SELECT bg, count(*) AS c2 FROM toks GROUP BY bg),
c1 AS (SELECT substring(bg, 1, 1) AS ch, sum(c2) AS c1 FROM c2 GROUP BY 1),
model AS (
    SELECT bg, CAST(round((ln(c2) - ln(c1)) * 1000000) AS BIGINT) AS logp_q6
    FROM c2 JOIN c1 ON substring(bg, 1, 1) = c1.ch
),
per AS (
    SELECT doc_id, count(*) AS n_bigrams, sum(logp_q6) AS total_q6
    FROM toks JOIN model USING (bg) GROUP BY doc_id
),
scored AS (
    SELECT p.doc_id, d.source,
           CAST(round(p.total_q6 / CAST(p.n_bigrams AS DOUBLE)) AS BIGINT)
             AS score_q6
    FROM per p JOIN documents d USING (doc_id)
),
binned AS (
    SELECT doc_id, source, score_q6, (score_q6 + {off}) // {w} AS bin
    FROM scored
),
hist AS (SELECT source, bin, count(*) AS c FROM binned GROUP BY source, bin),
cum AS (
    SELECT source, bin, c,
           sum(c) OVER (PARTITION BY source ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM hist
),
tot AS (SELECT source, sum(c) AS n FROM hist GROUP BY source),
cuts AS (
    SELECT cum.source,
           min(CASE WHEN 3 * cum >= n THEN bin END) AS t1,
           min(CASE WHEN 3 * cum >= 2 * n THEN bin END) AS t2
    FROM cum JOIN tot ON cum.source = tot.source
    GROUP BY cum.source
)
SELECT b.doc_id, b.source, b.score_q6, CAST(b.bin AS BIGINT) AS bin,
       CASE WHEN b.bin <= c.t1 THEN 'tail'
            WHEN b.bin <= c.t2 THEN 'middle'
            ELSE 'head' END AS bucket,
       CAST(CASE WHEN b.bin <= c.t1 THEN 0 ELSE 1 END AS BIGINT) AS kept
FROM binned b JOIN cuts c ON b.source = c.source
ORDER BY b.doc_id
"""


SQL_CCNET_PPL_BUCKETS = _sql_ccnet_ppl_buckets()

QUERIES_CORPUS["ccnet_ppl_buckets"] = q_ccnet_ppl_buckets
ORACLES_CORPUS["ccnet_ppl_buckets"] = SQL_CCNET_PPL_BUCKETS


# ---------------------------------------------------------------------------
# Round-18 registration (formerly queries_staged.py): DCLM /
# fastText-style model-based quality filter (Li et al. 2024 filter with
# a fastText classifier; Joulin et al. 2016 fastText is LINEAR over
# hashed n-gram bags, so the FROZEN model — trained once offline by
# tools/gen_fasttext_fixture.py, int64-quantized, committed as
# fixtures/fasttext/weights.parquet — replays bit-identically in SQL,
# the sim_ivf_learned_topk trainer/scorer split).  Gates in
# tests/test_fasttext.py.
# ---------------------------------------------------------------------------

def _fasttext_fixture_path() -> str:
    import os

    from pyspark_pipelining_spark.sources.registry import fixtures_dir

    return os.path.join(fixtures_dir("fasttext"), "weights.parquet")


def q_fasttext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scores over ``documents``
    (``operators/text.linear_quality_score``): every doc scored by the
    committed frozen linear hashed-bigram classifier — exact int64
    weight sums, ``kept`` = sign of the mean score as an integer
    comparison, ``score_q6`` the one correctly-rounded division —
    joined to ``source``/``lang`` so keep-rate by slice reads
    directly."""
    from pyspark_pipelining_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    weights = spark.read.parquet(_fasttext_fixture_path())
    scored = text_ops.linear_quality_score(docs, weights)
    return (
        scored.join(docs.select("doc_id", "source", "lang"), "doc_id")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_grams",
            "sum_q6",
            "score_q6",
            "kept",
        )
        .orderBy("doc_id")
    )


def _sql_fasttext_quality() -> str:
    from pyspark_pipelining_spark.operators.text import FASTTEXT_BUCKETS
    from pyspark_pipelining_spark.sources.registry import sql_str_literal

    b = FASTTEXT_BUCKETS
    path = sql_str_literal(_fasttext_fixture_path())
    return f"""
WITH wt AS (SELECT bucket, w_q6 FROM '{path}'),
bias AS (SELECT w_q6 AS bias_q6 FROM wt WHERE bucket = -1),
wrds AS (
    SELECT doc_id, string_split_regex(lower(text), ' +') AS w
    FROM documents
),
grams AS (
    SELECT doc_id,
           {duck_hash60('g')} % {b} AS bucket
    FROM (
        SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
              FROM wrds WHERE len(w) >= 2)
    )
),
per AS (
    SELECT doc_id, count(*) AS n_grams, sum(w_q6) AS sum_q6
    FROM grams JOIN wt USING (bucket)
    GROUP BY doc_id
)
SELECT d.doc_id, d.source, d.lang,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.sum_q6, 0) AS BIGINT) AS sum_q6,
       CAST(CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN CAST(round((coalesce(p.sum_q6, 0)
                             + bias.bias_q6 * p.n_grams)
                            / CAST(p.n_grams AS DOUBLE)) AS BIGINT)
            ELSE 0 END AS BIGINT) AS score_q6,
       CAST(CASE WHEN coalesce(p.n_grams, 0) > 0
                  AND coalesce(p.sum_q6, 0) + bias.bias_q6 * p.n_grams > 0
            THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM documents d
LEFT JOIN per p ON d.doc_id = p.doc_id
CROSS JOIN bias
ORDER BY d.doc_id
"""


SQL_FASTTEXT_QUALITY = _sql_fasttext_quality()

QUERIES_CORPUS["fasttext_quality"] = q_fasttext_quality
ORACLES_CORPUS["fasttext_quality"] = SQL_FASTTEXT_QUALITY
