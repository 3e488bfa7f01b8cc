"""Deduplication operators for training-data pipelines
(beyond-reference scope — SURVEY §7.2 step 12).

Operators read the documents table's fixed columns ``doc_id, text,
source, n_chars``.  The families, each a standard large-corpus
technique:

* **exact**: group by content (or fingerprint) hash, keep the smallest
  id — one shuffle, the 100 TB workhorse.
* **MinHash + LSH**: shingle → minhash signature → band buckets →
  candidate pairs (:func:`near_dup_pairs` is the registered cut), then
  connected components (:func:`dedup_clusters`).  Signatures/bands are
  array columns built entirely from JVM higher-order functions; the
  only shuffle is the band-bucket self-join.
* **SimHash**: per-bit majority vote over token hashes → 32-bit
  signature; near-dups share signatures (or differ in few bits).
* **exact set-similarity joins** (n-gram Jaccard, prefix-filtered
  Jaccard and containment) share three stages: :func:`_postings`
  (persisted distinct ``(doc_id, tok)`` shingle postings),
  :func:`_rare_prefix` (rarest-first prefix per document — the
  candidate filter of the prefix joins) and :func:`_overlap` (exact
  ``|A ∩ B|`` over candidate pairs only), joined to per-document set
  sizes by :func:`_with_sizes`.  :func:`tfidf_cosine_pairs` is the
  weighted variant.
* **span and paragraph grain**: :func:`exact_substring_spans` (verbatim
  repeated passages), :func:`paragraph_dup_stats` (MinHash-LSH over
  paragraph chunks), and :func:`semantic_dedup` over embeddings.

Every hashed id derives from :func:`portable_hash60`, the first 60 bits
of ``md5``: identical in Spark and DuckDB, so the oracles replay it
bit-for-bit, and pure map-side work — no global id assignment, no
extra shuffle, scale-indifferent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark import cache
from pyspark_pipelining_spark.operators.graph import duck_edges, symmetrize
from pyspark_pipelining_spark.operators.iterate import iterate
from pyspark_pipelining_spark.operators.text import with_words, word_grams
from pyspark_pipelining_spark.sources.registry import spread


MERSENNE = (1 << 31) - 1  # 2147483647, prime — minhash universe

#: estimated-Jaccard cut of the registered near-duplicate pair set
NEAR_DUP_JACCARD = 0.5

SIMHASH_BITS = 32


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the ``(a·x + b) mod M`` hash family.

    The multipliers are multiples of Knuth's 2654435761 reduced mod M —
    large enough that ``a·x`` wraps the modulus many times even for small
    dense-rank shingle ids.  (Tiny multipliers like ``2i+1`` make every
    h_i monotone over a dense id space, so all hashes elect the same
    minimum shingle and the signature degenerates to a function of one
    shingle.)  ``a·x`` stays under 2^62, so int64 math is exact in both
    Spark and DuckDB.
    """
    return [
        ((2654435761 * (i + 1)) % MERSENNE, 7919 * (i + 1) % MERSENNE)
        for i in range(num_hashes)
    ]


def portable_hash60(col):
    """Engine-portable string→bigint hash: the first 15 hex chars of md5
    (60 bits) read as a bigint — the one spelling of the hash every
    sketch, sampler and shingle id here derives from.

    Spark: ``conv(substring(md5(c),1,15),16,10)``; the DuckDB oracles
    spell it through :func:`duck_hash60` — bit-identical.  Pure
    map-side work, so id assignment costs no shuffle at any scale
    (unlike a dense_rank over the distinct values, which funnels the
    whole vocabulary through one partition).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def duck_hash60(sql_expr: str) -> str:
    """:func:`portable_hash60` as DuckDB SQL over the VARCHAR expression
    ``sql_expr`` — the one oracle spelling of the hash.  A salt is part
    of ``sql_expr`` (``'salt:' || ...``); a ``% m`` reduction stays at
    the call site."""
    return f"('0x' || substr(md5({sql_expr}), 1, 15))::BIGINT"


def portable_hash_id(col, mod: int):
    """:func:`portable_hash60` reduced mod ``mod``."""
    return F.pmod(portable_hash60(col), F.lit(mod))


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keep one row (smallest ``doc_id``) per distinct value of ``key_cols``.

    Hash-groupBy dedup: one shuffle on the content key; at 100 TB the
    key should be a fingerprint/hash column, not raw text.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", *key_cols)
    )


def word_ngrams(df: DataFrame, n: int = 2) -> DataFrame:
    """``words`` plus their word n-gram array ``ngrams``
    (:func:`text.word_grams`; no UDF)."""
    return with_words(df).withColumn("ngrams", word_grams(n))


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    ngram: int = 2,
) -> DataFrame:
    """Per-document minhash signature as an array<long> column.

    Hash family: ``h_i(x) = (a_i·x + b_i) mod M`` with deterministic
    odd coefficients; signature element i is the min over the document's
    shingle ids.  Output: doc_id, sig (array<long> of length
    ``num_hashes``).

    Scale shape (r16): ENTIRELY MAP-SIDE.  The shingles are already
    per-document arrays, so each ``h_i`` is an ``array_min`` over a
    ``transform`` of the in-row shingle-id array — no explode, no
    per-doc aggregation exchange.  A 100 TB corpus computes signatures
    in the scan stage; the first shuffle of the LSH pipeline is the
    band-bucket join itself.  (A/B at sf0.1: 0.94 → 0.50 s median.)
    Docs with no shingle (shorter than the n-gram width) are dropped by
    the word-count guard — exactly the rows the former explode+groupBy
    never produced (``ngrams`` is empty iff the doc has fewer than
    ``ngram`` words, by :func:`word_ngrams`'s definition).  The guard
    deliberately tests ``size(words)``, NOT ``size(sids)``: predicate
    pushdown substitutes the filtered column's defining expression and
    pushes the filter below the scan-side repartition, so a guard on
    the hashed-id array would re-evaluate the whole tokenize+md5 chain
    single-threaded on the pre-repartition partitions (measured: 0.5 →
    6.4 s at sf0.1).  A guard on ``words`` only duplicates the cheap
    split.
    """
    grams = word_ngrams(df, ngram).filter(F.size("words") >= ngram)
    ids = F.transform(F.array_distinct("ngrams"), lambda s: portable_hash_id(s, MERSENNE))
    coeffs = minhash_coeffs(num_hashes)
    sig = F.array(*[
        F.array_min(F.transform("sids", lambda x: (x * a + b) % MERSENNE))
        for (a, b) in coeffs
    ])
    return grams.select("doc_id", ids.alias("sids")).select(
        "doc_id", sig.alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    ngram: int = 2,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents agreeing on at least one
    LSH band (``bands`` bands of ``num_hashes/bands`` rows), with their
    estimated Jaccard (signature agreement rate).

    Output: doc_1, doc_2 (doc_1 < doc_2), est_jaccard.  Scale: the
    self-join keys on (band index, band signature slice) so only
    same-bucket documents ever meet — the standard LSH shuffle shape.
    """
    rows = num_hashes // bands
    # persist the signature stage: the LSH self-join references it on both
    # sides, and without the cache the whole shingle→signature pipeline
    # (including the portable-id assignment) would execute once per branch
    sigs = cache.keep(minhash_signatures(df, num_hashes, ngram))
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.slice("sig", b * rows + 1, rows).cast("array<long>").alias("bsig"),
        ),
    )
    banded = sigs.select("doc_id", "sig", F.explode(band_arr).alias("b")).select(
        "doc_id", "sig", F.col("b.band").alias("band"), F.col("b.bsig").alias("bsig")
    )
    # both sides carry their full signature through the bucket join, so the
    # estimated Jaccard needs no extra join back onto the signature table
    left = banded.alias("l")
    right = banded.alias("r")
    agree = F.size(
        F.filter(
            F.zip_with("sig1", "sig2", lambda a, b: a == b), lambda x: x
        )
    )
    # est_jaccard is computed BEFORE the pair dedup (r17, guide §2.3
    # "shuffle fewer bytes"): it is a pure function of the two per-doc
    # signatures, so every duplicate candidate row carries the identical
    # value and dedup-then-score equals score-then-dedup row for row —
    # but scoring first means the dedup exchange moves (doc_1, doc_2,
    # est_jaccard) = 24 B rows instead of two 16-long signature arrays
    # (~280 B).  Including est_jaccard in the dropDuplicates key set is
    # free (constant per pair ⇒ same groups) and makes it a GROUPING
    # column, so a consumer's threshold filter (est_jaccard >= t, the
    # graph family's 0.5) is pushed below the dedup aggregate by
    # Catalyst — non-qualifying candidates never enter the exchange.
    # A/B at sf0.1: 1.65 → 1.57 s median (bit-identical, 235k pairs).
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bsig") == F.col("r.bsig"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(
            F.col("l.doc_id").alias("doc_1"),
            F.col("r.doc_id").alias("doc_2"),
            F.col("l.sig").alias("sig1"),
            F.col("r.sig").alias("sig2"),
        )
        .select(
            "doc_1",
            "doc_2",
            (agree.cast("double") / num_hashes).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_1", "doc_2", "est_jaccard"])
    )
    # no trailing orderBy: the pair set is fact-sized (O(corpus) at 100 TB)
    # and every consumer (threshold filter, component propagation, driver
    # hash-compare) is order-insensitive — a global sort here is a pure
    # range-shuffle tax
    return cand


def near_dup_pairs(docs: DataFrame) -> DataFrame:
    """The registered near-duplicate pair set: default-parameter
    :func:`minhash_lsh_pairs` cut at ``est_jaccard >= NEAR_DUP_JACCARD``
    (the cut is pushed below the pair dedup, see there).  The graph
    family's edge list and every dedup query read this one cut; the
    oracles render the same constant."""
    return minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= NEAR_DUP_JACCARD)


def cluster_assignments(pairs: DataFrame, max_iter: int = 12) -> DataFrame:
    """Connected-component labels over a candidate-pair edge list:
    every document maps to the smallest doc id reachable through the
    pair graph (min-id label propagation with pointer jumping).

    Input: ``doc_1, doc_2`` (either orientation).  Output: ``doc_id,
    cluster_id`` — one row per document that appears in at least one
    pair.  Use :func:`dedup_clusters` to extend labels to unpaired docs.

    Round structure (tuned: iterative rounds pay fixed per-stage
    scheduling + codegen cost, so fewer/leaner rounds beat clever ones):

    * **round 0 is fused into initialization** — the first label is
      ``min(self, direct neighbors)`` from the same groupBy that builds
      the vertex set, so cliques converge after a single loop round;
    * each round takes min over (own label, neighbors' labels) as ONE
      shuffle join + ONE union/groupBy (no join-back — the union carries
      the old labels into the same aggregation), then POINTER-JUMPS:
      follows the label one hop (label-of-label), which doubles the
      propagation distance per round — O(log diameter) rounds instead
      of O(diameter).  Near-dup graphs are not always near-cliques:
      template chains (doc A ~ B ~ C ... with A ≁ C) produce diameters
      in the dozens, where plain propagation exhausts any sane round
      budget (measured: 13 rounds at sf0.1 vs 7 with the jump);
    * the loop runs through :func:`iterate.iterate` in blocks of 4
      rounds per driver action, probing ``sum(cluster_id)``: labels are
      monotonically non-increasing, so the sum is unchanged iff no
      label moved, and a stable labeling is component-constant
      (standard argument).  At sf0.1 the 7-round fixpoint costs 2 block
      actions; labels never collect to the driver.
    """
    # one map-side explode (graph.symmetrize) = one reference to the
    # pair pipeline, so it runs exactly once inside the first block job
    # and needs no separate materialization action
    edges = symmetrize(pairs).localCheckpoint(eager=False)
    # fused round 0: every vertex appears as src in the symmetrized edge
    # list, so one groupBy yields both the vertex set and its first label
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nbr_min").alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )

    def one_round(lbl: DataFrame) -> DataFrame:
        # min over self + neighbors: the union replaces a second join —
        # both branches land in the same partial-agg'd groupBy
        stepped = (
            edges.join(lbl, on=edges["dst"] == lbl["doc_id"])
            .select(F.col("src").alias("doc_id"), "cluster_id")
            .unionByName(lbl)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("mid"))
        )
        # pointer jump: label[v] <- min(label[v], label[label[v]]).
        # The jump reads the round-entry label table (not `stepped`):
        # any reachable label is a valid upper bound, and it keeps the
        # ptr side a cheap checkpointed scan instead of a duplicated
        # join/agg subtree.
        ptr = lbl.select(F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_lbl"))
        return stepped.join(ptr, on=stepped["mid"] == ptr["p_id"], how="left").select(
            stepped["doc_id"],
            F.least("mid", F.coalesce("p_lbl", "mid")).alias("cluster_id"),
        )

    return iterate(labels, one_round, max_iter, until=F.sum("cluster_id"), block=4)


def duck_components() -> str:
    """:func:`cluster_assignments` as DuckDB SQL: the ``edges``,
    ``walk`` and ``comp(doc_id, cluster_id)`` CTEs over a ``pairs(doc_1,
    doc_2)`` CTE, for a ``WITH RECURSIVE`` list.  The oracle computes
    component min-ids with a recursive reachability walk (UNION dedups,
    so it terminates); fine at oracle scale, where the engine side uses
    bounded label propagation."""
    return f"""{duck_edges()},
walk(doc_id, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.doc_id
),
comp AS (SELECT doc_id, min(lbl) AS cluster_id FROM walk GROUP BY doc_id)"""


def dedup_clusters(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-document cluster ids over the full corpus: paired docs get
    their component's min id, unpaired docs are their own cluster.

    Output: ``doc_id, cluster_id``.  The duplicate-drop policy is then
    ``keep rows where doc_id == cluster_id`` (see
    :func:`drop_duplicate_docs`).
    """
    comp = cluster_assignments(pairs)
    return (
        df.select("doc_id")
        .join(comp, on="doc_id", how="left")
        .select("doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
    )


def drop_duplicate_docs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep one representative (the min-id doc) per near-duplicate
    cluster — the end-to-end dedup pipeline: LSH pairs → components →
    filter."""
    clusters = dedup_clusters(df, pairs)
    keep_ids = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    return df.join(keep_ids, on="doc_id", how="left_semi")


def simhash(df: DataFrame) -> DataFrame:
    """Per-document SimHash: bit b is 1 iff the majority of the
    document's (distinct) tokens have bit b set in their token hash.

    Output: doc_id, simhash (long).  One explode + one groupBy with
    ``SIMHASH_BITS`` conditional sums — all codegen'd.
    """
    # per-doc distinct tokens map-side (array_distinct) — no dedup shuffle
    toks = (
        with_words(df)
        .select("doc_id", F.explode(F.array_distinct("words")).alias("token"))
        .withColumn("h", portable_hash_id(F.col("token"), 1 << SIMHASH_BITS))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def _postings(df: DataFrame, n: int, *keep: str) -> DataFrame:
    """Persisted distinct ``(doc_id, *keep, tok)`` word ``n``-gram
    postings, the input of every exact set-similarity join here.
    ``array_distinct`` dedups each document's shingles map-side, so no
    dropDuplicates shuffle; the persist runs the tokenize+explode once
    for the join sides, the prefix stage and the size aggregate."""
    return cache.keep(
        word_ngrams(df, n)
        .select("doc_id", *keep, F.array_distinct("ngrams").alias("gs"))
        .select("doc_id", *keep, F.explode("gs").alias("tok"))
    )


def _rare_prefix(toks: DataFrame, t: float) -> DataFrame:
    """Each document's rarest-first prefix ``doc_id, tok, sz``: the first
    ``sz - ⌈t·sz⌉ + 1`` of its ``sz`` postings under the global order
    (document frequency asc, token), the candidate filter of the
    AllPairs/PPJoin family.  Prefix tokens are the LOW-frequency ones,
    so candidate buckets stay small even on skewed vocabularies.

    Document frequency is a map-side-combined groupBy (vocab-sized
    output) joined back to the postings — NOT a count window over the
    tok partition.  The window form is ~10% faster at sf0.1 (r09 A/B:
    2.41 s vs 2.66 s median) but keys each token's FULL posting list
    to one non-splittable window task — a single boilerplate shingle
    in a web-scale corpus becomes a straggler/spill task no runtime
    can rescue (round-8 verdict watch-list).  The join-back is
    skew-PROOF instead: the aggregate combines map-side, AQE
    broadcasts the vocab table while it is small (zero extra shuffle
    of toks), and if a pathological vocabulary outgrows the threshold
    the fallback is a shuffle join AQE's skew-join splitting CAN carve
    up — no single-task hot key anywhere.  No broadcast hint, per the
    tfidf_cosine_pairs convention.  The doc-keyed count and rank
    windows stay: their partitions are bounded by document length."""
    wd = Window.partitionBy("doc_id")
    dfc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df_freq"))
    return (
        toks.join(dfc, "tok")
        .withColumn("sz", F.count(F.lit(1)).over(wd))
        .withColumn("pos", F.row_number().over(wd.orderBy("df_freq", "tok")))
        .filter(F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1)
        .select("doc_id", "tok", "sz")
    )


def _overlap(cand: DataFrame, toks: DataFrame, a: str, b: str) -> DataFrame:
    """Exact ``inter = |A ∩ B|`` for the candidate pairs ``(a, b)``
    only: both ends' postings join onto the pair and the shared tokens
    count — the verify stage never touches a non-candidate pair."""
    ta = toks.select(F.col("doc_id").alias(a), "tok")
    tb = toks.select(F.col("doc_id").alias(b), "tok")
    return (
        cand.join(ta, a)
        .join(tb, [b, "tok"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _with_sizes(pairs: DataFrame, toks: DataFrame, *ends: str) -> DataFrame:
    """``pairs`` plus each end's set size ``|A|`` as ``n_<end>``."""
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    for end in ends:
        pairs = pairs.join(
            sizes.select(F.col("doc_id").alias(end), F.col("n").alias(f"n_{end}")), end
        )
    return pairs


def _jaccard(inter: DataFrame, toks: DataFrame) -> DataFrame:
    """``doc_1, doc_2, jaccard`` (unrounded) from the pair overlaps."""
    j = F.col("inter") / (F.col("n_doc_1") + F.col("n_doc_2") - F.col("inter"))
    return _with_sizes(inter, toks, "doc_1", "doc_2").select(
        "doc_1", "doc_2", j.alias("jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Exact word-bigram Jaccard similarity for all document pairs
    within a ``source`` (the blocking key — at 100 TB this is the LSH
    bucket; here ``source`` keeps the pair count bounded).

    Output: doc_1, doc_2, jaccard.
    """
    toks = _postings(df, 2, "source")
    a = toks.alias("a")
    b = toks.select("doc_id", "source", "tok").alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in ("source", "tok")]
    inter = (
        a.join(b, on=on + [F.col("a.doc_id") < F.col("b.doc_id")])
        .groupBy(F.col("a.doc_id").alias("doc_1"), F.col("b.doc_id").alias("doc_2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = _jaccard(inter, toks)
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out  # fact-sized pair output — no global sort (see lsh_pairs)


def prefix_jaccard_join(
    df: DataFrame, threshold: float = NEAR_DUP_JACCARD, n: int = 1
) -> DataFrame:
    """EXACT all-pairs word-set Jaccard ≥ ``threshold`` across the whole
    corpus — no blocking key, no LSH randomness — via prefix filtering
    (the AllPairs/PPJoin family): under any global token order, two sets
    with J ≥ t must share a token within each side's first
    ``|s| - ⌈t·|s|⌉ + 1`` tokens (:func:`_rare_prefix`), so the
    candidate join runs only on those prefixes and misses nothing.

    Scale shape: the only corpus-sized shuffles are the DF join-back,
    the per-doc rank window (keyed on doc, bounded by doc length), and
    the prefix equi-join; exact verification (:func:`_overlap`) touches
    candidate pairs only.  Complements :func:`minhash_lsh_pairs`: same
    join, but deterministic and recall-lossless, at the cost of an
    exact verify stage.

    Output: ``doc_1, doc_2, jaccard`` (unrounded filter, rounded 6).
    """
    t = float(threshold)
    toks = _postings(df, n)
    prefix = _rare_prefix(toks, t)
    # length filter (lossless): J(A,B) >= t forces t·|A| <= |B| <= |A|/t,
    # so cross-length candidates drop before the verify stage — with the
    # prefix filter this is the PPJoin candidate bound
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            on=[
                F.col("a.tok") == F.col("b.tok"),
                F.col("a.doc_id") < F.col("b.doc_id"),
                F.col("b.sz") >= F.ceil(F.lit(t) * F.col("a.sz")),
                F.col("a.sz") >= F.ceil(F.lit(t) * F.col("b.sz")),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_1"), F.col("b.doc_id").alias("doc_2"))
        .distinct()
    )
    return (
        _jaccard(_overlap(cand, toks, "doc_1", "doc_2"), toks)
        .filter(F.col("jaccard") >= t)
        .select("doc_1", "doc_2", F.round("jaccard", 6).alias("jaccard"))
    )


def prefix_containment_join(df: DataFrame, threshold: float = 0.8, n: int = 4) -> DataFrame:
    """EXACT all-ORDERED-pairs shingle-set CONTAINMENT
    ``C(A→B) = |A ∩ B| / |A| ≥ threshold`` — the asymmetric complement
    of :func:`prefix_jaccard_join`: Jaccard misses a short document
    quoted verbatim inside a much longer one (the union term drowns the
    overlap), which is exactly the subset-duplication an LLM corpus
    pipeline must catch (boilerplate inclusion, quote expansion,
    wrapper pages).

    Prefix rule (asymmetric): under the global rarest-first token order,
    C(A→B) ≥ t forces A and B to share a token within A's first
    ``|A| - ⌈t·|A|⌉ + 1`` tokens — only the CONTAINED side prunes to a
    prefix (:func:`_rare_prefix`); the candidate join runs A-prefix ⋈
    B-full-postings.  That stays selective for the same reason PPJoin
    does: prefix tokens are the rare ones, so the full posting lists
    they meet are short.  The lossless length filter is one-sided
    (``|B| ≥ ⌈t·|A|⌉``; containment has no upper bound on |B|).  Exact
    verification (:func:`_overlap`) touches candidate pairs only.

    Output: ``doc_inner, doc_outer, containment`` — ordered pairs
    (inner's shingle set is ≥ t-contained in outer's), rounded 6.
    """
    t = float(threshold)
    toks = _postings(df, n)
    prefix = _rare_prefix(toks, t).select(
        F.col("doc_id").alias("doc_inner"), "tok", F.col("sz").alias("sz_a")
    )
    post_b = toks.withColumn("sz_b", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))).select(
        F.col("doc_id").alias("doc_outer"), "tok", "sz_b"
    )
    cand = (
        prefix.join(post_b, "tok")
        .filter(
            (F.col("doc_inner") != F.col("doc_outer"))
            & (F.col("sz_b") >= F.ceil(F.lit(t) * F.col("sz_a")))
        )
        .select("doc_inner", "doc_outer")
        .distinct()
    )
    inter = _overlap(cand, toks, "doc_inner", "doc_outer")
    return (
        _with_sizes(inter, toks, "doc_inner")
        .withColumn("containment", F.col("inter") / F.col("n_doc_inner"))
        .filter(F.col("containment") >= t)
        .select("doc_inner", "doc_outer", F.round("containment", 6).alias("containment"))
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 4,
    df_cap: int = 200,
) -> DataFrame:
    """All doc pairs with TF-IDF cosine ≥ ``threshold`` over word
    ``n``-gram shingles with doc_freq ≤ ``df_cap`` — the WEIGHTED
    set-similarity join: where :func:`prefix_jaccard_join` and
    :func:`prefix_containment_join` treat every shared shingle
    equally, here rare shingles dominate, so boilerplate-diluted
    near-dups that share distinctive content phrases still surface.

    Determinism (the cross-engine oracle discipline): IDF is the ONE
    transcendental — ``ln(n_docs/df)`` int64-quantized at 1e6 — so
    term weights ``wq = tf·idf_q`` are exact integers, norms and dot
    products are exact DECIMAL(38,0) sums, and the final cosine is a
    single exactly-rounded double expression (÷, ×, sqrt are IEEE
    exactly-rounded).

    Scale shape: candidate fanout is Σ_gram df², bounded per gram by
    ``df_cap²`` — dropping corpus-ubiquitous shingles is the standard
    discriminative-vocabulary pruning (their IDF weight is near zero
    anyway), turning the all-pairs postings join into a provably
    linear-in-vocabulary candidate generator.  Document frequency
    comes from a COUNT window over the gram partition, not a
    groupBy+self-join — one shuffle of the tf table instead of two,
    and it leaves the cached postings hash-partitioned on gram for
    the pair self-join (A/B at sf0.1: 2.52 s → 2.09 s median,
    identical pairs).  The window is SKEW-PROOF here: the over-cap
    head is removed FIRST via an anti-join against the tiny over-cap
    gram table (built by a skew-immune map-side-combined partial agg;
    no broadcast hint — AQE broadcasts it while small and degrades to
    a shuffle join rather than a driver OOM if a pathological corpus
    makes it big), so every window partition holds at most ``df_cap``
    rows by construction — the hot-gram single-task hazard the plain
    count-window rewrite carries (README "Scale design") cannot occur
    (A/B'd at parity, 2.52 s vs 2.61 s).  Postings persist once (``cache.keep``) and
    feed the norm fold plus both join sides; the pair aggregation
    shuffles on (doc_a, doc_b) with map-side partials; the global doc
    count is a lazy 1-row broadcast.

    Output: ``doc_a, doc_b, cosine`` (unrounded filter, rounded 6).
    """
    tf = (
        word_ngrams(df, n)
        .select("doc_id", F.explode("ngrams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nd = df.agg(F.count(F.lit(1)).alias("n_docs"))
    hot = (
        tf.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") > df_cap)
        .select("gram")
    )
    wg = Window.partitionBy("gram")
    # no broadcast hint on the anti-join (round-8 ADVICE): the over-cap
    # table is tiny under any Zipfian vocabulary, so AQE broadcasts it
    # at runtime from actual shuffle stats — but its size bound is only
    # total_postings/df_cap, so on a pathological corpus a forced
    # broadcast could exceed driver memory where an AQE shuffle join
    # just runs slower
    post = cache.keep(
        tf.join(hot, "gram", "left_anti")
        .withColumn("doc_freq", F.count(F.lit(1)).over(wg))
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "gram",
            (
                F.col("tf")
                * F.expr(
                    "CAST(round(ln(CAST(n_docs AS DOUBLE) / doc_freq)"
                    " * 1000000) AS BIGINT)"
                )
            ).alias("wq"),
        )
    )
    norms = post.groupBy("doc_id").agg(
        F.sum(F.expr("CAST(wq AS DECIMAL(38,0)) * wq")).alias("n2")
    )
    a = post.select("gram", F.col("doc_id").alias("doc_a"), F.col("wq").alias("wa"))
    b = post.select("gram", F.col("doc_id").alias("doc_b"), F.col("wq").alias("wb"))
    dots = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.expr("CAST(wa AS DECIMAL(38,0)) * wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        # zero-norm guard: with df_cap >= n_docs a universal gram gets
        # idf_q = 0, and a pair sharing ONLY zero-weight grams would be
        # 0/0 = NaN — which both engines treat as > threshold.  Such
        # pairs carry no discriminative overlap; drop them.
        .filter((F.col("n2a") > 0) & (F.col("n2b") > 0))
        .withColumn("c", cos)
        .filter(F.col("c") >= F.lit(float(threshold)))
        # fact-sized pair output — no global sort (jaccard_pairs
        # convention); the registered query layer sorts for display
        .select("doc_a", "doc_b", F.round("c", 6).alias("cosine"))
    )


def exact_substring_spans(
    df: DataFrame,
    gram_len: int = 16,
    min_span: int = 32,
    max_gram_occurrences: int = 1024,
    winnow: int | None = None,
    scope: str = "cross",
    xor_docs: DataFrame | None = None,
) -> DataFrame:
    """Maximal cross-document EXACT repeated character spans — the
    span-level exact-substring dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    which removes verbatim repeated passages that doc-level
    MinHash/SimHash (which only flag whole near-duplicate documents)
    cannot see.  The suffix-array construction the paper uses is a
    single-machine algorithm; the distributed re-expression is
    **diagonal islands over positional grams**: every position ``i``
    of every document emits its ``gram_len``-char gram, equal grams
    across documents join into position pairs ``(pa, pb)``, and a
    shared span of length ``S >= gram_len`` is exactly a run of
    ``S - gram_len + 1`` consecutive pairs on one diagonal
    ``pa - pb`` — so min/count per island recovers the maximal span
    with no per-character iteration anywhere.  (Equivalence to plain
    char-run semantics is property-tested against a quadratic Python
    reference model; see ``tests/test_substring_spans.py``.)

    Output: one row per maximal shared span ``(doc_a, doc_b, start_a,
    start_b, span_len)`` with ``doc_a < doc_b``, 1-based starts,
    ``span_len >= max(gram_len, min_span)``.  Repetitive text yields
    one row per diagonal alignment, faithful to the definition.

    ``scope`` selects the pair space:

    * ``"cross"`` (default) — between-document spans, ``doc_a < doc_b``;
    * ``"self"`` — INTRA-document repeats only (``doc_a == doc_b``,
      ``start_a > start_b``: the positive-diagonal half-plane, each
      alignment once, the trivial diagonal 0 never) — the "same
      passage pasted twice" quality signal that
      ``corpus.collapse_repeats`` (adjacent lines only) cannot see.
      The join key becomes ``(doc, h)``, so a self scan NEVER pairs
      documents at all — fanout is bounded by within-document gram
      repetition (<= doc length per key), corpus size is irrelevant to
      the join, and the scan parallelizes per document;
    * ``"both"`` — union of the two half-planes in one pass (join on
      ``h`` alone, the cross fanout dominates).

    Periodic text reports one self-span per period offset — e.g.
    ``"ab" * 20`` matches itself at every even shift — which is the
    faithful reading of "alignment", and exactly what a
    period-detection consumer wants.

    Scale shape (what shuffles, and why it survives 100 TB):

    * grams never travel as strings — each position reduces map-side
      to the 60-bit md5 hash (:func:`portable_hash60`; both
      engines bit-identical, collision odds ~2^-60 per pair are
      documented and accepted exactly as in the LSH families), so the
      positional stream is a fixed-width ``(doc, pos, h)`` row per
      character, ~24 B on the wire regardless of ``gram_len``;
    * the positional stream is localCheckpointed once and feeds both
      the occurrence count and the join (multi-branch input, CLAUDE.md
      checkpoint rule);
    * boilerplate guard: grams occurring more than
      ``max_gram_occurrences`` times corpus-wide are dropped via a
      **broadcast anti-join of the over-cap set** (the
      `tfidf_cosine_pairs` df_cap pattern) — the over-cap list is tiny
      by construction, and the cap bounds the self-join fanout at
      cap² rows per gram.  At the committed test scales the corpus
      max is 314 occurrences, so the default cap never binds and
      spans here are TRULY maximal; on a boilerplate-heavy web crawl
      the cap is the skew lever (license headers, nav chrome), and
      dropped grams split spans exactly where production
      exact-substring pipelines intentionally skip universal
      boilerplate;
    * one hash self-join on ``h``, one window + one aggregate that
      REUSES the window's hash partitioning (the island groupBy keys
      are a superset of the window partition keys, so Catalyst plans
      no exchange between them) — window groups are bounded by the
      shorter document's length (<= 577 chars here), never by corpus
      size, so there is no hot-key path;
    * when one row per character is too many at the extreme (grams
      amplify the scan ~3x in bytes), the published lever is
      winnowing/minimizer sampling (keep the min-hash gram per window
      of ``w`` positions: any shared span >= gram_len + w - 1 still
      collides); that trades span-boundary exactness for stream size
      and is deliberately NOT the default — this operator's contract
      is exact-maximal.

    ``xor_docs`` (the decontamination pushdown — the 100 TB
    refinement the staged query's docstring documented, implemented
    once the query registered): a 1-column frame of ``doc_id`` marking one side of a bipartition (e.g. the EVAL
    benchmark set).  When given (cross scope, full mode), only pairs
    with EXACTLY ONE endpoint in the set are produced — and the
    restriction is pushed INTO the pair join: the positional stream
    splits into a marked side (tiny by construction — a benchmark
    set) and an unmarked side via one broadcast semi/anti join, and
    the hash self-join becomes marked × unmarked, so the
    train×train pair space (at 100 TB, ~all of it) never
    materializes.  Output rows are re-normalized to the ``doc_a <
    doc_b`` contract afterwards, so results are BIT-IDENTICAL to
    filtering the full symmetric scan (the island decomposition is
    symmetric under side swap: consecutive pairs on diagonal ``d``
    become consecutive pairs on ``-d``) — the DuckDB oracle still
    replays the filter-after formulation and the gate proves
    equality.  The corpus-wide occurrence cap is unchanged (counted
    over ALL grams, both sides, exactly as the oracle counts it).

    The corpus is :func:`sources.registry.spread` first: one small
    parquet file means ONE scan partition, which would serialize the
    explode+md5 onto a single core (measured 5.5 s → 1.3 s for the
    sf0.1 gram stage).  On a real lake the scan is already thousands of
    partitions and the spread is a no-op, so no text byte shuffles.

    ``winnow=w`` is that published lever, implemented so it costs NO
    exactness: candidate pairs come from winnowed minimizer grams only
    (per doc, keep a position iff it achieves the minimum of SOME full
    ``w``-gram window containing it — two chained per-doc windows, see
    the inline derivation), and the full positional stream then runs
    the exact island stage restricted to candidate DOCS (semi-join)
    and candidate PAIRS (semi-join before the window).  The Schleimer/Winnowing guarantee: two documents sharing
    a span of length >= gram_len + w - 1 share a run of >= w aligned
    gram hashes, some length-``w`` window lies entirely inside the run
    in BOTH documents, and the run's minimum hash is the minimum of
    that window in both — so the pair always collides.  Requiring
    ``min_span >= gram_len + winnow - 1`` (enforced) therefore makes
    winnowed output BIT-IDENTICAL to full mode — property-tested —
    while the join input shrinks to ~1/w of the positional stream and
    non-candidate documents never reach the pair join at all (at
    100 TB almost all of them).
    """
    if min_span < gram_len:
        raise ValueError(f"min_span {min_span} must be >= gram_len {gram_len}")
    if winnow is not None and winnow > 1 and min_span < gram_len + winnow - 1:
        raise ValueError(
            f"winnow={winnow} only guarantees spans >= gram_len + winnow - 1"
            f" = {gram_len + winnow - 1}; min_span {min_span} is below that"
            " (raise min_span or lower winnow)"
        )
    if scope not in ("cross", "self", "both"):
        raise ValueError(f"scope must be cross|self|both, got {scope!r}")
    if scope != "cross" and winnow is not None and winnow > 1:
        # the cross-doc winnowing guarantee (two disjoint aligned runs,
        # each containing a full window) does NOT transfer cleanly to
        # OVERLAPPING intra-doc occurrences of periodic text, where the
        # two "runs" share windows; rather than ship a lever whose
        # completeness is unproven for this mode, the combination is
        # rejected — self-repeat scans use full mode
        raise ValueError(f"scope={scope!r} is exact-mode only (winnow must be None)")
    if xor_docs is not None and (scope != "cross" or winnow is not None):
        # the winnow candidate machinery assumes the symmetric
        # doc_a < doc_b pair space; the bipartite path has no need for
        # it (the marked side already prunes harder than minimizers).
        # winnow=1 is a no-op elsewhere but is rejected here too so the
        # guard matches its message exactly (r15 ADVICE)
        raise ValueError("xor_docs requires scope='cross' and winnow=None")
    grams = (
        spread(df)
        .filter(F.length("text") >= gram_len)
        .select(
            F.col("doc_id").alias("doc"),
            F.col("text").alias("t"),
            F.explode(F.sequence(F.lit(1), F.length("text") - gram_len + 1)).alias("p"),
        )
        .select(
            "doc",
            F.col("p").cast("long").alias("pos"),
            portable_hash60(F.expr(f"substring(t, p, {gram_len})")).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    # the over-cap list is checkpointed too: ``kept`` is referenced by
    # BOTH self-join sides, and without the truncation Catalyst clones
    # the whole count-aggregate subtree into each side — the corpus-wide
    # occurrence count would run twice (observed in the formatted plan;
    # the list itself is tiny, so the checkpoint is ~free).  LAZY (r16):
    # LogicalRDD replaces the agg subtree at construction time either
    # way, so the plan-dedup benefit is identical — lazy just folds the
    # materialization into the first consuming job instead of paying a
    # separate driver action (A/B at sf0.1: 3.28 → 3.14 s median).
    # NOTE (r16 ADVICE): both self-join sides consume this list through
    # broadcast exchanges; laziness relies on ReuseExchange deduping the
    # two broadcasts (it does — one BroadcastExchange in the plan).  If
    # an AQE plan change ever splits them, the worst case is the tiny
    # aggregate RDD racing to compute twice inside one job — wasted
    # work, never wrong results (the RDD is deterministic and cached).
    hot = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > max_gram_occurrences)
        .select("h")
        .localCheckpoint(eager=False)
    )
    kept = grams.join(F.broadcast(hot), "h", "left_anti")
    cand = None
    if winnow is not None and winnow > 1:
        # minimizer selection — position q is kept iff it achieves the
        # minimum of SOME full w-window containing it.  Two chained
        # per-doc windows implement exactly that: m[p] = min of the
        # window STARTING at p; q is a window-min iff some p in q's
        # lookback has m[p] == h[q], and since every m in the lookback
        # is <= h[q] (q lies in each of those windows), the exists
        # reduces to max(m over lookback) == h[q].  (Keeping q iff
        # h[q] == m[q] ALONE is a strictly weaker scheme that misses
        # run minima whose own forward window leaks past the run —
        # caught by the sf0.1 full-vs-winnow equality check, which is
        # why the equivalence test pins ALL committed scales.)  Ties
        # keep every achieving position; clipped windows at document
        # edges only ever ADD selections — both are candidate
        # supersets, never misses.  Both windows are per-doc, bounded
        # by document length, never corpus size.
        w_fwd = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, winnow - 1)
        w_bwd = Window.partitionBy("doc").orderBy("pos").rowsBetween(-(winnow - 1), 0)
        wg = (
            kept.withColumn("m", F.min("h").over(w_fwd))
            .withColumn("M", F.max("m").over(w_bwd))
            .filter(F.col("h") == F.col("M"))
            .select("doc", "h")
        )
        cand = (
            wg.select(F.col("doc").alias("doc_a"), "h")
            .join(wg.select(F.col("doc").alias("doc_b"), "h"), "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .localCheckpoint(eager=True)
        )
        cdocs = (
            cand.select(F.col("doc_a").alias("doc"))
            .unionByName(cand.select(F.col("doc_b").alias("doc")))
            .distinct()
        )
        # no broadcast hint on the candidate semi-joins: candidate
        # volume is data-dependent (a boilerplate-heavy crawl can have
        # many near-dup pairs), so the size-based planner / AQE picks
        # broadcast when small and a shuffled semi-join when not
        kept = kept.join(cdocs, "doc", "left_semi")
    # pb never shuffles: start_b is recovered from the diagonal
    # (pb = pa - diag), so the pair row that feeds the window is four
    # longs, not five — ~20% off the widest shuffle in the plan
    if scope == "self":
        # join key includes the document: a self scan never pairs
        # documents, so corpus size is irrelevant to the fanout
        a = kept.select("doc", F.col("pos").alias("pa"), "h")
        b = kept.select("doc", F.col("pos").alias("pb"), "h")
        pairs = (
            a.join(b, ["doc", "h"])
            .filter(F.col("pa") > F.col("pb"))
            .select(
                F.col("doc").alias("doc_a"),
                F.col("doc").alias("doc_b"),
                "pa",
                (F.col("pa") - F.col("pb")).alias("diag"),
            )
        )
    elif xor_docs is not None:
        # bipartite pushdown: marked side (tiny) × unmarked side only —
        # doc_a is ALWAYS the marked doc here; the doc_a < doc_b
        # contract is restored by the normalization select at the end
        # no .distinct(): semi/anti joins are membership tests, so
        # right-side duplicates cannot change results — and the
        # dedup would cost a shuffle + two hash aggregates
        marked = F.broadcast(xor_docs.select(F.col("doc_id").alias("doc")))
        a = (
            kept.join(marked, "doc", "left_semi")
            .select(F.col("doc").alias("doc_a"), F.col("pos").alias("pa"), "h")
        )
        b = (
            kept.join(marked, "doc", "left_anti")
            .select(F.col("doc").alias("doc_b"), F.col("pos").alias("pb"), "h")
        )
        pairs = a.join(b, "h").select(
            "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
    else:
        a = kept.select(F.col("doc").alias("doc_a"), F.col("pos").alias("pa"), "h")
        b = kept.select(F.col("doc").alias("doc_b"), F.col("pos").alias("pb"), "h")
        keep_pair = F.col("doc_a") < F.col("doc_b")
        if scope == "both":
            # positive-diagonal half-plane: each intra-doc alignment
            # once, the trivial diagonal 0 never
            keep_pair = keep_pair | (
                (F.col("doc_a") == F.col("doc_b")) & (F.col("pa") > F.col("pb"))
            )
        pairs = (
            a.join(b, "h")
            .filter(keep_pair)
            .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
        )
    if cand is not None:
        pairs = pairs.join(cand, ["doc_a", "doc_b"], "left_semi")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = pairs.withColumn("k", F.col("pa") - F.row_number().over(w))
    spans = (
        isl.groupBy("doc_a", "doc_b", "diag", "k")
        .agg(
            F.min("pa").alias("start_a"),
            (F.count(F.lit(1)) + gram_len - 1).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            "span_len",
        )
    )
    if xor_docs is not None:
        # restore the doc_a < doc_b output contract (the bipartite
        # join produced marked-first rows): swap (doc, start) pairs
        # where the marked doc has the larger id — pure projection,
        # values identical to the symmetric scan's post-filtered rows
        flip = F.col("doc_a") > F.col("doc_b")
        spans = spans.select(
            F.when(flip, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_a"),
            F.when(flip, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_b"),
            F.when(flip, F.col("start_b")).otherwise(F.col("start_a")).alias("start_a"),
            F.when(flip, F.col("start_a")).otherwise(F.col("start_b")).alias("start_b"),
            "span_len",
        )
    return spans


def semantic_dedup(
    emb_df: DataFrame,
    k: int = 64,
    iters: int = 2,
    tau: tuple[int, int] = (3, 10),
    max_candidates: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication") — the published rung ABOVE the lexical ladder
    (exact → MinHash/SimHash near-dup → span-level): cluster the
    embedding space, then compare pairs only WITHIN a cluster, so the
    pair join is cluster-bounded and never all-pairs.

    Semantics (deterministic, oracle-replayable):

    1. cluster with :func:`operators.cluster.kmeans_int` (integer
       lattice, truncated-mean Lloyd — bit-identical in any engine);
    2. rank each cluster's members by ``(d, id)`` — exact squared
       lattice distance to the final centroid, id tiebreak.  Rank 1 is
       the cluster's KEEPER (the paper keeps one representative per
       duplicate group; proximity-to-centroid is its "low similarity
       to centroid" criterion mirrored deterministically);
    3. a member is ``dropped`` iff SOME earlier-ranked member of its
       cluster has cosine >= tau against it.  This is the non-chained
       greedy: a member similar only to an already-dropped member is
       still dropped — the conservative direction for dedup, and the
       variant with no recursive dependency, so one pair join + one
       aggregate computes it (the chained variant would need a
       sequential per-cluster scan).  Comparing against ALL earlier
       ranks (not only the keeper) is what makes exact duplicates
       ALWAYS collapse: twins share a cluster (assignment is a pure
       function of the vector once centroids are fixed), and the
       later-ranked twin sees the earlier at cosine 1.

    Exactness: the cosine threshold never touches a float.  With
    lattice coordinates ``s`` (|s| <= grid = ``cluster.GRID``),
    ``dot = Σ s_a·s_b`` and the norms ``n2 = Σ s²`` are exact int64
    (64 · grid² = 6.4e13), and ``cos >= p/q  ⟺  dot > 0 AND
    q²·dot² >= p²·n2_a·n2_b`` evaluates in decimal(38,0) (Spark) /
    HUGEINT (DuckDB) — both exact at ~1.6e30 max, the r09
    widen-don't-wrap discipline.

    PRECONDITION (same contract as :mod:`operators.cluster`): embedding
    components must satisfy ``|x| <= 1`` (unit-ish vectors — the
    embedding table's convention).  The decimal(38,0) headroom argument
    above assumes ``|s| <= grid``; with |x| ~ 1e2 the squared products
    approach 1e38, where Spark's non-ANSI decimal NULLs the overflow
    silently while DuckDB's HUGEINT keeps exact — a silent
    engine-vs-oracle divergence, not an error.  An out-of-range corpus
    must be rescaled before this operator.

    Scale shape: the corpus shuffles once into the rank window and
    once into the per-cluster self-join, both keyed by ``cell`` —
    fanout is Σ|cluster|²/2 pairs, bounded by the ``k`` knob (the
    paper runs k ≈ n/5000 at web scale precisely so cluster size, and
    with it the pair cost, stays constant as the corpus grows; k is a
    parameter here for the same reason).  kmeans itself shuffles only
    (cell, pos) triples, never vectors; the ranked frame is
    localCheckpointed once and feeds both join sides plus the output
    (CLAUDE.md multi-branch rule); the keeper frame is k rows,
    broadcast.  Output: ``vec_id, cell, rank, keeper_id, dropped`` — all
    BIGINT, fully deterministic.

    ``max_candidates`` is the hot-cluster skew lever (the
    ``max_gram_occurrences`` analogue): when set, each member compares
    only against the ``max_candidates`` EARLIEST-ranked members of its
    cluster, so pair fanout is Σ min(|c|, cap)·|c| — linear in corpus
    size for a fixed cap even if one cluster swallows everything (the
    k-means degenerate case a fixed k cannot rule out on adversarial
    data).  Exactness contract: output is IDENTICAL to full mode
    whenever every cluster has ≤ cap members (property-tested); above
    the cap the approximation only ever UNDER-drops (a drop decision
    never consults a later-than-cap rank, and every retained
    comparison is unchanged) — the conservative keep-direction, and
    twins still collapse whenever the earlier twin ranks within the
    cap.  Default ``None`` = exact, the staged-query contract.
    """
    from pyspark_pipelining_spark.operators.cluster import kmeans_int

    p, q = tau
    if p <= 0 or q <= 0:
        raise ValueError(f"tau must be a positive fraction, got {tau}")
    # keep_vec: the assignment already carries the snapped lattice
    # vector, so the cosine stage needs no re-snap scan and no join
    # back on id (interleaved A/B at sf0.1: 4.81 -> 4.43 s median-of-5,
    # results identical; one less corpus scan + one less shuffle join
    # is the structural win at scale)
    assign = kmeans_int(emb_df, k=k, iters=iters, keep_vec=True)
    w = Window.partitionBy("cell").orderBy("d", "vec_id")
    ranked = (
        assign.select(
            "vec_id",
            "cell",
            "d",
            "s",
            F.expr(
                "aggregate(s, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
            ).alias("n2"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .localCheckpoint(eager=True)
    )
    a = ranked.select(
        F.col("vec_id").alias("_va"),
        "cell",
        F.col("rank").alias("_ra"),
        F.col("s").alias("sa"),
        F.col("n2").alias("na"),
    )
    b_src = ranked
    if max_candidates is not None:
        if max_candidates < 1:
            raise ValueError(f"max_candidates must be >= 1, got {max_candidates}")
        # cap the comparison side BEFORE the join: the b-side shrinks to
        # <= cap rows per cluster map-side (rank is already computed),
        # so the hot-cluster pair blowup never reaches the shuffle
        b_src = ranked.filter(F.col("rank") <= max_candidates)
    b = b_src.select(
        F.col("vec_id").alias("_vb"),
        "cell",
        F.col("rank").alias("_rb"),
        F.col("s").alias("sb"),
        F.col("n2").alias("nb"),
    )
    dot = F.expr(
        "aggregate(zip_with(sa, sb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    hit = (dot > 0) & (
        dot.cast("decimal(38,0)") * dot * F.lit(q * q)
        >= F.col("na").cast("decimal(38,0)") * F.col("nb") * F.lit(p * p)
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("_rb") < F.col("_ra"))
        .select("_va", F.when(hit, 1).otherwise(0).alias("_hit"))
        .groupBy("_va")
        .agg(F.max("_hit").cast("long").alias("dropped"))
    )
    keepers = ranked.filter(F.col("rank") == 1).select(
        "cell", F.col("vec_id").alias("keeper_id")
    )
    return (
        ranked.join(drops, F.col("vec_id") == F.col("_va"), "left")
        .join(F.broadcast(keepers), "cell")
        .select(
            "vec_id",
            "cell",
            "rank",
            "keeper_id",
            F.coalesce("dropped", F.lit(0)).cast("long").alias("dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Paragraph-granularity near-dup pressure (round-16; Penedo et al. 2023
# RefinedWeb / Soldaini et al. 2024 Dolma run fuzzy dedup below the
# document grain — repeated boilerplate paragraphs inside otherwise
# distinct documents are invisible to doc-level MinHash)
# ---------------------------------------------------------------------------

#: composite paragraph id = doc_id * PARA_KEY + paragraph index; the
#: envelope (docs under PARA_KEY paragraphs) is enforced at runtime
PARA_KEY = 1_000_000


def paragraph_chunks(
    df: DataFrame,
    words_per_para: int = 12,
) -> DataFrame:
    """Fixed-width word windows as pseudo-paragraphs: this corpus is
    single-line (no newline delimiters), so the paragraph grain is
    ``words_per_para``-word chunks — the same unit choice a
    tokenizer-sharded pipeline makes, and the window arithmetic is
    identical if real newline paragraphs exist (swap the index source).

    Output: ``pid`` (= id·PARA_KEY + chunk index, raise_error-guarded
    against index overflow — the _gopher_pack envelope discipline),
    ``doc_id``, ``para_idx``, ``text`` (the chunk's words re-joined
    with single spaces, so re-tokenizing the chunk reproduces the word
    slice exactly).  All map-side: split, sequence-explode, slice."""
    w = with_words(df).select("doc_id", "words")
    n_paras = F.ceil(F.size("words") / words_per_para).cast("long")
    guarded_idx = F.when(F.col("pi") < PARA_KEY, F.col("pi")).otherwise(
        F.raise_error(
            F.format_string(
                "paragraph_chunks: paragraph index %s >= PARA_KEY "
                f"{PARA_KEY}; composite pid would collide",
                F.col("pi"),
            )
        ).cast("long")
    )
    return (
        w.withColumn("np", n_paras)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("np") - 1)).alias("pi"),
            "words",
        )
        .select(
            (F.col("doc_id") * PARA_KEY + guarded_idx).alias("pid"),
            "doc_id",
            F.col("pi").alias("para_idx"),
            F.concat_ws(
                " ",
                F.slice(
                    "words", F.col("pi") * words_per_para + 1, words_per_para
                ),
            ).alias("text"),
        )
    )


def paragraph_dup_stats(
    df: DataFrame,
    words_per_para: int = 12,
    min_est_num: int = 12,
    num_hashes: int = 16,
    bands: int = 8,
    flag_num: int = 3,
    flag_den: int = 10,
) -> DataFrame:
    """Per-document paragraph-level near-duplication pressure — the
    RefinedWeb/Dolma recipe one grain below :func:`minhash_lsh_pairs`:
    chunk every document into pseudo-paragraphs, MinHash-LSH the
    CHUNKS (reusing the registered signature/banding machinery with
    the composite pid as the unit id), keep cross-document candidate
    pairs whose signature agreement reaches ``min_est_num``/
    ``num_hashes``, and roll duplicated-paragraph counts back to the
    document.

    Output: ``doc_id, n_paras, n_dup_paras, dup_frac, flagged`` —
    every input document appears (clean ones with zeros);
    ``flagged`` is the exact integer comparison
    ``n_dup_paras·flag_den ≥ flag_num·n_paras``.

    Scale shape: chunking is map-side; the LSH self-join keys on
    (band, band-signature) buckets exactly like the document-grain
    query — paragraphs multiply the unit count by ~words/W but SHRINK
    each unit's shingle set, so bucket sizes stay bounded; the rollup
    is one pid→doc projection plus a doc-keyed aggregate, and the
    final join back to the full document list is by the id key."""
    chunks = paragraph_chunks(df, words_per_para)
    pairs = minhash_lsh_pairs(
        chunks.select(F.col("pid").alias("doc_id"), "text"),
        num_hashes=num_hashes,
        bands=bands,
    ).filter(
        F.col("est_jaccard") * num_hashes >= F.lit(min_est_num)
    )
    cross = pairs.filter(
        (F.col("doc_1") - F.pmod("doc_1", F.lit(PARA_KEY)))
        != (F.col("doc_2") - F.pmod("doc_2", F.lit(PARA_KEY)))
    )
    # explode instead of union-of-two-projections: cross is the whole
    # (unpersisted) paragraph-LSH pipeline, and a union references —
    # and therefore clones — it once per branch; the explode emits both
    # endpoints map-side from a single execution (guide §2.4).
    dup_paras = (
        cross.select(F.explode(F.array("doc_1", "doc_2")).alias("pid"))
        .distinct()
        .select(
            ((F.col("pid") - F.pmod("pid", F.lit(PARA_KEY))) / PARA_KEY)
            .cast("long")
            .alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_paras"))
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        df.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(dup_paras, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_dup_paras", F.lit(0)).cast("long").alias("n_dup_paras"),
            F.when(
                F.coalesce("n_paras", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_dup_paras", F.lit(0))
                    / F.col("n_paras"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
            F.when(
                (F.coalesce("n_paras", F.lit(0)) > 0)
                & (
                    F.coalesce("n_dup_paras", F.lit(0)) * flag_den
                    >= F.lit(flag_num) * F.coalesce("n_paras", F.lit(0))
                ),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("flagged"),
        )
    )
