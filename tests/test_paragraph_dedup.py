"""Paragraph-granularity MinHash dedup (``operators/dedup.
paragraph_chunks`` / ``paragraph_dup_stats``; registered query
``paragraph_dedup`` — the RefinedWeb (Penedo et al. 2023) / Dolma
(Soldaini et al. 2024) below-document fuzzy-dedup rung on top of the
registered doc-level ``dedup_minhash`` machinery).

Layers: DuckDB oracle compare + dtype parity at both gate scales, a
quadratic pure-Python mirror under hypothesis (the FULL pipeline —
chunking, distinct bigram shingles, md5 portable ids, the 16-hash
signature, 8-band LSH candidate generation, agreement threshold,
cross-doc filter, per-doc rollup), value-blindness guards on the
committed corpus (both flag classes populated), and the plan
invariants."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.dedup import (
    MERSENNE,
    PARA_KEY,
    minhash_coeffs,
    paragraph_chunks,
    paragraph_dup_stats,
)
from pyspark_pipelining_spark.queries_llm import (
    PARA_BANDS,
    PARA_FLAG_DEN,
    PARA_FLAG_NUM,
    PARA_HASHES,
    PARA_MIN_AGREE,
    PARA_W,
    SQL_PARAGRAPH_DEDUP,
    q_paragraph_dedup,
)
from tests.conftest import SF_ORACLE, SF_SMOKE

INT_COLS = ["doc_id", "n_paras", "n_dup_paras", "flagged"]


def model(
    docs: dict[int, str],
    w: int = PARA_W,
    num_hashes: int = PARA_HASHES,
    bands: int = PARA_BANDS,
    min_agree: int = PARA_MIN_AGREE,
    flag_num: int = PARA_FLAG_NUM,
    flag_den: int = PARA_FLAG_DEN,
):
    """Quadratic pure-Python mirror: doc_id → (n_paras, n_dup_paras,
    flagged)."""
    coeffs = minhash_coeffs(num_hashes)
    rows = num_hashes // bands
    sigs: dict[int, tuple] = {}
    n_paras: dict[int, int] = {}
    for doc_id, text in docs.items():
        words = [x for x in text.lower().split(" ") if x]
        chunks = [words[i : i + w] for i in range(0, len(words), w)]
        n_paras[doc_id] = len(chunks)
        for idx, cw in enumerate(chunks):
            shingles = {f"{a} {b}" for a, b in zip(cw, cw[1:])}
            if not shingles:
                continue
            sids = [
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MERSENNE
                for s in shingles
            ]
            sig = tuple(
                min((sid * a + b) % MERSENNE for sid in sids) for a, b in coeffs
            )
            sigs[doc_id * PARA_KEY + idx] = sig
    buckets = defaultdict(set)
    for pid, sig in sigs.items():
        for bd in range(bands):
            buckets[(bd, sig[bd * rows : (bd + 1) * rows])].add(pid)
    dup_pids = set()
    pids = sorted(sigs)
    for i, p1 in enumerate(pids):
        for p2 in pids[i + 1 :]:
            if p1 // PARA_KEY == p2 // PARA_KEY:
                continue
            s1, s2 = sigs[p1], sigs[p2]
            band_hit = any(
                s1[bd * rows : (bd + 1) * rows] == s2[bd * rows : (bd + 1) * rows]
                for bd in range(bands)
            )
            if not band_hit:
                continue
            agree = sum(1 for a, b in zip(s1, s2) if a == b)
            if agree >= min_agree:
                dup_pids.add(p1)
                dup_pids.add(p2)
    n_dup = defaultdict(int)
    for pid in dup_pids:
        n_dup[pid // PARA_KEY] += 1
    return {
        d: (
            n_paras[d],
            n_dup[d],
            int(n_paras[d] > 0 and n_dup[d] * flag_den >= flag_num * n_paras[d]),
        )
        for d in docs
    }


def test_oracle_compare_and_dtypes(spark):
    """Bit-exact against the DuckDB oracle at both local gate scales,
    integer dtypes on every BIGINT column."""
    from tests.oracle_utils import compare, duck_connection

    compare(spark, SF_SMOKE, q_paragraph_dedup, SQL_PARAGRAPH_DEDUP)
    compare(spark, SF_ORACLE, q_paragraph_dedup, SQL_PARAGRAPH_DEDUP)
    sdf = q_paragraph_dedup(spark, SF_SMOKE)
    dt = dict(sdf.dtypes)
    for c in INT_COLS:
        assert dt[c] == "bigint", (c, dt)
    con = duck_connection(SF_SMOKE)
    pdf = con.execute(SQL_PARAGRAPH_DEDUP).df()
    for c in INT_COLS:
        assert str(pdf.dtypes[c]) == "int64", (c, pdf.dtypes)


_words = st.lists(st.text(alphabet="ab", min_size=1, max_size=2), min_size=1, max_size=30)


@given(word_lists=st.lists(_words, min_size=2, max_size=6), dup_of=st.integers(0, 5))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_matches_python_model(spark, word_lists, dup_of):
    """Spark equals the quadratic mirror on arbitrary tiny corpora —
    the 2-letter alphabet forces shingle collisions, and one document
    is always a verbatim copy of another (``dup_of``) so the dup path
    is exercised on every example."""
    texts = [" ".join(ws) for ws in word_lists]
    texts.append(texts[dup_of % len(texts)])  # guaranteed near-dup pair
    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_dup_paras"], r["flagged"])
        for r in paragraph_dup_stats(df, words_per_para=PARA_W).collect()
    }
    assert got == model(docs)


def test_chunks_partition_the_document(spark):
    """paragraph_chunks covers every word exactly once, in order, and
    the composite pid decomposes back to (doc_id, para_idx)."""
    df = spark.createDataFrame(
        [(7, "a b c d e f g h i j k l m n"), (9, "x")],
        "doc_id long, text string",
    )
    rows = paragraph_chunks(df, words_per_para=5).orderBy("pid").collect()
    by_doc = defaultdict(list)
    for r in rows:
        assert r["pid"] == r["doc_id"] * PARA_KEY + r["para_idx"]
        by_doc[r["doc_id"]].append(r["text"])
    assert " ".join(by_doc[7]) == "a b c d e f g h i j k l m n"
    assert [len(t.split(" ")) for t in by_doc[7]] == [5, 5, 4]
    assert by_doc[9] == ["x"]


def test_committed_corpus_populates_both_classes(spark):
    """Value-blindness guard: on the committed corpus some docs are
    flagged and some are clean (zero dup paragraphs), counts obey
    n_dup_paras <= n_paras, every document appears, and the flag is
    the exact integer comparison."""
    rows = q_paragraph_dedup(spark, SF_SMOKE).collect()
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == n_docs
    assert any(r["flagged"] == 1 for r in rows)
    assert any(r["n_dup_paras"] == 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_dup_paras"] <= r["n_paras"], r
        want = int(
            r["n_paras"] > 0
            and r["n_dup_paras"] * PARA_FLAG_DEN >= PARA_FLAG_NUM * r["n_paras"]
        )
        assert r["flagged"] == want, r


def test_plan_invariants(spark):
    """No cartesian product, no Python row UDF; the LSH self-join keys
    on the band bucket (a SortMergeJoin/ShuffledHashJoin on band+bsig,
    never an unkeyed pair blowup)."""
    plan = (
        q_paragraph_dedup(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
