"""CCNet perplexity-bucket filtering (``operators/corpus.
ccnet_ppl_buckets``; registered query ``ccnet_ppl_buckets`` — Wenzek et
al. 2020, the published LM-quality percentile rung above the
registered ``lm_score``).

Layers: DuckDB oracle compare + dtype parity at both gate scales, a
quadratic pure-Python model under hypothesis (the FULL pipeline —
char-bigram LM, integer re-quantization, histogram cut, bucket
assignment), bucket-population and tertile-balance invariants on the
committed corpora, and the plan invariants (broadcast cutoff join, no
cartesian beyond the plan-gate-exempt 1-row stitches)."""

from __future__ import annotations

import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.corpus import ccnet_ppl_buckets
from pyspark_pipelining_spark.queries_corpus import (
    CCNET_BIN_W,
    CCNET_OFFSET,
    SQL_CCNET_PPL_BUCKETS,
    q_ccnet_ppl_buckets,
)
from tests.conftest import SF_ORACLE, SF_SMOKE

INT_COLS = ["doc_id", "score_q6", "bin", "kept"]


def _round_half_up(x: float) -> int:
    # Spark F.round is BigDecimal HALF_UP on the double; Python round()
    # is banker's — mirror Spark exactly
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def model(docs: dict[int, tuple[str, str]], bin_w: int, offset: int):
    """Quadratic pure-Python mirror: doc_id → (score_q6, bin, bucket,
    kept) over {doc_id: (source, text)} — same char-bigram LM, same
    quantization, same histogram tertile cut."""
    c2: Counter = Counter()
    for _, t in docs.values():
        low = t.lower()
        c2.update(low[i : i + 2] for i in range(len(low) - 1))
    c1: Counter = Counter()
    for bg, c in c2.items():
        c1[bg[0]] += c
    logp = {
        bg: _round_half_up((math.log(c) - math.log(c1[bg[0]])) * 1_000_000)
        for bg, c in c2.items()
    }
    out = {}
    per_source: dict[str, list[tuple[int, int]]] = {}
    for i, (src, t) in docs.items():
        low = t.lower()
        grams = [low[j : j + 2] for j in range(len(low) - 1)]
        if not grams:
            continue  # lm_bigram_score emits scored docs only
        total = sum(logp[g] for g in grams)
        score = _round_half_up(total / len(grams))
        b = (score + offset) // bin_w
        per_source.setdefault(src, []).append((i, b))
        out[i] = [score, b]
    for src, rows in per_source.items():
        hist = Counter(b for _, b in rows)
        n = len(rows)
        cum = 0
        t1 = t2 = None
        for b in sorted(hist):
            cum += hist[b]
            if t1 is None and 3 * cum >= n:
                t1 = b
            if t2 is None and 3 * cum >= 2 * n:
                t2 = b
        for i, b in rows:
            bucket = "tail" if b <= t1 else ("middle" if b <= t2 else "head")
            out[i] = (out[i][0], b, bucket, 0 if bucket == "tail" else 1)
    return out


def test_oracle_compare_and_dtypes(spark):
    """Bit-exact against the DuckDB oracle at both local gate scales,
    non-empty, integer dtypes on every BIGINT column."""
    from tests.oracle_utils import compare, duck_connection

    compare(spark, SF_SMOKE, q_ccnet_ppl_buckets, SQL_CCNET_PPL_BUCKETS)
    compare(spark, SF_ORACLE, q_ccnet_ppl_buckets, SQL_CCNET_PPL_BUCKETS)
    sdf = q_ccnet_ppl_buckets(spark, SF_SMOKE)
    dt = dict(sdf.dtypes)
    for c in INT_COLS:
        assert dt[c] == "bigint", (c, dt)
    con = duck_connection(SF_SMOKE)
    pdf = con.execute(SQL_CCNET_PPL_BUCKETS).df()
    for c in INT_COLS:
        assert str(pdf.dtypes[c]) == "int64", (c, pdf.dtypes)


_texts = st.lists(
    st.text(alphabet="abc d", min_size=0, max_size=30), min_size=3, max_size=8
)


@given(texts=_texts, srcs=st.lists(st.integers(0, 2), min_size=3, max_size=8))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_matches_python_model(spark, texts, srcs):
    """Spark buckets equal the quadratic model on arbitrary tiny
    corpora (tiny alphabet → bigram collisions, sub-2-char docs
    dropped by the LM, single-doc sources, whole-source-in-one-bin
    degeneracies all explored)."""
    docs = {
        i: (f"s{srcs[i % len(srcs)]}", t) for i, t in enumerate(texts)
    }
    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in docs.items()],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (r["score_q6"], r["bin"], r["bucket"], r["kept"])
        for r in ccnet_ppl_buckets(
            df, bin_w=CCNET_BIN_W, offset=CCNET_OFFSET
        ).collect()
    }
    want = model(docs, CCNET_BIN_W, CCNET_OFFSET)
    assert got == want


def test_buckets_populated_and_tertile_balanced(spark):
    """On the committed corpus every bucket is populated (a
    constant-bucket output would be value-blind to the cut logic) and
    each source's tail holds >= 1/3 of its docs (the cut includes the
    straddling bin) while head+middle = kept."""
    rows = q_ccnet_ppl_buckets(spark, SF_SMOKE).collect()
    by_bucket = Counter(r["bucket"] for r in rows)
    assert set(by_bucket) == {"head", "middle", "tail"}, by_bucket
    per_src: dict[str, Counter] = {}
    for r in rows:
        per_src.setdefault(r["source"], Counter())[r["bucket"]] += 1
        assert r["kept"] == (0 if r["bucket"] == "tail" else 1)
    for src, c in per_src.items():
        n = sum(c.values())
        assert 3 * c["tail"] >= n, (src, c)
        assert 3 * (c["tail"] + c["middle"]) >= 2 * n, (src, c)


def test_plan_invariants(spark):
    """No cartesian / row-UDF; the cutoff table joins back as a
    broadcast (the per-source histogram stays the only window input)."""
    plan = (
        q_ccnet_ppl_buckets(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
