"""DSIR-style importance resampling (``operators/corpus.dsir_logweights``
+ ``dsir_resample``; staged queries ``dsir_weights`` /
``dsir_sample_topk`` — r13 verdict item 2).

The staged gates (oracle compare at sf0.001, pandas-dtype,
plan-invariant, plan-shape lock) run via ``queries_corpus`` imports in
their own files; this file pins the operator LAWS the verdict asked
for plus the scale-shape plan contracts:

* model equivalence — the Spark weights equal a quadratic pure-Python
  reimplementation (hash → histograms → quantized λ → per-doc sums) on
  arbitrary corpora, which subsumes every algebraic property of the
  weight formula;
* duplicate law — identical documents always get identical weights
  (the weight is a pure function of the text);
* target-alignment law — a document made of a target-only bigram
  strictly outweighs an equal-length document made of a bigram seen in
  neither target nor other raw docs;
* resample determinism + Gumbel-key model equivalence, and the u ∈
  (0, 1) grid-safety property the 2^52 construction exists for;
* plan shape — the λ table joins as a BROADCAST (B-bounded), the
  per-doc sum is the only corpus-keyed shuffle, the resample top-k is
  a TakeOrdered, no cartesian / row-UDF.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.corpus import dsir_logweights, dsir_resample
from pyspark_pipelining_spark.queries_corpus import (
    DSIR_BUCKETS,
    DSIR_GUMBEL_GRID,
    DSIR_K,
    DSIR_Q,
    DSIR_SALT,
    q_dsir_sample_topk,
    q_dsir_weights,
)
from tests.conftest import SF_SMOKE

Q = 1_000_000


def _round_half_up(x: float) -> int:
    # Spark F.round is BigDecimal HALF_UP on the double; Python round()
    # is banker's — mirror Spark exactly
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _bucket(gram: str, buckets: int) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % buckets


def _grams(text: str) -> list[str]:
    w = re.split(" +", text.lower())
    return [w[i] + " " + w[i + 1] for i in range(len(w) - 1)] if len(w) >= 2 else []


def model_weights(
    raw_docs: dict[int, str], tgt_texts: list[str], buckets: int
) -> dict[int, tuple[int, int]]:
    """Quadratic pure-Python mirror of dsir_logweights: doc_id →
    (n_grams, logweight_q6)."""
    cr: Counter = Counter()
    ct: Counter = Counter()
    for t in raw_docs.values():
        cr.update(_bucket(g, buckets) for g in _grams(t))
    for t in tgt_texts:
        ct.update(_bucket(g, buckets) for g in _grams(t))
    tr, tt = sum(cr.values()), sum(ct.values())
    lam = {
        b: _round_half_up(
            (
                math.log(ct.get(b, 0) + 1)
                - math.log(tt + buckets)
                - math.log(cr.get(b, 0) + 1)
                + math.log(tr + buckets)
            )
            * Q
        )
        for b in set(cr) | set(ct)
    }
    out = {}
    for i, t in raw_docs.items():
        gs = [_bucket(g, buckets) for g in _grams(t)]
        out[i] = (len(gs), sum(lam[b] for b in gs))
    return out


def model_gumbel_q6(doc_id: int, salt: str) -> int:
    h = (
        int(
            hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:15], 16
        )
        % DSIR_GUMBEL_GRID
    )
    u = (h + 1) / float(DSIR_GUMBEL_GRID + 1)
    return _round_half_up(-math.log(-math.log(u)) * Q)


def _frames(spark, raw_docs: dict[int, str], tgt_texts: list[str]):
    raw = spark.createDataFrame(
        [(i, t) for i, t in raw_docs.items()], "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [(10_000 + j, t) for j, t in enumerate(tgt_texts)],
        "doc_id long, text string",
    )
    return raw, tgt


_texts = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=24), min_size=1, max_size=4
)


@given(raw_texts=_texts, tgt_texts=_texts, dups=st.lists(st.integers(0, 3), max_size=3))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_weights_match_python_model(spark, raw_texts, tgt_texts, dups):
    """Spark weights equal the quadratic model on arbitrary small
    corpora (tiny alphabet with spaces → empty tokens, repeated words,
    0/1-gram docs, hash-bucket collisions all explored), including
    injected exact duplicates — which also proves the duplicate law
    (the model is a pure function of the text)."""
    raw_docs = dict(enumerate(raw_texts))
    for j, src in enumerate(dups):
        raw_docs[100 + j] = raw_texts[src % len(raw_texts)]
    raw, tgt = _frames(spark, raw_docs, tgt_texts)
    got = {
        r["doc_id"]: (r["n_grams"], r["logweight_q6"])
        for r in dsir_logweights(raw, tgt, buckets=64).collect()
    }
    assert got == model_weights(raw_docs, tgt_texts, 64)
    # duplicate law, stated directly on the engine output
    for j, src in enumerate(dups):
        assert got[100 + j] == got[src % len(raw_texts)]


@given(
    filler=st.lists(st.text(alphabet="abcd ", min_size=0, max_size=20), max_size=3),
    m=st.integers(1, 6),
    n=st.integers(1, 8),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@example(filler=["cd cd"], m=1, n=1)  # "cd cd" shares the bucket of "qy qy"
def test_target_only_grams_strictly_raise_weight(spark, filler, m, n):
    """The verdict's target-alignment law: with fresh tokens z / y
    (outside the filler alphabet), doc Z = "z"×(m+1) — whose m grams
    are all the target-only bigram "z z" — strictly outweighs doc
    Y = "y"×(m+1) — same gram count, bigram seen nowhere else.
    Provable from the λ formula: weight(Z) − weight(Y) =
    m·(λ_zz − λ_yy) and λ_zz − λ_yy ≈ q·ln(n_target+1) ≥ q·ln 2 ≫ the
    ±1 rounding slack, PROVIDED their buckets don't collide with each
    other or any filler gram.  z and y are the first two of qz, qy,
    qx, ... whose buckets are free for this filler, and the
    collision-free setup is asserted below."""
    taken = {_bucket(g, DSIR_BUCKETS) for t in filler for g in _grams(t)}
    fresh = []
    for tok in ("qz", "qy", "qx", "qw", "qv"):
        if _bucket(f"{tok} {tok}", DSIR_BUCKETS) not in taken:
            fresh.append(tok)
            taken.add(_bucket(f"{tok} {tok}", DSIR_BUCKETS))
    z, y = fresh[:2]
    z_doc = " ".join([z] * (m + 1))
    y_doc = " ".join([y] * (m + 1))
    raw_docs = dict(enumerate(filler)) | {50: z_doc, 51: y_doc}
    tgt_texts = [" ".join([z] * (n + 1))]
    bz, by = _bucket(f"{z} {z}", DSIR_BUCKETS), _bucket(f"{y} {y}", DSIR_BUCKETS)
    other = {
        _bucket(g, DSIR_BUCKETS)
        for t in list(filler) + tgt_texts
        for g in _grams(t)
        if g not in (f"{z} {z}", f"{y} {y}")
    }
    assert bz != by and bz not in other and by not in other  # collision-free setup
    raw, tgt = _frames(spark, raw_docs, tgt_texts)
    got = {
        r["doc_id"]: r["logweight_q6"]
        for r in dsir_logweights(raw, tgt, buckets=DSIR_BUCKETS).collect()
    }
    assert got[50] > got[51], (got[50], got[51])


def test_zero_gram_docs_kept_with_zero_weight(spark):
    """Documents with < 2 words (no bigrams) stay in the output with
    n_grams = 0 and weight 0 — a resample must see every candidate."""
    raw, tgt = _frames(spark, {1: "solo", 2: "", 3: "two words"}, ["a b"])
    got = {
        r["doc_id"]: (r["n_grams"], r["logweight_q6"])
        for r in dsir_logweights(raw, tgt, buckets=64).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (0, 0) and got[2] == (0, 0)
    assert got[3][0] == 1


def test_buckets_validated(spark):
    raw, tgt = _frames(spark, {1: "a b"}, ["a b"])
    with pytest.raises(ValueError, match="buckets"):
        dsir_logweights(raw, tgt, buckets=1)
    with pytest.raises(ValueError, match="k"):
        dsir_resample(dsir_logweights(raw, tgt), k=0)


@given(raw_texts=_texts, tgt_texts=_texts, k=st.integers(1, 5))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_resample_matches_gumbel_model(spark, raw_texts, tgt_texts, k):
    """The resample equals the model end-to-end: key_q6 =
    logweight_q6 + quantized hash-Gumbel, selection = k largest by
    (key desc, id) — deterministic across runs by construction."""
    raw_docs = dict(enumerate(raw_texts))
    raw, tgt = _frames(spark, raw_docs, tgt_texts)
    wts = dsir_logweights(raw, tgt, buckets=64)
    got = [
        (r["doc_id"], r["logweight_q6"], r["key_q6"], r["rank"])
        for r in dsir_resample(wts, k=k, salt="tsalt").orderBy("rank").collect()
    ]
    mw = model_weights(raw_docs, tgt_texts, 64)
    keyed = sorted(
        ((w + model_gumbel_q6(i, "tsalt"), i, w) for i, (_, w) in mw.items()),
        key=lambda t: (-t[0], t[1]),
    )
    want = [(i, w, key, rk + 1) for rk, (key, i, w) in enumerate(keyed[:k])]
    assert got == want


def test_gumbel_grid_keeps_u_strictly_inside_unit_interval():
    """The 2^52 grid's reason to exist: every u = (h52+1)/(2^52+1) is a
    correctly-rounded double strictly inside (0, 1), including the
    extreme hash values — the raw 60-bit construction would round the
    top values to exactly 1.0 and blow up -ln(-ln(u))."""
    g = DSIR_GUMBEL_GRID
    for h in (0, 1, g // 2, g - 2, g - 1):
        u = (h + 1) / float(g + 1)
        assert 0.0 < u < 1.0
        assert math.isfinite(-math.log(-math.log(u)))
    # and the failure mode the grid avoids, demonstrated
    assert (((1 << 60) - 1) + 1) / float((1 << 60) + 1) == 1.0


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_weights_plan_broadcasts_lambda_table(spark):
    """Scale contract: the ≤ B-row λ table reaches the per-occurrence
    join as a BROADCAST (the corpus-sized occurrence stream never
    shuffles on bucket), and the only corpus-keyed exchange is the
    per-document sum; no row-UDF, no real cartesian (the two 1-row
    total stitches are broadcast nested loops by construction)."""
    import re as _re

    plan = _plan(q_dsir_weights(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # exactly two sort-merge joins are allowed, neither corpus×bucket:
    # the FullOuter histogram merge (full-outer cannot broadcast; both
    # sides are ≤ B rows) and the doc_id-keyed LeftOuter zero-gram
    # backfill.  An Inner SMJ would mean the corpus-sized occurrence
    # stream started shuffling on bucket instead of taking the
    # broadcast λ table.
    smj_types = _re.findall(
        r"\) SortMergeJoin\nLeft keys[^\n]*\nRight keys[^\n]*\nJoin type: (\w+)",
        plan,
    )
    assert sorted(smj_types) == ["FullOuter", "LeftOuter"], (smj_types, plan)


def test_sample_plan_is_take_ordered(spark):
    """The resample's global top-k must compile to
    TakeOrderedAndProject (per-partition heaps) — never a full sort of
    the corpus-sized weight frame."""
    plan = _plan(q_dsir_sample_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_staged_query_output_shapes(spark):
    """Non-empty outputs, integer dtypes on the BIGINT columns, k rows
    with contiguous ranks on the resample (the oracle gates run the
    value compare; this pins the structural contract)."""
    w = q_dsir_weights(spark, SF_SMOKE)
    dt = dict(w.dtypes)
    assert dt["n_grams"] == "bigint" and dt["logweight_q6"] == "bigint"
    assert w.count() > 0
    s = q_dsir_sample_topk(spark, SF_SMOKE)
    rows = s.collect()
    assert len(rows) == DSIR_K
    assert [r["rank"] for r in rows] == list(range(1, DSIR_K + 1))
    assert dict(s.dtypes)["key_q6"] == "bigint"
    # and the staged params: salt/quant wired through
    assert DSIR_SALT and DSIR_Q == Q
