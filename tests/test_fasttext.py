"""DCLM / fastText-style model-based quality filter (``operators/
text.linear_quality_score``; registered query ``fasttext_quality`` — Li et
al. 2024 "DataComp-LM" filter with the fastText linear-over-hashed-
n-grams architecture of Joulin et al. 2016; the frozen int64-quantized
model is the committed fixture ``fixtures/fasttext/weights.parquet``,
trained ONCE by ``tools/gen_fasttext_fixture.py`` — the
trainer/scorer split of ``sim_ivf_learned_topk``).

Layers: fixture-shape consistency with the trainer constants, DuckDB
oracle compare + dtype parity at both gate scales, a pure-Python
mirror under hypothesis USING THE COMMITTED WEIGHTS (hashing, integer
sum, sign rule, rounded mean), value-blindness guards on the committed
corpus (both kept classes populated), and the plan invariants
(broadcast weight join; the bias is a 1-row lazy crossJoin)."""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_pipelining_spark.operators.text import (
    FASTTEXT_BUCKETS,
    linear_quality_score,
)
from pyspark_pipelining_spark.queries_corpus import (
    SQL_FASTTEXT_QUALITY,
    _fasttext_fixture_path,
    q_fasttext_quality,
)
from tests.conftest import SF_ORACLE, SF_SMOKE

INT_COLS = ["doc_id", "n_grams", "sum_q6", "score_q6", "kept"]


@pytest.fixture(scope="module")
def weights():
    import duckdb

    rows = duckdb.sql(
        f"SELECT bucket, w_q6 FROM '{_fasttext_fixture_path()}'"
    ).fetchall()
    return {int(b): int(w) for b, w in rows}


def test_fixture_matches_trainer_constants(weights):
    """The committed fixture has exactly FASTTEXT_BUCKETS weight rows
    plus the bias row, and the trainer module pins the same bucket
    count (a drifted retrain fails here, not as a silent hash
    mismatch)."""
    import tools.gen_fasttext_fixture as gen

    assert gen.BUCKETS == FASTTEXT_BUCKETS
    assert set(weights) == set(range(FASTTEXT_BUCKETS)) | {-1}


def _bucket(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % FASTTEXT_BUCKETS


def model(docs: dict[int, str], wq: dict[int, int]):
    """Mirror: doc_id → (n_grams, sum_q6, score_q6, kept) with the
    committed weights."""
    bias = wq[-1]
    out = {}
    for doc_id, text in docs.items():
        # Spark split(' +') and DuckDB string_split_regex both KEEP
        # leading/trailing empty tokens — mirror that, don't filter
        words = re.split(" +", text.lower())
        grams = [f"{a} {b}" for a, b in zip(words, words[1:])]
        n = len(grams)
        s = sum(wq[_bucket(g)] for g in grams)
        if n == 0:
            out[doc_id] = (0, 0, 0, 0)
            continue
        score = int(
            Decimal((s + bias * n) / n).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        out[doc_id] = (n, s, score, int(s + bias * n > 0))
    return out


def test_oracle_compare_and_dtypes(spark):
    """Bit-exact against the DuckDB oracle at both local gate scales,
    integer dtypes on every BIGINT column."""
    from tests.oracle_utils import compare, duck_connection

    compare(spark, SF_SMOKE, q_fasttext_quality, SQL_FASTTEXT_QUALITY)
    compare(spark, SF_ORACLE, q_fasttext_quality, SQL_FASTTEXT_QUALITY)
    sdf = q_fasttext_quality(spark, SF_SMOKE)
    dt = dict(sdf.dtypes)
    for c in INT_COLS:
        assert dt[c] == "bigint", (c, dt)
    con = duck_connection(SF_SMOKE)
    pdf = con.execute(SQL_FASTTEXT_QUALITY).df()
    for c in INT_COLS:
        assert str(pdf.dtypes[c]) == "int64", (c, pdf.dtypes)


_texts = st.lists(
    st.text(alphabet="ab d", min_size=0, max_size=25), min_size=1, max_size=6
)


@given(texts=_texts)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_matches_python_model(spark, texts, weights):
    """Spark equals the committed-weights mirror on arbitrary tiny
    docs (empty docs, single-word docs with zero grams, repeated
    grams all explored)."""
    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    wdf = spark.createDataFrame(
        [(b, w) for b, w in sorted(weights.items())], "bucket long, w_q6 long"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["sum_q6"], r["score_q6"], r["kept"])
        for r in linear_quality_score(df, wdf).collect()
    }
    assert got == model(docs, weights)


def test_committed_corpus_populates_both_classes(spark, weights):
    """Value-blindness guard: on the committed corpus both kept
    classes are populated, every doc appears, and kept is exactly the
    integer sign rule over (sum_q6, n_grams, bias)."""
    rows = q_fasttext_quality(spark, SF_SMOKE).collect()
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == n_docs
    kept = sum(r["kept"] for r in rows)
    assert 0 < kept < len(rows), kept
    bias = weights[-1]
    for r in rows:
        want = int(r["n_grams"] > 0 and r["sum_q6"] + bias * r["n_grams"] > 0)
        assert r["kept"] == want, r


def test_plan_invariants(spark):
    """No cartesian product, no Python row UDF; the weight table joins
    as a broadcast (the corpus never shuffles before the per-doc
    sum)."""
    plan = (
        q_fasttext_quality(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
