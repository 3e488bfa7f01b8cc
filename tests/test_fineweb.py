"""FineWeb-style composed quality battery (``operators/text.
quality_battery``; registered query ``quality_battery`` — Penedo et al.
2024's per-rule-flag composition over the applicable document-level
Gopher rules; thresholds corpus-adapted, see operators/text.py).

Layers: DuckDB oracle compare + dtype parity at both gate scales, a
quadratic pure-Python model under hypothesis, a both-branches-
populated check for EVERY rule on the committed corpora (a
constant flag is value-blind — the GOPHER_DUP3 lesson), the
kept = AND-of-flags identity, and the plan invariants."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_pipelining_spark.operators.text import (
    BATTERY_MAX_WORDS,
    BATTERY_MIN_STOPWORDS,
    BATTERY_MIN_WORDS,
    BATTERY_STOPWORDS,
    BATTERY_WORDLEN,
    quality_battery,
)
from pyspark_pipelining_spark.queries_llm import (
    SQL_QUALITY_BATTERY,
    q_quality_battery,
)
from tests.conftest import SF_ORACLE, SF_SMOKE

INT_COLS = [
    "doc_id",
    "n_words",
    "sum_word_len",
    "n_stopwords",
    "flag_word_count",
    "flag_word_len",
    "flag_stopword",
    "flag_repetition",
    "kept",
]
FLAGS = ["flag_word_count", "flag_word_len", "flag_stopword", "flag_repetition"]


def model_flags(text: str) -> tuple:
    """(n_words, sum_word_len, n_stopwords, flag_wc, flag_wl, flag_sw)
    — the three battery-local rules (repetition is pinned separately
    by tests/test_gopher.py's own model)."""
    w = re.split(" +", text.lower())
    n_words = len(w)
    sum_len = sum(len(x) for x in w)
    n_stop = sum(1 for x in w if x in BATTERY_STOPWORDS)
    lo, hi = BATTERY_WORDLEN
    f_wc = int(n_words < BATTERY_MIN_WORDS or n_words > BATTERY_MAX_WORDS)
    f_wl = int(sum_len < lo * n_words or sum_len > hi * n_words)
    f_sw = int(n_stop < BATTERY_MIN_STOPWORDS)
    return (n_words, sum_len, n_stop, f_wc, f_wl, f_sw)


def test_oracle_compare_and_dtypes(spark):
    from tests.oracle_utils import compare, duck_connection

    compare(spark, SF_SMOKE, q_quality_battery, SQL_QUALITY_BATTERY)
    compare(spark, SF_ORACLE, q_quality_battery, SQL_QUALITY_BATTERY)
    sdf = q_quality_battery(spark, SF_SMOKE)
    dt = dict(sdf.dtypes)
    for c in INT_COLS:
        assert dt[c] == "bigint", (c, dt)
    con = duck_connection(SF_SMOKE)
    pdf = con.execute(SQL_QUALITY_BATTERY).df()
    for c in INT_COLS:
        assert str(pdf.dtypes[c]) == "int64", (c, pdf.dtypes)


_texts = st.lists(
    st.text(alphabet="abc the a ", min_size=1, max_size=40),
    min_size=1,
    max_size=6,
)


@given(texts=_texts)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_matches_python_model(spark, texts):
    """Spark battery rule flags equal the quadratic model on arbitrary
    tiny docs (stopword-only docs, 1-word docs, empty-token splits)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_words"],
            r["sum_word_len"],
            r["n_stopwords"],
            r["flag_word_count"],
            r["flag_word_len"],
            r["flag_stopword"],
        )
        for r in quality_battery(df).collect()
    }
    want = {i: model_flags(t) for i, t in enumerate(texts)}
    assert got == want


def test_every_rule_has_both_branches_on_committed_corpora(spark):
    """Each of the four flags must fire on SOME doc and pass on SOME
    doc at both gate scales, and kept must equal the AND of the flags
    — a threshold drifting outside the corpus envelope (or a testdata
    regeneration) fails here, not as a value-blind green oracle row."""
    for sf_dir in (SF_SMOKE, SF_ORACLE):
        rows = q_quality_battery(spark, sf_dir).collect()
        for flag in FLAGS:
            vals = Counter(r[flag] for r in rows)
            assert set(vals) == {0, 1}, (sf_dir, flag, vals)
        for r in rows:
            want_kept = int(all(r[f] == 0 for f in FLAGS))
            assert r["kept"] == want_kept, r
        kept = Counter(r["kept"] for r in rows)
        assert set(kept) == {0, 1}, (sf_dir, kept)


def test_plan_invariants(spark):
    plan = (
        q_quality_battery(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
