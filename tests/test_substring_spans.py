"""exact_substring_spans — span-level exact-substring dedup
(registered round 14 in queries_llm.py beside the dedup ladder).

Three layers, mirroring the repo's gate stack:

* DuckDB oracle compare + pandas-dtype parity at sf0.001 (what the
  registered oracle gate runs);
* a quadratic pure-Python char-run reference model under hypothesis —
  proving the diagonal-island gram construction EQUALS plain
  "maximal matching character run >= max(L, min_span)" semantics;
* plan shape: broadcast anti-join for the boilerplate cap, exactly
  four shuffle exchanges (hot-gram count, two self-join sides, the
  island window — the final aggregate must REUSE the window's
  partitioning), no cartesian, no row UDF.
"""

from __future__ import annotations

import itertools
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.dedup import exact_substring_spans
from pyspark_pipelining_spark.queries_llm import (
    SQL_EXACT_SUBSTRING_SPANS,
    SQL_SELF_REPEAT_SPANS,
    q_exact_substring_spans,
    q_self_repeat_spans,
)
from tests.conftest import SF_SMOKE

COLS = ["doc_a", "doc_b", "start_a", "start_b", "span_len"]


def model_spans(
    docs: dict[int, str], L: int, min_span: int, scope: str = "cross"
) -> list[tuple]:
    """Quadratic reference: maximal matching char runs of length
    >= max(L, min_span), walked per (pair, diagonal); self-pairs over
    positive diagonals for scope self/both."""
    out = []
    pairs = list(itertools.combinations(sorted(docs), 2)) if scope != "self" else []
    if scope in ("self", "both"):
        pairs += [(i, i) for i in sorted(docs)]
    for a, b in pairs:
        ta, tb = docs[a], docs[b]
        lo = 1 if a == b else -(len(tb) - 1)
        for d in range(lo, len(ta)):
            run = 0
            for pb in range(1, len(tb) + 1):
                pa = pb + d
                if 1 <= pa <= len(ta) and ta[pa - 1] == tb[pb - 1]:
                    run += 1
                else:
                    if run >= max(L, min_span):
                        out.append((a, b, pb - run + d, pb - run, run))
                    run = 0
            if run >= max(L, min_span):
                sb = len(tb) + 1 - run
                out.append((a, b, sb + d, sb, run))
    return sorted(out)


def spark_spans(
    spark,
    docs: dict[int, str],
    L: int,
    min_span: int,
    cap: int = 10**9,
    scope: str = "cross",
):
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], ["doc_id", "text"]
    )
    rows = exact_substring_spans(
        df,
        gram_len=L,
        min_span=min_span,
        max_gram_occurrences=cap,
        scope=scope,
    ).collect()
    return sorted(tuple(r[c] for c in COLS) for r in rows)


def test_known_spans(spark):
    """Hand-checked: one embedded shared passage, one full-prefix
    overlap, one doc with no long overlap."""
    shared = "the quick brown fox jumps over the lazy dog!"
    docs = {
        1: "AAA " + shared + " tail one",
        2: "completely different lead-in;" + shared + "and more",
        3: "no overlap here at all, nothing shared anywhere",
    }
    got = spark_spans(spark, docs, L=8, min_span=10)
    assert got == model_spans(docs, 8, 10)
    # the shared passage surfaces once, at the right offsets
    assert (1, 2, 5, 30, len(shared)) in got
    assert not [g for g in got if 3 in (g[0], g[1])]


def test_min_span_below_gram_len_rejected(spark):
    df = spark.createDataFrame([(1, "x" * 50)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="min_span"):
        exact_substring_spans(df, gram_len=16, min_span=8)


def test_gram_cap_drops_boilerplate_spans(spark):
    """With the occurrence cap binding on a universal gram, spans split
    or vanish exactly where the capped grams fall — and the degenerate
    cap=1 (every cross-doc gram is >= 2 occurrences) yields nothing."""
    docs = {1: "abcdefghij KLMNO abcdefghij", 2: "abcdefghij PQRST abcdefghij"}
    full = spark_spans(spark, docs, L=5, min_span=5)
    assert full  # uncapped: the 10-char prefix/suffix spans exist
    assert spark_spans(spark, docs, L=5, min_span=5, cap=1) == []


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=40), min_size=2, max_size=4
    ),
    L=st.integers(3, 5),
    extra=st.integers(0, 4),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_spans_match_char_run_model(spark, texts, L, extra):
    """The gram/diagonal-island construction equals the plain char-run
    definition on arbitrary small-alphabet inputs (small alphabets
    maximize accidental overlaps, islands that touch string ends,
    multi-diagonal repetitive structure)."""
    docs = dict(enumerate(texts))
    assert spark_spans(spark, docs, L, L + extra) == model_spans(docs, L, L + extra)


def test_self_repeats_known_cases(spark):
    """Intra-document repeats: a pasted-twice passage surfaces as one
    self-span at the paste offset; periodic text yields one span per
    period multiple (the faithful alignment reading — a period
    detector's input); trivial diagonal 0 and mirrored alignments
    never appear; cross-doc output is unchanged by the flag."""
    passage = "copy of the very same paragraph body"
    docs = {1: passage + " ... " + passage, 2: "ab" * 12 + "Z", 3: "unrelated"}
    got = spark_spans(spark, docs, L=6, min_span=8, scope="both")
    assert got == model_spans(docs, 6, 8, scope="both")
    # the pasted passage: start_a = second copy, start_b = first copy
    assert (1, 1, len(passage) + 6, 1, len(passage)) in got
    assert all(g[2] > g[3] for g in got if g[0] == g[1])  # half-plane only
    # periodic doc 2: one span per even shift, each maximal to the tail
    per = [g for g in got if g[0] == 2]
    assert per == [(2, 2, 1 + d, 1, 24 - d) for d in range(2, 17, 2)]
    # cross-doc rows identical with and without the flag
    no_self = spark_spans(spark, docs, L=6, min_span=8)
    assert [g for g in got if g[0] != g[1]] == no_self


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=30), min_size=1, max_size=3
    ),
    L=st.integers(3, 4),
    extra=st.integers(0, 3),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_self_spans_match_char_run_model(spark, texts, L, extra):
    """Scopes self and both equal the model on adversarial repetitive inputs
    (small alphabets are near-periodic, the hardest self-repeat case)."""
    docs = dict(enumerate(texts))
    for scope in ("both", "self"):
        assert spark_spans(
            spark, docs, L, L + extra, scope=scope
        ) == model_spans(docs, L, L + extra, scope=scope), scope


def test_self_with_winnow_rejected(spark):
    df = spark.createDataFrame([(1, "y" * 60)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="exact-mode only"):
        exact_substring_spans(
            df, gram_len=8, min_span=20, winnow=4, scope="both"
        )
    with pytest.raises(ValueError, match="scope"):
        exact_substring_spans(df, gram_len=8, min_span=20, scope="al1")


def test_winnow_mode_bit_identical_to_full(spark):
    """The 100 TB lever costs no exactness: with min_span >=
    gram_len + winnow - 1 (enforced), minimizer-restricted candidate
    discovery followed by the exact island stage must return the SAME
    rows as full mode — the Schleimer winnowing guarantee, checked on
    corpus data at BOTH committed gate scales (the first, weaker
    selection scheme passed at sf0.001 and only diverged at sf0.1, so
    single-scale equality is known-insufficient here)."""
    from pyspark_pipelining_spark.sources.registry import load_table
    from tests.conftest import SF_ORACLE

    for sf_dir in (SF_SMOKE, SF_ORACLE):
        docs = load_table(spark, sf_dir, "documents")

        def run(**kw):
            rows = exact_substring_spans(
                docs, gram_len=16, min_span=32, **kw
            ).collect()
            return sorted(tuple(r[c] for c in COLS) for r in rows)

        full = run()
        assert full  # the corpus has >= 32-char verbatim repeats
        for w in (4, 8, 17):
            assert run(winnow=w) == full, f"winnow={w} diverged at {sf_dir}"


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=40), min_size=2, max_size=3
    ),
    L=st.integers(3, 4),
    w=st.integers(2, 5),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_winnow_matches_model_on_arbitrary_input(spark, texts, L, w):
    """Winnowed mode equals the char-run model at the guaranteed
    threshold min_span = L + w - 1, on adversarially small alphabets
    (maximal accidental collisions and tie-heavy hash windows)."""
    docs = dict(enumerate(texts))
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], ["doc_id", "text"]
    )
    got = exact_substring_spans(
        df, gram_len=L, min_span=L + w - 1, max_gram_occurrences=10**9, winnow=w
    ).collect()
    got = sorted(tuple(r[c] for c in COLS) for r in got)
    assert got == model_spans(docs, L, L + w - 1)


def test_winnow_threshold_enforced(spark):
    df = spark.createDataFrame([(1, "x" * 60)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="winnow"):
        exact_substring_spans(df, gram_len=16, min_span=32, winnow=40)


def test_oracle_compare_and_dtypes(spark):
    """The queued query against its DuckDB oracle at sf0.001 — the same
    compare + integer-dtype gates the staged set runs, ahead of
    promotion.  Output must be non-empty (the corpus HAS verbatim
    repeated passages) and all five columns int64 on both engines."""
    from tests.oracle_utils import compare, duck_connection

    compare(spark, SF_SMOKE, q_exact_substring_spans, SQL_EXACT_SUBSTRING_SPANS)
    sdf = q_exact_substring_spans(spark, SF_SMOKE)
    assert sdf.count() > 0
    assert all(t == "bigint" for _, t in sdf.dtypes), sdf.dtypes
    con = duck_connection(SF_SMOKE)
    ddf = con.execute(SQL_EXACT_SUBSTRING_SPANS).df()
    assert all(str(dt) == "int64" for dt in ddf.dtypes), ddf.dtypes


def _plan(spark):
    return (
        q_exact_substring_spans(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )


def test_self_oracle_compare_and_dtypes(spark):
    """The queued self-scope query against its DuckDB oracle at
    sf0.001, plus the non-empty and integer-dtype gates (the corpus
    has short intra-document template repeats — probed max 24 chars,
    hence gram 12 / threshold 16)."""
    from tests.oracle_utils import compare, duck_connection

    compare(spark, SF_SMOKE, q_self_repeat_spans, SQL_SELF_REPEAT_SPANS)
    sdf = q_self_repeat_spans(spark, SF_SMOKE)
    assert sdf.count() > 0
    assert all(t == "bigint" for _, t in sdf.dtypes), sdf.dtypes
    con = duck_connection(SF_SMOKE)
    ddf = con.execute(SQL_SELF_REPEAT_SPANS).df()
    assert all(str(dt) == "int64" for dt in ddf.dtypes), ddf.dtypes


def test_self_scope_plan_joins_on_doc_and_hash(spark):
    """The self scan must key its join on (doc, h) — never on the hash
    alone — so two documents are never paired: both join key columns
    appear in the join condition of the executed text, and the plan
    carries no cartesian/row-UDF."""
    plan = (
        q_self_repeat_spans(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # formatted mode lists join keys on "Left keys"/"Right keys" detail
    # lines; the cap anti-join keys on the hash alone by design, so the
    # contract is: at least one join keys on BOTH (doc, h), and no join
    # keys on h together with anything OTHER than doc
    key_lines = [
        line.strip()
        for line in plan.splitlines()
        if line.strip().startswith(("Left keys", "Right keys"))
    ]
    assert key_lines, plan
    both = [line for line in key_lines if "doc#" in line and "h#" in line]
    assert both, key_lines
    # the negative half (r12 ADVICE): any key line touching h may name
    # ONLY doc beside it — an h-plus-anything-else key (e.g. h alone on
    # the island pair join) would mean the self scan pairs documents
    for line in key_lines:
        if "h#" not in line:
            continue
        names = set(re.findall(r"([A-Za-z_]\w*)#\d+", line))
        assert names <= {"doc", "h"}, (line, key_lines)


def test_layout_invariance(spark):
    """The queued queries under the hostile layout (prime shuffle
    partition count + 64 KiB scan splits) — the registered sweep's
    contract, applied before promotion: island windows and the
    min/count aggregation must not depend on row arrival order."""
    def run():
        rows = q_exact_substring_spans(spark, SF_SMOKE).collect()
        out = [tuple(r[c] for c in COLS) for r in rows]
        rows2 = q_self_repeat_spans(spark, SF_SMOKE).collect()
        return out + [
            (r["doc_id"], r["start_a"], r["start_b"], r["span_len"]) for r in rows2
        ]

    base = run()
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_mb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        hostile = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mb)
    assert base == hostile and base


def test_plan_shape(spark):
    """Smoke-layout shape: no cartesian / row UDF / generate (the
    explode ran before the checkpoint, so the plan reads the
    checkpointed gram RDD), the boilerplate cap is a broadcast
    LeftAnti, and — the reason ``hot`` is checkpointed — the corpus
    occurrence count appears ZERO times in the final plan instead of
    being cloned into each self-join side (hash_aggs == 2 is the
    island aggregate's partial+final pair only)."""
    from pyspark_pipelining_spark.plans.fingerprint import fingerprint_plan_text

    plan = _plan(spark)
    fp = fingerprint_plan_text(plan)
    assert "cartesian" not in fp and "row_udfs" not in fp
    assert "generates" not in fp
    assert "Scan ExistingRDD" in plan
    assert "LeftAnti" in plan
    assert fp["hash_aggs"] == 2, fp
    assert fp["windows"] == 1, fp


def test_plan_shape_at_scale_regime(spark):
    """The 100 TB shape, forced by disabling size-based broadcast: the
    gram self-join becomes ONE SortMergeJoin on the hash, and total
    shuffles are exactly four — both join sides, the island window,
    and the display sort.  Four is the proof of the docstring's reuse
    claim: the island aggregate's keys are a superset of the window's
    partition keys, so an exchange between window and aggregate (which
    would make five) must not exist.  The anti-join cap stays a
    broadcast (explicit hint, never size-based)."""
    from pyspark_pipelining_spark.plans.fingerprint import fingerprint_plan_text

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    fp = fingerprint_plan_text(plan)
    assert fp["smj"] == 1, fp
    assert fp["shuffles"] == 4, fp
    assert fp["bhj"] == 2 and "LeftAnti" in plan, fp
    assert fp["windows"] == 1 and fp["hash_aggs"] == 2, fp


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=40), min_size=2, max_size=5
    ),
    L=st.integers(3, 5),
    marks=st.lists(st.booleans(), min_size=2, max_size=5),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_xor_pushdown_equals_filter_after(spark, texts, L, marks):
    """The bipartite xor_docs pushdown (r15 — the decontamination pair
    join becomes marked × unmarked and never materializes
    unmarked×unmarked) is BIT-IDENTICAL to running the full symmetric
    scan and filtering to exactly-one-marked pairs afterwards — on
    arbitrary small-alphabet corpora with arbitrary markings
    (including all-marked and none-marked, where the pushdown output
    is empty by definition)."""
    docs = dict(enumerate(texts))
    marked = {i for i in docs if marks[i % len(marks)]}
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], ["doc_id", "text"]
    )
    xor = spark.createDataFrame(
        [(i,) for i in marked] or [(-1,)], ["doc_id"]
    )
    got = sorted(
        tuple(r[c] for c in COLS)
        for r in exact_substring_spans(
            df, gram_len=L, min_span=L, max_gram_occurrences=10**9,
            xor_docs=xor,
        ).collect()
    )
    full = sorted(
        tuple(r[c] for c in COLS)
        for r in exact_substring_spans(
            df, gram_len=L, min_span=L, max_gram_occurrences=10**9
        ).collect()
        if (r["doc_a"] in marked) != (r["doc_b"] in marked)
    )
    assert got == full


def test_xor_requires_cross_full_mode(spark):
    df = spark.createDataFrame([(0, "abcabc"), (1, "abcabc")], ["doc_id", "text"])
    xor = spark.createDataFrame([(0,)], ["doc_id"])
    with pytest.raises(ValueError, match="xor_docs"):
        exact_substring_spans(df, gram_len=3, min_span=3, scope="self", xor_docs=xor)
    with pytest.raises(ValueError, match="xor_docs"):
        exact_substring_spans(
            df, gram_len=3, min_span=12, winnow=8, xor_docs=xor
        )
