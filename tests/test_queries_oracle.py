"""Every registered query must match its DuckDB oracle — the same
comparison the driver runs at sf0.01 (here at sf0.001 for speed; the
slow marker runs sf0.01 too)."""

from __future__ import annotations

import pytest

from pyspark_pipelining_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import compare

QUERY_NAMES = sorted(QUERIES)


@pytest.mark.quick
@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle_smoke(spark, name):
    if name not in ORACLES:
        df = QUERIES[name](spark, SF_SMOKE)
        assert df.count() >= 0
        return
    compare(spark, SF_SMOKE, QUERIES[name], ORACLES[name])
    # empty-but-matching hides date/filter bugs: every registered query
    # must produce rows on the smoke data (verified for all 111)
    assert QUERIES[name](spark, SF_SMOKE).count() > 0


@pytest.mark.slow
@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle_sf001(spark, name):
    from tests.conftest import in_rotation

    if name not in ORACLES:
        pytest.skip("rows-only query")
    if not in_rotation(name):
        pytest.skip("sampled-rotating sf0.01 tier: certified a neighboring round")
    compare(spark, SF_ORACLE, QUERIES[name], ORACLES[name])


# Columns where DuckDB's pandas path yields float64 against an integral
# Spark column BECAUSE the column is nullable (rollup NULLs / left-join
# misses): both engines' pandas conversions coerce identically, so the
# driver compare stays green (proven r02/r04).  Anything NOT in this
# allowlist is the red-row class from r03 (media_features HUGEINT):
# an un-CAST integer sum in the oracle SQL.
_NULLABLE_FLOAT64_OK = {
    ("asof_attribution", "click_event_id"),
    ("cube_revenue", "o_year"),
    # sniff schema: fields not applicable to the sniffed container are
    # all-NULL bigint on BOTH sides (Spark toPandas and DuckDB .df()
    # each coerce to float64 NaN) — same nullable class as above.
    ("media_sniff", "sniffed_sample_rate"),
    ("media_wav_sniff", "sniffed_width"),
    ("media_wav_sniff", "sniffed_height"),
}


@pytest.mark.quick
def test_oracle_pandas_dtypes_match_spark_integrals(spark):
    """Every integral Spark output column must come back integral from
    DuckDB's pandas path (the driver's canonicalizer): a HUGEINT sum
    left un-CAST stringifies as '15.0' vs Spark's '15' and turns the
    driver row red even though fetchall-based compares stay green."""
    from tests.oracle_utils import duck_connection

    con = duck_connection(SF_SMOKE)
    offenders = []
    try:
        for name in QUERY_NAMES:
            sdf = QUERIES[name](spark, SF_SMOKE)
            integral = {
                f.name
                for f in sdf.schema.fields
                if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
            }
            if not integral:
                continue
            pdf = con.execute(ORACLES[name]).df()
            for c, t in pdf.dtypes.items():
                if c in integral and str(t).startswith("float"):
                    if (name, c) not in _NULLABLE_FLOAT64_OK:
                        offenders.append((name, c, str(t)))
    finally:
        con.close()
    assert not offenders, f"un-CAST integer aggregates in oracle SQL: {offenders}"


@pytest.mark.quick
def test_staged_oracle_pandas_dtypes_match_spark_integrals(spark):
    """The dtype gate over the last staged batch, now registered, held
    to the strict pre-registration form: no nullable-float64 allowlist,
    so an un-CAST HUGEINT or integer-width mismatch in their oracle SQL
    fails even where the registry-wide gate would forgive it."""
    from tests.conftest import FORMERLY_STAGED
    from tests.oracle_utils import duck_connection

    con = duck_connection(SF_SMOKE)
    offenders = []
    try:
        for name in FORMERLY_STAGED:
            sdf = QUERIES[name](spark, SF_SMOKE)
            integral = {
                f.name
                for f in sdf.schema.fields
                if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
            }
            if not integral:
                continue
            pdf = con.execute(ORACLES[name]).df()
            for c, t in pdf.dtypes.items():
                if c in integral and str(t).startswith("float"):
                    offenders.append((name, c, str(t)))
    finally:
        con.close()
    assert not offenders, f"un-CAST integer aggregates in staged oracle SQL: {offenders}"


def test_registry_merge_rejects_duplicate_names():
    """A name in two family dicts would silently shadow one query (or
    oracle) with the other; the registry merge fails instead."""
    from pyspark_pipelining_spark.queries import _merge

    with pytest.raises(ValueError, match="reach_overall"):
        _merge({"reach_overall": "a"}, {"reach_overall": "b"})


def test_compare_gate_detects_perturbations(spark):
    """Mutation meta-test of the correctness gate itself: every class of
    divergence the driver could see (value drift, dropped row, extra
    row, renamed column, NULL swap) must FAIL compare(), while the two
    insensitivities compare() promises (row order, column order) must
    PASS — so a future refactor cannot silently weaken the gate all
    192+ oracle tests stand on."""
    from pyspark.sql import functions as F

    from tests.oracle_utils import compare

    def spark_fn(rows):
        def fn(s, _sf):
            return s.createDataFrame(rows, "a bigint, b double")

        return fn

    base = [(0, 0.5), (1, 2.5), (2, 4.5)]
    sql = "SELECT * FROM (VALUES (CAST(0 AS BIGINT), 0.5), (1, 2.5), (2, 4.5)) t(a, b)"

    compare(spark, SF_SMOKE, spark_fn(base), sql)  # sanity: green on equal

    # row order and column order are declared insensitive — must pass
    compare(spark, SF_SMOKE, spark_fn(list(reversed(base))), sql)
    compare(
        spark,
        SF_SMOKE,
        lambda s, _sf: s.createDataFrame(
            [(b, a) for a, b in base], "b double, a bigint"
        ),
        sql,
    )

    for label, bad_rows in [
        ("value drift", [(0, 0.5), (1, 2.5), (2, 4.6)]),
        ("null swap", [(0, 0.5), (1, None), (2, 4.5)]),
        ("nan swap", [(0, 0.5), (1, float("nan")), (2, 4.5)]),
        ("dropped row", base[:2]),
        ("extra row", base + [(3, 6.5)]),
    ]:
        with pytest.raises(AssertionError):
            compare(spark, SF_SMOKE, spark_fn(bad_rows), sql)
            pytest.fail(f"gate passed on {label}")

    with pytest.raises(AssertionError):  # renamed column
        compare(
            spark,
            SF_SMOKE,
            lambda s, _sf: s.createDataFrame(base, "a bigint, c double"),
            sql,
        )
