"""Exhaustive hostile-layout sweep — the full-registry version of the
pytest sweep (``tests/test_properties.py::test_layout_invariance_sweep``
runs a curated ~26-name list on a sampled rotation; this tool runs
EVERY registered query):

    python tools/layout_sweep.py [query ...] [--sf /root/testdata/sf0.001]

For each query: run once under the session's normal layout, then again
under a hostile one (prime shuffle-partition count + tiny scan splits,
so every exchange re-deals rows differently and every scan splinters),
and require the SORTED stringified row sets to be byte-identical —
results must be functions of the data, never of the partitioning.
This is the 1000-executor safety contract in miniature: a query that
changes under local[8]+7 partitions would change under AQE re-plans,
executor loss, or a different file layout at 100 TB.

Each execution is cache-isolated (``runner.release``), so the hostile
run recomputes every persisted frame under the hostile layout instead
of reading blocks the normal run cached.  Prints one OK/FAIL line per
query, exits 1 on any mismatch and 2 on an unknown query name.
Run before a freeze for the strongest layout certification the
committed testdata supports (~tens of minutes); the per-round pytest
rotation keeps the curated high-risk shapes continuously covered.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR_DEFAULT = "/root/testdata/sf0.001"

HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
}


def main(argv: list[str]) -> int:
    import argparse

    parser = argparse.ArgumentParser(
        description="hostile-layout invariance sweep (positional query "
        "names; default = the whole registry)"
    )
    parser.add_argument("queries", nargs="*")
    parser.add_argument("--sf", default=SF_DIR_DEFAULT, dest="sf_dir")
    ns = parser.parse_args(argv)
    args, sf_dir = ns.queries, ns.sf_dir

    from pyspark_pipelining_spark import runner

    queries = runner.resolve(args)
    if queries is None:
        return 2

    spark = runner.session("layout-sweep", master="local[8]", shuffle_partitions=8)

    def run(name):
        df = queries[name](spark, sf_dir)
        try:
            return sorted(
                tuple(str(x) for x in r)
                for r in df.select(*sorted(df.columns)).collect()
            )
        finally:
            runner.release(spark)

    failures = []
    saved = {k: spark.conf.get(k) for k in HOSTILE}
    for name in queries:
        try:
            base = run(name)
            try:
                for k, v in HOSTILE.items():
                    spark.conf.set(k, v)
                hostile = run(name)
            finally:
                for k, v in saved.items():
                    spark.conf.set(k, v)
            if base == hostile:
                print(f"OK   {name} rows={len(base)}")
            else:
                failures.append(name)
                diff = [
                    (a, b) for a, b in zip(base, hostile) if a != b
                ][:3]
                print(
                    f"FAIL {name}: {len(base)} vs {len(hostile)} rows;"
                    f" first diffs {diff}"
                )
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: {type(exc).__name__}: {str(exc)[:200]}")
    if failures:
        print(f"failures: {failures}")
        return 1
    print(f"swept {len(queries)} queries at {sf_dir}: all layout-invariant")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
