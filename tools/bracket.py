"""Dedicated per-query timing bracket — the same-code median-of-N
harness behind the bench adjudications of earlier rounds (sim_ivfpq_*,
node_jaccard, sim_lsh_multitable, corpus_prep), so a driver-run
outlier can be settled with one command instead of an ad-hoc script:

    python tools/bracket.py sim_lsh_multitable corpus_prep [--reps 5]
        [--sf SF_DIR]

Methodology (``runner.timed_runs``, the same loop as bench.py): one
untimed warm-up execution of every listed query before the first timed
repeat, so the first-listed query's median carries no more JVM warm-up
than the others', then N timed repeats per query to a noop sink;
persist handles and the session cache dropped between repeats; ambient
load recorded BEFORE the JVM starts (the run itself drives load up
afterwards).  Prints per-query times, median, and [min, max] —
compare a disputed number against the bracket, and check the ambient
load before reading anything into a level shift.  Unknown query names
exit 2.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args(argv)

    from pyspark_pipelining_spark import runner

    ambient = runner.ambient_load()
    queries = runner.resolve(args.queries)
    if queries is None:
        return 2

    spark = runner.session("bracket")
    spark.read.parquet(f"{args.sf}/region.parquet").count()
    print(f"ambient load1/load5 before JVM: {ambient}")
    for fn in queries.values():
        runner.timed_runs(spark, fn, args.sf, 0)
    for name, fn in queries.items():
        times = runner.timed_runs(spark, fn, args.sf, args.reps, warmups=0)
        print(
            f"{name}: {times} median={statistics.median(times):.3f}"
            f" bracket=[{min(times):.3f}, {max(times):.3f}]"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
