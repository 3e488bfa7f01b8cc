"""Generate / verify the committed physical-plan-shape lock
(`tools/plan_lock.json`) over every registered query.

    python tools/plan_lock.py            # verify, print diffs, exit 1 on drift
    python tools/plan_lock.py --write    # regenerate the lock

See `pyspark_pipelining_spark/plans/fingerprint.py` for what a
fingerprint is and why shape is pinned on the AQE-INITIAL plan.  The
pytest gate (`tests/test_plans.py::test_plan_shapes_match_committed_lock`)
runs the same comparison every suite run; this tool exists for the
regeneration half of the workflow — run it with `--write` in the same
commit as an intentional plan change and review the JSON diff.

Session parity matters: fingerprints are taken under the pytest
session's exact layout (``local[8]``, ``shuffle_partitions=8``,
sf0.001) so the tool and the gate can never disagree.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

LOCK_PATH = os.path.join(HERE, "tools", "plan_lock.json")
SF_SMOKE = "/root/testdata/sf0.001"


def compute_lock(spark) -> dict[str, dict[str, int]]:
    from pyspark_pipelining_spark import runner
    from pyspark_pipelining_spark.plans.fingerprint import fingerprint

    out = {}
    for name, fn in sorted(runner.resolve().items()):
        # cache-isolate every build: without it a later query's plan can
        # pick up an InMemoryTableScan from an EARLIER query's cache
        # entry, making the fingerprint depend on build order
        runner.release(spark)
        out[name] = fingerprint(fn(spark, SF_SMOKE))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args(argv)

    from pyspark_pipelining_spark import runner

    spark = runner.session("plan_lock", master="local[8]", shuffle_partitions=8)
    current = compute_lock(spark)

    if args.write:
        with open(LOCK_PATH, "w") as fh:
            json.dump(current, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {LOCK_PATH} ({len(current)} queries)")
        return 0

    from pyspark_pipelining_spark.plans.fingerprint import diff_locks

    with open(LOCK_PATH) as fh:
        locked = json.load(fh)
    diffs = diff_locks(locked, current)
    for line in diffs:
        print(line)
    print(f"{len(current)} queries checked, {len(diffs)} drifted")
    return 1 if diffs else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
