"""Diagnostic sweep: per registered query, how many times does each
parquet table appear in the executed plan's lineage, and is any reuse
machinery (InMemoryTableScan / ReusedExchange) present?

    python tools/scan_audit.py [min_scans]

Lineage strings over-count cached subtrees (an InMemoryRelation prints
its full child plan), so a high scan count WITH InMemoryTableScan /
ReusedExchange nodes is usually fine; a high count with NEITHER is the
multi-branch-recompute smell worth a manual look (the class the
round-7 review caught in funnel/retention/cms).  Diagnostic only — not
a gate; bounded dims legitimately scan twice.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = "/root/testdata/sf0.001"


def main() -> int:
    from pyspark_pipelining_spark import runner

    min_scans = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = runner.session("scan-audit", master="local[8]", shuffle_partitions=8)
    flagged = 0
    for name, fn in sorted(runner.resolve().items()):
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            print(f"ERR  {name}: {type(exc).__name__}: {str(exc)[:120]}")
            continue
        finally:
            runner.release(spark)
        counts = {
            t: plan.count(f"{t}.parquet")
            for t in re.findall(r"(\w+)\.parquet", plan)
        }
        reuse = plan.count("InMemoryTableScan") + plan.count("ReusedExchange")
        hot = {t: c for t, c in counts.items() if c >= min_scans}
        if hot and reuse == 0:
            flagged += 1
            print(f"FLAG {name}: scans={hot} (no reuse nodes)")
    print(f"done: {flagged} queries flagged (>= {min_scans} lineage scans, zero reuse nodes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
