"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The same seed derives byte-identical lakes; two seeds derive lakes
   that hold the same rows with the same schema, in another order.
2. A tiny-scale (sf0.001) traced run of every workload prints every
   end-to-end and per-layer metric named in BENCHMARK.json with its unit,
   and must report no failed operation.

Exits non-zero on the first broken check.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import lake as lakes  # noqa: E402
from perfbench import run as bench_run  # noqa: E402

SCALE = "sf0.001"


def check_lakes() -> None:
    root = os.path.join(bench_run.STATE, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    a = lakes.derive(os.path.join(root, "a"), SCALE, 7)
    b = lakes.derive(os.path.join(root, "b"), SCALE, 7)
    c = lakes.derive(os.path.join(root, "c"), SCALE, 8)
    con = duckdb.connect()
    try:
        for name in lakes.TABLES:
            fa, fb, fc = (os.path.join(d, f"{name}.parquet") for d in (a, b, c))
            if not filecmp.cmp(fa, fb, shallow=False):
                raise SystemExit(f"selftest: seed 7 derived two different {name} files")
            if not pq.read_schema(fa).equals(pq.read_schema(fc), check_metadata=True):
                raise SystemExit(f"selftest: {name} schema differs between seeds")
            (extra,) = con.execute(
                f"SELECT count(*) FROM ((FROM '{fa}' EXCEPT ALL FROM '{fc}') "
                f"UNION ALL (FROM '{fc}' EXCEPT ALL FROM '{fa}'))"
            ).fetchone()
            if extra:
                raise SystemExit(f"selftest: {name} rows differ between seeds ({extra})")
            rows = pq.read_metadata(fa).num_rows
            if rows >= 25 and pq.read_table(fa).equals(pq.read_table(fc)):
                raise SystemExit(f"selftest: {name} has the same row order under both seeds")
            print(f"lake {name}: {rows} rows, same seed identical, other seed reordered only")
    finally:
        con.close()
        shutil.rmtree(root, ignore_errors=True)


def check_workloads() -> None:
    with open(os.path.join(bench_run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in (w["name"] for w in spec["workloads"]):
        line, detail, metrics = bench_run.run(workload, seed=3, seconds=1, trace=1, scale=SCALE)
        print(f"{workload}: attempted {line['attempted']}, failed {line['failed']}, "
              f"samples {detail['samples']}, contended {detail['contended']}")
        for m in spec["end_to_end"] + spec["per_layer"]:
            print(f"  {m['name']} = {metrics.get(m['name'], 0)} {m['unit']}")
        if line["failed"]:
            raise SystemExit(f"selftest: {workload} failed: {detail['failures']}")


if __name__ == "__main__":
    check_lakes()
    check_workloads()
    print("selftest: ok")
