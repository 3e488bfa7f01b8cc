"""Z-order (Morton-curve) data layout for multi-dimensional file
skipping (beyond-reference scope; no analogue in
xiaowei1234/pySpark-Pipelining).

At 100 TB a table is usually queried along MORE THAN ONE dimension
(orders by order key AND by part key); hive-partitioning can serve one
of them, but the other degrades to a full scan.  Sorting files along a
Morton curve of both dimensions keeps every file's min/max footer range
tight in BOTH columns, so parquet row-group / file skipping prunes
either predicate.  This is the same idea as Delta Lake's OPTIMIZE
ZORDER BY, done here with plain DataFrame ops:

1. one tiny global agg computes each dimension's (min, max) — O(1)
   rows, broadcast back (no shuffle of the fact table);
2. each value is range-scaled to ``[0, 2^bits)`` with exact integer
   arithmetic (``(v - min) * 2^bits div (max - min + 1)``);
3. the scaled coordinates are bit-interleaved into ``zkey`` — pure
   shift/mask codegen, no Python.

A writer that range-partitions and sorts by ``zkey`` makes file
boundaries tile the curve; the registered ``zorder_stats`` report
measures the per-tile footer ranges such a write would expose.

Overflow bound: ``(v - min) * 2^bits`` must fit int64, i.e. the value
range must stay below ``2^(63 - bits)`` (~1.4e14 at the default
bits=16) — far beyond any key space this engine targets; raise fewer
bits for wider domains.

The interleave expression is GENERATED ONCE in Python and rendered to
both Spark SQL and DuckDB SQL so the oracle is bit-identical by
construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scaled_expr(col: str, min_c: str, max_c: str, bits: int) -> str:
    """Engine-shared SQL: exact integer range-scaling of ``col`` to
    ``[0, 2^bits)``.  ``div`` is rendered per-engine by the caller."""
    m = 1 << bits
    return (
        f"(CAST(({col} - {min_c}) AS BIGINT) * {m}) DIV "
        f"CAST(({max_c} - {min_c}) + 1 AS BIGINT)"
    )


def morton_spark(sa: str, sb: str, bits: int) -> str:
    """Spark-SQL bit-interleave of two pre-scaled coordinates (disjoint
    bits, so ``+`` == bitwise OR)."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftrightunsigned({sa}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftrightunsigned({sb}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


def morton_duckdb(sa: str, sb: str, bits: int) -> str:
    """The same interleave rendered for DuckDB (``>>``/``<<`` operators)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({sa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({sb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def with_zorder_key(
    df: DataFrame, cols: tuple[str, str], bits: int = 16, key_col: str = "zkey"
) -> DataFrame:
    """Append a Morton z-order key over two integer columns.

    One broadcast single-row stats agg (per-dimension min/max), then
    map-side integer scaling + interleave — the fact table is never
    shuffled."""
    a, b = cols
    stats = df.agg(
        F.min(a).cast("long").alias("__min_a"),
        F.max(a).cast("long").alias("__max_a"),
        F.min(b).cast("long").alias("__min_b"),
        F.max(b).cast("long").alias("__max_b"),
    )
    j = df.crossJoin(F.broadcast(stats))
    sa = scaled_expr(a, "__min_a", "__max_a", bits)
    sb = scaled_expr(b, "__min_b", "__max_b", bits)
    zkey: Column = F.expr(morton_spark(f"({sa})", f"({sb})", bits))
    return j.withColumn(key_col, zkey).drop(
        "__min_a", "__max_a", "__min_b", "__max_b"
    )
