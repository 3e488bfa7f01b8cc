"""Money on both engines: exact cents, one double at the boundary.

Money columns are doubles in the lake.  A double sum depends on the
order of addition, which differs between Spark partitions and DuckDB
threads, so every money sum runs over ``decimal(18,2)`` — exact, hence
order-free — and turns into a double once, after the sum.  The Spark
half and the DuckDB half of that sum live here together, so the two
cannot drift apart."""

from __future__ import annotations

from pyspark.sql import WindowSpec
from pyspark.sql import functions as F

#: the money type: exact cents
D = "decimal(18,2)"


def money_sum(col: str, over: WindowSpec | None = None):
    """Spark: the exact-cents sum of ``col`` as a double; a window sum
    over ``over`` when given."""
    total = F.sum(F.col(col).cast(D))
    return (total if over is None else total.over(over)).cast("double")


def duck_money_sum(sql_expr: str, over: str | None = None) -> str:
    """:func:`money_sum` as DuckDB SQL over ``sql_expr``; ``over`` names
    a ``WINDOW`` clause."""
    window = f" OVER {over}" if over else ""
    return f"CAST(sum(CAST({sql_expr} AS DECIMAL(18,2))){window} AS DOUBLE)"


def cents(sql_expr: str) -> str:
    """``sql_expr`` as exact integer cents (BIGINT); the SQL text is the
    same in Spark ``F.expr`` strings and DuckDB oracles."""
    return f"CAST(CAST({sql_expr} AS DECIMAL(18,2)) * 100 AS BIGINT)"
