"""Event-time sessionization (beyond-reference; the reference has no
sessions or streaming, SURVEY §2.10).

:func:`sessionize_batch` builds gap-based sessions with ``lag`` and
running-sum window functions: one shuffle on user_id, since both
window specs share the same partitioning and Catalyst plans a single
exchange.  It is fully SQL-expressible, so the registered
``sessionize`` query has a DuckDB oracle.  Built-in
``F.session_window`` covers the same shape JVM-side
(``session_windows`` / ``session_window_stats``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipelining_spark.money import money_sum


def sessionize_batch(df: DataFrame, gap_min: int = 30) -> DataFrame:
    """Gap-based sessions over (user_id, ts, event_id, value).

    Output: user_id, session_no (1-based per user), start_us/end_us
    (epoch micros — engine-portable, no timestamp rendering drift),
    n_events, total_value (exact decimal sum cast double).
    """
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_min * 60 * 1_000_000
    new_sess = (
        F.when(
            F.lag("ts").over(order).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order)) > gap_us),
            1,
        )
        .otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = df.withColumn("new_s", new_sess).withColumn(
        "session_no", F.sum("new_s").over(run).cast("long")
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        # no final orderBy: output is one row per session (fact-sized at
        # scale) and consumers/compare are order-insensitive — a global
        # sort here would add a full range-shuffle for nothing
    )
