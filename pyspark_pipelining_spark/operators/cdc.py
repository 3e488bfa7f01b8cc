"""MERGE INTO (upsert) semantics as a single full-outer join.

The reference pipeline materializes refreshed tables by overwrite
(``/root/reference`` has no merge operator); warehouse users coming
from Delta/Iceberg expect MERGE, so this provides the classification
half — WHEN MATCHED / WHEN NOT MATCHED BY TARGET / BY SOURCE — as a
deterministic DataFrame transform.

Scale shape: one full-outer hash join on the merge key (both sides
shuffle once on the key; with bucketed tables on the key it is
shuffle-free).  No driver materialization; action classification is a
pure projection.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    target_value: str,
    source_value: str,
    combine: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """Classify and apply a MERGE of ``source`` into ``target``.

    Both inputs must carry ``key``; ``target_value``/``source_value``
    name the payload columns.  Rows present in both get
    ``action='update'`` and ``merged = combine(t, s)`` (default: the
    source wins); target-only rows keep their value (``'keep'``);
    source-only rows become ``'insert'``.

    Output: ``<key>, action, merged`` — the post-merge table plus its
    audit trail in one pass.

    Precondition (standard SQL MERGE contract): ``key`` must be UNIQUE
    and NON-NULL on both sides.  A duplicated key fans out through the
    full-outer join (each target copy matches each source copy), and a
    NULL key never equi-matches — a NULL-keyed target row silently
    becomes ``'keep'`` and a NULL-keyed source row ``'insert'`` with a
    NULL key.  Callers feeding raw change streams must pre-aggregate
    per key first (e.g. a per-batch SUM of deltas); the uniqueness is
    deliberately NOT asserted here —
    a count-based check would force an extra aggregation of both full
    inputs on every merge, the wrong default at scale.
    """
    if combine is None:
        combine = lambda t, s: s  # noqa: E731 — MERGE's default: source wins
    t = target.select(F.col(key).alias("_tk"), F.col(target_value).alias("_tv"))
    s = source.select(F.col(key).alias("_sk"), F.col(source_value).alias("_sv"))
    j = t.join(s, F.col("_tk") == F.col("_sk"), "full_outer")
    matched = F.col("_tk").isNotNull() & F.col("_sk").isNotNull()
    return j.select(
        F.coalesce(F.col("_tk"), F.col("_sk")).alias(key),
        F.when(matched, F.lit("update"))
        .when(F.col("_sk").isNotNull(), F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.when(matched, combine(F.col("_tv"), F.col("_sv")))
        .when(F.col("_sk").isNotNull(), F.col("_sv"))
        .otherwise(F.col("_tv"))
        .alias("merged"),
    )
