"""One loop driver for the iterative DataFrame operators
(``dedup.cluster_assignments``, ``graph.pagerank_int`` / ``kcore_peel``
/ ``lpa_communities``): the single home of their checkpointing and
convergence control, and the only operator module allowed a driver
action (``tests/test_operator_actions.py``).

One rule: every round's output is ``localCheckpoint(eager=False)``-ed.
The lazy checkpoint puts a LogicalRDD in place of the round's plan at
construction time, so plans never grow with the round count (an
unbounded lineage OOMs the driver in Catalyst long before any data
moves), a round that reads the previous frame several times shares ONE
materialization (stage graphs dedupe by RDD identity), and no round
issues a driver action: the round's last stage runs inside the first
job that reads it.  Under AQE, planning the checkpoint still runs the
round's shuffle and broadcast stages as jobs of their own, at
construction time.  On a cluster with lost-executor concerns, swap in reliable
``checkpoint()``; semantics are identical.

Fixpoint mode probes a MONOTONE aggregate ``until`` (``F.sum`` of
non-increasing labels; ``F.count`` of a peeled edge set would do too):
along a monotone chain the value is unchanged iff the round changed
nothing, which is a fixpoint of the step.  Rounds run in blocks of
``block`` per driver action: the block's checkpointed frames, tagged
by round, feed one tiny ``groupBy(tag).agg(until).collect()``, so a
single job returns every round's value (the first block also tags the
entry state) and the first adjacent equal pair stops the loop
mid-block.  Larger blocks save actions on long chains but run up to
``block - 1`` rounds past the fixpoint.  An empty round yields no probe row; a missing tag reads as
"empty", equal to any other empty round, so an empty input converges
after one round and a graph peeled to nothing stops one round later.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TAG = "_round"


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    until: Column | None = None,
    block: int = 1,
) -> DataFrame:
    """Apply ``step`` up to ``rounds`` times, lazily checkpointing each
    round's output.

    Fixed mode (``until=None``): exactly ``rounds`` rounds, no driver
    action (``rounds=0`` returns ``state`` unchanged).  Fixpoint mode:
    ``until`` is a monotone aggregate over the state's columns; returns
    the frame before the first round whose value equals its
    predecessor's, or the last frame when ``rounds`` run out first.
    """
    if until is None:
        for _ in range(rounds):
            state = step(state).localCheckpoint(eager=False)
        return state
    prev = None  # value of `state`; unknown until the first probe
    done = 0
    while done < rounds:
        frames: list[DataFrame] = []
        cur = state
        for _ in range(min(block, rounds - done)):
            cur = step(cur).localCheckpoint(eager=False)
            frames.append(cur)
        probe = frames if done else [state, *frames]
        tagged = reduce(
            lambda a, b: a.unionByName(b),
            (frame.withColumn(_TAG, F.lit(i)) for i, frame in enumerate(probe)),
        )
        got = {r[0]: r[1] for r in tagged.groupBy(_TAG).agg(until).collect()}
        values = [got.get(i) for i in range(len(probe))]
        if not done:
            prev = values.pop(0)
        done += len(frames)
        for frame, value in zip(frames, values):
            if value == prev:
                return state
            state, prev = frame, value
    return state
