"""Resolved-ts frontier: the engine's watermark.

TiCDC keeps a skiplist+min-heap of per-span resolved timestamps and defines
the table watermark as the min over spans
(/root/reference/cdc/puller/frontier/frontier.go:31-37, min at :75-77); the
changefeed checkpoint is the min over tables
(/root/reference/cdc/scheduler/internal/v3/replication/replication_manager.go:631-641).

Here a "span" is a source partition. The frontier is a one-line
aggregation — Spark's groupBy/min replaces ~700 lines of heap code — and
the invariant it guards is W1: **a micro-batch never processes an event
with commit_ts greater than the global frontier.**

A tick reads the resolved log ONCE: one ``groupBy("partition_id")``
aggregate yields, per partition, its max resolved-ts and the set of its
resolved values above the caller's checkpoint. The driver derives the
partition set, the global frontier and the frontier steps from those rows
(:func:`frontier_steps`). The collected result is O(partitions × pending
steps), not O(partitions + steps): every partition ships its own copy of a
step. The ``> low`` filter inside the set bounds it by the backlog since
the checkpoint, not by the log's history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# above every resolved-ts: a scan at this low collects no steps
_NO_STEPS = 2**63 - 1


class FrontierSteps(list):
    """The ascending frontier steps, plus what the same scan saw:
    ``partitions`` (sorted source partition ids) and ``frontier`` (the
    global frontier, 0 while a partition is missing)."""

    def __init__(self, steps, partitions: list[int], frontier: int):
        super().__init__(steps)
        self.partitions = partitions
        self.frontier = frontier


def per_partition_resolved(resolved_log: DataFrame) -> DataFrame:
    """Latest resolved-ts per partition (monotone by contract)."""
    return resolved_log.groupBy("partition_id").agg(F.max("resolved_ts").alias("resolved_ts"))


def global_frontier(resolved_log: DataFrame, expected_partitions: int | None = None) -> int:
    """min over partitions of the per-partition max resolved-ts.

    ``expected_partitions`` guards span-coverage holes (replication_manager
    hole-detection analog): a partition that never reported holds the
    frontier at 0.
    """
    return frontier_steps(resolved_log, low=_NO_STEPS,
                          expected_partitions=expected_partitions).frontier


def frontier_steps(resolved_log: DataFrame, low: int, high: int | None = None,
                   expected_partitions: int | None = None) -> FrontierSteps:
    """Achievable global-frontier values in (low, high] in ascending order.

    A resolved value r is an achievable global frontier once every
    partition has resolved >= r; for bounded replay that is every distinct
    resolved value <= the global frontier. The driver loop picks batch
    boundaries from this list. One aggregate reads the log; the result
    also carries the partition set and the global frontier
    (:class:`FrontierSteps`).
    """
    ts = F.col("resolved_ts")
    rows = (
        resolved_log.groupBy("partition_id")
        .agg(F.max(ts).alias("resolved_ts"),
             F.collect_set(F.when(ts > low, ts)).alias("pending"))
        .collect()
    )
    frontier = min((int(r["resolved_ts"]) for r in rows), default=0)
    if expected_partitions is not None and len(rows) < expected_partitions:
        frontier = 0
    cap = frontier if high is None else min(high, frontier)
    steps = sorted({int(v) for r in rows for v in r["pending"] if v <= cap})
    return FrontierSteps(steps, sorted(int(r["partition_id"]) for r in rows), frontier)
