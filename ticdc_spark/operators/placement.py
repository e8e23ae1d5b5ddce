"""Exact slot->partition placement for hash exchanges.

``repartition(n, _bucket)`` routes rows through
``pmod(murmur3(_bucket), n)`` — for n bucket values into n partitions
that mapping collides heavily (birthday bound: ~1/e of partitions empty,
stragglers carrying 2-3 buckets). When the whole dedup+mount+write
pipeline runs inside that exchange's stage, the straggler sets the wall
clock.

The fix is a per-partition placement TOKEN: token[p] is the smallest long
x with ``pmod(murmur3(x), n) == p``, so hash-partitioning on
``element_at(tokens, p + 1)`` with n partitions places the rows of
partition index p in partition p exactly. :func:`placed_fold` sizes that
exchange to the cluster: n_slots slots share
``n = min(n_slots, defaultParallelism)`` partitions, slot s in partition
``s % n`` (:func:`slot_partitions`) — each slot in exactly one task, the
per-task slot counts differing by at most one, and a ``partitionBy``
write emits exactly one file per slot with no second exchange. (A task
per slot would pay a task's fixed cost — scheduling, a shuffle fetch per
map task, a sort set-up, a Python worker round trip for the mount UDF —
once per slot: 256 tasks for an 8-table, 32-bucket fleet.) Token discovery runs no Spark job: :func:`murmur3_long` is
Spark's own Murmur3 ``hashLong`` (seed 42, the hash ``HashPartitioning``
routes by), so the driver walks x = 0, 1, 2, ... until every class is hit
(about n·ln n hashes), memoizing the 32 most recently used n.

:func:`placed_fold` is the one placed LWW fold: the bootstrap span's
aligned branch (streaming/span.py) and compaction (``LakeTable.compact``)
both run it.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.operators.sortdedup import ORDER_COLS, lww_dedup

_M32 = 0xFFFFFFFF


def _mix(h: int, k: int) -> int:
    k = k * 0xCC9E2D51 & _M32
    k = ((k << 15) | (k >> 17)) * 0x1B873593 & _M32
    h ^= k
    h = (h << 13 | h >> 19) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def murmur3_long(x: int, seed: int = 42) -> int:
    """``F.hash`` of a long: Murmur3_x86_32 ``hashLong`` (low word, then
    high word, length 8), as a signed 32-bit int."""
    x &= 0xFFFFFFFFFFFFFFFF
    h = _mix(_mix(seed, x & _M32), x >> 32) ^ 8
    h ^= h >> 16
    h = h * 0x85EBCA6B & _M32
    h ^= h >> 13
    h = h * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


@lru_cache(maxsize=32)
def aligned_partition_tokens(n: int) -> tuple:
    """token[s] = min x >= 0 with pmod(murmur3_hash(x), n) == s — computed
    on the driver, no Spark job. The caller must keep the token column
    long-typed for the hashes to agree."""
    toks: dict = {}
    x = 0
    while len(toks) < n:
        toks.setdefault(murmur3_long(x) % n, x)
        x += 1
    return tuple(toks[s] for s in range(n))


def cluster_parallelism(spark: SparkSession) -> int:
    """The cluster's task slots (``defaultParallelism``): the one signal
    placement sizes its exchanges by."""
    return spark.sparkContext.defaultParallelism


def slot_partitions(n_slots: int, parallelism: int) -> list:
    """Partition of each slot 0..n_slots-1 under :func:`placed_fold`:
    ``s % n`` over ``n = min(n_slots, parallelism)`` partitions, so each
    slot lands in exactly one and per-partition slot counts differ by at
    most one."""
    n = min(n_slots, parallelism)
    return [s % n for s in range(n_slots)]


def placed_fold(df: DataFrame, slot: Column, n_slots: int, key: Sequence[str],
                order: Sequence[str] = ORDER_COLS, stats: bool = False) -> DataFrame:
    """ONE exchange that places slot ``slot`` (0-based, < ``n_slots``) in
    partition ``slot_partitions(n_slots, defaultParallelism)[slot]``, then
    the LWW fold per ``key`` under ``order``. The fold groups on the token
    too, so it reuses that partitioning: one sort pass, no second exchange.
    ``key`` leads with the slot's columns and the token follows it, so the
    fold's output is sorted by slot: a ``partitionBy`` write over the slot's
    columns right above it adds no sort of its own (a Python UDF in between,
    like the bootstrap's mount, reports no order, so that write still sorts
    locally), and each task writes one file per slot it holds."""
    parts = slot_partitions(n_slots, cluster_parallelism(df.sparkSession))
    toks = aligned_partition_tokens(max(parts) + 1)
    pt = F.element_at(F.array(*[F.lit(toks[p]).cast("bigint") for p in parts]),
                      slot.cast("int") + 1)
    placed = df.withColumn("_pt", pt).repartition(len(toks), F.col("_pt"))
    return lww_dedup(placed, [*key, "_pt"], stats=stats, order=order).drop("_pt")
