"""Exact slot->partition placement for hash exchanges.

``repartition(n, _bucket)`` routes rows through
``pmod(murmur3(_bucket), n)`` — for n bucket values into n partitions
that mapping collides heavily (birthday bound: ~1/e of partitions empty,
stragglers carrying 2-3 buckets). When the whole dedup+mount+write
pipeline runs inside that exchange's stage, the straggler sets the wall
clock.

The fix is a per-slot placement TOKEN: token[s] is the smallest long x
with ``pmod(murmur3(x), n) == s``, so hash-partitioning on
``element_at(tokens, slot + 1)`` with n partitions places slot s in
partition s exactly — one slot per task, perfectly balanced, and a
``partitionBy`` write emits exactly one file per slot with no second
exchange. Token discovery runs no Spark job: :func:`murmur3_long` is
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

from pyspark.sql import Column, DataFrame
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


def placement_token_column(n: int, idx: Column) -> Column:
    """Long column that, hash-partitioned into ``n`` partitions, places
    rows with placement index ``idx`` (0-based, < n) in partition
    ``idx`` exactly."""
    arr = F.array(*[F.lit(t).cast("bigint") for t in aligned_partition_tokens(n)])
    return F.element_at(arr, idx.cast("int") + 1)


def placed_fold(df: DataFrame, slot: Column, n_slots: int, key: Sequence[str],
                order: Sequence[str] = ORDER_COLS, stats: bool = False) -> DataFrame:
    """ONE exchange that places slot ``slot`` (0-based, < ``n_slots``) in
    partition ``slot``, then the LWW fold per ``key`` under ``order``. The
    fold groups on the token first, so it reuses that partitioning: one
    sort pass, no second exchange, and a ``partitionBy`` write over the
    slot's columns emits one file per slot."""
    placed = df.withColumn("_pt", placement_token_column(n_slots, slot)).repartition(
        n_slots, F.col("_pt"))
    return lww_dedup(placed, ["_pt", *key], stats=stats, order=order).drop("_pt")
