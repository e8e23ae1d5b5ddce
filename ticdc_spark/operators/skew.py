"""Hot-key detection and salted two-phase reduction.

TiCDC splits hot table spans by observed write traffic
(/root/reference/cdc/scheduler/internal/v3/keyspan/splitter_write.go:54-176).
The Spark-native equivalents, in preference order:

1. ``lww_dedup`` is a hash aggregate → map-side partial combine already
   collapses hot keys before the shuffle (nothing to do).
2. AQE skew-join splitting for the MERGE join (enabled in session.py).
3. For operators that genuinely need a per-key shuffle of raw events
   (e.g. ordered txn emission), explicit salting below.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_heavy_keys(df: DataFrame, key: Sequence[str], threshold: int) -> DataFrame:
    """Keys whose per-batch event count exceeds ``threshold`` — the
    write-traffic signal splitter_write.go derives from PD region stats,
    computed here directly from the batch."""
    return (
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > threshold)
    )


def salted_two_phase_lww(df: DataFrame, key: Sequence[str], n_salts: int = 8) -> DataFrame:
    """Two-phase LWW: reduce per (key, salt), then per key.

    Provided for parity/benchmarking; the single-phase ``lww_dedup``
    already gets the same effect from partial aggregation.
    """
    from ticdc_spark.operators.sortdedup import ORDER_COLS, order_struct

    df = order_struct(df)
    key = list(key)
    payload_cols = [c for c in df.columns if c not in key]
    ordc = F.struct(*[F.col(c) for c in ORDER_COLS])
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("start_ts"), F.col("commit_ts")), F.lit(n_salts))
    )
    p1 = salted.groupBy(*key, "_salt").agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), ordc).alias("_w")
    )
    ordc2 = F.struct(*[F.col(f"_w.{c}") for c in ORDER_COLS])
    p2 = p1.groupBy(*key).agg(F.max_by(F.col("_w"), ordc2).alias("_w"))
    return p2.select(*key, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])


def salted_join(fact: DataFrame, dim: DataFrame, key: Sequence[str],
                heavy: DataFrame, n_salts: int = 8,
                how: str = "inner") -> DataFrame:
    """Skew-resistant shuffle join: the hot-span-split idea applied to a
    JOIN whose dim side is too large to broadcast and whose fact side is
    skewed on the join key.

    Fact rows on a heavy key get a pseudo-random salt in [0, n_salts); dim
    rows on a heavy key are REPLICATED across all n_salts salts (explode
    over a sequence literal — a flatMap, no shuffle of its own); everything
    else keeps salt 0. The join then runs on (key, salt), so one hot key's
    fact rows spread over n_salts tasks instead of melting one reducer.
    Result is row-identical to the unsalted join (the salt never reaches
    the output), which is exactly what the equality oracle asserts.

    This is the manual fallback for when AQE's skew-join splitting can't
    apply (it only splits SORT-MERGE join partitions materialized from a
    shuffle — a pre-bucketed or already-partitioned dim side, or a
    shuffled-hash plan, won't be split). `heavy` comes from
    detect_heavy_keys on a traffic sample, mirroring how the reference
    splits spans from observed write traffic rather than statically."""
    key = list(key)
    heavy_b = F.broadcast(heavy.select(*key).withColumn("_heavy", F.lit(True)))
    fact_cols = [c for c in fact.columns]
    f = (
        fact.join(heavy_b, key, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_heavy").isNotNull(),
                F.pmod(F.xxhash64(*[F.col(c) for c in fact_cols]), F.lit(n_salts)),
            ).otherwise(F.lit(0)).cast("int"),
        )
        .drop("_heavy")
    )
    # ONE pass over dim: heavy keys explode a full salt sequence, cold
    # keys a singleton [0] — the cold/hot filter-and-union form rebuilt
    # the heavy-key aggregate subtree once per branch
    d = (
        dim.join(heavy_b, key, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(F.col("_heavy").isNotNull(),
                       F.sequence(F.lit(0), F.lit(n_salts - 1)))
                .otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("_heavy")
    )
    return f.join(d, key + ["_salt"], how).drop("_salt")
