"""Sort / total-order / last-writer-wins dedup operators.

TiCDC establishes a total event order of
``(commit_ts asc, start_ts asc, delete<update<insert)`` in its persistent
sorter (key encoding
/root/reference/cdc/processor/sourcemanager/sorter/pebble/encoding/key.go:84-119;
comparison law /root/reference/cdc/model/mounter.go:115-140) and relies on
the downstream applying events in that order, which makes the final state
last-writer-wins per handle key.

Spark-first re-expression: we never materialize a global sort. Per
micro-batch, LWW reduces to "pick the max event per key under the order
struct". We implement that with ``max_by(payload_struct, order_struct)`` —
a declarative aggregate that gets **map-side partial aggregation**, so a
hot key (one conversation rewritten millions of times) collapses to one
row per map task before the shuffle. That built-in combine is the
skew-handling the reference needed a hot-span splitter for
(/root/reference/cdc/scheduler/internal/v3/keyspan/splitter_write.go:54-97).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# delete < update < insert at identical (commit_ts, start_ts):
# REPLACE-safety — the delete of an old key must sort before the insert of
# the new key (key.go:106-119, cdc/model/sink.go:54-58).
OP_RANK = {"D": 1, "U": 2, "I": 3}

HANDLE_KEY: tuple[str, ...] = ("conv_id", "turn_idx")
ORDER_COLS: tuple[str, ...] = ("commit_ts", "start_ts", "op_rank")


def with_op_rank(df: DataFrame, op_col: str = "op") -> DataFrame:
    """Attach the intra-ts tie-break rank (cdc/model/mounter.go:115-140)."""
    return df.withColumn(
        "op_rank",
        F.when(F.col(op_col) == "D", F.lit(1))
        .when(F.col(op_col) == "U", F.lit(2))
        .otherwise(F.lit(3)),
    )


def order_struct(df: DataFrame) -> DataFrame:
    if "op_rank" not in df.columns:
        df = with_op_rank(df)
    return df


def lww_dedup(df: DataFrame, key: Sequence[str] = HANDLE_KEY, stats: bool = False,
              order: Sequence[str] = ORDER_COLS) -> DataFrame:
    """Last-writer-wins: one surviving event per handle key.

    Equivalent to
    ``row_number() OVER (PARTITION BY key ORDER BY commit_ts DESC,
    start_ts DESC, op_rank DESC) = 1`` but executed as an aggregate with
    MAP-SIDE partial combine and a single exchange (struct-max compiles to
    a sort-based agg physically, but the skew property holds: a hot key
    collapses to one row per task before the shuffle — asserted in
    tests/test_plans.py). Output: key cols + every non-key column of the
    winning event.

    ``stats=True`` additionally emits per-key ``_n_events`` and
    ``_max_commit_ts`` in the SAME aggregate, so per-partition lineage
    (A2/A5) rolls up from the dedup output without a second scan of the
    raw batch. A key's events all count at its winning row's
    partition_id: per-window totals are exact, but per-partition counts
    move when a key's events come from two partitions, as the delete half
    of a key-changing update does (the strict xfail
    tests/test_lineage_tap.py::test_key_changes_per_partition).

    ``order`` names the order columns (commit-ts, start-ts, op rank):
    stored MOR rows carry them as ``_commit_ts, _start_ts, _op_rank``.
    """
    if tuple(order) == ORDER_COLS:
        df = order_struct(df)
    key = list(key)
    payload_cols = [c for c in df.columns if c not in key]
    # ONE struct, order keys first: max(struct) compares lexicographically,
    # so this is max_by(payload, order) WITHOUT carrying the 20-byte order
    # tuple twice through the partial-aggregate buffers and the exchange —
    # and it is deterministic under order ties (payload breaks them)
    ordered = list(order) + [c for c in payload_cols if c not in order]
    aggs = [F.max(F.struct(*[F.col(c) for c in ordered])).alias("_w")]
    if stats:
        aggs += [
            F.count(F.lit(1)).alias("_n_events"),
            F.max(order[0]).alias("_max_commit_ts"),
        ]
    out = df.groupBy(*key).agg(*aggs)
    extra = ["_n_events", "_max_commit_ts"] if stats else []
    return out.select(*key, *[F.col(f"_w.{c}").alias(c) for c in payload_cols], *extra)


def split_updates(df: DataFrame, replicating_ts: int) -> DataFrame:
    """Safe-mode update split (puller-side S5).

    An update whose ``commit_ts <= replicating_ts`` may already exist
    downstream with a different image, so it is split into delete+insert
    before sorting (/root/reference/cdc/model/kv.go:116-130, applied at
    cdc/processor/sourcemanager/manager.go:125-147). Emitted delete keeps
    the update's timestamps; op_rank ordering (D<I) preserves
    REPLACE-safety inside the same (commit_ts, start_ts).
    """
    df = df.withColumn(
        "_split", (F.col("op") == "U") & (F.col("commit_ts") <= F.lit(replicating_ts))
    )
    ops = F.when(F.col("_split"), F.array(F.lit("D"), F.lit("I"))).otherwise(F.array(F.col("op")))
    out = df.withColumn("op", F.explode(ops))
    # the synthesized delete carries the pre-image, the insert the post-image
    return out.withColumn(
        "payload",
        F.when(F.col("_split") & (F.col("op") == "D"), F.col("pre_payload")).otherwise(
            F.col("payload")
        ),
    ).drop("_split")


def split_key_changing_updates(
    df: DataFrame, key: Sequence[str] = HANDLE_KEY, pre_prefix: str = "pre_"
) -> DataFrame:
    """Handle-key-changing update split
    (ShouldSplitUpdateEvent / trySplitAndSortUpdateEvent,
    /root/reference/cdc/model/sink.go:1166-1238).

    An update whose pre-image handle key differs from its post-image key
    MUST become delete(old key) + insert(new key): applied as a plain
    update it would leave the old row live and corrupt state. The two
    halves keep the update's (commit_ts, start_ts); op_rank D<I orders the
    delete first within the same timestamp (REPLACE-safety,
    cdc/model/sink.go:54-58).

    Pre-image keys ride in ``pre_<key>`` columns (NULL = key unchanged).
    No-op when those columns are absent. The synthesized delete's payload
    is NULL — a delete only needs its key."""
    pre_cols = [pre_prefix + k for k in key]
    if not all(c in df.columns for c in pre_cols):
        return df
    changed = F.col("op") == "U"
    diff = F.lit(False)
    for k, pc in zip(key, pre_cols):
        diff = diff | (F.col(pc).isNotNull() & ~F.col(pc).eqNullSafe(F.col(k)))
    changed = changed & diff
    ops = F.when(changed, F.array(F.lit("D"), F.lit("I"))).otherwise(F.array(F.col("op")))
    out = df.withColumn("_kc", changed).withColumn("op", F.explode(ops))
    for k, pc in zip(key, pre_cols):
        out = out.withColumn(
            k, F.when(F.col("_kc") & (F.col("op") == "D"), F.col(pc)).otherwise(F.col(k))
        )
    out = out.withColumn(
        "payload",
        F.when(F.col("_kc") & (F.col("op") == "D"), F.lit(None).cast("string"))
        .otherwise(F.col("payload")),
    )
    return out.drop("_kc", *pre_cols)


def assemble_txns(df: DataFrame, table_col: str | None = None) -> DataFrame:
    """Txn assembly (A1): group rows sharing (start_ts, commit_ts) into one
    transaction record (cdc/sink/dmlsink/event_appender.go:46-130).
    Only needed for txn-atomic sinks; MERGE-per-microbatch supersedes it.
    """
    keys = ([table_col] if table_col else []) + ["start_ts", "commit_ts"]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_insert"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("n_update"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_delete"),
    )
