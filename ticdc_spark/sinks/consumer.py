"""MQ consumer-apply — the reference's consumer tools re-expressed on Spark.

The reference ships consumer binaries that complete the MQ round trip:
``cmd/kafka-consumer``, ``cmd/pulsar-consumer`` and ``cmd/storage-consumer``
each consume the frames a changefeed encoded, track per-partition watermarks
from resolved messages, and apply row events to a downstream sink. This
module is that tool on Spark, against the codecs in :mod:`ticdc_spark.sinks.mq`:

- watermark bookkeeping (cmd/kafka-consumer/writer.go:436-471): a resolved
  message (message key ``{"ts": r, "t": 3}``) advances its partition's
  watermark; regressed/duplicated markers are ignored — max() per partition
  gives exactly that fold.
- the global flush point is the MIN watermark over all partitions
  (writer.go:206-208,229): a row may only be applied once EVERY partition has
  resolved past it, since a lagging partition could still deliver an older
  version of some key.
- flush takes rows with ``commit_ts <= watermark``
  (cmd/kafka-consumer/event_group.go:40-52 ``Resolve``); rows above the
  flush point are HELD (they stay in the event group until a later marker).
- apply is an arrival-ordered LWW MERGE (:meth:`LakeTable.merge` into an
  order-column table) — the generalization of the reference MySQL
  writer's REPLACE idempotency
  (cdc/sink/dmlsink/txn/mysql/mysql.go:516,533-537), so duplicated frames
  (at-least-once delivery) and re-consumed batches are value-level no-ops,
  and each resolved step commits under an exactly-once batch id.

Spark-first shape: frame splitting, decoding and eligibility are pure Column
expressions over the frame table (no per-row Python); the only driver-side
state is the per-(topic, partition) watermark map and the resolved-step list
(metadata cardinality — one row per MQ partition, exactly the consumer's
``progresses`` array); each resolved step is ONE merge job over the rows of
that commit-ts slice. At 100 TB the frame scan prunes on the pushed
``ts <= flush`` predicate and the merge never shuffles the target base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.operators.sortdedup import with_op_rank
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sinks.mq import (
    decode_craft,
    decode_open_protocol,
    resolve_claim_check,
)

# open_protocol_message.go:115-119 / cdc/model/sink.go:45-46
_MSG_ROW = 1
_MSG_RESOLVED = 3


def split_frames(frames: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(row frames, resolved-marker frames). Open-protocol rows carry
    ``t=1`` in the message key; craft frames have no key at all — anything
    that is not a resolved marker is a row."""
    t = F.get_json_object("key", "$.t").cast("int")
    is_resolved = t == _MSG_RESOLVED
    return (
        frames.filter(~F.coalesce(is_resolved, F.lit(False))),
        frames.filter(is_resolved),
    )


def partition_watermarks(frames: DataFrame) -> DataFrame:
    """Per-(topic, partition) watermark = max resolved ts delivered there
    (writer.go:436-471; max() absorbs duplicated and regressed markers)."""
    _, resolved = split_frames(frames)
    return resolved.groupBy("topic", "partition").agg(
        F.max(F.get_json_object("key", "$.ts").cast("long")).alias("watermark")
    )


def consume_apply(
    spark: SparkSession,
    frames: DataFrame,
    target: LakeTable,
    data_cols: list,
    col_types: dict,
    key: tuple = ("conv_id", "turn_idx"),
    protocol: str = "open",
    batch_prefix: str = "mq-consume",
    claim_check_path: str | None = None,
    n_buckets: int = 8,
) -> dict:
    """Consume a frame table (rows + resolved markers, as produced by the
    encoders + dispatchers + :func:`resolved_messages`) and apply every row
    at or below the fleet flush point to ``target``, one exactly-once merge
    per resolved step. Creates the target (arrival-ordered layout,
    ``with_order_cols=True``) when it does not exist yet.

    Returns ``{"applied", "held_back", "batches", "flush_ts", "partitions"}``.
    """
    if protocol not in ("open", "craft"):
        raise ValueError(f"unsupported consumer protocol: {protocol!r}")

    rows, resolved = split_frames(frames)
    wm = partition_watermarks(frames).collect()  # one row per MQ partition
    # partitions that carry rows but never resolved anything hold the fleet
    # at 0 — the reference consumer cannot flush ahead of a silent partition
    row_parts = {
        (r["topic"], r["partition"])
        for r in rows.select("topic", "partition").distinct().collect()
    }
    marked = {(r["topic"], r["partition"]): int(r["watermark"]) for r in wm}
    flush_ts = min(
        (marked.get(tp, 0) for tp in (row_parts | set(marked))), default=0
    )
    # one apply batch per watermark advance at or below the flush point —
    # the consumer flushes on EVERY resolved message (writer.go:252-254),
    # and each step commits under its own exactly-once batch id
    steps = sorted(
        int(r["ts"])
        for r in resolved.select(
            F.get_json_object("key", "$.ts").cast("long").alias("ts")
        ).distinct().collect()
        if int(r["ts"]) <= flush_ts
    )

    if claim_check_path is not None:
        rows = resolve_claim_check(spark, rows, claim_check_path)
    decode = decode_open_protocol if protocol == "open" else decode_craft
    dec = decode(rows, data_cols, keep_cols=("topic", "partition"))

    if not target.exists():
        target.create(
            key=list(key),
            fields=[(c, col_types.get(c, "string")) for c in data_cols],
            n_buckets=n_buckets,
            with_order_cols=True,
        )

    src_all = (
        dec.select(
            *[F.col(c).cast(col_types.get(c, "string")).alias(c) for c in data_cols],
            F.when(F.col("op_class") == "D", "D").otherwise("I").alias("op"),
            F.col("ts").alias("commit_ts"),
            # the open/craft message key carries only the commit ts
            # (internal/message_key.go:25-30); ordering inside one commit ts
            # falls back to the op rank, same as the engine's total order
            F.col("ts").alias("start_ts"),
        )
    )
    src_all = with_op_rank(src_all)
    src_all = src_all.select(
        *data_cols,
        "op",
        F.col("commit_ts").alias("_commit_ts"),
        F.col("start_ts").alias("_start_ts"),
        F.col("op_rank").alias("_op_rank"),
        (F.col("op") == "D").cast("int").alias("_deleted"),
    )

    applied = 0
    batches = 0
    prev = 0
    for r in steps:
        batch = src_all.filter(
            (F.col("_commit_ts") > F.lit(prev)) & (F.col("_commit_ts") <= F.lit(r))
        )
        res = target.merge(batch, f"{batch_prefix}:r-{r}", resolved_ts=r)
        if res.get("status") == "committed":
            applied += int(res.get("rows", 0))
        batches += 1
        prev = r

    held_back = int(
        src_all.filter(F.col("_commit_ts") > F.lit(flush_ts)).count()
    )
    return {
        "applied": applied,
        "held_back": held_back,
        "batches": batches,
        "flush_ts": flush_ts,
        "partitions": len(row_parts | set(marked)),
    }
