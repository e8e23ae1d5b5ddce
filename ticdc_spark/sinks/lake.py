"""LakeTable — a minimal snapshot-versioned, bucketed lake table with an
idempotent copy-on-write MERGE. Stands in for Iceberg (whose runtime jars
are not in this container) with the same commit semantics the engine needs.

Maps TiCDC's sink stack onto lake primitives:

- MERGE upsert = the MySQL txn sink's ordered delete→update→insert apply
  (/root/reference/cdc/sink/dmlsink/txn/mysql/mysql.go:204-258,356-471)
  expressed set-oriented: per batch, anti-join out matched keys, union in
  non-delete images.
- Safe mode / idempotency (mysql.go:516,533-537): MERGE is natively
  idempotent; replaying a batch is additionally a no-op because the
  batch_id is recorded **in the same atomic manifest commit** as the data
  (replaces the redo WAL, /root/reference/cdc/redo/manager.go:245-520).
- Snapshot manifests = Iceberg-style versioned metadata; one JSON per
  commit, installed by atomic rename; readers resolve the newest version.
  (File-naming analog: /root/reference/pkg/sink/cloudstorage/path.go:93-353.)
- Lineage rows (per source partition: resolved_ts, event_count,
  max_commit_ts) ride in the manifest — the checkpoint aggregation input
  (/root/reference/cdc/scheduler/internal/v3/replication/replication_manager.go:556-731).
- ALTER TABLE add/rename/drop column = metadata-only commit; old files are
  reconciled at read time via per-version schemas matched on stable COLUMN
  IDS (TiCDC's column-ID model — a re-added name never reads a dropped
  column's bytes); TRUNCATE clears all filesets in one atomic commit and
  records truncate_ts for stale-DML dropping
  (the DDL sink, /root/reference/cdc/owner/ddl_sink.go:237-330;
  truncate semantics /root/reference/cdc/entry/schema/snapshot.go:503-509).

Scale notes: data is hash-bucketed by conv_id so (a) MERGE prunes to
affected buckets, (b) the target side is NEVER shuffled — matched keys are
removed with a broadcast anti-join when the batch key-set is small (the
overwhelming case: micro-batch ≪ table), falling back to a shuffled join
(AQE skew-aware) otherwise, and (c) a conversation's turns are co-located
for downstream reads.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ticdc_spark.operators.placement import placed_fold
from ticdc_spark.operators.sortdedup import lww_dedup

_TYPE = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "timestamp": T.TimestampType(),
}

_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")

# above this many rows in a batch, skip the forced broadcast hint and let
# AQE pick the join strategy at runtime (64 MiB autoBroadcast threshold still
# applies). 500k keys ≈ 20-30 MiB serialized — comfortably inside executor
# memory; forcing broadcasts far beyond the autoBroadcast threshold risks
# driver OOM, so the hint is row-capped and AQE handles everything larger.
BROADCAST_KEY_LIMIT = 500_000

# forced-broadcast cap for the MOR read path's delta key set, gated on the
# on-disk delta byte size (known from the manifest's filesets — no extra job)
DELTA_BROADCAST_BYTES = 32 * 1024 * 1024

# the commit markers a Spark file write leaves in its output dir
_WRITE_MARKERS = frozenset({"_SUCCESS", "._SUCCESS.crc"})

# the LWW order metadata an order-column table stores with every row
# (order first: commit ts, start ts, op rank)
ORDER_META = ("_commit_ts", "_start_ts", "_op_rank", "_deleted")


def _struct(fields) -> T.StructType:
    return T.StructType([T.StructField(x[0], _TYPE[x[1]], True) for x in fields])


def _nt(schema_rows) -> list:
    """[(name, type)] from manifest schema rows ([name, type, col_id])."""
    return [(x[0], x[1]) for x in schema_rows]


def parquet_files(d: str) -> list:
    """Sorted parquet files directly under ``d`` ([] when it is missing)."""
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def staged_files(dest: str, bucketed: bool) -> tuple:
    """(files, buckets) of a staged write: its parquet files, plus
    ``{bucket: files}`` over its ``_bucket=`` dirs when ``bucketed``
    (None when flat or when nothing was staged)."""
    if not bucketed or not os.path.isdir(dest):
        return parquet_files(dest), None
    buckets = {d.split("=", 1)[1]: parquet_files(os.path.join(dest, d))
               for d in sorted(os.listdir(dest)) if d.startswith("_bucket=")}
    return sorted(f for fl in buckets.values() for f in fl), buckets


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "_meta")
        self.data_dir = os.path.join(path, "data")

    # ---------------- manifest plumbing ----------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for f in os.listdir(self.meta_dir):
            m = _MANIFEST_RE.match(f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def manifest(self, version: int | None = None) -> dict:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"LakeTable at {self.path} has no manifest")
        v = version if version is not None else vs[-1]
        with open(os.path.join(self.meta_dir, f"v{v:08d}.json")) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> int:
        """Atomic single-writer commit: write tmp, rename into place."""
        v = manifest["version"]
        os.makedirs(self.meta_dir, exist_ok=True)
        final = os.path.join(self.meta_dir, f"v{v:08d}.json")
        if os.path.exists(final):
            raise RuntimeError(f"concurrent commit detected at version {v}")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)
        return v

    def exists(self) -> bool:
        return bool(self._versions())

    # ---------------- DDL ----------------

    def create(self, key: list, fields: list, n_buckets: int = 16,
               schema_version: int = 0, with_order_cols: bool = False,
               delta_layout: str = "flat", append_only: bool = False) -> None:
        """``fields`` = full table columns [(name, type_str)...] including
        the key; merge key must exist (ineligible-table rule F4,
        cdc/entry/schema_storage.go:297-333).

        ``with_order_cols=True`` adds the LWW metadata columns
        (_commit_ts, _start_ts, _op_rank, _deleted), which switch
        :meth:`merge` to its order-aware step — the arrival-ordered/
        streaming mode, where deletes persist as tombstones so a late
        older event cannot resurrect a deleted key.

        ``delta_layout`` picks the MOR delta trade-off (measured,
        BENCH/OPERATORS.md): "flat" (default) writes each batch straight
        from the dedup partitioning — maximum ingest throughput (~1.7x
        faster than bucketed; ingest is the north metric); "bucketed"
        writes partitionBy(_bucket) — point-bucket reads between
        compactions scan O(bucket delta) (7.9x faster) at the ingest cost.
        Pick bucketed for read-heavy serving tables."""
        if delta_layout not in ("flat", "bucketed"):
            raise ValueError(f"delta_layout must be flat|bucketed, got {delta_layout!r}")
        if not key and not append_only:
            # ineligible-table rule F4 (cdc/entry/schema_storage.go:297-333):
            # a keyless table cannot be merged; replicating it requires the
            # EXPLICIT force-replicate opt-in (replica_config.go:135), which
            # degrades to an append-only insert log
            raise ValueError(
                "table has no merge key (F4 ineligible); pass append_only=True "
                "(force-replicate mode) to replicate it as an insert log")
        if with_order_cols:
            fields = list(fields) + [
                ("_commit_ts", "long"), ("_start_ts", "long"),
                ("_op_rank", "int"), ("_deleted", "int"),
            ]
        names = [n for n, _ in fields]
        for k in key:
            if k not in names:
                raise ValueError(f"merge key column {k} missing from schema")
        if self.exists():
            raise RuntimeError(f"table already exists at {self.path}")
        # stable column ids (TiCDC's column-ID model): renames keep the id,
        # drops retire it, re-adding a name mints a fresh id — so old files
        # can never leak data into a re-added namesake at read time
        triples = [[n, t, i] for i, (n, t) in enumerate(fields)]
        manifest = {
            "version": 1,
            "key": list(key),
            "n_buckets": n_buckets,
            "schema_version": schema_version,
            "next_col_id": len(triples),
            "schema": triples,
            "schemas": {str(schema_version): triples},
            "delta_layout": delta_layout,
            "append_only": bool(append_only),
            "truncate_ts": 0,
            "buckets": {str(b): {"files": [], "written_version": schema_version}
                        for b in range(n_buckets)},
            "batch_ids": {},
            "deltas": [],
            "checkpoint": {"resolved_ts": 0, "batch_seq": 0, "epoch_hwm": -1},
        }
        self._commit(manifest)

    # ---------------- bounded batch metadata ----------------

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.meta_dir, "lineage")

    def _commit_batch(self, m: dict, batch_id: str, resolved_ts: int | None,
                      n_src: int, rows: list, mode: str | None = None,
                      epoch: int | None = None) -> None:
        """Shared commit tail for merge/append_delta: record the
        batch, advance the checkpoint, PRUNE recognized-forever batch ids,
        append the syncpoint to an APPEND-ONLY sidecar, and write lineage to
        another — the manifest JSON stays O(live batches), not O(history),
        which at 10^10 events is the difference between a bounded commit and
        an ever-growing rewrite. Two pruning rules compose:

        - monotone-window rule: an entry with resolved_ts strictly below the
          checkpoint is already a guaranteed no-op, drop its id;
        - monotone-EPOCH rule (arrival-ordered/streaming mode, where
          resolved_ts is None): foreachBatch epochs are monotone per
          changefeed and only the newest epoch can ever be re-delivered, so
          ids of epochs below the high-water mark carry no information.

        Entries with neither a resolved_ts nor an epoch (bare direct-API
        calls) cannot be pruned safely — pass one of them for bounded
        manifests.

        Epoch high-water marks are NAMESPACED by changefeed (the
        ``cf:epoch-N`` batch-id prefix): foreachBatch epochs are monotone
        only within one streaming query, so a second changefeed writing the
        same table (or a feed restarted on a fresh checkpoint) must not have
        its epoch 0 judged against another feed's high-water mark."""
        self._record_batch(m, batch_id, resolved_ts, n_src, mode=mode, epoch=epoch)
        self._commit_tail(m, [resolved_ts], rows)

    def _commit_tail(self, m: dict, resolved: list, rows: list) -> None:
        """The one commit tail of every batch entry point: bump the version,
        append each batch's (source resolved-ts -> lake snapshot version)
        syncpoint (K8, mysql_syncpoint_store.go:133-180) to an APPEND-ONLY
        sidecar, write the lineage ``rows`` to another, then commit the
        manifest. Sidecars, NOT the manifest — a million-batch history must
        not ride along in every manifest rewrite. ``resolved`` holds one
        resolved-ts (or None) per recorded batch."""
        m["version"] += 1
        os.makedirs(self.meta_dir, exist_ok=True)
        syncs = [rts for rts in resolved if rts is not None]
        if syncs:
            with open(os.path.join(self.meta_dir, "syncpoints.jsonl"), "a") as f:
                for rts in syncs:
                    f.write(json.dumps([rts, m["version"]]) + "\n")
        if rows:
            os.makedirs(self.lineage_dir, exist_ok=True)
            with open(os.path.join(self.lineage_dir, f"v{m['version']:08d}.jsonl"), "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
        self._commit(m)

    def _record_batch(self, m: dict, batch_id: str, resolved_ts: int | None,
                      n_src: int, mode: str | None = None,
                      epoch: int | None = None) -> None:
        """Record one batch in the in-memory manifest (batch id, checkpoint
        advance, pruning) WITHOUT bumping the version or committing — the
        shared half of :meth:`_commit_batch` and the group-commit path."""
        entry: dict = {"resolved_ts": resolved_ts, "rows": n_src}
        if mode:
            entry["mode"] = mode
        if epoch is not None:
            entry["epoch"] = epoch
            entry["epoch_ns"] = self._epoch_ns(batch_id)
        m["batch_ids"][batch_id] = entry
        ck = m["checkpoint"]
        if resolved_ts is not None:
            ck["resolved_ts"] = max(ck["resolved_ts"], resolved_ts)
        if epoch is not None:
            ns = entry["epoch_ns"]
            hwms = ck.setdefault("epoch_hwms", {})
            hwms[ns] = max(hwms.get(ns, -1), epoch)
            # legacy scalar kept as max-across-feeds (readers that only ask
            # "has ANY epoch committed here" still work)
            ck["epoch_hwm"] = max(ck.get("epoch_hwm", -1), epoch)
        ck["batch_seq"] = ck.get("batch_seq", 0) + 1
        hwms = ck.get("epoch_hwms", {})

        def _retain(v: dict) -> bool:
            if v.get("resolved_ts") is not None:
                return v["resolved_ts"] >= ck["resolved_ts"]
            if v.get("epoch") is not None:
                return v["epoch"] >= hwms.get(v.get("epoch_ns", ""), -1)
            return True
        m["batch_ids"] = {k: v for k, v in m["batch_ids"].items() if _retain(v)}

    @staticmethod
    def _epoch_ns(batch_id: str) -> str:
        """Epoch namespace = the changefeed prefix of a ``cf:epoch-N``
        batch id ('' for ad-hoc ids) — epoch monotonicity is a per-
        streaming-query contract, never a cross-feed one."""
        return batch_id.rsplit(":epoch-", 1)[0] if ":epoch-" in batch_id else ""

    @classmethod
    def _recognized(cls, m: dict, batch_id: str, resolved_ts: int | None,
                    epoch: int | None) -> bool:
        """Replay recognition, three-tier: the live batch-id set (replays AT
        the checkpoint/high-water stay in it — pruning retains those), the
        monotone checkpoint rule (strictly below: pruned history), and the
        per-changefeed monotone epoch rule for arrival-ordered mode. Strict
        < avoids silently dropping a DISTINCT new batch sharing the
        checkpoint ts; idempotent replay at == is still caught by batch_ids.

        An UNSEEN batch id with an epoch strictly below its own feed's
        high-water mark cannot be a legitimate replay (foreachBatch only
        re-delivers the newest epoch, whose id pruning retains) — it means
        the feed restarted on a fresh/mismatched streaming checkpoint and
        its epochs have reset. Silently skipping it would lose data, so
        raise instead (same defense as run_streaming's up-front guard, one
        layer deeper)."""
        ck = m["checkpoint"]
        if batch_id in m["batch_ids"]:
            return True
        if resolved_ts is not None and resolved_ts < ck["resolved_ts"]:
            return True
        if epoch is None:
            return False
        ns = cls._epoch_ns(batch_id)
        hwms = ck.get("epoch_hwms")
        # legacy manifests (pre-namespacing) carry only the scalar mark
        hwm = ck.get("epoch_hwm", -1) if hwms is None else hwms.get(ns, -1)
        if epoch < hwm:
            raise RuntimeError(
                f"epoch regression: batch {batch_id!r} carries epoch {epoch} "
                f"below changefeed {ns or '<none>'}'s committed high-water "
                f"mark {hwm} but its batch id is unseen — the streaming "
                "checkpoint was reset or replaced; resume from the original "
                "checkpoint_dir (skipping would silently lose this batch)"
            )
        return False

    def syncpoints(self) -> list:
        """(source resolved-ts, lake snapshot version) pairs, sorted. Reads
        the append-only sidecar (plus any legacy in-manifest list) and drops
        orphans from a crash between sidecar append and manifest commit."""
        cur = self.manifest()
        out = [tuple(x) for x in cur.get("syncpoints", [])]
        p = os.path.join(self.meta_dir, "syncpoints.jsonl")
        if os.path.exists(p):
            with open(p) as f:
                out.extend(tuple(json.loads(line)) for line in f if line.strip())
        # set(): a crash between sidecar append and manifest commit followed
        # by a successful retry re-appends the same (resolved_ts, version)
        # pair — the sidecar is at-least-once, the view is exactly-once
        return sorted({(rts, v) for rts, v in out if v <= cur["version"]})

    def syncpoint_for(self, source_ts: int) -> tuple:
        """Resolve a SOURCE resolved-ts to the lake snapshot version whose
        committed state corresponds exactly to it — the consumer half of the
        syncpoint store (the reference writes (primary_ts, secondary_ts)
        pairs downstream so a reader can pin a downstream snapshot at
        secondary_ts and compare it against the upstream at primary_ts;
        cdc/syncpointstore/mysql_syncpoint_store.go:133-180).

        Group commits (span execution / multi-batch apply) record SEVERAL
        (resolved_ts, version) pairs against one version; the version's
        data covers the HIGHEST of those resolved-ts, so only that pair is
        a consistent read point — the lower ones are replay-recognition
        bookkeeping and reading them would surface later windows' rows.

        Returns the valid (resolved_ts, version) pair with the largest
        resolved_ts <= ``source_ts``; raises LookupError when no syncpoint
        covers it. Time-travel requires the version's files to still exist
        (snapshot expiry honors expire_keep_last / gc_safepoint_ts)."""
        by_version: dict = {}
        for rts, v in self.syncpoints():
            by_version[v] = max(by_version.get(v, rts), rts)
        best = None
        for rts, v in sorted((rts, v) for v, rts in by_version.items()):
            if rts <= source_ts:
                best = (rts, v)
        if best is None:
            raise LookupError(
                f"no syncpoint at or below source ts {source_ts}"
            )
        return best

    def read_at_source_ts(self, source_ts: int, **kw) -> DataFrame:
        """Consistent snapshot read: the table state that corresponds to
        the newest syncpoint at or below ``source_ts`` (time-travel via the
        version half of the pair). What a cross-system consistency check
        runs downstream while the upstream sits at ``source_ts``."""
        return self.read(version=self.syncpoint_for(source_ts)[1], **kw)

    def replicate_changes_to(self, dst: "LakeTable", v_lo: int, v_hi: int) -> dict:
        """Cascade replication LAKE -> LAKE: apply this table's changelog
        between two snapshots onto ``dst`` as one exactly-once MERGE —
        :meth:`changes_between` emits at most one row per key with an op
        column, which is exactly :meth:`merge`'s input contract (the
        downstream half of a chained changefeed, without an MQ hop).
        Idempotent by the ``chlog:<v_lo>:<v_hi>`` batch id."""
        return dst.merge(
            self.changes_between(v_lo, v_hi),
            batch_id=f"chlog:{v_lo}:{v_hi}",
        )

    def _changed_buckets(self, v_lo: int, v_hi: int) -> list | None:
        """Buckets whose physical state differs between two snapshots —
        the pruning set for :meth:`changes_between`. Returns None when a
        FLAT (un-bucket-attributed) or shared delta fileset differs
        between the versions (attribution unknown — every bucket must be
        compared)."""
        m_lo, m_hi = self.manifest(v_lo), self.manifest(v_hi)

        def flat(m):
            return sorted(
                tuple(sorted(d["files"])) for d in m.get("deltas", [])
                if d["files"] and ("buckets" not in d or d.get("shared"))
            )

        if flat(m_lo) != flat(m_hi):
            return None
        changed = set()
        for b in set(m_lo["buckets"]) | set(m_hi["buckets"]):
            if (m_lo["buckets"].get(b, {}).get("files", [])
                    != m_hi["buckets"].get(b, {}).get("files", [])):
                changed.add(int(b))

        def per_bucket_deltas(m):
            out: dict = {}
            for d in m.get("deltas", []):
                if "buckets" in d and not d.get("shared"):
                    for b, fls in d["buckets"].items():
                        out.setdefault(b, []).extend(fls)
            return {b: sorted(v) for b, v in out.items()}

        blo, bhi = per_bucket_deltas(m_lo), per_bucket_deltas(m_hi)
        for b in set(blo) | set(bhi):
            if blo.get(b, []) != bhi.get(b, []):
                changed.add(int(b))
        return sorted(changed)

    def changes_between(self, v_lo: int, v_hi: int) -> DataFrame:
        """Lake-side CHANGELOG between two committed snapshots — the
        incremental-read half of a CDC pipeline (what Iceberg calls an
        incremental scan and Delta calls the change data feed): every key
        whose resolved state differs between version ``v_lo`` and
        ``v_hi``, emitted as op I (absent -> present), U (present in both,
        payload differs) or D (present -> absent). I/U rows carry the NEW
        image, D rows the OLD image projected onto the newer schema
        (missing columns null) — the downstream consumer contract the
        reference's storage-sink consumers implement against upstream
        changelogs, available here FROM the lake itself.

        Scale shape: manifests decide which buckets participate — a
        snapshot pair differing in 1% of buckets full-outer-joins 1% of
        the table (bucket-pruned time-travel reads on both sides);
        untouched buckets never reach the scan. The join keys are the
        merge key (co-partitioned hash join), the diff predicate is a
        null-safe column comparison — no window, no global sort."""
        key = self.manifest(v_hi)["key"]
        buckets = self._changed_buckets(v_lo, v_hi)
        old = self.read(version=v_lo, buckets=buckets)
        new = self.read(version=v_hi, buckets=buckets)
        # compare on the columns both snapshots know; output the newer
        # schema (added columns null on D rows and on the old image)
        common = [c for c in old.columns if c in set(new.columns) and c not in key]
        out_cols = [c for c in new.columns if c not in key]
        # side-presence markers: any payload column could be genuinely
        # null, so presence must not be inferred from the payload
        o = old.select(*key, F.lit(True).alias("_was"),
                       *[F.col(c).alias(f"_o_{c}") for c in common])
        n = new.select(*key, F.lit(True).alias("_present"), *out_cols)
        j = o.join(n, on=list(key), how="full_outer")
        differs = None
        for c in common:
            d = ~F.col(f"_o_{c}").eqNullSafe(F.col(c))
            differs = d if differs is None else (differs | d)
        op = (
            F.when(F.col("_was").isNull(), "I")
            .when(F.col("_present").isNull(), "D")
            .otherwise("U")
        )
        img = [
            F.when(F.col("_present").isNull(),
                   F.col(f"_o_{c}") if c in common else F.lit(None))
            .otherwise(F.col(c)).alias(c)
            for c in out_cols
        ]
        return (
            j.select(op.alias("op"), *key, *img,
                     F.coalesce(differs, F.lit(True)).alias("_differs"))
            .filter((F.col("op") != "U") | F.col("_differs"))
            .drop("_differs")
        )

    def alter(self, ddl_type: str, column: str | None, old_column: str | None = None,
              col_type: str = "string", schema_version: int = 0) -> bool:
        """Schema evolution; idempotent by schema_version. add/rename/drop
        column are metadata-only commits; truncate_table clears every bucket
        and delta fileset in one atomic commit (the data files linger until
        snapshot expiry — time-travel reads before the truncate still work)
        and records ``truncate_ts`` so late stale DMLs of the old table
        incarnation are dropped at the sink
        (/root/reference/cdc/entry/schema/snapshot.go:503-509)."""
        from ticdc_spark.plans.schema_registry import RESERVED_COLUMNS

        if column is not None and column in RESERVED_COLUMNS:
            raise ValueError(f"column name {column!r} is reserved by the engine")
        m = self.manifest()
        if schema_version <= m["schema_version"]:
            return False  # foregone DDL (schema_storage.go:204-219)
        schema = [list(x) for x in m["schema"]]
        if ddl_type == "add_column":
            if any(x[0] == column for x in schema):
                raise ValueError(f"column {column!r} already exists")
            nid = m.get("next_col_id", len(schema))
            schema = schema + [[column, col_type, nid]]
            m["next_col_id"] = nid + 1
        elif ddl_type == "rename_column":
            if not any(x[0] == old_column for x in schema):
                raise ValueError(f"rename_column: no column named {old_column!r}")
            if any(x[0] == column for x in schema):
                raise ValueError(f"rename_column: column {column!r} already exists")
            schema = [[column, t, i] if n == old_column else [n, t, i]
                      for n, t, i in schema]
        elif ddl_type == "drop_column":
            if column in m["key"]:
                raise ValueError(f"cannot drop merge-key column {column!r}")
            kept = [x for x in schema if x[0] != column]
            if len(kept) == len(schema):
                raise ValueError(f"drop_column: no column named {column!r}")
            schema = kept
        elif ddl_type == "modify_column":
            # type change keeps the column ID; files written under the old
            # type reconcile via cast-on-read in _reconcile
            if not any(x[0] == column for x in schema):
                raise ValueError(f"modify_column: no column named {column!r}")
            if column in m["key"]:
                raise ValueError(f"cannot modify merge-key column {column!r}")
            schema = [[n, col_type if n == column else t, i] for n, t, i in schema]
        elif ddl_type == "truncate_table":
            for b in m["buckets"]:
                m["buckets"][b] = {"files": [], "written_version": schema_version}
            m["deltas"] = []
            m["truncate_ts"] = max(m.get("truncate_ts", 0), schema_version)
        else:
            raise ValueError(f"unsupported ddl_type {ddl_type}")
        m["schema"] = schema
        m["schemas"][str(schema_version)] = schema
        m["schema_version"] = schema_version
        m["version"] += 1
        self._commit(m)
        return True

    # ---------------- read ----------------

    @staticmethod
    def _bucket_expr(n_buckets: int, key0: str = "conv_id"):
        return F.pmod(F.xxhash64(F.col(key0)), F.lit(n_buckets)).cast("int")

    def _reconcile(self, by_version: dict, m: dict) -> DataFrame | None:
        """Read filesets grouped by written schema version and project each
        onto the CURRENT schema, matching columns by COLUMN ID: renamed
        columns alias through (same id, new name), dropped/added columns
        backfill NULL (the add-column default rule,
        cdc/entry/mounter.go:909-965) — and a re-added name (new id) never
        reads a dropped column's bytes. Returns None for an empty fileset.

        Keys are ``(written_version, shared)`` where ``shared`` is None for
        table-exclusive files or ``(col, value)`` for SHARED multi-table
        delta files (the fleet-scale write mode, streaming/multi.py): those
        carry every table's rows with a discriminator column, so this
        table's slice is filter(col == value) with the column dropped."""
        cur = [tuple(x) for x in m["schema"]]  # (name, type, id)
        parts = []
        for (wv, shared), files in by_version.items():
            wrows = [tuple(x) for x in m["schemas"][str(wv)]]
            read_rows = list(wrows) + ([(shared[0], "string", -1)] if shared else [])
            df = self.spark.read.schema(
                _struct([(n, t) for n, t, *_ in read_rows])
            ).parquet(*files)
            if shared:
                df = df.filter(F.col(shared[0]) == shared[1]).drop(shared[0])
            wname_by_id = {i: n for n, _, i in wrows}
            cols = []
            for n, t, i in cur:
                if i in wname_by_id:
                    # cast-on-read: after a modify_column the writer's type
                    # differs from the current one — a no-op cast otherwise
                    cols.append(F.col(wname_by_id[i]).cast(_TYPE[t]).alias(n))
                else:
                    cols.append(F.lit(None).cast(_TYPE[t]).alias(n))
            parts.append(df.select(*cols))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*[x[0] for x in cur])

    def _delta_bytes(self, m: dict) -> int:
        total = 0
        for d in m.get("deltas", []):
            for f in d["files"]:
                try:
                    total += os.path.getsize(f)
                except OSError:
                    return DELTA_BROADCAST_BYTES + 1  # unknown → don't force
        return total

    def read(self, buckets: list | None = None, version: int | None = None,
             include_deleted: bool = False, include_meta: bool = False) -> DataFrame:
        """Current (or time-travel) table state, optionally bucket-pruned.

        MOR read path is **delta-scoped**: only keys present in delta files
        are re-resolved through the LWW aggregate; every untouched base row
        passes through with NO shuffle (broadcast anti-join on the delta
        key set). Read cost is O(base scan) + O(delta keys), not
        O(base shuffle) — the property that keeps read-time merge viable
        when a micro-batch touches 0.1% of a 100-TB table."""
        m = self.manifest(version)
        cur_fields = _nt(m["schema"])
        cur_names = [n for n, _ in cur_fields]
        want = set(map(int, buckets)) if buckets is not None else None

        base_fs: dict = {}
        for b, info in m["buckets"].items():
            if want is not None and int(b) not in want:
                continue
            if info["files"]:
                base_fs.setdefault((info["written_version"], None), []).extend(info["files"])
        delta_fs: dict = {}
        legacy_unbucketed = False
        for d in m.get("deltas", []):
            if want is not None and "buckets" in d:
                # bucketed delta layout: FILE-level pruning, O(bucket delta)
                fs = [
                    f for b, fls in d["buckets"].items() if int(b) in want
                    for f in fls
                ]
            else:
                fs = d["files"]
                legacy_unbucketed = legacy_unbucketed or want is not None
            if fs:
                shared = tuple(d["shared"]) if d.get("shared") else None
                delta_fs.setdefault((d["written_version"], shared), []).extend(fs)

        base = self._reconcile(base_fs, m)
        delta = self._reconcile(delta_fs, m)
        if delta is not None and legacy_unbucketed:
            # pre-bucketed-layout manifests: re-derive the bucket and prune
            # (harmless no-op rows-wise for the bucketed entries in the mix)
            delta = delta.filter(
                self._bucket_expr(m["n_buckets"], m["key"][0]).isin(*[int(x) for x in want])
            )

        if delta is None:
            out = base if base is not None else self.spark.createDataFrame([], _struct(cur_fields))
        elif "_commit_ts" not in cur_names:
            out = delta if base is None else base.unionByName(delta)
        else:
            # re-establish the LWW law, but ONLY over contested keys
            key = m["key"]
            payload = [c for c in cur_names if c not in key]
            ordc = F.struct(F.col("_commit_ts"), F.col("_start_ts"), F.col("_op_rank"))
            contested = delta
            if base is not None:
                dk = delta.select(*key).distinct()
                if self._delta_bytes(m) <= DELTA_BROADCAST_BYTES:
                    dk = F.broadcast(dk)
                untouched = base.join(dk, on=key, how="left_anti")
                contested = base.join(dk, on=key, how="left_semi").unionByName(delta)
            resolved = (
                contested.groupBy(*key)
                .agg(F.max_by(F.struct(*[F.col(c) for c in payload]), ordc).alias("_w"))
                .select(*key, *[F.col(f"_w.{c}").alias(c) for c in payload])
            )
            out = resolved if base is None else untouched.unionByName(resolved)
        if not include_deleted and "_deleted" in cur_names:
            out = out.filter((F.col("_deleted").isNull()) | (F.col("_deleted") != 1))
        if not include_meta:
            # the LWW order metadata is engine plumbing; readers see the
            # logical table (internal merge/compact paths pass include_meta)
            out = out.drop(*ORDER_META)
        return out

    # ---------------- MERGE ----------------

    def merge(
        self,
        src: DataFrame,
        batch_id: str,
        lineage_rows: list | None = None,
        resolved_ts: int | None = None,
        epoch: int | None = None,
    ) -> dict:
        """Exactly-once copy-on-write apply of one deduplicated micro-batch:
        the batch's buckets are rewritten whole.

        ``src`` must carry the merge-key columns, ``op`` ('I'/'U'/'D') and
        the current table columns — at most ONE row per key (run
        lww_dedup first; guarantees conflict-freedom, replacing the
        causality conflict detector,
        /root/reference/pkg/causality/conflict_detector.go:31-120).

        The table's schema picks the upsert step:

        - without order columns, MERGE INTO target USING src ON key:
          WHEN MATCHED AND op='D' THEN DELETE; WHEN MATCHED THEN UPDATE;
          WHEN NOT MATCHED AND op!='D' THEN INSERT (batches must arrive in
          commit-ts order, as resolved-ts windows do);
        - with the order columns ``_commit_ts, _start_ts, _op_rank,
          _deleted`` (``create(with_order_cols=True)``; ``src`` must carry
          them too), batches may arrive in ANY commit-ts interleaving: a
          stored row only loses to a strictly NEWER event, and deletes
          persist as ``_deleted = 1`` tombstones so a late older event
          cannot resurrect a deleted key — the MySQL sink's
          safe-mode/REPLACE idempotency
          (cdc/sink/dmlsink/txn/mysql/mysql.go:516,533-537) generalized
          to a lake table.
        """
        m = self.manifest()
        if m.get("append_only"):
            raise ValueError("append-only (force-replicate) table: use append_log")
        if self._recognized(m, batch_id, resolved_ts, epoch):
            return {"status": "skipped", "batch_id": batch_id}
        if m.get("deltas"):
            raise RuntimeError("table has uncompacted MOR deltas; run compact() before CoW merge")
        key = m["key"]
        n_buckets = m["n_buckets"]
        cur_names = [x[0] for x in m["schema"]]
        lww = set(ORDER_META) <= set(cur_names)
        missing = [c for c in ORDER_META if c not in src.columns] if lww else []
        if missing:
            raise ValueError(f"merge into an order-column table: src lacks {missing}")

        src = self._drop_stale(m, src)
        src = src.withColumn("_bucket", self._bucket_expr(n_buckets, key[0]))
        src = src.persist()
        try:
            # ONE metadata-cardinality pre-write job, deliberately: the write
            # plan needs `affected` BEFORE it exists (bucket-pruned live
            # read) and the broadcast gate needs n_src — both ride a single
            # tiny aggregate that doubles as the cache-materializing action,
            # so CoW is exactly 2 jobs/batch (the MOR default is 1)
            stats = src.groupBy("_bucket").count().collect()
            affected = sorted(int(r["_bucket"]) for r in stats)
            n_src = sum(int(r["count"]) for r in stats)

            if affected:
                live = self.read(buckets=affected, include_deleted=lww, include_meta=True).withColumn(
                    "_bucket", self._bucket_expr(n_buckets, key[0])
                )
                keys_df = src.select(*key)
                if n_src <= BROADCAST_KEY_LIMIT:
                    keys_df = F.broadcast(keys_df)
                keep = live.join(keys_df, on=key, how="left_anti").select(*cur_names, "_bucket")
                if lww:
                    # contested keys: the stored row competes as an event
                    # whose op reflects its tombstone state, so a stored
                    # delete keeps deleting unless a strictly newer event
                    # arrives; winners are stored INCLUDING delete tombstones
                    contested = live.join(keys_df, on=key, how="left_semi").select(
                        *cur_names, "_bucket",
                        F.when(F.col("_deleted") == 1, "D").otherwise("I").alias("op"),
                    )
                    upserts = lww_dedup(
                        contested.unionByName(src.select(*cur_names, "_bucket", "op")),
                        key, order=ORDER_META[:3],
                    ).withColumn("_deleted", (F.col("op") == "D").cast("int"))
                else:
                    # a delete drops the key (a missing key's delete is a no-op)
                    upserts = src.filter(F.col("op") != "D")
                out = keep.unionByName(upserts.select(*cur_names, "_bucket"))

                commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
                (
                    out.repartition(len(affected), F.col("_bucket"))
                    .write.partitionBy("_bucket")
                    .parquet(commit_dir)
                )
                for b in affected:
                    m["buckets"][str(b)] = {
                        "files": parquet_files(os.path.join(commit_dir, f"_bucket={b}")),
                        "written_version": m["schema_version"],
                    }
        finally:
            src.unpersist()

        rows = lineage_rows() if callable(lineage_rows) else (lineage_rows or [])
        self._commit_batch(m, batch_id, resolved_ts, n_src, rows, epoch=epoch)
        return {"status": "committed", "batch_id": batch_id, "rows": n_src,
                "buckets": affected, "version": m["version"], "lineage": rows}

    @staticmethod
    def _drop_stale(m: dict, src: DataFrame) -> DataFrame:
        """Stale-DML drop: an event of the pre-truncate table incarnation
        arriving late must not resurrect truncated rows
        (cdc/entry/schema/snapshot.go:503-509). Only an order-column table
        stores the commit ts this is judged by."""
        if m.get("truncate_ts", 0) and any(x[0] == "_commit_ts" for x in m["schema"]):
            return src.filter(F.col("_commit_ts") > int(m["truncate_ts"]))
        return src

    # ---------------- merge-on-read (LSM-style) ----------------

    def append_delta(
        self,
        src: DataFrame,
        batch_id: str,
        lineage_rows: list | None = None,
        resolved_ts: int | None = None,
        epoch: int | None = None,
    ) -> dict:
        """MOR ingest: append the deduplicated batch as delta files without
        touching the base — O(batch) per commit. Readers re-establish LWW
        against (_commit_ts, _start_ts, _op_rank); ``compact()`` folds
        deltas into the base periodically. This is the LSM trade TiCDC's
        pebble sorter makes (docs/design/2022-03-16-ticdc-db-sorter.md:28-47)
        applied to the lake sink. Requires with_order_cols=True.

        ``src`` contract: current table columns (incl. order cols and
        ``_deleted``), at most one row per key per batch.
        """
        m = self.manifest()
        if self._recognized(m, batch_id, resolved_ts, epoch):
            return {"status": "skipped", "batch_id": batch_id}
        cur_names = [x[0] for x in m["schema"]]
        if "_commit_ts" not in cur_names:
            raise ValueError("append_delta needs a table created with_order_cols=True")
        src = self._drop_stale(m, src)

        # deltas are written straight from the dedup output partitioning —
        # NO extra shuffle on the ingest path (the only exchange per batch
        # is the dedup itself). Two layouts (the trade-off is measured,
        # BENCH/OPERATORS.md; chosen per table at create()):
        #   flat (default): one file per task — maximum ingest throughput
        #     (~1.7x faster); bucket-pruned reads re-derive + filter.
        #   bucketed: partitionBy(_bucket), still a narrow write — each
        #     task splits rows into per-bucket files, so a point-bucket
        #     read between compactions scans O(bucket delta) (7.9x) at the
        #     cost of tasks x touched-buckets small files per batch.
        commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        entry: dict = {"written_version": m["schema_version"]}
        bucketed = m.get("delta_layout", "flat") == "bucketed"
        if bucketed:
            (
                src.withColumn("_bucket", self._bucket_expr(m["n_buckets"], m["key"][0]))
                .select(*cur_names, "_bucket")
                .write.partitionBy("_bucket")
                .parquet(commit_dir)
            )
        else:
            src.select(*cur_names).write.parquet(commit_dir)
        entry["files"], buckets = staged_files(commit_dir, bucketed)
        if bucketed:
            entry["buckets"] = buckets
        m.setdefault("deltas", []).append(entry)
        rows = lineage_rows() if callable(lineage_rows) else (lineage_rows or [])
        n_src = sum(r.get("event_count", 0) for r in rows)
        self._commit_batch(m, batch_id, resolved_ts, n_src, rows, mode="mor", epoch=epoch)
        return {"status": "committed", "batch_id": batch_id, "version": m["version"],
                "lineage": rows}

    def bootstrap_base_group(self, batches: list, bucket_files: dict) -> dict:
        """Initial-load (bootstrap) commit: the first span's cross-window
        LWW fold lands ONCE as the compacted BASE. On an empty table the
        normal MOR path writes every window as a delta and then
        immediately compacts — the data is written twice and the pre-fold
        rows (one per key PER WINDOW) are all decoded; folding first
        writes once and decodes one row per key. This is the 100-TB
        initial-sync path: the first replication of a large table is one
        giant DDL-free span, and 2x write + 3x decode there is the
        difference between a day and half a day.

        Only legal on an EMPTY table (no base files, no deltas, no
        truncate incarnation) — the caller gates, this re-checks. Records
        every window's batch id / syncpoint / lineage in the SAME atomic
        manifest commit; the crash contract is identical to
        :meth:`append_delta_files_group` (before the commit only
        unreferenced staged files exist, reaped by snapshot expiry)."""
        m = self.manifest()
        if (any(info["files"] for info in m["buckets"].values())
                or m.get("deltas") or m.get("truncate_ts", 0)):
            raise RuntimeError("bootstrap_base_group requires an empty table")
        if any(self._recognized(m, b["batch_id"], b.get("resolved_ts"), None)
               for b in batches):
            # the span (group commits are atomic, so all-or-nothing) was
            # already applied — idempotent replay
            return {"status": "skipped", "batches": 0, "lineage": []}
        all_rows: list = []
        n_total = 0
        for b in batches:
            rows = b.get("lineage_rows") or []
            n_src = sum(r.get("event_count", 0) for r in rows)
            self._record_batch(m, b["batch_id"], b.get("resolved_ts"), n_src,
                               mode="mor")
            all_rows.extend(rows)
            n_total += n_src
        for bs, files in bucket_files.items():
            m["buckets"][str(bs)] = {"files": sorted(files),
                                     "written_version": m["schema_version"]}
        self._commit_tail(m, [b.get("resolved_ts") for b in batches], all_rows)
        return {"status": "committed", "batches": len(batches), "rows": n_total,
                "version": m["version"], "lineage": all_rows}

    def append_delta_files_group(self, batches: list) -> dict:
        """Group-commit MANY already-written window batches in ONE manifest
        rewrite — the fold half of the multi-table feed journal
        (streaming/multi.py). Per-table metadata cost becomes O(folds), not
        O(windows): a 100k-table fleet appends one feed-journal line per
        window and amortizes the per-table manifest I/O across the whole
        homogeneous streak (the commit-tail scale fix;
        docs/design/2022-03-16-ticdc-db-sorter.md:177-181 posture).

        ``batches``: [{"batch_id", "files", "resolved_ts",
        "lineage_rows": [...], "buckets": {bucket: files} | None}] in
        window order. Already-recognized batches are skipped individually
        (idempotent refold after a crash). Files must live under this
        table's ``data_dir``."""
        m = self.manifest()
        if "_commit_ts" not in [x[0] for x in m["schema"]]:
            raise ValueError("append_delta_files_group needs a table created "
                             "with_order_cols=True")
        applied, all_rows, n_total = [], [], 0
        for b in batches:
            rts = b.get("resolved_ts")
            ep = b.get("epoch")
            if self._recognized(m, b["batch_id"], rts, ep):
                continue
            entry: dict = {"files": sorted(b.get("files") or []),
                           "written_version": m["schema_version"]}
            if b.get("buckets") is not None:
                entry["buckets"] = b["buckets"]
            if b.get("shared") is not None:
                # shared fleet-mode fileset: rows of every table in the
                # window, discriminated by (col, value) at read time
                entry["shared"] = list(b["shared"])
            m.setdefault("deltas", []).append(entry)
            rows = b.get("lineage_rows") or []
            n_src = sum(r.get("event_count", 0) for r in rows)
            self._record_batch(m, b["batch_id"], rts, n_src, mode="mor", epoch=ep)
            all_rows.extend(rows)
            n_total += n_src
            applied.append(rts)
        if not applied:
            return {"status": "skipped", "batches": 0, "lineage": []}
        self._commit_tail(m, applied, all_rows)
        return {"status": "committed", "batches": len(applied), "rows": n_total,
                "version": m["version"], "lineage": all_rows}

    def append_log(
        self,
        src: DataFrame,
        batch_id: str,
        lineage_rows: list | None = None,
        resolved_ts: int | None = None,
        epoch: int | None = None,
    ) -> dict:
        """Force-replicate sink (replica_config.go:135 +
        force_replicate_table integration test): a keyless table's events
        land as an APPEND-ONLY insert log — no dedup, no MERGE, no LWW
        resolution at read time; every committed batch is a new fileset.
        Exactly-once recognition is identical to every other entry point
        (the batch id + monotone-window rules), so replays stay no-ops even
        without a key to dedup on."""
        m = self.manifest()
        if not m.get("append_only"):
            raise ValueError("append_log requires a table created append_only=True")
        if self._recognized(m, batch_id, resolved_ts, epoch):
            return {"status": "skipped", "batch_id": batch_id}
        cur_names = [x[0] for x in m["schema"]]
        commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        src.select(*cur_names).write.parquet(commit_dir)
        m.setdefault("deltas", []).append({
            "files": parquet_files(commit_dir),
            "written_version": m["schema_version"],
        })
        rows = lineage_rows() if callable(lineage_rows) else (lineage_rows or [])
        n_src = sum(r.get("event_count", 0) for r in rows)
        self._commit_batch(m, batch_id, resolved_ts, n_src, rows, mode="append", epoch=epoch)
        return {"status": "committed", "batch_id": batch_id, "version": m["version"],
                "lineage": rows}

    def delta_depth(self) -> int:
        return len(self.manifest().get("deltas", []))

    def compact(self, drop_tombstones: bool = True, *, with_tables=()) -> dict:
        """Fold deltas into the base of this table and of ``with_tables`` —
        **per-bucket**: only buckets that a delta key hashes into are
        rewritten; every other bucket's fileset is carried forward untouched.
        Compaction cost is O(affected buckets), not O(table) — at 100 TB a
        micro-batch touching 1% of buckets rewrites 1% of the table, the
        leveling trade TiCDC's LSM sorter makes
        (docs/design/2022-03-16-ticdc-db-sorter.md:28-47).

        The tables form a group (a plain call is a group of one); tables
        sharing (key, current schema names and types, bucket count) are
        compacted by ONE placed fold (:meth:`_fold_group`): one exchange,
        one write, then one manifest commit per table.

        ``drop_tombstones`` is safe when no event older than the checkpoint
        can still arrive (the resolved-ts driver mode guarantees that; keep
        tombstones in arrival-ordered mode). Returns this table's result;
        with ``with_tables``, ``"tables"`` maps every path to its result."""
        results: dict = {}
        folds: dict = {}
        for t in (self, *with_tables):
            m = t.manifest()
            if m.get("append_only") or not m.get("deltas"):
                # an insert log has no LWW to fold; filesets are final
                results[t.path] = {"status": "noop"}
                continue
            sig = json.dumps([m["key"], _nt(m["schema"]), m["n_buckets"]])
            folds.setdefault(sig, []).append((t, m))
        for members in folds.values():
            results.update(self._fold_group(members, drop_tombstones))
        out = dict(results[self.path])
        if with_tables:
            out["tables"] = results
        return out

    def _fold_group(self, members: list, drop_tombstones: bool) -> dict:
        """Compact ``members`` ([(table, manifest)], one key, current
        schema and bucket count) with the bootstrap's placed fold: every
        table's affected-bucket base rows plus all its delta rows, tagged
        with the table's index ``_t``, go through ONE exchange that places
        each (table, bucket) slot in exactly one of ``min(slots,
        defaultParallelism)`` partitions, the LWW fold per
        (table, bucket, key) on (_commit_ts, _start_ts, _op_rank) in that
        partitioning, and one ``partitionBy(_t, _bucket)`` write — one file
        per slot. Each table's dir then moves into its own ``data_dir`` and
        its manifest commits. Staging lives under this table's ``data_dir``,
        where snapshot expiry reaps it if a crash orphans it.

        Affected buckets: a bucketed table's come from its manifest (no
        job); the flat and shared-fileset tables share one
        metadata-cardinality job over the union of their deltas (shared
        bucket files carry every table's rows, so their manifest lists
        over-approximate). No affected bucket (only empty deltas): the
        deltas clear with no write."""
        key, nb = members[0][1]["key"], members[0][1]["n_buckets"]
        bucket = self._bucket_expr(nb, key[0])
        deltas, affected, derive = [], [], []
        for i, (t, m) in enumerate(members):
            fs: dict = {}
            for d in m["deltas"]:
                if d["files"]:
                    shared = tuple(d["shared"]) if d.get("shared") else None
                    fs.setdefault((d["written_version"], shared), []).extend(d["files"])
            deltas.append(t._reconcile(fs, m))
            if all("buckets" in d and not d.get("shared") for d in m["deltas"]):
                affected.append({int(b) for d in m["deltas"]
                                 for b, f in d["buckets"].items() if f})
            else:
                affected.append(set())
                if deltas[i] is not None:
                    derive.append(deltas[i].select(F.lit(i).alias("_t"), bucket.alias("_b")))
        if derive:
            for r in reduce(DataFrame.unionByName, derive).distinct().collect():
                affected[r["_t"]].add(int(r["_b"]))
        affected = [sorted(a) for a in affected]
        slots = [(i, b) for i, bs in enumerate(affected) for b in bs]
        staging = os.path.join(self.data_dir, uuid.uuid4().hex)
        if slots:
            parts = []
            for i, (t, m) in enumerate(members):
                base_fs: dict = {}
                for b in affected[i]:
                    info = m["buckets"][str(b)]
                    if info["files"]:
                        base_fs.setdefault((info["written_version"], None), []).extend(info["files"])
                parts += [p.withColumn("_t", F.lit(i))
                          for p in (t._reconcile(base_fs, m), deltas[i]) if p is not None]
            rows = reduce(DataFrame.unionByName, parts).withColumn("_bucket", bucket)
            slot_of = F.create_map(*[F.lit(x) for s, (i, b) in enumerate(slots)
                                     for x in (i * nb + b, s)])
            folded = placed_fold(
                rows, F.element_at(slot_of, F.col("_t") * nb + F.col("_bucket")),
                len(slots), ["_t", "_bucket", *key],
                order=ORDER_META[:3])
            if drop_tombstones:
                folded = folded.filter(
                    (F.col("_deleted").isNull()) | (F.col("_deleted") != 1))
            folded.write.partitionBy("_t", "_bucket").parquet(staging)
        out = {}
        for i, (t, m) in enumerate(members):
            dest = os.path.join(staging, f"_t={i}")
            if os.path.isdir(dest):
                os.makedirs(t.data_dir, exist_ok=True)
                dest, src = os.path.join(t.data_dir, uuid.uuid4().hex), dest
                os.rename(src, dest)
            for b in affected[i]:
                # a bucket whose rows were all tombstones has no dir: []
                m["buckets"][str(b)] = {
                    "files": parquet_files(os.path.join(dest, f"_bucket={b}")),
                    "written_version": m["schema_version"],
                }
            m["deltas"] = []
            m["version"] += 1
            t._commit(m)
            out[t.path] = {"status": "compacted", "version": m["version"],
                           "buckets": affected[i]}
        shutil.rmtree(staging, ignore_errors=True)
        return out

    # ---------------- snapshot expiry (GC safepoint, W8) ----------------

    def expire_snapshots(self, keep_last: int = 2, safepoint_ts: int | None = None) -> dict:
        """Expire old snapshot versions and delete data files no retained
        manifest references (single-writer: call between batches, like the
        owner's GC tick). Two retention rules compose:

        - the newest ``keep_last`` versions are always retained;
        - the GC-SAFEPOINT rule (/root/reference/cdc/owner/changefeed.go:363-376):
          any version whose committed checkpoint resolved_ts >= ``safepoint_ts``
          is NEVER expired — replay/time-travel from every checkpoint at or
          after the safepoint must stay possible.

        Lineage sidecars are append-only audit records and are kept.
        Returns counts for observability."""
        vs = self._versions()
        retained = set(vs[-max(keep_last, 1):])
        if safepoint_ts is not None:
            for v in vs:
                if self.manifest(v)["checkpoint"]["resolved_ts"] >= safepoint_ts:
                    retained.add(v)
        expired = [v for v in vs if v not in retained]
        # realpath-normalize both sides: a LakeTable opened through a
        # differently-spelled but equivalent path (relative vs absolute,
        # symlink) must still match the writer's manifest paths — an exact
        # string compare here would see zero live files and delete the table
        live: set = set()
        for v in retained:
            m = self.manifest(v)
            for info in m["buckets"].values():
                live.update(os.path.realpath(f) for f in info["files"])
            for d in m.get("deltas", []):
                live.update(os.path.realpath(f) for f in d["files"])
        # an unreferenced parquet file goes with its checksum sidecar, and a
        # write dir whose subtree holds no live file goes with its markers
        # (Spark's _SUCCESS and its sidecar) — else the dir never empties
        removed_files = 0
        if os.path.isdir(self.data_dir):
            holds_live: set = set()
            for root, dirs, files in os.walk(self.data_dir, topdown=False):
                kept = {f for f in files if f.endswith(".parquet")
                        and os.path.realpath(os.path.join(root, f)) in live}
                if kept or any(os.path.join(root, d) in holds_live for d in dirs):
                    holds_live.add(root)
                for f in files:
                    # ``.x.crc`` is the checksum sidecar of ``x``
                    base = f[1:-4] if f.startswith(".") and f.endswith(".crc") else f
                    if ((base.endswith(".parquet") and base not in kept)
                            or (f in _WRITE_MARKERS and root not in holds_live)):
                        os.remove(os.path.join(root, f))
                        removed_files += f.endswith(".parquet")
                if root != self.data_dir and not os.listdir(root):
                    os.rmdir(root)
        for v in expired:
            os.remove(os.path.join(self.meta_dir, f"v{v:08d}.json"))
        return {"expired_versions": expired, "retained": sorted(retained),
                "removed_files": removed_files}

    # ---------------- introspection ----------------

    @property
    def checkpoint(self) -> dict:
        return self.manifest()["checkpoint"]

    def committed_batch_ids(self) -> set:
        return set(self.manifest()["batch_ids"].keys())

    def lineage_df(self) -> DataFrame:
        """Per-partition lineage, read from the append-only sidecar files
        (one jsonl per commit — the checkpoint table a replay audits)."""
        schema = (
            "batch_id string, partition_id int, resolved_ts long, "
            "event_count long, max_commit_ts long"
        )
        rows = []
        if os.path.isdir(self.lineage_dir):
            for fn in sorted(os.listdir(self.lineage_dir)):
                if fn.endswith(".jsonl"):
                    with open(os.path.join(self.lineage_dir, fn)) as f:
                        rows.extend(json.loads(line) for line in f if line.strip())
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(
            [(r["batch_id"], r.get("partition_id"), r.get("resolved_ts"),
              r.get("event_count"), r.get("max_commit_ts")) for r in rows],
            schema,
        )

    def drop(self) -> None:
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
