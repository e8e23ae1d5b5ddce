"""Multi-version schema registry — SchemaStorage re-expressed.

TiCDC keeps a sorted list of immutable schema snapshots, one per applied
DDL; every DML is decoded against the snapshot at ``commit_ts - 1``
(/root/reference/cdc/entry/schema_storage.go:72-153, snapshot-at-CRTs-1
rule /root/reference/cdc/entry/mounter.go:173). Replay is idempotent —
DDL jobs already at or below the current version are skipped
(schema_storage.go:204-219).

Here a snapshot is a tuple of (version_ts, ordered payload fields,
rename-map from every historical field name to its current name). The
registry is tiny (one entry per DDL) and is shipped to executors inside
the mount UDF's closure — the broadcast-dict pattern.
"""

from __future__ import annotations

from dataclasses import dataclass

# transcript payload (BASELINE.json input_hint): non-key columns; `ts` is
# transported as epoch-micros long inside the JSON payload and cast to
# timestamp natively after decode.
BASE_PAYLOAD_FIELDS: tuple[tuple[str, str], ...] = (
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "long"),
)

# engine-owned column names a DDL may never introduce into the payload:
# mount materializes payload fields with withColumn, which would clobber them
RESERVED_COLUMNS = frozenset(
    {"op", "op_rank", "commit_ts", "start_ts", "partition_id", "schema_version",
     "payload", "pre_payload", "conv_id", "turn_idx",
     "_commit_ts", "_start_ts", "_op_rank", "_deleted", "_bucket", "_m", "_w"}
)


@dataclass(frozen=True)
class SchemaSnapshot:
    version_ts: int
    fields: tuple[tuple[str, str], ...]  # (name, type_str) in order
    # stable per-column identity, parallel to ``fields`` — TiCDC's column-ID
    # model (cdc/entry/schema/snapshot.go): a rename keeps the id, a drop
    # retires it, re-adding the same NAME mints a NEW id, so data written
    # under a dropped column can never leak into its re-added namesake
    col_ids: tuple[int, ...] = ()

    def id_of(self) -> dict:
        return dict(zip(self.col_ids, (n for n, _ in self.fields)))


class SchemaRegistry:
    """Event-sourced registry: replay DDL events into snapshots."""

    def __init__(self, base_fields=BASE_PAYLOAD_FIELDS, base_version: int = 0):
        self._snapshots: list[SchemaSnapshot] = [
            SchemaSnapshot(base_version, tuple(base_fields),
                           tuple(range(len(base_fields))))
        ]
        self._next_id = len(base_fields)
        # commit-ts of the newest truncate: DMLs written against an earlier
        # table incarnation are stale after it (snapshot.go:503-509)
        self.truncate_ts = 0

    @property
    def resolved_ts(self) -> int:
        """Version of the newest applied DDL — the schema stream's
        resolved-ts. A micro-batch upper bound must not exceed the DDL
        stream's own resolved-ts (manager.go:479-487); the driver loop
        enforces that by replaying the ddl_log for the window first."""
        return self._snapshots[-1].version_ts

    def apply_ddl(self, commit_ts: int, ddl_type: str, column: str | None,
                  old_column: str | None = None, col_type: str = "string") -> bool:
        """Apply one DDL; returns False if foregone (idempotent replay,
        schema_storage.go:204-219)."""
        if column is not None and column in RESERVED_COLUMNS:
            # a payload column named like an engine column would silently
            # clobber dedup/merge inputs when mount materializes it
            raise ValueError(f"column name {column!r} is reserved by the engine")
        if commit_ts <= self._snapshots[-1].version_ts:
            return False
        cur = self._snapshots[-1]
        ids = cur.col_ids
        if ddl_type == "add_column":
            if any(n == column for n, _ in cur.fields):
                raise ValueError(f"column {column!r} already exists")
            fields = cur.fields + ((column, col_type),)
            ids = ids + (self._next_id,)
            self._next_id += 1
        elif ddl_type == "rename_column":
            if old_column is None:
                raise ValueError("rename_column requires old_column")
            if not any(n == old_column for n, _ in cur.fields):
                raise ValueError(f"rename_column: no column named {old_column!r}")
            if any(n == column for n, _ in cur.fields):
                raise ValueError(f"rename_column: column {column!r} already exists")
            fields = tuple((column if n == old_column else n, t) for n, t in cur.fields)
        elif ddl_type == "drop_column":
            keep = [i for i, (n, _) in enumerate(cur.fields) if n != column]
            if len(keep) == len(cur.fields):
                raise ValueError(f"drop_column: no column named {column!r}")
            fields = tuple(cur.fields[i] for i in keep)
            ids = tuple(cur.col_ids[i] for i in keep)
        elif ddl_type == "modify_column":
            # type change, SAME column id (ModifyColumn handling,
            # cdc/entry/schema/snapshot.go:412-551): old files reconcile via
            # cast-on-read, writer maps carry the per-version type
            if not any(n == column for n, _ in cur.fields):
                raise ValueError(f"modify_column: no column named {column!r}")
            fields = tuple((n, col_type if n == column else t) for n, t in cur.fields)
        elif ddl_type == "truncate_table":
            # schema unchanged; the table incarnation changes — DMLs with
            # commit_ts <= truncate are stale from here on
            fields = cur.fields
            self.truncate_ts = max(self.truncate_ts, commit_ts)
        else:
            raise ValueError(f"unsupported ddl_type: {ddl_type}")
        self._snapshots.append(SchemaSnapshot(commit_ts, fields, ids))
        return True

    def replay(self, ddl_rows) -> int:
        """Replay a list of DDL event rows (from gen_ddl_log / a ddl_log
        table); returns number applied."""
        n = 0
        for r in sorted(ddl_rows, key=lambda r: r["commit_ts"]):
            n += self.apply_ddl(
                int(r["commit_ts"]), r["ddl_type"], r["column"], r["old_column"],
                r["col_type"] or "string",
            )
        return n

    def snapshot_at(self, ts: int) -> SchemaSnapshot:
        """Newest snapshot with version_ts <= ts (binary-search lookup,
        schema_storage.go:126-153). Decode of a DML at commit_ts c uses
        ``snapshot_at(c - 1)``."""
        lo, hi = 0, len(self._snapshots) - 1
        ans = self._snapshots[0]
        while lo <= hi:
            mid = (lo + hi) // 2
            if self._snapshots[mid].version_ts <= ts:
                ans = self._snapshots[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        return ans

    def versions(self) -> list[int]:
        return [s.version_ts for s in self._snapshots]

    def chain_digest(self, ts: int) -> str:
        """Digest of the snapshot chain up to ``ts`` (inclusive). Two
        registries with equal digests decode identically for every event at
        or below ts — the multi-table homogeneous-window check compares ONE
        string per table per window instead of serializing every snapshot's
        full field list (O(log chain) lookup off a cumulative-hash list
        built once and invalidated by apply_ddl)."""
        import bisect
        import hashlib

        cache = getattr(self, "_digest_cache", None)
        if cache is None or cache[0] != len(self._snapshots):
            cum, acc = [], b""
            for s in self._snapshots:
                acc = hashlib.md5(
                    acc + repr((s.version_ts, s.fields, s.col_ids)).encode()
                ).digest()
                cum.append((s.version_ts, acc.hex()))
            cache = (len(self._snapshots), cum)
            self._digest_cache = cache
        cum = cache[1]
        i = bisect.bisect_right([v for v, _ in cum], ts)
        return cum[i - 1][1] if i else ""

    def writer_field_map(self, current: SchemaSnapshot) -> dict:
        """{writer_version_ts: {current_field_name: writer_field_name}}
        for every snapshot <= current — what the mount UDF needs to pull
        each current column out of a payload written under any older
        schema version. Matching is by COLUMN ID, so renames chain
        correctly and a re-added name never reads a dropped column's data.
        Missing entries mean the column did not exist for that writer →
        default/NULL backfill (getDefaultOrZeroValue analog,
        cdc/entry/mounter.go:909-965)."""
        cur_by_id = current.id_of()
        out = {}
        for snap in self._snapshots:
            if snap.version_ts > current.version_ts:
                break
            m = {}
            for (wname, _), wid in zip(snap.fields, snap.col_ids):
                cur_name = cur_by_id.get(wid)
                if cur_name is not None:
                    m[cur_name] = wname
            out[snap.version_ts] = m
        return out

    def writer_type_map(self, current: SchemaSnapshot) -> dict:
        """{writer_version_ts: {current_field_name: writer_type_str}} —
        companion to :meth:`writer_field_map`; lets the decode UDF cast a
        value written under a pre-``modify_column`` type to the current
        one (ModifyColumn, cdc/entry/schema/snapshot.go:412-551)."""
        cur_by_id = current.id_of()
        out = {}
        for snap in self._snapshots:
            if snap.version_ts > current.version_ts:
                break
            m = {}
            for (wname, wtype), wid in zip(snap.fields, snap.col_ids):
                cur_name = cur_by_id.get(wid)
                if cur_name is not None:
                    m[cur_name] = wtype
            out[snap.version_ts] = m
        return out
