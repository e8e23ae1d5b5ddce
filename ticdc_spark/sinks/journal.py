"""Feed-level window journal: O(1) driver metadata work per window.

The multi-table single-pass driver (streaming/multi.py) executes a
homogeneous window as ONE Spark write job for all N tables — but a naive
commit tail then performs N manifest rewrites + N renames + N sidecar
appends of serial driver work per window. At the reference's 100k-table
posture (docs/design/2022-03-16-ticdc-db-sorter.md:177-181) that loop, not
the Spark job, becomes the window bottleneck.

This journal replaces the per-window loop with ONE append to a feed-level
jsonl; per-table manifests are folded lazily in GROUP commits
(`LakeTable.append_delta_files_group`) at amortization points — a DDL
barrier, a compaction, end of run — so per-table metadata I/O is
O(folds), not O(windows). The reference's analog is the redo/meta manager
batching flushed log metadata per tick instead of per event
(/root/reference/cdc/redo/meta_manager.go:241-339).

Crash contract (append-only journal + idempotent fold):

- stage write -> journal append (fsync) -> [crash?] -> fold on next run.
- fold moves each table's staged partition dir into the table's own
  ``data_dir`` under a DETERMINISTIC name (``jw<seq>``): a re-fold after a
  crash mid-move finds either the source (move again) or the destination
  (already moved) — never both live.
- the per-table group commit skips already-recognized batch ids, so
  re-folding after a crash between two tables' commits is a no-op for the
  committed one.
- ``fold_hwm`` (atomic rename install) marks the folded prefix; staged
  dirs at or below it are garbage and removed by :meth:`cleanup`.
"""

from __future__ import annotations

import json
import os
import uuid


class FeedJournal:
    def __init__(self, root: str):
        self.root = root
        self.journal_path = os.path.join(root, "journal.jsonl")
        self.hwm_path = os.path.join(root, "fold_hwm")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.data_dir, exist_ok=True)
        # seed past EVERY trace of a previous run: journal lines, the fold
        # hwm, AND orphan w_* staging dirs. A crash between new_staging()'s
        # parquet write and append_window() leaves a dir no journal line
        # names; seeding from journal/hwm alone would re-issue its seq and
        # the staged write would fail 'path already exists' forever.
        self._seq = max(
            max((e["seq"] for e in self._entries()), default=0),
            self.fold_hwm(),
            max(self._dir_seqs(), default=0),
        )

    def _dir_seqs(self):
        for d in os.listdir(self.data_dir):
            if d.startswith("w_"):
                try:
                    yield int(d.split("_", 1)[1])
                except ValueError:
                    continue

    # ---------------- plumbing ----------------

    def _entries(self) -> list[dict]:
        if not os.path.exists(self.journal_path):
            return []
        out = []
        with open(self.journal_path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def fold_hwm(self) -> int:
        try:
            with open(self.hwm_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return 0

    def pending(self) -> list[dict]:
        hwm = self.fold_hwm()
        return [e for e in self._entries() if e["seq"] > hwm]

    # ---------------- the per-window O(1) path ----------------

    def new_staging(self) -> tuple[int, str]:
        """Reserve the next window's staging path (NOT created — Spark's
        parquet writer needs a nonexistent target). Lives under the feed
        root, a sibling of the table dirs, so the fold's per-table renames
        stay same-filesystem (no silent copy fallback)."""
        self._seq += 1
        return self._seq, os.path.join(self.data_dir, f"w_{self._seq:08d}")

    def span_staging(self) -> str:
        """Scratch path for a multi-window write whose window dirs are then
        :meth:`adopt`-ed one by one (no seq is reserved for it; what a crash
        leaves behind, :meth:`cleanup` reaps)."""
        return os.path.join(self.data_dir, f"span_{uuid.uuid4().hex}")

    def adopt(self, src: str) -> int:
        """Reserve the next window's staging slot and move an already-written
        dir ``src`` into it (a span writes all its windows in one job, then
        hands each window's dir to the journal). A missing ``src`` — no rows
        staged for the window — leaves the slot empty. Returns the seq."""
        seq, path = self.new_staging()
        if os.path.isdir(src):
            os.rename(src, path)
        return seq

    def append_window(self, seq: int, lo: int, hi: int, bucketed: bool,
                      tables: dict, table_col: str,
                      shared: bool = False, epoch: int | None = None) -> None:
        """ONE journal line commits the window for every applying table.
        ``tables``: {feed_key: {"src": wal partition value, "path": table
        root, "bid": batch id, "lineage": [...]}}. ``shared`` marks a
        fleet-mode window whose fileset stays under the journal and is
        referenced by every table's manifest (reclaimed by the feed's
        shared-GC once compaction drops the last reference). ``epoch``
        marks an ARRIVAL-ORDERED streaming window: replay recognition at
        fold uses the per-changefeed monotone epoch rule instead of the
        resolved-ts window rule (``hi`` is then informational only)."""
        entry = {
            "seq": seq, "lo": lo, "hi": hi, "bucketed": bucketed,
            "dir": f"data/w_{seq:08d}", "table_col": table_col,
            "tables": tables,
        }
        if shared:
            entry["shared"] = True
        if epoch is not None:
            entry["epoch"] = int(epoch)
        with open(self.journal_path, "a") as f:
            f.write(json.dumps(entry) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # ---------------- fold bookkeeping ----------------

    def mark_folded(self, seq: int) -> None:
        tmp = self.hwm_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(seq))
        os.rename(tmp, self.hwm_path)
        self._compact()

    def _compact(self) -> None:
        """Drop the folded prefix from journal.jsonl so driver work at
        amortization points stays O(live entries), not O(total windows over
        the feed's lifetime). Retained: pending entries (seq > hwm) and
        folded SHARED entries whose window dir still exists (the feed's
        shared-GC needs them to decide liveness; once it reclaims the dir,
        the next compaction drops the line). Atomic: write tmp + fsync +
        rename — a crash mid-compact leaves the old journal intact."""
        hwm = self.fold_hwm()
        keep = [
            e for e in self._entries()
            if e["seq"] > hwm
            or (e.get("shared")
                and os.path.isdir(os.path.join(self.root, e["dir"])))
        ]
        tmp = self.journal_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            for e in keep:
                f.write(json.dumps(e) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.journal_path)

    def cleanup(self) -> int:
        """Remove folded/orphaned staging dirs: seq <= fold_hwm (folded —
        any leftover partition dirs belong to windows whose commits are
        durable) and seq > newest journal line (a crash between staging
        write and journal append: never committed anywhere, dead weight),
        plus any span scratch dir a crash left before its windows were
        adopted."""
        import shutil

        hwm = self.fold_hwm()
        entries = self._entries()
        newest = max((e["seq"] for e in entries), default=hwm)
        # shared windows' files are LIVE after folding (manifests reference
        # them in place) — only the feed's shared-GC may reclaim those
        shared_seqs = {e["seq"] for e in entries if e.get("shared")}
        removed = 0
        for d in os.listdir(self.data_dir):
            if d.startswith("span_"):
                shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
                continue
            if not d.startswith("w_"):
                continue
            try:
                seq = int(d.split("_", 1)[1])
            except ValueError:
                continue
            if seq in shared_seqs:
                continue
            if seq <= hwm or seq > newest:
                shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
                removed += 1
        return removed
