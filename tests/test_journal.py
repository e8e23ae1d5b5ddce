"""FeedJournal crash-contract unit tests (no Spark needed): orphan-staging
seq seeding, run-start orphan reaping, and folded-prefix compaction.

Reference anchor for the contract: the redo meta manager's
flush-then-recognize batching (/root/reference/cdc/redo/meta_manager.go:241-339).
"""

import json
import os

from ticdc_spark.sinks.journal import FeedJournal


def _stage(j: FeedJournal) -> tuple[int, str]:
    seq, path = j.new_staging()
    os.makedirs(path)  # simulate Spark's parquet write creating the dir
    with open(os.path.join(path, "part-0.parquet"), "w") as f:
        f.write("x")
    return seq, path


def test_orphan_staging_does_not_wedge_feed(tmp_path):
    """Crash between new_staging()+write and append_window(), with NO
    pending journal entries: a restarted journal must not re-issue the
    orphan's seq (the staged write would fail 'path already exists'
    forever), and cleanup() must reap the orphan."""
    root = str(tmp_path / "feed")
    j1 = FeedJournal(root)
    seq1, path1 = _stage(j1)  # the crash: no append_window follows

    j2 = FeedJournal(root)  # restart
    seq2, path2 = j2.new_staging()
    assert seq2 > seq1 and path2 != path1
    # the orphan is above the newest journal line -> reaped
    assert j2.cleanup() >= 1
    assert not os.path.isdir(path1)


def test_orphan_above_pending_entries(tmp_path):
    """Same wedge with pending entries present: seq must seed past BOTH
    the journal lines and the orphan dir."""
    root = str(tmp_path / "feed")
    j1 = FeedJournal(root)
    seq_a, _ = _stage(j1)
    j1.append_window(seq_a, 0, 10, False, {"t": {"src": "t", "path": "p", "bid": "b1"}}, "table_name")
    seq_b, path_b = _stage(j1)  # crash before append

    j2 = FeedJournal(root)
    seq_c, _ = j2.new_staging()
    assert seq_c > seq_b
    j2.cleanup()
    assert not os.path.isdir(path_b)  # orphan reaped, pending kept
    assert [e["seq"] for e in j2.pending()] == [seq_a]


def test_mark_folded_compacts_journal(tmp_path):
    """journal.jsonl must not grow O(total windows over the feed's
    lifetime): mark_folded drops the folded prefix, keeping pending lines
    and folded SHARED lines only while their window dir is live."""
    root = str(tmp_path / "feed")
    j = FeedJournal(root)
    for i in range(5):
        seq, _ = _stage(j)
        j.append_window(seq, i * 10, (i + 1) * 10, False,
                        {"t": {"src": "t", "path": "p", "bid": f"b{seq}"}},
                        "table_name")
    seq_s, path_s = _stage(j)
    j.append_window(seq_s, 50, 60, True,
                    {"t": {"src": "t", "path": "p", "bid": f"b{seq_s}"}},
                    "table_name", shared=True)
    assert len(j._entries()) == 6
    j.mark_folded(seq_s)
    # folded non-shared lines dropped; the shared line survives (its dir
    # is live and the feed's shared-GC still needs it)
    kept = j._entries()
    assert [e["seq"] for e in kept] == [seq_s] and kept[0].get("shared")
    assert j.pending() == []
    # shared-GC reclaims the dir -> next fold point drops the line too
    import shutil
    shutil.rmtree(path_s)
    j.mark_folded(seq_s)
    assert j._entries() == []
    # journal file itself stayed valid jsonl throughout
    with open(j.journal_path) as f:
        assert [json.loads(x) for x in f if x.strip()] == []


def test_compaction_preserves_restart_seq(tmp_path):
    """After compaction drops every line, a restarted journal must still
    seed seq from the fold hwm (no seq reuse across compactions)."""
    root = str(tmp_path / "feed")
    j = FeedJournal(root)
    seq, _ = _stage(j)
    j.append_window(seq, 0, 10, False,
                    {"t": {"src": "t", "path": "p", "bid": "b"}}, "table_name")
    j.mark_folded(seq)
    j.cleanup()
    assert j._entries() == []
    j2 = FeedJournal(root)
    seq2, _ = j2.new_staging()
    assert seq2 > seq


def test_cleanup_reaps_unadopted_span_scratch(tmp_path):
    """Crash between a span's one write and the adopt() of its windows:
    cleanup() reaps the span scratch dir, and the window dirs adopted
    before the crash (journal lines pending) stay."""
    root = str(tmp_path / "feed")
    j1 = FeedJournal(root)
    span = j1.span_staging()
    for i in range(2):
        os.makedirs(os.path.join(span, f"_win={i}"))
    seq_a = j1.adopt(os.path.join(span, "_win=0"))
    j1.append_window(seq_a, 0, 10, False, {"t": {"src": "t", "path": "p", "bid": "b1"}}, "table_name")
    adopted = os.path.join(j1.data_dir, f"w_{seq_a:08d}")
    assert os.path.isdir(adopted)
    # the crash: _win=1 is never adopted

    j2 = FeedJournal(root)
    j2.cleanup()
    assert not os.path.isdir(span)
    assert os.path.isdir(adopted)
    assert [e["seq"] for e in j2.pending()] == [seq_a]
