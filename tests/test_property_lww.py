"""Hypothesis property tests for the order law and batching invariance.

Mirrors the reference's randomized sorter tests
(cdc/puller/memorysorter/entry_sorter_test.go:28 TestEntrySorterRandomly,
:184 TestEventLess): for ANY event multiset and ANY batching into
resolved windows, the engine's final state equals the one-shot batch LWW.
"""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from ticdc_spark.operators.sortdedup import OP_RANK, lww_dedup, with_op_rank

COLS = "commit_ts long, start_ts long, op string, conv_id string, turn_idx int, payload string"


def _events_strategy():
    event = st.tuples(
        st.integers(min_value=1, max_value=30),     # commit_ts
        st.integers(min_value=0, max_value=5),      # start offset
        st.sampled_from(["I", "U", "D"]),
        st.sampled_from(["a", "b", "c"]),           # conv_id
        st.integers(min_value=0, max_value=1),      # turn_idx
    )
    return st.lists(event, min_size=1, max_size=40)


def _dedupe_order_ties(raw):
    """One txn never writes the same row twice at one (commit, start, op)."""
    seen, out = set(), []
    for i, (c, so, op, conv, turn) in enumerate(raw):
        k = (conv, turn, c, c - 1 - so, op)
        if k in seen:
            continue
        seen.add(k)
        out.append((c, c - 1 - so, op, conv, turn, f"p{i}"))
    return out


def _py_lww(rows):
    best = {}
    for c, s, op, conv, turn, payload in rows:
        k = (conv, turn)
        o = (c, s, OP_RANK[op])
        if k not in best or o > best[k][0]:
            best[k] = (o, (c, s, op, payload))
    return {k: v[1] for k, v in best.items()}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events_strategy())
def test_lww_matches_model(spark, raw):
    rows = _dedupe_order_ties(raw)
    df = with_op_rank(spark.createDataFrame(rows, COLS))
    got = {
        (r["conv_id"], r["turn_idx"]): (r["commit_ts"], r["start_ts"], r["op"], r["payload"])
        for r in lww_dedup(df, ["conv_id", "turn_idx"]).collect()
    }
    assert got == _py_lww(rows)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events_strategy(), st.integers(min_value=1, max_value=4))
def test_windowed_lww_equals_global(spark, raw, n_windows):
    """Resolved-window batching invariance: LWW per commit-ts window, then
    LWW across window winners == one-shot LWW over everything. This is the
    algebraic property the micro-batch MERGE relies on."""
    rows = _dedupe_order_ties(raw)
    if not rows:
        return
    lo, hi = 0, max(r[0] for r in rows)
    step = max(1, (hi - lo) // n_windows + 1)
    winners = []
    for w0 in range(lo, hi + 1, step):
        batch = [r for r in rows if w0 < r[0] <= w0 + step]
        if batch:
            winners.extend(_py_lww(batch).items())
    refold = {}
    for k, (c, s, op, payload) in winners:
        o = (c, s, OP_RANK[op])
        if k not in refold or o > refold[k][0]:
            refold[k] = (o, (c, s, op, payload))
    assert {k: v[1] for k, v in refold.items()} == _py_lww(rows)


KC_COLS = ("commit_ts long, start_ts long, op string, conv_id string, turn_idx int, "
           "payload string, pre_conv_id string, pre_turn_idx int")


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),            # commit_ts
            st.sampled_from(["I", "U", "D"]),
            st.sampled_from(["a", "b", "c"]),                  # conv_id
            st.integers(min_value=0, max_value=1),             # turn_idx
            st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),  # pre conv (None = no change)
            st.integers(min_value=0, max_value=1),             # pre turn
        ),
        min_size=1, max_size=30,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_key_change_split_laws(spark, raw):
    """For ANY update stream with arbitrary key mutations
    (sink.go:1166-1238): (1) the split is count-exact — every key-changing
    U becomes exactly D+I, everything else passes through; (2) the split
    emits no 'U' with a stale pre-key; (3) after LWW, a key whose LAST
    touch was a move-away is dead, and the moved-to key is live."""
    from ticdc_spark.operators.sortdedup import split_key_changing_updates

    seen, rows = set(), []
    for i, (c, op, conv, turn, pc, pt) in enumerate(raw):
        if c in seen:
            continue  # unique commit_ts (the generator contract)
        seen.add(c)
        is_u = op == "U"
        pre_c = pc if (is_u and pc is not None) else None
        pre_t = pt if (is_u and pc is not None) else None
        rows.append((c, c - 1, op, conv, turn, f"p{i}", pre_c, pre_t))
    df = spark.createDataFrame(rows, KC_COLS)
    out = split_key_changing_updates(df)
    got = [tuple(r) for r in out.collect()]

    n_changed = sum(
        1 for r in rows
        if r[2] == "U" and r[6] is not None and (r[6], r[7]) != (r[3], r[4])
    )
    assert len(got) == len(rows) + n_changed
    # the oracle expansion in plain python
    expanded = []
    for c, s, op, conv, turn, p, pc, pt in rows:
        if op == "U" and pc is not None and (pc, pt) != (conv, turn):
            expanded.append((c, s, "D", pc, pt, None))
            expanded.append((c, s, "I", conv, turn, p))
        else:
            expanded.append((c, s, op, conv, turn, p))
    assert sorted(got, key=str) == sorted(expanded, key=str)
    # LWW law on the expanded stream: the last writer decides liveness
    final = lww_dedup(with_op_rank(out), ["conv_id", "turn_idx"])
    live = {(r["conv_id"], r["turn_idx"]) for r in final.collect() if r["op"] != "D"}
    last = {}
    for c, s, op, conv, turn, p in expanded:
        key = (conv, turn)
        prev = last.get(key)
        if prev is None or (c, s, OP_RANK[op]) > prev[0]:
            last[key] = ((c, s, OP_RANK[op]), op)
    assert live == {k for k, (_, op) in last.items() if op != "D"}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    _events_strategy(),
    st.randoms(use_true_random=False),
    st.integers(min_value=1, max_value=4),
)
def test_merge_lww_batch_boundary_independence(spark, tmp_path_factory, raw, rnd, n_batches):
    """The arrival-ordered sink law (mysql.go:516,533-537 generalized): for
    ANY event multiset, ANY arrival order, and ANY chop into batches,
    merge_lww produces the same final visible state as the one-shot LWW
    model — deletes tombstone, late older events never resurrect."""
    from ticdc_spark.sinks.lake import LakeTable

    rows = _dedupe_order_ties(raw)
    if not rows:
        return
    rnd.shuffle(rows)  # arrival order unrelated to commit order
    cuts = sorted(rnd.sample(range(1, len(rows)), min(n_batches - 1, len(rows) - 1))) \
        if len(rows) > 1 and n_batches > 1 else []
    batches = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]

    t = LakeTable(spark, str(tmp_path_factory.mktemp("lww_prop") / "t"))
    t.create(key=["conv_id", "turn_idx"],
             fields=[("conv_id", "string"), ("turn_idx", "int"), ("payload", "string")],
             n_buckets=2, with_order_cols=True)
    for e, batch in enumerate(batches):
        src = spark.createDataFrame(
            [(conv, turn, p, op, c, s, OP_RANK[op], int(op == "D"))
             for c, s, op, conv, turn, p in batch],
            "conv_id string, turn_idx int, payload string, op string, "
            "_commit_ts long, _start_ts long, _op_rank int, _deleted int",
        )
        t.merge(src, f"e{e}", epoch=e)
    got = {(r["conv_id"], r["turn_idx"]): r["payload"] for r in t.read().collect()}
    want = {k: v[3] for k, v in _py_lww(rows).items() if v[2] != "D"}
    assert got == want


PLAIN_FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("payload", "string")]


def _plain_batches_strategy():
    """1-4 deduped batches: at most one I/U/D row per key per batch, keys
    over six conv ids so a batch spans buckets."""
    key = st.tuples(st.sampled_from("abcdef"), st.integers(min_value=0, max_value=1))
    return st.lists(st.dictionaries(key, st.sampled_from(["I", "U", "D"]), min_size=1, max_size=8),
                    min_size=1, max_size=4)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_plain_batches_strategy())
@example([
    {("a", 0): "I", ("b", 0): "I", ("c", 1): "D"},     # c/1: delete of a missing key
    {("a", 0): "D", ("d", 0): "U", ("e", 1): "I"},     # d/0: update of a missing key
    {("a", 0): "I", ("f", 0): "D", ("b", 0): "U"},     # a/0: re-insert after a delete
])
def test_merge_plain_matches_merge_into_model(spark, tmp_path_factory, batches):
    """Differential check of the plain (no order columns) branch of
    ``LakeTable.merge`` against a plain-Python MERGE INTO: batches applied
    in order, 'D' deletes the key (a no-op when it is missing), anything
    else upserts it."""
    from ticdc_spark.sinks.lake import LakeTable

    t = LakeTable(spark, str(tmp_path_factory.mktemp("merge_plain") / "t"))
    t.create(key=["conv_id", "turn_idx"], fields=PLAIN_FIELDS, n_buckets=4)
    want: dict = {}
    for i, batch in enumerate(batches):
        rows = [(conv, turn, op, f"b{i}-{op}") for (conv, turn), op in batch.items()]
        t.merge(spark.createDataFrame(rows, "conv_id string, turn_idx int, op string, payload string"),
                f"b{i}", resolved_ts=i + 1)
        for conv, turn, op, payload in rows:
            if op == "D":
                want.pop((conv, turn), None)
            else:
                want[(conv, turn)] = payload
    got = {(r["conv_id"], r["turn_idx"]): r["payload"] for r in t.read().collect()}
    assert got == want


def test_merge_order_table_refuses_src_without_order_columns(spark, tmp_path):
    from ticdc_spark.sinks.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(key=["conv_id", "turn_idx"], fields=PLAIN_FIELDS, n_buckets=2,
             with_order_cols=True)
    src = spark.createDataFrame(
        [("a", 0, "p", "I", 5, 4, 0)],
        "conv_id string, turn_idx int, payload string, op string, "
        "_commit_ts long, _start_ts long, _deleted int",
    )
    with pytest.raises(ValueError, match="_op_rank"):
        t.merge(src, "b1", resolved_ts=5)
    assert t.read().count() == 0
