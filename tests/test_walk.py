"""The window walker against the plain driver loop it replaced.

``span.walk`` schedules the windows of both ``Changefeed.run`` and
``MultiTableChangefeed.run``. ``reference_walk`` below is the single-table
loop as it was written inline in ``Changefeed.run``, with its sinks turned
into the same ``apply``/``barrier``/``tick`` hooks. On random window plans,
DDL commit-ts (on window bounds, between them, repeated), span caps and
merge budgets both must make the same calls in the same order and return
the same checkpoint. The one allowed difference: the reference applies the
empty ``(ts, ts]`` window between two DDLs at one commit-ts (the sink then
recognizes it as a replay), the walker skips it. No Spark here — the walker
launches no job of its own.
"""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from ticdc_spark.streaming.span import span_end, walk


class Sink:
    """Records every hook call. ``apply`` commits each window of a span
    except an empty one and those whose upper bound is in ``replayed``
    (recognized replays commit nothing) and returns the merges made."""

    def __init__(self, replayed=()):
        self.replayed = set(replayed)
        self.calls = []

    def apply(self, lo, ws):
        self.calls.append(("apply", lo, tuple(ws)))
        prev, n = lo, 0
        for u in ws:
            n += prev < u and u not in self.replayed
            prev = u
        return n

    def barrier(self, d):
        self.calls.append(("barrier", d["commit_ts"], d["id"]))

    def tick(self):
        self.calls.append(("tick",))


def reference_walk(uppers, ckpt, ddl_rows, span_ok, max_windows, max_merges, sink):
    """``Changefeed.run``'s window loop before the walker; ``span_ok``
    stands for its span gate (MOR or an empty target, no force-replicate)."""
    merges = 0
    i = 0
    while i < len(uppers):
        r = uppers[i]
        bounds = [d for d in ddl_rows if ckpt < int(d["commit_ts"]) <= r]
        if not bounds and span_ok and max_windows > 1:
            cap = max_windows
            if max_merges:
                cap = min(cap, max_merges - merges)
            j = span_end(uppers, i, cap, ddl_rows)
            if j > i:
                merges += sink.apply(ckpt, uppers[i:j + 1])
                ckpt = uppers[j]
                i = j + 1
                sink.tick()
                if max_merges and merges >= max_merges:
                    break
                continue
        lo = ckpt
        for d in bounds:
            hi = int(d["commit_ts"])
            merges += sink.apply(lo, [hi])
            sink.barrier(d)
            lo = hi
            if max_merges and merges >= max_merges:
                return lo
        if lo < r:
            merges += sink.apply(lo, [r])
        ckpt = r
        sink.tick()
        if max_merges and merges >= max_merges:
            break
        i += 1
    return ckpt


def walker(uppers, ckpt, ddl_rows, span_ok, max_windows, max_merges, sink):
    """The same loop through ``span.walk``, as ``Changefeed.run`` calls it."""
    merges = 0

    def cap():
        if not span_ok or max_windows <= 1:
            return 1
        return min(max_windows, max_merges - merges) if max_merges else max_windows

    def apply(lo, ws):
        nonlocal merges
        merges += sink.apply(lo, ws)
        return bool(max_merges) and merges >= max_merges

    return walk(uppers, ckpt, ddl_rows, cap, apply, sink.barrier, sink.tick)


@st.composite
def plans(draw):
    ckpt = draw(st.integers(0, 20))
    uppers = sorted(draw(st.sets(st.integers(ckpt + 1, ckpt + 60), max_size=8)))
    at_bound = st.sampled_from(uppers) if uppers else st.nothing()
    ddl_ts = draw(st.lists(
        st.one_of(st.integers(ckpt - 3, ckpt + 65), at_bound), max_size=6))
    # several DDLs at one commit-ts: repeat some
    ddl_ts += draw(st.lists(st.sampled_from(ddl_ts), max_size=3)) if ddl_ts else []
    ddl_rows = sorted(({"commit_ts": ts, "id": k} for k, ts in enumerate(ddl_ts)),
                      key=lambda d: d["commit_ts"])
    replayed = draw(st.sets(st.sampled_from(uppers + ddl_ts), max_size=3)
                    if uppers + ddl_ts else st.just(set()))
    return (uppers, ckpt, ddl_rows, draw(st.booleans()), draw(st.integers(0, 5)),
            draw(st.one_of(st.none(), st.integers(1, 6))), replayed)


def _empty_ts_windows(calls):
    return [c for c in calls if c[0] == "apply" and c[2] == (c[1],)]


@settings(max_examples=400, deadline=None, suppress_health_check=list(HealthCheck))
@given(plans())
@example(([10, 20, 30], 0, [{"commit_ts": 20, "id": 0}, {"commit_ts": 20, "id": 1}],
          True, 4, None, set()))
@example(([10, 20, 30, 40], 0, [{"commit_ts": 15, "id": 0}], True, 4, 1, set()))
def test_walk_matches_reference_loop(plan):
    uppers, ckpt, ddl_rows, span_ok, max_windows, max_merges, replayed = plan
    ref, new = Sink(replayed), Sink(replayed)
    want = reference_walk(uppers, ckpt, ddl_rows, span_ok, max_windows, max_merges, ref)
    got = walker(uppers, ckpt, ddl_rows, span_ok, max_windows, max_merges, new)
    assert got == want
    skipped = _empty_ts_windows(ref.calls)
    assert [c for c in ref.calls if c not in skipped] == new.calls
    assert _empty_ts_windows(new.calls) == []


def test_walk_skips_empty_window_between_ddls_at_one_ts():
    ddls = [{"commit_ts": 20, "id": 0}, {"commit_ts": 20, "id": 1}]
    s = Sink()
    assert walker([10, 20, 30], 0, ddls, True, 4, None, s) == 30
    assert s.calls == [
        ("apply", 0, (10,)), ("tick",),
        ("apply", 10, (20,)), ("barrier", 20, 0), ("barrier", 20, 1), ("tick",),
        ("apply", 20, (30,)), ("tick",),
    ]


def test_walk_stops_after_barrier_when_budget_spent():
    """A spent budget stops the walk right after the barrier of the
    sub-window that spent it — before the rest of the window and its tick."""
    s = Sink()
    assert walker([10, 20], 0, [{"commit_ts": 5, "id": 0}], True, 4, 1, s) == 5
    assert s.calls == [("apply", 0, (5,)), ("barrier", 5, 0)]


def test_walk_spans_ddl_free_runs():
    s = Sink()
    assert walker([10, 20, 30, 40, 50], 0, [{"commit_ts": 30, "id": 0}],
                  True, 4, None, s) == 50
    assert s.calls == [
        ("apply", 0, (10, 20)), ("tick",),
        ("apply", 20, (30,)), ("barrier", 30, 0), ("tick",),
        ("apply", 30, (40, 50)), ("tick",),
    ]
