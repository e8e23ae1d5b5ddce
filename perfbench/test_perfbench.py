"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench -q
"""

from perfbench.spans import GROUP_PREFIX, attribute, layer_totals
from perfbench.stats import self_times, tail, union_length


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    t = tail(xs)
    assert t["supported"] and t["samples"] == 100
    assert t["percentile"] == 90.0
    assert t["value"] == 90  # 91..100 are the ten beyond it
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_percentile_follows_sample_count():
    t = tail([float(x) for x in range(40)])
    assert t["percentile"] == 75.0 and t["value"] == 29.0
    t = tail(list(range(11)))
    assert t["supported"] and t["value"] == 0 and t["percentile"] == round(100 / 11, 2)


def test_tail_unsupported_falls_back_to_max():
    t = tail([3.0, 1.0, 2.0])
    assert not t["supported"] and t["value"] == 3.0 and t["samples"] == 3


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two overlapping children cover [1, 5]; a grandchild does not count
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},
        {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
        # a child running past its parent's end is clipped
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 4.0 - 1.0
    assert st[2] == 3.0 - 0.5
    assert st[3] == 2.0 and st[4] == 0.5


def _job(jid, group, sub, done, tasks=1):
    return {"job_id": jid, "group": group, "description": None, "submitted": sub,
            "completed": done,
            "stages": [{"stage_id": jid, "tasks": tasks, "executor_s": 1.0, "cpu_s": 0.5,
                        "input_records": 10, "output_bytes": 0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "peak_exec_mem_bytes": 7}]}


def test_every_job_in_the_region_needs_a_span_label():
    spans = [{"id": 1, "name": "streaming.run", "parent": None, "start": 0.0, "end": 10.0}]
    jobs = [
        _job(0, f"{GROUP_PREFIX}1", 1.0, 2.0),
        _job(1, None, 3.0, 4.0),  # unlabeled, inside the region
        _job(2, None, 20.0, 21.0),  # outside the region: ignored
        _job(3, "someone-else", 5.0, 6.0),  # a foreign group is not a label
    ]
    att = attribute(spans, jobs, 0.0, 10.0)
    assert [j["job_id"] for j in att["unlabeled"]] == [1, 3]
    assert [j["job_id"] for j in att["own_jobs"][1]] == [0]


def test_layer_totals_roll_up_subtree_and_driver_time():
    spans = [
        {"id": 1, "name": "streaming.run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "sinks.lake.compact", "parent": 1, "start": 6.0, "end": 9.0},
    ]
    jobs = [_job(0, f"{GROUP_PREFIX}1", 1.0, 3.0, tasks=4),
            _job(1, f"{GROUP_PREFIX}2", 7.0, 8.0, tasks=2)]
    att = attribute(spans, jobs, 0.0, 10.0)
    run = layer_totals(spans, att, "streaming.run")
    assert run["calls"] == 1 and run["jobs"] == 2 and run["tasks"] == 6
    assert run["driver_s"] == 10.0 - 3.0
    assert run["self_s"] == 7.0
    scan = layer_totals(spans, att, "streaming.run", exclude=("sinks.lake.compact",))
    assert scan["jobs"] == 1 and scan["input_records"] == 10

