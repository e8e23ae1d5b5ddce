"""Round-6 profiling harness. bench.py is FROZEN for measurement; every
extra measurement (noop-sink isolation per guide §1.4, min-of-N repeats,
per-query loadavg brackets, engine-replay phase breakdown, plan capture)
lives here and is cited from OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py queries  [sf_dir] [repeats] [q1 q2 ...]
  python bench_extra.py replay   [n_events] [mor|cow]
  python bench_extra.py explain  <out_dir> [sf_dir] [q1 q2 ...]
  python bench_extra.py cpu      [n_events] [mor|cow]
  python bench_extra.py windows  [n] [span]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ticdc_spark.session import get_spark


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    return get_spark("ticdc-bench-extra", cores=cpus, shuffle_partitions=cpus)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_queries(argv):
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    repeats = int(argv[1]) if len(argv) > 1 else 3
    names = argv[2:]
    spark = _spark()
    from ticdc_spark.queries import QUERIES

    if not names:
        from bench import BENCH_QUERIES

        names = BENCH_QUERIES
    out = {}
    for name in names:
        fn = QUERIES[name]
        samples = []
        la0 = os.getloadavg()[0]
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.count()  # same action as the frozen bench
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples,
                     "loadavg": [round(la0, 2), round(os.getloadavg()[0], 2)]}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "results": out}))


def _replay_spec(n_events: int):
    """The engine-replay binlog shape of bench.py at ``n_events``."""
    from ticdc_spark.sources.binlog_gen import BinlogSpec

    return BinlogSpec(n_events=n_events, n_convs=max(n_events // 50, 100),
                      n_turns=16, block=max(n_events // 10, 20_000),
                      n_partitions=8)


def _replay_feed(spark, binlog, spec, work: str, sink_mode: str):
    """The replay's Changefeed over ``binlog`` into an empty table under
    ``work`` (bootstrap span first, as in bench.py)."""
    from ticdc_spark.sinks.lake import LakeTable
    from ticdc_spark.sources.binlog_gen import gen_resolved_log
    from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

    return Changefeed(
        spark, binlog, gen_resolved_log(spark, spec), None,
        LakeTable(spark, os.path.join(work, "t")),
        ChangefeedConfig(changefeed_id=f"bx-{sink_mode}", n_buckets=32,
                         sink_mode=sink_mode, compact_every=8),
    )


def cmd_replay(argv):
    """Engine-replay phase breakdown at a given event count (bench shape:
    MOR, empty table -> bootstrap span). Times each stage with the noop
    sink so the computation is isolated from the real sink write."""
    n_events = int(argv[0]) if argv else 4_000_000
    sink_mode = argv[1] if len(argv) > 1 else "mor"
    spark = _spark()
    from ticdc_spark.sources.binlog_gen import gen_binlog

    spec = _replay_spec(n_events)
    work = tempfile.mkdtemp(prefix="ticdc_bx_")
    phases = {}
    try:
        t0 = time.time()
        wal = os.path.join(work, "wal")
        gen_binlog(spark, spec).write.parquet(wal)
        phases["gen_wal_untimed"] = round(time.time() - t0, 3)
        binlog = spark.read.parquet(wal)

        from pyspark.sql import functions as F

        from ticdc_spark.functions.mount import mount
        from ticdc_spark.operators.sortdedup import lww_dedup, with_op_rank
        from ticdc_spark.plans.schema_registry import SchemaRegistry

        reg = SchemaRegistry()

        def _phase(name, df, repeats=2):
            times = []
            for _ in range(repeats):
                spark.sparkContext.setJobDescription(f"bx:replay-{name}")
                t0 = time.time()
                _noop(df)
                times.append(round(time.time() - t0, 3))
            phases[name] = times

        prepared = with_op_rank(binlog).drop("pre_payload", "op")
        # A: scan + prepare (filters/splits/op-rank) — the zero-shuffle floor
        _phase("scan_prepare_noop", prepared)
        # B: pure payload shuffle, no aggregate — isolates exchange bytes
        _phase("shuffle_only_noop",
               prepared.repartition(int(spark.conf.get(
                   "spark.sql.shuffle.partitions")), "conv_id", "turn_idx"))
        # C: + LWW dedup (the one exchange + sort-agg of the engine)
        _phase("dedup_noop", lww_dedup(prepared, stats=True))
        # D: + mount
        _phase("dedup_mount_noop",
               mount(lww_dedup(prepared, stats=True), reg, spec.max_commit_ts))

        # phase D: the full engine run (real sink)
        spark.sparkContext.setJobDescription("bx:replay-full")
        cf = _replay_feed(spark, binlog, spec, work, sink_mode)
        t0 = time.time()
        stats = cf.run()
        phases["full_run"] = round(time.time() - t0, 3)
        phases["events"] = stats["events"]
        phases["events_per_sec"] = round(stats["events"] / phases["full_run"], 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    phases["loadavg"] = round(os.getloadavg()[0], 2)
    print(json.dumps({"n_events": n_events, "sink_mode": sink_mode,
                      "phases": phases}))


def cmd_multi(argv):
    """Fleet replay at driver-bench shape (bench.py:104) with parametrized
    table count / events per table, reporting wall time and write jobs."""
    n_tables = int(argv[0]) if argv else 8
    events_per_table = int(argv[1]) if len(argv) > 1 else 2_500_000
    spark = _spark()
    from bench import bench_multi_table_replay

    la0 = os.getloadavg()[0]
    r = bench_multi_table_replay(spark, n_tables, events_per_table)
    r["loadavg"] = [round(la0, 2), round(os.getloadavg()[0], 2)]
    print(json.dumps(r))


def cmd_explain(argv):
    out_dir = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    names = argv[2:]
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    from ticdc_spark.queries import QUERIES

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


# driver JVM thread classes by the thread name's first 15 bytes (/proc comm)
_JVM_THREADS = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("tasks", ("Executor task l",)),
    ("py4j", ("Thread-",)),  # gateway connections: the driver's planning calls
)
_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, children: bool = False) -> int:
    """utime + stime (+ cutime + cstime) from a /proc stat file; 0 if gone."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15 if children else 13])


def _cpu_snapshot(jvm_pid: int) -> dict:
    """CPU ticks of each driver JVM thread, of the whole JVM, of the Python
    processes below it (the daemon counts its reaped workers) and of this
    process, and the module each PySpark daemon runs; read from /proc only."""
    from perfbench.host import descendants

    threads = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        threads[tid] = (comm, _ticks(f"/proc/{jvm_pid}/task/{tid}/stat"))
    kids = descendants(jvm_pid)
    daemons = set()
    for p in kids:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv = f.read().decode().split("\0")
        except OSError:
            continue
        if "-m" in argv[:-1]:  # a daemon: python -m <module>; workers are its forks
            daemons.add(argv[argv.index("-m") + 1])
    t = os.times()
    return {"threads": threads, "jvm": _ticks(f"/proc/{jvm_pid}/stat"),
            "python_workers": sum(_ticks(f"/proc/{p}/stat", children=True) for p in kids),
            "driver_python": (t.user + t.system) * _TICK, "daemons": sorted(daemons)}


def _cpu_split(a: dict, b: dict) -> dict:
    """CPU seconds between two snapshots by class; ``jvm.exited`` is the JVM
    time of threads that ended in between."""
    out = {f"jvm.{c}": 0 for c, _ in _JVM_THREADS}
    out["jvm.other"] = 0
    for tid, (comm, ticks) in b["threads"].items():
        cls = next((c for c, pre in _JVM_THREADS if comm.startswith(pre)), "other")
        out[f"jvm.{cls}"] += ticks - a["threads"].get(tid, (comm, 0))[1]
    out["jvm.exited"] = (b["jvm"] - a["jvm"]) - sum(out.values())
    for k in ("python_workers", "driver_python"):
        out[k] = b[k] - a[k]
    return {k: round(v / _TICK, 2) for k, v in out.items()}


def cmd_cpu(argv):
    """One engine replay (bench.py's shape, WAL generated untimed) and the
    CPU seconds of its run by thread class: the driver JVM's JIT compiler,
    task, GC, py4j and other threads, the Python workers and this driver
    Python, plus the module the PySpark daemons run (the effective
    ``spark.python.daemon.module``). Read from /proc before and after the
    run: no extra Spark job."""
    n_events = int(argv[0]) if argv else 400_000
    sink_mode = argv[1] if len(argv) > 1 else "mor"
    spark = _spark()
    from ticdc_spark.sources.binlog_gen import gen_binlog

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spec = _replay_spec(n_events)
    work = tempfile.mkdtemp(prefix="ticdc_bx_")
    try:
        wal = os.path.join(work, "wal")
        gen_binlog(spark, spec).write.parquet(wal)
        cf = _replay_feed(spark, spark.read.parquet(wal), spec, work, sink_mode)
        la0 = os.getloadavg()[0]
        a, t0 = _cpu_snapshot(jvm_pid), time.time()
        stats = cf.run()
        wall, b = time.time() - t0, _cpu_snapshot(jvm_pid)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    split = _cpu_split(a, b)
    total = sum(split.values())
    print(json.dumps({
        "n_events": n_events, "sink_mode": sink_mode, "events": stats["events"],
        "wall_s": round(wall, 2), "cpu_s": split, "cpu_total_s": round(total, 2),
        "jit_frac": round(split["jvm.jit"] / max(total, 1e-9), 3),
        "python_daemon_modules": b["daemons"],
        "spark.driver.extraJavaOptions":
            spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""),
        "loadavg": [round(la0, 2), round(os.getloadavg()[0], 2)],
    }))


def _quartiles(xs: list) -> dict:
    import statistics

    if len(xs) < 2:
        return {"median": round(xs[0], 3) if xs else None, "iqr": 0.0}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"median": round(q2, 3), "iqr": round(q3 - q1, 3)}


def _flat_from(jit: list) -> int:
    """First index from which JIT CPU per window has flattened: the mean of
    the next three windows is within 1.5x (+ 20 ms) of the median of the
    last half."""
    import statistics

    tail = statistics.median(jit[len(jit) // 2:])
    for i in range(len(jit)):
        head = jit[i:i + 3]
        if sum(head) / len(head) <= 1.5 * tail + 0.02:
            return i
    return len(jit) // 2


def cmd_windows(argv):
    """Steady-state cost of a MOR window in one warm JVM: a bootstrap span
    of 8 windows, then ``n`` ``run()`` calls that each find ``span`` new
    resolved windows of 4,000 events (8 source partitions, 8 buckets), so a
    call is one lone window (``span`` 1) or one span. Compaction is off, so
    every call is the same write. The first calls are dropped until JIT CPU
    per window flattens (:func:`_flat_from`); the rest report, per window,
    the Spark jobs (the frontier scan's apart) and CPU seconds by thread
    class (:func:`_cpu_split`) as median and IQR, with the effective JVM
    options and Spark conf."""
    n = int(argv[0]) if argv else 30
    span = int(argv[1]) if len(argv) > 1 else 1
    spark = _spark()
    sc = spark.sparkContext
    from pyspark.sql import functions as F

    from ticdc_spark.sinks.lake import LakeTable
    from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
    from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

    boot, ev = 8, 4_000
    spec = BinlogSpec(n_events=(boot + n * span) * ev, n_convs=2_000, n_turns=16,
                      block=ev, n_partitions=8)
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    store = sc._jsc.sc().statusStore()
    work = tempfile.mkdtemp(prefix="ticdc_bx_")
    rows = []
    try:
        wal, res = os.path.join(work, "wal"), os.path.join(work, "resolved")
        gen_binlog(spark, spec).write.parquet(wal)
        gen_resolved_log(spark, spec).write.parquet(res)
        resolved = spark.read.parquet(res)
        cf = Changefeed(spark, spark.read.parquet(wal), None, None,
                        LakeTable(spark, os.path.join(work, "t")),
                        ChangefeedConfig(changefeed_id="bx-win", n_buckets=8,
                                         compact_every=10**9, max_windows_per_job=span))

        def upto(k: int) -> None:
            cf.resolved_log = resolved.filter(
                F.col("resolved_ts") <= spec.base_ts + k * ev)

        upto(boot)
        cf.run()
        la0 = os.getloadavg()[0]
        for i in range(n):
            upto(boot + (i + 1) * span)
            group = f"bx-win-{i}"
            sc.setJobGroup(group, group)
            a, t0 = _cpu_snapshot(jvm_pid), time.time()
            stats = cf.run()
            wall, b = time.time() - t0, _cpu_snapshot(jvm_pid)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert stats["merges"] == span, stats
            names = [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]
            frontier = sum("frontier.py" in x for x in names)
            rows.append({"cpu": _cpu_split(a, b), "wall": wall,
                         "jobs": len(names) - frontier, "frontier_jobs": frontier})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    k = _flat_from([r["cpu"]["jvm.jit"] / span for r in rows])
    kept = rows[k:]
    classes = list(kept[0]["cpu"])
    per = {c: _quartiles([r["cpu"][c] / span for r in kept]) for c in classes}
    conf = {key: v for key, v in sc.getConf().getAll()
            if not any(w in key.lower() for w in ("secret", "token", "password"))}
    print(json.dumps({
        "n": n, "span": span, "events_per_window": ev, "dropped": k, "kept": len(kept),
        "cpu_s": _quartiles([sum(r["cpu"].values()) / span for r in kept]),
        "cpu_s_by_class": per,
        "wall_s": _quartiles([r["wall"] / span for r in kept]),
        "jobs_per_window": _quartiles([r["jobs"] / span for r in kept]),
        "frontier_jobs_per_call": _quartiles([r["frontier_jobs"] for r in kept]),
        "python_daemon_modules": _cpu_snapshot(jvm_pid)["daemons"],
        "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions", ""),
        "spark_conf": dict(sorted(conf.items())),
        "loadavg": [round(la0, 2), round(os.getloadavg()[0], 2)],
    }))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    {"queries": cmd_queries, "replay": cmd_replay, "multi": cmd_multi,
     "explain": cmd_explain, "cpu": cmd_cpu, "windows": cmd_windows}[cmd](sys.argv[2:])
