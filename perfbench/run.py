#!/usr/bin/env python3
"""spark-cdc engine benchmark.

    python3 perfbench/run.py --workload fleet_sync --seed 1 --seconds 4 --trace 0

Runs one workload (see README.md) on ``local[<cores>]`` in this process,
checks the result against the batch LWW oracle and prints, as its last
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs every workload of BENCHMARK.json in turn, each in
its own process. Exits non-zero on any failed operation or mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("fleet_sync", "live_tail")

E2E = {
    "setup_s": "s",
    "load_ev_per_cpu_s": "1/s",
    "catchup_ev_per_cpu_s": "1/s",
    "commit_lag_cpu_p50_s": "s",
    "commit_lag_cpu_tail_s": "s",
    "peak_rss_mb": "MB",
}

RUN_FIELDS = ("calls", "s", "driver_s", "jobs", "stages", "tasks", "executor_s", "cpu_s")
SHUFFLE_FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "peak_exec_mem_bytes")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.frontier.calls": "count",
    "sources.frontier.s": "s",
    "sources.scan.rows_per_event": "ratio",
    **{f"streaming.run.{k}": ("count" if k in ("calls", "jobs", "stages", "tasks") else "s")
       for k in RUN_FIELDS},
    "streaming.windows_per_call": "ratio",
    "streaming.jobs_per_window": "ratio",
    **{f"streaming.run.{k}": "bytes" for k in SHUFFLE_FIELDS},
    "functions.mount.udf_s": "s",
    "functions.mount.udf_calls": "count",
    "sinks.lake.commit.calls": "count",
    "sinks.lake.commit.s": "s",
    "sinks.lake.compact.calls": "count",
    "sinks.lake.compact.s": "s",
    "sinks.lake.compact.tasks": "count",
    "sinks.lake.compact.bytes_rewritten": "bytes",
    "sinks.lake.bytes_written": "bytes",
    "sinks.lake.files_written": "count",
    "sinks.lake.write_amp": "ratio",
    "sinks.lake.read.s": "s",
    "sinks.lake.read.delta_depth": "count",
    "sinks.lake.alter.calls": "count",
    "sinks.lake.alter.s": "s",
    "sinks.journal.fold.calls": "count",
    "sinks.journal.fold.s": "s",
    "bench.gen.late_p90_s": "s",
    "bench.backlog_windows_max": "count",
    "bench.trace.overhead_frac": "ratio",
    "bench.trace.unlabeled_jobs": "count",
}

# fits a 4-core / 15 GB host; session.py would otherwise ask for 48g
DEFAULT_DRIVER_MEM = "2g"


def log(msg: str) -> None:
    """Progress on stderr (stdout carries the results)."""
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _files(roots) -> dict:
    """{path: size} of every parquet file under ``roots``."""
    out = {}
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
    return out


def _live_bytes(targets) -> int:
    """Bytes of the files the targets' current manifests reference."""
    total = 0
    for t in targets:
        m = t.manifest()
        files = [f for info in m["buckets"].values() for f in info["files"]]
        files += [f for d in m.get("deltas", []) for f in d["files"]]
        total += sum(os.path.getsize(f) for f in set(files))
    return total


def _udf_profile(spark) -> tuple:
    """(seconds, calls) of the mount decode UDF from PySpark's perf profiler."""
    secs, calls = 0.0, 0
    for st in spark._profiler_collector._perf_profile_results.values():
        for (fname, _, func), (_, nc, _, ct, _) in st.stats.items():
            if func == "decode" and fname.endswith("mount.py"):
                secs += ct
                calls += nc
    return secs, calls


def _per_layer(spark, tracer, m, m_ref, lo, hi, before, setup) -> tuple:
    """Per-layer metrics of the traced pass, and the trace detail for `info`."""
    from perfbench import spans as sp
    from perfbench.stats import percentile

    jobs = sp.read_jobs(spark)
    att = sp.attribute(tracer.spans, jobs, lo, hi)
    tot = {n: sp.layer_totals(tracer.spans, att, n) for n in (
        "streaming.run", "sources.frontier", "sinks.lake.commit", "sinks.lake.compact",
        "sinks.lake.alter", "sinks.journal.fold", "bench.snapshot_read")}
    scan = sp.layer_totals(tracer.spans, att, "streaming.run",
                           exclude=("sinks.lake.compact",))
    run = tot["streaming.run"]
    after = _files(m["roots"])
    written = {p: s for p, s in after.items() if before.get(p) != s}
    live = _live_bytes(m["targets"])
    udf_s, udf_calls = _udf_profile(spark)
    per_work = lambda x: x["busy_s"] / max(x["events"], 1)  # noqa: E731
    out = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "sources.frontier.calls": tot["sources.frontier"]["calls"],
        "sources.frontier.s": tot["sources.frontier"]["s"],
        "sources.scan.rows_per_event": scan["input_records"] / max(m["events"], 1),
        **{f"streaming.run.{k}": run[k] for k in RUN_FIELDS + SHUFFLE_FIELDS},
        "streaming.windows_per_call": m["windows"] / max(run["calls"], 1),
        "streaming.jobs_per_window": run["jobs"] / max(m["windows"], 1),
        "functions.mount.udf_s": udf_s,
        "functions.mount.udf_calls": udf_calls,
        "sinks.lake.commit.calls": tot["sinks.lake.commit"]["calls"],
        "sinks.lake.commit.s": tot["sinks.lake.commit"]["s"],
        "sinks.lake.compact.calls": tot["sinks.lake.compact"]["calls"],
        "sinks.lake.compact.s": tot["sinks.lake.compact"]["s"],
        "sinks.lake.compact.tasks": tot["sinks.lake.compact"]["tasks"],
        "sinks.lake.compact.bytes_rewritten": tot["sinks.lake.compact"]["output_bytes"],
        "sinks.lake.bytes_written": sum(written.values()),
        "sinks.lake.files_written": len(written),
        "sinks.lake.write_amp": sum(written.values()) / max(live, 1),
        "sinks.lake.read.s": tot["bench.snapshot_read"]["s"],
        "sinks.lake.read.delta_depth": (sum(m["depth"]) / len(m["depth"])) if m["depth"] else 0.0,
        "sinks.lake.alter.calls": tot["sinks.lake.alter"]["calls"],
        "sinks.lake.alter.s": tot["sinks.lake.alter"]["s"],
        "sinks.journal.fold.calls": tot["sinks.journal.fold"]["calls"],
        "sinks.journal.fold.s": tot["sinks.journal.fold"]["s"],
        "bench.gen.late_p90_s": percentile(m["late"], 90) if m.get("late") else 0.0,
        "bench.backlog_windows_max": max(m["backlog"]) if m.get("backlog") else 0.0,
        "bench.trace.overhead_frac": per_work(m) / per_work(m_ref) - 1.0,
        "bench.trace.unlabeled_jobs": len(att["unlabeled"]),
    }
    detail = {
        "self_s": {},
        "unlabeled_jobs": [(j["job_id"], j["description"]) for j in att["unlabeled"]][:20],
        "tracer_bookkeeping_s": tracer.bookkeeping_s,
        "layers": tot,
    }
    for s in tracer.spans:
        detail["self_s"][s["name"]] = detail["self_s"].get(s["name"], 0.0) + att["self_s"][s["id"]]
    return out, detail


def run_one(args, work: str) -> tuple:
    from perfbench import host, workloads as wl
    from perfbench.spans import Tracer
    from perfbench.stats import median, tail
    from ticdc_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    load_before = host.loadavg()
    log(f"starting Spark on local[{cores}]")
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job of the run for attribution
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    })
    try:
        start_s = time.perf_counter() - t
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        sampler = host.RssSampler(jvm_pid)
        sampler.start()
        fp = host.fingerprint(spark, os.environ["TICDC_SPARK_DRIVER_MEM"],
                              os.environ.get("TICDC_SPARK_JAVA_OPTS"))

        if args.workload == "live_tail":
            w = wl.LiveTail(spark, work, args.seed, args.seconds, phases=1 + 2 * args.trace)
        else:
            w = wl.FleetSync(spark, work, args.seed)
        log("generating inputs")
        w.generate()  # untimed

        log("set-up")
        ops = wl.Ops(cpu=host.CpuClock(jvm_pid))
        setup = {"start_s": start_s, "preload_s": 0.0, **w.setup(ops)}
        setup_s = start_s + setup["warmup_s"] + setup["preload_s"]

        layer = detail = None
        log("measuring")
        m0 = w.measure(ops)
        if args.trace:
            # the first pass runs colder than later ones: the traced pass is
            # the second and its untraced reference the third
            tracer = Tracer(spark)
            w.prepare(ops)
            before = _files(w.roots())
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer.install()
            ops.tracer = tracer
            log("measuring, traced")
            lo = time.time()
            try:
                m = w.measure(ops)
            finally:
                hi = time.time()
                ops.tracer = None
                tracer.uninstall()
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            log("measuring again, the untraced reference")
            w.prepare(ops)
            m_ref = w.measure(ops)
            layer, detail = _per_layer(spark, tracer, m, m_ref, lo, hi, before, setup)
            if layer["bench.trace.unlabeled_jobs"]:
                ops.fail(f"{layer['bench.trace.unlabeled_jobs']} Spark jobs in the traced "
                         "region carry no span label")
        peak_rss_mb = sampler.stop()

        log("checking against the oracle")
        t = time.perf_counter()
        w.verify(ops)
        verify_s = time.perf_counter() - t
        # (events, wall s, CPU s) of the load and the catch-up; lag samples
        samples = {"load": setup.get("load") or m0.get("load"),
                   "catchup": m0.get("catchup"),
                   "lag": m0.get("lag"), "lag_cpu": m0.get("lag_cpu")}
        for name, xs in samples.items():
            if not xs:  # only after failed operations; keeps the result printable
                ops.fail(f"no {name} samples")
                samples[name] = (0, 1.0, 1.0) if name in ("load", "catchup") else [0.0]
        (le, lw, lc), (ce, cw, cc) = samples["load"], samples["catchup"]
        lag, lag_cpu = tail(samples["lag"]), tail(samples["lag_cpu"])
        e2e = {
            "setup_s": setup_s,
            "load_ev_per_cpu_s": le / lc,
            "catchup_ev_per_cpu_s": ce / cc,
            "commit_lag_cpu_p50_s": median(samples["lag_cpu"]),
            "commit_lag_cpu_tail_s": lag_cpu["value"],
            "peak_rss_mb": peak_rss_mb,
        }
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "fingerprint": fp,
            "loadavg": [load_before, host.loadavg()],
            "failed_op_frac": ops.failed / max(ops.attempted, 1),
            "errors": ops.errors[:20],
            "commit_lag_tail": {k: lag[k] for k in ("percentile", "samples", "supported")},
            # the wall-clock twins of the gated CPU metrics
            "wall": {"load_ev_per_s": le / lw, "catchup_ev_per_s": ce / cw,
                     "commit_lag_p50_s": median(samples["lag"]),
                     "commit_lag_tail_s": lag["value"]},
            # too few reads per run for a steady metric; recorded, not gated
            "read_p50_s": median(m0["read"]) if m0.get("read") else None,
            "read_tail": tail(m0["read"]) if m0.get("read") else None,
            "setup": {k: v for k, v in setup.items() if k != "load"},
            "verify_s": verify_s,
            "backlog_windows": m0.get("backlog"),
            "call_s": m0.get("call_s"),
        }
        if detail is not None:
            info["trace_detail"] = detail
        return ops, e2e, layer, info
    finally:
        log("stopping Spark")
        host.stop_session(spark)
        log("stopped")


def run_all(args) -> int:
    """Every BENCHMARK.json workload in its own process; prints their metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    summary, rc = {}, 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        summary[name] = json.loads(lines[-1]) if lines else None
        rc = rc or p.returncode or (0 if lines else 1)
    print(json.dumps(summary))
    return rc


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return run_all(args)
    # the engine is built from source in this checkout; without it, fail
    # before any result is printed
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT  # run as a script: import perfbench as a package
    else:
        sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "ticdc_spark", "__init__.py")):
        print(f"perfbench: no engine source (ticdc_spark/) under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of Python, the JVM and Spark stays inside the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ.setdefault("TICDC_SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    try:
        ops, e2e, layer, info = run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    chosen = layer if args.trace else e2e
    units = PER_LAYER if args.trace else E2E
    print("info " + json.dumps(info, default=str))
    for name, value in chosen.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"failed_op_frac = {info['failed_op_frac']:.6g} (attempted {ops.attempted}, "
          f"failed {ops.failed})")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
