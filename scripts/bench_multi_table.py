"""Evidence for single-pass multi-table execution: scans-per-window = 1,
not N.

Builds one WAL carrying N tables in TWO storage regimes and replays each
two ways over identical data:

  - commit-ordered WAL (range-partitioned by commit_ts — how a real binlog
    arrives; tables interleave inside every segment, the reference's
    multiplexing-puller regime): the sequential baseline must scan the
    WHOLE WAL once per table per window; single-pass scans it once.
  - table-partitioned WAL (write_wal_partitioned — the best case FOR the
    sequential baseline: per-table partition pruning is free).

  1. single-pass MultiTableChangefeed — per window: ONE WAL scan + ONE
     dedup shuffle for all tables, then N narrow cached slices
  2. the sequential baseline (round-2 architecture): N independent
     Changefeeds, each scanning + shuffling its own slice per window

Prints one JSON line. Run standalone: python scripts/bench_multi_table.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ticdc_spark.session import get_spark
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog, gen_resolved_log
from ticdc_spark.streaming.multi import MultiTableChangefeed, write_wal_partitioned
from ticdc_spark.streaming.pipeline import Changefeed, ChangefeedConfig

N_TABLES = int(os.environ.get("MT_TABLES", "8"))
EVENTS_PER_TABLE = int(os.environ.get("MT_EVENTS", "250000"))


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("mt-bench", cores=cpus, shuffle_partitions=cpus)
    spec = BinlogSpec(n_events=EVENTS_PER_TABLE, n_convs=EVENTS_PER_TABLE // 50,
                      n_turns=16, block=EVENTS_PER_TABLE // 2, n_partitions=4)
    work = tempfile.mkdtemp(prefix="ticdc_mt_bench_")
    try:
        from dataclasses import replace as _dc_replace

        parts = [
            gen_binlog(spark, _dc_replace(spec, seed=100 + i))
            .withColumn("table_name", F.lit(f"tbl_{i}"))
            for i in range(N_TABLES)
        ]
        wal_df = parts[0]
        for p in parts[1:]:
            wal_df = wal_df.unionByName(p)
        resolved = gen_resolved_log(spark, spec)
        tables = [f"tbl_{i}" for i in range(N_TABLES)]

        wal_ordered = os.path.join(work, "wal_ordered")
        wal_df.repartitionByRange(max(cpus * 4, 8), "commit_ts").write.parquet(wal_ordered)
        wal_bytable = os.path.join(work, "wal_bytable")
        write_wal_partitioned(wal_df, wal_bytable)

        # warm: JVM + codegen on a throwaway single table
        Changefeed(
            spark,
            spark.read.parquet(wal_ordered).filter("table_name = 'tbl_0'").drop("table_name"),
            resolved, None, LakeTable(spark, os.path.join(work, "warm")),
            ChangefeedConfig(changefeed_id="warm", n_buckets=8),
        ).run()

        def run_single_pass(wal_path, tag):
            binlog = spark.read.parquet(wal_path)
            t0 = time.time()
            mt = MultiTableChangefeed(
                spark, binlog, resolved, None,
                table_factory=lambda t: LakeTable(spark, os.path.join(work, tag, t)),
                config=ChangefeedConfig(changefeed_id=tag, n_buckets=8),
                tables=tables,
            )
            s = mt.run()
            return time.time() - t0, s

        def run_sequential(wal_path, tag):
            binlog = spark.read.parquet(wal_path)
            t0 = time.time()
            ev = 0
            for t in tables:
                cf = Changefeed(
                    spark, binlog.filter(F.col("table_name") == t).drop("table_name"),
                    resolved, None, LakeTable(spark, os.path.join(work, tag, t)),
                    ChangefeedConfig(changefeed_id=f"{tag}/{t}", n_buckets=8),
                )
                ev += cf.run()["events"]
            return time.time() - t0, ev

        sp_ord, s = run_single_pass(wal_ordered, "sp_ord")
        seq_ord, ev1 = run_sequential(wal_ordered, "seq_ord")
        sp_pt, s2 = run_single_pass(wal_bytable, "sp_pt")
        seq_pt, ev2 = run_sequential(wal_bytable, "seq_pt")

        # per-table-DDL-CHURN scenario: every table gets its own scoped
        # add_column early on, so chain digests diverge feed-wide: every
        # later span mounts once per chain and unions the mounts into one
        # write per type-compatibility group (1 group here), so write jobs
        # stay O(spans), not O(windows*tables).
        from ticdc_spark.sources.binlog_gen import DDLSpec

        churn_tables = int(os.environ.get("MT_CHURN_TABLES", "32"))
        churn_events = int(os.environ.get("MT_CHURN_EVENTS", "30000"))
        cspec = BinlogSpec(n_events=churn_events, n_convs=churn_events // 50,
                           n_turns=16, block=churn_events // 4, n_partitions=4)
        ddl_rows = []
        cparts = []
        for i in range(churn_tables):
            t = f"ct_{i}"
            # two DDL bursts (distinct barrier ts) — every table gets its
            # own scoped column, chains diverge feed-wide, but the barrier
            # count stays bounded so the scenario measures the per-window
            # write path, not 32 barrier folds
            d = DDLSpec(commit_ts=cspec.base_ts + 200 + (i % 2) * 61,
                        ddl_type="add_column", column=f"xcol_{i}", table_name=t)
            ddl_rows.append(
                {"commit_ts": d.commit_ts, "ddl_type": "add_column",
                 "query": d.query(), "column": d.column, "old_column": None,
                 "col_type": "string", "schema_version": d.commit_ts,
                 "table_name": t})
            cparts.append(
                gen_binlog(spark, _dc_replace(cspec, seed=300 + i, ddls=(d,)))
                .withColumn("table_name", F.lit(t)))
        cwal = cparts[0]
        for p in cparts[1:]:
            cwal = cwal.unionByName(p)
        cwal_path = os.path.join(work, "wal_churn")
        cwal.repartitionByRange(max(cpus * 4, 8), "commit_ts").write.parquet(cwal_path)
        t0 = time.time()
        mtc = MultiTableChangefeed(
            spark, spark.read.parquet(cwal_path),
            gen_resolved_log(spark, cspec), ddl_rows,
            table_factory=lambda t: LakeTable(spark, os.path.join(work, "churn", t)),
            config=ChangefeedConfig(changefeed_id="churn", n_buckets=8),
            tables=[f"ct_{i}" for i in range(churn_tables)],
        )
        cs = mtc.run()
        churn_sec = time.time() - t0
        assert cs["events"] == churn_tables * churn_events, cs

        total = N_TABLES * EVENTS_PER_TABLE
        assert s["events"] == ev1 == s2["events"] == ev2 == total, (s, ev1, ev2)
        print(json.dumps({
            "tables": N_TABLES,
            "events_total": total,
            "windows": s["windows"],
            "commit_ordered_wal": {
                "single_pass_sec": round(sp_ord, 2),
                "sequential_sec": round(seq_ord, 2),
                "speedup": round(seq_ord / sp_ord, 2),
            },
            "table_partitioned_wal": {
                "single_pass_sec": round(sp_pt, 2),
                "sequential_sec": round(seq_pt, 2),
                "speedup": round(seq_pt / sp_pt, 2),
            },
            "scans_per_window_single_pass": 1,
            "scans_per_window_sequential": N_TABLES,
            "ddl_churn": {
                "tables": churn_tables,
                "events_total": churn_tables * churn_events,
                "windows": cs["windows"],
                "write_jobs": cs["write_jobs"],
                "write_jobs_per_window": round(cs["write_jobs"] / max(cs["windows"], 1), 2),
                "sec": round(churn_sec, 2),
            },
            "cpus": cpus,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
