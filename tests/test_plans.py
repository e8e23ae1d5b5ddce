"""Physical-plan audits: the scale properties are asserted, not assumed.

Each test renders the executed/optimized plan and checks the property that
keeps the operator viable at 100 TB — filter pushdown into the parquet
scan, map-side partial aggregation with exactly one exchange for the LWW
dedup, broadcast (never a full-base shuffle) on the MOR read path, and
whole-stage-codegen (no Python eval) for the MQ codecs."""

from pyspark.sql import functions as F

from ticdc_spark.operators.sortdedup import lww_dedup, with_op_rank
from ticdc_spark.sinks.lake import LakeTable
from ticdc_spark.sources.binlog_gen import BinlogSpec, gen_binlog

KEY = ["conv_id", "turn_idx"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_wal_window_filter_pushes_down(spark, tmp_path):
    """The per-window commit_ts predicate must reach the parquet scan as a
    PushedFilter — a window read that scans the whole WAL is wrong."""
    wal = str(tmp_path / "wal")
    gen_binlog(spark, BinlogSpec(n_events=5_000)).write.parquet(wal)
    df = spark.read.parquet(wal).filter(
        (F.col("commit_ts") > 1_000) & (F.col("commit_ts") <= 2_000)
    )
    plan = _plan(df)
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "GreaterThan(commit_ts" in pushed and "LessThanOrEqual(commit_ts" in pushed


def test_lww_dedup_is_partial_agg_one_exchange(spark):
    """The dedup must compile to hash aggregation with a MAP-SIDE partial
    pass (hot keys collapse before the shuffle) and exactly ONE exchange."""
    df = with_op_rank(
        gen_binlog(spark, BinlogSpec(n_events=5_000))
    )
    plan = _plan(lww_dedup(df, KEY))
    assert plan.count("Exchange") == 1
    # the map-side partial pass is the skew defense: a hot key collapses to
    # one row per task BEFORE the exchange (struct-max compiles to a
    # sort-based aggregate, but the partial/final split still applies)
    assert "partial_max" in plan
    assert plan.index("partial_max") > plan.index("Exchange")  # partial below it


def test_mor_read_never_shuffles_base(spark, tmp_path):
    """Delta-scoped MOR read: the base side is consumed by BROADCAST
    anti/semi joins against the delta key set — no full-base exchange."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(key=KEY,
             fields=[("conv_id", "string"), ("turn_idx", "int"), ("text", "string")],
             n_buckets=4, with_order_cols=True)
    mk = lambda n, base, tag: spark.range(n).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.format_string(f"{tag}%d", F.col("id")).alias("text"),
        F.lit("I").alias("op"),
        (F.lit(base) + F.col("id")).alias("_commit_ts"),
        (F.lit(base - 1) + F.col("id")).alias("_start_ts"),
        F.lit(3).cast("int").alias("_op_rank"),
        F.lit(0).cast("int").alias("_deleted"),
    )
    t.append_delta(mk(2_000, 1_000, "b"), "seed", resolved_ts=1)
    t.compact(drop_tombstones=True)
    t.append_delta(mk(50, 100_000, "u"), "d1", resolved_ts=2)
    plan = _plan(t.read())
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only exchanges allowed are over the (tiny) delta side: the base
    # rows reach the union through joins fed by BroadcastExchange only
    assert "BroadcastExchange" in plan


def test_mq_codec_has_no_python_eval(spark):
    """Codecs + dispatchers + router are pure Column expressions — the plan
    must contain NO Python evaluation node (UDFs are the slow path)."""
    from ticdc_spark.sinks.mq import (
        RouteRule, dispatch_by_columns, encode_open_protocol, route_events,
    )

    b = gen_binlog(spark, BinlogSpec(n_events=2_000)).withColumn(
        "text", F.lit("x")
    ).withColumn("table_name", F.lit("t1"))
    enc = encode_open_protocol(b, "db", "t1", ["conv_id", "turn_idx", "text"])
    routed = route_events(
        dispatch_by_columns(enc, 8, ["conv_id"]),
        [RouteRule(matcher=("t*",), partition_rule="ts")], 8, "db",
        table_col="topic",
    )
    plan = _plan(routed)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
    assert "*(1)" in plan  # whole-stage-codegen'd (the starred stage marker)


def test_span_execution_single_exchange(spark, tmp_path):
    """Span execution (Changefeed.max_windows_per_job): the whole DDL-free
    span's dedup output — every window's rows, window id in the dedup
    key — must still compile to exactly ONE exchange (the window-id CASE
    is a narrow projection, not a second shuffle), with the span's
    commit_ts range pushed into the scan."""
    from ticdc_spark.operators.sortdedup import lww_dedup, with_op_rank

    wal = str(tmp_path / "wal")
    gen_binlog(spark, BinlogSpec(n_events=5_000)).write.parquet(wal)
    uppers = [2_000, 3_000, 4_000]
    df = spark.read.parquet(wal).filter(
        (F.col("commit_ts") > 1_000) & (F.col("commit_ts") <= uppers[-1])
    )
    wexpr = F.lit(len(uppers) - 1)
    for i in range(len(uppers) - 2, -1, -1):
        wexpr = F.when(F.col("commit_ts") <= uppers[i], i).otherwise(wexpr)
    df = with_op_rank(df.withColumn("_win", wexpr.cast("int")))
    deduped = lww_dedup(df.drop("pre_payload", "op"), ["_win", *KEY], stats=True)
    plan = _plan(deduped)
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan or "partial" in plan.lower()
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "GreaterThan(commit_ts" in pushed


def test_diverged_chain_span_one_write_per_type_group(spark, tmp_path, write_plans):
    """A fleet span over diverged schema chains (multi.py ``_apply_mor``):
    t1 and t2 each add a scoped ``xcol`` at the 2000 bound, t1 as string and
    t2 as int, so after the barrier the span has three chains. The executor
    mounts each chain off the SAME cached dedup and unions t0 with t1; t2
    conflicts on xcol's type and writes apart. Each write's plan holds the
    dedup's single exchange and nothing above the cache adds a shuffle.
    Every table still equals its LWW oracle."""
    import re

    from tests.conftest import assert_df_equal
    from ticdc_spark.sources.binlog_gen import gen_resolved_log
    from ticdc_spark.streaming.multi import MultiTableChangefeed
    from ticdc_spark.streaming.pipeline import ChangefeedConfig, expected_final_state

    spec = {t: BinlogSpec(n_events=2_000, n_convs=40, seed=60 + i)
            for i, t in enumerate(["t0", "t1", "t2"])}
    wal = None
    for t, s in spec.items():
        part = gen_binlog(spark, s).withColumn("table_name", F.lit(t))
        wal = part if wal is None else wal.unionByName(part)
    ddl = [{"commit_ts": 2_000, "ddl_type": "add_column", "query": "", "column": "xcol",
            "old_column": None, "col_type": ty, "schema_version": 2_000,
            "table_name": t} for t, ty in (("t1", "string"), ("t2", "int"))]
    mt = MultiTableChangefeed(
        spark, wal, gen_resolved_log(spark, spec["t0"]), ddl,
        table_factory=lambda t: LakeTable(spark, f"{tmp_path}/{t}"),
        config=ChangefeedConfig(changefeed_id="div", n_buckets=4), tables=list(spec))
    stats = mt.run()
    # the barrier window (one chain, one write), then the diverged span
    assert len(write_plans) == stats["write_jobs"] == 3
    for plan, n_mounts in zip(write_plans[1:], (2, 1)):
        # the plan above the cached dedup: the mounts, their union and the
        # projection — no shuffle there
        above, cache_at = [], None
        for line in plan.splitlines():
            at = len(line) - len(line.lstrip(" :+-"))
            if cache_at is not None and at > cache_at:
                continue
            cache_at = at if "InMemoryRelation" in line else None
            above.append(line)
        assert not any(re.search(r"\bExchange ", ln) for ln in above), plan
        assert sum("InMemoryTableScan" in ln for ln in above) == n_mounts, plan
        assert any("Union" in ln for ln in above) == (n_mounts > 1), plan
        # below it, every mount reads the SAME cached dedup: one shuffle
        # (rendered once per scan, and as AQE's final and initial plan)
        shuffles = set(re.findall(r"\bExchange (.*?), \[plan_id", plan))
        assert len(shuffles) == 1, plan
    for t, s in spec.items():
        want = expected_final_state(gen_binlog(spark, s), mt.feeds[t].registry,
                                    s.max_commit_ts, KEY)
        assert_df_equal(mt.read(t), want, KEY)
    assert dict(mt.read("t2").dtypes)["xcol"] == "int"


def test_pii_scrub_is_narrow_no_shuffle(spark):
    """PII redaction must stay a single narrow projection: zero exchanges,
    no Python eval — at 100 TB this runs entirely inside the scan stage."""
    from pyspark.sql import Row

    from ticdc_spark.functions.textops import pii_scrub

    d = spark.createDataFrame([Row(doc_id=i, text=f"t{i} a@b.com") for i in range(100)])
    plan = _plan(pii_scrub(d))
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan


def test_conv_flatten_single_combining_exchange(spark):
    """Conversation flattening is ONE aggregate keyed on conv_id: exactly
    one exchange, object-hash aggregation with a partial (map-side) pass —
    no window function, no global sort."""
    from pyspark.sql import Row

    from ticdc_spark.functions.transcripts import flatten_conversations

    tr = spark.createDataFrame(
        [Row(conv_id=f"c{i % 5}", turn_idx=i // 5, role="user", text="x", tool=None)
         for i in range(50)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    plan = _plan(flatten_conversations(tr))
    assert plan.count("Exchange") == 1
    assert "ObjectHashAggregate" in plan
    assert "Sort" not in plan.split("Exchange")[0]  # no post-shuffle global sort


def test_delta_dedup_never_cross_joins(spark):
    """Incremental dedup must compile to keyed equi-joins on text_hash —
    never a cartesian/nested-loop product of delta x base."""
    from pyspark.sql import Row

    from ticdc_spark.functions.textops import delta_exact_dedup

    d = spark.createDataFrame([Row(doc_id=i, text=f"t{i % 30}") for i in range(100)])
    plan = _plan(delta_exact_dedup(d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1")))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 3  # two hash aggs + the keyed joins


def test_domain_resample_corpus_never_shuffled(spark):
    """The temperature-resample thresholds join back to the corpus as a
    BROADCAST — the corpus side must not hash-exchange (only the tiny
    group-count aggregate may)."""
    from ticdc_spark.functions.textops import domain_resample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(domain_resample(docs, group_col="source"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_global_shuffle_one_exchange_no_global_sort(spark):
    """The deterministic shuffle needs exactly ONE exchange (the
    per-(split, shard) window partition) and no global range sort."""
    from ticdc_spark.functions.textops import global_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(global_shuffle(docs, n_shards=8))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan


def test_vocab_topk_is_take_ordered(spark):
    """Top-k must compile to TakeOrderedAndProject (bounded per-task heap),
    never a global sort of the frequency table."""
    from ticdc_spark.functions.textops import vocab_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(vocab_topk(docs, k=50))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # map-side combine under the word agg


def test_salted_join_plan_joins_on_salt(spark):
    """With broadcast disabled (the regime salting exists for), the join
    must run on (key, _salt) with the dim's hot rows exploded across
    salts — one hot key spreads over n_salts reducers."""
    from ticdc_spark.operators.skew import detect_heavy_keys, salted_join

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = spark.range(500).select(
            (F.col("id") % 5).alias("k"), F.col("id").alias("v"))
        dim = spark.range(5).select(F.col("id").alias("k"),
                                    F.lit("d").alias("name"))
        heavy = fact.groupBy("k").count().filter("count > 50").select("k")
        plan = _plan(salted_join(fact, dim, ["k"], heavy, n_salts=4))
        assert "_salt" in plan and "Generate explode" in plan
        # the main join keys on the salt (either merge or hash strategy)
        import re
        joins = [ln for ln in plan.splitlines()
                 if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln)]
        assert any("_salt" in ln for ln in joins)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_chunk_documents_zero_shuffle_no_python(spark):
    """Chunking must stay one narrow posexplode projection: zero exchanges,
    no Python eval — at 100 TB it runs entirely inside the scan stage."""
    from pyspark.sql import Row

    from ticdc_spark.functions.textops import chunk_documents

    d = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{j}" for j in range(90))) for i in range(50)]
    )
    plan = _plan(chunk_documents(d, chunk_tokens=32, stride=24))
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan
    assert "Generate" in plan  # the posexplode


def test_semdedup_assignment_is_narrow_zero_shuffle(spark):
    """SemDeDup's coarse quantizer (trained codebook) must be ONE narrow
    pass over the vector table — the codebook is a task-local array, so
    the plan has ZERO exchanges and no join of any kind: the vector table
    is never shuffled (or even broadcast-joined) for assignment; the only
    exchange in the operator is the within-cluster pairing, keyed AFTER
    assignment."""
    from pyspark.sql import Row

    from ticdc_spark.functions.ivf_codebook import CENTROIDS
    from ticdc_spark.functions.simsearch import ivf_assign

    d = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j) % 13 - 6) for j in range(64)])
         for i in range(200)]
    )
    plan = _plan(ivf_assign(d, centroids=CENTROIDS))
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_consumer_decode_pure_column(spark):
    """The consumer's frame split + open-protocol decode must be pure
    Column work: no Python eval, zero exchanges before the sink merge."""
    from pyspark.sql import Row

    from ticdc_spark.sinks.consumer import split_frames
    from ticdc_spark.sinks.mq import decode_open_protocol

    frames = spark.createDataFrame([
        Row(topic="t", partition=i % 3,
            key='{"ts":%d,"scm":"s","tbl":"t1","t":1}' % (1000 + i),
            value='{"u":{"conv_id":{"t":253,"v":"c%d"},"turn_idx":{"t":3,"v":%d}}}' % (i, i))
        for i in range(50)
    ])
    rows, resolved = split_frames(frames)
    dec = decode_open_protocol(rows, ["conv_id", "turn_idx"],
                               keep_cols=("topic", "partition"))
    plan = _plan(dec)
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 0


def test_substring_dedup_equi_joins_only(spark):
    """Substring dedup must stay shuffle-bounded: the span-count join is a
    keyed EQUI-join (never a cartesian/nested-loop pairing — the all-pairs
    trap), and every stage is JVM-side Column work."""
    from pyspark.sql import Row

    from ticdc_spark.functions.textops import substring_dedup

    d = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{(i * 3 + j) % 40}" for j in range(50)))
         for i in range(60)]
    )
    plan = _plan(substring_dedup(d))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    # skew-safety: the cross-doc span count must be a partial-combining
    # HASH AGGREGATE, never a span-partitioned WINDOW (which sorts and
    # lands every row of a Zipf-hot span on one task) — a hot span
    # collapses to one partial row per map task before every exchange,
    # so no salting is needed; the only join is the per-doc totals
    # joining the per-doc unique counts, keyed on doc_id
    assert "Window" not in plan
    assert "SortAggregate" not in plan


def test_lm_score_total_broadcasts_corpus_never_collected(spark):
    """The corpus-total scalar must ride a 1-row BROADCAST cross join —
    never a driver collect baked into the plan, never a shuffle of the
    token table against a single row — and the vocab join is keyed."""
    from pyspark.sql import Row

    from ticdc_spark.functions.textops import lm_score

    d = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{(i + j) % 25}" for j in range(40)))
         for i in range(60)]
    )
    plan = _plan(lm_score(d))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # vocab frequency is a window over the (doc, tok) aggregate and the
    # corpus total is a narrow no-explode scan: ONE Generate, no
    # tok-keyed self-join recomputing the explode subplan
    assert plan.count("Generate") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_preference_pairs_adjacency_is_single_pass(spark):
    """The prompt->reply adjacency must be ONE lead() window over a single
    evaluation of the transcript input — no join of any kind (the r6
    rewrite removed the (conv_id, turn) self-join and its second subtree
    evaluation), no cartesian pairing, no Python eval; exactly two
    exchanges (the conv_id window + the prompt-keyed pair aggregate)."""
    from ticdc_spark.functions.transcripts import preference_pairs

    d = spark.createDataFrame(
        [(f"c{i}", j, "user" if j % 2 == 1 else "assistant", f"msg {i % 5} {j}", None)
         for i in range(30) for j in range(1, 5)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    plan = _plan(preference_pairs(d))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 2


def test_pq_encode_zero_shuffle(spark):
    """PQ encoding must be a narrow map: the codebook is a task-local
    array inside one Arrow-batched numpy pass (guide §4.2 — the JVM
    higher-order-fold form evaluated ksub*m interpreted lambdas per
    vector and was the dominant cost of the PQ family), so the plan has
    ZERO exchanges and no join — at 100 TB re-encoding the corpus is one
    pass inside the scan stage. Only the columns the kernel needs cross
    the Python boundary."""
    from pyspark.sql import Row

    from ticdc_spark.functions.pq_codebook import PQ_CODEBOOK
    from ticdc_spark.functions.simsearch import pq_encode

    d = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 5 + j) % 11 - 5) for j in range(64)])
         for i in range(100)]
    )
    plan = _plan(pq_encode(d, PQ_CODEBOOK))
    assert plan.count("Exchange") == 0
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_context_fit_single_window_exchange(spark):
    """Context fitting must be ONE hash exchange (the conv_id window) —
    no join, no global sort, no Python."""
    from ticdc_spark.functions.transcripts import context_fit

    d = spark.createDataFrame(
        [(f"c{i % 7}", i, "user", f"w{i} x y", None) for i in range(100)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    plan = _plan(context_fit(d))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_tool_call_audit_jvm_json_path(spark):
    """The args audit must extract JSON in codegen (get_json_object) and
    reduce with a combining aggregate — no Python eval anywhere."""
    from ticdc_spark.functions.transcripts import tool_call_audit

    d = spark.createDataFrame(
        [(f"c{i}", i, "tool", "t", "search", '{"q":"a b"}') for i in range(50)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, tool_args string",
    )
    plan = _plan(tool_call_audit(d))
    assert "EvalPython" not in plan
    assert "partial_count" in plan


def test_ivfpq_corpus_never_shuffled_before_topk(spark):
    """IVFPQ's corpus side must be ONE narrow pass (inline assignment +
    codes), joined to the probes by BROADCAST, with the per-query top-k
    window as the only hash exchange of corpus-derived rows."""
    from pyspark.sql import Row

    from ticdc_spark.functions.ivf_codebook import CENTROIDS
    from ticdc_spark.functions.pq_codebook import PQ_CODEBOOK
    from ticdc_spark.functions.simsearch import ivfpq_topk

    d = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 5 + j) % 11 - 5) for j in range(64)])
         for i in range(100)]
    )
    plan = _plan(ivfpq_topk(d, n_queries=4, k=3, n_probe=2,
                            centroids=CENTROIDS, codebook=PQ_CODEBOOK))
    assert "CartesianProduct" not in plan
    # the corpus side is one narrow numpy pass — no join at all: both
    # codebooks and the probe sets are task-local arrays
    assert "Join" not in plan
    # corpus-derived rows reach the final rank window through exactly one
    # query_id exchange — no exchange may partition on the corpus row
    # identity (neighbor/vec id), and one exchange total
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert not any("neighbor_id" in l or "vec_id" in l for l in hash_ex)
    assert plan.count("Exchange") == 1


def test_tfidf_topk_zero_shuffle_scoring_take_ordered(spark):
    """TF scoring must stay a pure-Column array filter over the token
    split (no Python eval), the DF/N side must reach the score as a
    BROADCAST nested-loop of ONE aggregated row (the corpus is never
    shuffled for scoring), and top-k must be TakeOrderedAndProject."""
    from ticdc_spark.functions.textops import tfidf_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(tfidf_topk(docs, k=100))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # only the single-row stats aggregate exchanges (SinglePartition +
    # its broadcast); the corpus is NEVER hash-shuffled
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_corpus_rollup_single_expand_single_aggregate(spark):
    """ROLLUP must compile to ONE Expand + ONE hash aggregate with a
    map-side partial pass — never three scans of the corpus."""
    from ticdc_spark.functions.textops import corpus_rollup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(corpus_rollup(docs))
    assert plan.count("Expand") == 1
    assert "partial_count" in plan
    assert plan.count("Exchange") == 1
    assert plan.count("FileScan") == 1


def test_turn_dedup_boilerplate_joins_broadcast(spark):
    """The removal join must BROADCAST the (tiny) boilerplate set — the
    transcript corpus itself is never shuffled for the join — and there
    is exactly ONE such join: kept/dropped counts and the reassembled
    document all fold out of one conditional aggregate over it, so the
    corpus-derivation subtree is not duplicated per output column."""
    from ticdc_spark.functions.transcripts import turn_dedup
    from ticdc_spark.queries import transcripts_from_events

    tr = transcripts_from_events(spark, "/root/testdata/sf0.001")
    plan = _plan(turn_dedup(tr))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_range_join_query_no_nested_loop_no_event_explode(spark):
    """The driver query's range join must compile to an equi-join on the
    bucket key (shuffle or broadcast hash), never BNLJ/Cartesian, and the
    explode must sit on the INTERVAL side only (generate over the 20-row
    range, not over the event scan)."""
    from ticdc_spark.queries import q_event_range_join

    df = q_event_range_join(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    gen = [l for l in plan.splitlines() if "Generate explode" in l]
    assert gen and all("event_id" not in l.split("explode")[1][:80] for l in gen)


def test_length_quantiles_single_group_exchange(spark):
    """Exact quantiles = ONE hash exchange on the group key (window sort +
    the combining aggregate reuse it) — no second shuffle, no global sort."""
    from ticdc_spark.functions.textops import length_quantiles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(length_quantiles(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan
