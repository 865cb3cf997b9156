"""Physical-plan regression tests — the 100 TB guarantees.

Correctness tests say the answers are right; these say the PLANS stay
right: filters reach the parquet scan, projections prune columns,
small dims broadcast, top-k never full-sorts. A regression here is a
scale bug long before it is a wall-clock bug at test SF.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_a1_filter_pushed_to_scan(spark, qs):
    """A1's IsFiltered pre-filter must reach the events parquet scan as
    a pushed predicate (event_type = 'error' after the bridge)."""
    plan = _physical(qs["a1_blocked_domains"](spark, SF))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan


def test_a1_scan_prunes_columns(spark, qs):
    """The bridge projects 3 of events' columns; the scan must not read
    the rest (ts, value, event_id...)."""
    plan = _physical(qs["a1_blocked_domains"](spark, SF))
    assert "ReadSchema: struct<user_id:bigint,event_type:string,props:string>" in plan


def test_q1_partial_aggregation(spark, qs):
    """Map-side combine: HashAggregate(partial) below the exchange."""
    plan = _physical(qs["q1_pricing_summary"](spark, SF))
    assert "partial_" in plan  # partial_sum/partial_count before shuffle
    assert plan.count("Exchange") == 1  # exactly one shuffle: the final groupBy


def test_join_revenue_broadcasts_dims(spark, qs):
    """nation and region are explicitly broadcast; customer⋈orders may
    be either strategy (AQE decides from stats) but the dims must
    never shuffle."""
    plan = _physical(qs["x_join_revenue_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_topk_is_take_ordered_not_full_sort(spark, qs):
    """ORDER BY + LIMIT k must compile to TakeOrderedAndProject (heap
    of k per partition), not a global Sort."""
    plan = _physical(qs["x_topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_token_stats_reads_only_needed_columns(spark, qs):
    plan = _physical(qs["x4_token_stats"](spark, SF))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_semi_join_stays_semi(spark, qs):
    """EXISTS-shaped queries must stay semi joins (no row explosion)."""
    plan = _physical(qs["x_semi_join"](spark, SF))
    assert "LeftSemi" in plan


def test_media_query_defers_payload_to_udf_stage(spark, qs):
    """x5: the binary payload feeds mapInPandas directly — it must not
    appear in any exchange (payloads never shuffle)."""
    df = qs["x5_media_features"](spark, SF)
    plan = _physical(df)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload" not in line


def test_dedup_count_aggregates_hashes_not_text(spark, qs):
    """x1 groups on the 32-char md5, not the document text: the shuffle
    carries digests."""
    opt = _optimized(qs["x1_dedup_count"](spark, SF))
    assert "md5" in opt


def test_topk_cosine_no_global_window_sort(spark, qs):
    """The vector top-k must heap-select before ranking — the rank
    window may only ever see k rows (GlobalLimit above it), never the
    full corpus."""
    plan = _physical(qs["x3_topk_cosine"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle_no_nested_loop(spark, qs):
    """The as-of join must be union + one hash exchange + window —
    never a BroadcastNestedLoopJoin (the plan an inequality join gets),
    and never more than the one key shuffle."""
    plan = _physical(qs["e_asof_join"](spark, SF))
    assert "NestedLoop" not in plan
    assert "Window" in plan
    # the operator itself contributes exactly one exchange (the window's
    # user_id hash); the second is the query's snapshot-dedup groupBy
    # keyed on (user_id, ts) — nothing else may shuffle
    exchange_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchange_lines) <= 2, exchange_lines
    assert any("user_id" in l for l in exchange_lines)


def test_range_join_is_equi_join_on_granule(spark, qs):
    """The point-in-interval join must run as an equi-join on
    (user_id, granule) — SortMergeJoin or ShuffledHashJoin — with the
    boundary predicate applied post-join, never a nested loop."""
    plan = _physical(qs["e_range_join"](spark, SF))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # AQE may broadcast the small side
    )


def test_stream_jsonl_generation_no_python(spark, qs):
    """c1's JSONL generation is pure to_json/struct built-ins — no
    Python stage before the stream source (the only Python in the
    topology is the DNS UDF inside the pipeline itself)."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from adguard2clickhouse_spark.sources.events_bridge import log2_from_events
    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64

    log2 = log2_from_events(spark, SF)
    answers = F.array(*[F.lit(build_answer_b64(rcode=r)) for r in range(6)])
    lines = log2.select(
        F.to_json(
            F.struct(
                F.date_format("date_time", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("T"),
                "QH",
            )
        ).alias("value")
    )
    assert "pythonUDF" not in _physical(lines).lower()


def test_ngram_jaccard_no_size_shuffle(spark, qs):
    """Set sizes must come from the cached array frame (narrow F.size),
    not a groupBy over the exploded index: the plan has exchanges only
    for the pair join and its aggregation, and no aggregate keyed on a
    lone _id before the join."""
    df = qs["x2_ngram_jaccard"](spark, SF)
    # df is localCheckpointed — inspect the pre-checkpoint plan instead
    from adguard2clickhouse_spark.operators.dedup import ngram_jaccard_pairs
    from adguard2clickhouse_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    # rebuild without checkpoint by calling internals: plan of the
    # checkpointed result is opaque, so assert on a fresh build
    import adguard2clickhouse_spark.operators.dedup as D
    from pyspark.sql import functions as F

    arr = (
        docs.select(F.col("doc_id").alias("_id"), F.split("text", " ").alias("_toks"))
        .select("_id", D.shingle_hashes_from_tokens(F.col("_toks"), 3).alias("_arr"))
    )
    sizes = arr.select("_id", F.size("_arr").alias("_sz"))
    plan = _physical(sizes)
    assert "Exchange" not in plan  # narrow: no shuffle to learn set sizes


def test_heavy_hitters_candidates_broadcast_and_map_only_sketch(spark):
    """Pass 1 must be map-only (MapInPandas, no preceding exchange on
    the raw values) and pass 2 must broadcast the tiny candidate set
    into a semi join — never shuffle the full column for the join."""
    from adguard2clickhouse_spark.operators.sketch import heavy_hitters

    o = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _physical(heavy_hitters(o, "o_custkey", k=100))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_salted_join_spreads_key_under_shuffle_join(spark):
    """With broadcast off (the 100 TB shape where salting matters) the
    join must be a shuffle join keyed on (event_type, salt) — the salt
    column in the join keys is what spreads a hot key over tasks."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.operators.skew import salted_join

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ev = spark.read.parquet(f"{SF}/events.parquet").select(
            "event_id", "event_type", "value"
        )
        stats = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
        plan = _physical(
            salted_join(ev, stats, on="event_type", salt=8, spread_cols=["event_id"])
        )
        assert "_salt_skew" in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_zorder_key_matches_reference_interleave(spark):
    """Property check: the Morton expression equals a Python reference
    bit-interleave over the full 5-bit grid (injectivity follows)."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.plans.zorder import zorder_key2

    def ref(a: int, b: int, bits: int) -> int:
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    grid = spark.range(1024).select(
        (F.col("id") % 32).alias("a"), F.floor(F.col("id") / 32).alias("b")
    )
    rows = grid.select("a", "b", zorder_key2("a", "b", bits=5).alias("z")).collect()
    assert all(r.z == ref(r.a, r.b, 5) for r in rows)
    assert len({r.z for r in rows}) == 1024  # bijective on the grid


def test_driver_contract_keys_align():
    """Every oracle must gate a registered query — an orphan oracle is
    a silently-untested claim."""
    qk, ok = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert not (ok - qk), f"orphan oracles: {sorted(ok - qk)}"


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The README claims AQE handles residual skew (runtime split of
    oversized shuffle partitions); prove it end-to-end: a 95%-hot key
    under shuffle join must execute as SortMergeJoin(skew=true) in the
    final adaptive plan. Thresholds are pinned down so the fixture-
    sized data qualifies — the assertion is that the rewrite engages."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fat = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        slim = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("x").alias("attr")
        )
        j = fat.join(slim, "k").select(F.length("payload").alias("L")).agg(F.sum("L"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_shuffle_budgets_hold(spark):
    """Every driver query's physical plan must stay within its recorded
    Exchange (shuffle) budget — the per-query scale guard. A refactor
    that silently adds a shuffle fails here long before it costs
    wall-clock on a cluster. Regenerate tests/plan_budgets.json (see
    its provenance in git) when a query's plan intentionally changes.
    """
    import json
    import pathlib

    budgets = json.loads(
        (pathlib.Path(__file__).parent / "plan_budgets.json").read_text()
    )
    qs = entrymod.queries()
    skip = {
        "c1_stream_pipeline", "e_sessions_stream", "a6_stats2_stream",
        "e_stream_interval_join", "e_sessions_native_stream",
        "e_stream_dedup",
    }
    missing = set(qs) - skip - set(budgets)
    assert not missing, f"queries without a shuffle budget: {sorted(missing)}"
    # Nested-loop allowlist: the explicit all-pairs oracle baseline, the
    # broadcast-tiny-query-side kNN, and heavy-hitters' 1-row total.
    nl_allowed = {
        "x2_embedding_dup", "x3_knn_join", "x6_heavy_hitters",
        "x3_hard_negatives",  # same broadcast-tiny-query-side shape as knn
        "x4_vocab_coverage",  # 1-row broadcast total, like heavy-hitters
        "q20_part_promotion",  # 1-row broadcast of (Σqty, n) for the threshold
        "q22_dormant_customers",  # 1-row broadcast of (Σbal, n) for the threshold
        "q11_important_share",  # 1-row broadcast of the total traded value
        "x4_unigram_logprob",  # 1-row broadcast of the corpus token total
        "x4_bm25_topk",  # 1-row broadcast of (N docs, total tokens)
        "e_daily_fill",  # 1-row broadcast of the global fill-axis bounds
        "x3_topk_cosine",  # 1-row broadcast of the query vector (r15: the
        # driver-side head() probe fused into the plan — its Exchange
        # budget moved 0→1 for the BroadcastExchange; one fewer job)
    }
    over, nested = {}, {}
    for name, budget in budgets.items():
        if isinstance(budget, dict):
            continue  # streaming budget — executed by tests/test_stream_plans.py
        plan = _physical(qs[name](spark, SF))
        n = plan.count("Exchange")
        if n > budget:
            over[name] = (n, budget)
        if name not in nl_allowed and (
            "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        ):
            nested[name] = True
    assert not over, f"shuffle budget exceeded: {over}"
    assert not nested, f"unexpected nested-loop/cartesian plan: {sorted(nested)}"


def test_zorder_key_n_dimensional(spark):
    """3-column Morton key matches the reference interleave and stays
    bijective over the 8×8×8 grid."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.plans.zorder import zorder_key

    def ref(vals, bits):
        out = 0
        for i in range(bits):
            for j, v in enumerate(vals):
                out |= ((v >> i) & 1) << (len(vals) * i + j)
        return out

    g = spark.range(512).select(
        (F.col("id") % 8).alias("a"),
        (F.floor(F.col("id") / 8) % 8).alias("b"),
        F.floor(F.col("id") / 64).alias("c"),
    )
    rows = g.select("a", "b", "c", zorder_key(["a", "b", "c"], bits=3).alias("z")).collect()
    assert all(r.z == ref((r.a, r.b, r.c), 3) for r in rows)
    assert len({r.z for r in rows}) == 512


def test_footer_stats_aggregate_pushes_into_scan(spark):
    """parquet_stats must plan as PushedAggregation on a V2 BatchScan —
    min/max/count answered from footer statistics, no data pages — and
    the conf flip must not leak: the session's source list is restored
    and a subsequent plain read still plans V1 (FileScan)."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.plans.stats import parquet_stats

    saved = spark.conf.get("spark.sql.sources.useV1SourceList")
    df = parquet_stats(
        spark, SF + "/lineitem.parquet", ["l_orderkey", "l_partkey"]
    )
    plan = _physical(df)
    assert "PushedAggregation: [COUNT(*)" in plan
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == saved
    control = spark.read.parquet(SF + "/lineitem.parquet").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert "PushedAggregation" not in _physical(control)
    # values are exact regardless of path
    r = df.head()
    c = spark.read.parquet(SF + "/lineitem.parquet").count()
    assert r.n_rows == c


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """100 TB gate: a date-partitioned fact joined to a filtered dim
    must get a DynamicPruning subquery on the partition column — the
    scan reads only the dim-selected partitions instead of the whole
    table. (At corpus scale this is the difference between scanning a
    week and scanning years.)"""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    out = str(tmp_path / "fact")
    ev.write.partitionBy("day").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        ev.select("day").distinct()
        .filter(F.col("day") >= "2024-06-01")
        .withColumnRenamed("day", "dday")
    )
    j = fact.join(F.broadcast(dim), fact.day == F.col("dday")).groupBy("day").count()
    assert "dynamicpruning" in _physical(j).lower()


def _walk_physical(n, out):
    """Collect every node of an executed plan, descending through AQE
    wrappers and materialized query stages."""
    out.append(n)
    ch = n.children()
    for i in range(ch.size()):
        _walk_physical(ch.apply(i), out)
    cls = n.getClass().getSimpleName()
    if "QueryStage" in cls:
        _walk_physical(n.plan(), out)
    if "Adaptive" in cls:
        _walk_physical(n.executedPlan(), out)


def _node_metrics(n):
    m, it, vals = n.metrics(), None, {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def test_partial_aggregation_bounds_skewed_ingest(spark):
    """The aggregation analog of the AQE skew-join gate (round-4 ask
    #6): at 100x scale a zipf domain distribution puts ~95% of querylog
    rows on one QH, and a7/a1-style groupBys must not funnel that mass
    into one reduce task. Partial (map-side) aggregation is what
    prevents it: each map task emits at most one row per distinct key,
    so the hot key reaches the final-agg task as n_map_tasks rows —
    bounded by the cluster, not the data. This test asserts the RUNTIME
    metrics, not just the plan shape: shuffled records stay <6% of the
    skewed input, and correctness of the hot-key count survives."""
    from pyspark.sql import functions as F

    n_rows, n_cold = 200_000, 997
    df = spark.range(n_rows).select(
        F.when(F.col("id") % 20 != 0, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("d"), (F.col("id") % n_cold).cast("string")))
        .alias("QH")
    )
    agg = df.groupBy("QH").agg(F.count(F.lit(1)).alias("count"))
    got = {r.QH: r["count"] for r in agg.collect()}
    assert got["hot.example.com"] == n_rows - n_rows // 20

    nodes = []
    _walk_physical(agg._jdf.queryExecution().executedPlan(), nodes)
    exchanges = [n for n in nodes if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert len(exchanges) == 1
    shuffled = _node_metrics(exchanges[0])["shuffleRecordsWritten"]
    n_map_tasks = spark.sparkContext.defaultParallelism
    # partial agg bound: <= map_tasks * distinct_keys, and far below input
    assert shuffled <= n_map_tasks * (n_cold + 1), shuffled
    assert shuffled < 0.06 * n_rows, f"map-side combine missing: {shuffled} rows shuffled"
    # the hot key itself crosses the wire at most once per map task
    aggs = [n for n in nodes if "HashAggregate" in n.getClass().getSimpleName()]
    finals = [n for n in aggs if _node_metrics(n).get("numOutputRows") == n_cold + 1]
    assert finals, "no final aggregate emitting one row per distinct key"


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """100 TB capability gate: a selective dim filter injects a RUNTIME
    bloom filter on the fact side of a shuffle join (Spark's
    InjectRuntimeFilter, on by default) — a bloom_filter_agg on the dim
    side and a might_contain probe on the fact side, so fact rows that
    cannot join are dropped at the scan instead of shuffling. The
    production thresholds gate on a >=10GB application side; the test
    scopes the thresholds down to prove our join shapes QUALIFY — no
    hints, no plan rewrites, just the declarative join Catalyst already
    sees. (Merged from the two r2/r6 variants of this gate, keeping the
    stricter asserts of both: exact operator names in the optimized
    plan, bloom presence in the physical plan, and the load_table
    entry point.)"""
    from adguard2clickhouse_spark.sources.tables import load_table

    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        # force the shuffle join regime the filter exists for (at test
        # SF the dim would otherwise broadcast, which subsumes it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.sum("l_quantity").alias("q")
        )
        opt = _optimized(j)
        assert "bloom_filter_agg" in opt, opt[:2000]
        assert "might_contain" in opt, opt[:2000]
        phys = _physical(j)
        assert "bloom" in phys.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
