"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (the eight reference aggregates, the
parse-layer scalars) plus the large-scale extension operators (dedup,
similarity search, text analysis, multimodal plumbing, relational
extensions) is exposed as a named query with a DuckDB oracle.

The reference-parity aggregates run through the events→log2 bridge
(adguard2clickhouse_spark/sources/events_bridge.py): one SQL mapping
string shared verbatim between the Spark plan and the oracle CTE, so
the correctness gate genuinely exercises operators/aggregates.py.

Cross-engine exactness rules used throughout (so value hashes match):
- money/ratio measures in integer cents/permille via floor() (DuckDB
  CAST rounds, Spark truncates; floor agrees),
- counts cast to BIGINT on both sides (DuckDB sum() yields HUGEINT),
- ties broken on unique keys in every ORDER BY / window,
- session timezone UTC (naive timestamps compare equal to DuckDB's).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adguard2clickhouse_spark.functions import IPV4_RE, IPV6_RE
from adguard2clickhouse_spark.operators import aggregates as agg
from adguard2clickhouse_spark.operators import contamination as _contamination
from adguard2clickhouse_spark.operators import dedup, multimodal, similarity, text
from adguard2clickhouse_spark.operators import packing as _packing
from adguard2clickhouse_spark.operators import scrub as _scrub
from adguard2clickhouse_spark.sources.events_bridge import (
    log2_from_events,
    oracle_cte,
)
from adguard2clickhouse_spark.session import scoped_conf
from adguard2clickhouse_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _cents(col) -> F.Column:
    """Exact integer cents from a 2-dp double (floor agrees across engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100).cast("long")


# Observer seam for the streaming plan-budget gate (VERDICT r7 ask #5):
# each streaming gate query hands its TERMINATED StreamingQuery handle
# here before reading the sink back, so tests/test_stream_plans.py and
# scripts/gen_stream_budgets.py can audit recentProgress + the last
# micro-batch's physical plan. No-op unless a caller installs one.
_STREAM_OBSERVER: Callable[[str, object], None] | None = None


def _notify_stream(name: str, query) -> None:
    if _STREAM_OBSERVER is not None:
        _STREAM_OBSERVER(name, query)


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's clients_stats MV (SURVEY §2.5 A3) over
    the bridged sf0.001 events stream."""
    return agg.clients_stats(log2_from_events(spark, SF0001))


# ---------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2.4-2.6) over the events bridge
# ---------------------------------------------------------------------------

def q_a1(spark, sf_dir):
    return agg.blocked_domains(log2_from_events(spark, sf_dir))


def q_a2(spark, sf_dir):
    return agg.visited_domains(log2_from_events(spark, sf_dir))


def q_a3(spark, sf_dir):
    return agg.clients_stats(log2_from_events(spark, sf_dir))


def q_a4(spark, sf_dir):
    return agg.qt_stats(log2_from_events(spark, sf_dir))


def q_a5(spark, sf_dir):
    return agg.rcode_stats(log2_from_events(spark, sf_dir))


def q_a6(spark, sf_dir):
    return agg.stats2(log2_from_events(spark, sf_dir))


def q_a7(spark, sf_dir):
    return agg.tld_stats(log2_from_events(spark, sf_dir))


def q_a8(spark, sf_dir):
    return agg.upstream_stats(log2_from_events(spark, sf_dir))


def q_a16_fused_mv_union(spark, sf_dir):
    """A1–A8 computed by the streaming fan's FUSED delta plan
    (operators/aggregates.py::fused_aggregate_deltas): one grouping-
    sets aggregation (one Expand + one exchange) yields every MV's
    delta; here the eight extractors are normalized to
    (sink, k, m1, m2) and unioned so the driver hash-gates the fused
    plan against a DuckDB UNION ALL of the eight plain aggregates.

    The fused frame is materialized ONCE (localCheckpoint) before the
    eight extractor branches read it — without that, per-branch column
    pruning de-canonicalizes the shared aggregate subplan and defeats
    ReuseExchange, so the union would re-run the Expand+shuffle eight
    times (measured: 16 Expands in the final adaptive plan). The
    streaming fan gets the same effect via persist(); a test pins the
    fused frame itself to one Exchange.

    The checkpoint is DISK_ONLY (r15 sf100 sweep find): the fused
    frame scales with Σ of the eight sinks' key cardinalities — at
    sf100 the stats2 grouping alone is every distinct (IP, 10-minute
    bucket) pair — and the default memory-backed localCheckpoint
    storage level OOM'd the 8 GB default session mid-materialization
    (BENCH_sf100_tranche9_r15.json). Walls are extractor-bound, so
    the disk round-trip is noise; small SFs are unaffected."""
    log2 = log2_from_events(spark, sf_dir)
    fused, extract = agg.fused_aggregate_deltas(log2)
    fused = fused.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    nul = F.lit(None).cast("long")

    def _norm(name, key_col, m1, m2=None):
        return extract[name](fused).select(
            F.lit(name).alias("sink"),
            key_col.alias("k"),
            F.col(m1).cast("long").alias("m1"),
            (F.col(m2).cast("long") if m2 else nul).alias("m2"),
        )

    parts = [
        _norm("blocked_domains", F.col("QH"), "count"),
        _norm("visited_domains", F.col("QH"), "count"),
        _norm("clients_stats", F.col("IP"), "visited", "blocked"),
        _norm("qt_stats", F.col("QT"), "count"),
        _norm("rcode_stats", F.col("rcode").cast("string"), "count"),
        _norm(
            "stats2",
            F.concat(F.col("IP"), F.lit("|"), F.col("date_time").cast("string")),
            "blocked",
            "visited",
        ),
        _norm("tld_stats", F.col("tld"), "count"),
        _norm("upstream_stats", F.col("Upstream"), "count"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_a14_domain_entropy(spark, sf_dir):
    """A14 extension: DGA-signal — per distinct real domain, integer-
    exact character entropy of the host label + query volume. Distinct
    domains BEFORE the char explode keeps the explode bounded by the
    domain universe, not query volume."""
    return agg.domain_label_entropy(log2_from_events(spark, sf_dir))


def q_a9_latency(spark, sf_dir):
    """A9 — the aggregate the reference's users ask for next: per-
    upstream latency profile over Elapsed (ns). Integer sums and
    integer division (`div` ≡ DuckDB `//` on non-negatives) keep every
    measure exact cross-engine; an avg() of longs would route through
    doubles and risk the hash at the ULP level."""
    log2 = log2_from_events(spark, sf_dir)
    return log2.groupBy("Upstream").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("Elapsed").cast("long").alias("total_elapsed"),
        F.expr("sum(Elapsed) div count(1)").cast("long").alias("avg_elapsed"),
        F.max("Elapsed").cast("long").alias("max_elapsed"),
    )


def q_f3(spark, sf_dir):
    """F3 predicate (README.md:148) as a standalone count."""
    log2 = log2_from_events(spark, sf_dir)
    return log2.filter(agg._real_domain("QH")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_a11_sliding_windows(spark, sf_dir):
    """A6 generalized to SLIDING windows: 10-minute windows hopping
    every 5 minutes — every event lands in exactly 2 overlapping
    buckets, the smoothing shape dashboards use. Spark's window()
    generates the per-event window set JVM-side; the oracle replays
    the hop arithmetic (two floor-aligned starts per event) in exact
    integer microseconds."""
    log2 = log2_from_events(spark, sf_dir)
    return (
        log2.groupBy(
            "IP", F.window("date_time", "10 minutes", "5 minutes").alias("_w")
        )
        .agg(
            F.sum(F.when(F.col("IsFiltered"), 1).otherwise(0))
            .cast("long")
            .alias("blocked"),
            F.sum(F.when(~F.col("IsFiltered"), 1).otherwise(0))
            .cast("long")
            .alias("visited"),
        )
        .select("IP", F.col("_w.start").alias("window_start"), "blocked", "visited")
    )


def q_seasonal_naive(spark, sf_dir):
    """Seasonal-naive forecast residuals
    (operators/timeseries.py::seasonal_naive_residuals): per-event
    integer-permille residual against the (user, hour-of-week) slot
    mean — the baseline+residual feed a robust anomaly detector
    consumes. One exchange; floor semantics exact cross-engine."""
    from adguard2clickhouse_spark.operators.timeseries import (
        seasonal_naive_residuals,
    )

    return seasonal_naive_residuals(_t(spark, sf_dir, "events"))


def q_a13_window_uniques(spark, sf_dir):
    """Per-10-min unique-client counts beside raw volume — the exact
    twin of the HLL-per-window sketch path (x6_hll_rollup computes the
    same shape approximately/mergeably). One groupBy; the distinct
    folds as a two-phase partial aggregate, never a window."""
    log2 = log2_from_events(spark, sf_dir)
    return (
        log2.groupBy(F.window("date_time", "10 minutes").alias("_w"))
        .agg(
            F.countDistinct("IP").alias("n_clients"),
            F.count(F.lit(1)).alias("n_queries"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("n_clients").cast("long").alias("n_clients"),
            F.col("n_queries").cast("long").alias("n_queries"),
        )
    )


def q_a12_trending_domains(spark, sf_dir):
    """Per-window trending report: the top-3 visited domains of every
    10-minute bucket with their rank — the "what's hot right now"
    dashboard query. One groupBy on (bucket, QH), then a rank window
    partitioned BY BUCKET (thousands of independent small partitions —
    never a global sort); ties break on QH so the ranking is total."""
    log2 = log2_from_events(spark, sf_dir)
    per = (
        log2.filter(~F.col("IsFiltered"))
        .groupBy(
            F.window("date_time", "10 minutes").alias("_w"), F.col("QH")
        )
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    w = Window.partitionBy("_w").orderBy(F.desc("n_queries"), F.asc("QH"))
    return (
        per.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("_w.start").alias("window_start"),
            "QH",
            F.col("n_queries").cast("long").alias("n_queries"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def q_recursive_suffixes(spark, sf_dir):
    """Native WITH RECURSIVE (Spark 4) under the hash gate: the
    domain-suffix rollup of a10 re-expressed as a recursive CTE that
    strips one label per iteration — recursion depth is bounded by the
    deepest hostname (≈4), every iteration a narrow projection, counts
    carried through the recursion so there is no join-back. The same
    SQL replays verbatim in DuckDB, cross-validating Spark's recursive
    execution against the transform-based a10 plan. (Anchor columns
    must be explicitly aliased — an unaliased SELECT QH, QH misbinds.)

    Runs on a sibling session with the recursion row valve sized for
    corpus scale (r15, ADVICE r14): Spark 4's fixed 1M-row default
    valve aborts any >250k-distinct-domain rollup (r14 sf100 sweep),
    but raising it globally let USER recursions materialize 2B rows —
    recursion_scoped_session pins the raise to exactly this query's
    lazy DataFrame while the caller's session keeps the default."""
    from adguard2clickhouse_spark.session import recursion_scoped_session

    spark = recursion_scoped_session(spark)
    log2 = log2_from_events(spark, sf_dir)
    base = (
        log2.filter(agg._real_domain("QH"))
        .groupBy("QH")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base.createOrReplaceTempView("x_recursive_suffixes_base")
    return spark.sql(
        """WITH RECURSIVE sufs(s, n) AS (
             SELECT QH AS s, n AS n FROM x_recursive_suffixes_base
             UNION ALL
             SELECT substr(s, instr(s, '.') + 1) AS s, n AS n
             FROM sufs WHERE instr(s, '.') > 0
           )
           SELECT s AS suffix, CAST(sum(n) AS BIGINT) AS count
           FROM sufs GROUP BY s"""
    )


def q_a10_domain_hierarchy(spark, sf_dir):
    """A7 generalized: counts at EVERY domain-suffix level (the
    ClickHouse cutToFirstSignificantSubdomain family, done for all
    depths at once) — each real-domain QH explodes into its ≤ depth
    suffixes ('a.b.com' → 'com', 'b.com', 'a.b.com'), then one
    groupBy. The hierarchy rollup DNS analytics actually navigates;
    fan-out is bounded by label count, the shuffle carries (suffix,
    partial count)."""
    log2 = log2_from_events(spark, sf_dir)
    labels = F.split(F.col("QH"), r"\.")
    sufs = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(
            F.slice(labels, F.size(labels) - i + 1, i), "."
        ),
    )
    return (
        log2.filter(agg._real_domain("QH"))
        .select(F.explode(sufs).alias("suffix"))
        .groupBy("suffix")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            "suffix",
            F.size(F.split("suffix", r"\.")).cast("long").alias("depth"),
            "count",
        )
    )


def q_q1_decimal(spark, sf_dir):
    """Q1's money math on the DECIMAL path: prices and discounts cast
    to fixed-point before any arithmetic, so sums are exact by TYPE
    rather than by the integer-cents trick the other money queries use
    — both disciplines belong in an engine, and this one survives
    multiplication chains without manual scaling. Exactness makes the
    fold order-independent, hence hash-gateable."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(price).alias("sum_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_price").cast("string").alias("sum_price"),
            F.col("sum_disc_price").cast("string").alias("sum_disc_price"),
            "n",
        )
    )


def q_p7_dns_parse(spark, sf_dir):
    """P6-P10: the Arrow DNS wire parser at volume, oracle-checked.

    Five deterministic packet variants (built once, folded into the
    plan as literals) are assigned by event_id % 5; the UDF parses one
    packet per events row. The oracle doesn't parse DNS — it encodes
    the KNOWN per-variant classification as constants, so any drift in
    the parser (rcode extraction, A/AAAA/CNAME routing) hash-fails."""
    from adguard2clickhouse_spark.operators.dnswire import (
        build_answer_b64,
        with_dns_answer,
    )

    variants = [
        build_answer_b64(a=["1.2.3.4", "5.6.7.8"]),          # 2×A
        build_answer_b64(aaaa=["2001:db8::1"]),               # 1×AAAA
        build_answer_b64(cname=["cdn.example.net"], a=["9.9.9.9"]),  # A+CNAME
        build_answer_b64(rcode=3),                            # NXDOMAIN
        build_answer_b64(txt=["v=spf1 -all"]),                # TXT→cnames
    ]
    ev = _t(spark, sf_dir, "events")
    k = (F.col("event_id") % len(variants)).cast("int")
    answer = F.element_at(F.array(*[F.lit(v) for v in variants]), k + 1)
    parsed = ev.select(with_dns_answer(answer).alias("_dns"))
    return parsed.groupBy(F.col("_dns.rcode").alias("rcode")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("_dns.rdatas")).cast("long").alias("n_a"),
        F.sum(F.size("_dns.rdatas6")).cast("long").alias("n_aaaa"),
        F.sum(F.size("_dns.cnames")).cast("long").alias("n_cname"),
    )


def q_p1_json(spark, sf_dir):
    """P1/P3: schema-declared JSON parse of the props column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.from_json("props", "k INT").alias("_j"))
        .groupBy(F.col("_j.k").alias("k"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def q_p1_variant(spark, sf_dir):
    """P1 via Spark 4's VARIANT type: parse_json keeps the whole
    semi-structured value in the binary variant encoding (no declared
    schema, no string re-scan per field) and variant_get extracts the
    typed path. The schema-on-read answer for evolving props payloads
    — same aggregate, same oracle shape as the from_json twin, so the
    gate proves the two parse paths agree."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.variant_get(F.parse_json("props"), "$.k", "int").alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ---------------------------------------------------------------------------
# Relational extensions (§2.11 categories: joins, windows, set ops,
# rollup/cube, distinct agg, top-k, subqueries)
# ---------------------------------------------------------------------------

def q_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        F.sum(_cents("l_extendedprice")).cast("long").alias("sum_base_cents"),
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("long").alias("sum_disc_cents"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_join_revenue(spark, sf_dir):
    """3-way join with explicit broadcast of the dims (nation, region
    are tiny at any SF — intent survives missing stats on a cluster)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_cents("o_totalprice")).cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", _cents("o_totalprice").alias("total_cents"))
        .orderBy(F.desc("total_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_window_rank(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
    )


def q_window_running(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.sum(_cents("o_totalprice")).over(w).cast("long").alias("run_cents"),
    )


def q_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


def q_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts")
    )


def q_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


def q_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # set EXCEPT semantics (not exceptAll)


def q_except_all(spark, sf_dir):
    """§2.11 set ops, MULTISET semantics: EXCEPT ALL keeps surplus
    duplicates (a nation with 30 customers and 4 suppliers surfaces
    26 times) — the bag-difference reconciliation shape, distinct from
    x_except's set semantics. Aggregated to (nationkey, n) so the
    result is order-free."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.exceptAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_null_safe_join(spark, sf_dir):
    """§2.11: null-safe equality join (<=>) — NULL keys MATCH EACH
    OTHER instead of silently dropping, the semantic corner that loses
    rows in naive reconciliation joins. Key is NULL for every third
    event; counts per joined key prove the NULL bucket pairs up
    (DuckDB twin: IS NOT DISTINCT FROM on the base rows).

    Plan (r15 sf100 sweep find): joining the BASE rows is inherently
    quadratic — 51 key values over 2×50M rows is ~5e13 join output
    pairs at sf100, and every NULL row lands in ONE hash bucket (the
    <=> skew corner), so the literal form blew the 900 s budget. The
    wanted answer is pure per-key pair mass, so each side pre-
    aggregates to ≤51 count rows and the eqNullSafe join runs on the
    count frames (n_pairs = cnt_a·cnt_b) — the shuffle carries
    aggregates, not rows, the NULL bucket still pairs up through
    <=>, and the result is row-identical to the base-row join (the
    oracle keeps the literal quadratic form as the semantic spec)."""
    ev = _t(spark, sf_dir, "events")
    k = F.when(F.col("event_id") % 3 != 0, F.col("user_id") % 50)
    a = ev.filter(F.col("event_id") % 2 == 0).select(k.alias("ka"))
    b = ev.filter(F.col("event_id") % 2 == 1).select(k.alias("kb"))
    a_cnt = a.groupBy("ka").agg(F.count(F.lit(1)).alias("_na"))
    b_cnt = b.groupBy("kb").agg(F.count(F.lit(1)).alias("_nb"))
    return (
        a_cnt.join(F.broadcast(b_cnt), a_cnt.ka.eqNullSafe(b_cnt.kb))
        .select(
            F.coalesce("ka", F.lit(-1)).alias("key"),
            (F.col("_na") * F.col("_nb")).alias("n_pairs"),
        )
    )


def q_anti_join(spark, sf_dir):
    """Customers with no order above $300k (left anti join)."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select("c_custkey")


def q_semi_join(spark, sf_dir):
    """Customers with at least one open ('O') order (left semi join)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


def q_exists_subquery(spark, sf_dir):
    """Orders having any lineitem with qty ≥ 49 (EXISTS ≡ semi join)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_q6_revenue(spark, sf_dir):
    """TPC-H Q6 shape: a single-scan predicate-pushdown aggregate.
    Per-row integer cents BEFORE the sum keep the fold order-
    independent (cross-engine exact)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(_cents(F.col("l_extendedprice") * F.col("l_discount")).alias("c"))
        .agg(F.sum("c").cast("long").alias("revenue_cents"))
    )


def q_q3_shipping(spark, sf_dir):
    """TPC-H Q3 shape: segment filter → 3-way join → per-order revenue
    → top 10. TakeOrderedAndProject, not a global sort. The customer
    side carries no hint: Catalyst auto-broadcasts it below the size
    threshold (all test SFs) and AQE shuffle-joins it at corpus scale,
    where a forced broadcast of an SF-scaled dim would OOM."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            )
            .cast("long")
            .alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_q10_returns(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer over a
    quarter — fact filter → join orders → join customer/nation
    → top 20. Integer cents; ties on custkey. nation is hinted
    (bounded at 25 rows); customer is left to AQE — auto-broadcast at
    test SF, shuffle join at scale."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            )
            .cast("long")
            .alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


def q_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: large-volume orders via a grouped HAVING
    subquery feeding a semi join — the classic two-pass aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.floor(F.col("_q")).cast("long").alias("total_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            _cents("o_totalprice").alias("total_cents"),
            "total_qty",
        )
    )


def q_q14_promo(spark, sf_dir):
    """TPC-H Q14 shape: dim join + conditional-ratio aggregate in
    integer cents (order-independent). part is unhinted — AQE picks
    broadcast below threshold, shuffle at scale."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    cents = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.when(F.col("p_type") == "PROMO", cents).otherwise(0).alias("promo_c"),
            cents.alias("all_c"),
        )
        .agg(
            # nullif: zero total revenue must yield a NULL ratio (DuckDB
            # semantics), not an ANSI divide-by-zero abort.
            F.floor(F.sum("promo_c") * 1000 / F.nullif(F.sum("all_c"), F.lit(0)))
            .cast("long")
            .alias("promo_permille"),
            F.sum("all_c").cast("long").alias("revenue_cents"),
        )
    )


def q_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: priority counts over a quarter, gated by an
    EXISTS on the fact table — a left-semi join on the order key with
    the non-equi late-shipment predicate evaluated inside the join
    (lineitem here has no commit/receipt dates, so "late" means
    shipped after the order date). The semi join keeps only one
    shuffle per side and never materializes the fact columns."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_q5_local_suppliers(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation where the customer and the
    line's supplier share that nation, restricted to one region-year.
    region/nation are hinted broadcasts (bounded); customer and
    supplier are SF-scaled so they carry no hint — Catalyst broadcasts
    them below threshold (every test SF) and AQE shuffle-joins them at
    corpus scale. The only unavoidable big-big join is
    lineitem ⋈ orders on the order key."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            )
            .cast("long")
            .alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("n_name"))
    )


def q_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: trade volume between two nations by ship year —
    the supplier side keyed through lineitem, the customer side through
    orders, with the cross-pair filter (n1→n2 or n2→n1) applied after
    both dim joins. One big-big join (lineitem ⋈ orders); nation is
    hinted, the customer join strategy is left to AQE (its size is
    corpus-proportional at n_customers·2/25, so a static broadcast
    would be the r12 OOM class).

    The SUPPLIER side is explicitly broadcast (r16, guide §3.1, same
    find as q11): it is n_suppliers·2/25 keys+names (~80k rows, ~2 MB
    at sf100; sub-corpus growth), but the size estimate through the
    nation join exceeded the threshold and Catalyst planned lineitem ⋈
    supplier as a sort-merge join that shuffled the 2-year lineitem
    slice. Measured sf100: shuffle 5.78 → 1.66 GB, steady-state median
    14.5 → 11.5 s (BENCH_sf100_tpch_joins_r16.json) — the remaining
    wall is the genuine big-big l⋈o SMJ plus the AQE customer join."""
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            )
            .cast("long")
            .alias("revenue_cents")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: revenue under three disjunctive brand/size/
    quantity branches. The per-branch part predicates are pushed into
    the build side as one OR (brand ∈ {…} ∧ size bounds), and the
    branch-correlated quantity conditions evaluate post-join — one
    AQE-chosen join (auto-broadcast under threshold) with no fact-side
    shuffle before the final 1-row fold."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(b1 | b2 | b3)
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            )
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: quarterly revenue per supplier, then the
    supplier(s) achieving the maximum — a reused aggregate joined
    against its own 1-row max (hinted broadcast; the supplier dim is
    unhinted, AQE-chosen), never a window over the whole relation or a
    second scan of the fact table."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))))
        .cast("long")
        .alias("total_revenue_cents")
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("_mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_cents") == F.col("_mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )


def q_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: revenue lost to small-quantity orders — the
    correlated per-part average decorrelated into a pre-aggregate
    joined back on the part key. The avg threshold is exact across
    engines: quantities are integer-valued doubles, so their sums are
    exact (< 2^53) in any order and avg/0.2·avg round identically.

    The threshold aggregate only matters for Brand#23 parts (r16,
    guide §3.2): its input is semi-joined against the broadcast part
    filter FIRST, so the per-part average aggregates n/25 of lineitem
    instead of all of it and emits n_parts/25 rows instead of every
    part — a per-part average over a part's own rows is unchanged by
    dropping OTHER parts, so the join-back rows (and the oracle hash)
    are identical. The r15 shape aggregated all 600M rows into a
    20M-part threshold frame and joined lineitem against it — on a
    VANILLA session (10 MB broadcast threshold, the driver's own
    session class) that is a sort-merge join shuffling 7.97 GB; the
    slimmed frame is broadcastable at runtime where the 20M-part one
    never was. Measured sf100 (engine session): steady-state median
    12.5 → 9.2 s, executor CPU 389 → 268 s
    (BENCH_sf100_tpch_joins_r16.json)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pk = p.select("p_partkey")
    thresh = (
        li.join(F.broadcast(pk), li.l_partkey == pk.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.2).alias("_qlim"))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thresh.withColumnRenamed("l_partkey", "_pk"), li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qlim"))
        .agg(
            F.floor(F.sum(_cents("l_extendedprice")) / 7)
            .cast("long")
            .alias("avg_yearly_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: no partsupp, so a supplier's "cost" for
    a part is the minimum price it ever sold it at, from lineitem):
    for small parts, the supplier(s) achieving the per-part minimum
    cost — Q2's correlated min subquery expressed as a window min over
    the per-(part, supplier) cost aggregate (r16, guide §2.4/§3: the
    former decorrelated join-back planned the lineitem ⋈ part ⋈
    aggregate subtree TWICE — once for costs, once for the per-part
    min — so the 600M-row join and both its exchanges ran double; the
    window form computes costs once and reuses its (p_partkey, ...)
    partitioning for the min, adding no exchange). Identical output:
    rows where cost_cents equals the per-part min, held to the same
    DuckDB oracle hash. Ordered by account balance like Q2; all money
    in integer cents."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5).select(
        "p_partkey", "p_name"
    )
    costs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(F.min(_cents("l_extendedprice")).alias("cost_cents"))
    )
    best = costs.withColumn(
        "_mc", F.min("cost_cents").over(Window.partitionBy("p_partkey"))
    ).filter(F.col("cost_cents") == F.col("_mc"))
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", _cents("s_acctbal").alias("acctbal_cents")
    )
    return (
        best.join(s, best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey", "p_name", "s_name", "cost_cents", "acctbal_cents"
        )
        .orderBy(
            F.desc("acctbal_cents"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


def q_q11_important_share(spark, sf_dir):
    """TPC-H Q11 shape (adapted: inventory value becomes traded value
    Σ qty·price from lineitem, the nation filter keyed through the
    supplier): parts whose share of one nation's traded value exceeds
    1‰ — the HAVING-against-a-global-fraction plan, the threshold a
    1-row broadcast and the compare exact cross-multiplied integers
    (1000·part > total), immune to ratio rounding.

    The one-nation supplier side is explicitly broadcast (r16, guide
    §3.1): it is ≤ n_suppliers/n_nations keys (~40k at sf100, ~1 MB
    projected), but Catalyst cannot see that through the nation join —
    at sf100 it size-estimated the post-join side above the 64 MB
    threshold and planned a sort-merge join that shuffled ALL of
    lineitem (measured: 10.06 GB shuffle write; AQE converts the join
    only after the 600M-row map stage already ran). With the hint the
    fact table never shuffles before aggregation: shuffle 10.06 →
    0.14 GB, executor run time 2351 → 293 s, sf100 cold wall 85.2 →
    13.2 s, steady-state median-of-5 19.3 → 5.6 s. The broadcast side
    scales as n_suppliers/n_nations (sub-corpus: ~3 MB of keys at
    sf1000), so the hint is scale-safe per the r12 rule."""
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    val = F.floor(F.col("l_quantity") * F.col("l_extendedprice")).cast("long")
    per_part = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("part_value"))
    )
    total = per_part.agg(F.sum("part_value").alias("_tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * 1000 > F.col("_tot"))
        .select("l_partkey", F.col("part_value").cast("long").alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold
    to EUROPE customers, by order year. nation/region hinted; the
    SF-scaled part/customer/supplier sides are AQE-chosen. The only
    big-big join is lineitem ⋈ orders. The share is
    a permille computed with integer DIV over exact cents, so the ratio
    hashes identically across engines."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n2 = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0)))
            .cast("long")
            .alias("target_cents"),
            F.sum(vol).cast("long").alias("all_cents"),
        )
        .withColumn(
            "share_permille",
            # nullif: Spark's DIV raises under ANSI on a zero divisor
            # while DuckDB's // yields NULL — NULL-share semantics for a
            # zero-revenue year keeps both engines identical.
            F.expr("(1000 * target_cents) DIV nullif(all_cents, 0)").cast("long"),
        )
        .orderBy("o_year")
    )


def q_q9_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (adapted: the fixture has no partsupp, so cost is
    10% of p_retailprice per unit): profit on '%gear%' parts by supplier
    nation and order year. lineitem ⋈ orders is the one unavoidable
    shuffle join; part/supplier are AQE-chosen. Profit is exact integer cents:
    floor(price·100) − floor(qty·retail·10) row-wise on both engines."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    profit = _cents(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ) - F.floor(F.col("l_quantity") * F.col("p_retailprice") * 10).cast("long")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit).cast("long").alias("profit_cents"))
        .orderBy("supp_nation", F.desc("o_year"))
    )


def q_q12_late_priority(spark, sf_dir):
    """TPC-H Q12 shape (adapted: the fixture has no l_shipmode or
    commit/receipt dates, so "late" = shipped >30 days after the order
    and the group key is l_linestatus): high- vs low-priority order
    counts among 1996 late shipments. One big-big join on the order
    key; priorities fold as conditional sums in a single aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: distribution of per-customer order counts, keeping
    zero-order customers via a left outer join. Two aggregations; the
    second one's input is tiny (one row per customer), so the only real
    shuffle is the custkey join + first groupBy — which share a
    partitioning Spark reuses."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (adapted: no partsupp table, so the part↔supplier
    relation observed in lineitem stands in for it): distinct suppliers
    per (brand, type, size) over selected sizes, excluding one brand and
    the PROMO type. The part dim is AQE-chosen (auto-broadcast under
    threshold); the count-distinct dedups (partkey,suppkey) pairs
    before counting."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape (adapted: no partsupp availqty, so the threshold
    is self-relative): suppliers whose 1996 shipped quantity of '%gear%'
    parts exceeds 1.5× the per-supplier average of that same aggregate.
    The comparison is exact integer arithmetic (2·qty·n > 3·Σqty), immune
    to float-division ties; the supplier name join is AQE-chosen."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    per_supp = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.floor(F.sum("l_quantity")).cast("long").alias("gear_qty"))
    )
    tot = per_supp.agg(
        F.sum("gear_qty").alias("_sum_qty"), F.count(F.lit(1)).alias("_n_supp")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("gear_qty") * F.col("_n_supp") > 3 * F.col("_sum_qty"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "gear_qty")
        .orderBy("s_suppkey")
    )


def q_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (adapted: "late" = shipped >60 days after the
    order date, since the fixture has no commit/receipt dates):
    suppliers who were the only late shipper on a completed
    multi-supplier order. The literal exists/not-exists self-join pair
    would re-shuffle the fact table twice; both predicates instead
    collapse into ONE per-order aggregate — "some other supplier
    exists" ⟺ countDistinct(supplier) > 1, "no other late supplier" ⟺
    countDistinct(late supplier) = 1, and max(late supplier) names the
    sole offender — so lineitem is scanned and shuffled exactly once,
    on l_orderkey, the co-partitionable 100 TB shape."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late_supp = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.col("l_suppkey"),
    )
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("_n_supp"),
            F.countDistinct(late_supp).alias("_n_late"),
            F.max(late_supp).alias("_late_supp"),
        )
        .filter((F.col("_n_late") == 1) & (F.col("_n_supp") > 1))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(s, F.col("_late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


def q_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (adapted: the fixture has no c_phone, so the
    cohort is three market segments): per-segment count and balance of
    above-average-balance customers who never ordered. The average
    comparison is the exact cross-multiplied integer form
    (cents·n > Σcents), so no float boundary row can flip between
    engines; the anti-join against recent orders dedups keys first
    ("dormant" = no order since 2000 — the fixture's order generator
    gives every customer some order, so the literal no-orders-ever
    cohort would be empty)."""
    segs = ("AUTOMOBILE", "BUILDING", "FURNITURE")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(*segs))
        .select("c_custkey", "c_mktsegment", _cents("c_acctbal").alias("bal_cents"))
    )
    pos = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("_sum_bal"), F.count(F.lit(1)).alias("_n_bal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("_n_bal") > F.col("_sum_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").cast("long").alias("totacctbal_cents"),
        )
        .orderBy("c_mktsegment")
    )


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): each stage
    counts users whose earliest qualifying event follows their previous
    stage's earliest time. ONE scan and one hash-partitioning: three
    stacked window-mins over the same user_id partitioning (Spark
    reuses the exchange+sort), then a per-user collapse and three
    conditional counts — versus the naive three-scan, join-chained
    plan (13 exchanges; this one plans 2)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").cast("long").alias("n_view"),
        F.count("t2").cast("long").alias("n_click_after_view"),
        F.count("t3").cast("long").alias("n_purchase_after_click"),
    )


def q_window_funnel(spark, sf_dir):
    """ClickHouse ``windowFunnel(3600)(ts, view, click, purchase)``
    analog (operators/temporal.py::window_funnel — anchor-maximized
    strict chains within a 1-hour window; k−1 equi-joins on user_id,
    no inequality-only join, no per-group UDF). Reported as the level
    histogram — the funnel chart's exact input."""
    from adguard2clickhouse_spark.operators import temporal as _temporal

    ev = _t(spark, sf_dir, "events")
    lv = _temporal.window_funnel(
        ev,
        [F.col("event_type") == s for s in ("view", "click", "purchase")],
        window_seconds=3600,
        ts_col="ts",
        by="user_id",
    )
    return lv.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def q_retention_flags(spark, sf_dir):
    """ClickHouse ``retention(signup, purchase, error)`` analog
    (operators/temporal.py::retention): per-user flags r1 = cond1
    ever, ri = cond1 AND condi — one conditional-max groupBy, a
    single shuffle. Reported as the summed retention vector (the
    funnel-denominator row a dashboard plots)."""
    from adguard2clickhouse_spark.operators import temporal as _temporal

    ev = _t(spark, sf_dir, "events")
    r = _temporal.retention(
        ev,
        [F.col("event_type") == s for s in ("signup", "purchase", "error")],
        by="user_id",
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("r1").cast("long").alias("n_signup"),
        F.sum("r2").cast("long").alias("n_signup_purchase"),
        F.sum("r3").cast("long").alias("n_signup_error"),
    )


def q_sequence_match(spark, sf_dir):
    """ClickHouse ``sequenceMatch('(?1).*(?2).*(?3)')`` analog
    (operators/temporal.py::sequence_match — greedy chained mins,
    exact by the re-timing argument; k−1 equi-joins on user_id).
    Reported as matched/unmatched user counts."""
    from adguard2clickhouse_spark.operators import temporal as _temporal

    ev = _t(spark, sf_dir, "events")
    m = _temporal.sequence_match(
        ev,
        [F.col("event_type") == s for s in ("view", "click", "purchase")],
        ts_col="ts",
        by="user_id",
    )
    return m.groupBy("matched").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def q_sequence_count(spark, sf_dir):
    """ClickHouse ``sequenceCount('(?1).*(?2).*(?3)')`` analog
    (operators/temporal.py::sequence_count): per user, the maximum
    number of disjoint view→click→purchase chains — earliest-
    completion greedy via the sanctioned grouped-stateful path
    (applyInPandas over pre-bitmasked events, np.searchsorted per
    match). The oracle replays the same greedy as a recursive CTE of
    nested correlated mins."""
    from adguard2clickhouse_spark.operators import temporal as _temporal

    ev = _t(spark, sf_dir, "events")
    return _temporal.sequence_count(
        ev,
        [F.col("event_type") == s for s in ("view", "click", "purchase")],
        ts_col="ts",
        by="user_id",
    )


def q_summap_daily(spark, sf_dir):
    """ClickHouse ``sumMap`` analog (operators/chagg.py::sum_map):
    per-(user, day) event-type counters packed into paired arrays,
    then Map-summed per user across days — the open-key-set rollup
    ClickHouse MVs use sumMap for. The result arrays are exploded
    back to rows so the driver oracle (a plain two-key count) hash-
    gates the whole pack → fold → unpack path."""
    from adguard2clickhouse_spark.operators import chagg as _chagg

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("_n"))
    arrs = (
        daily.groupBy("user_id", "day")
        .agg(F.sort_array(F.collect_list(F.struct("event_type", "_n"))).alias("_p"))
        .select(
            "user_id",
            F.transform("_p", lambda p: p["event_type"]).alias("keys"),
            F.transform("_p", lambda p: p["_n"]).alias("vals"),
        )
    )
    m = _chagg.sum_map(arrs, by=["user_id"])
    return m.select(
        "user_id", F.explode(F.arrays_zip("keys", "vals")).alias("_kv")
    ).select(
        "user_id",
        F.col("_kv.keys").alias("event_type"),
        F.col("_kv.vals").cast("long").alias("n_events"),
    )


def q_max_concurrent(spark, sf_dir):
    """ClickHouse ``maxIntersections``/``maxIntersectionsPosition``
    analog (operators/intervals.py::max_intersections): per day, the
    peak number of simultaneously-active users (closed activity
    interval = [first event, last event] of the user's day, epoch
    micros) and the earliest instant the peak is reached. The sweep is
    partitioned by day — intervals never cross the partition key, so
    the sort window shards cleanly at corpus scale."""
    from adguard2clickhouse_spark.operators import intervals as _iv

    ev = _t(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.unix_micros(F.min("ts")).alias("start"),
        F.unix_micros(F.max("ts")).alias("end"),
    )
    out = _iv.max_intersections(iv, by="day")
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("max_intersections").alias("max_concurrent"),
        F.col("at").cast("long").alias("at_us"),
    )


def q_active_time(spark, sf_dir):
    """ClickHouse ``intervalLengthSum`` analog
    (operators/intervals.py::interval_length_sum): per user, the union
    length (epoch micros) of the user's per-(day, event_type) activity
    intervals — overlapping activity across event types on the same
    day counts once. Gaps-and-islands on the user_id sort window."""
    from adguard2clickhouse_spark.operators import intervals as _iv

    ev = _t(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.unix_micros(F.min("ts")).alias("start"),
        F.unix_micros(F.max("ts")).alias("end"),
    )
    out = _iv.interval_length_sum(iv, by="user_id")
    return out.select(
        "user_id", F.col("interval_length_sum").cast("long").alias("active_us")
    )


def q_delta_sum(spark, sf_dir):
    """ClickHouse ``deltaSumTimestamp`` analog
    (operators/intervals.py::delta_sum): per user, the sum of positive
    consecutive deltas of ``value`` in (ts, event_id) order, in exact
    integer cents — the restart-tolerant monotone-counter total."""
    from adguard2clickhouse_spark.operators import intervals as _iv

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = _iv.delta_sum(
        ev, value_col="cents", order_col=["ts", "event_id"], by="user_id"
    )
    return out.select(
        "user_id", F.col("delta_sum").cast("long").alias("delta_cents")
    )


def q_daily_fill(spark, sf_dir):
    """ClickHouse ``ORDER BY day WITH FILL STEP 1 day`` analog
    (operators/intervals.py::with_fill): daily event counts per
    event_type over the gap-free global [min day, max day] axis,
    missing days zero-filled — the axis bounds ride a 1-row broadcast,
    the fill is a sequence explode + left join."""
    from adguard2clickhouse_spark.operators import intervals as _iv

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    filled = _iv.with_fill(
        counts,
        "day",
        F.expr("interval 1 day"),
        partition_cols=["event_type"],
        defaults={"n": 0},
    )
    return filled.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_events"),
    )


def q_lttb_downsample(spark, sf_dir):
    """Largest-Triangle-Three-Buckets downsampling (ClickHouse
    ``largestTriangleThreeBuckets`` family; operators/timeseries.py::
    lttb, the parallel bucket-average variant): each user's
    (epoch-micros, cents) value series reduced to first + last + one
    max-triangle point per each of 20 equal-count buckets. All area
    arithmetic is integer-exact (decimal(38,0) vs the oracle's
    HUGEINT), so the selected points replay bit-identically."""
    from adguard2clickhouse_spark.operators import timeseries as _ts

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "user_id", F.unix_micros(F.col("ts")).alias("t_us")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    out = _ts.lttb(
        series, t_col="t_us", v_col="cents", n_buckets=20, by="user_id"
    )
    return out.select(
        "user_id",
        F.col("t_us").cast("long").alias("t_us"),
        F.col("cents").cast("long").alias("cents"),
    )


def q_retention(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-seen week,
    counted per week-offset of later activity. Two aggregates and one
    join on user_id — the classic cohort matrix at any scale."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.col("cohort"),
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def q_source_report(spark, sf_dir):
    """Per-source corpus report — the dashboard a curation run reads:
    doc counts, token/char volume, quality keep-rate. One narrow
    aggregate over the quality features."""
    docs = _t(spark, sf_dir, "documents")
    qf = text.quality_features(docs).select("doc_id", "n_tokens", "n_chars", "quality_keep")
    return (
        docs.select("doc_id", "source")
        .join(qf, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.floor(
                F.sum(F.when(F.col("quality_keep"), 1).otherwise(0))
                * 1000
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("keep_permille"),
        )
    )


def q_span_scrub(spark, sf_dir):
    """Substring-level dedup under the hash gate: repeated spans of ≥8
    tokens (k-gram frequency ≥2 corpus-wide, gaps-and-islands runs,
    coverage removal, position-ordered reassembly) — the distributed
    stand-in for suffix-array exact-substring dedup, replayed end to
    end by the DuckDB oracle via the portable md5 k-gram hash."""
    from adguard2clickhouse_spark.operators.spans import repeated_span_scrub

    out = repeated_span_scrub(_t(spark, sf_dir, "documents"), portable=True)
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("cleaned").alias("cleaned_md5")
    )


def q_common_ngrams(spark, sf_dir):
    """Boilerplate exposure: permille of each doc's distinct 3-grams
    occurring in ≥2 docs corpus-wide. Hashed inverted index, linear —
    no self-join; the oracle replays it over string shingles (counts
    agree because the 64-bit shingle hash is collision-free here)."""
    return text.common_ngram_density(_t(spark, sf_dir, "documents"))


def q_transitions(spark, sf_dir):
    """Event-sequence mining: per-user consecutive (prev → next) type
    transition counts via one ordered window — the Markov-matrix
    building block of behavioral analytics."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            "event_type",
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


def q_det_shuffle(spark, sf_dir):
    """Reproducible epoch shuffle: (shard, pos) as a pure function of
    doc_id — hash spread across shards, md5 rank within. One shuffle on
    the shard key; never a global window."""
    from adguard2clickhouse_spark.operators.sampling import deterministic_shuffle

    return deterministic_shuffle(_t(spark, sf_dir, "documents")).select(
        "doc_id", "shard", "pos"
    )


def q_zorder_key(spark, sf_dir):
    """Z-order layout key (plans/zorder.py) under the hash gate: the
    Morton interleave of (order-date epoch-day, custkey) low 10 bits —
    pure integer bit arithmetic, replayed exactly by the oracle. The
    write-side plan (range-partition + sort on this key) is what makes
    parquet min/max stats prune on BOTH dimensions at corpus scale."""
    from adguard2clickhouse_spark.plans.zorder import zorder_key2

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    ).bitwiseAND(F.lit(1023))
    cust = F.col("o_custkey").bitwiseAND(F.lit(1023))
    return o.select(
        "o_orderkey", zorder_key2(day, cust, bits=10).alias("zkey")
    )


def q_correlated_scalar(spark, sf_dir):
    """Correlated scalar subqueries (Catalyst decorrelates to joins):
    customers above their nation's average balance. The comparison is
    pure integers — cents × group-count vs group-sum — so no float
    fold-order risk at the boundary."""
    c = _t(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c.c_custkey
        FROM {c} c
        WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT)
              * (SELECT count(*) FROM {c} c2
                 WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT sum(CAST(floor(c3.c_acctbal * 100) AS BIGINT))
                 FROM {c} c3 WHERE c3.c_nationkey = c.c_nationkey)
        """,
        c=c,
    )


def q_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS with grouping_id — the general form
    rollup/cube specialize. Sets: (status, priority), (status), ()."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """,
        o=o,
    )


def q_window_suite(spark, sf_dir):
    """The wider window-function surface in one query: ntile quartiles,
    percent_rank (permille-floored for exactness), first/last value
    over a running frame, lead — all per nation over customer balances."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return c.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nation"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 1000).cast("long").alias("pct_rank_permille"),
        F.first("c_custkey").over(wf).cast("long").alias("richest_key"),
        F.lead("c_custkey").over(w).cast("long").alias("next_key"),
    )


def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (operators/skew.py) under the hash
    gate. The join key is event_type — a handful of hot values owning
    ~12k rows each at sf0.01, exactly the shape where one reducer owns
    a key at corpus scale. The fat side scatters 8 ways on stable row
    attributes; the slim per-type stats replicate 8×. Salting is
    semantics-preserving for inner equi-joins, so the oracle is the
    PLAIN join — the gate proves salted ≡ unsalted on real data.
    """
    from adguard2clickhouse_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    type_stats = ev.groupBy("event_type").agg(
        F.floor(F.avg("value") * 1000).cast("long").alias("type_avg_permille")
    )
    joined = salted_join(
        ev, type_stats, on="event_type", salt=8, spread_cols=["event_id"]
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.floor(F.col("value") * 1000) > F.col("type_avg_permille"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_above_avg"),
    )


# ---------------------------------------------------------------------------
# Events analytics (streaming-shaped batch queries)
# ---------------------------------------------------------------------------

def q_sessions(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + cumulative
    new-session markers — the batch twin of stateful streaming).

    r12 profile (VERDICT r11 #4, dedicated session, interleaved
    median-of-7 noop at sf0.1): the plan is already minimal — ONE
    exchange on user_id, ONE sort, the groupBy(user_id) partial agg
    fuses above the window with no second exchange, ReadSchema is the
    3 needed columns. The one wart the profile found: writing
    ``lag(ts)`` twice inside ``when`` made Catalyst extract TWO window
    expressions (_we0/_we1 in the r11 plan) — staging the lag once in
    its own select leaves ONE lag in the Window op and measured
    0.308 → 0.282 s (bit-identical results).

    The gap is compared in microseconds: whole-second ``unix_timestamp``
    values put two events 1800.5 s apart in one session, while the
    oracle's fractional ``epoch()`` difference splits them."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    staged = ev.select(
        "user_id",
        us.alias("_t"),
        F.lag(us).over(w).alias("_prev"),
    )
    marked = staged.select(
        "user_id",
        F.when(
            F.col("_prev").isNull()
            | (F.col("_t") - F.col("_prev") > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return marked.groupBy("user_id").agg(
        F.sum("is_new").cast("long").alias("n_sessions")
    )


def q_sessions_native(spark, sf_dir):
    """Sessionization via Spark's NATIVE session_window — merge-if-
    within-gap (boundary: delta == gap merges, verified), one shuffle
    on user_id, per-session bounds and event counts. Hash-gated
    against the relational gaps-and-islands twin with exact integer
    microsecond deltas (epoch_us) so a boundary-exact event cannot
    diverge between engines — proving the built-in operator equals
    the lag/cumsum shape e_sessions and the stateful stream use."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def q_sessions_stream(spark, sf_dir):
    """The custom stateful streaming operator under the hash gate:
    applyInPandasWithState gap-sessionization (streaming/sessions.py)
    over the events table, streamed from parquet (the JSON-line
    streaming source is separately gated by c1_stream_pipeline).

    Determinism trick: one sentinel event per user at the GLOBAL
    max(ts) + gap + 1s closes every real session INLINE within the
    batch. The single global sentinel time matters: the end-of-run
    watermark is global_max - watermark_delay, which can never pass
    sentinel + gap, so the sentinels' own 1-event sessions sit in the
    state store unemitted instead of leaking via timeout (a per-user
    sentinel time would emit for every user idle > 1h before the
    corpus end — measured exactly that off-by-137 at sf0.01). The
    oracle computes the same sessions relationally (lag + cumulative
    new-session markers) over events alone — a hash match proves the
    stateful operator's gap semantics, second-truncated timestamps
    included."""
    import tempfile

    from adguard2clickhouse_spark.streaming.sessions import (
        SESSION_GAP_S,
        sessionize_stream,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    gmax = ev.agg(
        (F.max("ts") + F.expr(f"INTERVAL {SESSION_GAP_S + 1} SECONDS")).alias("ts")
    )
    sent = ev.select("user_id").distinct().crossJoin(F.broadcast(gmax))
    both = ev.unionByName(sent.select("user_id", "ts"))

    tmp = tempfile.mkdtemp(prefix="sess_stream_")
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    both.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(src)
    # State-store instances = shuffle partitions at stream start; the
    # gate fixture is tiny, so 4 stores beat 32 by pure setup cost
    # (results are partition-count independent).
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            sessionize_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _notify_stream("e_sessions_stream", q)
    res = spark.read.parquet(out)
    return res.select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_stats2_stream(spark, sf_dir):
    """A6 design (a) under the hash gate: the watermarked state-store
    window aggregate (streaming/windowed.py), availableNow over the
    bridged log2 stream. Append mode emits exactly the windows
    finalized by the end-of-run watermark (max event time − 1h) — a
    deterministic set the oracle replicates with a HAVING cutoff, so
    the hash match covers the state store, the watermark arithmetic,
    and the no-data flush batch."""
    import tempfile

    from adguard2clickhouse_spark.streaming.windowed import stats2_windowed_stream

    log2 = log2_from_events(spark, sf_dir).select("date_time", "IP", "IsFiltered")
    tmp = tempfile.mkdtemp(prefix="stats2_stream_")
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    # parquet transport keeps µs timestamps exact (JSON's default write
    # format truncates to ms — harmless for 10-min buckets but the
    # watermark cutoff should compare at source precision).
    log2.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "date_time TIMESTAMP, IP STRING, IsFiltered BOOLEAN"
    ).parquet(src)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            stats2_windowed_stream(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _notify_stream("a6_stats2_stream", q)
    return spark.read.parquet(out).select("IP", "date_time", "blocked", "visited")


def q_sessions_native_stream(spark, sf_dir):
    """Native session_window in STREAMING append mode under the hash
    gate: watermarked gap sessions over the events stream, availableNow
    — emits exactly the sessions finalized by the end-of-run watermark.
    The oracle replays the gaps-and-islands sessions and the cutoff:
    watermark = floor_ms(max ts) − 1 h (Spark tracks event-time stats
    in milliseconds), a session finalizes when its window end
    (last event + gap) is ≤ the watermark. Complements e_sessions_native
    (batch) and e_sessions_stream (applyInPandasWithState)."""
    import tempfile

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="sess_native_stream_")
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _notify_stream("e_sessions_native_stream", q)
    return spark.read.parquet(out).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join under the hash gate: click→purchase
    attribution (purchase within 30 min of the same user's click),
    both sides streamed availableNow from parquet. Inner joins emit on
    match, so the result is complete and the oracle is the plain batch
    interval join. The watermark ('2 hours') is what bounds state at
    production scale; it cannot change inner-join results."""
    import tempfile

    from adguard2clickhouse_spark.streaming.joins import interval_join_streams

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )

    tmp = tempfile.mkdtemp(prefix="ivj_stream_")
    csrc, psrc = os.path.join(tmp, "c"), os.path.join(tmp, "p")
    out, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    clicks.coalesce(1).write.mode("overwrite").parquet(csrc)
    purchases.coalesce(1).write.mode("overwrite").parquet(psrc)

    cs = spark.readStream.schema(
        "user_id BIGINT, click_id BIGINT, c_ts TIMESTAMP"
    ).parquet(csrc)
    ps = spark.readStream.schema(
        "user_id BIGINT, purchase_id BIGINT, p_ts TIMESTAMP"
    ).parquet(psrc)
    # Two state stores per partition for a stream-stream join: the
    # per-partition setup dominates at gate SF, so run it on 4.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            interval_join_streams(
                cs, ps, on="user_id", left_ts="c_ts", right_ts="p_ts",
                upper_seconds=1800, watermark="2 hours",
            )
            .select("user_id", "click_id", "purchase_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _notify_stream("e_stream_interval_join", q)
    return spark.read.parquet(out).select("user_id", "click_id", "purchase_id")


def q_stream_dedup(spark, sf_dir):
    """dropDuplicatesWithinWatermark under the hash gate — the
    streaming twin of exact dedup (streaming/dedupe.py), the front
    door against at-least-once re-delivery. The fixture doubles every
    event (two copies interleaved across files, like a replayed
    partition); the deduped output must be exactly the original event
    set. Duplicate rows are byte-identical, so whichever copy the
    state store keeps, the result is deterministic and the oracle is
    plain DISTINCT."""
    import tempfile

    from adguard2clickhouse_spark.streaming.dedupe import dedupe_stream

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    doubled = ev.unionByName(ev)
    tmp = tempfile.mkdtemp(prefix="dedup_stream_")
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    doubled.repartition(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP"
    ).parquet(src)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            dedupe_stream(stream, ["event_id"], "ts", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _notify_stream("e_stream_dedup", q)
    return spark.read.parquet(out).select("event_id", "user_id", "ts")


def q_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "signup", "purchase", "error"]
    pivoted = ev.groupBy("user_id").pivot("event_type", kinds).agg(
        F.count(F.lit(1))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(f"n_{k}") for k in kinds],
    )


def q_window_range_frame(spark, sf_dir):
    """§2.11: time-RANGE window frame — each event's trailing-1-hour
    per-user activity (count + value sum in integer permille). The
    frame is expressed over exact integer microseconds (unix_micros)
    so the interval arithmetic is engine-portable; Spark plans one
    hash exchange + sort, the same as any other window."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(F.floor(F.col("value") * 1000).cast("long"))
        .over(w)
        .alias("value_permille_1h"),
    )


_TS_QUERY_PAA = [500, 1500, 2500, 1500, 500, 100]


def q_ts_similarity(spark, sf_dir):
    """X13 time-series similarity (operators/timeseries.py): each
    (user, day) densifies to a 24-hour integer activity profile, PAA
    reduces it to 6 blocks, and the top-5 nearest user-days to a fixed
    query shape rank by exact squared Euclidean — integer math end to
    end, TakeOrderedAndProject. The PAA-then-verify skeleton is the
    same candidate-generation shape the dedup/ANN operators use."""
    from adguard2clickhouse_spark.operators.timeseries import (
        hourly_profiles,
        paa,
        ts_topk,
    )

    prof = paa(hourly_profiles(_t(spark, sf_dir, "events")), segments=6)
    out = ts_topk(prof, _TS_QUERY_PAA, k=5)
    # day as string: pandas renders Spark DATE and DuckDB DATE
    # differently ('2024-01-17' vs midnight Timestamp) — stringify for
    # the canonical compare
    return out.select("key", F.col("day").cast("string").alias("day"), "dist2")


def q_mad_outliers(spark, sf_dir):
    """X13 robust anomaly detection: events whose value deviates from
    their user's median by more than 3× the median absolute deviation.
    Median/MAD instead of mean/stddev on purpose — robust to the very
    outliers being hunted, and exact across engines (integer permille
    inputs; medians interpolate on .5 which doubles represent exactly,
    where stddev's sqrt would be a hash hazard). Two aggregate+join
    rounds on the user key; no window over raw floats."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v"),
    )
    med = ev.groupBy("user_id").agg(F.median("v").alias("_m"))
    dev = ev.join(med, "user_id").withColumn(
        "_ad", F.abs(F.col("v") - F.col("_m"))
    )
    mad = dev.groupBy("user_id").agg(F.median("_ad").alias("_mad"))
    return (
        dev.join(mad, "user_id")
        .filter(F.col("_ad") > 3 * F.col("_mad"))
        .select("event_id", "user_id", "v")
    )


def q_cdc_snapshot(spark, sf_dir):
    """Changelog application (CDC upsert/delete → snapshot): events as
    a change stream per user — 'purchase' rows act as deletes, all
    others as upserts carrying value — reduced to latest-wins by
    (ts, event_id) with one window, delete-latest keys dropped. The
    MERGE INTO shape every lakehouse table maintenance job runs,
    expressed as rank-and-filter (one shuffle on the key)."""
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        (F.col("user_id") % 100).alias("key"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("value") * 1000).cast("long").alias("val_permille"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = ch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return latest.filter(F.col("op") == "U").select("key", "val_permille")


def q_scd2(spark, sf_dir):
    """Slowly-changing-dimension type 2 build: each user's event_type
    changes become effective-dated rows [valid_from, valid_to) via one
    lag+lead pass — consecutive duplicates collapse first (true SCD2
    only versions actual changes), the open row carries NULL valid_to.
    One shuffle on the user key; the history table every warehouse
    derives from change feeds."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
        .drop("_prev")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


def q_ordered_agg(spark, sf_dir):
    """§2.11: order-sensitive + statistical aggregates per group —
    listagg(… ORDER BY), mode, median over exact integers. Ordered
    string aggregation is the classic 'needs a deterministic
    within-group order' trap; the ORDER BY clause makes it portable,
    and integer cents keep median exact across engines."""
    c = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100).cast("long")
    top = c.filter(F.col("c_custkey") <= 200).select(
        "c_nationkey", "c_custkey", cents.alias("bal_cents")
    )
    return (
        top.groupBy("c_nationkey")
        .agg(
            F.expr(
                "listagg(cast(c_custkey AS string), ',') "
                "WITHIN GROUP (ORDER BY c_custkey)"
            ).alias("custkeys"),
            F.median("bal_cents").cast("double").alias("bal_median_cents"),
            F.bool_and(F.col("bal_cents") > -100000000).alias("all_above_floor"),
        )
    )


def q_unpivot(spark, sf_dir):
    """§2.11: UNPIVOT (melt) — the pivot inverse, long-form metrics
    from wide columns via the native unpivot operator (a generate, no
    shuffle until the final aggregate)."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "signup", "purchase", "error"]
    wide = ev.groupBy("user_id").pivot("event_type", kinds).agg(
        F.count(F.lit(1))
    )
    wide = wide.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds],
    )
    long = wide.unpivot("user_id", kinds, "event_type", "n")
    return (
        long.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
    )


def q_lateral_topk(spark, sf_dir):
    """§2.11: correlated LATERAL subquery — top-2 customers by account
    balance per nation, the per-group-top-k shape expressed as SQL
    LATERAL (Catalyst decorrelates it into the same window/rank plan
    a hand-written query would use)."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal_cents
        FROM _lat_nation n,
        LATERAL (
          SELECT c_custkey,
                 CAST(floor(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents
          FROM _lat_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# Extension operators: dedup / text / similarity / multimodal
# ---------------------------------------------------------------------------

def q_dedup_groups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        text.fingerprint("text").alias("fingerprint"), F.col("doc_id")
    ).groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


def q_dedup_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.fingerprint_dedup(docs).agg(F.count(F.lit(1)).alias("n"))


def q_incremental_dedup(spark, sf_dir):
    """X1 at ingest time: the corpus hash-split 80/20 into history and
    an incoming batch (the same portable md5 bucketing as
    x7_hash_split); `incremental_dedup` admits incoming docs that are
    new within the batch AND unseen in the historical digest set. The
    history side is digests only — the 100 TB shape."""
    from adguard2clickhouse_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    seen = dedup.corpus_fingerprints(docs.filter(b < 8000))
    return dedup.incremental_dedup(docs.filter(b >= 8000), seen).select(
        "doc_id", "lang", "source"
    )


def q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


def q_quality(spark, sf_dir):
    return text.quality_features(_t(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.lang_id("text").alias("lang_guess"))


def q_dup_novelty(spark, sf_dir):
    """X4/X2 substring-level duplication report
    (operators/dedup.py::duplicated_ngram_stats): per-doc duplicated
    n-gram mass + first-occurrence novelty, integer permille."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_ngram_stats(docs, n=3)


def q_ngram_containment(spark, sf_dir):
    """X2 asymmetric near-dup: smaller-side shingle containment ≥ 0.5
    (operators/dedup.py::ngram_containment_pairs) — excerpt/subset
    detection symmetric Jaccard misses. Exact integer permille."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_containment_pairs(docs, n=3, threshold=0.5)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        "containment_permille",
    )


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
    )


def q_ngram_jaccard_ppjoin(spark, sf_dir):
    """X2a by the OTHER exact algorithm: PPJoin-style prefix filtering
    (index only each doc's |d|−⌈t·|d|⌉+1 rarest shingle hashes under a
    global (df, hash) order; array_intersect verify; length filter in
    the candidate join). Bit-identical output to x2_ngram_jaccard —
    same oracle — kept registered so the inverted-index-vs-prefix
    trade stays measured at every scale instead of being a one-time
    docstring claim (VERDICT r5 #6)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_ppjoin(docs, n=3, threshold=0.8)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
    )


def q_ngram_jaccard_reroute(spark, sf_dir):
    """X2a through the r10 overflow REROUTE (VERDICT r9 ask #2): a
    deliberately-tripping candidate cap (max_candidate_pairs=1) with
    ``on_overflow='reroute'`` dispatches to the PPJoin twin instead of
    the sized refusal. Bit-identical answers by construction, so the
    oracle is the SAME relational query as x2_ngram_jaccard — the
    reroute's exactness is hash-gated at driver SF, not just asserted
    at pytest fixture scale."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8,
        max_candidate_pairs=1, on_overflow="reroute",
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
    )


def q_ngram_jaccard_auto(spark, sf_dir):
    """X2a through the strategy DISPATCHER (VERDICT r6 #5 made the
    PPJoin crossover actionable): ``strategy='auto'`` measures the
    corpus posting mass with one map-only aggregate and picks the
    inverted index below the measured crossover, PPJoin above it —
    both bit-identical, so the oracle is the same relational query.
    Registered so the auto pick itself is driver-exercised, not just
    pytest-exercised."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8, strategy="auto")
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
    )


def q_threshold_sweep(spark, sf_dir):
    """Dedup-threshold tuning report
    (operators/dedup.py::jaccard_threshold_sweep): cumulative pair
    counts at six Jaccard cutoffs from ONE inverted-index pass at the
    lowest — the sweep a curation run does before committing to a
    threshold. Exact integer compares; oracle replays the pair CTE and
    the bucketing."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_threshold_sweep(docs, n=3)


def q_ngram_jaccard_capped(spark, sf_dir):
    """X2a at scale settings: the document-frequency-capped inverted
    index (the cap drops boilerplate shingles from the JOIN only, so a
    shingle in m docs can no longer contribute m²/2 candidate pairs —
    the plan that survives a hot-shingle corpus). The cap is a RATIO
    of corpus size (1% of docs — the r4 absolute cap of 50 silently
    zeroed recall on the 10×/100× replicas where typical df scales
    with the corpus; 'boilerplate' must mean 'more than a fixed share
    of the corpus' at every scale). The oracle applies the identical
    relational cap incl. the scalar-subquery corpus count, so this is
    hash-gated, not rows-only: precision preservation is proven, not
    asserted."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_df_ratio=0.01)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
    )


def q_minhash_lsh(spark, sf_dir):
    """Rows-only check (xxhash64 has no DuckDB twin); the exact-gated
    variant of the identical pipeline is x2_minhash_lsh_md5."""
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def q_minhash_lsh_md5(spark, sf_dir):
    """X2b under the hash gate: the same banded MinHash LSH pipeline
    with the engine-portable md5 minhash — signatures, banding,
    candidate join, and the est-Jaccard readback all replayed exactly
    by the DuckDB oracle."""
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), portable=True)


def q_simhash(spark, sf_dir):
    """Rows-only check (xxhash64 has no DuckDB twin); the exact-gated
    variant of the identical pipeline is x2_simhash_md5."""
    return dedup.simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=8)


def q_simhash_md5(spark, sf_dir):
    """X2c under the hash gate: the full SimHash pipeline — 60-bit md5
    sketch, 9-band pigeonhole candidate join, Hamming verify — replayed
    bit-identically by the DuckDB oracle."""
    return dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=8, portable=True
    )


def q_winnow(spark, sf_dir):
    """Rows-only: winnowing fingerprint sets (rolling-hash selection;
    xxhash64 has no DuckDB twin — the exact-gated variant of the
    identical selection is x2_winnow_md5)."""
    return dedup.winnow_fingerprints(_t(spark, sf_dir, "documents"))


def q_winnow_md5(spark, sf_dir):
    """X2e under the hash gate: winnowing with the portable md5 k-gram
    hash — positional hashing, window minima, distinct selection all
    replayed by the DuckDB oracle."""
    return dedup.winnow_fingerprints(_t(spark, sf_dir, "documents"), portable=True)


def _query_vec(spark, sf_dir, vec_id: int = 0) -> list[float]:
    emb = _t(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == vec_id).head().embedding)


def q_topk_cosine(spark, sf_dir):
    """Top-k never sorts globally: orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heap of k), and the rank
    window runs over the k surviving rows only — the global WindowExec
    a naive rank-then-filter would run is a single-partition sort of
    the whole corpus at scale.

    The query vector stays IN-PLAN (r15): the previous form fetched it
    with a driver-side 1-row head() at construction — a whole extra
    Spark job (scan + collect + analysis round-trip) per invocation,
    ~0.21 s of the sf0.1 headline (measured A/B: 0.666 → 0.452 s
    median-of-7, parity exact). A broadcast cross-join of the
    pushdown-filtered 1-row frame fuses the fetch into the main job;
    the cosine arithmetic is unchanged (same stored values, column
    reference instead of literals). The other _query_vec callers need
    driver-side floats (dims, quantizer training) and keep the bounded
    1-row probe."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qvec")
    )
    scored = emb.crossJoin(F.broadcast(qrow)).select(
        "vec_id",
        similarity.cosine(F.col("embedding"), F.col("_qvec")).alias("_sim"),
    )
    top = scored.orderBy(F.desc("_sim"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.desc("_sim"), F.asc("vec_id"))
    return top.select(
        "vec_id", F.row_number().over(w).cast("long").alias("rnk")
    )


def q_knn_join(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    res = similarity.knn_join(queries, emb, k=3)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rnk")
    )


def q_hard_negatives(spark, sf_dir):
    """X3 training-data mining: top-3 most-similar DIFFERENT-label
    vectors per query — the hard negatives contrastive training feeds
    on (operators/similarity.py::hard_negatives). Same broadcast+rank
    plan as knn, label mismatch filtered before ranking; exact cosine
    ties on neighbor_id keep the ranking hash-gateable."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    res = similarity.hard_negatives(emb, queries=queries, k=3)
    return res.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rnk")
    )


def q_pq_topk(spark, sf_dir):
    """X3 product quantization (round 4): 32x-compressed codes (m=8
    subspaces x 16 centroids, numpy k-means on a bounded deterministic
    sample), codegen'd JVM encode (argmin over codebook literals, no
    UDF), ADC shortlist over CODES ONLY, exact rerank of the
    shortlist. Rows-only: float k-means codebooks have no SQL twin;
    the recall gate (reranked recall@10 >= 7/10 vs exact) lives in
    tests/test_similarity_guard.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    books = similarity.pq_train(emb, m=8, k=16)
    enc = similarity.pq_encode(emb, books)
    return similarity.pq_topk_rerank(enc, emb, q, books, k_results=10)


def q_ivfadc_topk(spark, sf_dir):
    """X3 IVFADC (round 4): the FAISS billion-scale layout composed
    from the ivf_* and pq_* primitives - Lloyd cells, PQ codes over
    RESIDUALS, per-cell ADC tables, exact rerank of the shortlist.
    Rows-only; recall gate in tests/test_similarity_guard.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    index, cents, books = similarity.ivfadc_build(emb, n_cells=16, m=8, k=16)
    return similarity.ivfadc_topk(index, emb, q, cents, books, k_results=10, nprobe=8)


def q_lsh_topk(spark, sf_dir):
    """Rows-only (approximate recall by construction); the exact-gated
    single-table twin is x3_lsh_topk_portable."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return similarity.lsh_bucketed_topk(emb, q, k=10)


def q_lsh_topk_portable(spark, sf_dir):
    """X3's LSH probe under the hash gate: strict-fold sign signatures
    against literal hyperplanes, Hamming-radius candidate filter, exact
    cosine rank — every step replayed in DuckDB with the same plane
    literals and fold order."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return similarity.lsh_topk_portable(emb, q, k=10)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup end-to-end: exact embedding
    near-dup pairs (cos ≥ 0.35) as edges → connected components
    (hash-min label propagation, graph.py) → keep the min-id
    representative per cluster. At scale the pairs stage swaps to the
    LSH candidate path (embedding_dup_pairs_lsh) unchanged; the oracle
    replays pairs + recursive transitive closure + min-id keep."""
    from adguard2clickhouse_spark.operators.graph import dedup_keep_representatives

    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_dup_pairs(emb, threshold=0.35)
    kept = dedup_keep_representatives(
        emb, pairs, id_col="vec_id", src_col="id_a", dst_col="id_b"
    )
    return kept.select("vec_id", F.col("label").cast("long").alias("label"))


def q_semantic_dedup_lsh(spark, sf_dir):
    """Rows-only: the SCALE form of x2_semantic_dedup_keep — the exact
    all-pairs cosine edge stage swaps for the auto-bits sign-LSH
    candidate path (similarity.embedding_dup_pairs_lsh, O(n) bucketed
    candidates), then the identical closure + min-id keep. Registered
    so the documented "swaps in at scale" claim is an executing,
    driver-checked pipeline rather than prose; pytest gates the dedup
    property against the exact form (near-identical vectors never both
    kept, keep-set ⊆ ids)."""
    import math

    import pyarrow.parquet as _pq

    from adguard2clickhouse_spark.operators.graph import (
        dedup_keep_representatives,
    )

    n = _pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    bits = max(6, min(16, math.ceil(math.log2(max(n, 2) / 64))))
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_dup_pairs_lsh(
        emb, threshold=0.35, bits=bits, n_tables=8,
        dim=len(_query_vec(spark, sf_dir, 0)), max_bucket=256,
    )
    kept = dedup_keep_representatives(
        emb, pairs, id_col="vec_id", src_col="id_a", dst_col="id_b"
    )
    return kept.select("vec_id", F.col("label").cast("long").alias("label"))


def q_radius_search(spark, sf_dir):
    """X3's second canonical query type beside top-k: ALL vectors
    within a cosine radius of the query (the shape retrieval filters
    and near-dup lookups use when k is unknown). Narrow projection +
    one filter; the radius compare runs on the already-floored integer
    permille, so it is exact by construction on both engines (the
    underlying double cosine is bit-identical, proven by the
    x2_embedding_dup family)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = [(1.0 if i % 7 == 0 else 0.1) for i in range(64)]
    qc = F.array(*[F.lit(float(x)) for x in q])
    sim = similarity.cosine(F.col("embedding"), qc)
    return (
        emb.select(
            "vec_id", F.floor(sim * 1000).cast("long").alias("sim_permille")
        )
        .filter(F.col("sim_permille") >= 200)
    )


def q_source_similarity(spark, sf_dir):
    """Corpus-drift report: pairwise source similarity by vocabulary
    overlap — Jaccard over each source's distinct token set, exact
    integer permille. The inverted-index self-join keyed on the token
    (the ngram_jaccard plan at source granularity: |sources|² pairs is
    tiny, the shuffle carries (token, source) pairs)."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    a = toks.select(F.col("source").alias("src_a"), "tok")
    b = toks.select(F.col("source").alias("src_b"), "tok")
    common = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("_n").alias("_nb"))
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("common").cast("long").alias("common"),
            F.expr("(1000 * common) DIV (_na + _nb - common)")
            .cast("long")
            .alias("jaccard_permille"),
        )
    )


def q_embedding_dup_brp_ml(spark, sf_dir):
    """Rows-only: the stock pyspark.ml BucketedRandomProjectionLSH
    recipe (SURVEY §2.12's literal X2/X3 mapping) with exact-cosine
    re-verify — precision 1 vs x2_embedding_dup by construction;
    recall ≥0.9 gated in tests/test_ml_compat.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs_brp_ml(
        emb, threshold=0.35, num_hash_tables=4, bucket_length=2.0
    )


def q_minhash_lsh_ml(spark, sf_dir):
    """Rows-only: the stock pyspark.ml MinHashLSH approxSimilarityJoin
    recipe over hashed-shingle binary vectors; recall ≥0.9 vs the exact
    inverted-index Jaccard join gated in tests/test_ml_compat.py."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_ml_pairs(docs, n=3, threshold=0.8)


def q_embedding_dup(spark, sf_dir):
    """X2d exact embedding-cosine near-dup pairs. Threshold 0.35 sits
    ≥1e-6 from every pairwise sim at all SFs (verified), so the
    cross-engine comparison cannot flip at the boundary."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs(emb, threshold=0.35)


def q_embedding_dup_lsh(spark, sf_dir):
    """Rows-only: LSH candidate generation + exact verify (recall < 1).

    bits/tables tuned for the demo threshold 0.35 (per-bit collision
    p≈0.61 → 6-bit sigs, 8 tables ≈ 35% recall); production near-dup
    thresholds (≥0.9, p≈0.86) reach >90% recall with the same cost.

    Registered as ``x2_embedding_dup_lsh_reroute95`` (r11, retiring the
    weak-list demo): fixed bits are quadratic by construction (bucket
    occupancy ∝ n at constant 2^bits), so this entry carries
    ``on_overflow='reroute'`` — when the candidate-mass guard trips,
    the call re-dispatches to the auto-bits + max_bucket production
    policy. The reroute is LOSSY in recall, hence the contract in the
    name: measured 95.2% pair retention at the sf1 measurement point
    (BENCH_reroute_r10.json), precision stays 1 (every reported pair is
    exact-cosine verified). At the test SFs the guard never trips and
    the plain fixed-bits result is returned unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs_lsh(
        emb, threshold=0.35, bits=6, n_tables=8,
        dim=len(_query_vec(spark, sf_dir, 0)),
        on_overflow="reroute",
    )


def q_embedding_dup_lsh_capped(spark, sf_dir):
    """Rows-only: the LINEAR-scaling production form of embedding LSH
    near-dup. Two levers vs the fixed-bits demo query:

    - bits auto-scale with corpus size, bits = clamp(6..16,
      ceil(log2(n / 64))), read from the parquet FOOTER (driver-side
      metadata, no Spark action) — buckets stay ~64 vectors as n
      grows, so candidate pairs are ~(64/2)·n·n_tables = O(n) instead
      of the fixed-bits O(n²/2^bits).
    - max_bucket=256 drops skew-exploded buckets from the join (the
      max_df move; recall-only effect, verified pairs stay exact).

    What auto-bits costs: recall on MARGINAL pairs (cos≈threshold)
    drops as bits grow — but true duplicates (cos→1) collide in
    every table at ANY bit width (p(bit agrees)→1), so the pairs a
    dedup run exists to find survive the scaling; the quadratic
    candidate noise near the threshold is what gets pruned. At the
    test SFs (n≤2000) auto-bits resolves to the demo's 6 bits, so
    the recall gate (tests/test_extensions.py::
    test_embedding_lsh_capped_recall) measures the same ~0.4 recall
    as the uncapped demo query.
    """
    import math

    import pyarrow.parquet as _pq

    n = _pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    bits = max(6, min(16, math.ceil(math.log2(max(n, 2) / 64))))
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs_lsh(
        emb, threshold=0.35, bits=bits, n_tables=8,
        dim=len(_query_vec(spark, sf_dir, 0)), max_bucket=256,
    )


def q_embedding_dup_lsh_portable(spark, sf_dir):
    """X2d's LSH path under the hash gate: strict-fold sign signatures
    (literal hyperplanes), signature-equality buckets, exact cosine
    verify — the whole candidate-generate + verify pipeline replayed
    in DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs_lsh_portable(
        emb, threshold=0.35, bits=6, dim=len(_query_vec(spark, sf_dir, 0))
    )


def q_ivf_topk(spark, sf_dir):
    """Rows-only: IVF coarse-quantizer probe (nprobe cells scanned)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return similarity.ivf_topk(emb, q, k=10, n_cells=16, nprobe=4)


def q_quantize_int8(spark, sf_dir):
    """X3 storage path under the hash gate: symmetric per-vector int8
    quantization (clamped integer floor at scale amax/127). The driver
    output is scalar per-vector summaries of the quantized array (the
    harness cannot canonicalize list columns); the oracle replays the
    full quantization with DuckDB list_transform."""
    emb = similarity.quantize_embeddings_int8(_t(spark, sf_dir, "embeddings"))
    qv = F.col("q_embedding")
    return emb.select(
        "vec_id",
        "q_scale_ppm",
        F.array_min(qv).cast("long").alias("q_min"),
        F.array_max(qv).cast("long").alias("q_max"),
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
    )


def q_doc_profile(spark, sf_dir):
    """X4 one-pass document profile: token counts, lang guess, and the
    normalized-md5 fingerprint (the rolling exact-dup key)."""
    prof = text.document_profile(_t(spark, sf_dir, "documents"))
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "lang_guess",
        "fingerprint",
    )


def q_media_features(spark, sf_dir):
    """X5: binary-column plumbing through mapInPandas (payload bytes
    hashed executor-side; oracle recomputes sha256 in DuckDB)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("fake").alias("format"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(0).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = multimodal.extract_features(media, stub=True)
    return feats.select("media_id", "n_bytes", "sha256")


def q_png_pixel_stats(spark, sf_dir):
    """X5 pixel decode under the hash gate, dependency-free: per doc_id
    a small RGB image with arithmetic pixel values is encoded as a real
    PNG (scanline filter CYCLES 0..4 per row) and decoded back by the
    stdlib codec (operators/pngcodec.py: zlib inflate + unfilter); the
    emitted per-channel sums come from the DECODED array. The oracle
    recomputes the sums from the pixel formula alone, so a hash match
    proves every one of the five PNG filters reconstructs exactly."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.png_pixel_stats_from_ids(docs, "doc_id")


def q_media_probe(spark, sf_dir):
    """X5 de-stubbed: REAL container decode. A deterministic corpus of
    genuinely valid PNG/JPEG/GIF/BMP/WAV files (headers derived from
    doc_id) is built executor-side, then probe_media parses the actual
    bytes — magic sniff, segment walk, dimension/duration extraction
    (operators/mediahdr.py). The oracle recomputes the expected fields
    arithmetically from doc_id, so a hash match proves the parser reads
    real file structures correctly."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.media_fixture_from_ids(docs, "doc_id")
    return multimodal.probe_media(media)


def q_hash_split(spark, sf_dir):
    """X7: deterministic md5-bucket train/val/test split — stable
    across runs/machines/partitionings, so re-ingestion can never leak
    eval docs into train. md5 (not xxhash64) so the oracle replicates
    the assignment bit-for-bit."""
    from adguard2clickhouse_spark.operators.sampling import hash_bucket, with_split

    docs = _t(spark, sf_dir, "documents")
    out = with_split(docs, "doc_id", val_permille=50, test_permille=50)
    return out.select("doc_id", hash_bucket("doc_id").alias("bucket"), "split")


def q_split_leakage_safe(spark, sf_dir):
    """X7 leakage-safe split: the md5 train/val/test bucket is taken
    over the NEAR-DUP CLUSTER representative (connected components of
    exact-Jaccard ≥ 0.8 pairs), so a near-duplicate can never straddle
    train and eval — the contamination mode a per-document split
    cannot prevent (two near-dups have independent ids, hence
    independent buckets). Singletons degenerate to x7_hash_split on
    their own id. Oracle: the x1_dedup_clusters recursive-CTE closure
    plus the identical md5-bucket arithmetic on the component.

    Edge build under the wall-budget policy (r13, with
    x1_dedup_clusters): above the candidate cap the edges come from
    the df-ratio-capped index instead of the exact PPJoin twin (which
    ran 454 s at sf10/8 GB for this query). For SPLIT ASSIGNMENT the
    capped semantics are the right trade: the only merges that can be
    lost are pairs whose entire similarity evidence is >1%-of-corpus
    boilerplate — not near-dups a leakage audit should chain on.
    Below the cap (all gate SFs): identical plan, oracle, hash."""
    from adguard2clickhouse_spark.operators.graph import connected_components
    from adguard2clickhouse_spark.operators.sampling import (
        hash_bucket,
        with_split_leakage_safe,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, on_overflow="reroute_capped"
    )
    comp = connected_components(docs.select("doc_id"), pairs)
    out = with_split_leakage_safe(docs.select("doc_id"), comp)
    return out.select(
        "doc_id",
        F.col("component").cast("long").alias("component"),
        hash_bucket("component").alias("bucket"),
        "split",
    )


def q_split_leakage_safe_minhash(spark, sf_dir):
    """X7 leakage-safe split, PRODUCTION-SCALE edges: identical split
    semantics to x7_split_leakage_safe but with the near-dup graph
    built from portable MinHash-LSH candidate pairs instead of exact
    Jaccard. Why it exists (r13, measured): at sf100 (5M docs) the
    marker corpus's exact candidate mass is 2.07e11 pairs and even the
    df-ratio cap sheds nothing (duplication there is family-structure,
    not boilerplate df), so the whole exact-Jaccard edge family
    correctly refuses — while the banded MinHash path completes the
    same corpus in ~51 s (BENCH_sf100_default_session_r13.json). This
    is the variant a 100 TB pipeline actually runs; every stage (md5
    minhash, banding, candidate join, closure, md5 bucket split)
    replays bit-identically in the DuckDB oracle."""
    from adguard2clickhouse_spark.operators.graph import connected_components
    from adguard2clickhouse_spark.operators.sampling import (
        hash_bucket,
        with_split_leakage_safe,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, portable=True).select("doc_a", "doc_b")
    comp = connected_components(docs.select("doc_id"), pairs)
    out = with_split_leakage_safe(docs.select("doc_id"), comp)
    return out.select(
        "doc_id",
        F.col("component").cast("long").alias("component"),
        hash_bucket("component").alias("bucket"),
        "split",
    )


def q_shard_export(spark, sf_dir):
    """X7 export under the hash gate: md5-split documents are written
    through the REAL shard sink (repartitioned by id-hash, split-
    partitioned, record-capped files) and the result is the read-back
    manifest folded per split — counts and id ranges of what a loader
    will actually see on disk, not writer intent. The oracle recomputes
    the split assignment arithmetically; a hash match proves the
    write→list→read-back loop loses and duplicates nothing."""
    import tempfile

    from adguard2clickhouse_spark.operators.sampling import with_split
    from adguard2clickhouse_spark.sinks.shards import (
        shard_manifest,
        write_training_shards,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = with_split(docs, "doc_id", val_permille=50, test_permille=50)
    tmp = tempfile.mkdtemp(prefix="shards_")
    # Corpus-aware record cap (r15, tranche-7 sweep find): the fixed
    # 64-records/file that exercises file splitting at driver SF
    # (600 docs → ~10 files) produced ~78,000 parquet files at sf100
    # (5M docs) — 498 s of pure file-creation overhead, a query-
    # parameterization artifact, not a sink hazard. Target ≤ ~256
    # data files at any SF while keeping the cap small enough at
    # driver SF that the capping path still executes. The manifest
    # fold (per-split counts + id ranges) is file-layout-independent,
    # so the oracle is unchanged. The count() is a 1-row metadata
    # aggregate of the same kind as the mass probes.
    n_docs = docs.count()
    write_training_shards(
        out, tmp, n_shards_per_split=4,
        max_records_per_file=max(64, n_docs // 256),
    )
    m = shard_manifest(spark, tmp)
    return (
        m.groupBy("split")
        .agg(
            F.sum("n_rows").cast("long").alias("n_records"),
            F.min("min_id").cast("long").alias("min_id"),
            F.max("max_id").cast("long").alias("max_id"),
        )
    )


def q_kfold(spark, sf_dir):
    """X7: leakage-safe k-fold assignment — fold is a pure md5
    function of the id (operators/sampling.py::with_fold), so no
    repartition/re-ingest can migrate a document across folds. Returns
    the assignment plus per-fold sizes via a grouping-sets-free
    union-less shape: one row per doc with its fold."""
    from adguard2clickhouse_spark.operators.sampling import with_fold

    docs = _t(spark, sf_dir, "documents")
    return with_fold(docs, k=5).select("doc_id", "fold")


def q_distinctive_terms(spark, sf_dir):
    """X4: idf-weighted distinctive terms, integer-exact (score =
    floor(tf·10⁶/df), monotone in log-idf) so the full ranking sits
    under the hash gate."""
    docs = _t(spark, sf_dir, "documents")
    return text.distinctive_terms(docs, k=3)


# Common-dialect (Spark SQL ∩ DuckDB) HTML synthesis for x4_html_clean:
# the corpus is plain text, so markup is wrapped around it by the SAME
# expression on both engines — the gate then proves the strip/decode
# chain itself, not that clean text passes through clean.
_HTML_SYNTH = (
    "'<html><!-- ' || lang || ' --><head><script type=\"text/js\">var s=\"' || "
    "source || '\";</script><style>p{color:red}</style></head><body><p>' || "
    "text || '</p><br/>&amp; &lt;tail&gt;&nbsp;©</body></html>'"
)


def q_html_clean(spark, sf_dir):
    """X4 curation: HTML stripping (script/style/comment blocks → tags
    → one-pass entity decode → whitespace collapse) as pure regexp
    built-ins (operators/scrub.py::clean_html), plus markup density
    (n_tags). Synthesis and cleaning both replayed in DuckDB."""
    from adguard2clickhouse_spark.operators.scrub import clean_html

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HTML_SYNTH).alias("html")
    )
    return clean_html(docs)


def q_pii_scrub(spark, sf_dir):
    """X4 curation: sequential regex PII redaction (email → SSN → IPv4
    → phone). The corpus has no PII, so the text is augmented with
    doc_id-derived synthetic PII by the SAME expression on both engines
    — the hash gate then proves the regexes match and redact
    identically, not just that zero counts equal zero counts."""
    from adguard2clickhouse_spark.operators.scrub import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    augmented = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach me at user"), sid, F.lit("@mail-"), sid,
            F.lit(".example.org or 10.20."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7, ssn 123-45-"), F.lpad(sid, 4, "0"),
            F.lit(", tel +1555000"), F.lpad(sid, 4, "0"),
        ).alias("text"),
    )
    out = scrub_pii(augmented)
    return out.select(
        "doc_id", F.md5("redacted").alias("redacted_md5"),
        "n_email", "n_ssn", "n_ipv4", "n_phone",
    )


def q_repetition(spark, sf_dir):
    """X4 curation: Gopher-style repetition metrics (unique-token,
    top-token, duplicate-bigram permille) — the filters that catch
    degenerate/machine-generated text before it poisons a corpus."""
    from adguard2clickhouse_spark.operators.repetition import repetition_metrics

    return repetition_metrics(_t(spark, sf_dir, "documents"))


def q_top_bigrams(spark, sf_dir):
    """X4 curation: corpus-level top-20 bigrams (boilerplate mining).
    Global top-k via orderBy+limit = TakeOrderedAndProject, never a
    full sort."""
    from adguard2clickhouse_spark.operators.repetition import corpus_ngram_counts

    out = corpus_ngram_counts(_t(spark, sf_dir, "documents"), n=2, k=20)
    return out.select(
        "ngram", F.col("cnt").cast("long").alias("cnt"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def q_bpe_pairs(spark, sf_dir):
    """X4 tokenization: first-iteration BPE pair statistics — adjacent
    character pairs weighted by word frequency, computed over DISTINCT
    words (operators/text.py::bpe_pair_counts) so the explode is
    O(vocab), not O(corpus tokens). Top-50 pairs, ties on the pair."""
    from adguard2clickhouse_spark.operators.text import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_n=50)


def q_bpe_train(spark, sf_dir):
    """X4 tokenization, rows-only: 8 iterations of distributed BPE
    merge training (operators/retrieval.py::bpe_train) — per-iteration
    pair stats on the distinct-word relation, 1-row argmax to the
    driver, JVM fold merge. The merge table is returned as rows;
    exact equivalence to the scan-index reference algorithm (merge
    sequence AND final symbolization) is pinned in pytest — a stronger
    check than a SQL twin, which cannot express the iteration."""
    from adguard2clickhouse_spark.operators.retrieval import bpe_train

    merges, _ = bpe_train(
        _t(spark, sf_dir, "documents"), n_merges=8, max_vocab_words=2000
    )
    return spark.createDataFrame(
        merges, "step LONG, left STRING, right STRING, weight LONG"
    )


# Fixed merge table for x4_bpe_encode: common-English pairs in learned
# order. Fixing it keeps the query a pure scan (no training loop) —
# the train→encode consistency is pinned in tests/test_retrieval.py.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def q_bpe_encode(spark, sf_dir):
    """X4 tokenization, rows-only: encode every document with a fixed
    BPE merge table. r14: runs the Arrow memoized kernel
    (retrieval.py::bpe_apply_arrow) — the expression form's nested
    interpreted HOF folds made it the engine's slowest sf100 completer
    (685 s; 42× slower at sf10) and BPE's word→tokens purity makes a
    per-task memo collapse the work to one encode per distinct word.
    Bit-identical to the all-JVM expression form (pinned in pytest);
    still zero shuffles. Rows-only: the iterative fold has no SQL
    twin."""
    from adguard2clickhouse_spark.operators.retrieval import bpe_apply_arrow

    out = bpe_apply_arrow(_t(spark, sf_dir, "documents"), _BPE_MERGES)
    return out.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe"),
        F.concat_ws("|", F.slice("bpe_tokens", 1, 10)).alias("head10"),
    )


def q_stratified_sample(spark, sf_dir):
    """X7 curation: exactly-k-per-language deterministic sample (md5
    rank inside each stratum) — reproducible corpus-mix rebalancing."""
    from adguard2clickhouse_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", 5).select("doc_id", "lang", "rnk")


def q_vocab(spark, sf_dir):
    """X4 tokenization: frequency-ranked vocabulary with dense ids —
    the first step of tokenizer training. Global top-N is
    TakeOrderedAndProject; id assignment windows over the N survivors
    only (operators/retrieval.py)."""
    from adguard2clickhouse_spark.operators.retrieval import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), vocab_size=50)


_VOCAB_CURVE_POINTS = [5, 10, 20, 30]


def q_vocab_coverage(spark, sf_dir):
    """X4 tokenization: the vocab-sizing curve — corpus-token coverage
    (permille) of the top-N vocabulary at several N. Token counting is
    the usual explode+groupBy; the cumulative sum windows over the
    DISTINCT-token relation only (bounded by vocab size, not corpus —
    same discipline as build_vocab's id window), then the fixed N
    thresholds read the running total."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = counts.select(
        F.row_number().over(w).alias("rnk"),
        F.sum("cnt").over(
            Window.orderBy(F.desc("cnt"), F.asc("token")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("cum"),
    )
    total = toks.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.filter(F.col("rnk").isin(_VOCAB_CURVE_POINTS))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rnk").cast("long").alias("n_vocab"),
            F.col("cum").cast("long").alias("cum_tokens"),
            F.floor(F.col("cum") * 1000 / F.col("_n"))
            .cast("long")
            .alias("coverage_permille"),
        )
    )


def q_oov_rate(spark, sf_dir):
    """X4 tokenization: per-source vocabulary coverage — token volume,
    OOV count, OOV permille against a top-200 corpus vocab
    (operators/retrieval.py::oov_rate). Tokens explode once,
    broadcast-left-join the vocab, one per-source aggregate."""
    from adguard2clickhouse_spark.operators.retrieval import build_vocab, oov_rate

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, vocab_size=200)
    return oov_rate(docs, vocab)


_TFIDF_QUERY = ["spark", "merge", "window", "vector", "scan"]


def q_tfidf_search(spark, sf_dir):
    """X4 retrieval: top-20 docs for a bag-of-words query under
    integer tf·idf (floor(tf·10⁶/df), monotone in log-idf). The token
    stream is filtered to the query terms before any aggregation, so
    df and the score join touch |query| keys."""
    from adguard2clickhouse_spark.operators.retrieval import tfidf_search

    return tfidf_search(_t(spark, sf_dir, "documents"), _TFIDF_QUERY, k=20)


def q_hashed_bow(spark, sf_dir):
    """X4 hashing-trick bag-of-words (round 4): token -> stable md5
    bucket in [0,64), counted per doc - the engine-portable feature
    map that connects the text tables to the vector operators. Exact
    integer rows, fully hash-gated."""
    from adguard2clickhouse_spark.operators.text import hashed_bow

    return hashed_bow(_t(spark, sf_dir, "documents"), dim=64)


def q_kmv_distinct(spark, sf_dir):
    """X6 KMV distinct sketch (round 4): engine-portable k-minimum-
    values over md5 60-bit hashes - unlike HLL, the sketch VALUES
    replay exactly in DuckDB, so an approximate-distinct estimator
    sits fully under the hash gate (kth hash + integer estimator)."""
    from adguard2clickhouse_spark.operators.sketch import kmv_sketch

    return kmv_sketch(_t(spark, sf_dir, "events"), "user_id", "event_type", k=64)


def q_unigram_logprob(spark, sf_dir):
    """X4 quality signal: per-document unigram LM log-probability
    (CCNet-shape filtering input). Per-vocab-term micro-log terms are
    floored to int64 BEFORE the per-doc sum, so the aggregation is
    order-independent and the DuckDB oracle replays it exactly."""
    from adguard2clickhouse_spark.operators.retrieval import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def q_bm25_topk(spark, sf_dir):
    """X4 retrieval: top-20 BM25 (k1=1.2, b=0.75) in exact integer
    arithmetic — the dl/avgdl normalization is the exact rational
    (44*total*tf) div (20*total*tf + 6*total + 18*dl*N), so the oracle
    matches bit-for-bit; the one float op is idf's ln on an exact
    rational."""
    from adguard2clickhouse_spark.operators.retrieval import bm25_search

    return bm25_search(_t(spark, sf_dir, "documents"), _TFIDF_QUERY, k=20)


def q_interleave(spark, sf_dir):
    """Deterministic source-interleaved training order
    (operators/mixture.py::interleave_sources): pos = (rank−1)·k + i —
    pure arithmetic from per-source md5 ranks and a k-row source
    index, NO global sort/window over the corpus."""
    from adguard2clickhouse_spark.operators.mixture import interleave_sources

    return interleave_sources(_t(spark, sf_dir, "documents"))


def q_upsample(spark, sf_dir):
    """WITH-replacement oversampling under the hash gate
    (operators/mixture.py::upsample_with_replacement): 40 draws per
    source (beyond most sources' sizes, so replacement genuinely
    engages), each draw a pure integer function of (source, i, n) —
    the whole mapping replays verbatim in DuckDB."""
    from adguard2clickhouse_spark.operators.mixture import (
        upsample_with_replacement,
    )

    docs = _t(spark, sf_dir, "documents")
    targets = docs.select("source").distinct().withColumn("target", F.lit(40))
    return upsample_with_replacement(docs, targets)


def q_mixture(spark, sf_dir):
    """X7 curation: temperature-scaled corpus mixture (T = 1/2 →
    squared-count weights, exact integer arithmetic) drawn as an
    md5-ranked per-language sample against the computed quotas
    (operators/mixture.py)."""
    from adguard2clickhouse_spark.operators.mixture import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"), strata_col="lang", budget=100
    )


def q_contamination(spark, sf_dir):
    """X8 curation: benchmark-contamination screen. Docs with
    doc_id % 20 == 0 stand in for the eval suite; a corpus document is
    contaminated when it shares ≥1 word 3-gram with any benchmark doc.
    Benchmark shingles broadcast (eval suites are tiny vs the corpus);
    corpus shingles never shuffle."""
    from adguard2clickhouse_spark.operators.contamination import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    rep = contamination_report(docs, bench, n=3)
    return rep.select(
        "doc_id",
        (F.col("doc_id") % 20 == 0).alias("is_benchmark"),
        "n_hits",
        "contaminated",
    )


def q_sequence_pack(spark, sf_dir):
    """X9 curation: greedy sequence packing (fixed 256-token training
    sequences, packed per language stratum in doc-id order). The
    applyInPandas kernel's exact bin/pos/fill assignment is replayed by
    a DuckDB recursive CTE — a hash gate over a genuinely
    non-relational operator."""
    from adguard2clickhouse_spark.operators.packing import pack_greedy

    docs = _t(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "lang", text.token_count("text").alias("n_tokens"))
    return pack_greedy(meta, max_tokens=256)


def q_curation_pipeline(spark, sf_dir):
    """The end-to-end curation recipe as ONE composed plan — quality
    gate → exact dedup (min-id winner) → PII scrub → per-lang
    stratified sample. Every stage is an individually-gated operator
    (x4_quality, x1_dedup, x4_pii_scrub, x7_stratified_sample); this
    query gates their COMPOSITION, which is what a user actually runs.
    The quality gate is a pure filter expression (text.quality_keep)
    absorbed by the scan; dedup communicates via a doc_id semi-join;
    the scrub is a projection computed in the same pass as the sample's
    window."""
    from adguard2clickhouse_spark.operators.sampling import stratified_sample
    from adguard2clickhouse_spark.operators.scrub import redacted_text

    docs = _t(spark, sf_dir, "documents")
    kept = docs.filter(text.quality_keep("text"))
    deduped = dedup.fingerprint_dedup(kept)
    enriched = deduped.select(
        "doc_id", "lang", "source", F.md5(redacted_text("text")).alias("redacted_md5")
    )
    return stratified_sample(enriched, "lang", per_stratum=10).select(
        "doc_id", "lang", "source", "redacted_md5", "rnk"
    )


def q_histogram(spark, sf_dir):
    """Fixed-width histogram of event values — the one-shuffle binning
    every metrics dashboard starts with."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 10).cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_chunking(spark, sf_dir):
    """Context-window chunking under the hash gate: overlapping 64-token
    windows at stride 48 with guaranteed tail coverage — a pure narrow
    projection (zero shuffles); md5 of the chunk text keeps the driver
    output compact."""
    from adguard2clickhouse_spark.operators.chunking import chunk_documents

    out = chunk_documents(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "chunk_start", "n_chunk_tokens", F.md5("chunk_text").alias("chunk_md5")
    )


def q_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/sketch.py) under the hash
    gate: customers holding > n/1000 of all orders. The sketch pass is
    map-only with bounded memory; the exact recount of its candidates
    makes the output EXACT, so the oracle is the plain HAVING query."""
    from adguard2clickhouse_spark.operators.sketch import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "orders"), "o_custkey", k=1000)


def q_countmin(spark, sf_dir):
    """Count-Min sketch under the EXACT hash gate: the portable-md5
    sketch build (operators/sketch.countmin_build, depth 4 × width 256
    cells from events.user_id), point estimates for every distinct user
    (min over rows, broadcast sketch join), and the exact counts beside
    them — est ≥ exact is visible in the data, the cell arithmetic
    replays verbatim in DuckDB. Mergeability (cell-wise addition) is
    gated in tests/test_extensions.py."""
    from adguard2clickhouse_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
    )

    ev = _t(spark, sf_dir, "events").select("user_id")
    cells = countmin_build(ev, "user_id", width=256, depth=4, portable=True)
    est = countmin_estimate(
        cells, ev.distinct(), "user_id", width=256, depth=4, portable=True
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "user_id").select(
        "user_id",
        F.col("est_count").cast("long").alias("est_count"),
        F.col("exact_count").cast("long").alias("exact_count"),
    )


def q_frame_plan(spark, sf_dir):
    """X5 frame-sampling plan under the hash gate: (media_id, frame_ts)
    pairs computed purely from video metadata — the cheap pre-pass that
    sizes the decode stage. Payloads are never touched, so the video
    rows here are metadata-only synthetics (duration from doc_id); the
    oracle replays the sequence arithmetic."""
    vids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("video").alias("kind"),
            F.lit("mp4").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.lit(500) + (F.col("doc_id") * 7) % 4500).alias("duration_ms"),
        ).alias("meta"),
    )
    return multimodal.frame_sample_plan(vids, every_ms=1000)


def q_approx_stats(spark, sf_dir):
    """Rows-only: HLL distinct + approximate quantiles (ops hygiene at
    100 TB; approximate by definition, no exact oracle)."""
    li = _t(spark, sf_dir, "lineitem")
    # Scalar columns only: the driver canonicalizes results through a
    # pandas sort, and an array column is unhashable there.
    q = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99])
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.element_at(q, 1).alias("price_p50"),
        F.element_at(q, 2).alias("price_p95"),
        F.element_at(q, 3).alias("price_p99"),
    )


def q_hll_rollup(spark, sf_dir):
    """Rows-only: per-day DataSketches-HLL distinct users plus the
    cross-day union total (day NULL) from operators/sketch.hll_rollup —
    the mergeable rollup where coarser granularities fold from the
    day sketches without re-scanning raw data. Union-vs-direct register
    consistency and the ≤5% error gate vs exact live in pytest
    (DuckDB's HLL is a different implementation — no SQL twin)."""
    from adguard2clickhouse_spark.operators.sketch import hll_rollup

    ev = _t(spark, sf_dir, "events")
    per_day, total = hll_rollup(
        ev, key_col="user_id", group_col=F.to_date("ts").alias("day")
    )
    return per_day.unionByName(
        total.select(F.lit(None).cast("date").alias("day"), "est_distinct")
    )


def q_footer_stats(spark, sf_dir):
    """X6 ops hygiene: n_rows + min/max answered from parquet FOOTER
    statistics — the V2 source pushes the aggregate into the scan
    (PushedAggregation, plan-gated in tests/test_plans.py), so no data
    page is decoded. The listing-speed freshness/reconciliation check
    at 100 TB. Values are exact, hence the DuckDB oracle."""
    import os

    from adguard2clickhouse_spark.plans.stats import parquet_stats

    return parquet_stats(
        spark,
        os.path.join(sf_dir, "lineitem.parquet"),
        # footer-friendly types only: ONE timestamp column would
        # silently degrade the whole aggregate to a data scan
        ["l_orderkey", "l_partkey"],
    )


def q_exact_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_p7_dns_parse_diverse(spark, sf_dir):
    """P7 with a UNIQUE packet per row: every events row gets its own
    genuinely-encoded DNS response (rcode = k mod 6, one A record whose
    octets encode event_id), so the parser's memoization cache cannot
    flatter this path — every packet is a cache miss, unlike
    p7_dns_parse's five variants. The oracle recomputes rcode and the
    A-record string arithmetically; a hash match proves wire encode →
    base64 → Arrow UDF decode → classification on 10k distinct packets.

    Uses the memo-free parser variant (r16, guide §4.5 in reverse):
    packets here are unique BY CONSTRUCTION, so the lru memo that pays
    off on TTL-repeated real traffic can never hit — on all-distinct
    input its hash+insert+evict cycle measured 1.4× the bare parse
    wall (microbench at parse_dns_answer_nomemo's build site)."""
    import pandas as _pd

    from adguard2clickhouse_spark.operators.dnswire import (
        parse_dns_answer_nomemo as parse_dns_answer,
    )

    ev = _t(spark, sf_dir, "events")
    k = F.expr("try_cast(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS int)")
    base = ev.select("event_id", k.alias("k"))

    def gen(batches):
        from adguard2clickhouse_spark.operators.dnswire import build_answer_b64

        for pdf in batches:
            b64 = [
                build_answer_b64(
                    rcode=int(kk) % 6,
                    a=[f"10.{(int(e) >> 16) & 255}.{(int(e) >> 8) & 255}.{int(e) & 255}"],
                )
                for e, kk in zip(pdf["event_id"], pdf["k"])
            ]
            yield _pd.DataFrame({"event_id": pdf["event_id"], "answer_b64": b64})

    pk = base.mapInPandas(gen, "event_id bigint, answer_b64 string")
    parsed = pk.select("event_id", parse_dns_answer("answer_b64").alias("_d"))
    return parsed.select(
        "event_id",
        F.col("_d.rcode").alias("rcode"),
        F.element_at("_d.rdatas", 1).alias("rdata"),
    )


def q_asof_join(spark, sf_dir):
    """Temporal extension: as-of join (operators/temporal.py). Every
    event picks up the most recent per-user "snapshot" (every 20th
    event) at or before its timestamp — the union+window plan, one
    shuffle on user_id, no inequality join. Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    from adguard2clickhouse_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    dim = (
        ev.filter(F.col("event_id") % 20 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap_value"))
    )
    out = asof_join(left, dim, ts_col="ts", by="user_id", right_cols=["snap_value"])
    return out.select("event_id", "user_id", "ts", "snap_value_asof", "ts_asof")


def q_range_join(spark, sf_dir):
    """Temporal extension: point-in-interval join via granule
    bucketing (equi-join on (user, hour-granule) + exact boundary
    filter) instead of the broadcast-nested-loop an inequality join
    plans to. Oracle: the plain inequality join, which DuckDB's IEJoin
    executes exactly."""
    from adguard2clickhouse_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.select("event_id", "user_id", "ts")
    intervals = ev.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("user_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    out = range_join(
        points, intervals, point_ts="ts", start_col="start_ts",
        end_col="end_ts", by="user_id", granule_s=3600,
    )
    return out.select("event_id", "interval_id")


def q_dedup_clusters(spark, sf_dir):
    """X1 transitive closure: near-dup pairs (exact Jaccard ≥ 0.8) as
    edges, hash-min label propagation to connected components
    (operators/graph.py — the iterative fixpoint a single declarative
    query can't express). Oracle: DuckDB recursive CTE reachability.

    The edge generator runs with ``on_overflow='reroute_capped'``
    (r13, VERDICT r12 #1): on a corpus whose candidate mass tops the
    guard (the marker corpus does at sf10 — measured 3.2e9,
    BENCH_reroute_r10.json) the edges come from the df-ratio-capped
    index — the same plan as x1_dedup_clusters_capped — instead of
    the exact PPJoin twin, which preserved bit-exactness but ran
    685 s at sf10 on the default 8 GB session
    (BENCH_sf10_default_session_r12.json), the one registered heavy
    query without a wall policy. Above the cap the only pairs that
    can drop are those whose entire similarity evidence is
    corpus-boilerplate shingles (df > 1% of docs); callers needing
    exactness at any wall cost call the operator directly with
    ``on_overflow='reroute'``. Below the cap nothing changes — same
    exact plan, same oracle, same hash (the gate SFs sit far below
    it)."""
    from adguard2clickhouse_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, on_overflow="reroute_capped"
    )
    comp = connected_components(docs.select("doc_id"), pairs)
    return comp.select("doc_id", F.col("component").cast("long").alias("component"))


def q_dedup_clusters_capped(spark, sf_dir):
    """X1 transitive closure over the df-CAPPED edge generator — the
    form that survives a replicated/hot-shingle corpus. The exact-edge
    form (x1_dedup_clusters) embeds the uncapped inverted-index join,
    whose candidate count is sum over shingles of df² — measured at
    sf10 (500k docs, every doc ≥10 exact copies → every df ×10,
    candidates ×100) it exhausts an 8 GB heap. The 1%-of-corpus df
    cap (ratio, not absolute — see q_ngram_jaccard_capped for why an
    absolute cap mistunes under replication) bounds every shingle's
    contribution to ≤ (0.01n)²/2 pairs; the EDGES it can drop are
    only those whose every common shingle is corpus-boilerplate,
    i.e. pairs whose similarity evidence is non-discriminative —
    cluster assignments for true near-dup groups are unchanged (the
    oracle proves the exact capped semantics relationally)."""
    from adguard2clickhouse_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_df_ratio=0.01)
    comp = connected_components(docs.select("doc_id"), pairs)
    return comp.select("doc_id", F.col("component").cast("long").alias("component"))


def q_pagerank(spark, sf_dir):
    """Rows-only: PageRank over the exact-Jaccard near-dup graph
    (operators/graph.py::pagerank) — connectivity-based importance for
    picking cluster representatives. One shuffle per power iteration;
    dangling mass via a broadcast 1-row aggregate. The textbook-
    reference equality (1e-12) and rank-conservation live in pytest;
    ranks are floats, so no SQL twin. Permille ranks returned for
    stable display."""
    from adguard2clickhouse_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    # wall-budget policy like x1_dedup_clusters (r13): above the
    # candidate cap the edge build dispatches to the df-ratio-capped
    # index (the r12 'reroute' kept exactness but paid 528 s at
    # sf10/8 GB). For an IMPORTANCE ranking over the near-dup graph,
    # edges whose entire evidence is corpus boilerplate are noise the
    # cap is designed to shed. Below the cap: identical plan/rows.
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, on_overflow="reroute_capped"
    )
    pr = pagerank(docs.select("doc_id"), pairs, n_iters=6)
    return pr.select(
        "doc_id", F.floor(F.col("rank") * 1_000_000).cast("long").alias("rank_ppm")
    )


def q_edit_distance(spark, sf_dir):
    """Bucketed edit-distance dedup (title/URL-style blocking): the
    quadratic levenshtein verify runs only within source buckets.
    Spark's and DuckDB's levenshtein are both unit-cost — gated."""
    return dedup.edit_distance_pairs(_t(spark, sf_dir, "documents"), "source")


def q_near_dedup_clusters(spark, sf_dir):
    """End-to-end NEAR-dedup under the hash gate: portable MinHash-LSH
    candidate pairs as edges → hash-min connected components → min-id
    cluster labels. This is the full production near-dedup recipe
    (candidate-generate, cluster, pick representatives) with every
    stage replayed by the DuckDB oracle (banded LSH + recursive CC)."""
    from adguard2clickhouse_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, portable=True).select("doc_a", "doc_b")
    comp = connected_components(docs.select("doc_id"), pairs)
    return comp.select("doc_id", F.col("component").cast("long").alias("component"))


def q_stream_pipeline(spark, sf_dir):
    """C1/C2/K2 end-to-end under the oracle gate: the reference's whole
    topology (collector.py:54-78 tail→parse→insert→MV cascade) as one
    Structured Streaming run.

    events → querylog JSONL files (JSON round-trip built with to_json,
    rcode carried by real DNS packets) → availableNow stream → parse →
    dead-letter split → 8 additive aggregate sinks, folded across
    multiple micro-batches — then the clients_stats sink read back.
    Oracle: the same aggregate computed directly over events in DuckDB,
    so a hash match proves the entire parse/stream/fold path.
    """
    import tempfile

    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    log2 = log2_from_events(spark, sf_dir)
    # rcode round-trips through genuine DNS wire packets: six pre-built
    # packets (one per bridge rcode value), picked per-row JVM-side.
    answers = F.array(*[F.lit(build_answer_b64(rcode=r)) for r in range(6)])
    lines = log2.select(
        F.to_json(
            F.struct(
                F.date_format("date_time", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("T"),
                "QH",
                "QT",
                "QC",
                "CP",
                "Upstream",
                "IP",
                F.struct(F.col("IsFiltered").alias("IsFiltered")).alias("Result"),
                "Elapsed",
                "Cached",
                F.element_at(answers, F.col("rcode") + 1).alias("Answer"),
            )
        ).alias("value")
    )
    tmp = tempfile.mkdtemp(prefix="stream_e2e_")
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    # One availableNow epoch keeps this gate query fast; the multi-epoch
    # additive fold is covered by tests/test_streaming.py.
    lines.repartition(4).write.mode("overwrite").text(src)
    pipe = QuerylogPipeline(spark, src, out)
    # The 8-sink fan-out re-aggregates a tiny micro-batch; 4 shuffle
    # partitions cut fixed per-partition cost without touching results.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = pipe.start(available_now=True)
        q.awaitTermination()
    _notify_stream("c1_stream_pipeline", q)
    return pipe.read_aggregate("clients_stats").select("IP", "visited", "blocked")


# ---------------------------------------------------------------------------
# Contract tables
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # reference parity (SURVEY §2.5 A1-A8, §2.4 F3, §2.2 P1)
        "a1_blocked_domains": q_a1,
        "a2_visited_domains": q_a2,
        "a3_clients_stats": q_a3,
        "a4_qt_stats": q_a4,
        "a5_rcode_stats": q_a5,
        "a6_stats2": q_a6,
        "a7_tld_stats": q_a7,
        "a14_domain_entropy": q_a14_domain_entropy,
        "a8_upstream_stats": q_a8,
        "a16_fused_mv_union": q_a16_fused_mv_union,
        "a9_latency_stats": q_a9_latency,
        "a10_domain_hierarchy": q_a10_domain_hierarchy,
        "a11_sliding_windows": q_a11_sliding_windows,
        "a12_trending_domains": q_a12_trending_domains,
        "a13_window_uniques": q_a13_window_uniques,
        "x_recursive_suffixes": q_recursive_suffixes,
        "f3_real_domain_count": q_f3,
        "p1_json_key_stats": q_p1_json,
        "p1_variant_key_stats": q_p1_variant,
        "p7_dns_parse": q_p7_dns_parse,
        "p7_dns_parse_diverse": q_p7_dns_parse_diverse,
        # relational extensions (§2.11)
        "q1_pricing_summary": q_q1_pricing,
        "q1_pricing_decimal": q_q1_decimal,
        "q3_shipping_priority": q_q3_shipping,
        "q4_order_priority": q_q4_order_priority,
        "q5_local_suppliers": q_q5_local_suppliers,
        "q6_forecast_revenue": q_q6_revenue,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q10_returned_items": q_q10_returns,
        "q14_promo_revenue": q_q14_promo,
        "q15_top_supplier": q_q15_top_supplier,
        "q17_small_quantity": q_q17_small_quantity,
        "q18_large_orders": q_q18_large_orders,
        "q19_disjunctive": q_q19_disjunctive,
        "q2_min_cost_supplier": q_q2_min_cost_supplier,
        "q11_important_share": q_q11_important_share,
        "q8_market_share": q_q8_market_share,
        "q9_profit_by_nation": q_q9_profit_by_nation,
        "q12_late_priority": q_q12_late_priority,
        "q13_customer_distribution": q_q13_customer_distribution,
        "q16_supplier_variety": q_q16_supplier_variety,
        "q20_part_promotion": q_q20_part_promotion,
        "q21_waiting_supplier": q_q21_waiting_supplier,
        "q22_dormant_customers": q_q22_dormant_customers,
        "x_join_revenue_by_nation": q_join_revenue,
        "x_topk_orders": q_topk_orders,
        "x_window_rank": q_window_rank,
        "x_window_running": q_window_running,
        "x_rollup": q_rollup,
        "x_cube": q_cube,
        "x_distinct_agg": q_distinct_agg,
        "x_intersect": q_intersect,
        "x_except": q_except,
        "x_except_all": q_except_all,
        "x_null_safe_join": q_null_safe_join,
        "x_anti_join": q_anti_join,
        "x_semi_join": q_semi_join,
        "x_exists_subquery": q_exists_subquery,
        "x_salted_join": q_salted_join,
        "x_zorder_key": q_zorder_key,
        "x_grouping_sets": q_grouping_sets,
        "x_correlated_scalar": q_correlated_scalar,
        "x_window_suite": q_window_suite,
        # events analytics
        "e_sessions": q_sessions,
        "e_sessions_native": q_sessions_native,
        "e_pivot": q_pivot,
        "e_unpivot": q_unpivot,
        "x_ordered_agg": q_ordered_agg,
        "x_cdc_snapshot": q_cdc_snapshot,
        "x13_ts_similarity": q_ts_similarity,
        "x13_seasonal_naive": q_seasonal_naive,
        "x13_mad_outliers": q_mad_outliers,
        "x_scd2": q_scd2,
        "x_window_range_frame": q_window_range_frame,
        "x_lateral_topk": q_lateral_topk,
        "e_asof_join": q_asof_join,
        "e_range_join": q_range_join,
        "e_sessions_stream": q_sessions_stream,
        "e_sessions_native_stream": q_sessions_native_stream,
        "a6_stats2_stream": q_stats2_stream,
        "e_stream_interval_join": q_stream_interval_join,
        "e_funnel": q_funnel,
        "e_window_funnel": q_window_funnel,
        "e_retention_flags": q_retention_flags,
        "e_sequence_match": q_sequence_match,
        "e_sequence_count": q_sequence_count,
        "e_summap_daily": q_summap_daily,
        "e_max_concurrent": q_max_concurrent,
        "e_active_time": q_active_time,
        "e_delta_sum": q_delta_sum,
        "e_daily_fill": q_daily_fill,
        "e_lttb_downsample": q_lttb_downsample,
        "e_retention_cohorts": q_retention,
        "e_transitions": q_transitions,
        # training-data extensions (X1-X6)
        "x1_dedup_groups": q_dedup_groups,
        "x1_dedup_count": q_dedup_count,
        "x1_dedup_clusters": q_dedup_clusters,
        "x1_dedup_clusters_capped": q_dedup_clusters_capped,
        "x12_pagerank": q_pagerank,
        "x1_incremental_dedup": q_incremental_dedup,
        "x4_token_stats": q_token_stats,
        "x4_quality": q_quality,
        "x4_lang_id": q_lang_id,
        "x2_ngram_jaccard": q_ngram_jaccard,
        "x2_ngram_jaccard_ppjoin": q_ngram_jaccard_ppjoin,
        "x2_ngram_jaccard_reroute": q_ngram_jaccard_reroute,
        "x2_ngram_jaccard_auto": q_ngram_jaccard_auto,
        "x2_ngram_containment": q_ngram_containment,
        "x2_ngram_jaccard_capped": q_ngram_jaccard_capped,
        "x2_threshold_sweep": q_threshold_sweep,
        "x2_minhash_lsh": q_minhash_lsh,
        "x2_minhash_lsh_md5": q_minhash_lsh_md5,
        "x2_near_dedup_clusters": q_near_dedup_clusters,
        "x2_edit_distance": q_edit_distance,
        "x2_simhash_pairs": q_simhash,
        "x2_simhash_md5": q_simhash_md5,
        "x2_winnow_fingerprints": q_winnow,
        "x2_winnow_md5": q_winnow_md5,
        "x2_embedding_dup": q_embedding_dup,
        "x2_embedding_dup_lsh_reroute95": q_embedding_dup_lsh,
        "x2_embedding_dup_lsh_capped": q_embedding_dup_lsh_capped,
        "x2_embedding_dup_lsh_portable": q_embedding_dup_lsh_portable,
        "x3_topk_cosine": q_topk_cosine,
        "x3_knn_join": q_knn_join,
        "x3_hard_negatives": q_hard_negatives,
        "x3_lsh_topk": q_lsh_topk,
        "x3_pq_topk": q_pq_topk,
        "x3_ivfadc_topk": q_ivfadc_topk,
        "x3_lsh_topk_portable": q_lsh_topk_portable,
        "x3_ivf_topk": q_ivf_topk,
        "x3_quantize_int8": q_quantize_int8,
        "x4_doc_profile": q_doc_profile,
        "x4_distinctive_terms": q_distinctive_terms,
        "x4_pii_scrub": q_pii_scrub,
        "x4_html_clean": q_html_clean,
        "x4_repetition": q_repetition,
        "x4_top_bigrams": q_top_bigrams,
        "x4_bpe_pairs": q_bpe_pairs,
        "x4_bpe_train": q_bpe_train,
        "x4_oov_rate": q_oov_rate,
        "x4_vocab_coverage": q_vocab_coverage,
        "x4_bpe_encode": q_bpe_encode,
        "x4_common_ngrams": q_common_ngrams,
        "x4_span_scrub": q_span_scrub,
        "x4_source_report": q_source_report,
        "x4_dup_novelty": q_dup_novelty,
        "e_stream_dedup": q_stream_dedup,
        "x2_embedding_dup_brp_ml": q_embedding_dup_brp_ml,
        "x2_semantic_dedup_keep": q_semantic_dedup,
        "x2_semantic_dedup_keep_lsh": q_semantic_dedup_lsh,
        "x3_radius_search": q_radius_search,
        "x4_source_similarity": q_source_similarity,
        "x2_minhash_lsh_ml": q_minhash_lsh_ml,
        "x4_vocab": q_vocab,
        "x4_tfidf_search": q_tfidf_search,
        "x4_unigram_logprob": q_unigram_logprob,
        "x6_kmv_distinct": q_kmv_distinct,
        "x4_hashed_bow": q_hashed_bow,
        "x4_bm25_topk": q_bm25_topk,
        "x7_hash_split": q_hash_split,
        "x7_split_leakage_safe": q_split_leakage_safe,
        "x7_split_leakage_safe_minhash": q_split_leakage_safe_minhash,
        "x7_shard_export": q_shard_export,
        "x7_kfold": q_kfold,
        "x7_stratified_sample": q_stratified_sample,
        "x7_mixture_sample": q_mixture,
        "x7_interleave": q_interleave,
        "x7_upsample": q_upsample,
        "x7_det_shuffle": q_det_shuffle,
        "x8_contamination": q_contamination,
        "x9_sequence_pack": q_sequence_pack,
        "x10_curation_pipeline": q_curation_pipeline,
        "x11_chunking": q_chunking,
        "x5_media_features": q_media_features,
        "x5_media_probe": q_media_probe,
        "x5_png_pixel_stats": q_png_pixel_stats,
        "x5_frame_plan": q_frame_plan,
        "x6_approx_stats": q_approx_stats,
        "x6_heavy_hitters": q_heavy_hitters,
        "x6_countmin": q_countmin,
        "x6_histogram": q_histogram,
        "x6_hll_rollup": q_hll_rollup,
        "x6_footer_stats": q_footer_stats,
        "x6_exact_stats": q_exact_stats,
        # streaming topology end-to-end (SURVEY §2.8 C1/C2, §2.3 K2)
        "c1_stream_pipeline": q_stream_pipeline,
    }


_STOP_SQL = {
    lang: "(" + ", ".join(f"'{w}'" for w in ws) + ")"
    for lang, ws in text.STOPWORDS.items()
}

_LANG_HITS = {
    lang: f"len(list_filter(str_split(text, ' '), x -> x IN {_STOP_SQL[lang]}))"
    for lang in text.STOPWORDS
}

_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

_SHINGLE_CTE = """
toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
  WHERE len(t) >= 3
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
""".strip()

# One relational answer for every EXACT Jaccard execution strategy
# (inverted index, PPJoin, auto dispatcher, guard reroute) — a single
# constant so a threshold/CTE fix cannot silently desynchronize one
# of the four oracles.
_JACCARD_PAIRS_ORACLE = (
    f"WITH {_SHINGLE_CTE}, "
    "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
    "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT da AS doc_a, db AS doc_b, CAST(c AS BIGINT) AS common, "
    "CAST(x.n AS BIGINT) AS size_a, CAST(y.n AS BIGINT) AS size_b "
    "FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id "
    "WHERE c * 1000000 >= 800000 * (x.n + y.n - c)"
)

def _lsh_topk_portable_oracle(
    dim: int = 64, bits: int = 16, seed: int = 42, radius: int = 4, k: int = 10
) -> str:
    """DuckDB twin of similarity.lsh_topk_portable: the SAME hyperplane
    literals (numpy RandomState(seed), full repr precision), sign bits
    from list_dot_product (both engines: strict double fold), Hamming
    candidate filter, exact cosine rank."""
    from adguard2clickhouse_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bits, seed)

    def sig_expr(vcol: str) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product({vcol}, ["
            + ", ".join(repr(float(x)) for x in planes[i])
            + f"]) > 0 THEN {1 << i} ELSE 0 END"
            for i in range(bits)
        )

    return (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), "
        "q AS (SELECT ve AS qv FROM v WHERE vec_id = 0), "
        f"sigs AS (SELECT vec_id, ve, {sig_expr('ve')} AS s FROM v), "
        f"qs AS (SELECT {sig_expr('qv')} AS s FROM q), "
        f"cand AS (SELECT vec_id, ve FROM sigs, qs WHERE bit_count(xor(sigs.s, qs.s)) <= {radius}), "
        "scored AS (SELECT vec_id, list_dot_product(ve, qv) / "
        "(sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qv, qv))) AS sim "
        "FROM cand, q) "
        "SELECT vec_id, rnk FROM (SELECT vec_id, "
        "CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk "
        f"FROM scored) WHERE rnk <= {k}"
    )


def _span_scrub_oracle(k: int = 5, min_span: int = 8, min_df: int = 2) -> str:
    """DuckDB twin of spans.repeated_span_scrub(portable=True): md5
    positional k-gram hashes, corpus frequency threshold, islands via
    i − row_number, span coverage, position-ordered reassembly."""
    min_run = min_span - k + 1
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return (
        "WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents), "
        "kg AS (SELECT doc_id, i, "
        f"('0x' || substring(md5({gram}), 1, 15))::BIGINT AS h "
        f"FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {k - 1})) AS i) g "
        f"WHERE len(t) >= {k}), "
        f"dup AS (SELECT h FROM kg GROUP BY h HAVING count(*) >= {min_df}), "
        "dp AS (SELECT doc_id, i FROM kg WHERE h IN (SELECT h FROM dup)), "
        "runs AS (SELECT doc_id, i, i - row_number() OVER "
        "(PARTITION BY doc_id ORDER BY i) AS grp FROM dp), "
        "spans AS (SELECT doc_id, min(i) AS s, max(i) AS e FROM runs "
        f"GROUP BY doc_id, grp HAVING count(*) >= {min_run}), "
        "cov AS (SELECT DISTINCT doc_id, p FROM spans, "
        f"LATERAL (SELECT unnest(generate_series(s, e + {k - 1})) AS p) g), "
        "tok AS (SELECT doc_id, i AS p, t[i] AS tok FROM toks, "
        "LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g), "
        "kept AS (SELECT tok.* FROM tok ANTI JOIN cov USING (doc_id, p)), "
        "agg AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY p)) AS cm, "
        "count(*) AS n_kept FROM kept GROUP BY doc_id), "
        "nt AS (SELECT doc_id, len(t) AS n_tokens FROM toks) "
        "SELECT nt.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
        "CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed, "
        "coalesce(cm, md5('')) AS cleaned_md5 FROM nt LEFT JOIN agg USING (doc_id)"
    )


def _embedding_lsh_pairs_oracle(
    dim: int = 64, bits: int = 6, seed: int = 42, threshold: float = 0.35
) -> str:
    """DuckDB twin of similarity.embedding_dup_pairs_lsh_portable."""
    from adguard2clickhouse_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bits, seed)
    sig = " + ".join(
        f"CASE WHEN list_dot_product(ve, ["
        + ", ".join(repr(float(x)) for x in planes[i])
        + f"]) > 0 THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )
    return (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), "
        f"sigs AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS n, {sig} AS s FROM v) "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM sigs a JOIN sigs b "
        "ON a.s = b.s AND a.vec_id < b.vec_id "
        f"WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= {threshold}"
    )


def _curation_pipeline_oracle(per_stratum: int = 10) -> str:
    """DuckDB twin of q_curation_pipeline: the same four stages as
    CTEs — x4_quality's keep predicate, the min-id fingerprint winner,
    the chained PII regex replacements, x7's md5-ranked sample."""
    redacted = "text"
    for _, pattern, repl in _scrub.PII_PATTERNS:
        pat_sql = pattern.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{pat_sql}', '{repl}', 'g')"
    return (
        "WITH q AS (SELECT doc_id FROM documents WHERE "
        "len(str_split(text, ' ')) >= 10 AND length(text) >= 50 AND "
        "floor((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) "
        "* 1000 / length(text)) < 200), "
        "k AS (SELECT d.* FROM documents d WHERE doc_id IN (SELECT doc_id FROM q)), "
        f"w AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, {_FP_SQL} AS f FROM k) GROUP BY f), "
        "dd AS (SELECT k.* FROM k WHERE doc_id IN (SELECT doc_id FROM w)), "
        "r AS (SELECT doc_id, lang, source, "
        f"md5({redacted}) AS redacted_md5, "
        "CAST(row_number() OVER (PARTITION BY lang "
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk FROM dd) "
        f"SELECT doc_id, lang, source, redacted_md5, rnk FROM r WHERE rnk <= {per_stratum}"
    )


def _simhash_md5_oracle(max_hamming: int = 8) -> str:
    """DuckDB twin of dedup.simhash_near_pairs(portable=True): 60-bit
    md5 token hashes, sign-of-bit-sums sketch, pigeonhole banding,
    Hamming verify via bit_count(xor) — same integer ops end to end."""
    bands = max_hamming + 1
    base, rem = divmod(60, bands)
    widths = [base + 1 if b < rem else base for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    bit_defs = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    sketch = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(60)
    )
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, s, {b} AS band, (s >> {offsets[b]}) & {(1 << widths[b]) - 1} "
        "AS chunk FROM sig"
        for b in range(bands)
    )
    return (
        "WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents), "
        "th AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM tok), "
        f"bits AS (SELECT doc_id, {bit_defs} FROM th GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sketch} AS s FROM bits), "
        f"chunks AS ({chunk_rows}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming "
        "FROM chunks a JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk "
        f"AND a.doc_id < b.doc_id WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}"
    )


def _winnow_md5_oracle(k: int = 5, w: int = 4) -> str:
    """DuckDB twin of dedup.winnow_fingerprints(portable=True): md5
    k-gram hashes at each position, min over each w-window (only full
    windows, like the Spark slice bound), distinct minima."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return (
        "WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents), "
        "kg AS (SELECT doc_id, i, "
        f"('0x' || substring(md5({gram}), 1, 15))::BIGINT AS h "
        f"FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {k - 1})) AS i) g "
        f"WHERE len(t) >= {k}), "
        "wm AS (SELECT doc_id, i, "
        "min(h) OVER (PARTITION BY doc_id ORDER BY i "
        f"ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS m, "
        "count(*) OVER (PARTITION BY doc_id) AS nk FROM kg) "
        f"SELECT DISTINCT doc_id, m AS fingerprint FROM wm WHERE i <= nk - {w - 1}"
    )


def _minhash_md5_parts(num_hashes: int = 16, bands: int = 4) -> tuple[str, str]:
    """DuckDB twin of dedup.minhash_lsh_pairs(portable=True): one md5
    base hash per shingle (first 60 bits as BIGINT, reduced mod
    P=2³¹−1) mixed through the SAME universal family as the Spark
    side (shared ``minhash_mix_constants`` — r15, the 16-md5s-per-
    shingle form was the x2_near_dedup_clusters sf100 wall), string
    band keys, band equi-join, and the 16-way signature-agreement
    readback. Returns (cte_body, final_select) so the cluster oracle
    can reuse the candidate-pair CTEs as graph edges."""
    from adguard2clickhouse_spark.operators.dedup import (
        MINHASH_MIX_P,
        minhash_mix_constants,
    )

    rpb = num_hashes // bands
    mixes = minhash_mix_constants(num_hashes)
    mh_defs = ", ".join(
        f"min((xb * {a} + {b}) % {MINHASH_MIX_P}) AS mh_{i}"
        for i, (a, b) in enumerate(mixes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"CAST(mh_{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ") AS key FROM sig"
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    ctes = (
        f"{_SHINGLE_CTE}, "
        "shx AS (SELECT doc_id, "
        f"('0x' || substring(md5(s), 1, 15))::BIGINT % {MINHASH_MIX_P} "
        "AS xb FROM sh), "
        f"sig AS (SELECT doc_id, {mh_defs} FROM shx GROUP BY doc_id), "
        f"bands AS ({band_rows}), "
        "pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS nb "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2)"
    )
    final = (
        "SELECT da AS doc_a, db AS doc_b, CAST(nb AS BIGINT) AS n_bands_agree, "
        f"CAST(floor(({agree}) * 1000 / {num_hashes}) AS BIGINT) AS est_jaccard_permille "
        "FROM pairs JOIN sig x ON da = x.doc_id JOIN sig y ON db = y.doc_id"
    )
    return ctes, final


def _minhash_md5_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    ctes, final = _minhash_md5_parts(num_hashes, bands)
    return f"WITH {ctes} {final}"


def _minhash_clusters_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of q_near_dedup_clusters: the md5 banded-LSH
    candidate pairs as edges, transitive closure via recursive
    reachability, min-id component labels."""
    ctes, _ = _minhash_md5_parts(num_hashes, bands)
    return (
        f"WITH RECURSIVE {ctes}, "
        "edges AS (SELECT da AS u, db AS v FROM pairs "
        "UNION SELECT db, da FROM pairs), "
        "reach(u, r) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u) "
        "SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component "
        "FROM reach GROUP BY u"
    )


def _minhash_split_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of q_split_leakage_safe_minhash: the MinHash-LSH
    closure of _minhash_clusters_oracle plus the identical md5-bucket
    split arithmetic of x7_split_leakage_safe."""
    ctes, _ = _minhash_md5_parts(num_hashes, bands)
    return (
        f"WITH RECURSIVE {ctes}, "
        "edges AS (SELECT da AS u, db AS v FROM pairs "
        "UNION SELECT db, da FROM pairs), "
        "reach(u, r) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), "
        "comp AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component "
        "FROM reach GROUP BY u), "
        "bk AS (SELECT doc_id, component, "
        "CAST((('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT) "
        "% 10000 AS INT) AS bucket FROM comp) "
        "SELECT doc_id, component, bucket, CASE WHEN bucket < 500 THEN 'val' "
        "WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split FROM bk"
    )


# Position-preserving token stream (the shape repetition metrics and
# n-gram mining share): positions assigned BEFORE the empty-token
# filter, exactly like the Spark posexplode-then-filter.
_TOKS_POS_CTE = (
    "t AS (SELECT doc_id, _pos, _tok FROM ("
    "SELECT doc_id, unnest(string_split(text, ' ')) AS _tok, "
    "generate_subscripts(string_split(text, ' '), 1) AS _pos "
    "FROM documents) WHERE _tok <> '')"
)

_COSINE_SCORED = """
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e, q
)
""".strip()


def oracle_sql() -> dict[str, str]:
    from adguard2clickhouse_spark.operators.scrub import html_oracle_sql

    ipv4 = IPV4_RE
    ipv6 = IPV6_RE
    f3 = (
        f"len(str_split(QH, '.')) > 1 "
        f"AND NOT regexp_matches(QH, '{ipv4}') "
        f"AND NOT regexp_matches(QH, '{ipv6}')"
    )
    return {
        "a1_blocked_domains": oracle_cte(
            'SELECT QH, count(*) AS "count" FROM log2 WHERE IsFiltered GROUP BY QH'
        ),
        "a2_visited_domains": oracle_cte(
            'SELECT QH, count(*) AS "count" FROM log2 WHERE NOT IsFiltered GROUP BY QH'
        ),
        "a3_clients_stats": oracle_cte(
            "SELECT IP, CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS visited, "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS blocked "
            "FROM log2 GROUP BY IP"
        ),
        "a4_qt_stats": oracle_cte(
            'SELECT QT, count(*) AS "count" FROM log2 GROUP BY QT'
        ),
        "a5_rcode_stats": oracle_cte(
            'SELECT rcode, count(*) AS "count" FROM log2 GROUP BY rcode'
        ),
        "a6_stats2": oracle_cte(
            "SELECT IP, time_bucket(INTERVAL '10 minutes', date_time) AS date_time, "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS blocked, "
            "CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS visited "
            "FROM log2 GROUP BY IP, time_bucket(INTERVAL '10 minutes', date_time)"
        ),
        "a14_domain_entropy": oracle_cte(
            f", labels AS (SELECT str_split(QH, '.')[1] AS label, "
            f"count(*) AS n_queries FROM log2 WHERE {f3} GROUP BY 1), "
            "l2 AS (SELECT label, CAST(len(label) AS BIGINT) AS label_len, n_queries FROM labels), "
            "chars AS (SELECT label, label_len, substr(label, CAST(p AS INT), 1) AS ch "
            "FROM l2, unnest(generate_series(1, CAST(label_len AS INT))) t(p)), "
            "pc AS (SELECT label, label_len, ch, count(*) AS nc FROM chars GROUP BY 1, 2, 3), "
            "ent AS (SELECT label, label_len, "
            "CAST(sum(nc * CAST(floor(1000000 * ln(CAST(label_len AS DOUBLE) / nc)) AS BIGINT)) "
            "// label_len AS BIGINT) AS entropy_micro "
            "FROM pc GROUP BY 1, 2) "
            "SELECT ent.label, label_len, CAST(n_queries AS BIGINT) AS n_queries, entropy_micro "
            "FROM ent JOIN l2 USING (label, label_len)"
        ),
        "a7_tld_stats": oracle_cte(
            f"SELECT str_split(QH, '.')[-1] AS tld, count(*) AS \"count\" "
            f"FROM log2 WHERE {f3} GROUP BY str_split(QH, '.')[-1]"
        ),
        "a8_upstream_stats": oracle_cte(
            'SELECT Upstream, count(*) AS "count" FROM log2 GROUP BY Upstream'
        ),
        "a16_fused_mv_union": oracle_cte(
            "SELECT 'blocked_domains' AS sink, QH AS k, "
            "count(*) AS m1, CAST(NULL AS BIGINT) AS m2 "
            "FROM log2 WHERE IsFiltered GROUP BY QH "
            "UNION ALL SELECT 'visited_domains', QH, count(*), NULL "
            "FROM log2 WHERE NOT IsFiltered GROUP BY QH "
            "UNION ALL SELECT 'clients_stats', IP, "
            "CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT), "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM log2 GROUP BY IP "
            "UNION ALL SELECT 'qt_stats', QT, count(*), NULL FROM log2 GROUP BY QT "
            "UNION ALL SELECT 'rcode_stats', CAST(rcode AS STRING), count(*), NULL "
            "FROM log2 GROUP BY rcode "
            "UNION ALL SELECT 'stats2', "
            "IP || '|' || CAST(time_bucket(INTERVAL '10 minutes', date_time) AS STRING), "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT), "
            "CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM log2 GROUP BY IP, time_bucket(INTERVAL '10 minutes', date_time) "
            f"UNION ALL SELECT 'tld_stats', str_split(QH, '.')[-1], count(*), NULL "
            f"FROM log2 WHERE {f3} GROUP BY str_split(QH, '.')[-1] "
            "UNION ALL SELECT 'upstream_stats', Upstream, count(*), NULL "
            "FROM log2 GROUP BY Upstream"
        ),
        "a13_window_uniques": oracle_cte(
            "SELECT make_timestamp((epoch_us(date_time) // 600000000) * 600000000) "
            "AS window_start, CAST(count(DISTINCT IP) AS BIGINT) AS n_clients, "
            "CAST(count(*) AS BIGINT) AS n_queries FROM log2 GROUP BY 1"
        ),
        "a12_trending_domains": oracle_cte(
            ", per AS (SELECT (epoch_us(date_time) // 600000000) * 600000000 AS ws, "
            "QH, count(*) AS n_queries FROM log2 WHERE NOT IsFiltered GROUP BY 1, 2), "
            "r AS (SELECT ws, QH, n_queries, row_number() OVER "
            "(PARTITION BY ws ORDER BY n_queries DESC, QH) AS rnk FROM per) "
            "SELECT make_timestamp(ws) AS window_start, QH, "
            "CAST(n_queries AS BIGINT) AS n_queries, CAST(rnk AS BIGINT) AS rnk "
            "FROM r WHERE rnk <= 3"
        ),
        "a11_sliding_windows": oracle_cte(
            ", w AS (SELECT IP, IsFiltered, "
            "(epoch_us(date_time) // 300000000) * 300000000 AS h1 FROM log2), "
            "e AS (SELECT IP, IsFiltered, "
            "unnest([h1, h1 - 300000000]) AS ws FROM w) "
            "SELECT IP, make_timestamp(ws) AS window_start, "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS blocked, "
            "CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS visited "
            "FROM e GROUP BY 1, 2"
        ),
        "x_recursive_suffixes": oracle_cte(
            f", base AS (SELECT QH, count(*) AS n FROM log2 WHERE {f3} GROUP BY QH) "
            "SELECT s AS suffix, CAST(sum(n) AS BIGINT) AS count FROM ("
            "WITH RECURSIVE sufs(s, n) AS ("
            "SELECT QH AS s, n AS n FROM base "
            "UNION ALL SELECT substr(s, instr(s, '.') + 1) AS s, n AS n "
            "FROM sufs WHERE instr(s, '.') > 0) "
            "SELECT s, n FROM sufs) GROUP BY s"
        ),
        "a10_domain_hierarchy": oracle_cte(
            f", lab AS (SELECT str_split(QH, '.') AS l FROM log2 WHERE {f3}), "
            "e AS (SELECT l, CAST(unnest(generate_series(1, len(l))) AS INT) AS i FROM lab), "
            "s AS (SELECT array_to_string(l[len(l) - i + 1 : len(l)], '.') AS suffix FROM e) "
            "SELECT suffix, CAST(len(str_split(suffix, '.')) AS BIGINT) AS depth, "
            'count(*) AS "count" FROM s GROUP BY suffix'
        ),
        "a9_latency_stats": oracle_cte(
            "SELECT Upstream, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(Elapsed) AS BIGINT) AS total_elapsed, "
            "CAST(sum(Elapsed) // count(*) AS BIGINT) AS avg_elapsed, "
            "CAST(max(Elapsed) AS BIGINT) AS max_elapsed "
            "FROM log2 GROUP BY Upstream"
        ),
        "f3_real_domain_count": oracle_cte(
            f"SELECT count(*) AS n FROM log2 WHERE {f3}"
        ),
        "p1_json_key_stats": (
            "SELECT TRY_CAST(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS INT) AS k, "
            'count(*) AS "count" FROM events GROUP BY 1'
        ),
        "p1_variant_key_stats": (
            "SELECT TRY_CAST(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS INT) AS k, "
            'count(*) AS "count" FROM events GROUP BY 1'
        ),
        # The oracle encodes the KNOWN classification of the 5 packet
        # variants (see q_p7_dns_parse) — DuckDB never parses DNS.
        "p7_dns_parse": (
            "WITH m AS (SELECT event_id % 5 AS k FROM events), "
            "c AS (SELECT CAST(CASE WHEN k = 3 THEN 3 ELSE 0 END AS INT) AS rcode, "
            "CASE k WHEN 0 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS a, "
            "CASE k WHEN 1 THEN 1 ELSE 0 END AS aaaa, "
            "CASE WHEN k IN (2, 4) THEN 1 ELSE 0 END AS cn FROM m) "
            "SELECT rcode, count(*) AS n, CAST(sum(a) AS BIGINT) AS n_a, "
            "CAST(sum(aaaa) AS BIGINT) AS n_aaaa, CAST(sum(cn) AS BIGINT) AS n_cname "
            "FROM c GROUP BY rcode"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
            "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, "
            "CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents, "
            "count(*) AS count_order "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "x_join_revenue_by_nation": (
            "SELECT r_name, n_name, "
            "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, "
            "count(*) AS n_orders "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name, n_name"
        ),
        "x_topk_orders": (
            "SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents "
            "FROM orders ORDER BY total_cents DESC, o_orderkey LIMIT 10"
        ),
        "x_window_rank": (
            "SELECT o_custkey, o_orderkey FROM ("
            "SELECT o_custkey, o_orderkey, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            "FROM orders) WHERE rn = 1"
        ),
        "x_window_running": (
            "SELECT o_orderkey, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents "
            "FROM orders"
        ),
        "x_rollup": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "x_cube": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n "
            "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
        ),
        "x_distinct_agg": (
            "SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "x_intersect": (
            "SELECT c_nationkey AS nationkey FROM customer "
            "INTERSECT SELECT s_nationkey FROM supplier"
        ),
        "x_except_all": (
            "WITH d AS (SELECT c_nationkey AS nationkey FROM customer "
            "EXCEPT ALL SELECT s_nationkey FROM supplier) "
            "SELECT nationkey, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1"
        ),
        "x_null_safe_join": (
            "WITH a AS (SELECT CASE WHEN event_id % 3 <> 0 THEN user_id % 50 END AS ka "
            "FROM events WHERE event_id % 2 = 0), "
            "b AS (SELECT CASE WHEN event_id % 3 <> 0 THEN user_id % 50 END AS kb "
            "FROM events WHERE event_id % 2 = 1) "
            "SELECT coalesce(ka, -1) AS key, CAST(count(*) AS BIGINT) AS n_pairs "
            "FROM a JOIN b ON a.ka IS NOT DISTINCT FROM b.kb GROUP BY 1"
        ),
        "x_except": (
            "SELECT c_nationkey AS nationkey FROM customer "
            "EXCEPT SELECT s_nationkey FROM supplier"
        ),
        "x_anti_join": (
            "SELECT c_custkey FROM customer WHERE NOT EXISTS ("
            "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)"
        ),
        "x_semi_join": (
            "SELECT c_custkey FROM customer WHERE EXISTS ("
            "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')"
        ),
        "x_exists_subquery": (
            "SELECT count(*) AS n FROM orders WHERE EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)"
        ),
        "q6_forecast_revenue": (
            "SELECT CAST(sum(CAST(floor((l_extendedprice * l_discount) * 100) AS BIGINT)) "
            "AS BIGINT) AS revenue_cents FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
        ),
        "q3_shipping_priority": (
            "SELECT o_orderkey, o_orderdate, o_orderpriority, "
            "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) "
            "AS BIGINT) AS revenue_cents "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' "
            "AND l_shipdate > TIMESTAMP '1998-01-01' "
            "GROUP BY 1, 2, 3 ORDER BY revenue_cents DESC, o_orderkey LIMIT 10"
        ),
        "q10_returned_items": (
            "SELECT c_custkey, c_name, n_name, "
            "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) "
            "AS BIGINT) AS revenue_cents "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "GROUP BY 1, 2, 3 ORDER BY revenue_cents DESC, c_custkey LIMIT 20"
        ),
        "q18_large_orders": (
            "WITH big AS (SELECT l_orderkey, CAST(floor(sum(l_quantity)) AS BIGINT) "
            "AS total_qty FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150) "
            "SELECT o_orderkey, o_orderdate, "
            "CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, total_qty "
            "FROM orders JOIN big ON o_orderkey = l_orderkey"
        ),
        "q1_pricing_decimal": (
            "WITH t AS (SELECT l_returnflag, l_linestatus, "
            "CAST(l_extendedprice AS DECIMAL(18,2)) AS p, "
            "CAST(l_discount AS DECIMAL(18,2)) AS d FROM lineitem) "
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(p) AS VARCHAR) AS sum_price, "
            "CAST(sum(p * (CAST(1 AS DECIMAL(18,2)) - d)) AS VARCHAR) AS sum_disc_price, "
            "count(*) AS n FROM t GROUP BY 1, 2"
        ),
        "q4_order_priority": (
            "SELECT o_orderpriority, count(*) AS order_count FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "AND EXISTS (SELECT 1 FROM lineitem "
            "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
            "GROUP BY 1 ORDER BY 1"
        ),
        "q5_local_suppliers": (
            "SELECT n_name, "
            "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) "
            "AS BIGINT) AS revenue_cents "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY 1 ORDER BY revenue_cents DESC, n_name"
        ),
        "q7_volume_shipping": (
            "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
            "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) "
            "AS BIGINT) AS revenue_cents "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "WHERE n1.n_name IN ('NATION_1', 'NATION_2') "
            "AND n2.n_name IN ('NATION_1', 'NATION_2') "
            "AND n1.n_name <> n2.n_name "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
        ),
        "q15_top_supplier": (
            "WITH rev AS (SELECT l_suppkey, "
            "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) "
            "AS BIGINT) AS total_revenue_cents FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) "
            "SELECT s_suppkey, s_name, total_revenue_cents "
            "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev) "
            "ORDER BY s_suppkey"
        ),
        "q2_min_cost_supplier": (
            "WITH costs AS (SELECT p_partkey, p_name, l_suppkey, "
            "CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
            "AS cost_cents "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_size <= 5 GROUP BY 1, 2, 3), "
            "mc AS (SELECT p_partkey AS pk, min(cost_cents) AS m FROM costs GROUP BY 1) "
            "SELECT p_partkey, p_name, s_name, cost_cents, "
            "CAST(floor(s_acctbal * 100) AS BIGINT) AS acctbal_cents "
            "FROM costs JOIN mc ON p_partkey = pk AND cost_cents = m "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "ORDER BY acctbal_cents DESC, s_name, p_partkey LIMIT 100"
        ),
        "q11_important_share": (
            "WITH pv AS (SELECT l_partkey, "
            "CAST(sum(CAST(floor(l_quantity * l_extendedprice) AS BIGINT)) AS BIGINT) "
            "AS part_value "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_2' GROUP BY 1) "
            "SELECT l_partkey, part_value FROM pv "
            "WHERE part_value * 1000 > (SELECT sum(part_value) FROM pv) "
            "ORDER BY part_value DESC, l_partkey"
        ),
        "q8_market_share": (
            "WITH j AS (SELECT year(o_orderdate) AS yr, n1.n_name AS supp_nation, "
            "CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT) AS cents "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "JOIN region ON n2.n_regionkey = r_regionkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01') "
            "SELECT CAST(yr AS BIGINT) AS o_year, "
            "CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS BIGINT) "
            "AS target_cents, CAST(sum(cents) AS BIGINT) AS all_cents, "
            "CAST((1000 * sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)) "
            "// sum(cents) AS BIGINT) AS share_permille "
            "FROM j GROUP BY 1 ORDER BY 1"
        ),
        "q9_profit_by_nation": (
            "SELECT n_name AS supp_nation, "
            "CAST(year(o_orderdate) AS BIGINT) AS o_year, "
            "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT) "
            "- CAST(floor(l_quantity * p_retailprice * 10) AS BIGINT)) AS BIGINT) "
            "AS profit_cents "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE p_name LIKE '%gear%' "
            "GROUP BY 1, 2 ORDER BY 1, 2 DESC"
        ),
        "q12_late_priority": (
            "SELECT l_linestatus, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_shipdate > o_orderdate + INTERVAL 30 DAY "
            "GROUP BY 1 ORDER BY 1"
        ),
        "q13_customer_distribution": (
            "WITH per_cust AS (SELECT c_custkey, count(o_orderkey) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1) "
            "SELECT c_count, count(*) AS custdist FROM per_cust "
            "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"
        ),
        "q16_supplier_variety": (
            "SELECT p_brand, p_type, p_size, "
            "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' "
            "AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45) "
            "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
        ),
        "q20_part_promotion": (
            "WITH per_supp AS (SELECT l_suppkey, "
            "CAST(floor(sum(l_quantity)) AS BIGINT) AS gear_qty "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_name LIKE '%gear%' "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1), "
            "tot AS (SELECT sum(gear_qty) AS sum_qty, count(*) AS n_supp FROM per_supp) "
            "SELECT s_suppkey, s_name, gear_qty "
            "FROM per_supp, tot JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE 2 * gear_qty * n_supp > 3 * sum_qty ORDER BY s_suppkey"
        ),
        "q21_waiting_supplier": (
            "WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderstatus = 'F' "
            "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
            "SELECT s_name, count(*) AS numwait "
            "FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey "
            "WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey "
            "AND l2.l_suppkey <> l1.l_suppkey) "
            "AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey "
            "AND l3.l_suppkey <> l1.l_suppkey) "
            "GROUP BY 1 ORDER BY numwait DESC, s_name"
        ),
        "q22_dormant_customers": (
            "WITH c AS (SELECT c_custkey, c_mktsegment, "
            "CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer "
            "WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE')), "
            "avgpos AS (SELECT sum(bal_cents) AS sum_bal, count(*) AS n_bal "
            "FROM c WHERE bal_cents > 0) "
            "SELECT c_mktsegment, count(*) AS numcust, "
            "CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents "
            "FROM c, avgpos "
            "WHERE bal_cents * n_bal > sum_bal "
            "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderdate >= TIMESTAMP '2000-01-01') "
            "GROUP BY 1 ORDER BY 1"
        ),
        "q17_small_quantity": (
            "WITH th AS (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qlim "
            "FROM lineitem GROUP BY 1) "
            "SELECT CAST(floor(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) / 7) "
            "AS BIGINT) AS avg_yearly_cents, count(*) AS n_lines "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN th ON l_partkey = pk "
            "WHERE p_brand = 'Brand#23' AND l_quantity < qlim"
        ),
        "q19_disjunctive": (
            "SELECT CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) "
            "AS BIGINT)) AS BIGINT) AS revenue_cents, count(*) AS n_lines "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
            "AND l_quantity BETWEEN 1 AND 11) "
            "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
            "AND l_quantity BETWEEN 10 AND 20) "
            "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 20 AND 30)"
        ),
        "q14_promo_revenue": (
            "WITH j AS (SELECT CASE WHEN p_type = 'PROMO' THEN "
            "CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT) ELSE 0 END AS promo_c, "
            "CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT) AS all_c "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01') "
            "SELECT CAST(floor(sum(promo_c) * 1000 / sum(all_c)) AS BIGINT) AS promo_permille, "
            "CAST(sum(all_c) AS BIGINT) AS revenue_cents FROM j"
        ),
        "e_funnel": (
            "WITH v AS (SELECT user_id, min(ts) AS t1 FROM events "
            "WHERE event_type = 'view' GROUP BY 1), "
            "c AS (SELECT e.user_id, min(ts) AS t2 FROM events e "
            "JOIN v ON e.user_id = v.user_id WHERE event_type = 'click' AND ts >= t1 GROUP BY 1), "
            "p AS (SELECT e.user_id, min(ts) AS t3 FROM events e "
            "JOIN c ON e.user_id = c.user_id WHERE event_type = 'purchase' AND ts >= t2 GROUP BY 1) "
            "SELECT (SELECT count(*) FROM v) AS n_view, "
            "(SELECT count(*) FROM c) AS n_click_after_view, "
            "(SELECT count(*) FROM p) AS n_purchase_after_click"
        ),
        "e_window_funnel": (
            # same relational form as the Spark plan: per-anchor greedy
            # chains, max level over anchors, level histogram
            "WITH ev AS (SELECT user_id AS u, epoch(ts) AS t, event_type "
            "FROM events), "
            "l1 AS (SELECT DISTINCT u, t AS anchor, t AS tip FROM ev "
            "WHERE event_type = 'view'), "
            "l2 AS (SELECT l1.u, anchor, min(e.t) AS tip FROM l1 "
            "JOIN ev e ON e.u = l1.u AND e.event_type = 'click' "
            "AND e.t > l1.tip AND e.t <= l1.anchor + 3600 "
            "GROUP BY l1.u, anchor), "
            "l3 AS (SELECT l2.u, anchor, min(e.t) AS tip FROM l2 "
            "JOIN ev e ON e.u = l2.u AND e.event_type = 'purchase' "
            "AND e.t > l2.tip AND e.t <= l2.anchor + 3600 "
            "GROUP BY l2.u, anchor), "
            "lvl AS (SELECT u, 0 AS l FROM (SELECT DISTINCT u FROM ev) "
            "UNION ALL SELECT DISTINCT u, 1 FROM l1 "
            "UNION ALL SELECT DISTINCT u, 2 FROM l2 "
            "UNION ALL SELECT DISTINCT u, 3 FROM l3), "
            "top AS (SELECT u, max(l) AS level FROM lvl GROUP BY u) "
            "SELECT CAST(level AS INT) AS level, "
            "count(*) AS n_users FROM top GROUP BY level"
        ),
        "e_retention_flags": (
            "WITH f AS (SELECT user_id, "
            "max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS m1, "
            "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS m2, "
            "max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS m3 "
            "FROM events GROUP BY user_id) "
            "SELECT count(*) AS n_users, "
            "CAST(sum(m1) AS BIGINT) AS n_signup, "
            "CAST(sum(CASE WHEN m1 = 1 AND m2 = 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_signup_purchase, "
            "CAST(sum(CASE WHEN m1 = 1 AND m3 = 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_signup_error FROM f"
        ),
        "e_sequence_match": (
            # greedy chained mins — the same relational form as the
            # Spark plan (exact for the .*-chained pattern family)
            "WITH ev AS (SELECT user_id AS u, epoch(ts) AS t, event_type "
            "FROM events), "
            "m1 AS (SELECT u, min(t) AS tip FROM ev "
            "WHERE event_type = 'view' GROUP BY u), "
            "m2 AS (SELECT m1.u, min(e.t) AS tip FROM m1 JOIN ev e "
            "ON e.u = m1.u AND e.event_type = 'click' AND e.t > m1.tip "
            "GROUP BY m1.u), "
            "m3 AS (SELECT m2.u, min(e.t) AS tip FROM m2 JOIN ev e "
            "ON e.u = m2.u AND e.event_type = 'purchase' AND e.t > m2.tip "
            "GROUP BY m2.u) "
            "SELECT CAST(CASE WHEN m3.u IS NOT NULL THEN 1 ELSE 0 END "
            "AS BIGINT) AS matched, count(*) AS n_users "
            "FROM (SELECT DISTINCT u FROM ev) a LEFT JOIN m3 ON a.u = m3.u "
            "GROUP BY 1"
        ),
        "e_sequence_count": (
            # the same earliest-completion greedy as a recursive CTE:
            # each level appends one more disjoint chain (nested
            # correlated mins), the answer is the deepest level reached
            "WITH RECURSIVE ev AS (SELECT user_id AS u, epoch_us(ts) AS t, "
            "event_type FROM events), "
            "rec(u, tip, cnt) AS ("
            "SELECT DISTINCT u, CAST(-9223372036854775808 AS BIGINT), 0 "
            "FROM ev UNION ALL "
            "SELECT u, nt, cnt + 1 FROM ("
            "SELECT r.u, (SELECT min(e3.t) FROM ev e3 WHERE e3.u = r.u "
            "AND e3.event_type = 'purchase' AND e3.t > "
            "(SELECT min(e2.t) FROM ev e2 WHERE e2.u = r.u "
            "AND e2.event_type = 'click' AND e2.t > "
            "(SELECT min(e1.t) FROM ev e1 WHERE e1.u = r.u "
            "AND e1.event_type = 'view' AND e1.t > r.tip))) AS nt, r.cnt "
            "FROM rec r) s WHERE nt IS NOT NULL) "
            "SELECT u AS user_id, CAST(max(cnt) AS BIGINT) AS n_matches "
            "FROM rec GROUP BY 1"
        ),
        "e_summap_daily": (
            # the pack -> Map-sum -> unpack path must reduce to the
            # plain two-key count
            "SELECT user_id, event_type, count(*) AS n_events "
            "FROM events GROUP BY 1, 2"
        ),
        "e_max_concurrent": (
            # the same +1/-1 sweep, relationally: cumulative sum over
            # (t, d DESC) so starts sweep before ends at ties (closed
            # intervals), peak per day, earliest t at the peak
            "WITH iv AS (SELECT user_id, CAST(ts AS DATE) AS day, "
            "epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e "
            "FROM events GROUP BY 1, 2), "
            "pts AS (SELECT day, s AS t, 1 AS d FROM iv "
            "UNION ALL SELECT day, e, -1 FROM iv), "
            "run AS (SELECT day, t, sum(d) OVER (PARTITION BY day "
            "ORDER BY t, d DESC ROWS UNBOUNDED PRECEDING) AS r FROM pts), "
            "pk AS (SELECT day, t, r, max(r) OVER (PARTITION BY day) AS p "
            "FROM run) "
            "SELECT strftime(day, '%Y-%m-%d') AS day, "
            "CAST(max(p) AS BIGINT) AS max_concurrent, "
            "CAST(min(t) AS BIGINT) AS at_us FROM pk WHERE r = p GROUP BY 1"
        ),
        "e_active_time": (
            # gaps-and-islands union length per user over the same
            # per-(day, event_type) closed intervals
            "WITH iv AS (SELECT user_id, epoch_us(min(ts)) AS s, "
            "epoch_us(max(ts)) AS e FROM events "
            "GROUP BY user_id, CAST(ts AS DATE), event_type), "
            "m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id "
            "ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
            "AS pme FROM iv), "
            "isl AS (SELECT user_id, s, e, sum(CASE WHEN pme IS NULL OR "
            "s > pme THEN 1 ELSE 0 END) OVER (PARTITION BY user_id "
            "ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g FROM m), "
            "pi AS (SELECT user_id, g, max(e) - min(s) AS len FROM isl "
            "GROUP BY 1, 2) "
            "SELECT user_id, CAST(sum(len) AS BIGINT) AS active_us "
            "FROM pi GROUP BY 1"
        ),
        "e_delta_sum": (
            "WITH v AS (SELECT user_id, ts, event_id, "
            "CAST(round(value * 100) AS BIGINT) AS cents FROM events), "
            "d AS (SELECT user_id, cents - lag(cents) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS dv FROM v) "
            "SELECT user_id, CAST(coalesce(sum(CASE WHEN dv > 0 THEN dv "
            "ELSE 0 END), 0) AS BIGINT) AS delta_cents FROM d GROUP BY 1"
        ),
        "e_daily_fill": (
            "WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day, "
            "count(*) AS n FROM events GROUP BY 1, 2), "
            "days AS (SELECT CAST(unnest(generate_series("
            "(SELECT min(day) FROM c), (SELECT max(day) FROM c), "
            "INTERVAL 1 DAY)) AS DATE) AS day), "
            "axis AS (SELECT et.event_type, days.day "
            "FROM (SELECT DISTINCT event_type FROM c) et CROSS JOIN days) "
            "SELECT axis.event_type, strftime(axis.day, '%Y-%m-%d') AS day, "
            "CAST(coalesce(c.n, 0) AS BIGINT) AS n_events FROM axis "
            "LEFT JOIN c ON c.event_type = axis.event_type "
            "AND c.day = axis.day"
        ),
        "e_lttb_downsample": (
            # the same parallel LTTB relationally: equal-count buckets,
            # endpoint pseudo-buckets -1/20, HUGEINT area numerators
            # (= Spark's decimal(38,0)), max-area-then-min-t per bucket
            "WITH series AS (SELECT user_id AS u, epoch_us(ts) AS t, "
            "sum(CAST(round(value * 100) AS BIGINT)) AS v "
            "FROM events GROUP BY 1, 2), "
            "pts AS (SELECT u, t, v, "
            "row_number() OVER (PARTITION BY u ORDER BY t) AS rn, "
            "count(*) OVER (PARTITION BY u) AS cnt FROM series), "
            "bucketed AS (SELECT u, t, v, CAST(CASE WHEN rn = 1 THEN -1 "
            "WHEN rn = cnt THEN 20 ELSE floor((rn - 2) * 20 / "
            "greatest(cnt - 2, 1)) END AS BIGINT) AS b FROM pts), "
            "aggs AS (SELECT u, b, sum(t) AS st, sum(v) AS sv, "
            "count(*) AS c FROM bucketed GROUP BY 1, 2), "
            "anch AS (SELECT u, b, "
            "lag(st) OVER wb AS stl, lag(sv) OVER wb AS svl, "
            "lag(c) OVER wb AS cl, lead(st) OVER wb AS st2, "
            "lead(sv) OVER wb AS svr, lead(c) OVER wb AS cr FROM aggs "
            "WINDOW wb AS (PARTITION BY u ORDER BY b)), "
            "area AS (SELECT i.u, i.b, i.t, i.v, abs("
            "(CAST(a.stl AS HUGEINT) * a.cr - CAST(a.st2 AS HUGEINT) * a.cl) * "
            "(CAST(i.v AS HUGEINT) * a.cl - a.svl) - "
            "(CAST(a.stl AS HUGEINT) - CAST(i.t AS HUGEINT) * a.cl) * "
            "(CAST(a.svr AS HUGEINT) * a.cl - CAST(a.svl AS HUGEINT) * a.cr)) "
            "AS ar FROM bucketed i JOIN anch a ON a.u = i.u AND a.b = i.b "
            "WHERE i.b >= 0 AND i.b < 20), "
            "picked AS (SELECT u, t, v FROM (SELECT u, t, v, "
            "row_number() OVER (PARTITION BY u, b "
            "ORDER BY ar DESC NULLS LAST, t) AS pk FROM area) WHERE pk = 1) "
            "SELECT u AS user_id, CAST(t AS BIGINT) AS t_us, "
            "CAST(v AS BIGINT) AS cents "
            "FROM (SELECT u, st AS t, sv AS v FROM aggs "
            "WHERE b = -1 OR b = 20 "
            "UNION ALL SELECT u, t, v FROM picked)"
        ),
        "e_retention_cohorts": (
            "WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events), "
            "f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1) "
            "SELECT cohort, CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS week_offset, "
            "CAST(count(*) AS BIGINT) AS n_users FROM e JOIN f USING (user_id) GROUP BY 1, 2"
        ),
        "x4_common_ngrams": (
            f"WITH {_SHINGLE_CTE}, "
            "dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s) "
            "SELECT doc_id, CAST(n AS BIGINT) AS n_shingles, "
            "CAST(floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000 / n) AS BIGINT) "
            "AS common_permille "
            "FROM sh JOIN dfq USING (s) JOIN sz USING (doc_id) GROUP BY doc_id, n"
        ),
        "e_transitions": (
            "WITH t AS (SELECT lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, "
            "event_type AS next_type FROM events) "
            "SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions "
            "FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2"
        ),
        "x7_det_shuffle": (
            "WITH b AS (SELECT doc_id, "
            "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard "
            "FROM documents) "
            "SELECT doc_id, CAST(shard AS BIGINT) AS shard, "
            "CAST(row_number() OVER (PARTITION BY shard "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos FROM b"
        ),
        "x_correlated_scalar": (
            "SELECT c.c_custkey FROM customer c "
            "WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT) "
            "* (SELECT count(*) FROM customer c2 "
            "WHERE c2.c_nationkey = c.c_nationkey) "
            "> (SELECT sum(CAST(floor(c3.c_acctbal * 100) AS BIGINT)) "
            "FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)"
        ),
        "x_grouping_sets": (
            "SELECT o_orderstatus, o_orderpriority, "
            "CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, "
            "CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents "
            "FROM orders GROUP BY GROUPING SETS "
            "((o_orderstatus, o_orderpriority), (o_orderstatus), ())"
        ),
        "x_window_suite": (
            "SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation, "
            "CAST(ntile(4) OVER w AS BIGINT) AS quartile, "
            "CAST(floor(percent_rank() OVER w * 1000) AS BIGINT) AS pct_rank_permille, "
            "CAST(first_value(c_custkey) OVER w AS BIGINT) AS richest_key, "
            "CAST(lead(c_custkey) OVER w AS BIGINT) AS next_key "
            "FROM customer "
            "WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)"
        ),
        "x_zorder_key": (
            "WITH d AS (SELECT o_orderkey, "
            "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 1023 AS a, "
            "o_custkey & 1023 AS b FROM orders) "
            "SELECT o_orderkey, CAST("
            + " + ".join(
                f"((a >> {i}) & 1) * {1 << (2 * i)} + ((b >> {i}) & 1) * {1 << (2 * i + 1)}"
                for i in range(10)
            )
            + " AS BIGINT) AS zkey FROM d"
        ),
        # the oracle is the UNSALTED join: salting must be invisible
        "x_salted_join": (
            "WITH ts AS (SELECT event_type, CAST(floor(avg(value) * 1000) AS BIGINT) "
            "AS type_avg_permille FROM events GROUP BY event_type) "
            "SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(sum(CASE WHEN floor(e.value * 1000) > ts.type_avg_permille "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg "
            "FROM events e JOIN ts USING (event_type) GROUP BY e.event_type"
        ),
        "e_sessions": (
            "WITH o AS (SELECT user_id, ts, event_id, "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), "
            "m AS (SELECT user_id, CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 "
            "THEN 1 ELSE 0 END AS is_new FROM o) "
            "SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM m GROUP BY user_id"
        ),
        "e_sessions_native_stream": (
            "WITH o AS (SELECT user_id, ts, event_id, "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), "
            "m AS (SELECT user_id, ts, event_id, "
            "CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 "
            "THEN 1 ELSE 0 END AS is_new FROM o), "
            "g AS (SELECT user_id, ts, sum(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS grp FROM m), "
            "s AS (SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
            "CAST(count(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, grp), "
            "cut AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us "
            "FROM events) "
            "SELECT user_id, session_start, session_end, n_events FROM s, cut "
            "WHERE epoch_us(session_end) + 1800000000 <= wm_us"
        ),
        "x13_mad_outliers": (
            "WITH e AS (SELECT event_id, user_id, "
            "CAST(floor(value * 1000) AS BIGINT) AS v FROM events), "
            "m AS (SELECT user_id, median(v) AS md FROM e GROUP BY 1), "
            "d AS (SELECT e.event_id, e.user_id, e.v, abs(e.v - m.md) AS ad "
            "FROM e JOIN m USING (user_id)), "
            "mm AS (SELECT user_id, median(ad) AS mad FROM d GROUP BY 1) "
            "SELECT event_id, user_id, v FROM d JOIN mm USING (user_id) "
            "WHERE ad > 3 * mad"
        ),
        "x13_seasonal_naive": (
            # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1 —
            # the (d-1) on the Spark side makes the slots identical.
            "WITH s AS (SELECT event_id, user_id, "
            "CAST(dayofweek(ts) * 24 + hour(ts) AS INT) AS hour_of_week, "
            "CAST(floor(value * 1000) AS BIGINT) AS value_permille FROM events), "
            "w AS (SELECT *, sum(value_permille) OVER "
            "(PARTITION BY user_id, hour_of_week) AS slot_sum, "
            "count(*) OVER (PARTITION BY user_id, hour_of_week) AS slot_n FROM s) "
            "SELECT event_id, user_id, hour_of_week, value_permille, "
            "CAST(floor(slot_sum / slot_n) AS BIGINT) AS baseline_permille, "
            "CAST(value_permille - floor(slot_sum / slot_n) AS BIGINT) "
            "AS resid_permille FROM w"
        ),
        "x13_ts_similarity": (
            "WITH hourly AS (SELECT user_id AS key, CAST(ts AS DATE) AS day, "
            "hour(ts) AS h, CAST(floor(sum(value) * 1000) AS BIGINT) AS v "
            "FROM events GROUP BY 1, 2, 3), "
            "kd AS (SELECT DISTINCT key, day FROM hourly), "
            "hh AS (SELECT CAST(unnest(range(0, 24)) AS INT) AS h), "
            "dense AS (SELECT kd.key, kd.day, hh.h, coalesce(hourly.v, 0) AS v "
            "FROM kd CROSS JOIN hh LEFT JOIN hourly "
            "ON hourly.key = kd.key AND hourly.day = kd.day AND hourly.h = hh.h), "
            "blocks AS (SELECT key, day, h // 4 AS seg, "
            "CAST(floor(sum(v) / 4.0) AS BIGINT) AS b "
            "FROM dense GROUP BY 1, 2, 3), "
            "q AS (SELECT * FROM (VALUES (0, 500), (1, 1500), (2, 2500), "
            "(3, 1500), (4, 500), (5, 100)) t(seg, qb)), "
            "d AS (SELECT key, day, CAST(sum((b - qb) * (b - qb)) AS BIGINT) AS dist2 "
            "FROM blocks JOIN q USING (seg) GROUP BY 1, 2) "
            "SELECT key, CAST(day AS VARCHAR) AS day, dist2 FROM d "
            "ORDER BY dist2, day, key LIMIT 5"
        ),
        "x_cdc_snapshot": (
            "WITH ch AS (SELECT user_id % 100 AS key, "
            "CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op, "
            "CAST(floor(value * 1000) AS BIGINT) AS val_permille, ts, event_id "
            "FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY key "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM ch) "
            "SELECT key, val_permille FROM r WHERE rn = 1 AND op = 'U'"
        ),
        "x_scd2": (
            "WITH o AS (SELECT user_id, event_type, ts, event_id, "
            "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev "
            "FROM events), "
            "c AS (SELECT user_id, event_type, ts, event_id FROM o "
            "WHERE prev IS NULL OR prev <> event_type) "
            "SELECT user_id, event_type AS state, ts AS valid_from, "
            "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to "
            "FROM c"
        ),
        "x_ordered_agg": (
            "WITH t AS (SELECT c_nationkey, c_custkey, "
            "CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents "
            "FROM customer WHERE c_custkey <= 200) "
            "SELECT c_nationkey, "
            "string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS custkeys, "
            "CAST(median(bal_cents) AS DOUBLE) AS bal_median_cents, "
            "bool_and(bal_cents > -100000000) AS all_above_floor "
            "FROM t GROUP BY 1"
        ),
        "x_window_range_frame": (
            "SELECT event_id, user_id, "
            "CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h, "
            "CAST(sum(CAST(floor(value * 1000) AS BIGINT)) OVER w AS BIGINT) "
            "AS value_permille_1h FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
        ),
        "e_unpivot": (
            "WITH w AS (SELECT user_id, "
            "count(*) FILTER (WHERE event_type = 'click') AS click, "
            "count(*) FILTER (WHERE event_type = 'view') AS view, "
            "count(*) FILTER (WHERE event_type = 'signup') AS signup, "
            "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, "
            "count(*) FILTER (WHERE event_type = 'error') AS error "
            "FROM events GROUP BY user_id), "
            "l AS (SELECT user_id, event_type, n FROM w "
            "UNPIVOT (n FOR event_type IN (click, view, signup, purchase, error))) "
            "SELECT event_type, CAST(sum(n) AS BIGINT) AS total, "
            "CAST(count(*) AS BIGINT) AS n_users FROM l GROUP BY 1"
        ),
        "x_lateral_topk": (
            "SELECT n.n_name, t.c_custkey, t.c_acctbal_cents "
            "FROM nation n, LATERAL ("
            "SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents "
            "FROM customer WHERE c_nationkey = n.n_nationkey "
            "ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"
        ),
        "e_sessions_native": (
            "WITH o AS (SELECT user_id, ts, event_id, "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), "
            "m AS (SELECT user_id, ts, event_id, "
            "CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 "
            "THEN 1 ELSE 0 END AS is_new FROM o), "
            "g AS (SELECT user_id, ts, sum(is_new) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS grp FROM m) "
            "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
            "CAST(count(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, grp"
        ),
        "e_pivot": (
            "SELECT user_id, "
            "count(*) FILTER (WHERE event_type = 'click') AS n_click, "
            "count(*) FILTER (WHERE event_type = 'view') AS n_view, "
            "count(*) FILTER (WHERE event_type = 'signup') AS n_signup, "
            "count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase, "
            "count(*) FILTER (WHERE event_type = 'error') AS n_error "
            "FROM events GROUP BY user_id"
        ),
        "x1_dedup_groups": (
            f"SELECT {_FP_SQL} AS fingerprint, count(*) AS n_docs, min(doc_id) AS min_id "
            f"FROM documents GROUP BY 1"
        ),
        "x1_dedup_count": (
            f"SELECT count(DISTINCT {_FP_SQL}) AS n FROM documents"
        ),
        "x1_incremental_dedup": (
            f"WITH fp AS (SELECT doc_id, lang, source, {_FP_SQL} AS f, "
            "CAST((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) "
            "% 10000 AS INT) AS b FROM documents), "
            "hist AS (SELECT DISTINCT f FROM fp WHERE b < 8000), "
            "inc AS (SELECT doc_id, lang, source, f FROM fp WHERE b >= 8000), "
            "w AS (SELECT f, min(doc_id) AS doc_id FROM inc GROUP BY f) "
            "SELECT i.doc_id, i.lang, i.source FROM inc i "
            "JOIN w ON i.doc_id = w.doc_id AND i.f = w.f "
            "WHERE i.f NOT IN (SELECT f FROM hist)"
        ),
        "x4_token_stats": (
            "SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens "
            "FROM documents"
        ),
        "x4_quality": (
            "WITH f AS (SELECT doc_id, length(text) AS n_chars, "
            "len(str_split(text, ' ')) AS n_tokens, "
            "length(text) - length(replace(text, ' ', '')) AS n_spaces, "
            "length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct, "
            f"{_LANG_HITS['en']} AS n_stop "
            "FROM documents) "
            "SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_tokens AS BIGINT) AS n_tokens, "
            "CAST(n_spaces AS BIGINT) AS n_spaces, CAST(n_punct AS BIGINT) AS n_punct, "
            "CAST(floor(n_punct * 1000 / n_chars) AS BIGINT) AS punct_permille, "
            "CAST(floor(n_stop * 1000 / n_tokens) AS BIGINT) AS stopword_permille, "
            "(n_tokens >= 10 AND n_chars >= 50 AND floor(n_punct * 1000 / n_chars) < 200) AS quality_keep "
            "FROM f"
        ),
        "x4_lang_id": (
            f"WITH h AS (SELECT doc_id, {_LANG_HITS['en']} AS en, "
            f"{_LANG_HITS['de']} AS de, {_LANG_HITS['fr']} AS fr FROM documents) "
            "SELECT doc_id, CASE "
            "WHEN fr > en AND fr > de AND fr > 0 THEN 'fr' "
            "WHEN de > en AND de > 0 THEN 'de' "
            "WHEN en > 0 THEN 'en' ELSE 'und' END AS lang_guess FROM h"
        ),
        "x2_ngram_containment": (
            f"WITH {_SHINGLE_CTE}, "
            "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
            "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT da AS doc_a, db AS doc_b, CAST(c AS BIGINT) AS common, "
            "CAST(floor(c * 1000 / least(x.n, y.n)) AS BIGINT) AS containment_permille "
            "FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id "
            "WHERE c * 1000 >= 500 * least(x.n, y.n)"
        ),
        "x2_threshold_sweep": (
            f"WITH {_SHINGLE_CTE}, "
            "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
            "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "j AS (SELECT c, x.n + y.n - c AS u FROM p "
            "JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id "
            "WHERE c * 1000 >= 500 * (x.n + y.n - c)), "
            "g AS (SELECT unnest([500, 600, 700, 800, 900, 1000]) AS t) "
            "SELECT CAST(t AS BIGINT) AS threshold_permille, "
            "CAST(count(c) AS BIGINT) AS n_pairs "
            "FROM g LEFT JOIN j ON c * 1000 >= t * u GROUP BY t"
        ),
        "x2_ngram_jaccard": _JACCARD_PAIRS_ORACLE,
        # PPJoin prefix filtering is an execution strategy, not a
        # semantics change: the answer set is the exact Jaccard pairs,
        # so the oracle is the same relational query as x2_ngram_jaccard
        "x2_ngram_jaccard_ppjoin": _JACCARD_PAIRS_ORACLE,
        # the r10 overflow reroute dispatches to PPJoin, which answers
        # the exact Jaccard query bit-identically: same oracle again
        "x2_ngram_jaccard_reroute": _JACCARD_PAIRS_ORACLE,
        "x2_ngram_jaccard_auto": _JACCARD_PAIRS_ORACLE,
        # identical cap semantics: common counts only shingles with
        # document frequency <= 50; sizes keep the full shingle counts
        "x2_ngram_jaccard_capped": (
            f"WITH {_SHINGLE_CTE}, "
            "rare AS (SELECT s FROM sh GROUP BY s "
            "HAVING (count(*) - 1) * 100 < (SELECT count(*) FROM documents)), "
            "shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)), "
            "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
            "FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT da AS doc_a, db AS doc_b, CAST(c AS BIGINT) AS common, "
            "CAST(x.n AS BIGINT) AS size_a, CAST(y.n AS BIGINT) AS size_b "
            "FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id "
            "WHERE c * 1000000 >= 800000 * (x.n + y.n - c)"
        ),
        "x3_topk_cosine": (
            f"WITH {_COSINE_SCORED} "
            "SELECT vec_id, rnk FROM (SELECT vec_id, "
            "CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk "
            "FROM scored) WHERE rnk <= 10"
        ),
        "x3_radius_search": (
            lambda qv=", ".join(
                "1.0" if i % 7 == 0 else "0.1" for i in range(64)
            ): (
                "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
                "FROM embeddings), "
                f"s AS (SELECT vec_id, CAST(floor((list_dot_product(v, [{qv}]) "
                "/ (sqrt(list_dot_product(v, v)) * "
                f"sqrt(list_dot_product([{qv}], [{qv}])))) * 1000) AS BIGINT) "
                "AS sim_permille FROM e) "
                "SELECT vec_id, sim_permille FROM s WHERE sim_permille >= 200"
            )
        )(),
        "x4_source_similarity": (
            "WITH toks AS (SELECT DISTINCT source, tok FROM "
            "(SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) "
            "WHERE tok <> ''), "
            "sz AS (SELECT source, count(*) AS n FROM toks GROUP BY 1), "
            "p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS common "
            "FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source "
            "GROUP BY 1, 2) "
            "SELECT src_a, src_b, CAST(common AS BIGINT) AS common, "
            "CAST((1000 * common) // (x.n + y.n - common) AS BIGINT) "
            "AS jaccard_permille "
            "FROM p JOIN sz x ON src_a = x.source JOIN sz y ON src_b = y.source"
        ),
        "x2_semantic_dedup_keep": (
            "WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
            "* sqrt(list_dot_product(b.v, b.v))) >= 0.35), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(u, r) AS (SELECT vec_id, vec_id FROM embeddings "
            "UNION SELECT g.u, reach.r FROM edges g JOIN reach ON g.v = reach.u), "
            "comp AS (SELECT u AS vec_id, min(r) AS component FROM reach GROUP BY u) "
            "SELECT vec_id, CAST(label AS BIGINT) AS label "
            "FROM comp JOIN embeddings USING (vec_id) WHERE vec_id = component"
        ),
        "x2_embedding_dup": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_dot_product(a.v, b.v) "
            "/ (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35"
        ),
        "x4_doc_profile": (
            f"WITH h AS (SELECT doc_id, {_LANG_HITS['en']} AS en, "
            f"{_LANG_HITS['de']} AS de, {_LANG_HITS['fr']} AS fr FROM documents) "
            "SELECT d.doc_id, CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens, "
            "CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens, "
            "CASE WHEN h.fr > h.en AND h.fr > h.de AND h.fr > 0 THEN 'fr' "
            "WHEN h.de > h.en AND h.de > 0 THEN 'de' "
            "WHEN h.en > 0 THEN 'en' ELSE 'und' END AS lang_guess, "
            f"{_FP_SQL.replace('text', 'd.text')} AS fingerprint "
            "FROM documents d JOIN h ON d.doc_id = h.doc_id"
        ),
        "x3_knn_join": (
            "WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
            "FROM embeddings WHERE vec_id < 5), "
            "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
            "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) "
            "/ (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) "
            "* sqrt(list_dot_product(q.qv, q.qv))) AS sim "
            "FROM embeddings e, qs q) "
            "SELECT query_id, neighbor_id, rnk FROM (SELECT query_id, neighbor_id, "
            "CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk "
            "FROM scored) WHERE rnk <= 3"
        ),
        "x3_hard_negatives": (
            "WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, "
            "label AS ql FROM embeddings WHERE vec_id < 5), "
            "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
            "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) "
            "/ (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) "
            "* sqrt(list_dot_product(q.qv, q.qv))) AS sim "
            "FROM embeddings e, qs q WHERE e.label <> q.ql) "
            "SELECT query_id, neighbor_id, rnk FROM (SELECT query_id, neighbor_id, "
            "CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk "
            "FROM scored) WHERE rnk <= 3"
        ),
        "x3_quantize_int8": (
            "WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
            "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax "
            "FROM embeddings), "
            "q AS (SELECT vec_id, amax, CASE WHEN amax = 0 "
            "THEN list_transform(v, x -> 0::BIGINT) "
            "ELSE list_transform(v, x -> greatest(-127::BIGINT, least(127::BIGINT, "
            "CAST(floor(x * 127 / amax) AS BIGINT)))) END AS qv FROM a) "
            "SELECT vec_id, CAST(floor(amax * 1000000) AS BIGINT) AS q_scale_ppm, "
            "CAST(list_min(qv) AS BIGINT) AS q_min, CAST(list_max(qv) AS BIGINT) AS q_max, "
            "CAST(list_sum(qv) AS BIGINT) AS q_sum FROM q"
        ),
        "x5_media_features": (
            "SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "sha256(text) AS sha256 FROM documents"
        ),
        "x7_hash_split": (
            "WITH b AS (SELECT doc_id, CAST((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS INT) AS bucket FROM documents) "
            "SELECT doc_id, bucket, CASE WHEN bucket < 500 THEN 'val' "
            "WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split FROM b"
        ),
        "x7_kfold": (
            "SELECT doc_id, CAST((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT) % 10000 % 5 AS INT) AS fold FROM documents"
        ),
        "x7_shard_export": (
            "WITH b AS (SELECT doc_id, "
            "CAST((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS INT) "
            "AS bucket FROM documents), "
            "s AS (SELECT doc_id, CASE WHEN bucket < 500 THEN 'val' "
            "WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split FROM b) "
            "SELECT split, CAST(count(*) AS BIGINT) AS n_records, "
            "CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id "
            "FROM s GROUP BY 1"
        ),
        "x4_distinctive_terms": (
            "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2), "
            "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            "scored AS (SELECT tf.doc_id, tf.term, CAST(floor(tf.tf * 1000000 / dfreq.df) AS BIGINT) AS score "
            "FROM tf JOIN dfreq USING (term)) "
            "SELECT doc_id, term, score, rnk FROM ("
            "SELECT doc_id, term, score, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk "
            "FROM scored) WHERE rnk <= 3"
        ),
        # The augmented-text expression is the verbatim SQL twin of
        # q_pii_scrub's Spark concat; pii_oracle_sql replays the same
        # pattern sequence with DuckDB's 'g' flag (global replace).
        "x4_html_clean": (
            f"WITH aug AS (SELECT doc_id, {_HTML_SYNTH} AS html FROM documents) "
            f"SELECT {html_oracle_sql('html')} FROM aug"
        ),
        "x4_pii_scrub": (
            "WITH aug AS (SELECT doc_id, text || ' reach me at user' || "
            "CAST(doc_id AS VARCHAR) || '@mail-' || CAST(doc_id AS VARCHAR) || "
            "'.example.org or 10.20.' || CAST(doc_id % 256 AS VARCHAR) || "
            "'.7, ssn 123-45-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || "
            "', tel +1555000' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS text "
            "FROM documents) "
            "SELECT doc_id, md5(redacted) AS redacted_md5, "
            "n_email, n_ssn, n_ipv4, n_phone FROM "
            f"(SELECT {_scrub.pii_oracle_sql('text')} FROM aug)"
        ),
        "x4_repetition": (
            f"WITH {_TOKS_POS_CTE}, "
            "tc AS (SELECT doc_id, _tok, count(*) AS c FROM t GROUP BY 1, 2), "
            "pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, "
            "count(*) AS n_uniq, max(c) AS top FROM tc GROUP BY 1), "
            "bi AS (SELECT doc_id, concat_ws(' ', _tok, nxt) AS b FROM ("
            "SELECT doc_id, _tok, lead(_tok) OVER (PARTITION BY doc_id ORDER BY _pos) AS nxt "
            "FROM t) WHERE nxt IS NOT NULL), "
            "ba AS (SELECT doc_id, count(*) AS n_bi, count(DISTINCT b) AS n_bi_uniq "
            "FROM bi GROUP BY 1) "
            "SELECT pd.doc_id, pd.n_tok AS n_tokens, "
            "CAST(floor(n_uniq * 1000 / n_tok) AS BIGINT) AS uniq_token_permille, "
            "CAST(floor(top * 1000 / n_tok) AS BIGINT) AS top_token_permille, "
            "CAST(coalesce(1000 - floor(n_bi_uniq * 1000 / n_bi), 0) AS BIGINT) AS dup_bigram_permille "
            "FROM pd LEFT JOIN ba ON pd.doc_id = ba.doc_id"
        ),
        "x4_top_bigrams": (
            f"WITH {_TOKS_POS_CTE}, "
            "bi AS (SELECT doc_id, concat_ws(' ', _tok, nxt) AS ngram FROM ("
            "SELECT doc_id, _tok, lead(_tok) OVER (PARTITION BY doc_id ORDER BY _pos) AS nxt "
            "FROM t) WHERE nxt IS NOT NULL) "
            "SELECT ngram, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs "
            "FROM bi GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 20"
        ),
        "x4_bpe_pairs": (
            "WITH toks AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents), "
            "wf AS (SELECT w, count(*) AS f FROM toks WHERE w <> '' GROUP BY 1), "
            "pr AS (SELECT substring(w, CAST(unnest(generate_series(1, length(w) - 1)) "
            "AS INT), 2) AS pair, f FROM wf WHERE length(w) >= 2) "
            "SELECT pair, CAST(sum(f) AS BIGINT) AS weight FROM pr "
            "GROUP BY 1 ORDER BY weight DESC, pair LIMIT 50"
        ),
        "x7_stratified_sample": (
            "SELECT doc_id, lang, rnk FROM (SELECT doc_id, lang, "
            "CAST(row_number() OVER (PARTITION BY lang "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk "
            "FROM documents) WHERE rnk <= 5"
        ),
        "x4_vocab": (
            "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents), "
            "c AS (SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs "
            "FROM toks WHERE token <> '' GROUP BY 1) "
            "SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id, "
            "CAST(cnt AS BIGINT) AS cnt, CAST(n_docs AS BIGINT) AS n_docs "
            "FROM c ORDER BY cnt DESC, token LIMIT 50"
        ),
        "x4_vocab_coverage": (
            "WITH toks AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents), "
            "t AS (SELECT token FROM toks WHERE token <> ''), "
            "c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1), "
            "r AS (SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rnk, "
            "sum(cnt) OVER (ORDER BY cnt DESC, token "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c), "
            "n AS (SELECT count(*) AS total FROM t) "
            "SELECT CAST(rnk AS BIGINT) AS n_vocab, CAST(cum AS BIGINT) AS cum_tokens, "
            "CAST(floor(cum * 1000 / total) AS BIGINT) AS coverage_permille "
            "FROM r, n WHERE rnk IN (5, 10, 20, 30)"
        ),
        "x4_oov_rate": (
            "WITH toks AS (SELECT source, unnest(str_split(text, ' ')) AS token "
            "FROM documents), t AS (SELECT source, token FROM toks WHERE token <> ''), "
            "c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1), "
            "v AS (SELECT token FROM c ORDER BY cnt DESC, token LIMIT 200) "
            "SELECT t.source, CAST(count(*) AS BIGINT) AS n_tokens, "
            "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, "
            "CAST(floor(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000 "
            "/ count(*)) AS BIGINT) AS oov_permille "
            "FROM t LEFT JOIN v ON t.token = v.token GROUP BY 1"
        ),
        "x4_tfidf_search": (
            "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks "
            f"WHERE term IN ({', '.join(repr(t) for t in _TFIDF_QUERY)}) GROUP BY 1, 2), "
            "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            "s AS (SELECT tf.doc_id, "
            "CAST(sum(CAST(floor(tf.tf * 1000000 / dfreq.df) AS BIGINT)) AS BIGINT) AS score, "
            "CAST(count(*) AS BIGINT) AS n_hits "
            "FROM tf JOIN dfreq USING (term) GROUP BY 1) "
            "SELECT doc_id, score, n_hits, "
            "CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk "
            "FROM s ORDER BY score DESC, doc_id LIMIT 20"
        ),
        "x6_kmv_distinct": (
            "WITH h AS (SELECT DISTINCT event_type, "
            "('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv "
            "FROM events), "
            "r AS (SELECT event_type, hv, "
            "row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h), "
            "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, "
            "max(hv) AS kth_hash FROM r WHERE rn <= 64 GROUP BY 1) "
            "SELECT event_type, n_kept, kth_hash, "
            "CASE WHEN n_kept < 64 THEN n_kept ELSE "
            "CAST((63 * 1152921504606846976::HUGEINT) // kth_hash AS BIGINT) END "
            "AS est_distinct FROM a"
        ),
        "x4_hashed_bow": (
            "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok "
            "FROM documents) "
            "SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 "
            "AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n "
            "FROM toks GROUP BY 1, 2"
        ),
        "x4_unigram_logprob": (
            "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term "
            "FROM documents), "
            "vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1), "
            "tot AS (SELECT sum(cnt) AS total FROM vocab), "
            "ts AS (SELECT term, CAST(floor(1000000 * ln(CAST(cnt AS DOUBLE) / total)) "
            "AS BIGINT) AS term_micro FROM vocab, tot), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2) "
            "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, "
            "CAST(sum(tf * term_micro) AS BIGINT) AS logprob_micro "
            "FROM tf JOIN ts USING (term) GROUP BY doc_id"
        ),
        "x4_bm25_topk": (
            "WITH base AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents), "
            "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base), "
            "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(dl) AS BIGINT) AS total FROM dl), "
            "toks AS (SELECT doc_id, unnest(toks) AS term FROM base), "
            "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks "
            f"WHERE term IN ({', '.join(repr(t) for t in _TFIDF_QUERY)}) GROUP BY 1, 2), "
            "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
            "idf AS (SELECT term, CAST(floor(1000000 * "
            "ln(CAST(2 * n_docs + 2 AS DOUBLE) / (2 * df + 1))) AS BIGINT) "
            "AS idf_micro FROM dfreq, tot), "
            "s AS (SELECT tf.doc_id, "
            "CAST(sum((idf_micro * 44 * total * tf) // "
            "(20 * total * tf + 6 * total + 18 * dl * n_docs)) AS BIGINT) "
            "AS score_micro, CAST(count(*) AS BIGINT) AS n_hits "
            "FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), tot GROUP BY 1) "
            "SELECT doc_id, score_micro, n_hits, "
            "CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk "
            "FROM s ORDER BY score_micro DESC, doc_id LIMIT 20"
        ),
        "x7_upsample": (
            "WITH n_per AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), "
            "draws AS (SELECT source, n, unnest(generate_series(1, 40)) AS draw_id "
            "FROM n_per), "
            "d2 AS (SELECT source, draw_id, "
            "((('0x' || substring(md5(source || '#' || CAST(draw_id AS VARCHAR)), "
            "1, 15))::BIGINT) % n) + 1 AS pos FROM draws), "
            "ranked AS (SELECT doc_id, source, row_number() OVER "
            "(PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) "
            "AS pos FROM documents) "
            "SELECT CAST(draw_id AS BIGINT) AS draw_id, doc_id, source, "
            "CAST(pos AS BIGINT) AS pos FROM d2 JOIN ranked USING (source, pos)"
        ),
        "x7_interleave": (
            "WITH srcs AS (SELECT source, row_number() OVER (ORDER BY source) - 1 "
            "AS si FROM (SELECT DISTINCT source FROM documents)), "
            "k AS (SELECT count(*) AS n FROM srcs), "
            "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS src_rank "
            "FROM documents) "
            "SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank, "
            "CAST((src_rank - 1) * n + si AS BIGINT) AS pos "
            "FROM r JOIN srcs USING (source), k"
        ),
        "x7_mixture_sample": (
            "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), "
            "q AS (SELECT lang, least("
            "CAST(floor(n * n * 100 / (SELECT sum(n * n) FROM c)) AS BIGINT), n) AS quota FROM c), "
            "r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk FROM documents) "
            "SELECT r.doc_id, r.lang, r.rnk, CAST(q.quota AS BIGINT) AS quota "
            "FROM r JOIN q USING (lang) WHERE rnk <= quota"
        ),
        "x2_minhash_lsh_md5": _minhash_md5_oracle(),
        "x2_near_dedup_clusters": _minhash_clusters_oracle(),
        "x7_split_leakage_safe_minhash": _minhash_split_oracle(),
        "x2_edit_distance": (
            "WITH t AS (SELECT doc_id, source, substring(text, 1, 40) AS s "
            "FROM documents) "
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist "
            "FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id "
            "WHERE levenshtein(a.s, b.s) <= 20"
        ),
        "x2_simhash_md5": _simhash_md5_oracle(),
        "x2_winnow_md5": _winnow_md5_oracle(),
        "x10_curation_pipeline": _curation_pipeline_oracle(),
        "x11_chunking": (
            "WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents), "
            "s AS (SELECT doc_id, toks, greatest(len(toks) - 64 + 1, 1) AS last_s FROM t), "
            "st AS (SELECT doc_id, toks, unnest(list_distinct("
            "list_append(generate_series(1, last_s, 48), last_s))) AS chunk_start FROM s) "
            "SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start, "
            "CAST(least(64, len(toks) - chunk_start + 1) AS BIGINT) AS n_chunk_tokens, "
            "md5(array_to_string(toks[chunk_start : chunk_start + 63], ' ')) AS chunk_md5 "
            "FROM st"
        ),
        "x4_dup_novelty": (
            f"WITH {_SHINGLE_CTE}, "
            "st AS (SELECT s, count(*) AS dfc, min(doc_id) AS fd FROM sh GROUP BY s), "
            "per AS (SELECT sh.doc_id, count(*) AS n_sh, "
            "sum(CASE WHEN dfc > 1 THEN 1 ELSE 0 END) AS n_dup, "
            "sum(CASE WHEN fd = sh.doc_id THEN 1 ELSE 0 END) AS n_novel "
            "FROM sh JOIN st USING (s) GROUP BY 1) "
            "SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles, "
            "CAST(n_dup AS BIGINT) AS n_dup_shingles, "
            "CAST((1000 * n_dup) // n_sh AS BIGINT) AS dup_permille, "
            "CAST(n_novel AS BIGINT) AS n_novel_shingles, "
            "CAST((1000 * n_novel) // n_sh AS BIGINT) AS novelty_permille "
            "FROM per"
        ),
        "e_stream_dedup": (
            "SELECT DISTINCT event_id, user_id, ts FROM events"
        ),
        "x3_lsh_topk_portable": _lsh_topk_portable_oracle(),
        "x2_embedding_dup_lsh_portable": _embedding_lsh_pairs_oracle(),
        "x4_span_scrub": _span_scrub_oracle(),
        "x4_source_report": (
            "WITH f AS (SELECT doc_id, source, length(text) AS n_chars, "
            "len(str_split(text, ' ')) AS n_tokens, "
            "length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct "
            "FROM documents) "
            "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "CAST(floor(sum(CASE WHEN n_tokens >= 10 AND n_chars >= 50 "
            "AND floor(n_punct * 1000 / n_chars) < 200 THEN 1 ELSE 0 END) * 1000 "
            "/ count(*)) AS BIGINT) AS keep_permille FROM f GROUP BY source"
        ),
        "x9_sequence_pack": _packing.pack_oracle_sql(
            256,
            "SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens "
            "FROM documents",
        ),
        "x8_contamination": (
            f"WITH sh AS ({_contamination.shingle_sql_cte(3)}), "
            "bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0), "
            "hits AS (SELECT s.doc_id, count(DISTINCT s.shingle) AS n_hits "
            "FROM sh s JOIN bsh USING (shingle) GROUP BY 1) "
            "SELECT d.doc_id, d.doc_id % 20 = 0 AS is_benchmark, "
            "CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, "
            "coalesce(h.n_hits, 0) > 0 AS contaminated "
            "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"
        ),
        "x5_png_pixel_stats": (
            "WITH px AS (SELECT doc_id, "
            "unnest(generate_series(0, CAST((1 + doc_id % 16) * (1 + doc_id % 12) "
            "- 1 AS BIGINT))) AS p FROM documents) "
            "SELECT doc_id AS media_id, "
            "CAST(1 + doc_id % 16 AS INT) AS width, "
            "CAST(1 + doc_id % 12 AS INT) AS height, "
            "CAST(sum((doc_id + p) % 256) AS BIGINT) AS sum_r, "
            "CAST(sum((doc_id + 2 * p + 1) % 256) AS BIGINT) AS sum_g, "
            "CAST(sum((doc_id + 3 * p + 2) % 256) AS BIGINT) AS sum_b "
            "FROM px GROUP BY doc_id"
        ),
        "x5_media_probe": (
            "SELECT doc_id AS media_id, "
            "CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' "
            "WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav' "
            "WHEN 5 THEN 'flac' ELSE 'mp3' END AS format, "
            "CASE WHEN doc_id % 7 < 4 THEN CAST(1 + doc_id % 300 AS INT) END AS width, "
            "CASE WHEN doc_id % 7 < 4 THEN CAST(1 + doc_id % 200 AS INT) END AS height, "
            "CASE WHEN doc_id % 7 IN (4, 5) THEN CAST(10 + doc_id % 490 AS BIGINT) "
            "WHEN doc_id % 7 = 6 THEN CAST(floor((1 + doc_id % 25) * 417 * 8 / 128) AS BIGINT) "
            "END AS duration_ms, "
            "CASE doc_id % 7 WHEN 4 THEN CAST(8000 AS INT) WHEN 5 THEN CAST(16000 AS INT) "
            "WHEN 6 THEN CAST(44100 AS INT) END AS sample_rate, "
            "CASE doc_id % 7 WHEN 4 THEN CAST(1 AS INT) "
            "WHEN 5 THEN CAST(1 + doc_id % 2 AS INT) "
            "WHEN 6 THEN CAST(2 AS INT) END AS channels "
            "FROM documents"
        ),
        "x5_frame_plan": (
            "WITH v AS (SELECT doc_id AS media_id, 500 + (doc_id * 7) % 4500 AS dur "
            "FROM documents) "
            "SELECT media_id, CAST(unnest(generate_series(0, greatest(dur - 1, 0), 1000)) "
            "AS BIGINT) AS frame_ts_ms FROM v"
        ),
        "x6_exact_stats": (
            "SELECT count(*) AS n_rows, count(DISTINCT l_partkey) AS n_parts, "
            "count(DISTINCT l_suppkey) AS n_supps, "
            "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship FROM lineitem"
        ),
        # Misra-Gries candidates have no false negatives and the exact
        # recount kills false positives → the plain HAVING query is the
        # exact oracle of the sketch pipeline.
        "x6_countmin": (
            "WITH rows_g AS (SELECT unnest([0, 1, 2, 3]) AS row), "
            "probes AS (SELECT user_id, row, "
            "('0x' || substring(md5(CAST(user_id AS VARCHAR) || '#' || "
            "CAST(row AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket "
            "FROM events, rows_g), "
            "cells AS (SELECT row, bucket, count(*) AS cell_count "
            "FROM probes GROUP BY 1, 2), "
            "keys AS (SELECT DISTINCT user_id FROM events), "
            "kp AS (SELECT user_id, row, "
            "('0x' || substring(md5(CAST(user_id AS VARCHAR) || '#' || "
            "CAST(row AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket "
            "FROM keys, rows_g), "
            "est AS (SELECT user_id, min(coalesce(cell_count, 0)) AS est_count "
            "FROM kp LEFT JOIN cells USING (row, bucket) GROUP BY 1), "
            "exact AS (SELECT user_id, count(*) AS exact_count "
            "FROM events GROUP BY 1) "
            "SELECT user_id, CAST(est_count AS BIGINT) AS est_count, "
            "CAST(exact_count AS BIGINT) AS exact_count "
            "FROM est JOIN exact USING (user_id)"
        ),
        "x6_heavy_hitters": (
            "WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt "
            "FROM orders GROUP BY 1), tot AS (SELECT count(*) AS n FROM orders) "
            "SELECT o_custkey, cnt FROM c, tot WHERE cnt * 1000 > n"
        ),
        "x6_footer_stats": (
            "SELECT count(*) AS n_rows, "
            "min(l_orderkey) AS min_l_orderkey, max(l_orderkey) AS max_l_orderkey, "
            "min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey "
            "FROM lineitem"
        ),
        "x6_histogram": (
            "SELECT CAST(floor(value / 10) AS BIGINT) AS bin, "
            "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1"
        ),
        "p7_dns_parse_diverse": (
            "WITH e AS (SELECT event_id, "
            "TRY_CAST(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS INT) AS k "
            "FROM events) "
            "SELECT event_id, CAST(k % 6 AS INT) AS rcode, "
            "'10.' || CAST((event_id // 65536) % 256 AS VARCHAR) || '.' || "
            "CAST((event_id // 256) % 256 AS VARCHAR) || '.' || "
            "CAST(event_id % 256 AS VARCHAR) AS rdata FROM e"
        ),
        # second-truncated epochs on both sides: the stateful operator
        # compares gap in whole seconds and emits second-precision
        # session bounds, so the oracle truncates identically.
        "e_sessions_stream": (
            "WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s FROM events), "
            "m AS (SELECT user_id, s, CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800 "
            "THEN 1 ELSE 0 END AS is_new FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s)), "
            "g AS (SELECT user_id, s, sum(is_new) OVER (PARTITION BY user_id ORDER BY s "
            "ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
            "SELECT user_id, make_timestamp(min(s) * 1000000) AS session_start, "
            "make_timestamp(max(s) * 1000000) AS session_end, "
            "CAST(count(*) AS BIGINT) AS n_events "
            "FROM g GROUP BY user_id, sid"
        ),
        # CAST(ts AS TIMESTAMP) truncates DuckDB's ns to µs exactly like
        # the loader's `ts div 1000` (verified) — both sides of the
        # temporal queries compare at identical µs precision.
        "e_asof_join": (
            "WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), "
            "r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS snap_value "
            "FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2) "
            "SELECT l.event_id, l.user_id, l.ts, "
            "r.snap_value AS snap_value_asof, r.ts AS ts_asof "
            "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "e_range_join": (
            "WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), "
            "i AS (SELECT event_id AS interval_id, user_id, CAST(ts AS TIMESTAMP) AS start_ts, "
            "CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS end_ts "
            "FROM events WHERE event_id % 20 = 0) "
            "SELECT p.event_id, i.interval_id FROM p JOIN i ON p.user_id = i.user_id "
            "AND i.start_ts <= p.ts AND p.ts < i.end_ts"
        ),
        "x1_dedup_clusters": (
            f"WITH RECURSIVE {_SHINGLE_CTE}, "
            "pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
            "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "pairs AS (SELECT da, db FROM pr JOIN sz x ON da = x.doc_id "
            "JOIN sz y ON db = y.doc_id "
            "WHERE c * 1000000 >= 800000 * (x.n + y.n - c)), "
            "edges AS (SELECT da AS u, db AS v FROM pairs "
            "UNION SELECT db, da FROM pairs), "
            "reach(u, r) AS (SELECT doc_id, doc_id FROM documents "
            "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u) "
            "SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component "
            "FROM reach GROUP BY u"
        ),
        "x7_split_leakage_safe": (
            f"WITH RECURSIVE {_SHINGLE_CTE}, "
            "pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
            "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "pairs AS (SELECT da, db FROM pr JOIN sz x ON da = x.doc_id "
            "JOIN sz y ON db = y.doc_id "
            "WHERE c * 1000000 >= 800000 * (x.n + y.n - c)), "
            "edges AS (SELECT da AS u, db AS v FROM pairs "
            "UNION SELECT db, da FROM pairs), "
            "reach(u, r) AS (SELECT doc_id, doc_id FROM documents "
            "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), "
            "comp AS (SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component "
            "FROM reach GROUP BY u), "
            "bk AS (SELECT doc_id, component, "
            "CAST((('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS INT) AS bucket "
            "FROM comp) "
            "SELECT doc_id, component, bucket, CASE WHEN bucket < 500 THEN 'val' "
            "WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split FROM bk"
        ),
        "x1_dedup_clusters_capped": (
            f"WITH RECURSIVE {_SHINGLE_CTE}, "
            "rare AS (SELECT s FROM sh GROUP BY s "
            "HAVING (count(*) - 1) * 100 < (SELECT count(*) FROM documents)), "
            "shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)), "
            "pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c "
            "FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "pairs AS (SELECT da, db FROM pr JOIN sz x ON da = x.doc_id "
            "JOIN sz y ON db = y.doc_id "
            "WHERE c * 1000000 >= 800000 * (x.n + y.n - c)), "
            "edges AS (SELECT da AS u, db AS v FROM pairs "
            "UNION SELECT db, da FROM pairs), "
            "reach(u, r) AS (SELECT doc_id, doc_id FROM documents "
            "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u) "
            "SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component "
            "FROM reach GROUP BY u"
        ),
        # append mode emits exactly the windows the end-of-run watermark
        # (max event time − 1h) finalized: window_end <= watermark. The
        # cutoff compares µs-exact; window ends are whole seconds, so
        # Spark's internal ms-floor of the watermark cannot flip it.
        "a6_stats2_stream": oracle_cte(
            ", agg AS (SELECT IP, time_bucket(INTERVAL '10 minutes', date_time) AS date_time, "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS blocked, "
            "CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS visited "
            "FROM log2 GROUP BY 1, 2), "
            "cut AS (SELECT max(date_time) - INTERVAL 1 HOUR AS c FROM log2) "
            "SELECT agg.IP, agg.date_time, agg.blocked, agg.visited "
            "FROM agg, cut WHERE agg.date_time + INTERVAL 10 MINUTE <= cut.c"
        ),
        # inner stream-stream joins emit on match → the batch interval
        # join is the exact oracle.
        "e_stream_interval_join": (
            "WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts "
            "FROM events WHERE event_type = 'click'), "
            "p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts "
            "FROM events WHERE event_type = 'purchase') "
            "SELECT user_id, click_id, purchase_id FROM c JOIN p USING (user_id) "
            "WHERE p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTE"
        ),
        # the streaming read-back must equal the batch aggregate over the
        # same (bridged) rows — identical oracle to a3_clients_stats.
        "c1_stream_pipeline": oracle_cte(
            "SELECT IP, CAST(sum(CASE WHEN NOT IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS visited, "
            "CAST(sum(CASE WHEN IsFiltered THEN 1 ELSE 0 END) AS BIGINT) AS blocked "
            "FROM log2 GROUP BY IP"
        ),
        # Intentionally omitted (driver records rows-only checks):
        # x2_minhash_lsh, x2_simhash_pairs, x2_winnow_fingerprints,
        # x2_embedding_dup_lsh_reroute95, x3_lsh_topk, x3_ivf_topk — xxhash64 /
        # numpy-kernel fast paths with no DuckDB twin; each has an
        # oracle-gated portable twin (*_md5 / *_portable) proving the
        # identical pipeline, plus a pytest recall gate vs its exact
        # twin. x6_approx_stats — HLL/approx quantiles are
        # engine-specific; bounded by the accuracy pytest instead.
        # x6_hll_rollup — DataSketches HLL sketches (per-day + union);
        # union-vs-direct register consistency and the ≤5% error gate
        # vs exact distinct live in tests/test_extensions.py.
        # x4_bpe_train — iterative merge loop SQL cannot express;
        # pinned exactly (merge table + final symbolization) against a
        # reference implementation in tests/test_retrieval.py.
        # x4_bpe_encode — the fold-merge encode has no safe SQL twin
        # (string replace can't respect symbol boundaries); pinned
        # exactly against the reference encoder in pytest.
        # x12_pagerank — iterative float power iteration; pinned to the
        # textbook reference at 1e-12 (with rank conservation) in
        # pytest.
    }
