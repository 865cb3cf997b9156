"""The eight reference aggregates (SURVEY.md §2.5 A1-A8).

Each ClickHouse materialized view + SummingMergeTree pair
(/root/reference/README.md:24-189) is one declarative
``groupBy().agg()`` here. Expressed on built-ins only, so Catalyst
plans partial (map-side) + final aggregation automatically — the exact
distributed analog of the MV-delta + background-merge design, and the
shape that scales: one shuffle on the group key per aggregate, no
Python, no state.

These functions take any DataFrame with log2 columns; they run
identically over a batch read, a micro-batch inside foreachBatch
(streaming delta computation — see streaming/pipeline.py), or a full
table scan (exact re-aggregation read, §2.8 C2).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adguard2clickhouse_spark.functions import is_ipv4_string, is_ipv6_string, tld
from adguard2clickhouse_spark.sinks.summing import BUCKET_COL, bucket_id


def blocked_domains(log2: DataFrame) -> DataFrame:
    """A1 — blocked query count per domain (README.md:25-40)."""
    return (
        log2.filter(F.col("IsFiltered"))
        .groupBy("QH")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def visited_domains(log2: DataFrame) -> DataFrame:
    """A2 — allowed query count per domain (README.md:173-188)."""
    return (
        log2.filter(~F.col("IsFiltered"))
        .groupBy("QH")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def clients_stats(log2: DataFrame) -> DataFrame:
    """A3 — visited/blocked conditional double-count per client
    (README.md:45-62): ``sum(if(IsFiltered,0,1))``, ``sum(if(IsFiltered,1,0))``."""
    return log2.groupBy("IP").agg(
        F.sum(F.when(~F.col("IsFiltered"), 1).otherwise(0)).alias("visited"),
        F.sum(F.when(F.col("IsFiltered"), 1).otherwise(0)).alias("blocked"),
    )


def qt_stats(log2: DataFrame) -> DataFrame:
    """A4 — count per query type (README.md:67-81)."""
    return log2.groupBy("QT").agg(F.count(F.lit(1)).alias("count"))


def rcode_stats(log2: DataFrame) -> DataFrame:
    """A5 — count per DNS response code (README.md:86-100)."""
    return log2.groupBy("rcode").agg(F.count(F.lit(1)).alias("count"))


def stats2(log2: DataFrame, bucket: str = "10 minutes") -> DataFrame:
    """A6 — per-client, per-10-minute blocked/visited
    (README.md:105-128; bucketing via toStartOfInterval at :122).

    Uses ``window()`` — the streaming-compatible tumbling window — and
    exposes the bucket start as ``date_time`` like the reference table.
    """
    return (
        log2.groupBy(F.col("IP"), F.window("date_time", bucket).alias("_w"))
        .agg(
            F.sum(F.when(F.col("IsFiltered"), 1).otherwise(0)).alias("blocked"),
            F.sum(F.when(~F.col("IsFiltered"), 1).otherwise(0)).alias("visited"),
        )
        .select(
            "IP",
            F.col("_w.start").alias("date_time"),
            "blocked",
            "visited",
        )
    )


def _real_domain(qh) -> F.Column:
    """F3 (README.md:148): more than one dot-segment and not an IP literal.

    ``contains('.')`` ⟺ the reference's ``length(splitByChar('.',QH))>1``
    (split yields >1 element iff a dot exists) without the per-row
    regex split + array alloc; conjunct ORDER matters — codegen
    short-circuits, so the cheap contains gates both IP regexes (a
    dot-free 'localhost'/IPv6 row never runs either). The v6 regex is
    additionally gated on contains(':') — every IPv6 textual form has
    a colon, so the guard is exact, and it spares ordinary hostnames
    the 9-alternative regex (measured ~13% off this filter; the same
    guard on the v4 regex measured SLOWER, see functions/net.py).

    Single-bind wrapper (r16, guide §2.3 "don't compute things
    twice"): the predicate evaluates inside ``exists(array(QH), q ->
    …)`` so QH is materialized ONCE per row. When QH is a *derived*
    column — the events bridge derives it from a CASE over
    ``regexp_extract(props)`` — Catalyst's projection collapse inlines
    that whole derivation into EVERY conjunct reference (plans showed
    up to 12 regexp_extract copies per row), and codegen's
    subexpression elimination cannot rescue it because conjuncts after
    the first are conditionally executed (short-circuit arms are
    excluded from CSE). The lambda variable binds the derivation
    unconditionally once; conjuncts then reference the bound string.
    Measured sf0.1 (a7 shape, med-of-5 noop, identical results): bridge
    QH 0.520 → 0.381 s (1.37×); plain-column QH 0.263 → 0.293 s (the
    array alloc + interpreted ArrayExists costs ~11% when the column
    is cheap — accepted: every declared query reads the bridge, and on
    the parse path the filter is a minor term next to JSON+DNS parse)."""
    c = F.col(qh) if isinstance(qh, str) else qh
    return F.exists(
        F.array(c),
        lambda q: (
            q.contains(".")
            & ~is_ipv4_string(q)
            & ~(q.contains(":") & is_ipv6_string(q))
        ),
    )


def tld_stats(log2: DataFrame) -> DataFrame:
    """A7 — count per top-level domain (README.md:132-148).

    ``arrayRotateRight(splitByChar('.',QH),1)[1]`` rewritten to a
    single ``substring_index(QH, '.', -1)`` (functions/strings.py:tld
    — no regex split, no per-row array alloc, stays in codegen).

    Profiled r10 (VERDICT r9 ask #6, sf0.1 warm, min-of-3): the plan
    is already minimal — the grouping itself costs the same as a1
    (no-filter a7 0.268 s vs a1 0.269 s); the 2-3× premium over a1 is
    entirely the F3 ``_real_domain`` filter (full a7 0.649 s,
    filter-only 0.511 s), whose conjunct costs are ADDITIVE on top of
    the 0.16 s bridge scan: contains ~0.13 s, the anchored v4 regex
    ~0.14 s, the colon-gated v6 regex ~0.08 s. Those regexes ARE the
    reference's isIPv4String/isIPv6String semantics, and their
    gating is already measured-optimal (see functions/net.py: a
    cheap prefilter on the v4 regex measured 2× SLOWER). Nothing
    left to cut without changing F3.
    """
    return (
        log2.filter(_real_domain("QH"))
        .groupBy(tld("QH").alias("tld"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def upstream_stats(log2: DataFrame) -> DataFrame:
    """A8 — count per upstream resolver (README.md:153-158).

    The reference MV body (README.md:159-168) is a copy-paste of
    tld_stats — a reference bug (SURVEY.md §2.5 A8). We implement the
    evident intent of the upstream_stats table DDL.
    """
    return log2.groupBy("Upstream").agg(F.count(F.lit(1)).alias("count"))


ALL_AGGREGATES = {
    "blocked_domains": blocked_domains,
    "visited_domains": visited_domains,
    "clients_stats": clients_stats,
    "qt_stats": qt_stats,
    "rcode_stats": rcode_stats,
    "stats2": stats2,
    "tld_stats": tld_stats,
    "upstream_stats": upstream_stats,
}

# Additive ("SummingMergeTree") key/measure split per aggregate — used
# by the summing sink to fold partial results across micro-batches
# (§2.8 C2). stats2's key includes the bucket timestamp.
AGGREGATE_KEYS = {
    "blocked_domains": ["QH"],
    "visited_domains": ["QH"],
    "clients_stats": ["IP"],
    "qt_stats": ["QT"],
    "rcode_stats": ["rcode"],
    "stats2": ["IP", "date_time"],
    "tld_stats": ["tld"],
    "upstream_stats": ["Upstream"],
}


# Grouping-set layout for the fused delta plan: every grouping column,
# in a fixed order (grouping_id bit positions). _tld / _bkt are
# pre-projected derived keys (tld_stats' real-domain filter becomes
# "derived key is NULL ⇒ row leaves no group", stats2's window start is
# computed once per row).
_FUSED_COLS = ["QH", "IP", "QT", "rcode", "_bkt", "_tld", "Upstream"]


@dataclass(frozen=True)
class _FusedSpec:
    """How one aggregate's delta is read out of the fused frame: the
    grouping it aggregated on, the condition a group must meet to be
    emitted (``(column, "positive" | "not_null")``), and the
    ``(fused column, output column)`` projection, keys first in
    ``AGGREGATE_KEYS`` order. Drives both the Spark extractors and the
    driver-side Arrow split."""

    grouping: tuple[str, ...]
    keep: tuple[str, str] | None
    columns: tuple[tuple[str, str], ...]

    @property
    def gid(self) -> int:
        """Spark's GROUPING_ID for this grouping: one bit per grouping
        column in _FUSED_COLS order, MSB first, 1 = column NOT grouped."""
        gid = 0
        for c in _FUSED_COLS:
            gid = (gid << 1) | (0 if c in self.grouping else 1)
        return gid

    @property
    def key_sources(self) -> list[str]:
        return [src for src, _ in self.columns if src in self.grouping]


_FUSED_SPECS = {
    "blocked_domains": _FusedSpec(
        ("QH",), ("_blocked", "positive"), (("QH", "QH"), ("_blocked", "count"))
    ),
    "visited_domains": _FusedSpec(
        ("QH",), ("_visited", "positive"), (("QH", "QH"), ("_visited", "count"))
    ),
    "clients_stats": _FusedSpec(
        ("IP",), None,
        (("IP", "IP"), ("_visited", "visited"), ("_blocked", "blocked")),
    ),
    "qt_stats": _FusedSpec(("QT",), None, (("QT", "QT"), ("_cnt", "count"))),
    "rcode_stats": _FusedSpec(
        ("rcode",), None, (("rcode", "rcode"), ("_cnt", "count"))
    ),
    "stats2": _FusedSpec(
        ("IP", "_bkt"), None,
        (("IP", "IP"), ("_bkt", "date_time"),
         ("_blocked", "blocked"), ("_visited", "visited")),
    ),
    "tld_stats": _FusedSpec(
        ("_tld",), ("_tld", "not_null"), (("_tld", "tld"), ("_cnt", "count"))
    ),
    "upstream_stats": _FusedSpec(
        ("Upstream",), None, (("Upstream", "Upstream"), ("_cnt", "count"))
    ),
}

# A spec's keep-condition as a Spark Column and as a pyarrow expression.
_KEEP = {
    "positive": (lambda c: F.col(c) > 0, lambda c: pc.field(c) > 0),
    "not_null": (lambda c: F.col(c).isNotNull(), lambda c: pc.field(c).is_valid()),
}


def _kept(spec: _FusedSpec) -> F.Column:
    """The fused rows that make up ``spec``'s delta."""
    cond = F.col("_gid") == spec.gid
    if spec.keep:
        col, kind = spec.keep
        cond = cond & _KEEP[kind][0](col)
    return cond


def _extract(fused: DataFrame, spec: _FusedSpec) -> DataFrame:
    return fused.filter(_kept(spec)).select(
        *[F.col(src).alias(out) for src, out in spec.columns]
    )


def _extract_arrow(table: pa.Table, spec: _FusedSpec) -> pa.Table:
    cond = pc.field("_gid") == spec.gid
    if spec.keep:
        col, kind = spec.keep
        cond = cond & _KEEP[kind][1](col)
    rows = table.filter(cond)
    return pa.Table.from_arrays(
        [rows[src] for src, _ in spec.columns] + [rows[BUCKET_COL]],
        names=[out for _, out in spec.columns] + [BUCKET_COL],
    )


def _bucket_tag(n_buckets: int) -> F.Column:
    """Each fused row's summing-sink bucket: ``bucket_id`` over the
    row's own grouping keys, so the driver never re-implements Spark's
    hash."""
    tag = None
    for spec in {s.gid: s for s in _FUSED_SPECS.values()}.values():
        cond = F.col("_gid") == spec.gid
        bkt = bucket_id([F.col(c) for c in spec.key_sources], n_buckets)
        tag = F.when(cond, bkt) if tag is None else tag.when(cond, bkt)
    return tag


def fused_aggregate_deltas(
    log2: DataFrame, bucket: str = "10 minutes"
) -> tuple[DataFrame, dict[str, "callable"]]:
    """All eight reference-MV deltas in ONE shuffle (VERDICT r6 #4).

    The per-sink delta computation was 8 independent groupBys over the
    same micro-batch — 8 jobs × (cache scan + shuffle) per epoch, 43%
    of the streaming wall at 100k-row epochs. The eight aggregates are
    all keyed sums/counts over one projection of the batch, which is
    exactly what GROUPING SETS exists for: Catalyst plans one Expand
    (7 grouping rows per input row) + ONE partial+final aggregation,
    so the batch is scanned once and shuffled once; map-side combine
    collapses the expanded rows to the union of the eight deltas'
    cardinalities before the exchange.

    Per-aggregate pre-filters become measure/NULL-key conditions so
    every aggregate sees the same input relation:
    - blocked/visited_domains' IsFiltered filter → conditional sums
      with ``>0`` post-filters (a QH with no blocked rows gets
      blocked=0, which the original filtered groupBy would not emit);
    - tld_stats' real-domain filter → the derived _tld key is NULL for
      non-real rows and that grouping's NULL-key row is dropped
      (``tld()`` itself is never NULL on a real domain — it contains a
      dot). Genuine NULL group keys elsewhere survive: groupings are
      selected by GROUPING_ID, never by key NULL-ness.

    Returns ``(fused, extractors)``: persist/materialize ``fused``
    once, then each ``extractors[name](fused)`` is a filter+projection
    (a cache read, no shuffle) that is row- and type-identical to
    ``ALL_AGGREGATES[name](log2)``. Equality is pytest-gated per sink.
    """
    proj = log2.select(
        "QH",
        "IP",
        "QT",
        "rcode",
        F.window("date_time", bucket)["start"].alias("_bkt"),
        F.when(_real_domain("QH"), tld("QH")).alias("_tld"),
        "Upstream",
        "IsFiltered",
    )
    # UNIQUE grouping sets only: SQL semantics emit one result group
    # PER LISTED SET, so listing the shared QH grouping twice (blocked
    # + visited both key on QH) would duplicate every QH row. The QH
    # grouping appears once and serves both extractors.
    unique_sets = list(dict.fromkeys(s.grouping for s in _FUSED_SPECS.values()))
    fused = (
        proj.groupingSets(
            [[F.col(c) for c in cols] for cols in unique_sets],
            *[F.col(c) for c in _FUSED_COLS],
        )
        .agg(
            F.sum(F.when(F.col("IsFiltered"), 1).otherwise(0)).alias("_blocked"),
            F.sum(F.when(~F.col("IsFiltered"), 1).otherwise(0)).alias("_visited"),
            F.count(F.lit(1)).alias("_cnt"),
            F.grouping_id().alias("_gid"),
        )
    )
    extractors = {
        name: functools.partial(_extract, spec=spec)
        for name, spec in _FUSED_SPECS.items()
    }
    return fused, extractors


def fused_arrow_deltas(
    log2: DataFrame, n_buckets: int, bucket: str = "10 minutes"
) -> tuple[pa.Table, dict[str, pa.Table]]:
    """The eight deltas of ``fused_aggregate_deltas``, collected to the
    driver with ONE ``toArrow()`` and split there, each row already
    tagged with its summing-sink bucket (``BUCKET_COL``). Every sink
    fed from this must have ``n_buckets`` buckets, whose folds then run
    on the driver with no Spark job (``SummingParquetSink.apply_delta``).

    Returns ``(collected, deltas)``: the collected table (its size is
    the driver memory the path costs) and the per-aggregate splits."""
    fused, _ = fused_aggregate_deltas(log2, bucket)
    table = fused.withColumn(BUCKET_COL, _bucket_tag(n_buckets)).toArrow()
    return table, {
        name: _extract_arrow(table, spec) for name, spec in _FUSED_SPECS.items()
    }


def domain_label_entropy(log2: DataFrame) -> DataFrame:
    """A14 extension — DGA-style domain profiling: per distinct real
    domain, the character entropy of the leftmost (host) label plus
    query volume. Algorithmically-generated domains show high label
    entropy at length; boilerplate infra names score low — the
    standard first-pass DGA signal over a resolver log.

    Integer-exact entropy (engine-portable like bm25/logprob):
    H = Σ_c (n_c/L)·ln(L/n_c) becomes
    ``entropy_micro = (Σ_c n_c · floor(10⁶·ln(L/n_c))) div L`` — each
    per-character term is floored to int64 before the sum, so the
    aggregation is order-independent and DuckDB replays it exactly.

    Scale shape (r16, guide §2.4): queries collapse to DISTINCT domains
    first (one shuffle, bounded by the domain universe, never query
    volume); the per-label entropy is then a PURE PROJECTION over the
    label's in-place character array — no character explode, no second
    aggregation, no join back. The r15 shape exploded |labels|·label_len
    character rows through two more hash aggregates and re-joined the
    volume count (~100M exploded rows at sf100, 281 s wall); the
    in-row form computes the identical integer terms with
    array_distinct + filter/size + aggregate (O(label_len·distinct)
    ≤ 63·63 codegen'd comparisons per label) in the same pass that
    produced the distinct labels. Per-term arithmetic is UNCHANGED —
    nc per distinct char, floor(10⁶·ln(len/nc)) each term, int64 sum,
    div — so the DuckDB oracle (still the unnest form) replays the
    exact values. Returns (label, label_len, n_queries, entropy_micro).
    """
    # substring_index ≡ element_at(split, 1) (text before the first
    # dot; the filter guarantees a dot) with no per-row regex split /
    # array alloc — same move as tld(), the dominant per-row cost on
    # the 10M-row sf10 scan.
    labels = (
        log2.filter(_real_domain("QH"))
        .select(F.substring_index(F.col("QH"), ".", 1).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .withColumn("label_len", F.length("label").cast("long"))
    )
    # _chs materializes the char array once per label; nc(c) =
    # occurrences of c, summed over DISTINCT chars exactly like the
    # old per-(label, ch) groupBy. Every term is floored to int64
    # before the sum, so the fold order (array_distinct's
    # first-occurrence order) cannot perturb the result.
    return labels.withColumn(
        "_chs",
        F.expr(
            "transform(sequence(1, cast(label_len as int)),"
            " p -> substr(label, p, 1))"
        ),
    ).select(
        "label",
        "label_len",
        "n_queries",
        F.expr(
            "aggregate("
            "  transform("
            "    array_distinct(_chs),"
            "    c -> size(filter(_chs, x -> x = c))"
            "  ),"
            "  cast(0 as bigint),"
            "  (acc, nc) -> acc + nc * cast(floor(1000000 * ln("
            "    cast(label_len as double) / nc)) as bigint)"
            ") div label_len"
        )
        .cast("long")
        .alias("entropy_micro"),
    )
