"""The end-to-end streaming topology (SURVEY.md §3.1-3.2, §7 step 5).

Reference architecture being re-expressed:

    tailer.follow(querylog) ──► parse ──► INSERT log2          (collector.py:54-75)
                                            │ (per insert block)
                                            ├─► MV → blocked_domains   (README.md:31-40)
                                            ├─► MV → clients_stats     (README.md:52-62)
                                            └─► ... (7 MVs total)

Spark-first shape: ONE streaming query over the raw lines. Each
micro-batch is the "insert block"; inside foreachBatch its lines are
persisted and counted, coalesced to one task when there are at most
``_LINES_PER_TASK`` of them, parsed into a persisted frame once, and
fanned out to the fact append plus the eight aggregate deltas, each
additively folded into its summing sink — exactly the MV + SummingMergeTree contract, with no
unbounded executor state (no state store), which is what survives
100 TB: aggregation state lives in the sink, keyed and compact, while
Spark only ever holds one micro-batch.

Delivery: checkpointed source offsets + epoch-id-idempotent aggregate
upserts = exactly-once for aggregates, and (r10) exactly-once for the
log2 fact append AND the dead-letter append too — each epoch's rows
go through a staged commit ledger (sinks/facts.py), so a
crashed-and-replayed epoch can no longer double fact rows (nor double
a dead line into a future replay). (The reference is at-most-once
throughout: truncate-at-boot, fire-and-forget — collector.py:45,52.)

Late data: none of the aggregates needs a watermark — they are keyed
sums folded in the sink, unbounded in event time like ClickHouse
merges (SURVEY.md §2.9). stats2's 10-minute buckets are part of the
key, not window state.
"""

from __future__ import annotations

import os
import time as _time
from collections import deque
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from adguard2clickhouse_spark.operators.aggregates import (
    AGGREGATE_KEYS,
    ALL_AGGREGATES,
    fused_arrow_deltas,
)
from adguard2clickhouse_spark.operators.parse import (
    parse_querylog_lines,
    split_dead_letter,
)
from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink
from adguard2clickhouse_spark.sinks.summing import (
    _DRIVER_FOLD_MAX_BYTES,
    SummingParquetSink,
)
from adguard2clickhouse_spark.sources.querylog import read_querylog_stream

# Per-epoch stage walls kept in ``QuerylogPipeline.batch_timings``: an
# always-on daemon on a 1 s trigger runs ~86k epochs a day.
_TIMINGS_KEPT = 1024
# Largest epoch, in raw lines, parsed as ONE task (see ``process_batch``):
# a Python task's fixed ~0.24 CPU-s equals ~6k lines of parse at ~39
# us/line (single core, the memo-miss-heavy backfill mix), so 50k lines
# keep that fixed cost near 10% of a full task.
_LINES_PER_TASK = 50_000
# Background fact-ledger maintenance (see ``_maintenance_step``): each
# step folds the oldest _COMPACT_FANOUT similar-sized committed slots
# below _COMPACT_SMALL_BYTES, the scan layer's maxPartitionBytes.
_COMPACT_FANOUT = 8
_COMPACT_SMALL_BYTES = 128 << 20
# Arrow bytes per good row of the collected grouping-sets delta on the
# high-cardinality backfill mix (5000 clients, 300k domains): 24.6 MB
# for 203,968 rows. Low-cardinality traffic collapses to far fewer
# delta rows per input row, so this is the wide case.
_DELTA_BYTES_PER_ROW = 121


def _parse_cached(lines: DataFrame, value_col: str = "value") -> tuple[DataFrame, int]:
    """``parse_querylog_lines(lines, value_col)`` persisted, and its
    good-row count from the one JVM job that fills the cache. The
    consumers split the cache (``split_dead_letter``) and submit jobs
    from several threads at once; an unfilled cache would let each of
    them race to compute the UDF-bearing parse. The caller unpersists
    it."""
    parsed = parse_querylog_lines(lines, value_col).persist()
    n_good = parsed.filter("_valid")._jdf.queryExecution().toRdd().count()
    return parsed, n_good


def aggregate_sinks(out_dir: str) -> dict[str, SummingParquetSink]:
    sinks = {}
    for name, keys in AGGREGATE_KEYS.items():
        measures = {
            "clients_stats": ["visited", "blocked"],
            "stats2": ["blocked", "visited"],
        }.get(name, ["count"])
        sinks[name] = SummingParquetSink(
            os.path.join(out_dir, name), keys=keys, measures=measures
        )
    return sinks


class QuerylogPipeline:
    """source dir → parse → fact append + 8 additive aggregates."""

    def __init__(self, spark: SparkSession, source_dir: str, out_dir: str,
                 checkpoint_dir: str | None = None, clickhouse=None,
                 custom_aggregates=None):
        self.spark = spark
        # Micro-batches are small relative to the static shuffle-partition
        # count; AQE coalescing (on by default since Spark 3.2, explicit
        # in get_spark()) right-sizes every per-batch shuffle. We don't
        # flip conf on a session we don't own — without AQE the pipeline
        # is still correct, just runs more small tasks per batch.
        # The parse stage carries a pandas UDF: make sure a foreign
        # session's executors can import this package.
        from adguard2clickhouse_spark.session import ensure_executor_package

        ensure_executor_package(spark)
        self.source_dir = source_dir
        self.out_dir = out_dir
        self.checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
        self.log2_path = os.path.join(out_dir, "log2")
        # Exactly-once fact appends (r10): staged epoch commits behind
        # a ledger — the MergeTree ORDER BY analog lives in the sink's
        # layout (date partitions prune time-range scans, in-file
        # date_time ordering gives parquet min/max row-group skipping,
        # README.md:21). The dead-letter channel is ledgered the same
        # way.
        self.log2_sink = LedgeredFactSink(
            self.log2_path, partition_by=["date"], sort_within=["date_time"]
        )
        self.dead_letter_path = os.path.join(out_dir, "dead_letter")
        self.dead_sink = LedgeredFactSink(self.dead_letter_path)
        # Aggregate spec: the reference-parity eight by default, plus
        # any bring-your-own MVs — ``custom_aggregates`` is
        # {name: (fn, keys, measures)}, exactly what
        # functions.chsql.aggregates_from_clickhouse_ddl() returns from
        # a user's verbatim ClickHouse MV DDL. Custom entries with a
        # parity name override the built-in (the user's SQL wins).
        self.aggregates = dict(ALL_AGGREGATES)
        self.sinks = aggregate_sinks(out_dir)
        for name, (fn, keys, measures) in (custom_aggregates or {}).items():
            self.aggregates[name] = fn
            self.sinks[name] = SummingParquetSink(
                os.path.join(out_dir, name), keys=keys, measures=measures
            )
        # Optional ClickHouse fact insert (the reference's north-star
        # sink, src/collector.py:73-75): a foreachBatch-compatible
        # writer (sinks/clickhouse.py). Aggregates stay in the parquet
        # summing sinks — against a real ClickHouse the server-side MVs
        # fold them from this very insert, exactly like the reference.
        self.clickhouse = clickhouse
        # Delta path (see _fold_aggregates): up to driver_fold_max_rows
        # good rows the stock deltas come from one grouping-sets pass
        # collected to the driver as one Arrow table, and each sink
        # folds its share on the driver (no Spark job per sink); above
        # it each sink folds fn(good) on executors. The ceiling is a
        # driver-memory bound, not a speed crossover: the collected
        # delta must stay within the sinks' own driver budget
        # (_DRIVER_FOLD_MAX_BYTES) at the widest measured delta
        # (_DELTA_BYTES_PER_ROW), and the driver path was measured ahead
        # of a Spark fold per sink at every size up to it (50k-1M
        # rows/epoch).
        self.driver_fold_max_rows = _DRIVER_FOLD_MAX_BYTES // _DELTA_BYTES_PER_ROW
        # Automatic fact-ledger maintenance: reads degrade with the
        # committed-slot count (BENCH_factledger_r10.json: 17 s at 200
        # tiny slots vs 6.6 s after one compaction), and a manual
        # compact_facts() that nothing schedules never happens. After
        # each epoch, process_batch submits ONE size-tiered fold step
        # (LedgeredFactSink.compact(max_fold_slots=_COMPACT_FANOUT),
        # LSM tiering: each byte is rewritten O(log n) times, and slots
        # at or above _COMPACT_SMALL_BYTES are never rewritten again) to
        # this single-thread pool, overlapped with later epochs — the
        # r11 synchronous all-smalls fold stalled ingest 15-25 s against
        # a 0.76 s p50 append (BENCH_factledger_r11.json). Safe because
        # the sink stages the merged output outside the pointer lock and
        # publishes under it in milliseconds; a fold failure surfaces at
        # the NEXT epoch via future.result() — that batch fails, Spark
        # retries it, the appends no-op (epoch ledger) and the fold
        # re-runs: still exactly-once.
        self._maint_pool = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="ledger-maint"
        )
        self._maint_future = None
        # Streaming-query identity for every sink's epoch ledger
        # (ADVICE r10): resolved lazily from the checkpoint's
        # metadata file (Spark writes it at query init, before the
        # first batch) and handed to the sinks, so a deleted/relocated
        # checkpoint — epoch ids restarting at 0 — voids the stale
        # high-water mark instead of silently dropping every new epoch.
        self._stream_identity: str | None = None
        self._query: StreamingQuery | None = None
        # per-epoch stage walls appended by process_batch (see there),
        # the most recent _TIMINGS_KEPT epochs, and running totals over
        # every epoch this pipeline has processed (the collector's
        # --report-progress line)
        self.batch_timings: deque[dict] = deque(maxlen=_TIMINGS_KEPT)
        self.n_epochs = 0
        self.n_lines = 0

    def _resolve_stream_identity(self) -> str | None:
        if self._stream_identity is None:
            import json

            try:
                with open(os.path.join(self.checkpoint_dir, "metadata")) as f:
                    self._stream_identity = json.load(f)["id"]
            except (OSError, ValueError, KeyError):
                return None  # leave the ledgers unscoped; retry next epoch
        return self._stream_identity

    def _maintenance_step(self) -> dict:
        """One incremental size-tiered fold step per ledgered channel
        (see ``__init__``). Runs on the
        maintenance thread; returns the walls to merge into the
        collecting batch's timings. The dead-letter channel joins the
        maintenance (VERDICT r11 #3): safe now that the replay token
        is a CONTENT digest of the committed dead lines (order/layout-
        independent, see ``_dead_letter_digest``) — a fold between a
        crashed replay and its retry preserves the multiset of lines,
        hence the token, hence idempotence. Only a persistently-noisy
        source ever gives the dead fold work (clean epochs publish
        nothing to the dead channel)."""
        out: dict = {}
        for key, sink in (
            ("auto_compact", self.log2_sink),
            ("dead_compact", self.dead_sink),
        ):
            t0 = _time.time()
            folded = sink.compact(
                self.spark,
                small_bytes=_COMPACT_SMALL_BYTES,
                max_fold_slots=_COMPACT_FANOUT,
            )
            if folded:
                out[f"{key}_s"] = round(_time.time() - t0, 3)
                out[f"{key}_folded"] = folded
        return out

    def join_maintenance(self) -> dict:
        """Wait for any in-flight background fold and return its
        timings (re-raising its failure). Maintenance entry points
        (replay, manual compaction) call this so ledger
        surgery never overlaps an in-flight fold; harnesses call it
        after ``awaitTermination`` so slot counts are post-maintenance."""
        f, self._maint_future = self._maint_future, None
        return f.result() if f is not None else {}

    def _require_stream_stopped(self, op: str) -> None:
        """Maintenance that swaps ledgers out from under the stream
        (compaction from a second thread, dead-letter replay, aggregate
        rebuild) must not race the per-epoch appends. The sinks' flock already prevents
        CORRUPTION (writers serialize), but interleaving would still
        produce surprising orders — e.g. a replay reading a dead-letter
        set mid-swap. Enforced, not documented (VERDICT r10 #2).
        With the stream stopped, any background fold the last epoch
        left in flight is joined before the caller touches the
        ledgers (r12)."""
        if self._query is not None and self._query.isActive:
            raise RuntimeError(
                f"{op} must run while the stream is stopped: this "
                "pipeline's streaming query is active — stop() it "
                "first. (In-pipeline auto-compaction runs between "
                "epochs on the maintenance thread and is exempt.)"
            )
        self.join_maintenance()

    def _fold_aggregates(
        self,
        good: DataFrame,
        n_good: int,
        epoch_id: int | None = None,
        token: str | None = None,
    ) -> dict:
        """Compute every aggregate's delta over ``good`` (cached,
        ``n_good`` rows) and fold it into its sink under ``epoch_id``
        (a stream epoch) or ``token`` (dead-letter replay).

        Up to ``driver_fold_max_rows`` good rows the stock aggregates'
        deltas come from one grouping-sets pass collected to the driver
        with each row's bucket id (``fused_arrow_deltas``), and every
        sink folds its share there (``delta_path`` "driver"). Otherwise
        each sink's delta is ``fn(good)``, which its fold computes on
        executors ("executors"); a custom aggregate always takes that
        route. Which runner of the sink's fold kernel takes a delta is
        the sink's choice (``sinks/summing.py``). Returns the step's
        timings: ``delta_path``, ``fused_delta_s`` and, on the driver
        path, the collected delta's ``delta_rows``/``delta_bytes``."""
        timings: dict = {}
        stock = [
            name for name, fn in self.aggregates.items()
            if ALL_AGGREGATES.get(name) is fn
        ]
        deltas: dict = {}
        if stock:
            t0 = _time.time()
            if n_good <= self.driver_fold_max_rows:
                timings["delta_path"] = "driver"
                table, arrow = fused_arrow_deltas(
                    good, self.sinks[stock[0]].n_buckets
                )
                timings["delta_rows"] = table.num_rows
                timings["delta_bytes"] = table.nbytes
                del table  # the per-sink splits are copies
                deltas = {name: arrow[name] for name in stock}
            else:
                timings["delta_path"] = "executors"
            timings["fused_delta_s"] = round(_time.time() - t0, 3)
        for name, fn in self.aggregates.items():
            if name not in deltas:
                deltas[name] = fn(good)
        with ThreadPoolExecutor(max_workers=len(self.aggregates)) as pool:
            fs = [
                pool.submit(
                    self.sinks[name].apply_delta, deltas[name], epoch_id,
                    token=token,
                )
                for name in self.aggregates
            ]
            for f in fs:
                f.result()
        return timings

    def _deliver(
        self,
        good: DataFrame,
        n_good: int,
        timings: dict,
        epoch_id: int | None = None,
        token: str | None = None,
        dead: DataFrame | None = None,
    ) -> None:
        """Hand one parsed block to every consumer under ``epoch_id``
        (a stream epoch) or ``token`` (dead-letter replay): the fact
        append, the dead-letter append (stream epochs pass ``dead``),
        the ClickHouse insert and the aggregate fan (delta step plus
        sink folds). Each consumer is idempotent under its epoch or
        token: the sinks record it in their ledgers, and the ClickHouse
        insert sends it as the server-side dedup token. So a failed
        block re-runs every consumer as a no-op or a completion. The
        consumers read only the cached parse, so they run concurrently:
        the block's wall is max(consumer), not their sum. Any failure
        fails the block once every consumer has stopped. Each consumer's
        wall lands in ``timings``."""

        def _fact_append():
            self.log2_sink.append(
                good.withColumn("date", F.to_date("date_time")),
                epoch_id=epoch_id,
                token=token,
            )

        def _clickhouse():
            # one RowBinary POST per partition (collector.py:73-75 sends
            # one row per round-trip)
            sent = self.clickhouse.insert_batch(
                good, "log2", dedup_token=token or f"log2_epoch_{epoch_id}"
            )
            timings["clickhouse_posts"] = sent["posts"]
            timings["clickhouse_bytes"] = sent["bytes"]

        def _fan():
            timings.update(self._fold_aggregates(good, n_good, epoch_id, token))

        consumers = {"fact_append_s": _fact_append}
        if dead is not None:
            # The dead-letter channel (K3, collector.py:76-78) is ledgered
            # too: a line doubled by a retry would become a doubled fact
            # row once fixed and replayed.
            consumers["dead_letter_s"] = lambda: self.dead_sink.append(
                dead, epoch_id=epoch_id
            )
        if self.clickhouse is not None:
            consumers["clickhouse_insert_s"] = _clickhouse
        consumers["aggregate_fan_s"] = _fan

        def timed(stage: str) -> None:
            t0 = _time.time()
            consumers[stage]()
            timings[stage] = round(_time.time() - t0, 3)

        with ThreadPoolExecutor(max_workers=len(consumers)) as pool:
            for f in [pool.submit(timed, stage) for stage in consumers]:
                f.result()

    # -- the per-micro-batch body (the reference's "insert block") ----------
    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One epoch: size it by its line count, parse it into one cache
        and ``_deliver`` it. Records the epoch's stage walls in
        ``batch_timings`` (the consumer walls overlap; see there)."""
        timings: dict[str, float] = {"epoch_id": epoch_id}

        # Scope every sink's epoch ledger to this streaming query's
        # identity (see __init__) before any commit this epoch.
        sid = self._resolve_stream_identity()
        if sid is not None:
            for sink in (self.log2_sink, self.dead_sink, *self.sinks.values()):
                sink.stream_id = sid

        # Right-size the epoch before the parse. Every Python task pays a
        # fixed ~0.24 CPU-s before it reads a row (most of it in
        # importlib.invalidate_caches(), pyspark/worker_util.py:144,
        # re-reading pyspark.zip's directory), while the file source
        # splits even a 2k-line epoch across every core. So the raw
        # lines are persisted and counted (one JVM job over the cached
        # plan, no Python task; the parse then reads the cache, never
        # the files or a stateful dedup twice). An epoch of at most
        # _LINES_PER_TASK lines is coalesced to ONE partition; a larger
        # one keeps its source partitions (never a partial coalesce or
        # a repartition). The coalesce sits below the UDF: above it,
        # each parent partition still starts its own Python runner.
        # `parts` depends only on the epoch's checkpointed input, and a
        # one-group coalesce puts every line under token `_p0`, so a
        # replayed epoch re-sends the same ClickHouse (token, rows)
        # pairs; every consumer inherits `parts`.
        batch_df.persist()
        parsed = None
        try:
            t0 = _time.time()
            n_lines = batch_df._jdf.queryExecution().toRdd().count()
            if n_lines <= _LINES_PER_TASK:
                lines, parts = batch_df.coalesce(1), 1
            else:
                lines, parts = batch_df, batch_df.rdd.getNumPartitions()
            t1 = _time.time()
            timings["line_count_s"] = round(t1 - t0, 3)
            parsed, n_good = _parse_cached(lines)
            batch_df.unpersist()  # the parse cache now backs every consumer
            t0 = _time.time()
            timings["parse_materialize_s"] = round(t0 - t1, 3)
            good, dead = split_dead_letter(parsed)
            self._deliver(good, n_good, timings, epoch_id=epoch_id, dead=dead)
            timings["overlap_section_s"] = round(_time.time() - t0, 3)
            # Automatic fact-ledger maintenance (see __init__), OFF the
            # writer thread: the next epoch's appends overlap the fold's
            # Spark work and block only on its brief pointer swap. Calls
            # the sink directly rather than the stream-stop-guarded
            # public compact_facts() — the pipeline owns both the stream
            # and the maintenance, so this is the single writing PROCESS
            # by construction. A finished fold is collected first: its
            # walls land in THIS batch's timings, and a failed fold
            # re-raises here — failing this batch, whose retry no-ops the
            # appends and re-submits the fold.
            if self._maint_future is not None and self._maint_future.done():
                f, self._maint_future = self._maint_future, None
                timings.update(f.result())
            if self._maint_future is None:
                self._maint_future = self._maint_pool.submit(
                    self._maintenance_step
                )
            # Per-epoch stage walls (driver-side). The consumer walls
            # OVERLAP: they sum to more than `overlap_section_s`, the
            # real elapsed time of the delivery. `fused_delta_s` (the
            # delta step) runs inside `aggregate_fan_s`; on the driver
            # path it is the grouping-sets collect, whose `delta_rows`
            # and `delta_bytes` read against the driver_fold_max_rows
            # ceiling. On the executor path it is ~0: each sink's fold
            # computes its own delta. Bounded to the last
            # _TIMINGS_KEPT epochs; bench harnesses read and reset it.
            # `n_lines` = `n_rows` (good) + `n_dead`; `parts` is the
            # task count of the parse and of every consumer.
            timings["n_lines"] = n_lines
            timings["n_rows"] = n_good
            timings["n_dead"] = n_lines - n_good
            timings["parts"] = parts
            self.batch_timings.append(timings)
            self.n_epochs += 1
            self.n_lines += n_lines
        finally:
            if parsed is not None:
                parsed.unpersist()
            batch_df.unpersist()

    # -- run -----------------------------------------------------------------
    def start(
        self,
        available_now: bool = False,
        processing_time: str = "5 seconds",
        max_files_per_trigger: int | None = None,
        dedupe_horizon: str | None = None,
    ) -> StreamingQuery:
        """Start the streaming query.

        **Sizing the epoch.** The stream hands ``process_batch`` the
        raw lines; it counts them and runs an epoch of at most
        ``_LINES_PER_TASK`` lines as one task (a larger one keeps its
        source partitions), so a small epoch parses, appends,
        dead-letters and POSTs in one task whatever number of files it
        spans. Every Python task pays ~0.24 CPU-s before it reads a row
        (``importlib.invalidate_caches()``, pyspark/worker_util.py:144),
        which a ~2k-line epoch used to pay 8-9 times. Per-epoch costs
        remain (the line count, parse materialization, the ledgered fact
        append, the ClickHouse POST round), so throughput still rises
        with epoch size (measured r9 operating point,
        BENCH_streaming_r9.json: 25k rows/s at 100k rows/epoch, 42k at
        250k, 63k at 500k) — target ≥500k rows per micro-batch for bulk
        throughput.
        ``max_files_per_trigger`` is the lever when the spooler writes
        fixed-size files (pick ceil(500k / rows-per-file)); leave it
        None (all available files per trigger) for catch-up/backfill,
        which naturally forms large epochs. Up to
        ``driver_fold_max_rows`` good rows (~1.1M, the driver-memory
        ceiling) the eight sinks fold on the driver from one collected
        Arrow delta, so an epoch runs a handful of Spark jobs; only
        larger epochs pay a Spark fold per sink. A LATENCY target wants a short
        ``processing_time`` — the default 5 s trigger is the
        latency-leaning compromise, matching the reference's
        async-insert buffering horizon (collector.py:52)."""
        # Re-resolve the query identity for THIS start: a restart over a
        # deleted/recreated checkpoint mints a new query id, and serving
        # the cached one would re-create the exact silent-drop the
        # identity scope exists to prevent.
        self._stream_identity = None
        raw = read_querylog_stream(
            self.spark, self.source_dir, max_files_per_trigger=max_files_per_trigger
        )
        if dedupe_horizon is not None:
            # Ingest-side dedup (at-least-once sources, re-spooled files):
            # one row per raw line within the horizon, keyed on the line
            # itself. Ingest-time watermark (the raw text carries no
            # parsed event time yet) bounds the state store; the additive
            # sinks downstream are epoch-idempotent but NOT re-delivery-
            # idempotent, which is exactly what this guard closes.
            raw = (
                raw.withColumn("_ingest_ts", F.current_timestamp())
                .withWatermark("_ingest_ts", dedupe_horizon)
                .dropDuplicatesWithinWatermark(["value"])
                .drop("_ingest_ts")
            )
        # The stream carries raw lines only: process_batch sizes each
        # epoch by its line count before it parses.
        writer = (
            raw.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            # the micro-batch interval is the analog of the reference's
            # server-side async-insert buffering (collector.py:52)
            writer = writer.trigger(processingTime=processing_time)
        self._query = writer.start()
        return self._query

    def run_available(self, dedupe_horizon: str | None = None) -> None:
        """Process everything currently in the source dir, then stop."""
        q = self.start(available_now=True, dedupe_horizon=dedupe_horizon)
        q.awaitTermination()
        # drain the background fold the last epoch may have submitted,
        # so callers observe a post-maintenance ledger; its walls land
        # as a trailing timings entry (no epoch collected them).
        final = self.join_maintenance()
        if final:
            self.batch_timings.append(final)

    # -- read API (SURVEY.md §3.3) -------------------------------------------
    def read_aggregate(self, name: str) -> DataFrame | None:
        return self.sinks[name].read(self.spark)

    def sql(self, query: str) -> DataFrame:
        """Query the engine's tables in ClickHouse dialect — the SELECT
        side of drop-in parity. Registers every aggregate sink plus
        ``log2`` as temp views, the ClickHouse function shims
        (functions/chsql.py), and transpiles the dialect differences
        (1-based ``expr[n]``, db prefixes, array ``length``), so a
        query a reference user runs against their ClickHouse today —
        e.g. ``SELECT QH, count FROM blocked_domains ORDER BY count
        DESC LIMIT 10`` or anything using ``splitByChar`` /
        ``toStartOfInterval`` — runs unchanged here."""
        from adguard2clickhouse_spark.functions import chsql

        chsql.register_clickhouse_functions(self.spark)
        for name, sink in self.sinks.items():
            df = sink.read(self.spark)
            if df is not None:
                df.createOrReplaceTempView(name)
        if self.log2_sink.has_data():
            self.read_log2().createOrReplaceTempView("log2")
        return self.spark.sql(chsql.transpile(query))

    def read_log2(self, merge_schema: bool = False) -> DataFrame:
        """Read the fact table — only COMMITTED epochs (the ledgered
        sink's contract: a torn epoch is never visible).

        ``merge_schema=True`` reconciles files written before and
        after a column was added to the fact schema (parquet schema
        evolution) — older rows surface the new column as null. Off by
        default: the merged-footer listing costs a full file-footer
        pass, which at 100 TB you pay only when evolution happened."""
        df = self.log2_sink.read(self.spark, merge_schema=merge_schema)
        if df is None:
            raise FileNotFoundError(
                f"no committed fact epochs under {self.log2_path}"
            )
        return df

    # -- maintenance ---------------------------------------------------------
    def compact_facts(
        self, small_bytes: int | None = _COMPACT_SMALL_BYTES
    ) -> int:
        """Fold small committed fact epochs together. The default
        threshold matches ``spark.sql.files.maxPartitionBytes``
        (128 MB) — the file size the scan layer wants anyway — so each
        maintenance run merges only the trickle of recent micro-batch
        epochs and repeated runs converge to a few scan-friendly slots;
        it never rewrites already-compacted history
        (``small_bytes=None`` = full fold, for tables that fit a
        rewrite). Returns directories folded.

        RAISES while this pipeline's stream is active (r11 — the
        "run while stopped" discipline is enforced, not a docstring);
        routine maintenance needs no manual call at all: the pipeline
        runs one background tiered fold step per epoch (see
        ``__init__``)."""
        self._require_stream_stopped("compact_facts")
        return self.log2_sink.compact(self.spark, small_bytes=small_bytes)

    def rebuild_aggregates(self, names: list[str] | None = None) -> None:
        """Backfill aggregate tables from the fact table — the recovery
        path ClickHouse's insert-triggered MVs don't have (an MV created
        late, a corrupted SummingMergeTree, a changed aggregate formula
        all require manual INSERT SELECT surgery there; README.md:24-189
        defines them insert-time-only). Here the fact table is the
        source of truth: recompute any aggregate wholesale and swap it
        in atomically via the sink's versioned pointer.

        RAISES while this pipeline's stream is active: an epoch that
        committed to log2 after the rebuild's read and folded before
        its swap would be recorded as applied yet missing from the
        rebuilt base. Another process streaming into the same out_dir
        must be stopped too."""
        self._require_stream_stopped("rebuild_aggregates")
        log2 = self.read_log2().persist()
        try:
            for name in names or list(self.aggregates):
                sink = self.sinks[name]
                sink.replace(self.aggregates[name](log2))
        finally:
            log2.unpersist()

    def _dead_letter_digest(self) -> str:
        """Deterministic identity of the CURRENT dead-letter content:
        an order- and layout-independent multiset digest of the
        committed lines (count + sum + xor of per-row xxhash64, plus an
        independent crc32 sum), salted with the dead sink's content
        generation.

        r12 (VERDICT r11 #3): the pre-r12 digest hashed FILES (names +
        sizes + CRCs), which made any maintenance rewrite of the dead
        channel mint a fresh token — a fold between a crashed replay
        and its retry would double-fold the recovered lines, so the
        channel was exempt from auto-compaction and a persistently-
        noisy source fragmented it without bound. The multiset digest
        is invariant under compaction (same lines, different files), so
        the dead channel now joins the per-epoch incremental
        maintenance. Stability/uniqueness contract:

        - retry of a crashed replay → same content, same generation →
          SAME token (the swap that changes either runs last), even if
          an auto-compaction folded the channel in between;
        - any later replay → generation bumped by the previous swap →
          different token, even for byte-identical dead populations
          (deterministic noisy line recurring after a parser
          regression — the case slot-name-embedded seqs used to cover).

        Sum/xor over full-range 64-bit hashes: the sums go through
        decimal(38,0) — ANSI mode makes long sums RAISE on overflow.
        The token is checked against every sink's token ledger (most
        recent 1000 entries, see ``sinks/ledger.py``)."""
        import hashlib

        dead = self.dead_sink.read(self.spark)
        if dead is None:
            ident: tuple = (0,)
        else:
            h = F.xxhash64(*[dead[c] for c in sorted(dead.columns)])
            row = dead.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(h).alias("x"),
                F.sum(h.cast("decimal(38,0)")).alias("s"),
                F.sum(F.crc32(F.to_binary(h.cast("string"), F.lit("utf-8"))).cast("decimal(38,0)")).alias("c"),
            ).collect()[0]
            ident = (row["n"], row["x"], str(row["s"]), str(row["c"]))
        gen = self.dead_sink.generation()
        blob = repr((gen,) + ident).encode()
        return f"replay-{hashlib.sha256(blob).hexdigest()[:16]}"

    def replay_dead_letters(self) -> dict:
        """Re-parse the dead-letter channel — the operational recovery
        the reference cannot do (its failed lines go to stdout and are
        gone, src/collector.py:76-78). Lines that NOW parse (after a
        parser fix / upstream repair) are appended to log2 and folded
        into every aggregate; lines that still fail replace the
        dead-letter channel.

        A replay is one more epoch: the dead lines are parsed into one
        cache and the recovered rows go through ``_deliver``, the step
        every stream epoch runs, under a token derived from the
        dead-letter content digest instead of an epoch id. Only the
        hash buckets the delta touches are rewritten, so at 100 TB a
        replay of 100 lines costs 100 lines, not a rescan of the fact
        history, and untouched buckets' files stay byte-identical
        (asserted in tests/test_streaming.py). A crashed replay can be
        re-run: every consumer that already committed this token
        no-ops (the fact and summing sinks' token ledgers, the
        ClickHouse server-side dedup token), the others complete. The
        token ledger is separate from stream epochs on purpose — see
        ``sinks/ledger.py``. The still-dead lines are read from the same
        cache, so the DNS UDF runs once per dead line.

        A changed aggregate FORMULA is not a delta: run
        ``rebuild_aggregates()`` after the replay.

        Runs only while the stream is stopped — enforced, it RAISES
        against an active query (the dead-letter channel is swapped at
        the end). Returns {"replayed", "still_dead"}.
        """
        self._require_stream_stopped("replay_dead_letters")
        dead = self.dead_sink.read(self.spark)
        if dead is None:
            return {"replayed": 0, "still_dead": 0}
        parsed, n_good = _parse_cached(dead, "raw_line")
        try:
            good, still_dead = split_dead_letter(parsed)
            if n_good:
                self._deliver(good, n_good, {}, token=self._dead_letter_digest())
            # Swap the dead channel LAST. replace() stages the
            # survivors while the old committed dirs still back the
            # frame, then commits the swap atomically — bumping the
            # content generation in the same pointer write, so the
            # NEXT replay's token differs even if its dead population
            # is byte-identical to this one's (see _dead_letter_digest).
            self.dead_sink.replace(still_dead, bump_generation=True)
            after = self.dead_sink.read(self.spark)
            n_dead = after.count() if after is not None else 0
        finally:
            # a failed consumer must not leave the parse pinned in
            # executor memory for the rest of the session
            parsed.unpersist()
        return {"replayed": n_good, "still_dead": n_dead}
