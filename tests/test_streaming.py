"""Streaming topology tests (SURVEY.md §5 item 5): batch-vs-stream
equivalence, additivity across micro-batches, exactly-once retries."""

from __future__ import annotations

import json
import os

import pytest

from adguard2clickhouse_spark.operators import aggregates as agg
from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
from adguard2clickhouse_spark.operators.parse import parse_querylog
from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline


def _line(i: int, minute: int, filtered: bool, qh: str, ip: str) -> str:
    return json.dumps(
        {
            "T": f"2024-01-01T00:{minute:02d}:{i % 60:02d}+00:00",
            "QH": qh,
            "QT": "A",
            "QC": "IN",
            "CP": "doh",
            "Upstream": "8.8.8.8:53",
            "IP": ip,
            "Result": {"IsFiltered": filtered},
            "Elapsed": 1000 + i,
            "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"] if not filtered else ["0.0.0.0"]),
        }
    )


def _corpus() -> list[list[str]]:
    """Two 'log rotations' worth of lines, plus malformed ones."""
    batch1 = [
        _line(i, minute=i % 20, filtered=i % 3 == 0, qh=f"d{i % 7}.example.com", ip=f"10.0.0.{i % 4}")
        for i in range(40)
    ] + ["garbage not json"]
    batch2 = [
        _line(i, minute=(i * 7) % 45, filtered=i % 4 == 0, qh=f"d{i % 5}.example.org", ip=f"10.0.0.{i % 3}")
        for i in range(40, 70)
    ] + [json.dumps({"T": "2024-01-01T00:00:00+00:00", "QH": "x.y", "QT": "A", "QC": "IN",
                     "CP": "", "IP": "1.1.1.1", "Elapsed": 1, "Answer": "!!bad!!"})]
    return [batch1, batch2]


@pytest.fixture(scope="module")
def run_dirs(tmp_path_factory, spark):
    src = tmp_path_factory.mktemp("qlog_src")
    out = tmp_path_factory.mktemp("qlog_out")
    batches = _corpus()

    pipe = QuerylogPipeline(spark, str(src), str(out))
    # simulate log rotation: file lands, stream drains, next file lands
    for i, lines in enumerate(batches):
        (src / f"querylog-{i:04d}.jsonl").write_text("\n".join(lines) + "\n")
        pipe.run_available()
    return src, out, pipe, batches


def test_fact_rows_and_dead_letters(run_dirs, spark):
    src, out, pipe, batches = run_dirs
    log2 = pipe.read_log2()
    assert log2.count() == 70  # 71 lines - 2 malformed + ... 40+30 valid
    dead = spark.read.parquet(str(out / "dead_letter"))
    assert dead.count() == 2


def test_stream_aggregates_equal_batch(run_dirs, spark):
    """The core MV-parity check: streaming summing-sink state ==
    one-shot batch aggregation over the same raw lines."""
    src, out, pipe, batches = run_dirs
    all_lines = [l for b in batches for l in b]
    raw = spark.createDataFrame([(l,) for l in all_lines], ["value"])
    good, _ = parse_querylog(raw)

    for name, fn in agg.ALL_AGGREGATES.items():
        expected = {tuple(r) for r in fn(good).collect()}
        got_df = pipe.read_aggregate(name)
        assert got_df is not None, name
        got = {tuple(r) for r in got_df.select(*fn(good).columns).collect()}
        assert got == expected, f"{name}: stream != batch"


def test_epoch_retry_is_noop(run_dirs, spark):
    """Retrying an already-applied epoch must not double-count."""
    src, out, pipe, batches = run_dirs
    sink = pipe.sinks["qt_stats"]
    before = {tuple(r) for r in sink.read(spark).collect()}

    raw = spark.createDataFrame([(l,) for l in batches[0]], ["value"])
    good, _ = parse_querylog(raw)
    delta = agg.qt_stats(good)

    applied_epoch = sink.ledger.read()["epochs"][0]
    sink.apply_delta(delta, epoch_id=applied_epoch)  # retry → no-op
    after = {tuple(r) for r in sink.read(spark).collect()}
    assert after == before

    sink.apply_delta(delta, epoch_id=999999)  # genuinely new epoch → folds
    newer = dict(sink.read(spark).collect())
    assert newer["A"] == dict(before)["A"] + 40


def test_log2_partitioned_by_date(run_dirs, spark):
    """date= partition dirs live INSIDE each committed epoch slot
    (cseq=N/date=D/...) since r10 — pruning still reaches the scan
    (asserted in tests/test_facts_sink.py)."""
    src, out, pipe, _ = run_dirs
    files = list((out / "log2").glob("cseq=*/date=*"))
    assert files, "expected date= partition directories in committed slots"


# ---------------------------------------------------------------------------
# Stateful sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

def test_stateful_sessionization(tmp_path, spark):
    """Sessions close (a) inline when a later event of the same user
    exceeds the 30-min gap, and (b) by event-time timeout when the
    watermark passes last_event + gap. Open sessions stay in state."""
    from adguard2clickhouse_spark.streaming.sessions import sessionize_stream

    src = tmp_path / "ev_src"
    src.mkdir()
    out = tmp_path / "ev_out"
    ckpt = tmp_path / "ev_ckpt"

    def ev(user, hh, mm):
        return json.dumps({"user_id": user, "ts": f"2024-01-01 {hh:02d}:{mm:02d}:00"})

    # file order == micro-batch order (maxFilesPerTrigger=1)
    (src / "f0.json").write_text(
        "\n".join([ev(1, 0, 0), ev(1, 0, 10), ev(2, 0, 5)]) + "\n"
    )
    # user1 reappears 2h later -> closes their first session inline
    (src / "f1.json").write_text(ev(1, 2, 0) + "\n")
    # far-future event advances the watermark past user2's gap ->
    # user2's session times out
    (src / "f2.json").write_text(ev(3, 6, 0) + "\n")

    stream = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
        for r in spark.read.parquet(str(out)).collect()
    }
    # inline close (user1 reappears past the gap)
    assert (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00", 2) in rows
    # timeout close: final watermark 05:30 passes 00:05+gap and
    # 02:00+gap, so both sessions evict
    assert (2, "2024-01-01T00:05:00", "2024-01-01T00:05:00", 1) in rows
    assert (1, "2024-01-01T02:00:00", "2024-01-01T02:00:00", 1) in rows
    # user3's 06:00 session is beyond the watermark -> still open
    assert all(uid != 3 for uid, *_ in rows)
    assert len(rows) == 3


def test_windowed_state_store_matches_batch_for_final_windows(tmp_path, spark):
    """Design (a): watermarked windowed agg emits exactly the finalized
    windows, with the same sums the batch aggregate computes."""
    from adguard2clickhouse_spark.operators.parse import parse_querylog_lines, split_dead_letter
    from adguard2clickhouse_spark.streaming.windowed import stats2_windowed_stream

    src = tmp_path / "w_src"
    src.mkdir()
    out = tmp_path / "w_out"
    ckpt = tmp_path / "w_ckpt"

    lines1 = [
        _line(i, minute=m, filtered=f, qh="a.example.com", ip=ip)
        for i, (m, f, ip) in enumerate(
            [(1, True, "10.0.0.1"), (2, False, "10.0.0.1"), (11, False, "10.0.0.1"),
             (3, True, "10.0.0.2")]
        )
    ]
    # second file 3h later: watermark (max-1h) passes every window above
    lines2 = [_line(99, minute=0, filtered=False, qh="z.example.com", ip="10.0.0.9")
              .replace("T00:", "T03:")]
    (src / "w0.jsonl").write_text("\n".join(lines1) + "\n")
    (src / "w1.jsonl").write_text("\n".join(lines2) + "\n")

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(str(src))
    good = split_dead_letter(parse_querylog_lines(raw))[0]
    q = (
        stats2_windowed_stream(good)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.IP, r.date_time.isoformat(), r.blocked, r.visited)
        for r in spark.read.parquet(str(out)).collect()
    }
    # minutes 1,2,3 -> window 00:00; minute 11 -> window 00:10
    assert ("10.0.0.1", "2024-01-01T00:00:00", 1, 1) in got
    assert ("10.0.0.1", "2024-01-01T00:10:00", 0, 1) in got
    assert ("10.0.0.2", "2024-01-01T00:00:00", 1, 0) in got
    # the 03:00 row's window is not finalized (watermark 02:00) -> absent
    assert all(ip != "10.0.0.9" for ip, *_ in got)


def test_stream_dedupe_drops_redelivered_events(tmp_path, spark):
    """dropDuplicatesWithinWatermark keeps one row per event_id among
    in-horizon re-deliveries — the ingest guard that makes
    at-least-once sources harmless to the additive sinks."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.streaming.dedupe import dedupe_stream

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    rows = [
        {"event_id": i % 40, "ts": f"2026-01-01T00:{i % 40:02d}:00Z", "v": i % 40}
        for i in range(120)  # every event delivered 3×
    ]
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("event_id BIGINT, ts STRING, v BIGINT")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        dedupe_stream(stream, ["event_id"], "ts", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(out))
    assert got.count() == 40
    assert got.select("event_id").distinct().count() == 40


def test_pipeline_ingest_dedupe_collapses_duplicate_lines(tmp_path, spark):
    """With dedupe_horizon set, a file containing every line twice
    produces the same fact rows and aggregate values as the deduped
    input — re-spooled deliveries can no longer double-count into the
    additive sinks."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    lines = [
        _line(i, minute=i % 10, filtered=i % 3 == 0, qh=f"q{i % 4}.example.com",
              ip=f"10.1.0.{i % 2}")
        for i in range(20)
    ]
    (src / "a.jsonl").write_text("\n".join(lines + lines) + "\n")  # everything 2×

    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.run_available(dedupe_horizon="1 hour")

    assert pipe.read_log2().count() == 20
    qt = {r.QT: r["count"] for r in pipe.read_aggregate("qt_stats").collect()}
    assert qt == {"A": 20}


def test_rebuild_aggregates_recovers_corrupted_sink(run_dirs, spark):
    """Backfill from the fact table: wipe an aggregate sink entirely,
    rebuild, and the read API serves exactly the stream-built state —
    the recovery path insert-triggered MVs lack."""
    import os
    import shutil

    _, out, pipe, _ = run_dirs
    # ground truth = the batch aggregate over the fact table (other
    # tests may have folded synthetic deltas into the sink by now)
    expect = sorted(
        (r.QT, r["count"]) for r in agg.qt_stats(pipe.read_log2()).collect()
    )
    shutil.rmtree(str(out / "qt_stats"))
    assert not (out / "qt_stats").exists()

    os.makedirs(str(out / "qt_stats"), exist_ok=True)
    pipe.rebuild_aggregates(["qt_stats", "clients_stats"])
    after = sorted(
        (r.QT, r["count"]) for r in pipe.read_aggregate("qt_stats").collect()
    )
    assert after == expect


def test_read_log2_merges_evolved_schema(tmp_path, spark):
    """A column added mid-stream must reconcile across old and new
    fact epochs under merge_schema (older rows null-filled). Epochs
    are committed through the ledgered fact sink — the only writer of
    log2 since r10."""
    import datetime

    from pyspark.sql import functions as F

    pipe = QuerylogPipeline(spark, str(tmp_path / "s"), str(tmp_path / "o"))
    d = F.lit(datetime.date(2024, 1, 1))
    pipe.log2_sink.append(
        spark.range(3)
        .selectExpr("id AS date_time", "CAST(id AS STRING) AS QH")
        .withColumn("date", d),
        epoch_id=0,
    )
    pipe.log2_sink.append(
        spark.range(2)
        .selectExpr(
            "id AS date_time", "CAST(id AS STRING) AS QH",
            "'edns' AS transport",
        )
        .withColumn("date", d),
        epoch_id=1,
    )

    merged = pipe.read_log2(merge_schema=True)
    assert "transport" in merged.columns
    assert merged.count() == 5
    assert merged.filter("transport IS NULL").count() == 3


# ---------------------------------------------------------------------------
# Crash recovery e2e (round-4 ask #3): the exactly-once story through a
# REAL restart — checkpoint + sink dirs survive, the stream resumes,
# and the additive sinks neither lose nor double-count.
# ---------------------------------------------------------------------------

def _batch_answer(spark, lines):
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    good, _ = parse_querylog(raw)
    return {
        name: {tuple(r) for r in fn(good).collect()}
        for name, fn in agg.ALL_AGGREGATES.items()
    }


def test_crash_restart_resumes_from_checkpoint(tmp_path, spark):
    """Kill a RUNNING pipeline after >=2 committed epochs, restart a
    fresh pipeline object on the same checkpoint + sink dirs, feed
    more data: every additive sink must equal the one-shot batch
    answer over all lines, and log2 must hold each valid line exactly
    once (no loss across the restart, no double-count)."""
    import time

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    files = [
        [_line(i, minute=i % 10, filtered=i % 3 == 0,
               qh=f"c{i % 5}.example.com", ip=f"10.1.0.{i % 3}")
         for i in range(f * 20, f * 20 + 20)]
        for f in range(3)
    ]

    pipe = QuerylogPipeline(spark, str(src), str(out))
    for i in range(2):
        (src / f"log-{i:04d}.jsonl").write_text("\n".join(files[i]) + "\n")
    q = pipe.start(processing_time="1 seconds", max_files_per_trigger=1)
    try:
        deadline = time.time() + 120
        # wait until both files are committed as (at least) two epochs
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["batchId"] >= 2 and p["numInputRows"] == 0:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("stream never committed 2 epochs")
    finally:
        q.stop()  # the "crash": no more micro-batches from this process

    # restart: NEW pipeline object, same dirs; third file arrives late
    (src / "log-0002.jsonl").write_text("\n".join(files[2]) + "\n")
    pipe2 = QuerylogPipeline(spark, str(src), str(out))
    pipe2.run_available()

    all_lines = [l for f in files for l in f]
    expected = _batch_answer(spark, all_lines)
    for name in agg.ALL_AGGREGATES:
        got = {tuple(r) for r in pipe2.read_aggregate(name).collect()}
        assert got == expected[name], f"{name} diverged after restart"
    assert pipe2.read_log2().count() == len(all_lines)


def test_mid_epoch_failure_replay_no_double_count(tmp_path, spark):
    """Harsher crash: an aggregate sink FAILS mid-epoch after sibling
    sinks already applied it, killing the stream with partial epoch
    state on disk. On restart Structured Streaming replays the epoch
    from the checkpoint; the sinks that applied it must no-op (epoch
    high-water mark) while the failed sink catches up — final additive
    state equals the batch answer. The log2 fact append goes through
    the ledgered fact sink (r10): the replayed epoch's re-append is a
    committed-epoch no-op, so the fact table holds EXACTLY the input
    rows — before r10 this very scenario doubled them and only a
    natural-key dedup restored the count.
    """
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    files = [
        [_line(i, minute=i % 8, filtered=i % 4 == 0,
               qh=f"m{i % 4}.example.net", ip=f"10.2.0.{i % 2}")
         for i in range(f * 15, f * 15 + 15)]
        for f in range(2)
    ]
    for i, lines in enumerate(files):
        (src / f"log-{i:04d}.jsonl").write_text("\n".join(lines) + "\n")

    pipe = QuerylogPipeline(spark, str(src), str(out))
    victim = pipe.sinks["qt_stats"]
    real_apply = victim.apply_delta
    fail_state = {"tripped": False}

    def sabotaged(delta, epoch_id, **kwargs):
        if epoch_id >= 1 and not fail_state["tripped"]:
            fail_state["tripped"] = True
            raise RuntimeError("injected mid-epoch sink failure")
        return real_apply(delta, epoch_id, **kwargs)

    victim.apply_delta = sabotaged
    try:
        with pytest.raises(StreamingQueryException):
            q = pipe.start(available_now=True, max_files_per_trigger=1)
            q.awaitTermination()
    finally:
        victim.apply_delta = real_apply
    assert fail_state["tripped"], "sabotage never fired - test setup wrong"

    # restart on the same dirs: the checkpointed epoch replays
    pipe2 = QuerylogPipeline(spark, str(src), str(out))
    pipe2.run_available()

    all_lines = [l for f in files for l in f]
    expected = _batch_answer(spark, all_lines)
    for name in agg.ALL_AGGREGATES:
        got = {tuple(r) for r in pipe2.read_aggregate(name).collect()}
        assert got == expected[name], f"{name} diverged after epoch replay"
    # exactly-once facts (r10): the replayed epoch must NOT double —
    # the ledgered sink no-ops the retry of a committed epoch. This
    # assertion fails on the pre-r10 plain parquet append (the epoch
    # that crashed mid-fan had already appended its fact rows, and the
    # replay appended them again).
    log2 = pipe2.read_log2()
    assert log2.count() == len(all_lines)
    # the dead-letter channel is ledgered too: no dead rows here at all
    assert pipe2.dead_sink.read(spark) is None


def test_replay_dead_letters_recovers_fixed_lines(tmp_path, spark, monkeypatch):
    """Operational recovery the reference lacks: lines that failed an
    older parser but pass the current one move from the dead-letter
    channel into log2 + rebuilt aggregates; genuinely bad lines stay
    dead. Exactly-once by construction (aggregates rebuilt from the
    fact table, atomic pointer swap)."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    lines = [_line(i, minute=i % 5, filtered=i % 2 == 0,
                   qh=f"r{i % 3}.example.com", ip="10.3.0.1") for i in range(10)]
    (src / "log.jsonl").write_text("\n".join(lines) + "\n")
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.run_available()

    # simulate an old-parser artifact: valid lines mis-filed as dead,
    # alongside genuinely broken ones — installed through the ledgered
    # dead sink (the only writer of the channel since r10)
    recoverable = [_line(i, minute=i % 5, filtered=False,
                         qh="late.example.com", ip="10.3.0.2")
                   for i in range(100, 105)]
    pipe.dead_sink.replace(spark.createDataFrame(
        [(l,) for l in recoverable + ["{ not json", "also broken"]],
        ["raw_line"],
    ))

    # snapshot every bucket file of one sink: the delta replay must
    # rewrite ONLY the buckets the 5 recovered lines touch (they share
    # one QH → one visited_domains bucket), leaving the rest of the
    # history byte-identical (VERDICT r4 #6 Done-criterion)
    def _files(d):
        import hashlib
        return {
            os.path.relpath(os.path.join(r, f), d): hashlib.md5(
                open(os.path.join(r, f), "rb").read()
            ).hexdigest()
            for r, _, fs in os.walk(d)
            for f in fs
            # bucket data files only: the version pointer (CURRENT.json)
            # legitimately changes on every fold
            if os.path.relpath(r, d).startswith("b")
        }

    vd_dir = str(out / "visited_domains")
    before = _files(vd_dir)

    # the replay computes every stock delta in one grouping-sets pass,
    # the same fan as a stream epoch
    from adguard2clickhouse_spark.streaming import pipeline as pl

    delta_passes = []
    real_deltas = pl.fused_arrow_deltas
    monkeypatch.setattr(
        pl, "fused_arrow_deltas",
        lambda *a, **kw: delta_passes.append(1) or real_deltas(*a, **kw),
    )
    stats = pipe.replay_dead_letters()
    monkeypatch.undo()
    assert stats == {"replayed": 5, "still_dead": 2}
    assert len(delta_passes) == 1
    assert pipe.read_log2().count() == 15
    dead_after = pipe.dead_sink.read(spark)
    assert dead_after.count() == 2

    after = _files(vd_dir)
    survivors = set(before) & set(after)
    assert survivors, "some untouched bucket files must persist"
    for p in survivors:
        assert before[p] == after[p], f"untouched bucket rewritten: {p}"
    changed_buckets = {
        p.split("/")[0] for p in (set(before) ^ set(after)) if p.startswith("b")
    }
    assert len(changed_buckets) == 1, (
        f"delta replay should touch exactly the one bucket the recovered "
        f"QH hashes to, got {changed_buckets}"
    )

    # aggregates equal the batch answer over ALL 15 effective lines
    expected = _batch_answer(spark, lines + recoverable)
    for name in agg.ALL_AGGREGATES:
        got = {tuple(r) for r in pipe.read_aggregate(name).collect()}
        assert got == expected[name], f"{name} diverged after replay"
    # idempotent: replaying again is a no-op for log2 and aggregates
    stats2 = pipe.replay_dead_letters()
    assert stats2 == {"replayed": 0, "still_dead": 2}
    assert pipe.read_log2().count() == 15

    # a crashed replay rerun: applying the same token again must no-op
    # at the sink level even though the delta frame is non-empty
    good, _ = parse_querylog(
        spark.createDataFrame([(l,) for l in recoverable], ["raw_line"]), "raw_line"
    )
    token = pipe.sinks["visited_domains"].ledger.read()["tokens"][-1]
    pipe.sinks["visited_domains"].apply_delta(
        agg.ALL_AGGREGATES["visited_domains"](good), None, token
    )
    got = {tuple(r) for r in pipe.read_aggregate("visited_domains").collect()}
    assert got == expected["visited_domains"], "token retry double-counted"


def _plan_node_names(plan) -> list[str]:
    """Node names of a physical plan tree, walked through ``children()``
    (a cached relation is a leaf: its plan is not a child)."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_replay_stages_still_dead_lines_from_the_parse_cache(
    tmp_path, spark, monkeypatch
):
    """A replay parses the dead channel once: the still-dead frame it
    hands to ``dead_sink.replace`` reads the replay's parse cache and
    runs no DNS UDF (no ``ArrowEvalPython`` node in its executed plan)."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    (src / "log.jsonl").write_text(
        _line(0, minute=1, filtered=False, qh="a.example.com", ip="10.4.0.1")
        + "\n"
    )
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.run_available()
    recoverable = _line(1, minute=2, filtered=True, qh="b.example.com",
                        ip="10.4.0.2")
    pipe.dead_sink.replace(spark.createDataFrame(
        [(recoverable,), ("{ not json",)], ["raw_line"]
    ))

    plans = []
    real_replace = pipe.dead_sink.replace

    def replace(df, **kw):
        plans.append(_plan_node_names(df._jdf.queryExecution().executedPlan()))
        return real_replace(df, **kw)

    monkeypatch.setattr(pipe.dead_sink, "replace", replace)
    assert pipe.replay_dead_letters() == {"replayed": 1, "still_dead": 1}
    assert len(plans) == 1
    assert "ArrowEvalPython" not in plans[0], plans[0]
    assert "InMemoryTableScan" in plans[0], plans[0]


@pytest.mark.parametrize("ceiling", [None, 0], ids=["driver", "executors"])
def test_low_traffic_epoch_keeps_untouched_buckets_byte_identical(
    spark, tmp_path, ceiling
):
    """After a big epoch that touches every bucket, a tiny follow-up
    epoch whose keys land in few buckets must rewrite ONLY those
    buckets — every other bucket file of every sink stays
    byte-identical — on the driver path and on the Spark path
    (``driver_fold_max_rows = 0``). A sink the tiny epoch does not feed
    gets no new file at all, which a superset touched set would break."""
    import hashlib

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    big = [_line(i, minute=i % 45, filtered=i % 3 == 0,
                 qh=f"d{i % 17}.example.com", ip=f"10.9.0.{i % 7}")
           for i in range(200)]
    (src / "a.jsonl").write_text("\n".join(big) + "\n")
    pipe = QuerylogPipeline(spark, str(src), str(out))
    if ceiling is not None:
        pipe.driver_fold_max_rows = ceiling
    pipe.run_available()

    def _bucket_files(root):
        return {
            os.path.relpath(os.path.join(r, f), root): hashlib.md5(
                open(os.path.join(r, f), "rb").read()
            ).hexdigest()
            for r, _, fs in os.walk(root)
            for f in fs
            if os.path.relpath(r, root).startswith("b")
        }

    before = {
        name: _bucket_files(str(out / name)) for name in pipe.sinks
    }

    tiny = [_line(i, minute=3, filtered=False,
                  qh="tiny.example.com", ip="10.9.1.1")
            for i in range(1000, 1003)]
    (src / "b.jsonl").write_text("\n".join(tiny) + "\n")
    pipe.run_available()

    changed_only_touched = 0
    for name, sink in pipe.sinks.items():
        after = _bucket_files(str(out / name))
        # every pre-existing file still present and byte-identical,
        # except files in buckets the tiny delta actually touched
        touched_dirs = {
            p.split(os.sep)[0]
            for p in set(after) - set(before[name])
        }
        for p, digest in before[name].items():
            if p.split(os.sep)[0] in touched_dirs:
                continue
            assert after.get(p) == digest, f"{name}:{p} rewritten by the fold"
        # 3 rows, 1 key -> at most a couple of buckets per sink
        assert len(touched_dirs) <= 2, (name, touched_dirs)
        changed_only_touched += 1
    assert changed_only_touched == len(pipe.sinks)
    # no tiny line is filtered: blocked_domains' delta is empty
    assert _bucket_files(str(out / "blocked_domains")) == before["blocked_domains"]
    want = "driver" if ceiling is None else "executors"
    assert {bt["delta_path"] for bt in pipe.batch_timings
            if "delta_path" in bt} == {want}


def test_fused_delta_auto_gates_on_epoch_rows(tmp_path, spark):
    """The delta path is picked per epoch from the batch row count:
    epochs up to driver_fold_max_rows (the driver-memory ceiling)
    collect the grouping-sets deltas to the driver once and fold them
    there with pyarrow ("driver"); in larger epochs each sink folds its
    stock aggregate over the epoch on executors ("executors"). Both
    paths must produce identical sink state."""
    lines = [
        _line(i, minute=i % 50, filtered=i % 3 == 0,
              qh=f"d{i % 9}.example.com", ip=f"10.0.0.{i % 5}")
        for i in range(60)
    ]

    def run(dirname, ceiling=None):
        src = tmp_path / f"{dirname}_src"
        src.mkdir()
        (src / "a.jsonl").write_text("\n".join(lines) + "\n")
        pipe = QuerylogPipeline(spark, str(src), str(tmp_path / dirname))
        if ceiling is not None:
            pipe.driver_fold_max_rows = ceiling
        pipe.run_available()
        return pipe

    def epochs(pipe):
        return [bt for bt in pipe.batch_timings if "delta_path" in bt]

    # default ceiling: the epoch folds on the driver, after one timed
    # grouping-sets collect whose size is recorded
    driver = run("auto_driver")
    assert driver.driver_fold_max_rows >= 1_000_000
    assert {bt["delta_path"] for bt in epochs(driver)} == {"driver"}
    for bt in epochs(driver):
        assert "fused_delta_s" in bt
        assert 0 < bt["delta_rows"] <= bt["n_rows"] * 7  # 7 grouping sets
        assert bt["delta_bytes"] > 0

    # the ceiling lowered below the epoch: the deltas stay in Spark
    fused = run("auto_fused", ceiling=len(lines) // 2)
    assert {bt["delta_path"] for bt in epochs(fused)} == {"executors"}
    assert all("fused_delta_s" in bt and "delta_rows" not in bt
               for bt in epochs(fused))

    # identical state on every sink across the paths
    for name in driver.sinks:
        a = {tuple(r) for r in driver.read_aggregate(name).collect()}
        b = {tuple(r) for r in fused.read_aggregate(name).collect()}
        assert a == b, f"{name}: delta paths disagree"


def test_delta_step_overlaps_the_fact_append(tmp_path, spark, monkeypatch):
    """The delta step runs inside the aggregate fan, concurrently with
    the fact append, not ahead of every consumer. The log2 append
    waits for a summing sink's apply_delta and the delta step waits for
    the log2 append to begin: both waits succeed only when the two
    overlap."""
    import threading

    from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink
    from adguard2clickhouse_spark.sinks.summing import SummingParquetSink
    from adguard2clickhouse_spark.streaming import pipeline as pl

    appending, folding = threading.Event(), threading.Event()
    seen = {}

    real_append = LedgeredFactSink.append

    def append(self, *a, **kw):
        if os.path.basename(self.path) == "log2":
            appending.set()
            seen["fold_during_append"] = folding.wait(timeout=30)
        return real_append(self, *a, **kw)

    real_deltas = pl.fused_arrow_deltas

    def deltas_after_append_began(*a, **kw):
        seen["append_during_delta"] = appending.wait(timeout=30)
        return real_deltas(*a, **kw)

    real_apply = SummingParquetSink.apply_delta

    def apply_delta(self, *a, **kw):
        folding.set()
        return real_apply(self, *a, **kw)

    monkeypatch.setattr(pl, "fused_arrow_deltas", deltas_after_append_began)
    monkeypatch.setattr(SummingParquetSink, "apply_delta", apply_delta)
    monkeypatch.setattr(LedgeredFactSink, "append", append)

    batches = _corpus()
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text("\n".join(batches[0]) + "\n")
    pipe = QuerylogPipeline(spark, str(src), str(tmp_path / "out"))
    pipe.run_available()

    assert seen == {"append_during_delta": True, "fold_during_append": True}
    assert [bt["delta_path"] for bt in pipe.batch_timings
            if "delta_path" in bt] == ["driver"]
    good, _ = parse_querylog(
        spark.createDataFrame([(l,) for l in batches[0]], ["value"])
    )
    for name, fn in agg.ALL_AGGREGATES.items():
        want = fn(good)
        got = pipe.read_aggregate(name).select(*want.columns)
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in want.collect()
        }, name


def test_pipeline_refuses_unledgered_dead_letters(tmp_path, spark):
    """A pre-r10 out_dir has a FLAT dead-letter parquet (no ledger).
    The pipeline must refuse to open it, naming the channel's path,
    rather than start over it with those lines out of replay's reach."""
    out = tmp_path / "out"
    spark.createDataFrame([("still broken",)], ["raw_line"]).write.parquet(
        str(out / "dead_letter")
    )
    with pytest.raises(ValueError, match="dead_letter"):
        QuerylogPipeline(spark, str(tmp_path / "src"), str(out))


# ---------------------------------------------------------------------------
# r11: scheduled fact-ledger maintenance + enforced single-writer discipline
# + checkpoint-identity-scoped epoch ledgers
# ---------------------------------------------------------------------------


def test_auto_compaction_bounds_committed_slots(tmp_path, spark, monkeypatch):
    """VERDICT r10 #1: a long-running stream used to grow one committed
    slot per epoch until an operator remembered compact_facts(). Each
    epoch now submits one background size-tiered fold step, so the
    count stays bounded and the table content is untouched."""
    from adguard2clickhouse_spark.streaming import pipeline as pl

    monkeypatch.setattr(pl, "_COMPACT_FANOUT", 2)  # force folds in a short run
    src = tmp_path / "src"
    src.mkdir()
    n_files, per_file = 12, 4
    for i in range(n_files):
        (src / f"f{i:03d}.jsonl").write_text(
            "\n".join(
                _line(j, minute=j % 50, filtered=j % 3 == 0,
                      qh=f"c{j % 9}.example.com", ip=f"10.0.0.{j % 4}")
                for j in range(i * per_file, (i + 1) * per_file)
            ) + "\n"
        )
    pipe = QuerylogPipeline(spark, str(src), str(tmp_path / "out"))
    q = pipe.start(available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    final = pipe.join_maintenance()  # drain the in-flight background fold
    if final:
        pipe.batch_timings.append(final)
    dirs = pipe.log2_sink.ledger.read()["dirs"]
    # unbounded = one slot per epoch (12); tiered maintenance keeps it
    # logarithmic (fanout 2 over 12 epochs: a handful)
    assert len(dirs) <= 4, dirs
    assert any("auto_compact_folded" in t for t in pipe.batch_timings)
    # the table itself is unchanged by maintenance
    assert pipe.read_log2().count() == n_files * per_file
    # epoch idempotency survived the folds
    assert pipe.log2_sink.applied(n_files - 1)


def test_large_slots_never_fold_on_the_batch_thread(tmp_path, spark, monkeypatch):
    """Committed slots at or above the small-file threshold (tier-k
    fold outputs, backfills) are never shrunk by a fold, so counting
    them toward a synchronous fold trigger made every later epoch run
    compact() on the stream's batch thread once enough had piled up.
    Every fold must come from the background maintenance thread,
    however many large slots the ledger holds."""
    import threading

    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.sources.querylog import read_querylog_batch
    from adguard2clickhouse_spark.streaming import pipeline as pl

    seed_dir = tmp_path / "seed"
    seed_dir.mkdir()
    n_seed = 200
    (seed_dir / "seed.jsonl").write_text(
        "\n".join(
            _line(j, minute=j % 50, filtered=j % 3 == 0,
                  qh=f"s{j % 11}.example.com", ip=f"10.1.0.{j % 4}")
            for j in range(n_seed)
        ) + "\n"
    )
    good, _ = parse_querylog(read_querylog_batch(spark, str(seed_dir)))
    seed = good.withColumn("date", F.to_date("date_time")).coalesce(1).persist()

    src = tmp_path / "src"
    src.mkdir()
    pipe = QuerylogPipeline(spark, str(src), str(tmp_path / "out"))
    n_large = 48
    for _ in range(n_large):
        pipe.log2_sink.append(seed)
    seed.unpersist()
    meta = pipe.log2_sink.ledger.read()
    assert len(meta["dirs"]) == n_large
    # every seeded slot sits at or above the threshold: no fold shrinks it
    threshold = min(meta["dir_bytes"].values())
    monkeypatch.setattr(pl, "_COMPACT_SMALL_BYTES", threshold)

    calls = []
    real_compact = pipe.log2_sink.compact

    def recording_compact(*a, **kw):
        calls.append(threading.current_thread().name)
        return real_compact(*a, **kw)

    pipe.log2_sink.compact = recording_compact
    n_epochs = 6
    for i in range(n_epochs):
        (src / f"f{i}.jsonl").write_text(
            _line(i, minute=i, filtered=False, qh=f"e{i}.example.com",
                  ip="10.0.0.1") + "\n"
        )
    q = pipe.start(available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    pipe.join_maintenance()

    assert calls, "the background step must have run"
    assert all(name.startswith("ledger-maint") for name in calls), calls
    meta = pipe.log2_sink.ledger.read()
    epoch_slots = [d for d in meta["dirs"] if meta["dir_bytes"][d] < threshold]
    assert epoch_slots, "the one-line epochs must leave small slots"
    assert pipe.read_log2().count() == n_large * n_seed + n_epochs


def test_maintenance_raises_while_stream_active(tmp_path, spark):
    """VERDICT r10 #2: compaction/replay against a live stream was a
    docstring discipline; now it raises. (The sinks' flock makes the
    race non-corrupting; this guard makes it non-surprising.)"""
    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.jsonl").write_text(
        _line(1, minute=1, filtered=False, qh="a.example.com",
              ip="10.0.0.1") + "\n"
    )
    pipe = QuerylogPipeline(spark, str(src), str(tmp_path / "out"))
    q = pipe.start(processing_time="10 seconds")
    try:
        with pytest.raises(RuntimeError, match="stream is stopped"):
            pipe.compact_facts()
        with pytest.raises(RuntimeError, match="stream is stopped"):
            pipe.replay_dead_letters()
        with pytest.raises(RuntimeError, match="stream is stopped"):
            pipe.rebuild_aggregates()
    finally:
        q.stop()
        q.awaitTermination()
    # stopped stream: maintenance proceeds normally
    assert pipe.compact_facts() == 0 or True  # no error is the contract


def test_checkpoint_recreation_does_not_drop_epochs(tmp_path, spark):
    """ADVICE r10 low: epoch ids restart at 0 when the checkpoint is
    deleted while out_dir is kept. Pre-r11 every new epoch up to the
    old high-water mark silently vanished from log2, and until every
    sink committed through the shared ledger it still vanished from
    the aggregates; each sink's epoch ledger is now scoped to the
    streaming-query identity."""
    import shutil as _shutil

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    for i in range(3):  # three epochs → hwm 2 under the first query id
        (src / f"f{i}.jsonl").write_text(
            _line(i, minute=i, filtered=False, qh=f"a{i}.example.com",
                  ip="10.0.0.1") + "\n"
        )
    pipe = QuerylogPipeline(spark, str(src), out)
    q = pipe.start(available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    assert pipe.read_log2().count() == 3
    assert pipe.log2_sink.ledger.read()["stream_id"] is not None

    # operator error: checkpoint wiped, data dir kept; the old files
    # were rotated away and two new ones arrived
    _shutil.rmtree(pipe.checkpoint_dir)
    for i in range(3):
        (src / f"f{i}.jsonl").unlink()
    for i in range(3, 5):
        (src / f"f{i}.jsonl").write_text(
            _line(i, minute=i, filtered=False, qh=f"a{i}.example.com",
                  ip="10.0.0.1") + "\n"
        )
    pipe2 = QuerylogPipeline(spark, str(src), out)
    pipe2.run_available()
    # the new query reads both new files as its epoch 0, at or below
    # the old high-water mark; the voided ledgers let every sink
    # commit it.
    log2 = pipe2.read_log2()
    qhs = {r.QH for r in log2.select("QH").distinct().collect()}
    assert {"a3.example.com", "a4.example.com"} <= qhs
    assert log2.count() == 5
    for name, fn in agg.ALL_AGGREGATES.items():
        want = fn(log2)
        got = pipe2.read_aggregate(name)  # None: no rows ever folded
        got = [] if got is None else got.select(*want.columns).collect()
        assert {tuple(r) for r in got} == {tuple(r) for r in want.collect()}, name


def test_noisy_source_dead_channel_stays_bounded(tmp_path, spark, monkeypatch):
    """r12 (VERDICT r11 #3): a persistently-noisy source used to
    fragment the dead-letter channel without bound between replays
    (the channel was exempt from maintenance because its replay token
    hashed FILES). With the content-multiset token the channel joins
    the per-epoch incremental compaction: slot count stays bounded
    while every dead line is preserved."""
    from adguard2clickhouse_spark.streaming import pipeline as pl

    monkeypatch.setattr(pl, "_COMPACT_FANOUT", 2)  # force folds in a short run
    src = tmp_path / "src"
    src.mkdir()
    n_files = 12
    for i in range(n_files):
        (src / f"f{i:03d}.jsonl").write_text(
            _line(i, minute=i % 50, filtered=False,
                  qh=f"n{i}.example.com", ip="10.0.0.1")
            + "\n" + f"{{ broken line {i}\n"
        )
    pipe = QuerylogPipeline(spark, str(src), str(tmp_path / "out"))
    q = pipe.start(available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    final = pipe.join_maintenance()  # drain the in-flight background fold
    if final:
        pipe.batch_timings.append(final)
    dead_dirs = pipe.dead_sink.ledger.read()["dirs"]
    # unbounded = one slot per epoch (12); tiered maintenance keeps it
    # logarithmic (fanout 2 over 12 epochs: a handful)
    assert len(dead_dirs) <= 5, dead_dirs
    assert any("dead_compact_folded" in t for t in pipe.batch_timings)
    dead = pipe.dead_sink.read(spark)
    assert dead.count() == n_files  # every bad line preserved
    assert pipe.read_log2().count() == n_files
    # the epoch records account for every line: n_dead (n_lines minus
    # the good count, no extra job) sums to the dead channel's rows
    epochs = [t for t in pipe.batch_timings if "n_dead" in t]
    assert len(epochs) == n_files
    assert all(t["n_lines"] == t["n_rows"] + t["n_dead"] for t in epochs)
    assert sum(t["n_dead"] for t in epochs) == dead.count()


def test_dead_letter_digest_survives_compaction(tmp_path, spark):
    """The replay token is a multiset digest of the committed dead
    LINES: invariant under any content-preserving fold (incremental or
    full), sensitive to content changes, and distinct across replay
    generations even for byte-identical content."""
    pipe = QuerylogPipeline(
        spark, str(tmp_path / "src"), str(tmp_path / "out")
    )
    for i in range(3):
        pipe.dead_sink.append(
            spark.createDataFrame([(f"bad {i}",)], ["raw_line"]),
            token=f"seed-{i}",
        )
    d0 = pipe._dead_letter_digest()
    assert pipe.dead_sink.compact(
        spark, small_bytes=1 << 30, max_fold_slots=2
    ) == 2
    assert pipe._dead_letter_digest() == d0
    pipe.dead_sink.compact(spark)  # full fold
    assert pipe._dead_letter_digest() == d0
    # content-sensitive
    pipe.dead_sink.append(spark.createDataFrame([("bad 3",)], ["raw_line"]))
    d1 = pipe._dead_letter_digest()
    assert d1 != d0
    # generation-sensitive: identical content, bumped generation
    pipe.dead_sink.replace(pipe.dead_sink.read(spark), bump_generation=True)
    assert pipe._dead_letter_digest() != d1


def test_crashed_replay_retry_noops_after_dead_compaction(tmp_path, spark):
    """The r11 hazard that kept the dead channel out of maintenance:
    a fold between a crashed replay and its retry used to mint a fresh
    token and double-fold the recovered lines. With the content
    digest, the retry after a maintenance fold completes the missing
    steps and no-ops the committed ones."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    base = [_line(i, minute=i % 5, filtered=i % 2 == 0,
                  qh=f"r{i % 3}.example.com", ip="10.3.0.1")
            for i in range(10)]
    (src / "log.jsonl").write_text("\n".join(base) + "\n")
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.run_available()
    assert pipe.read_log2().count() == 10

    # recoverable lines spread across TWO dead slots, so the
    # between-crash-and-retry fold has something to merge
    rec = [_line(i, minute=i % 5, filtered=False,
                 qh="late.example.com", ip="10.3.0.2")
           for i in range(100, 104)]
    pipe.dead_sink.replace(spark.createDataFrame(
        [(l,) for l in rec[:2] + ["{ not json"]], ["raw_line"]))
    pipe.dead_sink.append(spark.createDataFrame(
        [(l,) for l in rec[2:]], ["raw_line"]))
    assert len(pipe.dead_sink.ledger.read()["dirs"]) == 2

    # crash the replay AFTER the log2 append: first aggregate fold dies
    orig = pipe.sinks["visited_domains"].apply_delta
    calls = {"n": 0}

    def sabotage(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-replay")
        return orig(*a, **k)

    pipe.sinks["visited_domains"].apply_delta = sabotage
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.replay_dead_letters()
    assert pipe.read_log2().count() == 14  # log2 append committed

    # maintenance fold between the crash and the retry — the r11 hazard
    assert pipe.dead_sink.compact(
        spark, small_bytes=1 << 30, max_fold_slots=2
    ) == 2

    stats = pipe.replay_dead_letters()
    assert stats == {"replayed": 4, "still_dead": 1}
    # the retry's log2 append no-opped under the SAME token: no doubles
    assert pipe.read_log2().count() == 14
    assert pipe.read_log2().filter("QH = 'late.example.com'").count() == 4
    # aggregates match the batch answer over all effective lines
    expected = _batch_answer(spark, base + rec)
    for name in agg.ALL_AGGREGATES:
        got = {tuple(r) for r in pipe.read_aggregate(name).collect()}
        assert got == expected[name], f"{name} diverged after retry"
