"""LedgeredFactSink — exactly-once parquet fact appends (r10).

The last at-least-once edge in the delivery story (VERDICT r9 ask #1):
plain ``mode("append")`` parquet doubles fact rows when Structured
Streaming replays a crashed epoch. The sink stages each epoch, renames
it into a committed ``cseq=<n>`` slot, and makes it visible only via an
atomic pointer write — the same ledger discipline as
``SummingParquetSink.apply_delta``. These tests drive the sink through
every crash window directly; the streaming e2e retry is
tests/test_streaming.py::test_mid_epoch_failure_replay_no_double_count.
"""

from __future__ import annotations

import datetime
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink


def _df(spark, rows):
    return (
        spark.createDataFrame(rows, ["date", "date_time", "QH"])
        .withColumn("date", F.to_date("date"))
    )


@pytest.fixture()
def sink(tmp_path):
    return LedgeredFactSink(
        str(tmp_path / "log2"),
        partition_by=["date"],
        sort_within=["date_time"],
    )


def test_epoch_retry_is_noop(sink, spark):
    df = _df(spark, [("2024-01-01", 1, "a.com"), ("2024-01-02", 2, "b.com")])
    assert sink.append(df, epoch_id=0) is True
    assert sink.append(df, epoch_id=0) is False  # the crash-replay path
    assert sink.read(spark).count() == 2
    assert sink.applied(0) and not sink.applied(1)


def test_epoch_hwm_covers_evicted_window(sink, spark):
    """Epochs beyond the tracked window are still recognized via the
    high-water mark (foreachBatch epochs are monotonic)."""
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    sink.append(df, epoch_id=7)
    meta = sink.ledger.read()
    meta["epochs"] = []  # simulate window eviction
    sink.ledger.write(meta)
    assert sink.applied(7) and sink.applied(3)
    assert sink.append(df, epoch_id=5) is False


def test_crash_between_publish_and_commit_is_invisible_then_gcd(
    sink, spark, tmp_path
):
    """The torn-epoch window: a ``cseq=`` directory exists but the
    ledger was never written. Readers must not see it; the next append
    garbage-collects it and commits its own slot."""
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    sink.append(df, epoch_id=0)
    orphan = str(tmp_path / "log2" / "cseq=00000099")
    df.write.partitionBy("date").parquet(orphan)  # simulated torn epoch
    assert sink.read(spark).count() == 1  # invisible
    assert sink.append(df, epoch_id=1) is True
    assert not os.path.exists(orphan)  # GC'd
    assert sink.read(spark).count() == 2


def test_crash_mid_stage_is_invisible_then_gcd(sink, spark, tmp_path):
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    stage = str(tmp_path / "log2" / ".stage.deadbeef")
    df.write.partitionBy("date").parquet(stage)  # simulated mid-write crash
    assert sink.read(spark) is None
    sink.append(df, epoch_id=0)
    assert not os.path.exists(stage)
    assert sink.read(spark).count() == 1


def test_empty_epoch_commits_idempotency_without_directory(sink, spark):
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    empty = df.filter("date_time < 0")
    assert sink.append(empty, epoch_id=0) is True
    assert sink.applied(0)
    assert sink.ledger.read()["dirs"] == []
    assert sink.read(spark) is None


def test_token_ledger_is_separate_from_epochs(sink, spark):
    """Out-of-band appends (dead-letter replay) identify by token and
    must not disturb the monotonic epoch hwm — same two-ledger contract
    as the summing sink."""
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    sink.append(df, epoch_id=10)
    assert sink.append(df, token="replay-1") is True
    assert sink.append(df, token="replay-1") is False
    assert sink.ledger.read()["epoch_hwm"] == 10  # untouched by the token
    assert sink.append(df, epoch_id=11) is True
    assert sink.read(spark).count() == 3


def test_partition_pruning_survives_the_ledgered_layout(sink, spark):
    """The whole point of ``cseq=`` naming + basePath: the committed
    roots read as ONE file source and the real ``date`` partition
    column still prunes."""
    sink.append(
        _df(spark, [("2024-01-01", 1, "a.com"), ("2024-01-02", 2, "b.com")]),
        epoch_id=0,
    )
    sink.append(_df(spark, [("2024-01-02", 3, "c.com")]), epoch_id=1)
    out = sink.read(spark)
    assert set(out.columns) == {"date", "date_time", "QH"}  # cseq dropped
    pruned = out.filter(F.col("date") == F.lit(datetime.date(2024, 1, 2)))
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1  # one scan node, not one per epoch
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "date" in part_lines[0]


def test_compact_folds_epoch_dirs_and_preserves_ledgers(sink, spark):
    for e in range(5):
        sink.append(_df(spark, [("2024-01-01", e, f"q{e}.com")]), epoch_id=e)
    assert len(sink.ledger.read()["dirs"]) == 5
    assert sink.compact(spark) == 5
    assert len(sink.ledger.read()["dirs"]) == 1
    assert sink.read(spark).count() == 5
    assert sink.applied(4)  # epoch history survives compaction
    assert sink.append(
        _df(spark, [("2024-01-01", 9, "x.com")]), epoch_id=3
    ) is False


def test_replace_swaps_atomically_even_from_own_read(sink, spark):
    sink.append(_df(spark, [("2024-01-01", 1, "a.com")]), epoch_id=0)
    sink.append(_df(spark, [("2024-01-01", 2, "b.com")]), epoch_id=1)
    sink.replace(sink.read(spark).filter("QH = 'b.com'"))
    out = sink.read(spark)
    assert out.count() == 1 and out.first().QH == "b.com"
    assert sink.applied(1)  # history preserved across the swap


def test_reserved_column_rejected(sink, spark):
    df = _df(spark, [("2024-01-01", 1, "a.com")]).withColumn(
        "cseq", F.lit(1)
    )
    with pytest.raises(ValueError, match="cseq"):
        sink.append(df, epoch_id=0)


def test_bounded_compaction_merges_only_small_dirs(sink, spark):
    """The 100 TB form of maintenance: only directories under the
    threshold fold together; a large already-compacted slot is never
    rewritten (its files stay byte-identical), and repeated runs
    converge instead of rewriting the table."""
    import hashlib

    # one "large" slot (many rows) + a trickle of small epochs
    big = _df(spark, [("2024-01-01", i, f"b{i}.com") for i in range(500)])
    sink.append(big, epoch_id=0)
    big_dir = sink.ledger.read()["dirs"][0]
    for e in range(1, 5):
        sink.append(_df(spark, [("2024-01-01", e, f"s{e}.com")]), epoch_id=e)

    def _hashes(d):
        out = {}
        root_dir = os.path.join(sink.path, d)
        for root, _dirs, files in os.walk(root_dir):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, root_dir)] = hashlib.md5(
                    open(p, "rb").read()
                ).hexdigest()
        return out

    big_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(os.path.join(sink.path, big_dir))
        for f in fs
    )
    before = _hashes(big_dir)
    # threshold below the big slot, above each single-row epoch
    folded = sink.compact(spark, small_bytes=big_bytes)
    assert folded == 4
    meta = sink.ledger.read()
    assert big_dir in meta["dirs"] and len(meta["dirs"]) == 2
    assert _hashes(big_dir) == before, "large slot must not be rewritten"
    assert sink.read(spark).count() == 504
    assert sink.applied(4)
    # converged: a second run finds at most the one merged small slot
    assert sink.compact(spark, small_bytes=big_bytes) == 0


def test_bounded_compaction_noop_below_two_small_dirs(sink, spark):
    sink.append(_df(spark, [("2024-01-01", 1, "a.com")]), epoch_id=0)
    assert sink.compact(spark, small_bytes=1 << 20) == 0
    assert sink.read(spark).count() == 1


def test_pipeline_compact_facts_keeps_reads_identical(spark, tmp_path):
    """Maintenance through the pipeline API: compaction changes the
    file layout, never the table."""
    import json as _json

    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    src = tmp_path / "src"
    src.mkdir()
    from tests.test_streaming import _line

    for i in range(3):
        (src / f"f{i}.jsonl").write_text(
            "\n".join(
                _line(j, minute=j % 5, filtered=False,
                      qh=f"c{j}.example.com", ip="10.0.0.1")
                for j in range(i * 5, i * 5 + 5)
            ) + "\n"
        )
    pipe = QuerylogPipeline(spark, str(src), str(tmp_path / "out"))
    q = pipe.start(available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    before = sorted(map(repr, pipe.read_log2().collect()))
    assert len(pipe.log2_sink.ledger.read()["dirs"]) >= 2  # one per epoch
    folded = pipe.compact_facts()  # default threshold: everything is small
    assert folded >= 2
    assert sorted(map(repr, pipe.read_log2().collect())) == before


def test_legacy_flat_layout_is_refused(spark, tmp_path):
    """Data without a ledger (the pre-r10 flat date= layout) would be
    invisible through the sink: opening it must fail, naming the path,
    and leave the data where it was."""
    legacy = str(tmp_path / "log2")
    df = _df(spark, [("2024-01-01", 1, "a.com"), ("2024-01-02", 2, "b.com")])
    df.write.partitionBy("date").parquet(legacy)  # the old writer's layout
    before = sorted(os.listdir(legacy))
    with pytest.raises(ValueError, match=re.escape(legacy)):
        LedgeredFactSink(legacy, partition_by=["date"])
    assert sorted(os.listdir(legacy)) == before
    assert spark.read.parquet(legacy).count() == 2


def test_crashed_first_epoch_slot_is_not_adopted(spark, tmp_path):
    """A cseq= directory without a pointer is a crash leftover from
    before the very first commit — Spark will REPLAY that epoch, so
    adopting the orphan as legacy data would double it."""
    path = str(tmp_path / "log2")
    os.makedirs(path)
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    df.write.partitionBy("date").parquet(os.path.join(path, "cseq=00000001"))
    sink = LedgeredFactSink(path, partition_by=["date"])
    assert not sink.has_data()  # orphan invisible, not adopted
    sink.append(df, epoch_id=0)  # the replayed epoch commits cleanly
    assert sink.read(spark).count() == 1


def test_compaction_preserves_evolved_schema(sink, spark):
    """Compaction rewrites history, so it must carry the UNION schema:
    sampling one pre-evolution footer would destroy later columns."""
    sink.append(_df(spark, [("2024-01-01", 1, "a.com")]), epoch_id=0)
    evolved = _df(spark, [("2024-01-02", 2, "b.com")]).withColumn(
        "transport", F.lit("doh")
    )
    sink.append(evolved, epoch_id=1)
    assert sink.compact(spark) == 2
    out = sink.read(spark, merge_schema=True)
    assert "transport" in out.columns
    assert out.filter("transport = 'doh'").count() == 1
    assert out.filter("transport IS NULL").count() == 1


def test_model_based_random_ops_agree_with_reference(sink, spark, tmp_path):
    """Model-based check of the exactly-once ledger: a seeded random
    interleaving of appends, epoch retries, simulated crashes (orphan
    slots + stale stage dirs + tmp pointers), token appends and token
    retries, compactions, replaces — and (r11) streaming-query identity
    switches, under which previously-committed epoch ids must become
    appendable again (the checkpoint-recreation contract) — is replayed
    against a trivial in-memory reference model; after every operation
    the sink's committed content must equal the model exactly. This is
    the whole-contract complement to the single-scenario tests above."""
    import random

    rng = random.Random(20240815)
    model: list[tuple] = []  # committed rows as (date, date_time, QH)
    committed_epochs: set[int] = set()  # ids the CURRENT identity holds
    next_epoch = 0

    def rows_for(tag: str, n: int):
        return [
            (f"2024-01-{(i % 3) + 1:02d}", 100 * next_epoch + i, f"{tag}{i}.com")
            for i in range(n)
        ]

    def check():
        got = sink.read(spark)
        actual = (
            sorted((str(r["date"]), r["date_time"], r["QH"]) for r in got.collect())
            if got is not None
            else []
        )
        expected = sorted(
            (d, t, q) for (d, t, q) in model
        )
        assert actual == expected, (len(actual), len(expected))

    for step in range(28):
        op = rng.choice(
            ["append", "retry", "crash_orphan", "crash_stage",
             "crash_tmp_pointer", "token", "token_retry", "compact",
             "empty_epoch", "switch_stream"]
        )
        if op == "append":
            rows = rows_for(f"s{step}e{next_epoch}_", rng.randint(1, 4))
            assert sink.append(_df(spark, rows), epoch_id=next_epoch)
            model.extend(rows)
            committed_epochs.add(next_epoch)
            next_epoch += 1
        elif op == "retry" and committed_epochs:
            e = rng.choice(sorted(committed_epochs))
            assert sink.append(
                _df(spark, rows_for("ghost", 2)), epoch_id=e
            ) is False  # model unchanged
        elif op == "switch_stream":
            # checkpoint recreated: new query identity, epoch ids
            # restart at 0 and the old ledger must not swallow them
            sink.stream_id = f"q-{step}"
            committed_epochs.clear()
            next_epoch = 0
        elif op == "crash_orphan":
            # publish-without-commit leftover
            seq = sink.ledger.read()["seq"] + 1 + rng.randint(0, 3)
            d = os.path.join(sink.path, f"cseq={seq:08d}")
            if not os.path.exists(d):
                _df(spark, rows_for("orph", 2)).write.partitionBy(
                    "date"
                ).parquet(d)
        elif op == "crash_stage":
            _df(spark, rows_for("stg", 1)).write.parquet(
                os.path.join(sink.path, f".stage.crash{step}")
            )
        elif op == "crash_tmp_pointer":
            with open(
                os.path.join(sink.path, f"._FACTS.json.crash{step}.tmp"), "w"
            ) as f:
                f.write("{}")
        elif op == "token":
            rows = rows_for(f"tk{step}_", rng.randint(1, 3))
            assert sink.append(_df(spark, rows), token=f"tok-{step}")
            model.extend(rows)
        elif op == "token_retry":
            tokens = sink.ledger.read()["tokens"]
            if tokens:
                assert sink.append(
                    _df(spark, rows_for("ghost", 1)),
                    token=rng.choice(tokens),
                ) is False
        elif op == "compact":
            if rng.random() < 0.5:
                sink.compact(spark)
            else:
                sink.compact(spark, small_bytes=rng.choice([1, 10 << 20]))
        elif op == "empty_epoch":
            assert sink.append(
                _df(spark, rows_for("none", 1)).limit(0),
                epoch_id=next_epoch,
            )
            committed_epochs.add(next_epoch)  # the id commits, rowless
            next_epoch += 1
        check()

    # closing sanity: hwm survived everything and retries still no-op
    # for every epoch the CURRENT identity committed
    if committed_epochs:
        assert sink.applied(max(committed_epochs))
        assert sink.append(
            _df(spark, rows_for("final", 1)),
            epoch_id=min(committed_epochs),
        ) is False
        check()


# ---------------------------------------------------------------------------
# r11 hardening: enforced single-writer, remote-path
# rejection, stream-identity-scoped epoch ledger
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("uri", ["s3://bucket/facts", "hdfs://nn/facts",
                                 "abfss://c@a.dfs.core.windows.net/facts",
                                 "file:///tmp/facts"])
def test_remote_paths_rejected_loudly(uri):
    """The ledger is POSIX rename/flock-bound; an object-store URI must
    fail at construction naming the table formats that give the same
    contract there, not obscurely at the first os.replace."""
    with pytest.raises(ValueError) as e:
        LedgeredFactSink(uri)
    msg = str(e.value)
    assert "Delta Lake" in msg and "Iceberg" in msg


def test_concurrent_append_and_compact_lose_nothing(sink, spark):
    """VERDICT r10 #2: the pointer read-modify-write is now flocked, so
    a maintenance compaction racing appends serializes instead of
    interleaving (the pre-r11 race could drop committed dirs from the
    ledger and then GC the orphaned data). Interleave real appends and
    full compactions from two threads and assert nothing is lost."""
    import threading

    rows_per_append, n_appends = 3, 6
    errs = []

    def _appender():
        try:
            for k in range(n_appends):
                rows = [
                    ("2024-01-01", 100 * k + i, f"t{k}_{i}.com")
                    for i in range(rows_per_append)
                ]
                sink.append(_df(spark, rows), token=f"race-{k}")
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t = threading.Thread(target=_appender)
    t.start()
    compactions = 0
    while t.is_alive():
        compactions += sink.compact(spark) and 1 or 0
    t.join()
    sink.compact(spark)
    assert not errs
    assert sink.read(spark).count() == rows_per_append * n_appends


def test_stream_identity_change_voids_epoch_ledger(spark, tmp_path):
    """ADVICE r10 low: epoch ids are only monotonic within one
    checkpoint. After a checkpoint delete/relocate (new query id) the
    restarted ids must append, not silently vanish under the old hwm."""
    path = str(tmp_path / "log2")
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    s1 = LedgeredFactSink(path, partition_by=["date"], stream_id="q-one")
    for e in range(3):
        assert s1.append(df, epoch_id=e) is True
    assert s1.append(df, epoch_id=1) is False  # same stream: retry no-ops
    # new query identity, epoch ids restart at 0
    s2 = LedgeredFactSink(path, partition_by=["date"], stream_id="q-two")
    assert not s2.applied(0)
    assert s2.append(df, epoch_id=0) is True  # pre-r11: silently dropped
    assert s2.read(spark).count() == 4
    assert s2.append(df, epoch_id=0) is False  # scoped ledger still dedups


def test_stream_identity_grandfathers_unscoped_pointer(spark, tmp_path):
    """A pointer written before identities were recorded keeps its
    epoch ledger when an identified sink opens it — the same checkpoint
    continuing across the upgrade must keep replay protection."""
    path = str(tmp_path / "log2")
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    old = LedgeredFactSink(path, partition_by=["date"])  # no identity
    old.append(df, epoch_id=5)
    new = LedgeredFactSink(path, partition_by=["date"], stream_id="q-one")
    assert new.applied(5)
    assert new.append(df, epoch_id=5) is False  # grandfathered, not voided
    assert new.append(df, epoch_id=6) is True
    assert new.ledger.read()["stream_id"] == "q-one"  # scoped from here on


def test_incremental_tiered_compaction_folds_k_oldest(sink, spark):
    """r12 (VERDICT r11 #2): compact(max_fold_slots=k) is ONE bounded
    size-tiered step — folds exactly the k oldest slots of the lowest
    over-full tier, returns 0 when no tier is full — instead of the
    all-smalls fold that stalled the writer thread 15-25 s."""
    df = _df(spark, [("2024-01-01", i, f"d{i}.com") for i in range(5)])
    for e in range(10):
        assert sink.append(df, epoch_id=e) is True
    assert len(sink.ledger.read()["dirs"]) == 10

    folded = sink.compact(spark, small_bytes=1 << 30, max_fold_slots=4)
    assert folded == 4
    meta = sink.ledger.read()
    assert len(meta["dirs"]) == 7  # 10 - 4 + 1 merged
    # identical epochs => identical sizes => one tier: the OLDEST fold
    for old in ("cseq=00000001", "cseq=00000004"):
        assert old not in meta["dirs"]
    assert "cseq=00000010" in meta["dirs"]
    # the size cache tracks the ledger exactly (no stale/missing entries)
    assert set(meta["dir_bytes"]) == set(meta["dirs"])
    assert sink.read(spark).count() == 50

    # repeated steps converge, then the call becomes a cheap no-op
    for _ in range(20):
        if sink.compact(spark, small_bytes=1 << 30, max_fold_slots=4) == 0:
            break
    assert sink.compact(spark, small_bytes=1 << 30, max_fold_slots=4) == 0
    assert len(sink.ledger.read()["dirs"]) < 7
    assert sink.read(spark).count() == 50
    # epoch idempotency survives maintenance
    assert sink.applied(9)
    assert sink.append(df, epoch_id=9) is False


def test_tiered_compaction_respects_small_bytes_cap(sink, spark):
    """Slots at or above small_bytes are never selected by the tiered
    step — already-compacted history is not rewritten."""
    df = _df(spark, [("2024-01-01", i, f"d{i}.com") for i in range(5)])
    for e in range(4):
        sink.append(df, epoch_id=e)
    meta = sink.ledger.read()
    # every slot is "large" under a 1-byte threshold: nothing to fold
    assert sink.compact(spark, small_bytes=1, max_fold_slots=2) == 0
    assert sink.ledger.read()["dirs"] == meta["dirs"]
    with pytest.raises(ValueError, match="max_fold_slots"):
        sink.compact(spark, small_bytes=1 << 30, max_fold_slots=1)


def test_replace_generation_bumps_only_when_asked(sink, spark):
    """The content generation feeds the dead-letter replay token: it
    must survive appends and compaction (a crashed replay's retry needs
    the same token) and advance only on an explicit replay swap."""
    df = _df(spark, [("2024-01-01", 1, "a.com")])
    assert sink.generation() == 0
    sink.append(df, epoch_id=0)
    sink.append(df, epoch_id=1)
    assert sink.generation() == 0
    sink.compact(spark, small_bytes=1 << 30, max_fold_slots=2)
    assert sink.generation() == 0
    sink.replace(sink.read(spark))
    assert sink.generation() == 0
    sink.replace(sink.read(spark), bump_generation=True)
    assert sink.generation() == 1


@pytest.mark.parametrize(
    "bounds",
    [{"small_bytes": 1 << 30, "max_fold_slots": 4}, {}],
    ids=["tiered", "full"],
)
def test_reader_holding_prefold_snapshot_survives_fold(
    sink, spark, monkeypatch, bounds
):
    """r12 trash retention: a fold COMMITS atomically but must not
    delete the superseded slots while a reader that listed the old
    pointer is still scanning — the exact FileNotFoundException race
    observed the moment folds moved off the writer thread. The folded
    slots stay on disk for ledger.RETENTION_S and later commits sweep
    them. Holds for the tiered step and for the full fold (no
    bounds)."""
    from adguard2clickhouse_spark.sinks import ledger

    df = _df(spark, [("2024-01-01", i, f"d{i}.com") for i in range(5)])
    for e in range(4):
        sink.append(df, epoch_id=e)
    reader = sink.read(spark)  # plan holds the PRE-fold file listing
    assert sink.compact(spark, **bounds) == 4
    # the old listing still resolves: retired slots are in trash
    assert reader.count() == 20
    meta = sink.ledger.read()
    assert len(meta["trash"]) == 4
    assert len(meta["dirs"]) == 1
    # retired slots are protected from orphan GC while retained
    sink.append(df, epoch_id=99)
    assert reader.count() == 20
    # expiry: later commits physically sweep them
    monkeypatch.setattr(ledger, "RETENTION_S", 0.0)
    sink.append(df, epoch_id=100)
    meta = sink.ledger.read()
    assert meta["trash"] == []
    leftover = [d for d in os.listdir(sink.path) if d.startswith("cseq=")]
    assert sorted(leftover) == sorted(meta["dirs"])
    assert sink.read(spark).count() == 30


def test_fold_aborts_cleanly_when_replace_intervenes(sink, spark):
    """The optimistic incremental fold stages OUTSIDE the pointer lock
    and re-verifies its source slots at publish time: a replace() that
    swapped the table while the fold staged makes the fold drop its
    stale output and report 0 — never resurrect pre-swap rows."""
    df = _df(spark, [("2024-01-01", i, f"d{i}.com") for i in range(3)])
    for e in range(4):
        sink.append(df, epoch_id=e)
    swapped = _df(spark, [("2024-02-02", 1, "swapped.com")])

    orig_stage = sink._stage

    def stage_then_swap(frame):
        out = orig_stage(frame)
        # the race: a wholesale swap lands between staging and publish.
        # Restore _stage first — replace() itself stages, and staging
        # through this wrapper again would recurse (and self-deadlock
        # on the per-fd flock).
        sink._stage = orig_stage
        sink.replace(swapped)
        return out

    sink._stage = stage_then_swap
    try:
        assert sink.compact(spark, small_bytes=1 << 30, max_fold_slots=4) == 0
    finally:
        sink._stage = orig_stage
    rows = sink.read(spark).collect()
    assert len(rows) == 1 and rows[0].QH == "swapped.com"
    # no stage leftovers pinned or on disk
    assert sink._live_stages == set()
    assert not [d for d in os.listdir(sink.path) if d.startswith(".stage.")]
