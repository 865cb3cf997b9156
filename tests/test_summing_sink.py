"""SummingParquetSink bucketed-state + epoch high-water-mark gates
(VERDICT r2 #2).

The scale contract under test: a delta that hashes into one bucket
must leave every other bucket's data files untouched on disk — same
paths, same bytes — because an O(state) rewrite per 5-second epoch is
exactly what kills a high-cardinality aggregate (per-client per-10-min
stats2 over years). And idempotency must survive epochs older than the
tracked window via the high-water mark.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.sinks.ledger import _MAX_EPOCHS_TRACKED
from adguard2clickhouse_spark.sinks.summing import SummingParquetSink


def _data_file_digests(root: str) -> dict[str, str]:
    """{relpath: sha256} for every parquet data file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = Path(dirpath) / f
                out[str(p.relative_to(root))] = hashlib.sha256(
                    p.read_bytes()
                ).hexdigest()
    return out


def _mk_sink(tmp_path, spark, rows, n_buckets=8):
    sink = SummingParquetSink(
        str(tmp_path / "tbl"), keys=["k"], measures=["cnt"], n_buckets=n_buckets
    )
    df = spark.createDataFrame(rows, ["k", "cnt"])
    sink.apply_delta(df, epoch_id=0)
    return sink


def test_single_bucket_delta_leaves_other_buckets_byte_identical(tmp_path, spark):
    # seed with enough distinct keys that several buckets exist
    seed = [(f"key{i}", 1) for i in range(64)]
    sink = _mk_sink(tmp_path, spark, seed)
    meta0 = sink.ledger.read()
    assert len(meta0["buckets"]) > 1, "need multi-bucket state for this test"

    before = _data_file_digests(sink.path)

    # a delta with exactly one key → exactly one bucket touched
    delta = spark.createDataFrame([("key0", 5)], ["k", "cnt"])
    bucket_of_key0 = delta.select(
        F.pmod(F.xxhash64("k"), F.lit(sink.n_buckets)).alias("b")
    ).first()["b"]
    sink.apply_delta(delta, epoch_id=1)

    after = _data_file_digests(sink.path)
    meta1 = sink.ledger.read()

    touched_dir = f"b{bucket_of_key0:04d}"
    for rel, digest in before.items():
        if rel.startswith(touched_dir):
            continue  # the one rewritten bucket
        assert rel in after, f"untouched bucket file vanished: {rel}"
        assert after[rel] == digest, f"untouched bucket file rewritten: {rel}"
    # only that bucket's version advanced
    for b, v in meta0["buckets"].items():
        if int(b) != bucket_of_key0:
            assert meta1["buckets"][b] == v

    # and the fold is correct
    got = dict(sink.read(spark).collect())
    assert got["key0"] == 6 and got["key1"] == 1


def test_multi_bucket_delta_touches_only_its_buckets(tmp_path, spark):
    seed = [(f"key{i}", 1) for i in range(64)]
    sink = _mk_sink(tmp_path, spark, seed)
    before = _data_file_digests(sink.path)

    delta_rows = [("key0", 2), ("key17", 3), ("key42", 4)]
    delta = spark.createDataFrame(delta_rows, ["k", "cnt"])
    touched = {
        r["b"]
        for r in delta.select(
            F.pmod(F.xxhash64("k"), F.lit(sink.n_buckets)).alias("b")
        ).collect()
    }
    sink.apply_delta(delta, epoch_id=1)
    after = _data_file_digests(sink.path)

    touched_dirs = {f"b{b:04d}" for b in touched}
    for rel, digest in before.items():
        if any(rel.startswith(d) for d in touched_dirs):
            continue
        assert after.get(rel) == digest, f"untouched bucket rewritten: {rel}"

    got = dict(sink.read(spark).collect())
    assert got["key0"] == 3 and got["key17"] == 4 and got["key42"] == 5
    assert got["key1"] == 1


def test_epoch_high_water_mark_survives_window_eviction(tmp_path, spark):
    sink = _mk_sink(tmp_path, spark, [("a", 1)])
    # simulate a long-running stream: the tracked-epoch window has
    # rolled far past epoch 0
    meta = sink.ledger.read()
    meta["epochs"] = list(
        range(10_000, 10_000 + _MAX_EPOCHS_TRACKED)
    )  # window full, epoch 0 long gone
    meta["epoch_hwm"] = meta["epochs"][-1]
    sink.ledger.write(meta)

    before = dict(sink.read(spark).collect())
    # a retry of ANY epoch <= hwm must be a no-op even though it's not
    # in the tracked list
    stale = spark.createDataFrame([("a", 100)], ["k", "cnt"])
    assert sink.applied(5)
    sink.apply_delta(stale, epoch_id=5)
    assert dict(sink.read(spark).collect()) == before

    # a genuinely new epoch still folds
    sink.apply_delta(stale, epoch_id=meta["epoch_hwm"] + 1)
    assert dict(sink.read(spark).collect())["a"] == before["a"] + 100


def test_empty_delta_records_epoch(tmp_path, spark):
    sink = _mk_sink(tmp_path, spark, [("a", 1)])
    empty = spark.createDataFrame([], "k string, cnt long")
    sink.apply_delta(empty, epoch_id=7)
    assert sink.applied(7)
    # state unchanged
    assert dict(sink.read(spark).collect()) == {"a": 1}


def test_replace_preserves_epoch_history(tmp_path, spark):
    sink = _mk_sink(tmp_path, spark, [("a", 1), ("b", 2)])
    full = spark.createDataFrame([("a", 10)], ["k", "cnt"])
    sink.replace(full)
    assert dict(sink.read(spark).collect()) == {"a": 10}
    assert sink.applied(0)  # epoch history survived the swap
    # retried epoch after replace is still a no-op
    sink.apply_delta(spark.createDataFrame([("a", 99)], ["k", "cnt"]), epoch_id=0)
    assert dict(sink.read(spark).collect()) == {"a": 10}


def test_null_keys_fold(tmp_path, spark):
    sink = SummingParquetSink(
        str(tmp_path / "tbl"), keys=["k"], measures=["cnt"], n_buckets=4
    )
    df = spark.createDataFrame([(None, 1), (None, 2), ("x", 3)], "k string, cnt long")
    sink.apply_delta(df, epoch_id=0)
    sink.apply_delta(
        spark.createDataFrame([(None, 10)], "k string, cnt long"), epoch_id=1
    )
    rows = {r["k"]: r["cnt"] for r in sink.read(spark).collect()}
    assert rows[None] == 13 and rows["x"] == 3


def test_streaming_pipeline_with_custom_sum_sink(tmp_path, spark):
    """End to end: a custom 'elapsed per client and domain' aggregate
    with a summed measure rides the pipeline's fan-out; after two
    micro-batch rounds the sink equals a one-shot batch answer."""
    import json as _json

    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
    from adguard2clickhouse_spark.operators.parse import parse_querylog
    from adguard2clickhouse_spark.sinks.summing import SummingParquetSink
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    def line(i):
        return _json.dumps({
            "T": f"2024-01-01T00:00:{i % 60:02d}+00:00",
            "QH": f"d{i % 3}.example.com", "QT": "A", "QC": "IN", "CP": "",
            "Upstream": "u", "IP": f"10.5.0.{i % 7}",
            "Result": {}, "Elapsed": i, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        })

    def client_elapsed(log2):
        return log2.groupBy("QH", "IP").agg(F.sum("Elapsed").alias("elapsed"))

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.aggregates["client_elapsed"] = client_elapsed
    pipe.sinks["client_elapsed"] = SummingParquetSink(
        str(out / "client_elapsed"), keys=["QH", "IP"], measures=["elapsed"],
    )
    batches = [[line(i) for i in range(25)], [line(i) for i in range(25, 60)]]
    for i, lines in enumerate(batches):
        (src / f"log-{i}.jsonl").write_text("\n".join(lines) + "\n")
        pipe.run_available()
    # the custom sink folds on executors; the stock eight stay on the
    # driver path
    assert [bt["delta_path"] for bt in pipe.batch_timings
            if "delta_path" in bt] == ["driver", "driver"]

    got = {tuple(r) for r in pipe.read_aggregate("client_elapsed")
           .select("QH", "IP", "elapsed").collect()}
    raw = spark.createDataFrame([(l,) for b in batches for l in b], ["value"])
    good, _ = parse_querylog(raw)
    want = {tuple(r) for r in client_elapsed(good).collect()}
    assert len(want) == 21 and got == want


def test_hot_key_epoch_leaves_untouched_buckets_byte_identical(tmp_path, spark):
    """The property the auto gate exists to protect: a single-key delta
    folded sparsely rewrites only that key's bucket — every other
    bucket's files stay byte-identical."""
    sink = SummingParquetSink(
        str(tmp_path / "s"), keys=["k"], measures=["cnt"], n_buckets=8
    )
    base = spark.createDataFrame(
        [(f"key{i}", 1) for i in range(256)], ["k", "cnt"]
    )
    sink.apply_delta(base, epoch_id=0)

    def bucket_files():
        out = {}
        for p in sorted(Path(sink.path).rglob("*.parquet")):
            out[str(p)] = hashlib.sha256(p.read_bytes()).hexdigest()
        return out

    before = bucket_files()
    hot = spark.createDataFrame([("key1", 50)], ["k", "cnt"])
    sink.apply_delta(hot, epoch_id=1)  # sparse: default
    after = bucket_files()
    # untouched buckets: same files, same bytes (new files appear only
    # under the one rewritten bucket's next version dir)
    surviving = {p: h for p, h in before.items() if p in after}
    assert surviving == {p: h for p, h in after.items() if p in before}
    changed_dirs = {
        str(Path(p).parent) for p in set(after) - set(before)
    }
    assert len(changed_dirs) == 1, changed_dirs


# ---------------------------------------------------------------------------
# Driver-side (Arrow) folds
# ---------------------------------------------------------------------------

def _log2_rows(start: int, n: int) -> list[tuple]:
    """log2 rows spanning several 10-minute buckets, with NULL QH,
    Upstream and rcode keys and tld-excluded hosts mixed in."""
    import datetime as dt

    hosts = ["ads.example.com", "good.example.org", "localhost", "1.2.3.4", None]
    ups = ["8.8.8.8:53", "1.1.1.1:53", "", None]
    base = dt.datetime(2024, 1, 1)
    return [
        (base + dt.timedelta(seconds=97 * i), hosts[i % 5], ("A", "AAAA")[i % 2],
         "IN", "", ups[i % 4], f"10.0.0.{i % 6}", i % 3 == 0, 100 + i, False,
         (0, 3, None)[i % 3], [], [], [])
        for i in range(start, start + n)
    ]


def _sink_state(sink, spark, cols):
    return sorted(
        (tuple(r) for r in sink.read(spark).select(*cols).collect()), key=repr
    )


def _assert_state_is_aggregate(spark, sinks, seen, label):
    """Every sink equals ``ALL_AGGREGATES`` over all rows so far, with
    the same Spark types (stats2.date_time a UTC timestamp, measures
    bigint)."""
    from adguard2clickhouse_spark.operators.aggregates import ALL_AGGREGATES
    from adguard2clickhouse_spark.schemas import LOG2_SCHEMA

    everything = spark.createDataFrame(seen, LOG2_SCHEMA)
    for name, sink in sinks.items():
        want = ALL_AGGREGATES[name](everything)
        got = sink.read(spark).select(*want.columns)
        assert [f.dataType for f in got.schema] == [
            f.dataType for f in want.schema
        ], name
        assert _sink_state(sink, spark, want.columns) == sorted(
            (tuple(r) for r in want.collect()), key=repr
        ), f"{name} diverged after {label}"


def test_driver_and_spark_folds_alternate_on_one_sink(tmp_path, spark):
    """The fold kernel's two runners alternate on the same eight sinks:
    the driver runner (a bucket-tagged Arrow delta) and the executor
    runner (a DataFrame delta: the stock aggregate, or an extract of
    the untagged fused frame) each read bucket files the other wrote,
    and the state always equals the aggregate over every row so far.
    NULL keys land in one bucket on both runners."""
    from adguard2clickhouse_spark.operators.aggregates import (
        ALL_AGGREGATES,
        fused_aggregate_deltas,
        fused_arrow_deltas,
    )
    from adguard2clickhouse_spark.schemas import LOG2_SCHEMA
    from adguard2clickhouse_spark.streaming.pipeline import aggregate_sinks

    sinks = aggregate_sinks(str(tmp_path / "out"))
    # arrow, executors, arrow, executors over the fused extracts, then a
    # 1-row arrow fold that rewrites one bucket
    epochs = [("arrow", 0, 40), ("spark", 40, 30), ("arrow", 70, 25),
              ("fused", 95, 35), ("arrow", 131, 1)]
    seen = []
    for epoch_id, (how, start, n) in enumerate(epochs):
        rows = _log2_rows(start, n)
        seen += rows
        log2 = spark.createDataFrame(rows, LOG2_SCHEMA)
        arrow = fused_arrow_deltas(log2, 8)[1] if how == "arrow" else None
        fused, extract = fused_aggregate_deltas(log2)
        for name, sink in sinks.items():
            if arrow is not None:
                sink.apply_delta(arrow[name], epoch_id)
            elif how == "fused":
                sink.apply_delta(extract[name](fused), epoch_id)
            else:
                sink.apply_delta(ALL_AGGREGATES[name](log2), epoch_id)
        _assert_state_is_aggregate(spark, sinks, seen, f"{how} epoch {epoch_id}")

    # one writer: every bucket version holds the kernel's one file
    for sink in sinks.values():
        for d in Path(sink.path).glob("b*/v*"):
            assert [p.name for p in d.glob("*.parquet")] == [
                "part-00000.parquet"
            ], d


def _seed_spark_written(spark, sink, frame, epoch_id):
    """Commit ``frame`` into ``sink`` as bucket files laid out by a
    Spark ``partitionBy`` write (the sink's layout before the fold
    kernel): several ``part-*`` files per bucket and INT96 timestamps."""
    from adguard2clickhouse_spark.sinks.summing import BUCKET_COL, bucket_id

    meta = sink.ledger.read()
    stage = sink._stage_dir(meta)
    tagged = frame.withColumn(
        BUCKET_COL, bucket_id([F.col(k) for k in sink.keys], sink.n_buckets)
    )
    touched = sorted(r[0] for r in tagged.select(BUCKET_COL).distinct().collect())
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        tagged.repartition(3).write.partitionBy(BUCKET_COL).parquet(stage)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    sink._publish(stage, touched, meta, epoch_id, None)


@pytest.mark.parametrize("runner", ["driver", "executors"])
def test_fold_upgrades_spark_written_buckets(tmp_path, spark, runner):
    """Sinks whose bucket files were written by a Spark ``partitionBy``
    write (several ``part-*`` files per bucket, INT96
    ``stats2.date_time``) take a fold through either runner of the
    kernel, and read back as the aggregate over all rows with the same
    Spark types."""
    import pyarrow.parquet as pq

    from adguard2clickhouse_spark.operators.aggregates import (
        ALL_AGGREGATES,
        fused_arrow_deltas,
    )
    from adguard2clickhouse_spark.schemas import LOG2_SCHEMA
    from adguard2clickhouse_spark.streaming.pipeline import aggregate_sinks

    sinks = aggregate_sinks(str(tmp_path / "out"))
    seed = _log2_rows(0, 60)
    log2 = spark.createDataFrame(seed, LOG2_SCHEMA)
    for name, sink in sinks.items():
        _seed_spark_written(spark, sink, ALL_AGGREGATES[name](log2), 0)
    stats2 = [p for p in Path(sinks["stats2"].path).rglob("part-*.parquet")]
    assert len(stats2) > len(sinks["stats2"].ledger.read()["buckets"])
    footer = pq.ParquetFile(stats2[0]).schema
    assert footer.column(footer.names.index("date_time")).physical_type == "INT96"

    rows = _log2_rows(60, 30)
    delta = spark.createDataFrame(rows, LOG2_SCHEMA)
    arrow = fused_arrow_deltas(delta, 8)[1] if runner == "driver" else None
    for name, sink in sinks.items():
        sink.apply_delta(
            arrow[name] if arrow is not None else ALL_AGGREGATES[name](delta), 1
        )
    _assert_state_is_aggregate(spark, sinks, seed + rows, runner)


def _arrow_delta(spark, sink, rows):
    """A bucket-tagged Arrow delta for a (k, cnt) sink, tagged in Spark."""
    from adguard2clickhouse_spark.sinks.summing import BUCKET_COL, bucket_id

    df = spark.createDataFrame(rows, "k string, cnt bigint")
    return df.withColumn(
        BUCKET_COL, bucket_id([F.col("k")], sink.n_buckets)
    ).toArrow()


def test_driver_fold_retry_is_noop(tmp_path, spark):
    sink = SummingParquetSink(str(tmp_path / "t"), keys=["k"], measures=["cnt"])
    sink.apply_delta(_arrow_delta(spark, sink, [(f"k{i}", 1) for i in range(40)]), 0)
    delta = _arrow_delta(spark, sink, [("k1", 5), ("new", 2)])
    sink.apply_delta(delta, 1)
    before = _data_file_digests(sink.path)
    pointer = sink.ledger.read()
    sink.apply_delta(delta, 1)  # retry of the applied epoch
    assert _data_file_digests(sink.path) == before
    assert sink.ledger.read() == pointer
    got = dict(sink.read(spark).collect())
    assert got["k1"] == 6 and got["new"] == 2 and got["k2"] == 1


def test_driver_fold_crash_before_swap_keeps_previous_version(
    tmp_path, spark, monkeypatch
):
    """A driver-side fold that dies after staging and moving its bucket
    versions but before the pointer swap leaves the previous version
    readable; the retried epoch then folds exactly once, and its
    commit garbage-collects the crashed fold's stage directory."""
    sink = SummingParquetSink(str(tmp_path / "t"), keys=["k"], measures=["cnt"])
    sink.apply_delta(_arrow_delta(spark, sink, [(f"k{i}", 1) for i in range(40)]), 0)
    before = sorted(sink.read(spark).collect())
    delta = _arrow_delta(spark, sink, [(f"k{i}", 10) for i in range(0, 40, 3)])

    def crash(meta):
        raise RuntimeError("injected crash before the pointer swap")

    monkeypatch.setattr(sink.ledger, "write", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_delta(delta, 1)
    monkeypatch.undo()
    assert sorted(sink.read(spark).collect()) == before
    assert not sink.applied(1)

    sink.apply_delta(delta, 1)  # the retry
    got = dict(sink.read(spark).collect())
    assert got == {f"k{i}": 11 if i % 3 == 0 else 1 for i in range(40)}
    assert not [n for n in os.listdir(sink.path) if n.startswith(".stage.")]


def test_read_planned_before_a_fold_survives_it(tmp_path, spark, monkeypatch):
    """A read planned before a fold still collects after it (the
    ``pipe.sql()`` dashboard read against a running stream): the fold
    retires the bucket versions it supersedes instead of deleting them,
    and a commit after the retention window deletes them."""
    sink = SummingParquetSink(str(tmp_path / "t"), keys=["k"], measures=["cnt"])
    seed = [(f"k{i}", 1) for i in range(40)]
    sink.apply_delta(_arrow_delta(spark, sink, seed), 0)
    reader = sink.read(spark)  # lists the files of the current versions
    sink.apply_delta(_arrow_delta(spark, sink, seed), 1)
    assert sorted(reader.collect()) == sorted(seed)

    from adguard2clickhouse_spark.sinks import ledger

    retired = [t["dir"] for t in sink.ledger.read()["trash"]]
    assert retired
    assert all(os.path.isdir(os.path.join(sink.path, d)) for d in retired)
    monkeypatch.setattr(ledger, "RETENTION_S", 0.0)
    sink.apply_delta(_arrow_delta(spark, sink, [("k0", 1)]), 2)
    assert not any(os.path.exists(os.path.join(sink.path, d)) for d in retired)
    assert dict(sink.read(spark).collect())["k0"] == 3


def test_driver_fold_above_byte_bound_folds_in_spark(tmp_path, spark, monkeypatch):
    """Touched state above _DRIVER_FOLD_MAX_BYTES is not read onto the
    driver: the Arrow delta becomes a DataFrame and takes the executor
    runner, still only over the buckets the delta touches."""
    from adguard2clickhouse_spark.sinks import summing

    sink = SummingParquetSink(str(tmp_path / "t"), keys=["k"], measures=["cnt"])
    sink.apply_delta(_arrow_delta(spark, sink, [(f"k{i}", 1) for i in range(40)]), 0)
    monkeypatch.setattr(summing, "_DRIVER_FOLD_MAX_BYTES", 1)
    executor_folds = []
    real = sink._fold_on_executors
    monkeypatch.setattr(
        sink, "_fold_on_executors",
        lambda *a: executor_folds.append(real(*a)) or executor_folds[-1],
    )
    before = _data_file_digests(sink.path)
    delta = _arrow_delta(spark, sink, [("k1", 5)])
    sink.apply_delta(delta, 1)
    touched = sorted(set(delta[summing.BUCKET_COL].to_pylist()))
    assert executor_folds == [touched]
    after = _data_file_digests(sink.path)
    untouched = {
        rel: h for rel, h in before.items()
        if not rel.startswith(f"b{touched[0]:04d}")
    }
    assert all(after.get(rel) == h for rel, h in untouched.items())
    got = dict(sink.read(spark).collect())
    assert got == {f"k{i}": 6 if i == 1 else 1 for i in range(40)}
