"""The executable contract of ``LedgeredFactSink``, the fact and
dead-letter sink behind ``QuerylogPipeline``.

The assertions ARE the ledger semantics documented in
``adguard2clickhouse_spark/sinks/facts.py``: exactly-once epoch
retries, bounded token idempotency, ledger-surviving replace, swap-
only generation bumps, content-preserving compaction, and the stream-
identity scoping rules.
"""

from __future__ import annotations

import pytest

from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink


# One param, so every test keeps its ``[ledgered]`` id.
@pytest.fixture(params=["ledgered"])
def make_sink(tmp_path):
    counter = {"n": 0}

    def _make(**kw):
        counter["n"] += 1
        return LedgeredFactSink(str(tmp_path / f"t{counter['n']}"), **kw)

    return _make


def _df(spark, ids):
    return spark.createDataFrame([(i, f"d{i}") for i in ids], "id LONG, s STRING")


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_contract_append_read_roundtrip(make_sink, spark):
    sink = make_sink()
    assert sink.read(spark) is None
    assert not sink.has_data()
    assert sink.append(_df(spark, [1, 2]), epoch_id=0) is True
    assert sink.append(_df(spark, [3]), epoch_id=1) is True
    assert sink.has_data()
    assert _ids(sink.read(spark)) == [1, 2, 3]


def test_contract_epoch_retry_noops(make_sink, spark):
    sink = make_sink()
    assert sink.append(_df(spark, [1]), epoch_id=0) is True
    assert sink.append(_df(spark, [2]), epoch_id=1) is True
    # the exactly-once core: a replayed epoch must not double rows
    assert sink.append(_df(spark, [2]), epoch_id=1) is False
    assert sink.append(_df(spark, [1]), epoch_id=0) is False  # below hwm
    assert _ids(sink.read(spark)) == [1, 2]
    assert sink.applied(0) and sink.applied(1) and not sink.applied(2)


def test_contract_token_idempotency(make_sink, spark):
    sink = make_sink()
    assert sink.append(_df(spark, [1]), token="tok-a") is True
    assert sink.append(_df(spark, [1]), token="tok-a") is False
    assert _ids(sink.read(spark)) == [1]
    assert sink.applied_token("tok-a") and not sink.applied_token("tok-b")


def test_contract_empty_epoch_records_id(make_sink, spark):
    sink = make_sink()
    empty = _df(spark, []).filter("id > 0")
    assert sink.append(empty, epoch_id=7) is True
    assert sink.applied(7)
    assert sink.read(spark) is None  # no data object published
    # the id protects the retry even though nothing was written
    assert sink.append(_df(spark, [9]), epoch_id=7) is False


def test_contract_replace_swaps_content_keeps_ledgers(make_sink, spark):
    sink = make_sink()
    sink.append(_df(spark, [1, 2]), epoch_id=0, token="t0")
    sink.replace(_df(spark, [5]))
    assert _ids(sink.read(spark)) == [5]
    # ledgers SURVIVE the swap: a retried epoch/token still no-ops
    assert sink.append(_df(spark, [1]), epoch_id=0) is False
    assert sink.append(_df(spark, [1]), token="t0") is False


def test_contract_generation_bumps_only_on_swap(make_sink, spark):
    sink = make_sink()
    assert sink.generation() == 0
    sink.append(_df(spark, [1]), epoch_id=0)
    sink.append(_df(spark, [2]), epoch_id=1)
    assert sink.generation() == 0
    sink.compact(spark)
    assert sink.generation() == 0
    sink.replace(_df(spark, [1]))
    assert sink.generation() == 0
    sink.replace(_df(spark, [1]), bump_generation=True)
    assert sink.generation() == 1


def test_contract_compact_preserves_content_and_ledgers(make_sink, spark):
    sink = make_sink()
    for e in range(6):
        sink.append(_df(spark, [e]), epoch_id=e)
    before = _ids(sink.read(spark))
    folded = sink.compact(spark, max_fold_slots=3)
    assert isinstance(folded, int) and folded >= 0
    assert _ids(sink.read(spark)) == before
    assert sink.applied(5)
    assert sink.append(_df(spark, [0]), epoch_id=5) is False
    # repeated incremental steps converge to a no-op
    for _ in range(20):
        if sink.compact(spark, max_fold_slots=3) == 0:
            break
    assert sink.compact(spark, max_fold_slots=3) == 0
    assert _ids(sink.read(spark)) == before
    with pytest.raises(ValueError):
        sink.compact(spark, max_fold_slots=1)


def test_contract_stream_identity_scoping(make_sink, spark):
    # identity change voids the epoch ledger (ids restarted)
    sink = make_sink(stream_id="q-one")
    sink.append(_df(spark, [1]), epoch_id=0)
    sink.append(_df(spark, [2]), epoch_id=1)
    sink.stream_id = "q-two"
    assert not sink.applied(0)
    assert sink.append(_df(spark, [3]), epoch_id=0) is True
    assert _ids(sink.read(spark)) == [1, 2, 3]
    # unscoped -> scoped transition grandfathers existing epochs
    sink2 = make_sink()  # no identity
    sink2.append(_df(spark, [1]), epoch_id=5)
    sink2.stream_id = "q-one"
    assert sink2.applied(5)
    assert sink2.append(_df(spark, [1]), epoch_id=5) is False


def test_contract_merge_schema_read_spans_evolution(make_sink, spark):
    """merge_schema=True must return the UNION schema across commits
    (schema evolution), with NULLs where an epoch predates a column."""
    sink = make_sink()
    sink.append(_df(spark, [1]), epoch_id=0)
    evolved = spark.createDataFrame([(2, "d2", 7)], "id LONG, s STRING, extra LONG")
    sink.append(evolved, epoch_id=1)
    got = sink.read(spark, merge_schema=True)
    assert set(got.columns) == {"id", "s", "extra"}
    rows = {(r.id, r.extra) for r in got.collect()}
    assert rows == {(1, None), (2, 7)}
