"""The executable contract of the commit ledger behind every sink of
``QuerylogPipeline``, and of the fact sink's own rules.

The ledger assertions ARE the semantics documented in
``adguard2clickhouse_spark/sinks/ledger.py``: exactly-once epoch
retries, bounded token idempotency, empty writes that record their id,
ledger-surviving replace, and the stream-identity scoping rules. They
run against both sinks: ``[ledgered]`` is ``LedgeredFactSink`` (facts
and dead letters), ``[summing]`` is ``SummingParquetSink`` (the
aggregates). Swap-only generation bumps, content-preserving compaction
and schema-merging reads are the fact sink's own and run on it alone.
"""

from __future__ import annotations

import itertools
import json
import os

import pytest

from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink
from adguard2clickhouse_spark.sinks.summing import SummingParquetSink

_SINKS = {
    "ledgered": LedgeredFactSink,
    "summing": lambda path: SummingParquetSink(path, keys=["id"], measures=["n"]),
}


def _maker(tmp_path, kind):
    counter = itertools.count(1)

    def _make(stream_id=None):
        sink = _SINKS[kind](str(tmp_path / f"t{next(counter)}"))
        sink.stream_id = stream_id
        return sink

    return _make


@pytest.fixture(params=sorted(_SINKS))
def make_sink(tmp_path, request):
    return _maker(tmp_path, request.param)


# One param, so every fact-only test keeps its ``[ledgered]`` id.
@pytest.fixture(params=["ledgered"])
def make_fact_sink(tmp_path, request):
    return _maker(tmp_path, request.param)


def _frame(spark, sink, ids):
    """Rows of ``ids`` in the sink's shape: one fact row per id, or one
    summing row per id with measure ``n`` = 1."""
    if isinstance(sink, SummingParquetSink):
        return spark.createDataFrame([(i, 1) for i in ids], "id LONG, n LONG")
    return spark.createDataFrame([(i, f"d{i}") for i in ids], "id LONG, s STRING")


def _write(sink, df, **kw):
    """Commit ``df``; True when this call committed it."""
    if isinstance(sink, SummingParquetSink):
        return sink.apply_delta(df, **kw)
    return sink.append(df, **kw)


def _put(spark, sink, ids, **kw):
    return _write(sink, _frame(spark, sink, ids), **kw)


def _ids(spark, sink):
    """The multiset of ids the sink holds, sorted."""
    df = sink.read(spark)
    if df is None:
        return []
    if isinstance(sink, SummingParquetSink):
        return sorted(r.id for r in df.collect() for _ in range(r.n))
    return sorted(r.id for r in df.collect())


def test_contract_append_read_roundtrip(make_fact_sink, spark):
    sink = make_fact_sink()
    assert sink.read(spark) is None
    assert not sink.has_data()
    assert _put(spark, sink, [1, 2], epoch_id=0) is True
    assert _put(spark, sink, [3], epoch_id=1) is True
    assert sink.has_data()
    assert _ids(spark, sink) == [1, 2, 3]


def test_contract_epoch_retry_noops(make_sink, spark):
    sink = make_sink()
    assert _put(spark, sink, [1], epoch_id=0) is True
    assert _put(spark, sink, [2], epoch_id=1) is True
    # the exactly-once core: a replayed epoch must not double rows
    assert _put(spark, sink, [2], epoch_id=1) is False
    assert _put(spark, sink, [1], epoch_id=0) is False  # below hwm
    assert _ids(spark, sink) == [1, 2]
    assert sink.applied(0) and sink.applied(1) and not sink.applied(2)


def test_contract_token_idempotency(make_sink, spark):
    sink = make_sink()
    assert _put(spark, sink, [1], token="tok-a") is True
    assert _put(spark, sink, [1], token="tok-a") is False
    assert _ids(spark, sink) == [1]
    assert sink.applied_token("tok-a") and not sink.applied_token("tok-b")


def test_contract_empty_epoch_records_id(make_sink, spark):
    sink = make_sink()
    empty = _frame(spark, sink, []).filter("id > 0")
    assert _write(sink, empty, epoch_id=7) is True
    assert sink.applied(7)
    assert sink.read(spark) is None  # no data object published
    # the id protects the retry even though nothing was written
    assert _put(spark, sink, [9], epoch_id=7) is False


def test_contract_replace_swaps_content_keeps_ledgers(make_sink, spark):
    sink = make_sink()
    _put(spark, sink, [1, 2], epoch_id=0, token="t0")
    sink.replace(_frame(spark, sink, [5]))
    assert _ids(spark, sink) == [5]
    # ledgers SURVIVE the swap: a retried epoch/token still no-ops
    assert _put(spark, sink, [1], epoch_id=0) is False
    assert _put(spark, sink, [1], token="t0") is False


def test_contract_generation_bumps_only_on_swap(make_fact_sink, spark):
    sink = make_fact_sink()
    assert sink.generation() == 0
    _put(spark, sink, [1], epoch_id=0)
    _put(spark, sink, [2], epoch_id=1)
    assert sink.generation() == 0
    sink.compact(spark)
    assert sink.generation() == 0
    sink.replace(_frame(spark, sink, [1]))
    assert sink.generation() == 0
    sink.replace(_frame(spark, sink, [1]), bump_generation=True)
    assert sink.generation() == 1


def test_contract_compact_preserves_content_and_ledgers(make_fact_sink, spark):
    sink = make_fact_sink()
    for e in range(6):
        _put(spark, sink, [e], epoch_id=e)
    before = _ids(spark, sink)
    folded = sink.compact(spark, max_fold_slots=3)
    assert isinstance(folded, int) and folded >= 0
    assert _ids(spark, sink) == before
    assert sink.applied(5)
    assert _put(spark, sink, [0], epoch_id=5) is False
    # repeated incremental steps converge to a no-op
    for _ in range(20):
        if sink.compact(spark, max_fold_slots=3) == 0:
            break
    assert sink.compact(spark, max_fold_slots=3) == 0
    assert _ids(spark, sink) == before
    with pytest.raises(ValueError):
        sink.compact(spark, max_fold_slots=1)


def test_contract_stream_identity_scoping(make_sink, spark):
    # identity change voids the epoch ledger (ids restarted)
    sink = make_sink(stream_id="q-one")
    _put(spark, sink, [1], epoch_id=0)
    _put(spark, sink, [2], epoch_id=1)
    sink.stream_id = "q-two"
    assert not sink.applied(0)
    assert _put(spark, sink, [3], epoch_id=0) is True
    assert _ids(spark, sink) == [1, 2, 3]
    # unscoped -> scoped transition grandfathers existing epochs
    sink2 = make_sink()  # no identity
    _put(spark, sink2, [1], epoch_id=5)
    sink2.stream_id = "q-one"
    assert sink2.applied(5)
    assert _put(spark, sink2, [1], epoch_id=5) is False


def test_contract_merge_schema_read_spans_evolution(make_fact_sink, spark):
    """merge_schema=True must return the UNION schema across commits
    (schema evolution), with NULLs where an epoch predates a column."""
    sink = make_fact_sink()
    _put(spark, sink, [1], epoch_id=0)
    evolved = spark.createDataFrame([(2, "d2", 7)], "id LONG, s STRING, extra LONG")
    sink.append(evolved, epoch_id=1)
    got = sink.read(spark, merge_schema=True)
    assert set(got.columns) == {"id", "s", "extra"}
    rows = {(r.id, r.extra) for r in got.collect()}
    assert rows == {(1, None), (2, 7)}


def test_contract_reads_a_summing_pointer_from_before_the_shared_ledger(
    tmp_path, spark
):
    """A ``CURRENT.json`` written before the summing sink committed
    through the shared ledger records no stream identity and keeps its
    tokens under ``replay_tokens``. Opening it keeps its epochs,
    high-water mark and tokens; the next commit scopes it and stores
    the tokens under the ledger's own key."""
    sink = _maker(tmp_path, "summing")()
    _put(spark, sink, [1, 2], epoch_id=0)
    buckets = sink.ledger.read()["buckets"]
    with open(os.path.join(sink.path, "CURRENT.json"), "w") as f:
        json.dump(
            {
                "version": 1,
                "buckets": buckets,
                "epochs": [3, 4],
                "epoch_hwm": 4,
                "replay_tokens": ["replay-0123"],
            },
            f,
        )
    sink.stream_id = "q-one"
    assert sink.applied(2) and sink.applied(4) and not sink.applied(5)
    assert sink.applied_token("replay-0123")
    assert _put(spark, sink, [1], epoch_id=4) is False
    assert _put(spark, sink, [1], token="replay-0123") is False
    assert _put(spark, sink, [3], epoch_id=5) is True
    assert _ids(spark, sink) == [1, 2, 3]
    meta = sink.ledger.read()
    assert "replay_tokens" not in meta
    assert (meta["stream_id"], meta["epoch_hwm"], meta["tokens"]) == (
        "q-one", 5, ["replay-0123"]
    )
