"""Additive "summing" sink — the SummingMergeTree contract natively.

In the reference, every insert block triggers the MVs to emit delta
rows into SummingMergeTree tables, and background merges fold rows
with equal ORDER BY keys by summing the numeric columns
(/root/reference/README.md:25-41 et al., SURVEY.md §2.8 C1/C2). This
sink is that contract on Parquet:

    apply_delta(delta_df, epoch_id):  state' = (state ∪ delta) ⊕ keys

with ⊕ = groupBy(keys).sum(measures). Correct because every reference
aggregate is a sum/count (order-insensitive, associative) — verified
by tests/test_aggregates.py::test_additivity_invariant.

**Bucketed state (scale).** State lives in ``n_buckets`` hash buckets
(``pmod(xxhash64(keys), n)``), each its own versioned parquet
directory. A micro-batch merge reads and rewrites ONLY the buckets its
delta touches; the other buckets' files are not opened, not rewritten,
byte-identical afterwards. With a high-cardinality key (per-client
per-10-min ``stats2`` over years) that turns the per-epoch cost from
O(total state) into O(state touched by the batch) — the same reason
ClickHouse folds per-part instead of rewriting the table. Bucket
count is fixed at table creation (like a Kafka partition count or
ClickHouse's bucket-by-key sharding): re-bucketing = ``replace()``
with a new sink.

**Exactly-once.** The table commits through the same ``Ledger`` as
``LedgeredFactSink`` (``sinks/ledger.py`` states its semantics): the
pointer ``CURRENT.json`` names the current version of every bucket
beside the epoch and token ledgers, a retried epoch or token is a
no-op, and merged bucket versions become live only at the single
pointer swap. Superseded bucket versions are retired, not deleted, so
a read planned before a fold still finds its files.

**One fold kernel.** Every bucket file is written by ``_fold_bucket``:
read the bucket's current files with pyarrow, concatenate its delta
rows, ``group_by(keys).sum``, cast to the sink's schema and write one
``part-00000.parquet`` through a tmp file and a rename (a retried task
overwrites cleanly). Staging, the pointer swap and the exactly-once
ledger are the same for both of the kernel's runners:

- **Driver.** ``apply_delta`` also accepts a pyarrow Table whose rows
  already carry their bucket id (the pipeline's driver path collects
  all eight deltas, bucket-tagged, in one Spark job; see
  ``operators.aggregates.fused_arrow_deltas``). Its touched buckets are
  the ids it carries, and the kernel runs in-process per touched
  bucket — no Spark job at all — while their files hold at most
  ``_DRIVER_FOLD_MAX_BYTES`` on disk.
- **Executors.** A DataFrame delta (an epoch above the driver ceiling,
  a custom aggregate, ``replace()``) and an Arrow delta whose touched
  state exceeds that bound are tagged with their bucket and folded by
  ``groupBy(BUCKET_COL).applyInArrow``: one group per touched bucket,
  each reading only its own bucket's current files (their paths ship
  in the closure from the pointer). The collected group ids are the
  touched set, so no fold needs it in advance. Memory bound: one group
  holds one bucket's state plus its delta in one Python worker, where
  a Spark aggregate could spill. Every epoch that touches a bucket
  already rewrites all of it, so this bound is no larger than the
  per-bucket rewrite each fold does anyway; more buckets lower it.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from adguard2clickhouse_spark.sinks.ledger import Ledger

BUCKET_COL = "_sps_bucket"
# On-disk bytes of the touched buckets above which an Arrow delta folds
# on executors rather than on the driver: the scan layer's file-size
# target (spark.sql.files.maxPartitionBytes, the pipeline's
# _COMPACT_SMALL_BYTES).
_DRIVER_FOLD_MAX_BYTES = 128 << 20


def bucket_id(cols: list[Column], n_buckets: int) -> Column:
    """A key's bucket: ``pmod(xxhash64(keys), n)``. xxhash64 treats NULL
    keys deterministically; pmod keeps the id in [0, n). Every path that
    tags rows (this sink's executor folds and the fused driver-side
    deltas) uses this one expression, so a key always lands in the same
    bucket."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets))


def _fold_bucket(
    files: list[str],
    delta: pa.Table,
    keys: list[str],
    measures: list[str],
    out_dir: str,
) -> None:
    """The fold kernel: (a bucket's current ``files`` ∪ its ``delta``
    rows) ⊕ keys, written as ``out_dir/part-00000.parquet``. Files are
    written keys-then-measures in the delta's Arrow types; the tmp file
    and rename let a retried task overwrite a half-written attempt."""
    schema = pa.schema([delta.schema.field(c) for c in keys + measures])
    parts = [
        # Bucket files written by Spark store timestamps as INT96; read
        # them as microseconds, the unit Spark hands Arrow.
        pq.read_table(f, coerce_int96_timestamp_unit="us")
        .select(schema.names)
        .cast(schema)
        for f in files
    ]
    parts.append(delta.select(schema.names))
    folded = pa.concat_tables(parts).group_by(keys).aggregate(
        [(m, "sum") for m in measures]
    )
    out = pa.Table.from_arrays(
        [folded[k] for k in keys] + [folded[f"{m}_sum"] for m in measures],
        names=schema.names,
    ).cast(schema)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f".part-{uuid.uuid4().hex}.tmp")
    pq.write_table(out, tmp)
    os.replace(tmp, os.path.join(out_dir, "part-00000.parquet"))


class SummingParquetSink:
    def __init__(
        self,
        path: str,
        keys: list[str],
        measures: list[str],
        n_buckets: int = 8,
    ):
        self.path = path
        self.keys = keys
        self.measures = measures
        self.n_buckets = n_buckets
        # Scopes the epoch ledger (see ledger.py); the pipeline assigns
        # the query id from the checkpoint metadata.
        self.stream_id: str | None = None
        self.ledger = Ledger(path, "CURRENT.json", version=0, buckets={})
        os.makedirs(path, exist_ok=True)

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.path, self._slot(bucket, version))

    @staticmethod
    def _slot(bucket: int, version: int) -> str:
        return os.path.join(f"b{bucket:04d}", f"v{version:08d}")

    # -- public API ----------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame | None:
        meta = self.ledger.read()
        if not meta["buckets"]:
            return None
        paths = [
            self._bucket_dir(int(b), v) for b, v in sorted(meta["buckets"].items())
        ]
        return spark.read.parquet(*paths)

    def applied(self, epoch_id: int) -> bool:
        return self.ledger.recorded(self.ledger.read(self.stream_id), epoch_id)

    def applied_token(self, token: str) -> bool:
        """Out-of-band (non-stream) fold idempotency: replay and other
        maintenance folds identify by an opaque token in the ledger's
        token window, never by an epoch id."""
        return self.ledger.recorded(self.ledger.read(), token=token)

    def _stage_dir(self, meta: dict) -> str:
        return os.path.join(
            self.path, f".stage.v{meta['version'] + 1:08d}.{uuid.uuid4().hex}"
        )

    def _publish(
        self,
        stage: str,
        touched: list[int],
        meta: dict,
        epoch_id: int | None,
        token: str | None,
    ) -> None:
        """Move each staged ``_sps_bucket=K`` directory into bucket K's
        next version slot, then make them live with ONE ledger commit
        (shared by both runners of the fold kernel)."""
        new_version = meta["version"] + 1
        buckets = dict(meta["buckets"])
        retired = []
        for b in touched:
            src = os.path.join(stage, f"{BUCKET_COL}={b}")
            dst = self._bucket_dir(b, new_version)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(src):
                # replace() staged no rows for this bucket: drop it.
                if str(b) in buckets:
                    retired.append(self._slot(b, buckets.pop(str(b))))
                continue
            # A slot above the pointer's version was left by a fold that
            # crashed before its swap: no reader can see it, and rename
            # cannot replace a non-empty directory.
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(src, dst)
            prev = buckets.get(str(b))
            if prev is not None:
                retired.append(self._slot(b, prev))
            buckets[str(b)] = new_version

        self.ledger.commit(
            {**meta, "version": new_version, "buckets": buckets},
            epoch_id,
            token,
            retire=retired,
        )
        shutil.rmtree(stage, ignore_errors=True)

    def replace(self, full: DataFrame) -> None:
        """Swap in a wholesale recomputation (backfill/repair): fold
        ``full`` over an empty base on executors, publish every bucket
        as the next version (a bucket ``full`` does not reach is
        dropped) and point at it atomically. The applied-epoch history
        is preserved so a concurrent stream's retried epoch is still
        recognized as folded-in."""
        with self.ledger.locked():
            self.ledger.gc()
            meta = self.ledger.read()
            stage = self._stage_dir(meta)
            self._fold_on_executors(full, {}, stage)
            self._publish(stage, list(range(self.n_buckets)), meta, None, None)

    def apply_delta(
        self,
        delta: DataFrame | pa.Table,
        epoch_id: int | None = None,
        token: str | None = None,
    ) -> bool:
        """Fold a delta into the table (idempotent per epoch_id for
        stream epochs, per ``token`` for out-of-band folds like
        dead-letter replay — see ``sinks/ledger.py`` for why those two
        must be separate ledgers), rewriting only the hash buckets the
        delta touches. Returns False for the no-op retry of a recorded
        epoch/token.

        ``delta`` is a Spark DataFrame, or a pyarrow Table whose rows
        carry their ``BUCKET_COL`` id (computed in Spark with
        ``bucket_id`` over this sink's keys and ``n_buckets``). The
        module docstring says which runner of the fold kernel takes
        each."""
        with self.ledger.locked():
            meta = self.ledger.read(self.stream_id)
            if self.ledger.recorded(meta, epoch_id, token):
                return False
            self.ledger.gc()
            files = {
                int(b): self._parquet_files(self._bucket_dir(int(b), v))
                for b, v in meta["buckets"].items()
            }
            stage = self._stage_dir(meta)
            if isinstance(delta, pa.Table):
                ids = delta[BUCKET_COL]
                touched = sorted(pc.unique(ids).to_pylist())
                state_bytes = sum(
                    os.path.getsize(f) for b in touched for f in files.get(b, [])
                )
                if state_bytes > _DRIVER_FOLD_MAX_BYTES:
                    delta = SparkSession.active().createDataFrame(delta)
            if isinstance(delta, pa.Table):
                for b in touched:
                    _fold_bucket(
                        files.get(b, []),
                        delta.filter(pc.equal(ids, b)),
                        self.keys,
                        self.measures,
                        os.path.join(stage, f"{BUCKET_COL}={b}"),
                    )
            else:
                touched = self._fold_on_executors(delta, files, stage)
            if touched:
                self._publish(stage, touched, meta, epoch_id, token)
            elif epoch_id is not None or token is not None:
                # An empty delta still records its epoch/token.
                self.ledger.commit(meta, epoch_id, token)
        return True

    def _fold_on_executors(
        self, delta: DataFrame, files: dict[int, list[str]], stage: str
    ) -> list[int]:
        """The executor runner: tag ``delta`` with its buckets and run
        ``_fold_bucket`` once per bucket group over that bucket's
        ``files``, staging under ``stage``. One Spark action; returns the
        touched buckets (the group ids)."""
        keys, measures = self.keys, self.measures

        def fold(key: tuple, table: pa.Table) -> pa.Table:
            b = key[0].as_py()
            _fold_bucket(
                files.get(b, []), table, keys, measures,
                os.path.join(stage, f"{BUCKET_COL}={b}"),
            )
            return pa.table({BUCKET_COL: pa.array([b], pa.int64())})

        tagged = delta.withColumn(
            BUCKET_COL, bucket_id([F.col(k) for k in keys], self.n_buckets)
        )
        done = (
            tagged.groupBy(BUCKET_COL)
            .applyInArrow(fold, f"{BUCKET_COL} long")
            .collect()
        )
        return sorted(r[0] for r in done)

    @staticmethod
    def _parquet_files(d: str) -> list[str]:
        # Spark's _SUCCESS marker and .crc sidecars are not data files.
        return [
            os.path.join(d, n)
            for n in sorted(os.listdir(d))
            if not n.startswith(("_", ".")) and n.endswith(".parquet")
        ]
