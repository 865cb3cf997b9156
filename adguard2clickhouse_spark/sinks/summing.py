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

**Exactly-once.** The table directory keeps a pointer file (atomic
``os.replace``) naming the current version of every bucket, the
recently-applied epoch ids, and an epoch **high-water mark**. A
foreachBatch retry with a seen epoch is a no-op; epochs older than
the tracked window are caught by the high-water mark (foreachBatch
epochs are monotonically increasing — Spark replays at most the last
epoch after a failure, never reorders), so idempotency survives
arbitrarily long streams. Visibility is all-or-nothing: merged bucket
versions become live only at the single pointer swap.

**Touched buckets.** A fold learns its touched buckets in one of three
ways: a pyarrow Table delta carries its bucket ids; a producer that
tagged a DataFrame delta in Spark passes its exact bucket set
(``touched=``, the pipeline's fused path above the driver ceiling);
any other DataFrame delta pays one discovery job.

**Driver-side folds.** ``apply_delta`` also accepts a pyarrow Table
whose rows already carry their bucket id (the pipeline's driver path
collects all eight deltas, bucket-tagged, in one Spark job; see
``operators.aggregates.fused_arrow_deltas``). Such a delta folds on
the driver: per touched bucket, read the current files with pyarrow,
concatenate the delta, ``group_by(keys).aggregate(...)`` and stage one
file — no Spark job at all. Staging, the pointer swap and the
exactly-once ledger are the same code as the Spark fold. A fold whose
touched buckets hold more than ``_DRIVER_FOLD_MAX_BYTES`` on disk hands
the delta to Spark instead, so driver memory stays bounded while state
grows.

At 100 TB the same interface backs Delta MERGE or a real ClickHouse
SummingMergeTree where the fold is native (sinks/clickhouse.py).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "CURRENT.json"
_MAX_EPOCHS_TRACKED = 1000
BUCKET_COL = "_sps_bucket"
# On-disk bytes of the touched buckets above which an Arrow delta folds
# in Spark rather than on the driver: the scan layer's file-size target
# (spark.sql.files.maxPartitionBytes, the pipeline's _COMPACT_SMALL_BYTES).
_DRIVER_FOLD_MAX_BYTES = 128 << 20


def bucket_id(cols: list[Column], n_buckets: int) -> Column:
    """A key's bucket: ``pmod(xxhash64(keys), n)``. xxhash64 treats NULL
    keys deterministically; pmod keeps the id in [0, n). Every path that
    tags rows (this sink's Spark folds and the fused driver-side deltas)
    uses this one expression, so a key always lands in the same bucket."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets))


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
        os.makedirs(path, exist_ok=True)

    # -- pointer management -------------------------------------------------
    def _pointer(self) -> dict:
        p = os.path.join(self.path, _POINTER)
        if not os.path.exists(p):
            return {
                "version": 0,
                "buckets": {},
                "epochs": [],
                "epoch_hwm": None,
                "replay_tokens": [],
            }
        with open(p) as f:
            meta = json.load(f)
        meta.setdefault("buckets", {})
        meta.setdefault("epochs", [])
        meta.setdefault("epoch_hwm", None)
        meta.setdefault("replay_tokens", [])
        return meta

    def _write_pointer(self, meta: dict) -> None:
        tmp = os.path.join(self.path, f".{_POINTER}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, _POINTER))  # atomic

    @staticmethod
    def _ledger(meta: dict, epoch_id: int | None, token: str | None) -> dict:
        """``meta``'s epoch and token ledgers with this fold recorded."""
        epochs, hwm = meta["epochs"], meta["epoch_hwm"]
        if epoch_id is not None:
            epochs = (epochs + [epoch_id])[-_MAX_EPOCHS_TRACKED:]
            hwm = epoch_id if hwm is None else max(hwm, epoch_id)
        tokens = meta["replay_tokens"]
        if token is not None:
            tokens = (tokens + [token])[-_MAX_EPOCHS_TRACKED:]
        return {"epochs": epochs, "epoch_hwm": hwm, "replay_tokens": tokens}

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.path, f"b{bucket:04d}", f"v{version:08d}")

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            bucket_id([F.col(k) for k in self.keys], self.n_buckets),
        )

    # -- public API ----------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame | None:
        meta = self._pointer()
        if not meta["buckets"]:
            return None
        paths = [
            self._bucket_dir(int(b), v) for b, v in sorted(meta["buckets"].items())
        ]
        return spark.read.parquet(*paths)

    def applied(self, epoch_id: int) -> bool:
        meta = self._pointer()
        hwm = meta["epoch_hwm"]
        return epoch_id in meta["epochs"] or (hwm is not None and epoch_id <= hwm)

    def applied_token(self, token: str) -> bool:
        """Out-of-band (non-stream) delta idempotency: replay and other
        maintenance folds identify by an opaque token instead of an
        epoch id — stream epoch ids are MONOTONIC and ``applied`` treats
        everything ≤ hwm as folded, so an out-of-band fold must never
        touch epochs/epoch_hwm (a low id would read as already-applied,
        a high one would make the sink drop every future stream epoch).

        Ledger window: unlike epochs, tokens have no monotonic order, so
        there is no hwm-style fallback — the ledger keeps only the most
        recent ``_MAX_EPOCHS_TRACKED`` (1000) tokens. A replay retried
        after ≥1000 SUBSEQUENT out-of-band folds would no longer be
        recognized and would double-fold. That window is an operational
        contract, not a latent bug: replays run while the stream is
        stopped and retries happen immediately after a crash, so a
        thousand interleaved maintenance folds before the retry is not
        a real schedule. If it ever becomes one, raise
        ``_MAX_EPOCHS_TRACKED`` — the ledger is a pointer-file list,
        cost is bytes, not IO.
        """
        return token in self._pointer()["replay_tokens"]

    def _stage_dir(self, meta: dict) -> str:
        return os.path.join(
            self.path, f".stage.v{meta['version'] + 1:08d}.{uuid.uuid4().hex}"
        )

    def _install(
        self,
        frame: DataFrame,
        touched: list[int],
        meta: dict,
        epoch_id: int | None,
        token: str | None = None,
    ) -> None:
        """Write ``frame`` (already bucket-tagged, already folded) as the
        next version of the ``touched`` buckets and swap the pointer."""
        stage = self._stage_dir(meta)
        # One Spark job for all touched buckets: partitionBy splits the
        # staged write into _sps_bucket=K directories (the column itself
        # is not stored in the files), then _publish renames each into
        # its bucket's version slot — a local fs move, no second job.
        frame.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(stage)
        self._publish(stage, touched, meta, epoch_id, token)

    def _publish(
        self,
        stage: str,
        touched: list[int],
        meta: dict,
        epoch_id: int | None,
        token: str | None,
    ) -> None:
        """Move each staged ``_sps_bucket=K`` directory into bucket K's
        next version slot, then make them live with ONE atomic pointer
        swap (shared by the Spark and the driver-side folds)."""
        new_version = meta["version"] + 1
        buckets = dict(meta["buckets"])
        old_dirs = []
        for b in touched:
            src = os.path.join(stage, f"{BUCKET_COL}={b}")
            dst = self._bucket_dir(b, new_version)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(src):
                # delta folded to an empty bucket (possible only via
                # replace() shrinking state): drop the bucket entirely.
                if str(b) in buckets:
                    old_dirs.append(self._bucket_dir(b, buckets.pop(str(b))))
                continue
            # A slot above the pointer's version was left by a fold that
            # crashed before its swap: no reader can see it, and rename
            # cannot replace a non-empty directory.
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(src, dst)
            prev = buckets.get(str(b))
            if prev is not None:
                old_dirs.append(self._bucket_dir(b, prev))
            buckets[str(b)] = new_version

        self._write_pointer(
            {
                "version": new_version,
                "buckets": buckets,
                **self._ledger(meta, epoch_id, token),
            }
        )
        # post-swap cleanup: superseded bucket versions + stage leftovers
        for d in old_dirs:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)

    def replace(self, full: DataFrame) -> None:
        """Swap in a wholesale recomputation (backfill/repair): rewrite
        every bucket as the next version and point at it atomically. The
        applied-epoch history is preserved so a concurrent stream's
        retried epoch is still recognized as folded-in."""
        meta = self._pointer()
        tagged = self._with_bucket(full)
        self._install(tagged, list(range(self.n_buckets)), meta, epoch_id=None)

    def apply_delta(
        self,
        delta: DataFrame | pa.Table,
        epoch_id: int | None = None,
        token: str | None = None,
        touched: list[int] | None = None,
    ) -> None:
        """Fold a delta into the table (idempotent per epoch_id for
        stream epochs, per ``token`` for out-of-band folds like
        dead-letter replay — see ``applied_token`` for why those two
        must be separate ledgers), rewriting only the hash buckets the
        delta touches.

        ``delta`` is a Spark DataFrame, or a pyarrow Table whose rows
        carry their ``BUCKET_COL`` id (computed in Spark with
        ``bucket_id`` over this sink's keys and ``n_buckets``). A Table
        folds on the driver (see the module docstring); its touched set
        comes with the delta.

        ``touched`` is given by a producer that already knows the exact
        buckets of a DataFrame delta whose rows carry ``BUCKET_COL``
        (the pipeline's fused path collects them in the job that
        materializes its deltas); the fold then skips the discovery
        job. Without it, one discovery job (a ≤ n_buckets-row collect)
        finds the touched buckets before the fold."""
        meta = self._pointer()
        if epoch_id is not None and self.applied(epoch_id):
            return  # retry of an applied epoch — exactly-once no-op
        if token is not None and token in meta["replay_tokens"]:
            return  # retry of an applied out-of-band fold — no-op

        if isinstance(delta, pa.Table):
            self._fold_arrow(delta, meta, epoch_id, token)
        elif touched is not None:
            self._fold_spark(delta, sorted(touched), meta, epoch_id, token)
        else:
            tagged = self._with_bucket(delta).persist()
            try:
                touched = sorted(
                    r[0] for r in tagged.select(BUCKET_COL).distinct().collect()
                )
                self._fold_spark(tagged, touched, meta, epoch_id, token)
            finally:
                tagged.unpersist()

    def _record_empty(
        self, meta: dict, epoch_id: int | None, token: str | None
    ) -> None:
        """An empty delta still records its epoch/token for idempotency."""
        if epoch_id is not None or token is not None:
            self._write_pointer({**meta, **self._ledger(meta, epoch_id, token)})

    def _fold_spark(
        self,
        tagged: DataFrame,
        touched: list[int],
        meta: dict,
        epoch_id: int | None,
        token: str | None,
    ) -> None:
        """(state of the touched buckets ∪ bucket-tagged delta) ⊕ keys,
        in one Spark job, installed as the touched buckets' next
        version."""
        if not touched:
            self._record_empty(meta, epoch_id, token)
            return
        current_paths = [
            self._bucket_dir(b, meta["buckets"][str(b)])
            for b in touched
            if str(b) in meta["buckets"]
        ]
        if current_paths:
            spark = tagged.sparkSession
            current = self._with_bucket(spark.read.parquet(*current_paths))
            tagged = current.unionByName(tagged)
        merged = tagged.groupBy(BUCKET_COL, *self.keys).agg(
            *(F.sum(m).alias(m) for m in self.measures)
        )
        self._install(merged, touched, meta, epoch_id, token=token)

    def _fold_arrow(
        self,
        delta: pa.Table,
        meta: dict,
        epoch_id: int | None,
        token: str | None,
    ) -> None:
        """The driver-side fold of a bucket-tagged Arrow delta: per
        touched bucket, (current files ∪ delta rows) ⊕ keys with pyarrow,
        staged as one file per bucket, then the shared ``_publish``."""
        ids = delta[BUCKET_COL]
        touched = sorted(pc.unique(ids).to_pylist())
        if not touched:
            self._record_empty(meta, epoch_id, token)
            return
        files = {
            b: self._parquet_files(self._bucket_dir(b, meta["buckets"][str(b)]))
            for b in touched
            if str(b) in meta["buckets"]
        }
        state_bytes = sum(os.path.getsize(f) for fs in files.values() for f in fs)
        if state_bytes > _DRIVER_FOLD_MAX_BYTES:
            tagged = SparkSession.active().createDataFrame(delta)
            self._fold_spark(tagged, touched, meta, epoch_id, token)
            return

        # Files are written keys-then-measures, the Spark fold's layout.
        schema = pa.schema([delta.schema.field(c) for c in self.keys + self.measures])
        stage = self._stage_dir(meta)
        for b in touched:
            parts = [
                # Spark writes timestamps as INT96; read them as
                # microseconds, the unit Spark collects to Arrow with.
                pq.read_table(f, coerce_int96_timestamp_unit="us")
                .select(schema.names)
                .cast(schema)
                for f in files.get(b, [])
            ]
            parts.append(delta.filter(pc.equal(ids, b)).select(schema.names))
            folded = pa.concat_tables(parts).group_by(self.keys).aggregate(
                [(m, "sum") for m in self.measures]
            )
            out = pa.Table.from_arrays(
                [folded[k] for k in self.keys]
                + [folded[f"{m}_sum"] for m in self.measures],
                names=schema.names,
            ).cast(schema)
            bucket_dir = os.path.join(stage, f"{BUCKET_COL}={b}")
            os.makedirs(bucket_dir)
            pq.write_table(out, os.path.join(bucket_dir, "part-00000.parquet"))
        self._publish(stage, touched, meta, epoch_id, token)

    @staticmethod
    def _parquet_files(d: str) -> list[str]:
        # Spark's _SUCCESS marker and .crc sidecars are not data files.
        return [
            os.path.join(d, n)
            for n in sorted(os.listdir(d))
            if not n.startswith(("_", ".")) and n.endswith(".parquet")
        ]
