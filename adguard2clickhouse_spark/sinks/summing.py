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

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            bucket_id([F.col(k) for k in self.keys], self.n_buckets),
        )

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
        next version slot, then make them live with ONE ledger commit
        (shared by the Spark and the driver-side folds)."""
        new_version = meta["version"] + 1
        buckets = dict(meta["buckets"])
        retired = []
        for b in touched:
            src = os.path.join(stage, f"{BUCKET_COL}={b}")
            dst = self._bucket_dir(b, new_version)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(src):
                # delta folded to an empty bucket (possible only via
                # replace() shrinking state): drop the bucket entirely.
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
        """Swap in a wholesale recomputation (backfill/repair): rewrite
        every bucket as the next version and point at it atomically. The
        applied-epoch history is preserved so a concurrent stream's
        retried epoch is still recognized as folded-in."""
        with self.ledger.locked():
            self.ledger.gc()
            tagged = self._with_bucket(full)
            self._install(
                tagged, list(range(self.n_buckets)), self.ledger.read(), None
            )

    def apply_delta(
        self,
        delta: DataFrame | pa.Table,
        epoch_id: int | None = None,
        token: str | None = None,
        touched: list[int] | None = None,
    ) -> bool:
        """Fold a delta into the table (idempotent per epoch_id for
        stream epochs, per ``token`` for out-of-band folds like
        dead-letter replay — see ``sinks/ledger.py`` for why those two
        must be separate ledgers), rewriting only the hash buckets the
        delta touches. Returns False for the no-op retry of a recorded
        epoch/token.

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
        with self.ledger.locked():
            meta = self.ledger.read(self.stream_id)
            if self.ledger.recorded(meta, epoch_id, token):
                return False
            self.ledger.gc()
            if isinstance(delta, pa.Table):
                self._fold_arrow(delta, meta, epoch_id, token)
            elif touched is not None:
                self._fold_spark(delta, sorted(touched), meta, epoch_id, token)
            else:
                tagged = self._with_bucket(delta).persist()
                try:
                    touched = sorted(
                        r[0]
                        for r in tagged.select(BUCKET_COL).distinct().collect()
                    )
                    self._fold_spark(tagged, touched, meta, epoch_id, token)
                finally:
                    tagged.unpersist()
        return True

    def _record_empty(
        self, meta: dict, epoch_id: int | None, token: str | None
    ) -> None:
        """An empty delta still records its epoch/token for idempotency."""
        if epoch_id is not None or token is not None:
            self.ledger.commit(meta, epoch_id, token)

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
