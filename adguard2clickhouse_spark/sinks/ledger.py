"""The exactly-once commit ledger every ledgered sink commits through.

A sink keeps its content in immutable directories and ONE pointer file
(``_FACTS.json`` for ``LedgeredFactSink``, ``CURRENT.json`` for
``SummingParquetSink``) naming the live ones. ``Ledger`` owns that
pointer; each sink adds only its own layout fields (committed slots,
bucket versions) and the code that stages them.

Ledger semantics (each is load-bearing for exactly-once delivery):

- **Epochs and tokens.** A commit records its epoch id or token in the
  SAME pointer write that makes its data visible; a sink no-ops a write
  whose epoch or token is already recorded. Epoch ids are monotonic per
  stream identity (foreachBatch never reorders and replays at most the
  last epoch after a failure): the ledger keeps a high-water mark plus
  the last ``_MAX_EPOCHS_TRACKED`` ids, and anything at or below the
  mark counts as applied. Tokens are opaque out-of-band keys
  (dead-letter replay) with no order, so only the last
  ``_MAX_EPOCHS_TRACKED`` are remembered: a replay retried after 1000
  SUBSEQUENT out-of-band commits would no longer be recognized. Replays
  run with the stream stopped and retry right after a crash, so that
  window is an operating contract; widening it costs pointer bytes,
  not IO. An out-of-band commit never touches the epoch ledger (a low
  synthetic id would read as applied, a high one would drop every
  later stream epoch). An empty write still records its epoch/token.
- **Stream identity** scopes the epoch ledger (``read(stream_id)``):
  a recreated checkpoint restarts epoch ids at 0, and matching them
  against the old high-water mark would silently drop every new epoch.
  A CHANGED identity therefore voids the epoch ledger; ``None`` leaves
  it unscoped; a pointer with no recorded identity (written before
  identities were recorded, possibly by this very checkpoint) keeps its
  epochs and is scoped from its next commit on.
- **Wholesale swaps** (a sink's ``replace``) keep both ledgers, so a
  retried epoch is still recognized after a rewrite.
- **Single writer, enforced.** Every read-modify-write of the pointer
  runs under an advisory ``flock`` (``locked``): a maintenance write
  racing the stream, or a second process on the same directory,
  serializes instead of losing an update. The lock dies with its
  holder, so a crashed writer never wedges the table. NOT reentrant.
- **Durable swap.** ``write`` fsyncs a tmp pointer, ``os.replace``s it
  and fsyncs the directory: Structured Streaming's offset commit racing
  ahead of an unflushed pointer on power loss would otherwise orphan a
  committed epoch. Data files follow the filesystem's ordinary
  durability, as everywhere else in Spark's local-fs writes.
- **Orphans.** A crash leaves tmp pointers and ``.stage.*`` directories
  no reader sees; ``gc`` removes them (and whatever else the sink names
  as uncommitted) before the next commit.
- **Retirement.** A fold never deletes the directories it supersedes:
  a reader that listed the old pointer may still be scanning them (the
  race Delta and Iceberg split commit from VACUUM for). ``commit``
  puts them on the pointer's ``trash`` list and later commits delete
  them once older than ``RETENTION_S``; size it above the longest
  reader job. The cost is disk: a sink keeps up to ``RETENTION_S`` of
  superseded output beside its live state. (``LedgeredFactSink.replace``
  deletes its superseded slots at once: it runs only as maintenance
  with the stream stopped.)

The substrate is POSIX rename and flock on a local filesystem.
"""

from __future__ import annotations

import contextlib
import copy
import fcntl
import json
import os
import shutil
import time
import uuid

_MAX_EPOCHS_TRACKED = 1000
RETENTION_S = 60.0


class Ledger:
    """One sink's commit pointer ``<path>/<pointer>``, locked through
    ``<pointer stem>.lock``. ``layout`` holds the sink's own pointer
    fields and their defaults."""

    def __init__(self, path: str, pointer: str, **layout):
        self.path = path
        self.pointer = pointer
        self.layout = layout

    @contextlib.contextmanager
    def locked(self):
        fd = os.open(
            os.path.join(self.path, os.path.splitext(self.pointer)[0] + ".lock"),
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def read(self, stream_id: str | None = None) -> dict:
        """The pointer with defaults filled in, its epoch ledger scoped
        to ``stream_id`` when one is given."""
        meta = {
            "epochs": [],
            "epoch_hwm": None,
            "tokens": [],
            "stream_id": None,
            "trash": [],
            **copy.deepcopy(self.layout),
        }
        with contextlib.suppress(FileNotFoundError):
            with open(os.path.join(self.path, self.pointer)) as f:
                meta.update(json.load(f))
        if "replay_tokens" in meta:  # summing pointers before the shared ledger
            meta["tokens"] = meta.pop("replay_tokens")
        if stream_id is not None and meta["stream_id"] != stream_id:
            if meta["stream_id"] is not None:
                meta["epochs"], meta["epoch_hwm"] = [], None
            meta["stream_id"] = stream_id
        return meta

    @staticmethod
    def recorded(
        meta: dict, epoch_id: int | None = None, token: str | None = None
    ) -> bool:
        hwm = meta["epoch_hwm"]
        return (
            epoch_id is not None
            and (epoch_id in meta["epochs"] or (hwm is not None and epoch_id <= hwm))
        ) or (token is not None and token in meta["tokens"])

    def write(self, meta: dict) -> None:
        tmp = os.path.join(self.path, f".{self.pointer}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, self.pointer))
        dfd = os.open(self.path, os.O_DIRECTORY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def commit(
        self,
        meta: dict,
        epoch_id: int | None = None,
        token: str | None = None,
        retire=(),
    ) -> None:
        """Write ``meta`` with the epoch/token recorded and the
        ``retire``d directories (relative to ``path``) moved to trash,
        then delete the trash entries whose retention expired. They are
        deleted AFTER the write: a crash in between leaves plain
        orphans. Callers hold ``locked``."""
        epochs, hwm, tokens = meta["epochs"], meta["epoch_hwm"], meta["tokens"]
        if epoch_id is not None:
            epochs = (epochs + [epoch_id])[-_MAX_EPOCHS_TRACKED:]
            hwm = epoch_id if hwm is None else max(hwm, epoch_id)
        if token is not None:
            tokens = (tokens + [token])[-_MAX_EPOCHS_TRACKED:]
        now = time.time()
        expired = [t["dir"] for t in meta["trash"] if now - t["t"] >= RETENTION_S]
        trash = [t for t in meta["trash"] if now - t["t"] < RETENTION_S]
        trash += [{"dir": d, "t": now} for d in retire]
        self.write(
            {
                **meta,
                "epochs": epochs,
                "epoch_hwm": hwm,
                "tokens": tokens,
                "trash": trash,
            }
        )
        for d in expired:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def gc(self, live=(), uncommitted=lambda name: False) -> None:
        """Remove crash leftovers: tmp pointers, ``.stage.*`` directories
        not in ``live`` (stages a writer of this process is still
        filling) and the directories the sink calls ``uncommitted``.
        Callers hold ``locked``."""
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if not os.path.isdir(full):
                if name.startswith(f".{self.pointer}.") and name.endswith(".tmp"):
                    with contextlib.suppress(OSError):
                        os.remove(full)
            elif (
                name.startswith(".stage.") and name not in live
            ) or uncommitted(name):
                shutil.rmtree(full, ignore_errors=True)
