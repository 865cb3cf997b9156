"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block is what we'd
ship on a 1000-executor cluster — AQE (runtime coalescing + skew-join
handling), Arrow for every Python boundary, and a shuffle-partition
count that AQE right-sizes downward at small SF and that scales up via
``spark.sql.shuffle.partitions`` on a real cluster.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator

from pyspark.sql import SparkSession


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set runtime confs for the duration of a block, then restore the
    caller's previous values (unsetting keys that were unset before).

    Library code must never flip global conf on a session it doesn't
    own — a caller that deliberately disabled AQE (or opted out of
    aggregate pushdown) should find their session exactly as they left
    it. This is the ONLY sanctioned way to touch conf outside
    ``get_spark()`` (enforced by ``tests/test_hygiene.py``); the one
    documented exception is ``sources/tables.py``'s UTC session
    timezone (set-if-different — required by every downstream
    timestamp expression, so a scoped restore would be wrong; its
    parquet-quirk confs ARE scoped to the read).
    """
    saved: dict[str, str | None] = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, prev in saved.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)

# Executor Python workers import this package too (the DNS pandas UDF
# lives in it). Driver-side sys.path is NOT propagated to workers, so
# make the package root importable via PYTHONPATH before the JVM
# spawns them. On a real cluster the same need is met by shipping a
# wheel via --py-files; this keeps local[:N] runs location-independent.
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)


def _ensure_pythonpath() -> None:
    current = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{current}" if current else _PKG_ROOT
        )


def ensure_executor_package(spark: SparkSession) -> None:
    """Make ``adguard2clickhouse_spark`` importable by executor Python
    workers of a session we did NOT build.

    ``get_spark()`` handles this via PYTHONPATH before the JVM spawns,
    but a foreign session (the driver harness, a user's notebook) may
    have been built from any cwd — its workers then fail with
    ModuleNotFoundError the first time a pandas UDF (DNS parse,
    multimodal, packing) deserializes. Shipping the package once per
    SparkContext with ``addPyFile`` (a zip built from the installed
    source tree) fixes that for every subsequent task, which is the
    same mechanism as ``spark-submit --py-files`` on a real cluster.
    Idempotent and cheap (~100 KB zip, once per context).
    """
    sc = spark.sparkContext
    if getattr(sc, "_spark_graft_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = Path(__file__).resolve().parent
    fd, zip_path = tempfile.mkstemp(
        prefix="adguard2clickhouse_spark_", suffix=".zip"
    )
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    sc.addPyFile(zip_path)
    sc._spark_graft_pkg_shipped = True


def get_spark(
    app_name: str = "adguard2clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``master``/``shuffle_partitions`` default from env so the same code
    path serves unit tests (local[*], 32 partitions) and a cluster
    submit (where --master and --conf win and this is a no-op).
    """
    _ensure_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — essential at 100 TB where
        # static partition counts are always wrong for some stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow on every JVM<->Python hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep parquet scans tight: vectorized reader + pushdown are on
        # by default; make session-timezone explicit so timestamp
        # semantics match the DuckDB oracle (both UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet carries TIMESTAMP(NANOS) which the
        # Spark reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive timestamp[us] parquet columns read as LTZ (UTC session),
        # not TIMESTAMP_NTZ — one timestamp type everywhere, matching
        # how the DuckDB oracle interprets the same bytes.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Broadcast threshold: dims under 64 MB broadcast automatically
        # (all dims at test SF; only schema-bounded frames at 100 TB).
        # Explicit broadcast() hints are reserved for frames whose size
        # is bounded by construction (nation/region, 1-row aggregates)
        # — a hint on an SF-scaled dim would override this size check
        # and OOM at corpus scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Generated-class cache behind whole-stage codegen (a JVM
        # static, sized on first use from the active session's conf —
        # it cannot be raised later in the JVM's life). The default
        # 100 entries thrashes for this engine BY DESIGN: the catalog
        # registers 184 queries, and even the 14 bench headliners
        # compile ~154 distinct generated classes — measured
        # (BENCH_codegen_cache_r12.json, subprocess-isolated
        # interleaved A/B with CodegenMetrics evidence): at the
        # default, EVERY repeat execution re-Janino-compiles ~148
        # classes (~1-2.4 s per sweep, serialized on the
        # driver/executor JVM); at 2000 the steady state compiles
        # ZERO and the 14-query sweep drops 9.55->6.44 s / 9.35->6.20 s
        # (-33%). This was the r11/r12 "session state" mystery on
        # x2_ngram_jaccard (2.1 s in full sessions vs 1.18 dedicated —
        # with the cache sized right it runs 1.16 s inside the full
        # sweep). The GC-debt hypothesis was tested and refuted first
        # (BENCH_codegen_cache_r12.json). At cluster scale the
        # same static cache lives in every executor JVM, where a
        # long-lived session serving a wide query catalog cycles
        # >100 classes just as this one does; 2000 entries of
        # generated-class metadata cost tens of MB of metaspace.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "2000"),
        )
        # Recursive CTEs: Spark 4's default safety valve aborts
        # recursion at 1M TOTAL rows — a fixed count that any
        # >250k-distinct-domain corpus trips regardless of how
        # well-behaved the recursion is (found by the r14 sf100 sweep:
        # RECURSION_ROW_LIMIT_EXCEEDED at 100M events). r15 (ADVICE
        # r14): the raise is no longer session-global — a 2e9 valve on
        # every query let a USER-written runaway recursion materialize
        # ~2B rows before tripping. The engine's own level-bounded
        # recursions (x_recursive_suffixes) now run on a sibling
        # session from recursion_scoped_session(); this session keeps
        # Spark's conservative default unless the operator explicitly
        # opts the whole session in via SPARK_GRAFT_CTE_ROW_LIMIT
        # (applied after the chain, below).
        # Bucketed tables (plans/bucketing.py) need a warehouse; keep it
        # out of the repo/cwd. Static conf — set at build only.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_CTE_ROW_LIMIT"):
        builder = builder.config(
            "spark.sql.cteRecursionRowLimit",
            os.environ["SPARK_GRAFT_CTE_ROW_LIMIT"],
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def recursion_scoped_session(
    spark: SparkSession, row_limit: int = 2_000_000_000
) -> SparkSession:
    """A sibling session (shared SparkContext/JVM, OWN runtime conf and
    temp-view namespace) with the recursive-CTE row valve sized for a
    corpus-scale, level-bounded recursion.

    Why a sibling session and not ``scoped_conf`` (r15, ADVICE r14):
    the engine's recursive queries return LAZY DataFrames, and Spark
    reads SQLConf at execution time — a set/restore around construction
    would restore the conservative valve before the caller ever runs
    the query. A sibling session pins the raised valve to exactly the
    DataFrames built on it, while the caller's session keeps Spark's
    default 1M-row valve against user-written runaway recursions. The
    level limit (spark.sql.cteRecursionLevelLimit, default 100) stays
    untouched on BOTH sessions — it is the semantic guard; the row
    valve only needs to not trip on corpus size (Spark 4's fixed 1M
    default aborts ANY >250k-distinct-domain suffix rollup, found by
    the r14 sf100 sweep).

    Cached per (session, limit): newSession() itself is cheap (no JVM,
    no context), but a fresh session state re-analyzes bridge views and
    re-misses the per-session DataFrame caches on every call.
    """
    key = (id(spark._jsparkSession), row_limit)
    cached = _RECURSION_SESSIONS.get(key)
    if cached is None:
        cached = spark.newSession()
        cached.conf.set("spark.sql.cteRecursionRowLimit", str(row_limit))
        _RECURSION_SESSIONS[key] = cached
    return cached


_RECURSION_SESSIONS: dict[tuple[int, int], SparkSession] = {}
