"""Loader for the driver-provided parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` — the vectorized reader plus Catalyst
column pruning / predicate pushdown make this the 100 TB-ready scan.
``load_table`` caches one DataFrame per (session, directory, table).

Row-group trap note (measured r5, kept as a warning to future
editors): the driver's sf* files are single-row-group, so these scans
are ONE task. A read-side ``repartition(cores)`` looks like the fix
but measured ~2× SLOWER end-to-end on the aggregate fan: Catalyst
pushes cheap-looking-but-actually-expensive predicates (the
real-domain regexes) BELOW the exchange (PushPredicateThroughNonJoin),
so the regex still runs serially inside the one scan task and the
round-robin shuffle (serial write + local sort for determinism) is
pure added cost. The right levers are (a) generating fixtures with
``row_group_size=16384`` (scripts/gen_scale.py does) and (b) making
per-row expressions cheap (functions/strings.py::tld,
operators/aggregates.py::_real_domain).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Session-scoped catalog cache: resolving a parquet table costs a
# driver-side footer/schema round-trip (~200 ms measured) every call,
# and the benchmark/driver path loads the same static tables dozens of
# times. DataFrames are immutable plans — handing the same object back
# is safe. Keyed by the underlying JVM session (a restarted session
# gets fresh entries); the cached DataFrame pins its session, so the
# id() can't be recycled while the entry lives. Static test corpora
# only — call refresh_tables() after rewriting files in place.
_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def refresh_tables() -> None:
    _CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark._jsparkSession), os.path.abspath(sf_dir), name)
    cached = _CACHE.get(key)
    if cached is not None:
        return cached
    # Foreign sessions (driver harness, notebooks) may lack the package
    # on executor sys.path — ship it once so UDF-bearing queries work
    # regardless of the caller's cwd/PYTHONPATH.
    from adguard2clickhouse_spark.session import ensure_executor_package, scoped_conf

    ensure_executor_package(spark)
    # Parquet-quirk confs, SCOPED to the read (r3 ask #7): schema
    # resolution happens at spark.read time and execution after restore
    # is verified fine (tests/test_hygiene.py::
    # test_load_table_restores_parquet_confs), so the caller's session
    # conf is left exactly as found.
    # - nanosAsLong: events.parquet stores ts as INT64 TIMESTAMP(NANOS),
    #   which vanilla Spark refuses (PARQUET_TYPE_ILLEGAL).
    # - inferTimestampNTZ off: the generator writes naive timestamp[us]
    #   (isAdjustedToUTC=false); Spark would infer TIMESTAMP_NTZ, which
    #   unix_micros / to_utc_timestamp / window() reject or treat
    #   asymmetrically — reading as LTZ under a UTC session gives
    #   bit-identical instants to DuckDB's plain timestamp.
    with scoped_conf(
        spark,
        {
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        },
    ):
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Session timezone is the ONE deliberate permanent set, and only
    # when it differs: every downstream timestamp expression must render
    # UTC to match the (naive-timestamp) DuckDB oracle, and that
    # requirement outlives this call — a scoped restore to a non-UTC
    # host default would silently shift every later query's timestamps.
    # Set-if-different keeps the call idempotent and no-op on sessions
    # that are already correct (get_spark() sessions always are).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # With nanosAsLong the column arrives as a long of nanoseconds —
    # convert to a real timestamp. Integer `div` keeps the truncation
    # exact; a double round-trip loses ULPs above 2^53 (ns epochs ~1.7e18)
    # and flips ~13% of rows by ±1µs vs the oracle.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _CACHE[key] = df
    return df

