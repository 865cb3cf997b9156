"""ClickHouse map-aggregate analog: ``sumMap``.

ClickHouse's Map combinators are the workhorse of its MV rollups when a
dimension is open-ended (per-key counters packed into paired arrays,
e.g. ``sumMap(qtype_keys, qtype_counts)``); the reference's target
system exposes them over exactly the kind of keyed counter state the
collector maintains (cf. /root/reference/README.md MV bodies, which use
scalar SummingMergeTree columns — the Map form is the same fold with an
open key set).

The declarative twin: explode the (keys, values) array pairs, aggregate
per (group, key), and re-pack per group into key-sorted paired arrays —
ClickHouse's documented result order. Everything is built-in JVM
expressions (arrays_zip / explode / collect_list / sort_array /
transform): no Python in the hot path, full map-side partial
aggregation on the (group, key) shuffle, and the re-pack shuffle keys a
subset of the same columns so AQE coalesces it cheaply. Per-group state
is bounded by that group's distinct key count — the same bound
ClickHouse's aggregate state carries — so the plan survives a 100 TB
corpus exactly as well as any keyed counter rollup does.

NULL keys are dropped (ClickHouse Maps cannot hold NULL keys); NULL
values are dropped BEFORE the fold, so a key whose values are all NULL
is omitted from the result arrays entirely (ClickHouse's Map
combinators likewise never emit an entry that no non-NULL value fed).
A group whose rows contain no valid (key, value) pair at all is omitted
from the output — the explode-then-groupBy shape has no row to carry
it; callers needing empty arrays for such groups left-join this result
back to their group frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AGGS = {"sum": F.sum}


def _map_agg(
    df: DataFrame,
    keys_col: str,
    vals_col: str,
    by: list[str],
    agg: str,
) -> DataFrame:
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    kv = df.select(
        *[F.col(c) for c in by],
        F.explode(F.arrays_zip(F.col(keys_col), F.col(vals_col))).alias("_kv"),
    ).select(
        *by,
        F.col(f"_kv.{keys_col}").alias("_k"),
        F.col(f"_kv.{vals_col}").alias("_v"),
    ).filter(F.col("_k").isNotNull() & F.col("_v").isNotNull())
    per_key = kv.groupBy(*by, "_k").agg(_AGGS[agg]("_v").alias("_v"))
    packed = per_key.groupBy(*by).agg(
        F.sort_array(F.collect_list(F.struct("_k", "_v"))).alias("_pairs")
    )
    return packed.select(
        *by,
        F.transform("_pairs", lambda p: p["_k"]).alias(keys_col),
        F.transform("_pairs", lambda p: p["_v"]).alias(vals_col),
    )


def sum_map(
    df: DataFrame,
    keys_col: str = "keys",
    vals_col: str = "vals",
    by: list[str] | None = None,
) -> DataFrame:
    """``sumMap(keys, vals)`` per ``by`` group: element-wise sum of
    ``vals`` grouped by the paired key, returned as key-sorted paired
    arrays (ClickHouse's result order). ``keys_col``/``vals_col`` must
    be equal-length array columns."""
    return _map_agg(df, keys_col, vals_col, by or [], "sum")

