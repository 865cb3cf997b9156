"""Output checks for the benchmark: every figure it reports comes from a
run whose outputs were compared here. A failed check is a failed
attempt; the run then reports ``correct: false``."""

from __future__ import annotations

import pandas as pd


class Checks:
    def __init__(self):
        self.results: list[dict] = []

    def add(self, name: str, ok: bool, detail=None) -> bool:
        self.results.append({"check": name, "ok": bool(ok), "detail": detail})
        return bool(ok)

    @property
    def failed(self) -> list[dict]:
        return [r for r in self.results if not r["ok"]]


def multiset_digest(df):
    """(rows, sum of row hashes, xor of row hashes) with every column
    cast to string first, so equal tables with different numeric column
    types compare equal. Order- and layout-independent."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(*[F.coalesce(df[c].cast("string"), F.lit("\0null")) for c in cols])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return int(row["n"]), str(row["s"]), row["x"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, type-tolerant frame form, as the repository's
    self-check compares Spark results with their DuckDB oracles."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime"):
            df[c] = col.astype("datetime64[us]").map(repr)
        elif col.dtype == bool or str(col.dtype) == "boolean":
            df[c] = col.map(lambda v: repr(bool(v)) if v is not None else "None")
        else:
            df[c] = col.map(repr)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    return normalize(a).equals(normalize(b))


def duckdb_oracles(catalog_dir: str, names: list[str], threads: int) -> dict:
    """Each headliner's ``oracle_sql()`` twin on DuckDB over the same
    files; names without a SQL oracle map to None (rows-only)."""
    import duckdb

    import __spark_entry__ as entry
    from adguard2clickhouse_spark.sources.tables import TABLE_NAMES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.sql(f"SET threads = {threads}")
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{catalog_dir}/{t}.parquet'")
    try:
        return {n: (con.sql(oracles[n]).df() if n in oracles else None) for n in names}
    finally:
        con.close()
