"""Z-order (Morton) multi-dimensional sort keys for data layout.

Sorting — or range-partitioning — a table by the interleaved bits of
two bucketized columns makes parquet row-group min/max statistics
selective on EVERY interleaved dimension at once: a scan filtered on
either column alone skips most files. A single-column sort gives that
only for its leading column; the trailing dimension spans the whole
domain in every file. This is the standard multi-dim pruning layout
at 100 TB (the OPTIMIZE ZORDER of the lakehouse table formats),
expressed here as plain integer bit arithmetic — deterministic,
engine-portable, oracle-checkable (x_zorder_key).

Usage shape at scale::

    zk = zorder_key2(day_bucket, cust_bucket, bits=16)
    (df.withColumn("zkey", zk)
       .repartitionByRange(n_files, "zkey")
       .sortWithinPartitions("zkey")
       .write.parquet(path))

Range partitioning on the z-key gives each output file a compact
z-interval = a small rectangle in (day, cust) space, so min/max file
stats prune on both predicates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` of N non-negative ints: bit i of
    column j lands at position N·i + j. Bucketize inputs first
    (modulo / epoch-day masking) so the low bits carry the signal;
    N·bits must stay < 63."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs at least two columns")
    if bits < 1 or n * bits > 62:
        raise ValueError(f"bits must be in [1, {62 // n}] for {n} columns")
    cs = [(F.col(c) if isinstance(c, str) else c).cast("long") for c in cols]
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            key = key + F.shiftright(c, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (n * i + j)
            )
    return key


def zorder_key2(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Two-column Morton key (the common case; see `zorder_key`)."""
    return zorder_key([a, b], bits)

