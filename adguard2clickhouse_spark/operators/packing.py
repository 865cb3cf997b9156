"""Sequence packing for LLM training-data prep (brief §extensions:
after dedup/filtering, documents are packed into fixed token-budget
training sequences; packing efficiency directly buys training FLOPs).

Greedy sequential packing is inherently serial — bin state depends on
every earlier document — so the distributed form packs WITHIN strata
(language, source shard, or a hash bucket) and keeps strata
independent: each stratum's documents are packed in deterministic
doc-id order by one task. That is also what training pipelines want
(sequences shouldn't mix languages/domains at random), and it is the
only shape that scales: only (id, token_count) metadata shuffles, one
stratum never waits on another, and a skewed stratum can be pre-split
with sampling.hash_bucket.

The packer is an applyInPandas kernel (Arrow-batched, vectorized
cumsum + loop over group rows); its exact output is replayed by a
DuckDB recursive CTE in the driver oracle, so the operator is
hash-gated despite being non-relational.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_greedy(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Greedy first-fit-in-order packing per stratum.

    Documents are taken in ascending ``id_col`` order; a document goes
    into the current bin unless it would push the bin past
    ``max_tokens``, in which case a new bin starts. A document larger
    than ``max_tokens`` gets a bin of its own (flagged oversize) — the
    caller decides whether to truncate or drop it upstream.

    Returns (strata, id, n_tokens, bin, pos, fill, oversize):
    ``bin`` is the stratum-local sequence index, ``pos`` the document's
    position inside the bin, ``fill`` the bin's running token total
    after this document.
    """
    meta = df.select(
        F.col(strata_col).alias("_stratum"),
        F.col(id_col).alias("_id"),
        F.col(token_col).cast("long").alias("_tok"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        bins, poss, fills = [], [], []
        cur_bin, cur_fill, cur_pos = 0, 0, 0
        for tok in pdf["_tok"]:
            if cur_fill > 0 and cur_fill + tok > max_tokens:
                cur_bin += 1
                cur_fill, cur_pos = 0, 0
            cur_fill += int(tok)
            bins.append(cur_bin)
            poss.append(cur_pos)
            fills.append(cur_fill)
            cur_pos += 1
        pdf["_bin"], pdf["_pos"], pdf["_fill"] = bins, poss, fills
        return pdf

    out_schema = (
        "_stratum STRING, _id LONG, _tok LONG, _bin LONG, _pos LONG, _fill LONG"
    )
    packed = meta.groupBy("_stratum").applyInPandas(pack, out_schema)
    return packed.select(
        F.col("_stratum").alias(strata_col),
        F.col("_id").alias(id_col),
        F.col("_tok").alias(token_col),
        F.col("_bin").alias("bin"),
        F.col("_pos").alias("pos"),
        F.col("_fill").alias("fill"),
        (F.col("_tok") > max_tokens).alias("oversize"),
    )


def pack_oracle_sql(
    max_tokens: int,
    docs_sql: str,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> str:
    """DuckDB recursive-CTE twin of :func:`pack_greedy`.

    ``docs_sql`` must yield (strata, id, token) columns. The recursion
    steps through each stratum's documents in id order carrying
    (bin, fill) — the same state the pandas kernel carries.
    """
    return f"""
WITH RECURSIVE d AS (
  SELECT {strata_col} AS s, {id_col} AS i, CAST({token_col} AS BIGINT) AS t,
         row_number() OVER (PARTITION BY {strata_col} ORDER BY {id_col}) AS rn
  FROM ({docs_sql})
), pack AS (
  SELECT s, i, t, rn, CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS pos, t AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.s, d.i, d.t, d.rn,
         CASE WHEN p.fill + d.t > {max_tokens} THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.fill + d.t > {max_tokens} THEN CAST(0 AS BIGINT) ELSE p.pos + 1 END,
         CASE WHEN p.fill + d.t > {max_tokens} THEN d.t ELSE p.fill + d.t END
  FROM d JOIN pack p ON d.s = p.s AND d.rn = p.rn + 1
)
SELECT s AS {strata_col}, i AS {id_col}, t AS {token_col},
       bin, pos, fill, t > {max_tokens} AS oversize
FROM pack
""".strip()
