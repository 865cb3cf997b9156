"""PPJoin-vs-inverted-index re-measure at the scale where prefix
filtering should win (VERDICT r5 #6).

The rejection note in dedup.ngram_jaccard_pairs was measured at sf0.1,
where candidates are cheap; on the fixed-vocabulary corpus the
candidate term grows ~quadratically per decade, which is exactly the
regime prefix filtering targets. This measures both EXACT algorithms
(bit-identical answers, asserted) at sf0.1 and sf1 in one 48g session,
median-of-3 interleaved, and records who wins where.

Usage: python scripts/bench_ppjoin.py [--out PATH]
Prints the JSON record; ``--out`` also writes it (the committed record
is BENCH_ppjoin_r6.json).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent
REPS = 3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", type=Path, help="write the JSON record here too (default: print only)")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from adguard2clickhouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_ppjoin,
    )
    from adguard2clickhouse_spark.session import get_spark

    spark = get_spark(app_name="ppjoin-bench")
    spark.sparkContext.setLogLevel("ERROR")

    algos = {
        "inverted_index": ngram_jaccard_pairs,
        "ppjoin": ngram_jaccard_pairs_ppjoin,
    }
    sfs = {
        "sf0.1": "/root/testdata/sf0.1",
        "sf1": str(REPO / ".localdata" / "sf1"),
    }

    warm = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn in algos.values():  # codegen warmup
        fn(warm).count()

    results: dict[str, dict] = {}
    for tag, sf_dir in sfs.items():
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        walls = {a: [] for a in algos}
        pair_sets = {}
        for rep in range(REPS):
            for a, fn in algos.items():
                t0 = time.time()
                out = fn(docs)
                if rep == 0:
                    pair_sets[a] = sorted(map(tuple, out.collect()))
                    n = len(pair_sets[a])
                else:
                    n = out.count()
                walls[a].append(round(time.time() - t0, 3))
                print(f"  [{tag} rep{rep}] {a}: {walls[a][-1]}s ({n} rows)",
                      file=sys.stderr)
        assert pair_sets["inverted_index"] == pair_sets["ppjoin"], (
            f"{tag}: answers differ"
        )
        results[tag] = {
            a: {
                "walls_s": walls[a],
                "median_s": round(statistics.median(walls[a]), 3),
            }
            for a in algos
        }
        results[tag]["rows"] = len(pair_sets["inverted_index"])
        results[tag]["answers_identical"] = True
        results[tag]["winner"] = min(
            algos, key=lambda a: statistics.median(walls[a])
        )

    out = {
        "metric": "ppjoin_vs_inverted_index",
        "protocol": "one 48g session, interleaved, median-of-3, parity asserted",
        "threshold": 0.8,
        "n": 3,
        "results": results,
    }
    if args.out:
        args.out.write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
