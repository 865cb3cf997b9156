"""Memory-pressure proof (VERDICT r4 #8): 100 TB means spill, not just
shuffle counts.

Runs the most shuffle-heavy queries at sf10 with EXECUTION MEMORY
deliberately starved (spark.memory.fraction lowered from 0.6 to 0.15
— the VERDICT-prescribed knob: same heap, ~4x less room for hash
maps/sorts/joins before they must go to disk) and records, per query:
completion, wall time, and the stage-level memoryBytesSpilled /
diskBytesSpilled totals from the Spark UI REST API. The claim being
proven: every blocking operator in these plans (hash aggregate, sort,
sort-merge join, the KMV row_number window) degrades to external
spill under pressure instead of OOMing — the property that lets the
same plans run when the data no longer fits.

Usage: python scripts/bench_spill.py [sf_dir]
Default sf_dir: .localdata/sf10. Prints the JSON record; ``--out PATH``
also writes it (the committed record is BENCH_spill_r6.json).

r6 (VERDICT r5 #1): every query MUST return rows — the r5 artifact
committed a 0-row x2_ngram_jaccard_capped measurement (the pre-fix
absolute-cap query), i.e. the spill evidence for the heaviest plan
measured nothing. A zero-row result now marks the run failed so a
silent empty result can never again read as evidence.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent

# Shuffle-heavy spread: inverted-index join (capped), banded minhash
# join, exact-dedup groupBy, windowed stats2, the KMV sort-window, and
# the hashed-BOW pivot.
QUERIES = [
    "x2_ngram_jaccard_capped",
    "x2_minhash_lsh",
    "x1_dedup_count",
    "a6_stats2",
    "x6_kmv_distinct",
    "x4_hashed_bow",
]


def fetch_json(url: str, attempts: int = 3):
    for i in range(attempts):
        try:
            with urllib.request.urlopen(url, timeout=30) as r:
                return json.loads(r.read())
        except Exception:
            if i == attempts - 1:
                raise
            time.sleep(2 * (i + 1))


def completed_stage_spill(sc) -> tuple[int, int, int]:
    """(n_stages, memory_spilled, disk_spilled) across completed stages."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages = fetch_json(f"{base}/stages?status=complete")
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    return len(stages), mem, disk


def main() -> None:
    import argparse
    import os

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?",
                    default=str(REPO / ".localdata" / "sf10"))
    # Two envelopes are recorded for r6: fraction 0.15 on the 48g heap
    # (7.2g managed — the capped jaccard spills tens of GB and still
    # completes) and fraction 0.02 (0.96g managed, TIGHTER than r5's
    # 8g x 0.15 = 1.2g) for the remaining queries, which at 7.2g no
    # longer need to spill at all.
    ap.add_argument("--fraction", default="0.15")
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument("--out", type=Path, help="write the JSON record here too (default: print only)")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    queries = [q for q in args.queries.split(",") if q]

    # Heap: the 48g the sf10 scale bench uses (bench_scale10.py — an
    # executor-realistic memory/core ratio). Measured r6 at the old 8g
    # default: the ratio-capped jaccard's candidate join at sf10 dies
    # with raw JVM "Java heap space" in the scan/join stage — USER
    # memory (task row buffers, cached shingle arrays), which the
    # memory manager cannot spill; only the managed execution/storage
    # region degrades gracefully. So the starvation knob stays on the
    # MANAGED region (fraction=0.15 → ~3.6g execution+storage for 32
    # concurrent tasks at sf10 working sets) while user memory is
    # sized to the workload — that is the property a real cluster
    # tunes for, and the spill columns below prove the managed side
    # degrades to disk instead of failing.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from adguard2clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="spill-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # starve execution memory: 15% of (heap - 300MB) for all
            # joins/aggs/sorts across 32 concurrent tasks
            "spark.memory.fraction": args.fraction,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in queries:  # codegen warmup
        qs[name](spark, "/root/testdata/sf0.001").count()

    results = {}
    for name in queries:
        n0, m0, d0 = completed_stage_spill(sc)
        t0 = time.time()
        try:
            rows = qs[name](spark, sf_dir).count()
            ok = True
        except Exception as e:  # noqa: BLE001
            rows, ok = None, False
            results[name] = {"completed": False, "error": str(e)[:300]}
            continue
        wall = round(time.time() - t0, 2)
        n1, m1, d1 = completed_stage_spill(sc)
        if rows == 0:
            # an empty result measures nothing — fail loudly (r5 #1)
            results[name] = {
                "completed": False,
                "rows": 0,
                "wall_s": wall,
                "error": "ZERO ROWS: query returned an empty result under "
                         "this corpus — stale/mistuned parameters; spill "
                         "evidence void",
            }
            continue
        results[name] = {
            "completed": ok,
            "rows": rows,
            "wall_s": wall,
            "stages": n1 - n0,
            "memory_spilled_mb": round((m1 - m0) / 1e6, 1),
            "disk_spilled_mb": round((d1 - d0) / 1e6, 1),
        }
        print(f"  {name}: {wall}s, spill mem {results[name]['memory_spilled_mb']}MB "
              f"disk {results[name]['disk_spilled_mb']}MB", file=sys.stderr)

    total_disk = sum(r.get("disk_spilled_mb", 0) for r in results.values())
    out = {
        "metric": "memory_pressure_spill",
        "sf_dir": sf_dir,
        "memory_fraction": float(args.fraction),
        "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "note_8g": (
            "r6 finding: at the former 8g default heap, "
            "x2_ngram_jaccard_capped at sf10 dies with raw JVM 'Java heap "
            "space' (unmanaged user memory — task row buffers/cached "
            "arrays — which cannot spill); the managed-memory starvation "
            "this harness proves graceful is fraction=0.15 on the 48g "
            "heap the sf10 scale bench uses"
        ),
        "queries": results,
        "all_completed": all(r.get("completed") for r in results.values()),
        "total_disk_spilled_mb": round(total_disk, 1),
    }
    if args.out:
        args.out.write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    spark.stop()
    if not out["all_completed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
