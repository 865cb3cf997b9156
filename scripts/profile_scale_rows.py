"""Term-by-term evidence for the 4.9-8.6x/decade sf10 rows (VERDICT r5
#2 + #3): one 48g session, median-of-3 per query at sf1 AND sf10,
interleaved per-SF, with the ADAPTIVE final plan's join strategies and
the stage task-time totals captured beside each wall — so "is AQE
demoting the broadcasts at sf10" and "is the Python worker pool the
bottleneck" are read off the artifact, not guessed.

Also the one-session minhash reconciliation (#2): x2_minhash_lsh and
x2_near_dedup_clusters measured in the SAME session at both SFs so the
contradictory r5 quotes (1.69x vs 6.74x, from different sessions) are
replaced by one consistent pair of rows.

Usage: python scripts/profile_scale_rows.py
Writes BENCH_profile_r6.json; the numbers then annotate BENCH_sf10.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent.parent

QUERIES = [
    "p7_dns_parse",
    "x_join_revenue_by_nation",
    "x1_dedup_count",
    "x2_minhash_lsh",
    "x2_near_dedup_clusters",
]

REPS = 3


def fetch_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def join_nodes(plan: str) -> dict[str, int]:
    """Count physical join strategies in an executed-plan string."""
    out = {}
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin"):
        n = plan.count(node)
        if n:
            out[node] = n
    return out


def stage_task_totals(sc, since_stage: int) -> dict:
    """Sum task counts/time over completed stages with id > since_stage."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages = [s for s in fetch_json(f"{base}/stages?status=complete")
              if s["stageId"] > since_stage]
    return {
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "executor_run_time_s": round(
            sum(s.get("executorRunTime", 0) for s in stages) / 1000, 2
        ),
        "input_gb": round(
            sum(s.get("inputBytes", 0) for s in stages) / 1e9, 2
        ),
        "shuffle_write_gb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e9, 3
        ),
    }


def max_stage_id(sc) -> int:
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    return max(
        (s["stageId"] for s in fetch_json(f"{base}/stages?status=complete")),
        default=-1,
    )


def main() -> None:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from benchlib import force_count  # noqa: E402
    from adguard2clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="profile-scale-rows", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in QUERIES:  # codegen warmup
        force_count(qs[name](spark, "/root/testdata/sf0.001"))

    sfs = {
        "sf1": str(REPO / ".localdata" / "sf1"),
        "sf10": str(REPO / ".localdata" / "sf10"),
    }
    results: dict[str, dict] = {n: {} for n in QUERIES}
    for tag, sf_dir in sfs.items():
        for rep in range(REPS):
            for name in QUERIES:
                mark = max_stage_id(sc)
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                rows = force_count(df)
                wall = round(time.time() - t0, 3)
                entry = results[name].setdefault(
                    tag, {"walls": [], "rows": rows}
                )
                entry["walls"].append(wall)
                if rep == REPS - 1:
                    # final ADAPTIVE plan (post-execution) + task totals
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    entry["joins"] = join_nodes(plan)
                    entry["tasks"] = stage_task_totals(sc, mark)
                print(f"  [{tag} rep{rep}] {name}: {wall}s ({rows} rows)",
                      file=sys.stderr)

    out_queries = {}
    for name in QUERIES:
        r1, r10 = results[name]["sf1"], results[name]["sf10"]
        m1 = statistics.median(r1["walls"])
        m10 = statistics.median(r10["walls"])
        out_queries[name] = {
            "sf1": {k: v for k, v in r1.items()},
            "sf10": {k: v for k, v in r10.items()},
            "median_sf1_s": round(m1, 3),
            "median_sf10_s": round(m10, 3),
            "ratio": round(m10 / m1, 2),
            # parallelism efficiency: how much of the wall the 32 cores
            # actually worked (executor task time / (wall * 32))
            "core_utilization_sf10": round(
                r10["tasks"]["executor_run_time_s"]
                / (m10 * 32), 2
            ) if "tasks" in r10 else None,
        }

    out = {
        "metric": "scale_row_profile",
        "protocol": "one 48g session, per-SF interleaved, median-of-3",
        "reps": REPS,
        "queries": out_queries,
    }
    (REPO / "BENCH_profile_r6.json").write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
