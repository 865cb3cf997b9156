"""Zipf-skewed ingest at sf1 volume: straggler evidence (VERDICT r4 #5).

Real DNS logs are zipf — one household/client can be 95% of rows. The
unit gates (partial-aggregation skew bound, AQE skew-join split) prove
the MECHANISMS; this measures the SYSTEM: the a1–a8 aggregate fan over
a 95/5-skewed events replica, plus the c1 streaming pipeline over
95/5-skewed querylog JSONL, with per-stage task-time distributions
pulled from the Spark UI REST API. The skew-safety claim is concrete:
no stage may have a straggler task > 4x its median task time (stages
with enough tasks and non-trivial medians — tiny-task jitter is not
skew).

Why the fan survives a 95% hot key: every groupBy aggregate here is
ALGEBRAIC (sum/count), so map-side partial aggregation collapses the
hot key to one partial row per input partition BEFORE the shuffle —
the reduce side receives n_partitions rows for the hot key, not 95%
of the corpus. That is the design; this artifact is the measurement.

Usage: python scripts/bench_skew.py [n_rows] [hot_permille]
Defaults: 4_000_000 rows, 950 (95% on one key).
Prints the JSON record; ``--out PATH`` also writes it (the committed
record is BENCH_skew_r6.json).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent


def fetch_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_task_summaries(sc) -> list[dict]:
    """Per-completed-stage task-duration quantiles via the UI REST API
    (the driver-side mirror of what a cluster operator reads)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    out = []
    for st in fetch_json(f"{base}/stages?status=complete"):
        sid, att = st["stageId"], st["attemptId"]
        n = st.get("numCompleteTasks", 0)
        if n < 8:
            continue  # a straggler needs siblings to straggle behind
        try:
            q = fetch_json(
                f"{base}/stages/{sid}/{att}/taskSummary"
                "?quantiles=0.0,0.5,0.95,1.0"
            )
        except Exception:
            continue
        dur = q.get("duration") or q.get("executorRunTime")
        if not dur:
            continue
        out.append({
            "stage_id": sid,
            "name": st.get("name", "")[:80],
            "tasks": n,
            "min_ms": dur[0],
            "median_ms": dur[1],
            "p95_ms": dur[2],
            "max_ms": dur[3],
        })
    return out


def straggler_violations(stages: list[dict], factor: float = 4.0,
                         min_median_ms: float = 200.0) -> list[dict]:
    return [
        s for s in stages
        if s["median_ms"] >= min_median_ms
        and s["max_ms"] > factor * s["median_ms"]
    ]


def main() -> None:
    # r6: default volume up 1M -> 4M rows (sourced from the sf10
    # replica) — at 1M/20MB the events file was ONE 128MB-split scan
    # task and every shuffle coalesced to 1 reduce task, so no stage
    # ever had the >=8 tasks the straggler rule needs (see the session
    # conf note below).
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_rows", type=int, nargs="?", default=4_000_000)
    ap.add_argument("hot_permille", type=int, nargs="?", default=950,
                    help="share of rows on the hot key, in permille")
    ap.add_argument("--out", type=Path, help="write the JSON record here too (default: print only)")
    args = ap.parse_args()
    n_rows, hot_permille = args.n_rows, args.hot_permille

    import duckdb

    from adguard2clickhouse_spark.session import get_spark

    work = Path(tempfile.mkdtemp(prefix="skew_bench_"))
    skew_dir = work / "sfskew"
    skew_dir.mkdir()

    # --- skewed events replica at sf1 volume -------------------------------
    # Rebase the sf1 events replica: hot_permille of rows collapse onto
    # ONE user_id (one QH + one IP through the bridge — the "one
    # household" regime); row_group_size keeps the file splittable
    # (the single-row-group trap would serialize the whole test).
    base = REPO / ".localdata" / "sf10"
    if not base.exists():
        base = REPO / ".localdata" / "sf1"
    src_events = base / "events.parquet" if base.exists() else Path(
        "/root/testdata/sf0.1/events.parquet"
    )
    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT event_id, "
        f"CASE WHEN event_id % 1000 < {hot_permille} THEN 7 ELSE user_id END AS user_id, "
        f"event_type, ts, value, props "
        f"FROM '{src_events}' LIMIT {n_rows}) "
        f"TO '{skew_dir}/events.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 16384)"
    )
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"]:
        src = base / f"{t}.parquet"
        if not src.exists():
            src = Path(f"/root/testdata/sf0.1/{t}.parquet")
        shutil.copy(src, skew_dir / f"{t}.parquet")
    n_actual = con.sql(f"SELECT count(*) FROM '{skew_dir}/events.parquet'").fetchone()[0]

    # r6 finding: at 1M-row volume a ~50MB events file is ONE scan
    # split (maxPartitionBytes=128m) and AQE coalesces every tiny
    # shuffle to 1 reduce task — so EVERY batch stage had <8 tasks,
    # the straggler filter dropped them all, and the r5 "zero batch
    # violations" gate was VACUOUS (it checked nothing; artifact
    # showed batch_stage_count=0). Shrink the split and advisory
    # partition sizes so stages run with cluster-like task counts at
    # bench volume; vacuity now fails the run outright.
    spark = get_spark(
        app_name="skew-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes":
                str(1 * 1024 * 1024),
            # scale AQE's skew-split trigger to bench volume (defaults
            # are 256MB partitions — nothing here is that big)
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                str(8 * 1024 * 1024),
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fan = ["a1_blocked_domains", "a2_visited_domains", "a3_clients_stats",
           "a4_qt_stats", "a5_rcode_stats", "a6_stats2", "a7_tld_stats",
           "a8_upstream_stats"]
    for name in fan:  # codegen warmup at tiny SF
        qs[name](spark, "/root/testdata/sf0.001").count()

    batch_times = {}
    t_all = time.time()
    for name in fan:
        t0 = time.time()
        qs[name](spark, str(skew_dir)).count()
        batch_times[name] = round(time.time() - t0, 3)

    # Skewed shuffle-JOIN leg (r6): the a1-a8 fan never reduce-shuffles
    # the hot key — map-side partial aggregation collapses 95% of rows
    # before the exchange (that IS the mechanism; its reduce stages
    # coalesce to nothing). A join keyed on the hot user DOES move the
    # hot key's full row volume through one reduce partition; with
    # broadcast disabled this exercises AQE's skew-join split at
    # system level, and the straggler rule checks the split worked.
    from pyspark.sql import functions as F

    ev = spark.read.parquet(str(skew_dir / "events.parquet"))
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    for k in saved:
        spark.conf.set(k, "-1")
    try:
        t0 = time.time()
        jn = (
            ev.join(dim, "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()[0]["n"]
        )
        batch_times["skew_shuffle_join"] = round(time.time() - t0, 3)
        assert jn == n_actual, (jn, n_actual)
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
    batch_wall = round(time.time() - t_all, 2)

    batch_stages = stage_task_summaries(sc)
    batch_violations = straggler_violations(batch_stages)

    # --- skewed streaming ingest (c1 pipeline) -----------------------------
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    def make_skewed(n: int) -> list[str]:
        from adguard2clickhouse_spark.operators.dnswire import build_answer_b64

        ans = build_answer_b64(a=["93.184.216.34"])
        lines = []
        for i in range(n):
            hot = (i % 1000) < hot_permille
            lines.append(json.dumps({
                "T": f"2024-01-01T{(i // 3600) % 24:02d}:{(i // 60) % 60:02d}:{i % 60:02d}+00:00",
                "QH": "popular.example.com" if hot else f"host{i % 5000}.example.com",
                "QT": "A", "QC": "IN", "CP": "",
                "Upstream": "resolver0.example.net:53",
                "IP": "10.0.0.7" if hot else f"10.1.{i % 16}.{i % 251}",
                "Result": {"IsFiltered": i % 5 == 0},
                "Elapsed": 100_000 + (i % 900_000),
                "Cached": i % 6 == 0,
                "Answer": ans,
            }))
        return lines

    stream_rows = min(n_rows, 300_000)  # bounded stream leg; same skew
    s_src, s_out = work / "src", work / "out"
    s_src.mkdir()
    lines = make_skewed(stream_rows)
    n_files = 10
    per = (len(lines) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = lines[f * per : (f + 1) * per]
        if chunk:
            (s_src / f"log-{f:02d}.jsonl").write_text("\n".join(chunk) + "\n")
    del lines

    # Stage ids are app-global and monotonic: every stage completed so
    # far (warmup + batch fan) has stageId <= mark_id, and the stream's
    # stages get strictly larger ids. Partition the FILTERED summaries
    # by stageId — never by list position: stage_task_summaries drops
    # small/no-summary stages, so a position slice against a RAW count
    # can silently exclude genuine stream stages from the gate (or
    # re-check batch stages as stream ones).
    mark_id = max(
        (s["stageId"] for s in fetch_json(
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"
        )),
        default=-1,
    )
    pipe = QuerylogPipeline(spark, str(s_src), str(s_out))
    t0 = time.time()
    q = pipe.start(available_now=True, max_files_per_trigger=2)
    q.awaitTermination()
    stream_wall = round(time.time() - t0, 2)
    assert pipe.read_log2().count() == stream_rows

    all_stages = stage_task_summaries(sc)
    stream_stages = [s for s in all_stages if s["stage_id"] > mark_id]
    stream_violations = straggler_violations(stream_stages)

    worst = sorted(
        (s for s in batch_stages + stream_stages if s["median_ms"] >= 200),
        key=lambda s: s["max_ms"] / max(s["median_ms"], 1),
        reverse=True,
    )[:5]

    result = {
        "metric": "zipf_skew_ingest",
        "rows": int(n_actual),
        "hot_key_share": hot_permille / 1000,
        "batch_fan_wall_s": batch_wall,
        "batch_fan_queries": batch_times,
        "stream_rows": stream_rows,
        "stream_wall_s": stream_wall,
        "stream_rows_per_s": round(stream_rows / stream_wall, 1),
        "straggler_rule": "max task <= 4x median task per stage (>=8 tasks, median >=200ms)",
        "batch_stage_count": len(batch_stages),
        "stream_stage_count": len(stream_stages),
        "violations": batch_violations + stream_violations,
        "worst_stage_ratios": [
            {
                "name": s["name"],
                "tasks": s["tasks"],
                "median_ms": s["median_ms"],
                "max_ms": s["max_ms"],
                "ratio": round(s["max_ms"] / max(s["median_ms"], 1), 2),
            }
            for s in worst
        ],
    }
    # an empty stage list is a VACUOUS gate, not a passing one
    ok = (
        not (batch_violations or stream_violations)
        and len(batch_stages) >= 3
        and len(stream_stages) >= 3
    )
    result["pass"] = ok
    if not (batch_stages and stream_stages):
        result["error"] = (
            "straggler gate vacuous: a leg produced no stages with >=8 "
            "tasks — the filter dropped everything, so 'zero violations' "
            "would measure nothing"
        )
    if args.out:
        args.out.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
