"""Micro-batch size sweep: quantify the larger-epochs lever (r7 #4).

The per-epoch stage breakdown in BENCH_streaming_r7.json showed fixed
per-epoch cost (planning, state-store open, 8-sink install) is a large
share of the wall at 100k-row epochs; the named-but-unmeasured lever
was "run larger epochs". This measures it directly: the SAME 1M-row
JSONL corpus (20 files x 50k rows, identical bytes across sizes)
ingested end-to-end through QuerylogPipeline — parse, DNS wire UDF,
dead-letter split, fact append, loopback ClickHouse POSTs, 8 additive
aggregate sinks — at 100k / 250k / 500k rows per micro-batch
(maxFilesPerTrigger 2 / 5 / 10), median-of-3, size-interleaved so
session drift lands evenly (the BENCH_profile_r6 lesson).

Records per size: rows/s, epoch count, per-stage walls and shares
(parse materialization, overlapped consumer section, engine overhead,
plus within-section attribution incl. the aggregate fan), and states
the chosen operating point with its reasoning, so "bigger epochs"
becomes a measured claim with an operating point instead of a lever
named in prose.

Usage: python scripts/bench_streaming_sweep.py [n_rows] [reps]
Writes BENCH_streaming_r12.json at the repo root (r12: same protocol,
now with the BACKGROUND incremental tiered compaction (log2 + dead
channel), coalesced fold outputs and trash-retention publishes in
place - holding the r11 line).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench_streaming import make_lines, start_loopback_clickhouse  # noqa: E402

from adguard2clickhouse_spark.session import get_spark  # noqa: E402
from adguard2clickhouse_spark.sinks.clickhouse import (  # noqa: E402
    ClickHouseHTTPWriter,
)
from adguard2clickhouse_spark.streaming.pipeline import (  # noqa: E402
    QuerylogPipeline,
)

# Same frozen reference as bench.py: normalized = value x (REF / this).
CALIBRATION_REF = 1.339


def _calibrate() -> float:
    buf = b"x" * 4096
    samples = []
    for _ in range(3):
        t0 = time.time()
        for _ in range(200_000):
            hashlib.md5(buf).hexdigest()
        samples.append(time.time() - t0)
    return round(statistics.median(samples), 3)


def run_once(spark, src: str, writer, files_per_trigger: int, n_rows: int) -> dict:
    """One full availableNow ingest of the corpus; fresh sink/checkpoint."""
    out = tempfile.mkdtemp(prefix=f"sweep_out_fpt{files_per_trigger}_")
    try:
        pipe = QuerylogPipeline(spark, src, out, clickhouse=writer)
        pipe.batch_timings.clear()
        t0 = time.time()
        q = pipe.start(available_now=True, max_files_per_trigger=files_per_trigger)
        q.awaitTermination()
        wall = time.time() - t0

        serial_keys = ["parse_materialize_s", "overlap_section_s"]
        # the delta step (fused_delta_s) runs inside the aggregate fan
        consumer_keys = [
            "fact_append_s", "dead_letter_s", "clickhouse_insert_s",
            "aggregate_fan_s", "fused_delta_s",
        ]
        stages = {
            k: round(sum(bt.get(k, 0.0) for bt in pipe.batch_timings), 2)
            for k in serial_keys + consumer_keys
        }
        stages["engine_overhead_s"] = round(
            wall - sum(stages[k] for k in serial_keys), 2
        )
        epochs = sum(
            1 for p in q.recentProgress
            if (p if isinstance(p, dict) else {}).get("numInputRows", 0) > 0
        )
        n_fact = pipe.read_log2().count()
        _dead = pipe.dead_sink.read(pipe.spark)
        n_dead = _dead.count() if _dead is not None else 0
        assert n_fact > 0 and epochs > 0, "void run: nothing ingested"
        assert n_fact + n_dead == n_rows, (n_fact, n_dead, n_rows)
        return {
            "wall_s": round(wall, 2),
            "fact_rows": n_fact,
            "dead_letters": n_dead,
            "epochs": epochs,
            "stages": stages,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    n_files = 20
    # files_per_trigger -> rows per micro-batch at 50k rows/file
    sizes = {2: 100_000 * n_rows // 1_000_000,
             5: 250_000 * n_rows // 1_000_000,
             10: 500_000 * n_rows // 1_000_000}

    calibration = _calibrate()
    work = Path(tempfile.mkdtemp(prefix="stream_sweep_"))
    src = work / "src"
    src.mkdir()
    lines = make_lines(n_rows)
    per = (len(lines) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = lines[f * per : (f + 1) * per]
        if chunk:
            (src / f"querylog-{f:04d}.jsonl").write_text("\n".join(chunk) + "\n")
    del lines

    spark = get_spark(app_name="stream-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    srv, ch_stats = start_loopback_clickhouse()
    writer = ClickHouseHTTPWriter(
        host="127.0.0.1", port=srv.server_address[1],
        database="dns", username="agh", password="secret",
    )

    # warm parse/UDF/codegen once, outside all measurements
    warm = work / "warm"
    warm.mkdir()
    (warm / "w.jsonl").write_text("\n".join(make_lines(500)) + "\n")
    QuerylogPipeline(spark, str(warm), str(work / "warm_out")).run_available()

    runs: dict[int, list[dict]] = {fpt: [] for fpt in sizes}
    for _ in range(reps):  # interleave sizes within each rep
        for fpt in sizes:
            runs[fpt].append(run_once(spark, str(src), writer, fpt, n_rows))

    norm = CALIBRATION_REF / calibration
    per_size = {}
    for fpt, rs in runs.items():
        walls = sorted(r["wall_s"] for r in rs)
        med = walls[len(walls) // 2]
        rep = next(r for r in rs if r["wall_s"] == med)  # median rep's stages
        st = rep["stages"]
        per_size[str(sizes[fpt])] = {
            "files_per_trigger": fpt,
            "rows_per_epoch": sizes[fpt],
            "epochs": rep["epochs"],
            "walls_s": walls,
            "wall_s_median": med,
            "rows_per_s": round(n_rows / med, 1),
            "rows_per_s_normalized": round(n_rows / med * norm, 1),
            "stage_walls_s": st,
            "stage_share_of_wall": {
                k: round(v / med, 3) for k, v in st.items() if k.endswith("_s")
            },
            "fan_share_of_wall": round(st["aggregate_fan_s"] / med, 3),
        }

    best = max(per_size.values(), key=lambda s: s["rows_per_s_normalized"])
    result = {
        "metric": "stream_ingest_epoch_sweep",
        "protocol": (
            f"one session, {reps} reps size-interleaved, median wall per "
            "size; identical 20-file JSONL corpus; fresh sinks+checkpoint "
            "per run; loopback ClickHouse live"
        ),
        "rows": n_rows,
        "host_calibration_sec": calibration,
        "calibration_ref_sec": CALIBRATION_REF,
        "per_epoch_rows": per_size,
        "operating_point": {
            "rows_per_epoch": best["rows_per_epoch"],
            "rows_per_s": best["rows_per_s"],
            "rows_per_s_normalized": best["rows_per_s_normalized"],
            "reasoning": (
                "largest measured rows/s; per-epoch fixed cost (planning, "
                "state-store open, 8-sink install) amortizes with epoch "
                "size while every stage stays bounded by the epoch's own "
                "rows — on a cluster the same knob is maxFilesPerTrigger "
                "sized so one epoch's parse output fits executor memory"
            ),
        },
        "reference_ceiling_rows_per_s": 1000,
    }
    (REPO / "BENCH_streaming_r12.json").write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))
    srv.shutdown()
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
