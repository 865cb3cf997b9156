"""Scaling bench: time a decade's queries at a base SF and at a 10x
replica (scripts/gen_scale.py), and record per-query ratios.

The point: convert the "this plan survives 100x" assertions in
tests/test_plans.py into a measured scaling slope. 10x data through a
linear plan should cost <= ~10x wall-clock plus shuffle overhead; a
query over its decade's threshold either gets a plan fix or an
explicit written explanation of its super-linear term in the output
JSON. Rows are recorded: a fast empty result must never read as a
linear plan, so zero rows voids the query's entry.

Decades (``--sf`` names the big side; the committed records are):
  1    sf0.1 -> sf1,   BENCH_sf1.json   (bench headliners + dedup/ANN)
  10   sf1   -> sf10,  BENCH_sf10.json  (linear-plan families, 48g)
  100  sf10  -> sf100, BENCH_sf100.json (linear-plan families, 48g,
       median-of-3 per query, per-SF interleaved: single-shot walls
       deep in a session mis-measure by 2-4x, BENCH_profile_r6.json)

Usage:
    python scripts/gen_scale.py --mult 10 --out .localdata/sf1
    python scripts/bench_scale.py --sf 1 --out BENCH_sf1.json
    python scripts/gen_scale.py --mult 100 --out .localdata/sf10
    python scripts/bench_scale.py --sf 10 --out BENCH_sf10.json
    python scripts/gen_scale.py --mult 1000 --out .localdata/sf100
    python scripts/bench_scale.py --sf 100 --out BENCH_sf100.json

Without ``--out`` the JSON record is printed and nothing is written.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LOCAL = REPO / ".localdata"

# The dedup/ANN family whose scale story is the round-4 headline; the
# rest of bench.BENCH_QUERIES covers the aggregate/join/window shapes.
SF1_EXTRA = [
    "x1_dedup_clusters",
    "x3_ivf_topk",
    "x2_embedding_dup_lsh_reroute95",
    "x2_ngram_jaccard_capped",
]

# Linear-plan families: reference-parity aggregates, the Arrow DNS UDF,
# relational shapes, and the scale-path dedup/ANN variants. The
# quadratic-by-semantics queries (uncapped exact Jaccard) are
# deliberately NOT in this list — their term is measured and explained
# at sf1; re-measuring a known sum(df^2) at 60M rows buys nothing for
# an hour of compute.
SF10_QUERIES = [
    "a1_blocked_domains",
    "a3_clients_stats",
    "a6_stats2",
    "a7_tld_stats",
    "a14_domain_entropy",
    "p7_dns_parse",
    "q1_pricing_summary",
    "x_join_revenue_by_nation",
    "x_window_rank",
    "e_sessions",
    "x1_dedup_count",
    "x2_ngram_jaccard_capped",
    "x2_minhash_lsh",
    "x3_topk_cosine",
    "x4_quality",
    "x4_unigram_logprob",
    "x4_bm25_topk",
    "x4_hashed_bow",
    "x3_pq_topk",
    "x3_ivfadc_topk",
    # r5 (VERDICT ask #3): the two previously-unmeasured heavies, plus
    # the linear-scaling capped twin measured BESIDE the fixed-bits
    # demo form (same pairing as ngram_jaccard / _capped). The demo
    # form's candidate count is n²/2^bits by construction (6-bit
    # buckets grow linearly with n), so its ratio is expected
    # superlinear — the capped entry is the production plan.
    "x1_dedup_clusters",
    "x1_dedup_clusters_capped",
    "x2_embedding_dup_lsh_reroute95",
    "x2_embedding_dup_lsh_capped",
]

# 600M lineitem rows, 100M events, 5M documents, 20M embeddings: this
# decade shows the production plans keep their per-decade ratio at
# 1000x the correctness-gate SF.
SF100_QUERIES = [
    "a1_blocked_domains",
    "a3_clients_stats",
    "a6_stats2",
    "a7_tld_stats",
    "p7_dns_parse",
    "q1_pricing_summary",
    "x_join_revenue_by_nation",
    "x_window_rank",
    "e_sessions",
    "x1_dedup_count",
    "x4_quality",
    "x3_topk_cosine",
    "x4_hashed_bow",
    "x2_minhash_lsh",
    "x2_near_dedup_clusters",
]

# Queries with a KNOWN super-linear term, with the explanation the
# flag demands. Anything else over the threshold is a defect. Notes
# are attached to the output even when the query lands under the
# threshold, so the scaling slope reads with its cause.
EXPECTED_SUPERLINEAR: dict[str, str] = {
    "x2_embedding_dup_lsh_reroute95": (
        "fixed 6-bit signatures put n/2^bits vectors per bucket, so "
        "candidate pairs grow ~n^2 — quadratic BY DESIGN of the demo "
        "form (measured 9.9x wall at 10x data). Its candidate-mass "
        "guard never trips at these corpus sizes (worst-case bound "
        "8e8 < the 2e9 default cap at 20k vectors), so the reroute "
        "contract in its name engages only beyond that; the linear "
        "production policy is the auto-bits + bucket-capped twin "
        "(x2_embedding_dup_lsh_capped, measured alongside)."
    ),
    "x2_ngram_jaccard": (
        "exact (uncapped) Jaccard carries an inherent sum(df^2) term: "
        "a 10x corpus has 10x the occurrences of every hot shingle, so "
        "the inverted-index join on those shingles grows ~100x. This is "
        "a property of the exact semantics, not the plan; the scale "
        "path is max_df (x2_ngram_jaccard_capped, measured alongside), "
        "which bounds per-shingle join width and scales linearly."
    ),
}

# At sf10 -> sf100 the walls are compute-bound, so a ratio NEAR THE 10x
# DATA MULTIPLE is linear scaling at fixed cores — the sublinear
# 1.9-2.9x/decade ratios of BENCH_sf10 were the overhead-amortization
# regime. That decade flags only SUPERLINEAR movement (> 1.2x the data
# multiple) and notes ratios in (6, 12] instead.
LINEAR_NOTE = (
    "compute-bound linear: wall ratio tracks the 10x data multiple at "
    "fixed cores (the sublinear sf1->sf10 ratios were overhead "
    "amortization, which is exhausted by this decade)"
)

# Per decade: base/big SF, query list, flag threshold, repetitions per
# query (the median is reported), and whether the session gets a 48g
# heap. 60M rows / 500k docs across 32 local threads on the default 8g
# heap is ~250 MB/thread — an order of magnitude below any real
# executor (measured r5: the uncapped exact-Jaccard edge join inside
# x1_dedup_clusters OOMs there); 48g models a realistic executor
# memory/core ratio. The LOW-memory behavior is measured separately by
# scripts/bench_spill.py.
DECADES = {
    1: {"sf_base": 0.1, "sf_big": 1.0, "queries": None, "threshold": 15.0,
        "reps": 1, "big_heap": False, "note_over": None,
        "base": "/root/testdata/sf0.1", "big": str(LOCAL / "sf1")},
    # r6 (VERDICT r5 #3): threshold 15x -> 6x, which forces a
    # term-by-term explanation well before "quadratic".
    10: {"sf_base": 1.0, "sf_big": 10.0, "queries": SF10_QUERIES,
         "threshold": 6.0, "reps": 1, "big_heap": True, "note_over": None,
         "base": str(LOCAL / "sf1"), "big": str(LOCAL / "sf10")},
    100: {"sf_base": 10.0, "sf_big": 100.0, "queries": SF100_QUERIES,
          "threshold": 12.0, "reps": 3, "big_heap": True, "note_over": 6.0,
          "base": str(LOCAL / "sf10"), "big": str(LOCAL / "sf100")},
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", type=int, choices=sorted(DECADES), required=True,
                    help="big side of the decade to measure")
    ap.add_argument("--base", help="base SF dir (default: per decade)")
    ap.add_argument("--big", help="big SF dir (default: per decade)")
    ap.add_argument("--threshold", type=float,
                    help="flag ratio (default: per decade)")
    ap.add_argument("--reps", type=int,
                    help="runs per query and SF (default: per decade)")
    ap.add_argument("--out", type=Path, help="write the JSON record here too (default: print only)")
    args = ap.parse_args()
    dec = DECADES[args.sf]
    base_dir = args.base or dec["base"]
    big_dir = args.big or dec["big"]
    threshold = dec["threshold"] if args.threshold is None else args.threshold
    reps = dec["reps"] if args.reps is None else args.reps

    if dec["big_heap"]:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "scripts"))
    import __spark_entry__ as entrymod
    from bench import BENCH_QUERIES, CALIBRATION_REF, _calibrate
    from benchlib import force_count

    from adguard2clickhouse_spark.session import get_spark

    names = dec["queries"] or BENCH_QUERIES + SF1_EXTRA
    calibration = _calibrate()
    spark = get_spark(app_name=f"bench_scale_sf{args.sf}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warmup at sf0.001 (JIT + codegen, not billed to either SF)
    for name in names:
        force_count(qs[name](spark, "/root/testdata/sf0.001"))

    walls: dict[str, dict[str, list[float]]] = {n: {} for n in names}
    rows: dict[str, dict[str, int]] = {n: {} for n in names}
    for tag, sf_dir in [("base", base_dir), ("big", big_dir)]:
        for rep in range(reps):
            for name in names:
                t0 = time.time()
                n = force_count(qs[name](spark, sf_dir))
                wall = round(time.time() - t0, 3)
                walls[name].setdefault(tag, []).append(wall)
                rows[name][tag] = n
                print(f"  [{tag} rep{rep}] {name}: {wall}s ({n} rows)",
                      file=sys.stderr)

    queries, flagged = {}, []
    for name in names:
        base = statistics.median(walls[name]["base"])
        big = statistics.median(walls[name]["big"])
        ratio = round(big / base, 2) if base > 0 else None
        entry = {"sec_base": round(base, 3), "sec_big": round(big, 3),
                 "ratio": ratio, "rows_base": rows[name]["base"],
                 "rows_big": rows[name]["big"],
                 "walls_base": walls[name]["base"],
                 "walls_big": walls[name]["big"]}
        expl = EXPECTED_SUPERLINEAR.get(name)
        if expl:
            entry["superlinear_explained"] = expl
        if entry["rows_big"] == 0:
            entry["flag"] = f"ZERO ROWS at sf{dec['sf_big']:g} — measurement void"
            flagged.append(name)
        elif ratio is not None and ratio > threshold and not expl:
            entry["flag"] = f"ratio {ratio} > {threshold}"
            flagged.append(name)
        elif dec["note_over"] and ratio is not None and ratio > dec["note_over"]:
            entry["note"] = LINEAR_NOTE
        queries[name] = entry

    total_base = sum(q["sec_base"] for q in queries.values())
    total_big = sum(q["sec_big"] for q in queries.values())
    result = {
        "metric": f"scaling_ratio_sf{dec['sf_big']:g}_vs_sf{dec['sf_base']:g}",
        "sf_base": dec["sf_base"],
        "sf_big": dec["sf_big"],
        "data_mult": 10,
        "threshold": threshold,
        "protocol": f"per-SF interleaved, median-of-{reps}",
        "host_calibration_sec": calibration,
        "calibration_ref_sec": CALIBRATION_REF,
        "total_base_sec": round(total_base, 3),
        "total_big_sec": round(total_big, 3),
        "total_ratio": round(total_big / total_base, 2),
        "queries": queries,
        "flagged": flagged,
    }
    if args.out:
        args.out.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
