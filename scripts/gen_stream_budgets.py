"""Record per-epoch streaming plan budgets (VERDICT r7 ask #5).

Runs the six streaming gate queries at the correctness SF with the
entry module's stream observer installed, audits each terminated
query via plans/streamaudit.py, and merges the budgets into
tests/plan_budgets.json (streaming entries are dicts; the batch gate
in tests/test_plans.py skips dict values, tests/test_stream_plans.py
executes and enforces these).

Usage: python scripts/gen_stream_budgets.py [sf_dir]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from adguard2clickhouse_spark.plans.streamaudit import (  # noqa: E402
    audit_streaming_query,
)
from adguard2clickhouse_spark.session import get_spark  # noqa: E402

STREAMING_QUERIES = [
    "a6_stats2_stream",
    "c1_stream_pipeline",
    "e_sessions_native_stream",
    "e_sessions_stream",
    "e_stream_dedup",
    "e_stream_interval_join",
]


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Merge the streaming gate queries' per-epoch plan "
        "budgets into tests/plan_budgets.json."
    )
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    sf_dir = ap.parse_args().sf_dir
    spark = get_spark()
    qs = entrymod.queries()
    audits: dict[str, dict] = {}

    def observer(name: str, query) -> None:
        audits[name] = audit_streaming_query(query)

    entrymod._STREAM_OBSERVER = observer
    try:
        for name in STREAMING_QUERIES:
            df = qs[name](spark, sf_dir)
            n = df.count()  # materialize the sink read-back too
            audits[name]["result_rows"] = n
            print(f"{name}: {json.dumps(audits[name])}")
    finally:
        entrymod._STREAM_OBSERVER = None

    budgets_path = REPO / "tests" / "plan_budgets.json"
    budgets = json.loads(budgets_path.read_text())
    for name in STREAMING_QUERIES:
        a = audits[name]
        # A fixture is built so nothing is late; a drop at generation
        # time is a regression to fix NOW, not a budget to record.
        assert a["rows_dropped_by_watermark"] == 0, (
            name, a["rows_dropped_by_watermark"]
        )
        budgets[name] = {
            "exchanges": a["exchanges"],
            "state_operators": a["state_operators"],
            "max_shuffle_partitions": a["max_shuffle_partitions"],
            "rows_dropped_by_watermark": 0,
        }
    budgets_path.write_text(json.dumps(budgets, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(STREAMING_QUERIES)} streaming budgets to {budgets_path}")


if __name__ == "__main__":
    main()
