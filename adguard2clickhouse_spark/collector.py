"""Runnable collector daemon — the reference's process, Spark-first.

The reference ships as a single always-on process (``python
src/collector.py``; /root/reference/Dockerfile:14) that tails the
query log and keeps the aggregate tables fresh. This module is that
deployable surface for the Spark engine:

    python -m adguard2clickhouse_spark.collector \
        --source /var/log/adguard-spool --out /data/dns [--once]

- ``--source``: directory AdGuard querylog JSONL files land in (use
  sources.tailer.TailBridge to bridge a single growing file into it).
- ``--out``: engine state — the date-partitioned log2 fact table, the
  dead-letter channel, and the eight additive aggregate tables.
- ``--once``: drain what's there and exit (availableNow) — cron-style
  operation; default is the always-on micro-batch daemon.

Config mirrors the reference's env-var surface (collector.py:81-87):
``DB_HOST/DB_USER/DB_PASSWORD/DB_DATABASE`` add a ClickHouse insert of
every fact block over HTTP RowBinary (``writer_from_env``); the parquet
summing sinks serve the read API either way.
"""

from __future__ import annotations

import argparse
import os
import sys

from adguard2clickhouse_spark.session import get_spark
from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline


def writer_from_env():
    """The reference's entire sink config is four env vars
    (src/collector.py:81-87): when ``DB_HOST`` is set, every micro-
    batch's fact block is ALSO inserted into ClickHouse ``log2`` over
    the HTTP RowBinary path (sinks/clickhouse.py); otherwise the
    parquet summing sinks alone serve the read API. Returns the
    writer or None."""
    if not os.environ.get("DB_HOST"):
        return None
    from adguard2clickhouse_spark.sinks.clickhouse import ClickHouseHTTPWriter

    return ClickHouseHTTPWriter.from_env()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="adguard2clickhouse_spark.collector",
        description="Tail AdGuard querylog JSONL into fact + aggregate tables.",
    )
    p.add_argument("--source", required=True, help="watched querylog directory")
    p.add_argument("--out", required=True, help="engine output directory")
    p.add_argument(
        "--trigger", default="5 seconds",
        help="micro-batch interval (the reference's async-insert analog)",
    )
    p.add_argument(
        "--once", action="store_true",
        help="process available input and exit (availableNow)",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    p.add_argument(
        "--dedupe-horizon", default=None, metavar="INTERVAL",
        help="drop re-delivered identical lines within this ingest-time "
        "horizon (e.g. '1 hour'); off by default",
    )
    p.add_argument(
        "--rebuild", action="store_true",
        help="backfill all aggregate tables from the log2 fact table, "
        "then exit (recovery / late-added aggregates); stop the "
        "collector daemon on this out_dir first, or epochs it commits "
        "during the rebuild go missing from the aggregates",
    )
    p.add_argument(
        "--report-progress", action="store_true",
        help="print per-run ingest throughput (rows, batches) to stderr",
    )
    p.add_argument(
        "--mv-ddl", default=None, metavar="FILE",
        help="path to a ClickHouse MV DDL file (SummingMergeTree targets "
        "+ materialized views, the reference's format verbatim): each "
        "parsed MV is maintained as an additional streaming aggregate "
        "sink (functions/chsql.py)",
    )
    return p


def run(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="adguard-collector", master=args.master)
    custom = None
    if args.mv_ddl:
        from adguard2clickhouse_spark.functions.chsql import (
            aggregates_from_clickhouse_ddl,
        )

        with open(args.mv_ddl) as f:
            custom = aggregates_from_clickhouse_ddl(f.read())
    pipe = QuerylogPipeline(
        spark, args.source, args.out, clickhouse=writer_from_env(),
        custom_aggregates=custom,
    )
    if args.rebuild:
        pipe.rebuild_aggregates()
        return

    try:
        if args.once:
            pipe.run_available(dedupe_horizon=args.dedupe_horizon)
        else:
            query = pipe.start(  # pragma: no cover
                processing_time=args.trigger, dedupe_horizon=args.dedupe_horizon
            )
            query.awaitTermination()  # pragma: no cover
    finally:
        if args.report_progress:
            print(
                f"progress: {pipe.n_lines} rows in "
                f"{pipe.n_epochs} micro-batches",
                file=sys.stderr,
            )


if __name__ == "__main__":  # pragma: no cover
    run()
