"""The deployable surface: collector CLI (--once) and the SQL read API
views — a reference user's analyst queries must run verbatim."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.collector import build_parser, run
from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
from adguard2clickhouse_spark.views import (
    register_views_from_log2,
    register_views_from_pipeline,
)


def _write_querylog(path, n=40):
    lines = []
    for i in range(n):
        lines.append(json.dumps({
            "T": f"2024-01-01T00:{i % 60:02d}:00+00:00",
            "QH": f"host{i % 4}.example.com",
            "QT": "A", "QC": "IN", "CP": "",
            "Upstream": "8.8.8.8:53",
            "IP": f"10.0.0.{i % 3}",
            "Result": {"IsFiltered": i % 4 == 0},
            "Elapsed": 1000 + i, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        }))
    path.mkdir(parents=True, exist_ok=True)
    (path / "querylog.json").write_text("\n".join(lines) + "\n")


def test_collector_once_builds_queryable_state(spark, tmp_path):
    src, out = tmp_path / "src", tmp_path / "out"
    _write_querylog(src)
    # the CLI path end-to-end (argparse → pipeline → sinks)
    run(["--source", str(src), "--out", str(out), "--once", "--master", "local[4]"])

    registered = register_views_from_pipeline(spark, str(out))
    assert "log2" in registered and "blocked_domains" in registered

    # the reference user's top-N query, verbatim SQL over the view names
    top = spark.sql(
        "SELECT QH, count FROM blocked_domains ORDER BY count DESC, QH LIMIT 3"
    ).collect()
    assert top[0].QH == "host0.example.com" and top[0]["count"] == 10

    stats = {r.IP: (r.visited, r.blocked) for r in spark.sql(
        "SELECT IP, visited, blocked FROM clients_stats"
    ).collect()}
    assert sum(v + b for v, b in stats.values()) == 40

    # fact table is date-partitioned and complete
    assert spark.sql("SELECT count(*) AS n FROM log2").collect()[0].n == 40


def test_collector_report_progress_counts_lines_and_epochs(
    spark, tmp_path, monkeypatch, capsys
):
    """`--report-progress` prints the pipeline's own running totals:
    every source line (good and dead) and every epoch it recorded."""
    from adguard2clickhouse_spark import collector

    src, out = tmp_path / "src", tmp_path / "out"
    _write_querylog(src, n=30)
    (src / "querylog-2.json").write_text("not json\n" + "{}\n" * 4)
    pipes = []

    class Recording(collector.QuerylogPipeline):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            pipes.append(self)

    monkeypatch.setattr(collector, "QuerylogPipeline", Recording)
    run(["--source", str(src), "--out", str(out), "--once",
         "--report-progress", "--master", "local[4]"])
    (pipe,) = pipes
    epochs = [t for t in pipe.batch_timings if "epoch_id" in t]
    assert sum(t["n_lines"] for t in epochs) == 35
    assert f"progress: 35 rows in {len(epochs)} micro-batches" in (
        capsys.readouterr().err
    )


def test_collector_parser_flags():
    args = build_parser().parse_args(
        ["--source", "/a", "--out", "/b", "--once", "--trigger", "2 seconds"]
    )
    assert args.once and args.trigger == "2 seconds"


def test_views_from_log2_batch(spark, log2_df):
    names = register_views_from_log2(log2_df)
    assert set(names) == {
        "log2", "blocked_domains", "visited_domains", "clients_stats",
        "qt_stats", "rcode_stats", "stats2", "tld_stats", "upstream_stats",
    }
    # lazy views stay consistent with the fact table
    got = {r.QT: r["count"] for r in spark.sql(
        "SELECT QT, count FROM qt_stats"
    ).collect()}
    expect = {r.QT: r.n for r in log2_df.groupBy("QT").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()}
    assert got == expect


def test_collector_rebuild_recovers_sinks(spark, tmp_path):
    """`--rebuild` backfills a destroyed aggregate table from log2 via
    the same CLI surface an operator would use."""
    import shutil

    src, out = tmp_path / "src", tmp_path / "out"
    _write_querylog(src)
    run(["--source", str(src), "--out", str(out), "--once", "--master", "local[4]"])

    from adguard2clickhouse_spark.sinks.summing import SummingParquetSink

    def read_state():
        sink = SummingParquetSink(
            str(out / "qt_stats"), keys=["QT"], measures=["count"]
        )
        return sink.read(spark).collect()

    before = read_state()
    shutil.rmtree(str(out / "qt_stats"))
    run(["--source", str(src), "--out", str(out), "--rebuild", "--master", "local[4]"])
    after = read_state()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))


def test_writer_from_env_gates_on_db_host(monkeypatch):
    """Reference env parity: no DB_HOST → parquet-only; the four DB_*
    vars → an HTTP writer aimed at them."""
    from adguard2clickhouse_spark import collector

    for k in ("DB_HOST", "DB_USER", "DB_PASSWORD", "DB_DATABASE"):
        monkeypatch.delenv(k, raising=False)
    assert collector.writer_from_env() is None

    monkeypatch.setenv("DB_HOST", "ch.internal")
    monkeypatch.setenv("DB_USER", "agh")
    monkeypatch.setenv("DB_PASSWORD", "pw")
    monkeypatch.setenv("DB_DATABASE", "dns")
    w = collector.writer_from_env()
    assert w is not None and w.host == "ch.internal" and w.database == "dns"
