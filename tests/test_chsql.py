"""ClickHouse-SQL compat layer (functions/chsql.py): ClickHouse MV SQL,
executed on Spark, must equal the native aggregates.

The drop-in parity claim, executed: MV DDL is parsed into (select
body, summing keys, measures) per view, transpiled, and run against
the same log2 frame as operators/aggregates.py. The DDL comes from
tests/fixtures/clickhouse_mv.sql, a repo-authored file using the same
dialect features (splitByChar, 1-based indexing, toStartOfInterval,
isIPv4String/isIPv6String, SummingMergeTree ORDER BY keys), and, when
the reference checkout is present, also VERBATIM from its README
(``REF_README``, lines 24-189), read at test time — nothing of it is
copied into this repo.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from adguard2clickhouse_spark.functions import chsql
from adguard2clickhouse_spark.operators import aggregates as agg

REF_README = pathlib.Path("/root/reference/README.md")
FIXTURE_DDL = pathlib.Path(__file__).parent / "fixtures" / "clickhouse_mv.sql"


def _reference_ddl() -> str:
    if not REF_README.exists():
        pytest.skip("reference README not available in this environment")
    text = REF_README.read_text()
    return "\n".join(re.findall(r"```sql\n(.*?)```", text, re.DOTALL))


@pytest.fixture(params=["fixture", "reference"])
def mv_ddl(request) -> str:
    """The repo's MV DDL fixture always; the reference's verbatim DDL
    as well when it is present."""
    if request.param == "fixture":
        return FIXTURE_DDL.read_text()
    return _reference_ddl()


@pytest.fixture(scope="module")
def log2(spark):
    from adguard2clickhouse_spark.sources.events_bridge import log2_from_events

    return log2_from_events(spark, "/root/testdata/sf0.001")


# -- transpiler unit coverage (self-contained, no reference needed) ---------

def test_indexing_rewrite_is_one_based():
    assert (
        chsql._rewrite_indexing("SELECT arr[1] FROM t")
        == "SELECT element_at(arr, 1) FROM t"
    )
    assert (
        chsql._rewrite_indexing("f(g(x), h(y))[2]")
        == "element_at(f(g(x), h(y)), 2)"
    )
    # nested + qualified names
    assert (
        chsql._rewrite_indexing("t.arr[3] + other[1]")
        == "element_at(t.arr, 3) + element_at(other, 1)"
    )


def test_transpile_strips_db_and_sizes_arrays():
    out = chsql.transpile("SELECT length(splitByChar('.', QH)) FROM AdGuardHome.log2")
    assert out == "SELECT size(splitByChar('.', QH)) FROM log2"


def test_clickhouse_functions_semantics(spark):
    chsql.register_clickhouse_functions(spark)
    rows = spark.sql(
        "SELECT element_at(arrayRotateRight(splitByChar('.', 'x.example.com'), 1), 1) AS tld, "
        "isIPv4String('10.0.0.1') AS v4, isIPv4String('10.0.0.256') AS not_v4, "
        "isIPv6String('::1') AS v6, isIPv6String('x.com') AS not_v6, "
        "toStartOfInterval(timestamp'2024-01-01 00:17:45', toIntervalMinute(10)) AS bucket"
    ).collect()[0]
    assert rows.tld == "com"
    assert rows.v4 and not rows.not_v4
    assert rows.v6 and not rows.not_v6
    assert str(rows.bucket) == "2024-01-01 00:10:00"


def test_sql_udfs_inline_into_codegen(spark):
    """The shims are scalar SQL UDFs — Catalyst inlines them; the plan
    must contain no Python/Batch EvalPython stage."""
    chsql.register_clickhouse_functions(spark)
    df = spark.range(10).selectExpr(
        "element_at(arrayRotateRight(splitByChar('.', concat('h', id, '.ex.com')), 1), 1) AS tld"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert df.count() == 10


# -- the drop-in claim: reference MV SQL == native aggregates ----------------

# MV name (as in the reference DDL and the fixture) → our native
# aggregate. upstream_stats is absent: the reference's upstream_stats MV
# (README.md:159-168) is a verbatim copy-paste of the tld MV — the
# parser surfaces that bug as a name collision (asserted below).
_MV_TO_NATIVE = {
    "blocked_domains_mv": "blocked_domains",
    "client_stats_mv": "clients_stats",
    "qt_stats_mv": "qt_stats",
    "rcode_stats_mv": "rcode_stats",
    "stats2_mv": "stats2",
    "tld_stats_mv": "tld_stats",
    "visited_domains_mv": "visited_domains",
}


def test_reference_mv_sql_matches_native_aggregates(spark, log2, mv_ddl):
    mvs = chsql.parse_mv_ddl(mv_ddl)
    missing = set(_MV_TO_NATIVE) - set(mvs)
    assert not missing, f"MVs not parsed from the DDL: {missing}"
    for mv_name, native_name in _MV_TO_NATIVE.items():
        got_df = chsql.mv_aggregate(spark, log2, mvs[mv_name])
        native_df = agg.ALL_AGGREGATES[native_name](log2)
        cols = sorted(native_df.columns)
        got = {tuple(r) for r in got_df.select(*cols).collect()}
        want = {tuple(r) for r in native_df.select(*cols).collect()}
        assert got == want, f"{mv_name} != native {native_name}"


def test_reference_upstream_mv_bug_surfaces_as_collision(spark):
    """README.md:159-168 defines upstream_stats' MV as a second
    tld_stats_mv writing TO tld_stats — the parser must expose the
    copy-paste (no MV targets upstream_stats), matching SURVEY §2.5
    A8's de-bugged-intent note."""
    ddl = _reference_ddl()
    mvs = chsql.parse_mv_ddl(ddl)
    assert not any(m["target"] == "upstream_stats" for m in mvs.values())
    assert "upstream_stats" not in {m["target"] for m in mvs.values()}


def test_pipeline_maintains_user_mv_ddl_streaming(spark, tmp_path, mv_ddl):
    """Bring-your-own-MV-DDL, end to end: the pipeline maintains
    aggregates parsed from ClickHouse MV DDL as streaming summing
    sinks, and after two micro-batch rounds each custom sink equals the
    one-shot batch answer. The fan-out runs the MV SQL from several
    threads at once — exercising mv_aggregate's no-temp-view thread
    safety."""
    import json as _json

    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
    from adguard2clickhouse_spark.operators.parse import parse_querylog
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    custom = chsql.aggregates_from_clickhouse_ddl(mv_ddl)
    assert set(custom) >= {"blocked_domains", "clients_stats", "stats2", "tld_stats"}

    def line(i, f):
        return _json.dumps({
            "T": f"2024-01-01T00:{i % 40:02d}:{i % 60:02d}+00:00",
            "QH": f"d{i % 5}.example.com", "QT": "A", "QC": "IN", "CP": "",
            "Upstream": f"up{i % 2}", "IP": f"10.9.0.{i % 3}",
            "Result": {"IsFiltered": f}, "Elapsed": 100 + i, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        })

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    batches = [[line(i, i % 3 == 0) for i in range(30)],
               [line(i, i % 4 == 0) for i in range(30, 50)]]
    pipe = QuerylogPipeline(spark, str(src), str(out), custom_aggregates=custom)
    for i, lines in enumerate(batches):
        (src / f"log-{i}.jsonl").write_text("\n".join(lines) + "\n")
        pipe.run_available()

    raw = spark.createDataFrame([(l,) for b in batches for l in b], ["value"])
    good, _ = parse_querylog(raw)
    for name, (fn, keys, measures) in custom.items():
        want = {tuple(r) for r in fn(good).collect()}
        got = {tuple(r) for r in
               pipe.read_aggregate(name).select(*keys, *measures).collect()}
        assert got == want, f"custom sink {name} diverged from batch answer"


def test_pipeline_sql_reads_sinks_in_clickhouse_dialect(spark, tmp_path):
    """The SELECT side of drop-in parity: pipe.sql() answers
    ClickHouse-dialect queries over the maintained tables unchanged."""
    import json as _json

    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    lines = [
        _json.dumps({
            "T": f"2024-01-01T00:00:{i:02d}+00:00",
            "QH": f"d{i % 3}.example.com", "QT": "A", "QC": "IN", "CP": "",
            "Upstream": "up0", "IP": "10.9.1.1",
            "Result": {"IsFiltered": i % 2 == 0}, "Elapsed": 1, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        })
        for i in range(12)
    ]
    (src / "log.jsonl").write_text("\n".join(lines) + "\n")
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.run_available()

    top = pipe.sql(
        "SELECT QH, count FROM blocked_domains ORDER BY count DESC, QH LIMIT 2"
    ).collect()
    assert [r.QH for r in top] == ["d0.example.com", "d1.example.com"]
    # dialect functions + 1-based indexing against the fact table
    tlds = pipe.sql(
        "SELECT arrayRotateRight(splitByChar('.', QH), 1)[1] AS tld, count(*) AS n "
        "FROM AdGuardHome.log2 GROUP BY tld"
    ).collect()
    assert [(r.tld, r.n) for r in tlds] == [("com", 12)]


def test_collector_cli_accepts_mv_ddl_file(spark, tmp_path):
    """--mv-ddl FILE on the deployable entrypoint: a user's DDL file
    becomes live aggregate sinks through the collector CLI."""
    import json as _json

    from adguard2clickhouse_spark.collector import run
    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64

    ddl = tmp_path / "user.sql"
    ddl.write_text(
        "create table by_upstream (Upstream String, count UInt32) "
        "engine = SummingMergeTree ORDER BY Upstream;\n"
        "CREATE MATERIALIZED VIEW by_upstream_mv TO by_upstream (\n"
        " `Upstream` String, `count` UInt8\n) AS\n"
        "SELECT Upstream, 1 AS count FROM AdGuardHome.log2;\n"
    )
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    lines = [
        _json.dumps({
            "T": f"2024-01-01T00:00:{i:02d}+00:00", "QH": "d.example.com",
            "QT": "A", "QC": "IN", "CP": "", "Upstream": f"up{i % 2}",
            "IP": "10.0.0.1", "Result": {}, "Elapsed": 1, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        })
        for i in range(10)
    ]
    (src / "log.jsonl").write_text("\n".join(lines) + "\n")
    run(["--source", str(src), "--out", str(out), "--once",
         "--mv-ddl", str(ddl)])

    import os

    from adguard2clickhouse_spark.sinks.summing import SummingParquetSink

    sink = SummingParquetSink(os.path.join(str(out), "by_upstream"),
                              keys=["Upstream"], measures=["count"])
    got = {r.Upstream: r["count"] for r in sink.read(spark).collect()}
    assert got == {"up0": 5, "up1": 5}


def test_log2_schema_matches_reference_table_verbatim():
    """Parse the reference's `create table log2` DDL (verbatim at test
    time) and assert our LOG2_SCHEMA carries exactly its columns, with
    type mappings consistent with sinks/clickhouse.py's DDL generator
    (String<->string, DateTime<->timestamp, UInt64<->long/bigint,
    Bool<->boolean, Array(IPv4/IPv6/String)<->array<string>,
    LowCardinality(x)<->x, UInt8 rcode<->int)."""
    import re as _re

    from adguard2clickhouse_spark.schemas import LOG2_SCHEMA

    ddl = _reference_ddl()
    m = _re.search(r"create\s+table\s+log2\s*\((.*?)\)\s*engine", ddl,
                   _re.IGNORECASE | _re.DOTALL)
    assert m, "reference log2 DDL not found"
    ref_cols = {}
    for lineno in m.group(1).split(","):
        parts = lineno.split()
        if len(parts) >= 2:
            ref_cols[parts[0].strip("`")] = parts[1]
    ours = {f.name: f.dataType.simpleString() for f in LOG2_SCHEMA.fields}
    assert set(ref_cols) == set(ours), (
        f"column sets differ: ref-only={set(ref_cols) - set(ours)}, "
        f"ours-only={set(ours) - set(ref_cols)}"
    )
    compat = {
        "String": {"string"},
        "LowCardinality(String)": {"string"},
        "LowCardinality(IPv4)": {"string"},
        "DateTime": {"timestamp"},
        "UInt64": {"bigint", "long"},
        "UInt8": {"int", "tinyint", "smallint"},
        "Bool": {"boolean"},
        "Array(IPv4)": {"array<string>"},
        "Array(IPv6)": {"array<string>"},
        "Array(String)": {"array<string>"},
    }
    for name, ch_type in ref_cols.items():
        assert ours[name] in compat[ch_type], (name, ch_type, ours[name])


def test_indexing_rewrite_skips_string_literals():
    """Brackets inside SQL string literals must survive; brackets
    outside them still rewrite; chained indexing resolves inside-out."""
    assert (
        chsql._rewrite_indexing("SELECT 'x[1]' AS s, arr[2] FROM t")
        == "SELECT 'x[1]' AS s, element_at(arr, 2) FROM t"
    )
    assert (
        chsql._rewrite_indexing("a[1][2]")
        == "element_at(element_at(a, 1), 2)"
    )
    assert chsql._rewrite_indexing("'only [3] inside'") == "'only [3] inside'"


def test_read_side_aggregate_renames(spark, tmp_path):
    """Common ClickHouse read-side aggregates transpile: uniq/
    uniqExact/countIf/toDate/toHour run unchanged through pipe.sql."""
    assert chsql.transpile("SELECT uniqExact(IP), uniq(QH), countIf(IsFiltered) FROM t") == (
        "SELECT count(DISTINCT IP), approx_count_distinct(QH), "
        "count_if(IsFiltered) FROM t"
    )
    import json as _json

    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    lines = [
        _json.dumps({
            "T": f"2024-01-0{1 + i % 2}T0{i % 9}:00:00+00:00",
            "QH": f"d{i % 4}.example.com", "QT": "A", "QC": "IN", "CP": "",
            "Upstream": "u", "IP": f"10.7.0.{i % 5}",
            "Result": {"IsFiltered": i % 3 == 0}, "Elapsed": 1, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        })
        for i in range(20)
    ]
    (src / "log.jsonl").write_text("\n".join(lines) + "\n")
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.run_available()
    row = pipe.sql(
        "SELECT uniqExact(IP) AS u_ip, uniqExact(QH) AS u_qh, "
        "countIf(IsFiltered) AS blocked, "
        "uniqExact(toDate(date_time)) AS days, "
        "uniqExact(toHour(date_time)) AS hours "
        "FROM AdGuardHome.log2"
    ).collect()[0]
    assert row.u_ip == 5 and row.u_qh == 4
    assert row.blocked == 7  # i % 3 == 0 for i in 0..19
    assert row.days == 2 and row.hours == 9


def test_negative_indexing_maps_to_element_at(spark):
    """ClickHouse arr[-1] is the LAST element; element_at shares that
    negative-index semantics, so the rewrite is exact — and leaving
    the subscript alone would silently evaluate Spark 0-based
    (advisor finding r4: chsql.py:96)."""
    assert (
        chsql._rewrite_indexing("SELECT arr[-1] FROM t")
        == "SELECT element_at(arr, -1) FROM t"
    )
    row = spark.sql(
        chsql.transpile("SELECT splitByChar('.', 'a.b.c')[-1] AS last")
    ).collect()[0]
    assert row.last == "c"


def test_transpile_rewrites_skip_string_literals():
    """All textual rewrites (db prefix, length→size, aggregate
    renames) are literal-aware — a function name inside a quoted
    constant survives verbatim (advisor finding r4: chsql.py:155)."""
    sql = (
        "SELECT uniq(QH), 'uniq(QH) length(x) AdGuardHome.log2 toDate(y)' AS doc "
        "FROM AdGuardHome.log2 WHERE note != 'countIf(z)'"
    )
    out = chsql.transpile(sql)
    assert "approx_count_distinct(QH)" in out
    assert "'uniq(QH) length(x) AdGuardHome.log2 toDate(y)'" in out
    assert "'countIf(z)'" in out
    assert out.endswith("FROM log2 WHERE note != 'countIf(z)'")


def test_parametric_aggregate_rewrites(spark):
    """argMax/argMin rename to max_by/min_by; uniqUpTo(N)(x) saturates
    the exact distinct count at N+1; boundingRatio is the slope
    between the extreme-x points (NULL for a single point, not an
    ANSI abort)."""
    assert chsql.transpile("SELECT argMax(QH, ts), argMin(QH, ts) FROM t") == (
        "SELECT max_by(QH, ts), min_by(QH, ts) FROM t"
    )
    assert chsql.transpile("SELECT uniqUpTo(3)(QH) FROM t") == (
        "SELECT least(count(DISTINCT QH), 3 + 1) FROM t"
    )
    assert chsql.transpile("SELECT boundingRatio(x, y) FROM t") == (
        "SELECT try_divide(max_by(y, x) - min_by(y, x), "
        "max(x) - min(x)) FROM t"
    )
    # string literals survive untouched
    assert chsql.transpile("SELECT 'uniqUpTo(3)(QH)' AS s FROM t") == (
        "SELECT 'uniqUpTo(3)(QH)' AS s FROM t"
    )
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 5, 7)]
        + [("c", i, i) for i in range(6)],
        "g STRING, x LONG, y LONG",
    )
    df.createOrReplaceTempView("br_t")
    rows = {
        r.g: (r.slope, r.ux, r.am)
        for r in spark.sql(
            chsql.transpile(
                "SELECT g, boundingRatio(x, y) AS slope, "
                "uniqUpTo(3)(x) AS ux, argMax(y, x) AS am "
                "FROM br_t GROUP BY g"
            )
        ).collect()
    }
    # a: (20 - 10) / (3 - 1) = 5; 3 distinct x <= 3+1; y at max x = 20
    assert rows["a"] == (5.0, 3, 20), rows
    # b: single point -> NULL slope, 1 distinct, y at max x = 7
    assert rows["b"] == (None, 1, 7), rows
    # c: 6 distinct x saturates at 4; slope (5-0)/(5-0) = 1
    assert rows["c"] == (1.0, 4, 5), rows
