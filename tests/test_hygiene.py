"""Library-hygiene gates.

A library must not flip global conf on a SparkSession it doesn't own
(VERDICT r2 #6 / ADVICE): the only raw ``spark.conf.set`` callsites
allowed in the package are

- ``session.py`` — the ``scoped_conf`` save-and-restore helper (and
  the session builder itself, which uses ``.config`` not ``conf.set``),
- ``sources/tables.py`` — parquet-quirk confs (nanosAsLong, NTZ
  inference) scoped to the read via ``scoped_conf`` (the eager
  schema resolution at load_table time is what consults them;
  ``test_load_table_restores_parquet_confs`` below asserts the
  restore). The one deliberate PERMANENT set is the UTC session
  timezone, documented in that module's docstring.

Everything else goes through ``scoped_conf``, which restores (or
unsets) the caller's previous values on exit.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "adguard2clickhouse_spark"
SCRIPTS = PKG.parent / "scripts"

ALLOWED = {"session.py", "tables.py"}


def test_no_raw_conf_set_outside_allowlist():
    offenders = []
    for path in PKG.rglob("*.py"):
        if path.name in ALLOWED:
            continue
        src = path.read_text()
        for i, line in enumerate(src.splitlines(), start=1):
            stripped = line.split("#", 1)[0]
            if re.search(r"\bconf\.set\(", stripped):
                offenders.append(f"{path.relative_to(PKG)}:{i}: {line.strip()}")
    assert not offenders, (
        "raw spark.conf.set outside session.py/tables.py — use "
        "session.scoped_conf instead:\n" + "\n".join(offenders)
    )


def test_scoped_conf_restores_and_unsets(spark):
    from adguard2clickhouse_spark.session import scoped_conf

    key_existing = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key_existing)
    key_unset = "spark.sql.parquet.aggregatePushdown.test.sentinel"
    # a key Spark doesn't know still round-trips through conf.set/unset
    with scoped_conf(spark, {key_existing: "-1", key_unset: "x"}):
        assert spark.conf.get(key_existing) == "-1"
        assert spark.conf.get(key_unset) == "x"
    assert spark.conf.get(key_existing) == before
    try:
        got = spark.conf.get(key_unset)
    except Exception:
        got = None
    assert got is None


def test_scoped_conf_restores_on_exception(spark):
    from adguard2clickhouse_spark.session import scoped_conf

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        with scoped_conf(spark, {key: "-1"}):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def test_load_table_restores_parquet_confs(spark, tmp_path):
    """load_table's parquet-quirk confs are scoped to the read: the
    session conf is restored afterwards AND the returned lazy
    DataFrame still executes (schema resolution happened inside the
    scope). The one permanent set is the UTC session timezone,
    set-if-different."""
    from adguard2clickhouse_spark.sources.tables import load_table, refresh_tables

    refresh_tables()
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    before_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == before
    assert spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == before_ntz
    rows = df.limit(2).collect()  # post-restore execution
    assert rows and rows[0].ts is not None
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    refresh_tables()


def test_no_duplicate_test_names_in_any_test_module():
    """VERDICT r6 #1: a test module defining the same test name twice
    silently shadows the earlier definition (Python module semantics) —
    the r6 commit replaced the stricter r2 bloom-filter gate this way
    instead of adding a second one. Parse every tests/*.py with ast and
    fail on any duplicate top-level function name (test or helper):
    pytest collects only the last definition, so a duplicate is always
    either dead code or a disabled gate."""
    import ast
    from collections import Counter

    tests_dir = Path(__file__).resolve().parent
    offenders = []
    for mod in sorted(tests_dir.glob("*.py")):
        tree = ast.parse(mod.read_text(), filename=str(mod))
        names = Counter(
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        )
        offenders += [
            f"{mod.name}:{name} x{cnt}" for name, cnt in names.items() if cnt > 1
        ]
    assert not offenders, f"duplicate top-level defs shadow tests: {offenders}"


# Paths whose commits change query semantics: a selfcheck artifact
# stamped before a commit touching any of these no longer describes
# the shipped code. tests/ and bench/doc artifacts are excluded — they
# can't change query results.
_SEMANTIC_SOURCES = [
    "adguard2clickhouse_spark",
    "__spark_entry__.py",
    "bench.py",
    "scripts/selfcheck.py",
]


def _source_commits_after(repo: Path, stamp_head: str) -> list[str]:
    """Commits in stamp_head..HEAD touching any semantic source path
    (empty list = the artifact still describes the shipped code)."""
    out = subprocess.run(
        ["git", "rev-list", "--oneline", f"{stamp_head}..HEAD", "--",
         *_SEMANTIC_SOURCES],
        cwd=repo, capture_output=True, text=True, check=True,
    )
    return [line for line in out.stdout.splitlines() if line.strip()]


def _latest_selfcheck_stamps(repo: Path) -> list[Path]:
    """Every SELFCHECK stamp of the newest round: ``SELFCHECK_rN.json``
    (sf0.01) and its ``SELFCHECK_rN_sf0001.json`` twin (sf0.001)."""
    by_round: dict[int, list[Path]] = {}
    for p in repo.glob("SELFCHECK_r*.json"):
        by_round.setdefault(int(re.search(r"r(\d+)", p.stem).group(1)), []).append(p)
    assert by_round, "no SELFCHECK artifact committed"
    return sorted(by_round[max(by_round)])


def test_latest_selfcheck_artifact_is_not_stale():
    """VERDICT r7 ask #1 (recurred twice): the newest SELFCHECK must
    carry the git HEAD it ran against, and no later commit may touch a
    semantic source path — otherwise the artifact describes code that
    no longer ships and re-running scripts/selfcheck.py is mandatory.
    Artifacts from rounds before the stamp existed are skipped (they
    cannot be verified, which is the very hole this closes)."""
    import json

    import pytest

    repo = Path(__file__).resolve().parent.parent
    for latest in _latest_selfcheck_stamps(repo):
        meta = json.loads(latest.read_text()).get("_meta")
        if meta is None:
            pytest.skip(f"{latest.name} predates the git-HEAD stamp")
        head = meta["git_head"]
        assert not head.startswith("unavailable"), (
            f"{latest.name} was produced outside a git checkout: {head}"
        )
        assert meta.get("source_dirty_at_run") == [], (
            f"{latest.name} ran against uncommitted source edits: "
            f"{meta['source_dirty_at_run']} — commit first, then re-run"
        )
        later = _source_commits_after(repo, head)
        assert not later, (
            f"{latest.name} is STALE: semantic source commits after its "
            f"stamp {head[:12]}: {later} — re-run scripts/selfcheck.py "
            "--json SELFCHECK_r<N>.json as the last code-touching act"
        )


def test_staleness_check_detects_post_stamp_edits():
    """Red-team of the gate mechanism itself: a stamp taken one
    source-touching commit ago MUST report that commit, and a stamp at
    HEAD must report nothing."""
    repo = Path(__file__).resolve().parent.parent
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=repo,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert _source_commits_after(repo, head) == []
    # newest commit that touched a semantic source (the repo has many)
    last_touch = subprocess.run(
        ["git", "rev-list", "-1", "HEAD", "--", *_SEMANTIC_SOURCES],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert last_touch, "repo has no source commits?"
    assert _source_commits_after(repo, f"{last_touch}~1"), (
        "gate failed to flag a known post-stamp source commit"
    )


def test_latest_selfcheck_artifact_covers_every_registered_query():
    """VERDICT r6 #3: r6's last-commit query was registered AFTER the
    final selfcheck run, so it shipped with no recorded runtime. The
    newest SELFCHECK_r*.json must have a row for every queries() entry
    — registering a query obligates re-running scripts/selfcheck.py."""
    import json

    repo = Path(__file__).resolve().parent.parent
    import __spark_entry__ as entrymod

    for latest in _latest_selfcheck_stamps(repo):
        rows = json.loads(latest.read_text())
        missing = sorted(set(entrymod.queries()) - set(rows))
        assert not missing, (
            f"{latest.name} has no row for {missing}; "
            "re-run scripts/selfcheck.py --json SELFCHECK_r<N>.json"
        )


def test_latest_selfcheck_queries_stay_cold_fast():
    """VERDICT r9 ask #4 made permanent: 132 registered queries have
    never drawn a driver CORRECTNESS row, so whenever the rotation
    finally samples them they must pass COLD. The selfcheck records
    each query's cold wall (vanilla session, first execution); hold
    every one under 8 s so operator growth can't silently push the
    tail past the driver's patience. (r9 slowest: 4.85 s.) Each slow
    row is reported with its JVM CPU-s and job count: a stall shows as
    a long wall on the usual CPU and jobs, slower code as more of
    either."""
    import json

    repo = Path(__file__).resolve().parent.parent
    for latest in _latest_selfcheck_stamps(repo):
        rows = json.loads(latest.read_text())
        slow = {
            k: {f: v.get(f) for f in ("secs", "jvm_cpu_s", "jobs")}
            for k, v in rows.items()
            if not k.startswith("_") and v.get("secs", 0) >= 8
        }
        assert not slow, (
            f"{latest.name}: registered queries no longer cold-fast: {slow}"
        )


def test_latest_selfcheck_stamps_have_no_failed_rows():
    """scripts/selfcheck.py writes its stamp even when queries fail. A
    row fails when it is not rows-only and any of its row, schema or
    hash comparisons is false, or when it carries an error — the rule
    the script counts."""
    import json

    repo = Path(__file__).resolve().parent.parent
    for latest in _latest_selfcheck_stamps(repo):
        rows = json.loads(latest.read_text())
        failed = sorted(
            k for k, v in rows.items()
            if not k.startswith("_")
            and (
                v.get("err")
                or (
                    not v.get("rows_only")
                    and not all(
                        v.get(c) for c in ("rows_match", "schema_match", "hash_match")
                    )
                )
            )
        )
        assert not failed, f"{latest.name} has failed rows: {failed}"


@pytest.mark.parametrize(
    "script",
    sorted(
        p.name for p in SCRIPTS.glob("*.py")
        if 'if __name__ == "__main__":' in p.read_text()
    ),
)
def test_script_answers_help(script):
    """Every runnable script parses its arguments before it starts any
    work, so ``--help`` prints usage and exits 0 instead of running a
    bench or crashing on a flag it reads as a positional."""
    out = subprocess.run(
        [sys.executable, str(SCRIPTS / script), "--help"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "usage:" in out.stdout


def test_docs_name_only_existing_paths():
    """The user-facing docs name only files that exist: every
    ``adguard2clickhouse_spark/``, ``scripts/``, ``tests/`` and
    ``perfbench/`` ``.py`` path, and every package-relative one
    (``sinks/facts.py``), in README.md, COVERAGE.md and the verify
    skill. ROADMAP.md is not scanned: it names files still to be
    written."""
    repo = PKG.parent
    subpackages = "|".join(
        p.name for p in PKG.iterdir() if (p / "__init__.py").exists()
    )
    rooted = re.compile(
        r"(?<![\w/.-])((?:adguard2clickhouse_spark|scripts|tests|perfbench)/[\w/]+\.py)"
    )
    relative = re.compile(rf"(?<![\w/.-])((?:{subpackages})/[\w/]+\.py)")
    missing = []
    for doc in ("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md"):
        text = (repo / doc).read_text()
        missing += [
            f"{doc}: {m}" for m in sorted(set(rooted.findall(text)))
            if not (repo / m).exists()
        ]
        missing += [
            f"{doc}: {m}" for m in sorted(set(relative.findall(text)))
            if not (PKG / m).exists()
        ]
    assert not missing, "docs name files that do not exist:\n" + "\n".join(missing)


def test_bench_regression_flag_trips_on_genuine_2x():
    """r12 (VERDICT r11 #1): the per-query perf bar compares NORMALIZED
    values against bases frozen under the full-plan method — and a
    genuine 2x slowdown must still trip it."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import FROZEN_BASE_NORMALIZED, regression_flags

    # unchanged code at the frozen bases: no flags
    assert regression_flags(dict(FROZEN_BASE_NORMALIZED)) == []
    # 1.9x of base: inside the bar (host drift headroom)
    ok = {k: v * 1.9 for k, v in FROZEN_BASE_NORMALIZED.items()}
    assert regression_flags(ok) == []
    # one genuine 2.1x regression: exactly that query trips
    bad = dict(ok)
    bad["x4_quality"] = FROZEN_BASE_NORMALIZED["x4_quality"] * 2.1
    flags = regression_flags(bad)
    assert len(flags) == 1 and "x4_quality" in flags[0], flags
    # a query with no frozen base never crashes the flag pass
    assert regression_flags({"brand_new_query": 99.0}) == []


def test_bench_median_of_sessions_aggregation():
    """r14 (VERDICT r13 #1): the stamp is the per-query MEDIAN across
    fresh sessions — one outlier session (the r13 failure mode: a cold
    or contended JVM measuring +31% across the board) cannot move the
    stamped number. Pure-function check of aggregate_sessions."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import BENCH_QUERIES, aggregate_sessions

    def session(scale: float, cal: float) -> dict:
        q = {name: round(0.3 * scale, 3) for name in BENCH_QUERIES}
        return {
            "value": round(sum(q.values()), 3),
            "queries": q,
            "runs": {name: [v] * 3 for name, v in q.items()},
            "host_calibration_sec": cal,
            "value_normalized": round(sum(q.values()) * 1.339 / cal, 3),
            "codegen_steady_state": {"steady_state_compiles": 0},
            "queries_normalized": {
                name: round(v * 1.339 / cal, 3) for name, v in q.items()
            },
        }

    # two healthy sessions + one 3x-slow outlier: the stamp sits at
    # the healthy level, and every session's totals stay recorded
    out = aggregate_sessions(
        [session(1.0, 1.3), session(1.1, 1.35), session(3.0, 1.3)], sf=0.1
    )
    assert out["protocol"] == "median_of_sessions"
    assert out["n_sessions"] == 3
    for name in BENCH_QUERIES:
        assert out["queries"][name] == round(0.3 * 1.1, 3)
    assert len(out["session_totals"]) == 3
    assert max(out["session_totals"]) > 2 * out["value"]  # outlier kept
    assert out["host_calibration_sec"] == 1.3
    # value is still the sum of per-query medians (the r5-r13 statistic)
    assert out["value"] == round(sum(out["queries"].values()), 3)


def test_bench_final_line_fits_driver_tail_capture():
    """r15 (VERDICT r14 #1): the driver records only the last ~2000
    chars of stdout and parses the FINAL line as the official stamp.
    r14's final line embedded the full per-session forensics and
    overflowed the capture — BENCH_r14.json stamped "parsed": null.
    split_stamp must (a) keep a realistic compact line under the 1900-
    char budget with every contract field intact, and (b) trim extras
    (never contract fields) if a pathological aggregate ever exceeds
    the budget."""
    import json as _json
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import (
        BENCH_QUERIES,
        FINAL_LINE_BUDGET,
        aggregate_sessions,
        split_stamp,
    )

    def session(scale: float, cal: float) -> dict:
        q = {name: round(123.456 * scale, 3) for name in BENCH_QUERIES}
        return {
            "value": round(sum(q.values()), 3),
            "queries": q,
            "runs": {name: [v] * 3 for name, v in q.items()},
            "host_calibration_sec": cal,
            "host_calibration_mc_sec": cal,
            "value_normalized": round(sum(q.values()) * 1.339 / cal, 3),
            "value_normalized_mc": round(sum(q.values()) * 0.794 / cal, 3),
            "codegen_steady_state": {"steady_state_compiles": 0},
            "queries_normalized": {
                name: round(v * 1.339 / cal, 3) for name, v in q.items()
            },
        }

    # realistic worst case: 3 sessions, widest plausible numbers
    result = aggregate_sessions(
        [session(1.0, 1.318), session(1.1, 1.402), session(1.2, 1.355)],
        sf=0.1,
    )
    compact, detail = split_stamp(result)
    line = _json.dumps(compact)
    assert len(line) < FINAL_LINE_BUDGET, (
        f"compact stamp line is {len(line)} chars — would overflow the "
        f"driver's tail capture (budget {FINAL_LINE_BUDGET})"
    )
    # contract + cross-round chain fields survive untrimmed
    for key in ("metric", "value", "unit", "queries", "sf",
                "value_normalized", "protocol", "n_sessions",
                "queries_normalized"):
        assert key in compact, f"compact stamp lost contract field {key}"
    assert compact["protocol"] == "median_of_sessions"
    # the bulky forensics moved to the detail record, not vanished
    assert len(detail["sessions"]) == 3
    assert "runs" in detail["sessions"][0]
    assert "sessions" not in compact

    # pathological aggregate (absurd query names) still lands under
    # budget by shedding trimmable extras — and only those
    big = dict(result)
    big["queries"] = {f"q_{'x' * 40}_{i}": 1.0 for i in range(8)}
    big["queries_normalized"] = dict(big["queries"])
    compact2, detail2 = split_stamp(big)
    assert "queries" in compact2 and "value" in compact2


def test_recursion_row_valve_not_raised_globally(spark):
    """r15 (ADVICE r14): the corpus-sized recursion row valve must live
    only on the sibling session recursion_scoped_session() builds — the
    engine session keeps Spark's conservative default so a user-written
    runaway recursive CTE still trips at 1M rows, while the engine's
    level-bounded suffix rollup gets its sized valve AND still computes
    the right answer."""
    from adguard2clickhouse_spark.session import recursion_scoped_session

    key = "spark.sql.cteRecursionRowLimit"
    assert int(spark.conf.get(key)) <= 1_000_000, (
        "engine session should keep the conservative default valve"
    )
    rec = recursion_scoped_session(spark)
    assert rec is not spark
    assert int(rec.conf.get(key)) == 2_000_000_000
    # cached: repeated calls reuse one sibling (per-session DataFrame
    # caches and analyzed views survive across bench reps)
    assert recursion_scoped_session(spark) is rec

    # the registered query still runs and agrees with the a10 rollup
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = {
        (r.suffix, r["count"])
        for r in entrymod.queries()["x_recursive_suffixes"](spark, sf).collect()
    }
    a10 = {
        (r.suffix, r["count"])
        for r in entrymod.queries()["a10_domain_hierarchy"](spark, sf)
        .select("suffix", "count")
        .collect()
    }
    assert rows == a10
    assert rows, "suffix rollup must be non-empty at sf0.001"
