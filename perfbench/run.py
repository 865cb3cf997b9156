"""Collector benchmark: the always-on AdGuard-to-ClickHouse path, end to end.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 8 --trace 0

Each run drives the package through its public entry points, the way a
user runs the collector and then queries it:

1. **warm-up** -- start the Spark session, run one pipeline over a warm-up
   file and one dashboard query on its tables (recorded, not reported).
2. **set-up** -- five times, build a ``QuerylogPipeline`` and start its
   stream up to its first trigger; ``setup_s`` is the median.
3. **ingest** -- the workload's load (see ``WORKLOADS``) lands JSONL files
   from one generator process; the pipeline parses them, appends ``log2``
   and the dead letters, folds the eight summing sinks and POSTs RowBinary
   to a loopback ClickHouse.
4. **read** -- one pass of the ClickHouse-dialect dashboard queries
   through ``QuerylogPipeline.sql``.
5. **verify** -- fact plus dead lines equal the generated lines; dead
   lines equal the generated bad lines; each sink equals its aggregate
   over ``log2``; loopback rows equal fact rows; each dashboard query
   equals the same SQL over views computed from ``log2``.

The last stdout line is the result JSON. ``--trace 1`` runs the same
phases with spans around the package's public calls and Spark's event
log on, sweeps the ``bench.py`` headliners over seeded catalog tables
(checked against their DuckDB oracles), adds a ``local[1]`` drain of the
same input, and reports the per-layer metrics instead of the end-to-end
ones. Everything the run writes stays under ``.perfbench/`` in the
checkout. See ``README.md`` beside this file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")

# Input properties per workload; the generator receives them as flags.
WORKLOADS = {
    # open loop: ~1k lines/s of a household's traffic in 80-line files
    "trickle": {
        "mode": "schedule", "rate": 1000, "lines_per_file": 80,
        "clients": 40, "domains": 3000, "distinct_answers": 0.0,
        "days": 3, "ts_step": 17,
    },
    # closed loop: a backlog drained in epochs at the 200k-row fused-delta
    # crossover; thousands of clients, ~all answer packets distinct
    "backfill": {
        "mode": "backlog", "lines_per_file": 51_500, "files_per_epoch": 4,
        "clients": 5000, "domains": 300_000, "distinct_answers": 0.98,
        "days": 7, "ts_step": 1,
    },
}
CATALOG_SCALE = 0.005
SETUP_REPS = 5
HEAP = "2g"
# Warm-up runs one dashboard query: its sql() call registers every view.
WARM_QUERIES = ("stats2_hourly",)
TRIGGER = "1 second"

# ClickHouse-dialect dashboard mix, answered from the collector's tables.
DASHBOARD = {
    "top_blocked":
        "SELECT QH, count FROM AdGuardHome.blocked_domains "
        "ORDER BY count DESC, QH LIMIT 10",
    "top_clients":
        "SELECT IP, visited, blocked FROM AdGuardHome.clients_stats "
        "ORDER BY visited + blocked DESC, IP LIMIT 20",
    "stats2_hourly":
        "SELECT toStartOfInterval(date_time, toIntervalMinute(60)) AS hour, "
        "splitByChar('.', IP)[2] AS net, sum(visited) AS visited, "
        "sum(blocked) AS blocked FROM AdGuardHome.stats2 "
        "WHERE date_time >= '2024-03-01 06:00:00' "
        "AND date_time < '2024-03-01 18:00:00' "
        "GROUP BY hour, net ORDER BY hour, net",
    "log2_day":
        "SELECT QT, count(*) AS n, uniqExact(IP) AS clients, "
        "countIf(IsFiltered) AS blocked FROM AdGuardHome.log2 "
        "WHERE date = '2024-03-01' GROUP BY QT ORDER BY QT",
}

# Per-layer metrics of a --trace 1 run, with units.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "pipeline.epoch_s_p50": "s",
    "pipeline.epoch_self_s": "s",
    "pipeline.epoch_children_s_p50": "s",
    "pipeline.rows_per_epoch_p50": "count",
    "pipeline.epochs": "count",
    "pipeline.local1_rows_per_s": "1/s",
    "sources.trigger_overhead_s_p50": "s",
    "sources.lag_files_max": "count",
    "sources.files": "count",
    "dnswire.distinct_answer_share": "ratio",
    "dnswire.parse_us_per_answer": "us",
    "summing.fan_s_p50": "s",
    "summing.fold_s_total": "s",
    "summing.fold_calls": "count",
    "summing.dense_share": "ratio",
    "summing.state_rows_end": "count",
    "summing.state_bytes_end": "B",
    "summing.files_end": "count",
    "facts.append_s_p50": "s",
    "facts.compact_calls": "count",
    "facts.compact_s_total": "s",
    "facts.slots_end": "count",
    "facts.bytes_end": "B",
    "clickhouse.insert_s_p50": "s",
    "clickhouse.posts": "count",
    "clickhouse.bytes": "B",
    "clickhouse.rows_per_post": "count",
    "clickhouse.post_failures": "count",
    "chsql.sql_call_s_p50": "s",
    "chsql.execute_s_p50": "s",
    **{f"catalog.{q}_s": "s" for q in (
        "a1_blocked_domains", "a3_clients_stats", "a6_stats2", "a7_tld_stats",
        "p7_dns_parse", "q1_pricing_summary", "x_join_revenue_by_nation",
        "x_window_rank", "e_sessions", "x1_dedup_count", "x2_ngram_jaccard",
        "x2_minhash_lsh", "x3_topk_cosine", "x4_quality")},
    "spark.jobs_per_epoch": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.spill_bytes": "B",
    # the same run's end-to-end figures: minus the untraced medians,
    # they are the tracing overhead
    "traced.setup_s": "s",
    "traced.rows_per_s": "1/s",
    "traced.cpu_s_per_krow": "s",
    "traced.freshness_s_p50": "s",
    "traced.query_s_p50": "s",
    "traced.sweep_s": "s",
}

E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "cpu_s_per_krow": "s",
    "freshness_s_p50": "s", "freshness_s_p90": "s",
    "query_s_p50": "s", "sweep_s": "s",
    "peak_rss_mb": "MB",
}


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(q / 100 * len(s)) - 1))]


# -- child processes ----------------------------------------------------------
class Child:
    """A helper process whose stdout speaks one word per step."""

    def __init__(self, argv: list[str], stdin: bool = False):
        self.proc = subprocess.Popen(
            [sys.executable, *argv], stdout=subprocess.PIPE, text=True,
            stdin=subprocess.PIPE if stdin else subprocess.DEVNULL,
        )

    def expect(self, word: str) -> str:
        """Read lines until one starts with ``word`` (a hang is cut by the
        run's alarm)."""
        for line in self.proc.stdout:
            if line.split()[0] == word:
                return line.strip()
        raise RuntimeError(f"{self.proc.args[1]} exited before '{word}'")

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def stop(self, timeout: float = 30.0) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        for f in (self.proc.stdin, self.proc.stdout):
            if f:
                f.close()


def loopback_call(port: int, path: str, method: str = "GET") -> dict:
    import urllib.request

    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method=method,
                                 data=b"" if method == "POST" else None)
    with urllib.request.urlopen(req, timeout=60) as resp:
        body = resp.read()
    return json.loads(body) if body else {}


# -- checkpoint reading (the file source's own log, read from outside) --------
def committed_batches(checkpoint: str) -> dict[int, dict]:
    """batch id -> {"commit": unix time, "files": [basenames]} for every
    batch with a commit marker."""
    out = {}
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return out
    for name in os.listdir(commits):
        if not name.isdigit():
            continue
        bid = int(name)
        with open(os.path.join(checkpoint, "sources", "0", name)) as f:
            files = [os.path.basename(json.loads(line)["path"])
                     for line in f.read().splitlines()[1:] if line.strip()]
        out[bid] = {"commit": os.path.getmtime(os.path.join(commits, name)),
                    "files": files}
    return out


def wait_committed(checkpoint: str, n_files: int, timeout: float) -> dict[int, dict]:
    deadline = time.time() + timeout
    while True:
        batches = committed_batches(checkpoint)
        if sum(len(b["files"]) for b in batches.values()) >= n_files:
            return batches
        if time.time() > deadline:
            raise TimeoutError(f"only {sum(len(b['files']) for b in batches.values())}"
                               f" of {n_files} files committed")
        time.sleep(0.05)


# -- the run -----------------------------------------------------------------
class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.checks = None
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "nproc": self.nproc}
        self.tracer = None
        self.ch_port: int | None = None
        self.exclude: set[int] = set()
        self.sampler = None
        self.ingest_window: tuple[float, float] | None = None

    # .. environment ..........................................................
    def prepare_dirs(self) -> None:
        shutil.rmtree(WORK, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "eventlog", "spool"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        tmp = os.path.join(WORK, "tmp")
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
        # every JVM (the spark-submit launcher too): temp files in the
        # checkout, no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP

    def spark_conf(self, eventlog: bool) -> dict:
        conf = {
            # A fixed, pre-touched heap, as a daemon would run: resident
            # memory then moves with off-heap and Python-worker memory,
            # not with when G1 chose to grow the heap.
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
            conf["spark.eventLog.compress"] = "false"
        return conf

    def writer(self, database: str):
        from adguard2clickhouse_spark.sinks.clickhouse import ClickHouseHTTPWriter

        return ClickHouseHTTPWriter(host="127.0.0.1", port=self.ch_port,
                                    database=database, username="bench",
                                    password="bench")

    def generator_argv(self) -> list[str]:
        s, secs = self.spec, self.args.seconds
        if s["mode"] == "schedule":
            files = int(round(secs * s["rate"] / s["lines_per_file"]))
        else:
            files = s["files_per_epoch"] * max(1, int(round(secs / 10)))
        argv = [
            os.path.join(HERE, "gen.py"), s["mode"], "--seed", str(self.args.seed),
            "--out", os.path.join(WORK, "src"),
            "--manifest", os.path.join(WORK, "manifest.json"),
            "--warm-out", os.path.join(WORK, "warm"),
            "--files", str(files), "--lines-per-file", str(s["lines_per_file"]),
            "--clients", str(s["clients"]), "--domains", str(s["domains"]),
            "--distinct-answers", str(s["distinct_answers"]),
            "--days", str(s["days"]), "--ts-step", str(s["ts_step"]),
        ]
        if s["mode"] == "schedule":
            argv += ["--rate", str(s["rate"])]
        if self.args.trace:
            argv += ["--catalog-out", os.path.join(WORK, "catalog"),
                     "--scale", str(CATALOG_SCALE)]
        return argv

    # .. phases ...............................................................
    def session(self, cores: int, eventlog: bool):
        from adguard2clickhouse_spark.session import get_spark

        t0 = time.time()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=self.spark_conf(eventlog))
        spark.sparkContext.setLogLevel("ERROR")
        return spark, time.time() - t0

    def dashboard_round(self, pipe, names=tuple(DASHBOARD)) -> dict:
        """One pass over the dashboard mix: name -> (sql_s, execute_s, rows),
        split at the return of ``sql()`` (registration, transpile, analysis)."""
        out = {}
        for name in names:
            q = DASHBOARD[name]
            self.attempted += 1
            try:
                t0 = time.time()
                df = pipe.sql(q)
                t1 = time.time()
                rows = df.collect()
                t2 = time.time()
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                self.failed += 1
                self.record.setdefault("query_errors", []).append(f"{name}: {e}"[:300])
                continue
            out[name] = (t1 - t0, t2 - t1, rows)
        return out

    def warm_up(self, spark) -> None:
        """Cold start, recorded but not reported: one pipeline run over the
        warm-up file and one dashboard pass on its tables fill the JIT, the
        codegen cache and the Python worker pool before anything is timed."""
        from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

        t0 = time.time()
        pipe = QuerylogPipeline(spark, os.path.join(WORK, "warm"),
                                os.path.join(WORK, "warmup"),
                                clickhouse=self.writer("warmup"))
        pipe.run_available()
        self.attempted += 1
        self.dashboard_round(pipe, WARM_QUERIES)
        self.record["warmup_s"] = time.time() - t0

    def setup(self, spark) -> None:
        """``setup_s``: build a pipeline and start its stream, up to the end
        of its first trigger (median of SETUP_REPS, over an empty source)."""
        from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

        empty = os.path.join(WORK, "empty")
        os.makedirs(empty, exist_ok=True)
        walls = []
        for i in range(SETUP_REPS):
            t0 = time.time()
            pipe = QuerylogPipeline(spark, empty, os.path.join(WORK, f"setup{i}"),
                                    clickhouse=self.writer(f"setup{i}"))
            query = pipe.start(processing_time=TRIGGER)
            query.processAllAvailable()
            walls.append(time.time() - t0)
            query.stop()
        self.record["setup_walls_s"] = walls
        self.metrics["setup_s"] = statistics.median(walls)

    def tree_cpu(self) -> float:
        """CPU seconds of the collector's process tree, less what the
        benchmark's own memory sampler thread spent."""
        import procs

        return procs.cpu_seconds(os.getpid(), self.exclude) - self.sampler.cpu_s

    def ingest(self, spark, gen: Child) -> dict:
        from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

        src, out = os.path.join(WORK, "src"), os.path.join(WORK, "out")
        pipe = QuerylogPipeline(spark, src, out, clickhouse=self.writer("dns"))
        if self.spec["mode"] == "schedule":
            gen.expect("ready")
            query = pipe.start(processing_time=TRIGGER)
            # Spark fires processing-time triggers on whole multiples of
            # the interval: land the first file just after one, so the
            # first epoch's intake does not depend on when the run began.
            t0 = math.ceil(time.time() + 0.5) + 0.02
            cpu0 = self.tree_cpu()
            gen.send(f"go {t0}")
            gen.expect("done")
        else:
            gen.expect("done")
            t0 = time.time()
            cpu0 = self.tree_cpu()
            query = pipe.start(available_now=True)
        with open(os.path.join(WORK, "manifest.json")) as f:
            manifest = json.load(f)
        n_files = len(manifest["files"])
        batches = wait_committed(pipe.checkpoint_dir, n_files,
                                 timeout=self.args.seconds * 4 + 90)
        cpu1 = self.tree_cpu()
        t_done = max(b["commit"] for b in batches.values())
        if self.spec["mode"] == "backlog":
            query.awaitTermination()
        query.stop()  # the last batch reports its progress after its commit
        pipe.join_maintenance()
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in query.recentProgress]
        progress = [p for p in progress if p["numInputRows"] > 0]
        self.attempted += len(batches)
        if query.exception() is not None:
            self.failed += 1
            self.record["stream_error"] = str(query.exception())[:500]

        due = {r["name"]: (r["due"] if r["due"] is not None else t0)
               for r in manifest["files"]}
        commit_of = {f: b["commit"] for b in batches.values() for f in b["files"]}
        fresh = [commit_of[n] - due[n] for n in sorted(due)]
        lines = manifest["lines"]
        wall = t_done - min(due.values())
        self.metrics.update({
            "rows_per_s": lines / wall,
            "cpu_s_per_krow": (cpu1 - cpu0) / (lines / 1000),
            "freshness_s_p50": statistics.median(fresh),
            "freshness_s_p90": pct(fresh, 90),
        })
        self.record.update({
            "files": n_files, "lines": lines, "epochs": len(batches),
            "ingest_wall_s": wall, "ingest_cpu_s": cpu1 - cpu0,
            "gen_late_s_max": manifest["gen_late_s_max"],
            "freshness_samples": len(fresh),
        })
        # lag: files due but not yet committed, just before each commit
        lag = []
        done_files = 0
        for bid in sorted(batches):
            b = batches[bid]
            lag.append(sum(1 for d in due.values() if d <= b["commit"]) - done_files)
            done_files += len(b["files"])
        self.record["epoch_commits"] = [
            (bid, len(batches[bid]["files"]), batches[bid]["commit"] - t0)
            for bid in sorted(batches)]
        quarter = max(1, len(fresh) // 4)
        self.record["valid"] = (
            manifest["gen_late_s_max"] <= 1.0
            and statistics.median(fresh[-quarter:]) <= 2 * statistics.median(fresh) + 1.0
        )
        return {"pipe": pipe, "manifest": manifest, "batches": batches,
                "progress": progress, "t0": t0, "t_done": t_done, "lag": lag,
                "due": due}

    def read_phase(self, spark, pipe) -> dict:
        # Start from a collected heap, so the pass does not pay for the
        # garbage the ingest left at a time that differs run to run.
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        done = self.dashboard_round(pipe)
        self.metrics["sweep_s"] = time.time() - t0
        lat = {n: sq + ex for n, (sq, ex, _) in done.items()}
        self.metrics["query_s_p50"] = statistics.median(lat.values())
        self.record["query_latencies_s"] = lat
        return {
            "sql": [sq for sq, _, _ in done.values()],
            "exe": [ex for _, ex, _ in done.values()],
            "dash": {n: rows for n, (_, _, rows) in done.items()},
            "head": {}, "head_s": {},
        }

    def catalog_sweep(self, spark, read: dict) -> None:
        """The 14 ``bench.py`` headliners over the seeded catalog tables:
        one warm-up sweep, then one timed sweep (traced runs only)."""
        import __spark_entry__ as entry
        from bench import BENCH_QUERIES

        qs = entry.queries()
        catalog = os.path.join(WORK, "catalog")
        for _ in range(2):
            for name in BENCH_QUERIES:
                self.attempted += 1
                try:
                    t0 = time.time()
                    read["head"][name] = qs[name](spark, catalog).toPandas()
                    read["head_s"][name] = time.time() - t0
                except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                    self.failed += 1
                    self.record.setdefault("query_errors", []).append(f"{name}: {e}"[:300])

    def verify(self, spark, ing: dict, read: dict) -> None:
        """Run every output check; the Spark jobs and the loopback row
        count are independent, so they are submitted concurrently."""
        from concurrent.futures import ThreadPoolExecutor

        import oracle
        from adguard2clickhouse_spark.functions import chsql
        from adguard2clickhouse_spark.operators.aggregates import ALL_AGGREGATES
        from adguard2clickhouse_spark.views import register_views_from_log2

        checks = self.checks = oracle.Checks()
        pipe, manifest = ing["pipe"], ing["manifest"]
        log2 = pipe.read_log2().persist()
        try:
            dead_df = pipe.dead_sink.read(spark)
            sinks = {n: pipe.read_aggregate(n) for n in pipe.sinks}
            register_views_from_log2(log2)
            with ThreadPoolExecutor(max_workers=24) as pool:
                lb = pool.submit(loopback_call, self.ch_port, "/rows")
                fact = pool.submit(log2.count)
                dead = pool.submit(dead_df.count) if dead_df is not None else None
                digests = {
                    n: (pool.submit(oracle.multiset_digest, df),
                        pool.submit(oracle.multiset_digest,
                                    ALL_AGGREGATES[n](log2).select(*df.columns)))
                    for n, df in sinks.items()
                }
                dash = {n: pool.submit(lambda q: spark.sql(chsql.transpile(q)).collect(),
                                       DASHBOARD[n])
                        for n in read["dash"]}
                n_fact = fact.result()
                n_dead = dead.result() if dead is not None else 0
                for n, (got, want) in digests.items():
                    got, want = got.result(), want.result()
                    checks.add(f"sink.{n}", got == want,
                               None if got == want else {"sink": got, "from_log2": want})
                for n, fut in dash.items():
                    want = fut.result()
                    checks.add(f"dashboard.{n}", read["dash"][n] == want, {"rows": len(want)})
                ch = lb.result()
        finally:
            log2.unpersist()
        c = manifest["counts"]
        n_bad = c["bad_json"] + c["missing_key"] + c["bad_answer"]
        checks.add("lines", n_fact + n_dead == manifest["lines"],
                   {"fact": n_fact, "dead": n_dead, "generated": manifest["lines"]})
        checks.add("dead_lines", n_dead == n_bad, {"dead": n_dead, "bad": n_bad})
        got = ch["rows_by_database"].get("dns", 0)
        checks.add("loopback_rows", got == n_fact, {"loopback": got, "fact": n_fact})
        checks.add("loopback_clean", ch["torn_blocks"] == 0 and ch["duplicates"] == 0,
                   {"torn": ch["torn_blocks"], "duplicates": ch["duplicates"]})
        self.attempted += ch["posts"]
        self.failed += ch["refused"]
        self.record["loopback"] = ch
        self.record["fact_rows"], self.record["dead_rows"] = n_fact, n_dead

        oracles = oracle.duckdb_oracles(os.path.join(WORK, "catalog"),
                                        sorted(read["head"]), self.nproc) if read["head"] else {}
        for name, pdf in read["head"].items():
            want = oracles[name]
            if want is None:  # no SQL oracle: rows-only, as the self-check does
                checks.add(f"catalog.{name}", len(pdf) > 0, {"rows": len(pdf)})
            else:
                checks.add(f"catalog.{name}", oracle.frames_equal(pdf, want),
                           {"rows": len(pdf), "oracle_rows": len(want)})
        self.attempted += len(checks.results)
        self.failed += len(checks.failed)

    # .. tracing ...............................................................
    def trace_layers(self, spark, ing: dict, read: dict) -> None:
        from adguard2clickhouse_spark.operators import dnswire

        tr, L = self.tracer, self.layers
        t0, t_done = ing["t0"], ing["t_done"]
        epochs = {s.epoch: s for s in tr.named("pipeline.process_batch", since=t0 - 1)}
        trig = {p["batchId"]: p["durationMs"]["triggerExecution"] / 1000
                for p in ing["progress"]}
        rows = {p["batchId"]: p["numInputRows"] for p in ing["progress"]}
        ids = sorted(set(epochs) & set(trig))
        med = statistics.median
        L["pipeline.epoch_s_p50"] = med([trig[i] for i in ids])
        L["pipeline.epoch_self_s"] = med([tr.self_time(epochs[i]) for i in ids])
        L["pipeline.epoch_children_s_p50"] = med(
            [epochs[i].end - epochs[i].start - tr.self_time(epochs[i]) for i in ids])
        L["pipeline.rows_per_epoch_p50"] = med([rows[i] for i in ids])
        L["pipeline.epochs"] = len(ids)
        L["sources.trigger_overhead_s_p50"] = med(
            [trig[i] - (epochs[i].end - epochs[i].start) for i in ids])
        L["sources.lag_files_max"] = max(ing["lag"])
        L["sources.files"] = len(ing["due"])
        m = ing["manifest"]
        L["dnswire.distinct_answer_share"] = m["distinct_answer_share"]
        walls = []
        for _ in range(3):
            dnswire._parse_cached.cache_clear()
            a = time.perf_counter()
            for ans in m["answers"]:
                dnswire.parse_answer_b64(ans)
            walls.append(time.perf_counter() - a)
        L["dnswire.parse_us_per_answer"] = med(walls) / len(m["answers"]) * 1e6

        folds = tr.named("summing.apply_delta", since=t0 - 1)
        per_epoch: dict[int, float] = {}
        for s in folds:
            if s.epoch in epochs:
                per_epoch[s.epoch] = max(per_epoch.get(s.epoch, 0.0), s.end - s.start)
        L["summing.fan_s_p50"] = med(per_epoch.values())
        L["summing.fold_s_total"] = sum(s.end - s.start for s in folds)
        L["summing.fold_calls"] = len(folds)
        L["summing.dense_share"] = sum(s.attrs["dense"] for s in folds) / len(folds)
        pipe = ing["pipe"]
        state_rows = state_bytes = state_files = 0
        for sink in pipe.sinks.values():
            df = sink.read(spark)
            files = df.inputFiles()
            state_rows += df.count()
            state_files += len(files)
            state_bytes += sum(os.path.getsize(f.removeprefix("file:")) for f in files)
        L["summing.state_rows_end"] = state_rows
        L["summing.state_bytes_end"] = state_bytes
        L["summing.files_end"] = state_files

        appends = [s for s in tr.named("facts.append", since=t0 - 1)
                   if s.attrs["sink"] == "log2"]
        L["facts.append_s_p50"] = med([s.end - s.start for s in appends])
        compacts = tr.named("facts.compact", since=t0 - 1)
        L["facts.compact_calls"] = len(compacts)
        L["facts.compact_s_total"] = sum(s.end - s.start for s in compacts)
        files = [f.removeprefix("file:") for f in pipe.read_log2().inputFiles()]
        rel = [os.path.relpath(f, pipe.log2_path) for f in files]
        L["facts.slots_end"] = len({r.split(os.sep)[0] for r in rel})
        L["facts.bytes_end"] = sum(os.path.getsize(f) for f in files)

        inserts = tr.named("clickhouse.insert_batch", since=t0 - 1)
        ch = self.record["loopback"]
        posts = ch["by_database"]["dns"]["posts"]
        L["clickhouse.insert_s_p50"] = med([s.end - s.start for s in inserts])
        L["clickhouse.posts"] = posts
        L["clickhouse.bytes"] = ch["by_database"]["dns"]["bytes"]
        L["clickhouse.rows_per_post"] = ch["rows_by_database"]["dns"] / posts
        L["clickhouse.post_failures"] = ch["refused"] + ch["torn_blocks"]

        L["chsql.sql_call_s_p50"] = med(read["sql"])
        L["chsql.execute_s_p50"] = med(read["exe"])
        for name, secs in read["head_s"].items():
            L[f"catalog.{name}_s"] = secs
        self.ingest_window = (t0 - 1, t_done + 0.5)

    def local1_leg(self, session_fn) -> None:
        """Closed-loop drain of this run's input files on ``local[1]``:
        the single-threaded baseline for the same work."""
        from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

        spark, _ = session_fn(1, False)
        try:
            pipe = QuerylogPipeline(spark, os.path.join(WORK, "src"),
                                    os.path.join(WORK, "out_local1"),
                                    clickhouse=self.writer("local1"))
            t0 = time.time()
            pipe.run_available()
            wall = time.time() - t0
            with open(os.path.join(WORK, "manifest.json")) as f:
                lines = json.load(f)["lines"]
            dead = pipe.dead_sink.read(spark)
            n = pipe.read_log2().count() + (dead.count() if dead is not None else 0)
            self.attempted += 1
            if not self.checks.add("local1.lines", n == lines, {"lines": n}):
                self.failed += 1
            self.layers["pipeline.local1_rows_per_s"] = lines / wall
        finally:
            spark.stop()


def stop_gateway() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import adguard2clickhouse_spark
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not adguard2clickhouse_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: adguard2clickhouse_spark is not the copy under {ROOT}",
              file=sys.stderr)
        return 2
    import procs
    from spans import Tracer, fold_event_log

    def bail(signum, _frame):
        raise TimeoutError(f"perfbench: stopped by signal {signum}")

    # finish inside the 180 s a run may take, and clean up on SIGTERM too
    signal.signal(signal.SIGALRM, bail)
    signal.signal(signal.SIGTERM, bail)
    signal.alarm(170)
    run = Run(args)
    run.prepare_dirs()
    run.record["host_start"] = procs.host_state()
    lb = Child([os.path.join(HERE, "loopback.py"), "--spool",
                os.path.join(WORK, "spool"), "--threads", str(run.nproc)])
    run.ch_port = int(lb.expect("port").split()[1])
    gen = Child(run.generator_argv(), stdin=True)
    run.exclude = {lb.proc.pid, gen.proc.pid}
    spark = None
    try:
        if args.trace:
            run.tracer = Tracer()
            run.tracer.install()
        phase = run.record["phase_s"] = {}
        with procs.RssSampler(os.getpid(), run.exclude) as rss:
            run.sampler = rss
            spark, session_s = run.session(run.nproc, bool(args.trace))
            run.record["session_s"] = session_s
            gen.expect("warm")
            t = time.time()
            run.warm_up(spark)
            run.setup(spark)
            if args.trace:
                gen.expect("catalog")
            phase["setup"], t = time.time() - t, time.time()
            ing = run.ingest(spark, gen)
            phase["ingest"], t = time.time() - t, time.time()
            read = run.read_phase(spark, ing["pipe"])
            if args.trace:
                run.catalog_sweep(spark, read)
            phase["read"], t = time.time() - t, time.time()
            run.metrics["peak_rss_mb"] = rss.peak / 2**20
            run.record["peak_rss_parts_mb"] = {
                k: v / 2**20 for k, v in rss.peak_parts.items()}
            run.record["sampler_cpu_s"] = rss.cpu_s
        run.verify(spark, ing, read)
        phase["verify"] = time.time() - t
        if args.trace:
            run.layers["session.get_spark_s"] = session_s
            run.trace_layers(spark, ing, read)
            for k in ("setup_s", "rows_per_s", "cpu_s_per_krow", "freshness_s_p50",
                      "query_s_p50", "sweep_s"):
                run.layers[f"traced.{k}"] = run.metrics[k]
        spark.stop()
        spark = None
        if args.trace:
            run.tracer.uninstall()
            run.tracer.dump(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.jsonl"))
            sp = fold_event_log(os.path.join(WORK, "eventlog"), *run.ingest_window)
            L = run.layers
            L["spark.jobs_per_epoch"] = sp.pop("jobs") / max(1, L["pipeline.epochs"])
            for k, v in sp.items():
                L[f"spark.{k}"] = v
            run.local1_leg(run.session)
    finally:
        t = time.time()
        if spark is not None:
            spark.stop()
        stop_gateway()
        run.record["stop_s"] = time.time() - t
        try:
            loopback_call(run.ch_port, "/shutdown", method="POST")
        except OSError:
            pass
        lb.stop()
        gen.stop()
        procs.reap_tree(os.getpid())

    signal.alarm(0)
    run.record["host_end"] = procs.host_state()
    run.record["checks_failed"] = run.checks.failed if run.checks else None
    run.record["attempted"], run.record["failed"] = run.attempted, run.failed
    run.record["error_rate"] = run.failed / max(1, run.attempted)
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps({**run.record, "metrics": run.metrics,
                            "layers": run.layers}) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"record": run.record}), flush=True)
    if not run.record.get("valid", False):
        print("perfbench: invalid run (generator late or backlog growing); "
              "no result", file=sys.stderr)
        return 3
    values, units = (run.layers, LAYER_UNITS) if args.trace else (run.metrics, E2E_UNITS)
    result = {
        "correct": run.failed == 0 and run.checks is not None and not run.checks.failed,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
