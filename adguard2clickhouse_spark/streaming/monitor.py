"""Codegen class-cache health checks for repeated workloads.

Per-epoch progress is not kept here: ``QuerylogPipeline.batch_timings``
records each epoch's line, row and dead counts and stage walls, and the
pipeline's ``n_epochs``/``n_lines`` totals feed the collector's
``--report-progress`` line.
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# Codegen class-cache health (VERDICT r12 #4)
#
# `spark.sql.codegen.cache.maxEntries` is a JVM STATIC, read once at the
# JVM's first codegen from the then-active session's conf (get_spark
# sizes it to 2000 for the 184-query catalog — see session.py). The
# failure mode when the catalog outgrows it is SILENT: no error, no log
# line, just every repeated execution re-Janino-compiling its generated
# classes (~33% total slowdown on the 14-headliner sweep, measured in
# BENCH_codegen_cache_r12.json — the r11/r12 "session state" mystery).
# These helpers read the same CodegenMetrics the root-cause analysis
# used so a sweep can ASSERT steady state instead of rediscovering the
# regression by wall clock.
# ---------------------------------------------------------------------------


def codegen_cache_snapshot(spark) -> dict:
    """One reading of the JVM-static codegen state: generated-class
    cache occupancy and the cumulative Janino compile counter.

    ``max_entries`` is the SESSION's conf value — on a JVM whose first
    codegen ran under a different session it can disagree with the
    static cache's real capacity, which the JVM does not expose; the
    steady-state check below therefore keys on the compile COUNTER,
    never on occupancy-vs-capacity.
    """
    jvm = spark.sparkContext._jvm
    cache = (
        jvm.org.apache.spark.sql.catalyst.expressions.codegen
        .__getattr__("CodeGenerator$").__getattr__("MODULE$")
    ).cache()
    hist = (
        jvm.org.apache.spark.metrics.source
        .__getattr__("CodegenMetrics$").__getattr__("MODULE$")
    ).METRIC_COMPILATION_TIME()
    count = int(hist.getCount())
    # APPROXIMATE: Codahale exposes no monotonic total, only a SAMPLED
    # reservoir snapshot — mean×count drifts as the reservoir evicts,
    # so a begin/end delta of this figure can be off or even negative
    # (ADVICE r13). Pass/fail decisions key on the monotonic COUNTER
    # above; this ms figure is context only and is labeled as such.
    return {
        "cache_entries": int(cache.size()),
        "compile_count": count,
        "compile_total_ms_approx": round(
            hist.getSnapshot().getMean() * count, 1
        ),
        "max_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries", "100")
        ),
    }


class CodegenSteadyStateCheck:
    """Detects codegen-cache thrash across a REPEATED workload.

    Usage: run the workload once (fills the cache and JIT), call
    ``begin()``, run the identical workload again, call ``end()`` —
    a steady-state pass compiles ZERO new classes, so any non-zero
    delta means the class cache is too small for the plan set and
    every future repetition pays the recompile tax. ``end()`` returns
    a human-readable warning string (None when healthy) and keeps the
    numbers on ``.delta`` for artifacts.
    """

    def __init__(self, spark):
        self._spark = spark
        self._t0 = None
        self.delta = None

    def begin(self) -> "CodegenSteadyStateCheck":
        self._t0 = codegen_cache_snapshot(self._spark)
        return self

    def end(self) -> str | None:
        t1 = codegen_cache_snapshot(self._spark)
        t0 = self._t0
        self.delta = {
            "steady_state_compiles": t1["compile_count"] - t0["compile_count"],
            # approximate (reservoir mean×count delta) — see snapshot
            # docstring; can be inaccurate, never used for pass/fail
            "steady_state_compile_ms_approx": round(
                t1["compile_total_ms_approx"] - t0["compile_total_ms_approx"],
                1,
            ),
            "cache_entries": t1["cache_entries"],
            "max_entries": t1["max_entries"],
        }
        d = self.delta
        if d["steady_state_compiles"] > 0:
            return (
                "CODEGEN-CACHE-THRASH: a repeated identical workload "
                f"compiled {d['steady_state_compiles']} generated classes "
                f"(~{d['steady_state_compile_ms_approx']} ms approx.) "
                "that a steady state "
                "compiles zero of - spark.sql.codegen.cache.maxEntries "
                f"(session conf: {d['max_entries']}, occupancy: "
                f"{d['cache_entries']}) is too small for this plan set; "
                "raise SPARK_GRAFT_CODEGEN_CACHE (the conf is a JVM "
                "static, effective only before the JVM's first codegen). "
                "Measured cost of ignoring this: ~33% on the 14-headliner "
                "sweep (BENCH_codegen_cache_r12.json)."
            )
        return None
