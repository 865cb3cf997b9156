"""Dump .explain('formatted') for named declared queries to files.

Usage: python scripts/dump_plans.py REPO_ROOT OUT_DIR SUFFIX SF_DIR name [name...]
       (add --nockpt to no-op localCheckpoint for plan visibility)

Writes OUT_DIR/<name>_<SUFFIX>.txt for each query. Runs against the
repo checkout at REPO_ROOT (so a git worktree of an older commit can
produce the _before dumps).
"""
import argparse
import contextlib
import io
import os
import sys
from pathlib import Path

# Plan-visibility capture (--nockpt): a query's eager localCheckpoint
# (used at runtime to pin intermediates and release persisted inputs)
# truncates lineage, so explain() would show only a checkpoint scan.
NOCKPT_HDR = (
    "# NOTE: captured with DataFrame.localCheckpoint no-op'd so the\n"
    "# full computation tree is visible (the declared query eagerly\n"
    "# checkpoints its result, which otherwise collapses explain()\n"
    "# to a single RDD scan). Engine code is unmodified.\n"
)


def _noop_local_checkpoint() -> None:
    """No-op localCheckpoint HERE ONLY so the dump shows the real
    computation tree; runtime behavior is unchanged in the engine."""
    from pyspark.sql import DataFrame

    DataFrame.localCheckpoint = (
        lambda self, eager=True, storageLevel=None: self
    )
    try:  # Spark 4: the classic subclass defines its own override
        from pyspark.sql.classic.dataframe import DataFrame as CDF

        CDF.localCheckpoint = (
            lambda self, eager=True, storageLevel=None: self
        )
    except ImportError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Dump .explain('formatted') for named declared queries."
    )
    ap.add_argument("repo", help="repo checkout whose queries are dumped")
    ap.add_argument("out_dir", type=Path)
    ap.add_argument("suffix", help="file suffix, e.g. before/after")
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="+", metavar="name")
    ap.add_argument("--nockpt", action="store_true",
                    help="no-op localCheckpoint for plan visibility")
    args = ap.parse_intermixed_args()

    sys.path.insert(0, args.repo)
    os.chdir(args.repo)
    args.out_dir.mkdir(parents=True, exist_ok=True)

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName(f"dump_plans_{args.suffix}")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    hdr = ""
    if args.nockpt:
        _noop_local_checkpoint()
        hdr = NOCKPT_HDR

    qs = entrymod.queries()
    rc = 0
    for name in args.names:
        if name not in qs:
            print(f"SKIP {name}: not declared in this checkout")
            continue
        try:
            df = qs[name](spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            text = f"ERROR building/explaining {name}: {e}\n"
            rc = 1
        (args.out_dir / f"{name}_{args.suffix}.txt").write_text(hdr + text)
        print(f"wrote {name}_{args.suffix}.txt ({len(text)} chars)")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
