"""Dump .explain('formatted') for declared queries to plans/<tag>/.

Usage: python tools/dump_plans.py <outdir> <suffix> [names...]
  e.g. python tools/dump_plans.py plans/r15 before p_admit p_pipeline

Plans are captured under the bench's session config (shuffle
partitions = $SPARK_GRAFT_CPUS, default the host's CPU count; AQE on)
but on a small master —
plan SHAPE (Exchange count, join strategy, PushedFilters, codegen
spans, Python-eval nodes) is master-independent. Queries whose
builders run driver-side jobs (adaptive pricing aggregates, seed
collects) execute those jobs during capture; that is the cost of
seeing the plan the bench actually runs.

Session-global counters are stripped from the written text so that
dumps of two checkouts diff only where a plan really changed: lambda
variables lose their numeric suffix (``lambda x_12#345`` → ``lambda
x``), attribute ids their number (``id#12L`` → ``id#L``), RDD names
their id and Python call site, and exchange ``plan_id`` arguments
their id.
"""

from __future__ import annotations

import io
import os
import re
import sys
import time

_LAMBDA_ID = re.compile(r"(lambda \w+?)_\d+#\d+")
_EXPR_ID = re.compile(r"#\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]((?: at \w+)?)(?: at [^\s,]+)?")
_PLAN_ID = re.compile(r"plan_id=\d+")


def normalize(plan: str) -> str:
    """Drop the per-session numbering from a plan's text."""
    plan = _LAMBDA_ID.sub(r"\1", plan)
    plan = _PLAN_ID.sub("plan_id=", _RDD_ID.sub(r"RDD\1", plan))
    return _EXPR_ID.sub("#", plan)


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("dump-plans")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    qs = E.queries()
    todo = names or list(qs)
    for name in todo:
        if name not in qs:
            print(f"SKIP {name}: not in registry")
            continue
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            stdout = sys.stdout
            sys.stdout = buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(normalize(buf.getvalue()))
            print(f"ok   {name} ({time.time() - t0:.1f}s)")
        except Exception as exc:  # keep going; report at end
            print(f"FAIL {name}: {exc}")
    spark.stop()


if __name__ == "__main__":
    main()
