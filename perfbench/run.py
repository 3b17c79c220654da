"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 6 --trace 0

Run from the root of a checkout: the program (``cayley_spark``) is
imported from the working directory. Prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see README.md). The line before it
is a detail report (sample counts, layer times in ms, errors). Exits
1 if any operation failed or returned a wrong result, 2 if the
program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_local", "serve_write", "analytics", "curate")


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _workload(name: str, spark, run, seed: int, timers: dict):
    """(set-up target, runner). Building the target runs the set-up."""
    import analytics
    import curate
    import serve

    if name == "serve_local":
        return serve.FilmServer(spark, run, seed, timers), serve.run_local
    if name == "serve_write":
        return serve.FilmServer(spark, run, seed, timers), serve.run_write
    if name == "analytics":
        return analytics.FollowsStore(spark, run, seed, timers), analytics.run
    return curate.CorpusInput(spark, run, seed, timers), curate.run


def _stop_jvm() -> None:
    """Stop the Spark driver JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    try:
        import cayley_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    from harness import STATE_DIR, GcClock, Memory, RunDir, median, start_spark

    run = RunDir(os.path.join(os.getcwd(), STATE_DIR))
    spark = target = None
    try:
        gc_clock = GcClock()
        spark = start_spark(run)
        mem = Memory(spark)
        timers: dict[str, list[float]] = {}
        target, runner = _workload(args.workload, spark, run, args.seed, timers)
        setup_s = median(target.setup_s)
        if args.trace:
            from layers import Probe, plan_nodes, reduce

            base_nodes = plan_nodes(target.store.quads) if hasattr(target, "store") else 0
            # the untraced reference for the tracing overhead gets half
            # the time: it only needs a median, and traced runs are costly
            untraced = runner(target, args.seconds / 2)
            probe = Probe(spark)
            gc0 = gc_clock.total
            out = runner(target, args.seconds, probe=probe, warmup=False)
            gc_s = gc_clock.total - gc0
            out.attempted += untraced.attempted
            out.failed += untraced.failed
            out.errors = untraced.errors + out.errors
            metrics, detail = reduce(
                probe, timers, setup_s, gc_s, mem.peak_mb(),
                _p50_ms(untraced), _p50_ms(out),
                base_nodes,
            )
            trace_dir = os.path.join(run.root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            probe.tracer.dump(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.spans.json")
            )
        else:
            out = runner(target, args.seconds)
            py_mb, jvm_mb = mem.peak_mb()
            e2e = out.end_to_end() if out.failed == 0 else {}
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_ms": (e2e.get("op_p50_ms", 0.0), "ms"),
                "ops_per_s": (e2e.get("ops_per_s", 0.0), "1/s"),
            }
            detail = {
                "setup_s_reps": target.setup_s,
                "setup_parts_s": timers,
                "peak_rss_mb": {"python": py_mb, "jvm": jvm_mb},
            }
            detail.update(out.samples())
    finally:
        if target is not None:
            target.close()
        if spark is not None:
            spark.stop()
            _stop_jvm()
        run.close()

    detail["errors"] = out.errors
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if out.failed == 0 else 1


def _p50_ms(out) -> float:
    return out.end_to_end()["op_p50_ms"] if out.ops else 0.0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
