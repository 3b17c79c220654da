"""The traced run: per-operation spans and Spark metrics, reduced to
the per-layer metrics listed in BENCHMARK.json.

Layer costs are reported as shares of the timed operations' wall time
(``*_pct``), so a layer that a workload does not use reads 0 rather
than a time; the same costs in milliseconds, with percentiles and
sample counts, go to the detail report.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import fields

from harness import median, percentile
from sparkmetrics import SparkCollector, SparkOpMetrics
from spans import Tracer, instrument, outermost, self_times


def plan_nodes(df) -> int:
    """Operator count of a DataFrame's logical plan."""
    return len(df._jdf.queryExecution().logical().treeString().strip().splitlines())


class Probe:
    def __init__(self, spark) -> None:
        self.tracer = Tracer()
        self.spark = SparkCollector(spark)
        self.ops: list[dict] = []
        self.plan_nodes: list[int] = []
        instrument(self.tracer, on_handler=self._on_handler)

    def _group(self, op: int | None) -> str:
        return f"perfbench-op{op}"

    def _on_handler(self, span) -> None:
        # handler threads have no job group of their own
        self.spark.set_group(self._group(self.tracer.op))

    @contextmanager
    def operation(self, op: int, kind: str, server=None, timed: bool = True):
        group = self._group(op)
        self.spark.set_group(group)
        t0 = time.time()
        try:
            with self.tracer.operation(op, kind) as root:
                yield root
        finally:
            t1 = time.time()
            self.spark.clear_group()
            rec = {
                "op": op,
                "kind": kind,
                "timed": timed,
                "root": root,
                "spark": self.spark.collect(group, t0, t1),
            }
            self.ops.append(rec)
            if server is not None and kind in ("add", "delete"):
                self.plan_nodes.append(plan_nodes(server.srv.store.quads))


def _pct(part: float, whole: float) -> float:
    return 100.0 * part / whole if whole > 0 else 0.0


def reduce(probe: Probe, timers: dict, setup_s: float, gc_s: float,
           rss: tuple[float, float], untraced_p50_ms: float,
           traced_p50_ms: float, base_plan_nodes: int) -> tuple[dict, dict]:
    """Per-layer metrics (name -> (value, unit)) and the detail report."""
    spans = probe.tracer.spans
    selft = self_times(spans)
    timed = [r for r in probe.ops if r["timed"]]
    timed_ids = {r["op"] for r in timed}
    wall = sum(r["root"].dur for r in timed)

    # per op: inclusive time (outermost spans) and self time by name
    incl: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    selfs: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for name in {s.name for s in spans}:
        for i in outermost(spans, name):
            if spans[i].op in timed_ids:
                incl[name][spans[i].op] += spans[i].dur
    for i, s in enumerate(spans):
        if s.op in timed_ids:
            selfs[s.name][s.op] += selft[i]

    reads = [r for r in timed if r["kind"] == "read"]
    requests = [r for r in timed if r["kind"] in ("read", "add", "delete")]
    handler = {**incl["server.query"], **incl["server.write"]}
    overhead = [r["root"].dur - handler.get(r["op"], 0.0) for r in requests]
    hit_ops = {s.op for s in spans if s.name == "local.eval" and s.attrs.get("hit")}
    local_hits = sum(r["op"] in hit_ops and r["spark"].jobs == 0 for r in reads)
    cached = [s.attrs["cached"] for s in spans if s.op in timed_ids and "cached" in s.attrs]

    sm = _sum(timed)
    n = max(1, len(timed))
    kinds = sorted({r["kind"] for r in timed})
    by_kind = {k: [r for r in timed if r["kind"] == k] for k in kinds}

    def share(name: str) -> float:
        return _pct(sum(incl[name].values()), wall)

    def self_share(name: str) -> float:
        return _pct(sum(selfs[name].values()), wall)

    setup_total = sum(median(v) for k, v in timers.items() if k.endswith("_s"))
    metrics = {
        "server.overhead_pct": (_pct(sum(overhead), wall), "%"),
        "query.eval_pct": (self_share("query.eval"), "%"),
        "query.render_pct": (self_share("query.final"), "%"),
        "local.eval_pct": (share("local.eval"), "%"),
        "local.hit_ratio": (local_hits / len(reads) if reads else 0.0, "ratio"),
        "compile.build_pct": (share("compile.build"), "%"),
        "compile.cache_hit_ratio": (sum(cached) / len(cached) if cached else 0.0, "ratio"),
        "store.apply_pct": (share("store.apply"), "%"),
        "store.resolve_pct": (share("store.resolve"), "%"),
        "store.plan_nodes": (max(probe.plan_nodes, default=base_plan_nodes), "count"),
        "store.load_pct": (_pct(median(timers.get("store.load_s", [0.0])), setup_total), "%"),
        "local.index_build_pct": (
            _pct(median(timers.get("local.index_build_s", [0.0])), setup_total), "%"),
        "ingest.save_pct": (_pct(median(timers.get("ingest.save_s", [0.0])), setup_total), "%"),
        "ingest.bytes_ratio": (timers.get("ingest.bytes_ratio", [0.0])[0], "ratio"),
    }
    for k in ("pagerank", "components", "triangles", "kcore", "predstats"):
        metrics[f"algo.{k}_pct"] = (
            _pct(sum(r["root"].dur for r in by_kind.get(k, ())), wall), "%")
    for k in ("build", "execute"):
        metrics[f"pipeline.{k}_pct"] = (
            _pct(sum(r["root"].dur for r in by_kind.get(k, ())), wall), "%")
    metrics.update({
        "spark.jobs_per_op": (sm.jobs / n, "count"),
        "spark.stages_per_op": (sm.stages / n, "count"),
        "spark.tasks_per_op": (sm.tasks / n, "count"),
        "spark.job_pct": (_pct(sm.job_s, wall), "%"),
        "spark.executor_cpu_pct": (_pct(sm.executor_cpu_s, wall), "%"),
        "spark.executor_run_pct": (_pct(sm.executor_run_s, wall), "%"),
        "spark.jvm_gc_pct": (_pct(sm.jvm_gc_s, wall), "%"),
        "spark.shuffle_read_mb_per_op": (sm.shuffle_read_mb / n, "MB"),
        "spark.shuffle_write_mb_per_op": (sm.shuffle_write_mb / n, "MB"),
        "spark.spill_mb_per_op": (sm.spill_mb / n, "MB"),
        "py.gc_pct": (_pct(gc_s, wall), "%"),
        "py.peak_rss_mb": (rss[0], "MB"),
        "jvm.peak_rss_mb": (rss[1], "MB"),
        "trace.overhead_pct": (
            _pct(traced_p50_ms - untraced_p50_ms, untraced_p50_ms), "%"),
    })

    def ms(values: list[float]) -> dict:
        if not values:
            return {"n": 0}
        return {
            "n": len(values),
            "p50_ms": median(values) * 1e3,
            "p99_ms": percentile(values, 99) * 1e3,
        }

    read_ids = [r["op"] for r in reads]
    detail = {
        "setup_s": setup_s,
        "setup_parts_s": {k: v for k, v in timers.items()},
        "ops_timed": len(timed),
        "server.overhead": ms(overhead),
        "query.eval": ms([selfs["query.eval"][i] for i in read_ids]),
        "query.render": ms([selfs["query.final"][i] for i in read_ids]),
        "local.eval": ms([incl["local.eval"][i] for i in read_ids if i in incl["local.eval"]]),
        "compile.build": ms(list(incl["compile.build"].values())),
        "store.apply": ms(list(incl["store.apply"].values())),
        "store.resolve": ms(list(incl["store.resolve"].values())),
        "store.plan_nodes_after_each_write": probe.plan_nodes,
        "tracing": {"untraced_p50_ms": untraced_p50_ms, "traced_p50_ms": traced_p50_ms},
        "by_kind": {
            k: {**ms([r["root"].dur for r in rs]), "spark_per_op": _mean(rs)}
            for k, rs in by_kind.items()
        },
    }
    return metrics, detail


def _sum(recs: list[dict]) -> SparkOpMetrics:
    m = SparkOpMetrics()
    for r in recs:
        m.add(r["spark"])
    return m


def _mean(recs: list[dict]) -> dict:
    total = _sum(recs)
    return {f.name: getattr(total, f.name) / len(recs) for f in fields(total)}
