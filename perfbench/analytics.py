"""The analytics workload: whole-graph jobs over a follows graph
ingested from N-Quads.

Set-up ingests the graph (``read_nquads`` -> ``save`` -> ``load`` ->
persist). A pass runs the fixed job list, each job materialized to a
noop sink while a small aggregate of its result is observed and
checked against the expected values computed in ``oracle.py``. An
untimed warm-up pass repeats the timed pass exactly.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import gen
from harness import Outcome, room_for_another
from oracle import analytics_expected

FOLLOWS_SIZE = "full"
SETUP_REPS = 3
KCORE_K = 3
PAGERANK_ITERS = 5
JOBS = ("pagerank", "components", "triangles", "kcore", "predstats")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class FollowsStore:
    def __init__(self, spark, run, seed: int, timers: dict) -> None:
        self.spark = spark
        self.run = run
        self.fg = gen.follows_graph(seed, FOLLOWS_SIZE, run.cache)
        self.expected = analytics_expected(self.fg, KCORE_K, PAGERANK_ITERS)
        self.timers = timers
        self.store = None
        self.setup_s: list[float] = []
        for rep in range(SETUP_REPS):
            self._ingest(os.path.join(run.path, f"follows-store-{rep}"))

    def _ingest(self, path: str) -> None:
        from cayley_spark import GraphStore
        from cayley_spark.sources.nquads import read_nquads

        self.close()
        t0 = time.perf_counter()
        read_nquads(self.spark, self.fg.path).save(path)
        t1 = time.perf_counter()
        store = GraphStore.load(self.spark, path).persist()
        store.quads.count()
        store.nodes.count()
        t2 = time.perf_counter()
        self.store, self.path = store, path
        self.setup_s.append(t2 - t0)
        self.timers.setdefault("ingest.save_s", []).append(t1 - t0)
        self.timers.setdefault("store.load_s", []).append(t2 - t1)
        self.timers["ingest.bytes_ratio"] = [_dir_bytes(path) / os.path.getsize(self.fg.path)]

    def close(self) -> None:
        if self.store is not None:
            self.store.quads.unpersist()
            self.store.nodes.unpersist()
            self.store = None
            shutil.rmtree(self.path, ignore_errors=True)


def job(store, name: str):
    from cayley_spark import IRI

    follows = IRI("follows")
    if name == "pagerank":
        return store.pagerank(follows, iters=PAGERANK_ITERS)
    if name == "components":
        return store.connected_components(follows)
    if name == "triangles":
        return store.triangle_count(follows)
    if name == "kcore":
        return store.kcore(KCORE_K, follows)
    if name == "predstats":
        return store.predicate_stats()
    raise ValueError(name)


def observed(name: str, df, expected: dict):
    """``df`` with a small aggregate of the job's result observed as it
    is written, and a function that, after the write, compares the
    aggregate with the expected value and returns a message on
    mismatch. Components are labeled by their minimum member id, so
    the nodes that are their own label count the components."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rows = F.count(F.lit(1)).alias("rows")
    if name == "pagerank":
        exprs = [rows, F.sum("rank").alias("sum"), F.max("rank").alias("max")]
    elif name == "components":
        exprs = [F.count_if(F.col("id") == F.col("component")).alias("n")]
    elif name == "triangles":
        exprs = [F.sum("n_triangles").alias("n")]
    elif name == "kcore":
        exprs = [rows]
    else:
        exprs = [rows] + [
            F.sum(F.when(F.col("predicate") == p, F.col("n_quads"))).alias(p) for p in expected[name]
        ]
    obs = Observation(f"check-{name}")

    def mismatch() -> str | None:
        got = obs.get
        if name == "pagerank":
            got = [got["rows"], got["sum"], got["max"]]
        elif name == "predstats":
            got = {p: got[p] for p in expected[name]} if got["rows"] == len(expected[name]) else got
        else:
            got = next(iter(got.values()))
        want = expected[name]
        return None if got == want else f"{name}: got {got}, want {want}"

    return df.observe(obs, *exprs), mismatch


def run(fs: FollowsStore, seconds: float, probe=None, warmup: bool = True) -> Outcome:
    """One untimed warm-up pass, then timed passes for ``seconds``
    (whole passes, at least one). Every pass writes each job's result
    to the noop sink and checks the aggregate observed on the way."""
    out = Outcome()
    op = 0
    for timed in (False, True)[0 if warmup else 1:]:
        t0 = time.perf_counter()
        while True:
            tp = time.perf_counter()
            for name in JOBS:
                op += 1
                out.attempted += 1
                traced = (
                    probe.operation(op, name, timed=timed)
                    if probe is not None
                    else contextlib.nullcontext()
                )
                try:
                    with traced:
                        tj = time.perf_counter()
                        df, mismatch = observed(name, job(fs.store, name), fs.expected)
                        df.write.format("noop").mode("overwrite").save()
                        dt = time.perf_counter() - tj
                    err = mismatch()
                except Exception as e:  # a failed job is counted; the run goes on
                    err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
                if err is not None:
                    out.fail(err)
                elif timed:
                    out.parts[name].append(dt)
            if timed:
                out.ops.append(time.perf_counter() - tp)
            if not timed or not room_for_another(t0, seconds, out.ops):
                break
        out.wall = time.perf_counter() - t0
    return out
