"""The curate workload: one pass builds
``functions.pipeline.corpus_pipeline`` over a generated corpus (with
the held-out docs as the decontamination set) and counts its output.

Set-up reads and persists the corpus. The untimed warm-up pass runs
the same build, collects the surviving doc ids and checks the
generator's invariants (``oracle.curate_violations``); timed passes
count, and their count must equal the warm-up's.
"""

from __future__ import annotations

import contextlib
import time

import gen
from harness import Outcome, room_for_another
from oracle import curate_violations

CORPUS_SIZE = "full"
SETUP_REPS = 3


class CorpusInput:
    def __init__(self, spark, run, seed: int, timers: dict) -> None:
        self.spark = spark
        self.corpus = gen.corpus(seed, CORPUS_SIZE, run.cache)
        self.docs = self.bench = None
        self.timers = timers
        self.setup_s: list[float] = []
        for _ in range(SETUP_REPS):
            self._setup()

    def _setup(self) -> None:
        self.close()
        t0 = time.perf_counter()
        self.docs = self.spark.read.parquet(self.corpus.path).persist()
        self.bench = self.spark.read.parquet(self.corpus.bench_path).persist()
        self.docs.count()
        self.bench.count()
        self.setup_s.append(time.perf_counter() - t0)

    def close(self) -> None:
        for df in (self.docs, self.bench):
            if df is not None:
                df.unpersist()
        self.docs = self.bench = None


def run(ci: CorpusInput, seconds: float, probe=None, warmup: bool = True) -> Outcome:
    from cayley_spark.functions._cache import unpersist_intermediates
    from cayley_spark.functions.pipeline import corpus_pipeline

    out = Outcome()
    expected_n = None
    for timed in (False, True)[0 if warmup else 1:]:
        t0 = time.perf_counter()
        while True:
            out.attempted += 1
            ops = (
                (probe.operation(2 * out.attempted - 1, "build", timed=timed),
                 probe.operation(2 * out.attempted, "execute", timed=timed))
                if probe is not None
                else (contextlib.nullcontext(), contextlib.nullcontext())
            )
            errs: list[str] = []
            try:
                tb = time.perf_counter()
                with ops[0]:
                    res = corpus_pipeline(ci.docs, ci.bench)
                te = time.perf_counter()
                with ops[1]:
                    if timed:
                        n = res.count()
                    else:
                        ids = [r[0] for r in res.select("doc_id").collect()]
                        n = len(ids)
                tx = time.perf_counter()
                unpersist_intermediates(res)
                if timed:
                    if expected_n is not None and n != expected_n:
                        errs.append(f"pass counted {n} docs, warm-up {expected_n}")
                else:
                    expected_n = n
                    errs += curate_violations(ci.corpus, ids)
            except Exception as e:  # a failed pass is counted; the run goes on
                errs.append(f"{type(e).__name__}: {str(e)[:300]}")
            if errs:
                out.fail("; ".join(errs))
            elif timed:
                out.ops.append(tx - tb)
                out.parts["build"].append(te - tb)
                out.parts["execute"].append(tx - te)
            if not timed or not room_for_another(t0, seconds, out.ops):
                break
        out.wall = time.perf_counter() - t0
    return out
