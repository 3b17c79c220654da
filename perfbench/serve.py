"""The serving workloads: one closed-loop client on one keep-alive
HTTP connection to the program's HTTP server, replaying a fixed pass
of operations.

``serve_local`` sends Gizmo reads only; the store keeps its local
index, so no read should launch a Spark job. ``serve_write`` mixes
reads with an add and a delete; each pass starts from the same base
store (stores are immutable, so re-seating the server on the base
replays the pass exactly).
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import random
import shutil
import time

import gen
from harness import Outcome, room_for_another
from oracle import FilmModel

FILM_SIZE = "full"
SETUP_REPS = 3
# Read mix: name lookup 40%, filmography 30%, co-stars 20%, two-actor
# intersect 10%.
READ_MIX = ("name",) * 4 + ("films",) * 3 + ("costar",) * 2 + ("inter",)
# reads in one serve_local pass: six blocks of READ_MIX
LOCAL_PASS_READS = 60


class Client:
    """An ordinary keep-alive HTTP/1.1 client (``http.client``, which
    sends each request in one segment with TCP_NODELAY and leaves the
    kernel's delayed ACKs alone), so latency is what a standard client
    of the server sees (see README.md on the ≈40 ms response stall)."""

    def __init__(self, port: int) -> None:
        # a read after a write takes seconds; a minute means the server hung
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def post(self, path: str, body: str) -> tuple[int, bytes]:
        self.conn.request("POST", path, body=body.encode())
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def close(self) -> None:
        self.conn.close()


def gizmo(read: tuple) -> str:
    kind, x = read[0], read[1]
    if kind == "name":
        return f'g.V().Has("<name>", "{gen.actor_name(x)}").All()'
    if kind == "films":
        return f'g.V("{gen.actor_iri(x)}").In("<actor>").In("<starring>").Out("<name>").All()'
    if kind == "costar":
        return (
            f'g.V("{gen.actor_iri(x)}").In("<actor>").In("<starring>")'
            '.Out("<starring>").Out("<actor>").Unique().All()'
        )
    if kind == "inter":
        a, b = gen.actor_iri(x), gen.actor_iri(read[2])
        return (
            f'g.V("{a}").In("<actor>").In("<starring>")'
            f'.And(g.V("{b}").In("<actor>").In("<starring>")).All()'
        )
    if kind == "cast":
        return f'g.V("{gen.film_iri(x)}").Out("<starring>").Out("<actor>").All()'
    raise ValueError(kind)


def draw_read(rng: random.Random, fg: gen.FilmGraph, kind: str) -> tuple:
    a = gen.zipf_draw(rng, fg.actor_cum)
    if kind == "inter":
        b = a
        while b == a:
            b = gen.zipf_draw(rng, fg.actor_cum)
        return (kind, a, b)
    return (kind, a)


def _stratified_ranks(rng: random.Random, fg: gen.FilmGraph, n: int) -> list[int]:
    """``n`` Zipf ranks, one from each of ``n`` equal quantile strata
    (at a seeded point within its stratum), in seeded order."""
    r = rng.random()
    ranks = [gen.zipf_rank(fg.actor_cum, (j + r) / n) for j in range(n)]
    rng.shuffle(ranks)
    return ranks


def local_pass(seed: int, fg: gen.FilmGraph) -> list[tuple]:
    """The fixed serve_local pass of LOCAL_PASS_READS reads. Each block
    of ten holds exactly the READ_MIX kinds in seeded order, and each
    kind's actors are stratified over Zipf popularity, so every seed
    reads the hot and the rare actors equally often; the seed picks
    the order and which actors."""
    rng = random.Random(f"reads:{seed}")
    kinds: list[str] = []
    for _ in range(LOCAL_PASS_READS // len(READ_MIX)):
        block = list(READ_MIX)
        rng.shuffle(block)
        kinds += block
    ranks = {k: _stratified_ranks(rng, fg, kinds.count(k)) for k in set(READ_MIX)}
    others = _stratified_ranks(rng, fg, kinds.count("inter"))
    out = []
    for kind in kinds:
        a = ranks[kind].pop()
        if kind == "inter":
            b = others.pop()
            out.append(("read", (kind, a, b if b != a else (a + 1) % fg.n_actors)))
        else:
            out.append(("read", (kind, a)))
    return out


def write_pass(seed: int, fg: gen.FilmGraph) -> list[tuple]:
    """The fixed serve_write pass: a name lookup and a filmography on
    the base store, an add of a new 4-actor film, the added film's
    cast, one read of each kind, a delete of the added film, and the
    filmography of one of its actors (the film must be gone). Ten
    requests, so the median is the mean of two distributed reads."""
    rng = random.Random(f"writes:{seed}")
    new = len(fg.casts)
    cast = gen.draw_cast(rng, fg.actor_cum, 4)
    return [
        ("read", draw_read(rng, fg, "name")),
        ("read", draw_read(rng, fg, "films")),
        ("add", new, cast),
        ("read", ("cast", new)),
        ("read", draw_read(rng, fg, "name")),
        ("read", ("films", cast[0])),
        ("read", draw_read(rng, fg, "costar")),
        ("read", draw_read(rng, fg, "inter")),
        ("delete", new, cast),
        ("read", ("films", cast[0])),
    ]


class FilmServer:
    """The stored film graph, loaded and served as the workload's
    set-up: parquet load, persist, local index, HTTP server."""

    def __init__(self, spark, run, seed: int, timers: dict) -> None:
        from cayley_spark.sources.nquads import read_nquads

        self.spark = spark
        self.seed = seed
        self.fg = gen.film_graph(seed, FILM_SIZE, run.cache)
        self.store_path = os.path.splitext(self.fg.path)[0] + ".store"
        if not os.path.exists(os.path.join(self.store_path, "_READY")):
            shutil.rmtree(self.store_path, ignore_errors=True)
            read_nquads(spark, self.fg.path).save(self.store_path)
            open(os.path.join(self.store_path, "_READY"), "w").close()
        self.store = self.srv = None
        self.timers = timers
        self.setup_s: list[float] = []
        for _ in range(SETUP_REPS):
            self._setup()

    def _setup(self) -> None:
        from cayley_spark import GraphStore
        from cayley_spark.server.http import start_background

        self.close()
        t0 = time.perf_counter()
        store = GraphStore.load(self.spark, self.store_path).persist()
        store.quads.count()
        store.nodes.count()
        t1 = time.perf_counter()
        store = store.enable_local()
        t2 = time.perf_counter()
        self.srv, _ = start_background(store)
        self.store = store
        self.setup_s.append(time.perf_counter() - t0)
        self.timers.setdefault("store.load_s", []).append(t1 - t0)
        self.timers.setdefault("local.index_build_s", []).append(t2 - t1)

    def close(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
            self.srv = None
        if self.store is not None:
            self.store.quads.unpersist()
            self.store.nodes.unpersist()
            self.store = None


def _result_ids(payload: bytes) -> list[str] | None:
    body = json.loads(payload)
    if "result" not in body:
        return None
    return sorted(str(r["id"]) for r in body["result"] or [])


class Session:
    """One client connection. ``probe`` (traced runs only) wraps every
    request in ``probe.operation(op_id, kind, server)``."""

    def __init__(self, server: FilmServer, probe=None) -> None:
        self.server = server
        self.client = Client(server.srv.server_address[1])
        self.probe = probe
        self.op = 0

    def run(self, op: tuple, model: FilmModel, out: Outcome, timed: bool) -> None:
        """Send one operation, check its result against ``model`` and
        count it in ``out``; only timed operations record latency."""
        kind = op[0]
        if kind == "read":
            path, body = "/api/v1/query/gizmo", gizmo(op[1])
        else:
            path = "/api/v1/write" if kind == "add" else "/api/v1/delete"
            body = "\n".join(gen.film_quads(op[1], op[2]))
        self.op += 1
        traced = (
            self.probe.operation(self.op, kind, self.server, timed)
            if self.probe is not None
            else contextlib.nullcontext()
        )
        with traced:
            t0 = time.perf_counter()
            status, payload = self.client.post(path, body)
            dt = time.perf_counter() - t0
        if kind == "read":
            got = _result_ids(payload) if status == 200 else None
            want = model.expect(op[1])
            ok, what = got == want, f"{op[1]}: got {str(got)[:120]}, want {str(want)[:120]}"
        else:
            n = len(gen.film_quads(op[1], op[2]))
            ok = status == 200 and json.loads(payload).get("count") == n
            what = f"{kind} film {op[1]}: status {status} {payload[:120]!r}"
            if kind == "add":
                model.add(op[1], op[2])
            else:
                model.delete(op[1])
        out.attempted += 1
        if timed:
            out.ops.append(dt)
            out.parts[kind].append(dt)
        if not ok:
            out.fail(what)

    def close(self) -> None:
        self.client.close()


def run_passes(
    server: FilmServer, ops: list[tuple], seconds: float, probe=None, warmup: bool = True
) -> Outcome:
    """One untimed warm-up pass of ``ops``, then timed passes for
    ``seconds`` (whole passes, at least one). Every pass starts on the
    base store (stores are immutable), so each replays the same
    writes and reads."""
    base = server.srv.store
    sess = Session(server, probe)
    out = Outcome()
    try:
        for timed in (False, True)[0 if warmup else 1:]:
            t0 = time.perf_counter()
            passes: list[float] = []
            while True:
                tp = time.perf_counter()
                server.srv.store = base
                model = FilmModel(server.fg)
                for op in ops:
                    sess.run(op, model, out, timed)
                passes.append(time.perf_counter() - tp)
                if not timed or not room_for_another(t0, seconds, passes):
                    break
            out.wall = time.perf_counter() - t0
    finally:
        server.srv.store = base
        sess.close()
    return out


def run_local(server: FilmServer, seconds: float, probe=None, warmup: bool = True) -> Outcome:
    return run_passes(server, local_pass(server.seed, server.fg), seconds, probe, warmup)


def run_write(server: FilmServer, seconds: float, probe=None, warmup: bool = True) -> Outcome:
    return run_passes(server, write_pass(server.seed, server.fg), seconds, probe, warmup)
