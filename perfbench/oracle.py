"""Expected results, computed by the benchmark from its own generated
data, never by the program under test."""

from __future__ import annotations

import json
import os
from collections import defaultdict

from gen import Corpus, FilmGraph, FollowsGraph, actor_iri, film_iri, film_name

# ------------------------------------------------------------ film reads


class FilmModel:
    """The film graph as the server should hold it after the writes
    applied so far. Reads are tuples ``(kind, *args)``:

    ``("name", a)``      actor by name        -> [actor IRI]
    ``("films", a)``     actor's filmography  -> film names
    ``("costar", a)``    distinct co-stars    -> actor IRIs (a included)
    ``("inter", a, b)``  films with a and b   -> film IRIs
    ``("cast", f)``      film's actors        -> actor IRIs
    """

    def __init__(self, fg: FilmGraph) -> None:
        self.casts: dict[int, list[int]] = dict(enumerate(fg.casts))
        self.films_of: dict[int, list[int]] = defaultdict(list)
        for f, cast in self.casts.items():
            for a in cast:
                self.films_of[a].append(f)

    def add(self, f: int, cast: list[int]) -> None:
        self.casts[f] = list(cast)
        for a in cast:
            self.films_of[a].append(f)

    def delete(self, f: int) -> None:
        for a in self.casts.pop(f):
            self.films_of[a].remove(f)

    def expect(self, read: tuple) -> list[str]:
        kind, x = read[0], read[1]
        if kind == "name":
            return [actor_iri(x)]
        if kind == "films":
            return sorted(film_name(f) for f in self.films_of[x])
        if kind == "costar":
            return sorted({actor_iri(a) for f in self.films_of[x] for a in self.casts[f]})
        if kind == "inter":
            other = set(self.films_of[read[2]])
            return sorted(film_iri(f) for f in self.films_of[x] if f in other)
        if kind == "cast":
            return sorted(actor_iri(a) for a in self.casts[x])
        raise ValueError(kind)


# -------------------------------------------------------------- analytics

PAGERANK_SCALE = 1_000_000_000


def _undirected(edges: list[tuple[int, int]]) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def triangle_count(edges: list[tuple[int, int]]) -> int:
    adj = _undirected(edges)
    higher = {u: {v for v in vs if v > u} for u, vs in adj.items()}
    return sum(len(hu & higher[v]) for u, hu in higher.items() for v in hu)


def component_count(edges: list[tuple[int, int]]) -> int:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    return len({find(x) for x in list(parent)})


def kcore_size(edges: list[tuple[int, int]], k: int) -> int:
    adj = _undirected(edges)
    deg = {u: len(vs) for u, vs in adj.items()}
    alive = set(adj)
    stack = [u for u in alive if deg[u] < k]
    while stack:
        u = stack.pop()
        if u not in alive:
            continue
        alive.discard(u)
        for v in adj[u]:
            if v in alive:
                deg[v] -= 1
                if deg[v] < k:
                    stack.append(v)
    return len(alive)


def pagerank_summary(edges: list[tuple[int, int]], iters: int) -> tuple[int, int, int]:
    """(node count, sum of ranks, max rank) of the program's documented
    fixed-point PageRank: r0 = scale, r' = teleport + 85*inc div 100,
    inc(v) = sum over in-edges of r(u) div outdeg(u)."""
    nodes = sorted({x for e in edges for x in e})
    outdeg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    r = {v: PAGERANK_SCALE for v in nodes}
    teleport = PAGERANK_SCALE * 15 // 100
    for _ in range(iters):
        inc: dict[int, int] = defaultdict(int)
        for s, d in edges:
            inc[d] += r[s] // outdeg[s]
        r = {v: teleport + (85 * inc.get(v, 0)) // 100 for v in nodes}
    return len(nodes), sum(r.values()), max(r.values())


def analytics_expected(fg: FollowsGraph, kcore_k: int, pagerank_iters: int) -> dict:
    """Expected analytics results, cached beside the graph's file."""
    path = os.path.splitext(fg.path)[0] + f"-k{kcore_k}-i{pagerank_iters}.expected.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    n, total, top = pagerank_summary(fg.edges, pagerank_iters)
    out = {
        "pagerank": [n, total, top],
        "components": component_count(fg.edges),
        "triangles": triangle_count(fg.edges),
        "kcore": kcore_size(fg.edges, kcore_k),
        "predstats": dict(sorted(fg.pred_counts.items())),
    }
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


# ----------------------------------------------------------------- curate


def curate_violations(corpus: Corpus, survivors: list[int]) -> list[str]:
    """Invariants the generator makes checkable on the pipeline's
    surviving doc ids."""
    out = []
    ids = set(corpus.ids)
    got = set(survivors)
    if len(got) != len(survivors):
        out.append("a document survives twice")
    if not got:
        out.append("no document survives")
    if got - ids:
        out.append(f"{len(got - ids)} survivors are not input documents")
    held = got & set(corpus.held_out)
    if held:
        out.append(f"{len(held)} held-out documents survive")
    for group in corpus.exact_groups:
        if len(got & set(group)) > 1:
            out.append(f"exact copies {sorted(got & set(group))} all survive")
    return out
