"""Seeded input generators for the benchmark.

Three inputs, each a pure function of ``(seed, size)``:

* ``film``    -- a film graph: films with ``<name>`` literals, ``_:``
  performance bnodes linking films to actors, actors with names.
  Actor popularity is Zipf (weight ``1/k`` for rank ``k``), so a few
  actors are in many films and most are in few.
* ``follows`` -- a follows graph grown by preferential attachment,
  plus ``<name>`` and ``<type>`` quads so per-predicate statistics
  have more than one predicate.
* ``corpus``  -- English-like documents drawn from a seeded Zipf
  vocabulary, with a fixed share of exact and near duplicates and
  1 in 50 documents also held out as the decontamination set.

Files are written once per kind, seed and dimensions under the cache
directory and reused; the same arguments always give byte-identical
files. The generators also return the Python-side model the result
checks are computed from (see ``oracle.py``).
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
from dataclasses import dataclass, field


def zipf_cum_weights(n: int, s: float = 1.0) -> list[float]:
    """Cumulative Zipf weights ``1 / k ** s`` for ranks ``k = 1..n``,
    as ``zipf_rank`` takes them."""
    return list(itertools.accumulate(1.0 / k**s for k in range(1, n + 1)))


def zipf_rank(cum: list[float], u: float) -> int:
    """The 0-based rank at quantile ``u`` (0 <= u < 1) of cumulative
    weights."""
    return bisect.bisect_right(cum, u * cum[-1])


def zipf_draw(rng: random.Random, cum: list[float]) -> int:
    """One 0-based rank drawn from cumulative weights."""
    return zipf_rank(cum, rng.random())


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


# ---------------------------------------------------------------- film


@dataclass
class FilmGraph:
    """Python model of the generated film graph. Films and actors are
    0-based indexes; ``casts[f]`` lists the actors of film ``f``."""

    n_actors: int
    casts: list[list[int]]
    actor_cum: list[float] = field(repr=False)
    path: str = ""


FILM_SIZES = {"small": (600, 500), "full": (9_000, 8_000)}


def film_iri(f: int) -> str:
    return f"<f{f}>"


def actor_iri(a: int) -> str:
    return f"<a{a}>"


def film_name(f: int) -> str:
    return f"Film {f}"


def actor_name(a: int) -> str:
    return f"Actor {a}"


def film_quads(f: int, cast: list[int]) -> list[str]:
    """N-Quads lines of one film: its name, and per cast member a
    ``<starring>`` edge to a performance bnode that points at the
    actor. A 4-actor film is 9 quads."""
    out = [f'{film_iri(f)} <name> "{film_name(f)}" .']
    for j, a in enumerate(cast):
        out.append(f"{film_iri(f)} <starring> _:p{f}_{j} .")
        out.append(f"_:p{f}_{j} <actor> {actor_iri(a)} .")
    return out


def draw_cast(rng: random.Random, cum: list[float], size: int) -> list[int]:
    cast: list[int] = []
    while len(cast) < size:
        a = zipf_draw(rng, cum)
        if a not in cast:
            cast.append(a)
    return cast


def film_graph(seed: int, size: str, cache_dir: str) -> FilmGraph:
    n_films, n_actors = FILM_SIZES[size]
    rng = random.Random(f"film:{seed}")
    cum = zipf_cum_weights(n_actors)
    casts = [draw_cast(rng, cum, rng.randint(3, 8)) for _ in range(n_films)]
    path = os.path.join(cache_dir, f"film-{seed}-{n_films}x{n_actors}.nq")
    lines = [f'{actor_iri(a)} <name> "{actor_name(a)}" .' for a in range(n_actors)]
    for f, cast in enumerate(casts):
        lines.extend(film_quads(f, cast))
    if not os.path.exists(path):
        _atomic_write(path, ("\n".join(lines) + "\n").encode())
    return FilmGraph(n_actors, casts, cum, path)


# ------------------------------------------------------------- follows


@dataclass
class FollowsGraph:
    """Directed follows edges ``(src, dst)`` between user indexes, in
    generation order, and the per-predicate quad counts."""

    edges: list[tuple[int, int]]
    pred_counts: dict[str, int]
    path: str = ""


FOLLOWS_SIZES = {"small": (400, 3), "full": (8_000, 4)}


def follows_graph(seed: int, size: str, cache_dir: str) -> FollowsGraph:
    """Preferential attachment: user ``u`` follows ``m`` distinct
    earlier users, each picked with probability proportional to its
    degree so far (the endpoint-list trick), plus one uniform pick so
    late users are not all leaves. ``n // 100`` extra users form
    separate follow triangles, so the graph has more than one
    connected component."""
    n, m = FOLLOWS_SIZES[size]
    rng = random.Random(f"follows:{seed}")
    ends: list[int] = [0, 1]
    edges = [(1, 0)]
    for u in range(2, n):
        picks: set[int] = set()
        want = min(m, u)
        while len(picks) < want:
            v = rng.choice(ends) if len(picks) < want - 1 else rng.randrange(u)
            picks.add(v)
        for v in sorted(picks):
            edges.append((u, v))
            ends.extend((u, v))
    for i in range(n // 100):
        a = n + 3 * i
        edges += [(a + 1, a), (a + 2, a + 1), (a, a + 2)]
    n_users = n + 3 * (n // 100)
    lines = [f"<u{s}> <follows> <u{d}> ." for s, d in edges]
    lines += [f'<u{u}> <name> "User {u}" .' for u in range(n_users)]
    lines += [f"<u{u}> <type> <Person> ." for u in range(0, n_users, 3)]
    counts = {
        "<follows>": len(edges),
        "<name>": n_users,
        "<type>": len(range(0, n_users, 3)),
    }
    path = os.path.join(cache_dir, f"follows-{seed}-{n}x{m}.nq")
    if not os.path.exists(path):
        _atomic_write(path, ("\n".join(lines) + "\n").encode())
    return FollowsGraph(edges, counts, path)


# -------------------------------------------------------------- corpus

# The gopher stop words lead the vocabulary so Zipf sampling makes
# every document read as English to the pipeline's language guess.
_HEAD = (
    "the of and to in a is that for it with as was on be by have this "
    "are from at or an which one had not but all were when there can"
).split()


@dataclass
class Corpus:
    """Document ids and texts as written, the ids of the held-out
    (decontamination) docs, and the groups of exact copies."""

    ids: list[int]
    texts: dict[int, str]
    held_out: list[int]
    exact_groups: list[list[int]]
    path: str = ""
    bench_path: str = ""


CORPUS_SIZES = {"small": 120, "full": 400}


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnoprstuvwy"
    words = list(_HEAD)
    seen = set(words)
    while len(words) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _document(rng: random.Random, vocab: list[str], cum: list[float]) -> str:
    lines = []
    for _ in range(rng.randint(4, 9)):
        words = [vocab[zipf_draw(rng, cum)] for _ in range(rng.randint(9, 18))]
        words[0] = words[0].capitalize()
        lines.append(" ".join(words) + ".")
    return "\n".join(lines)


def _near_copy(rng: random.Random, text: str, vocab: list[str]) -> str:
    """Replace one word in ~1 of 40 positions: Jaccard stays high."""
    lines = []
    for line in text.split("\n"):
        words = line[:-1].split(" ")
        for i in range(1, len(words)):
            if rng.random() < 0.025:
                words[i] = rng.choice(vocab[len(_HEAD):])
        lines.append(" ".join(words) + ".")
    return "\n".join(lines)


def corpus(seed: int, size: str, cache_dir: str) -> Corpus:
    """``n`` documents: 80% fresh, 10% exact copies of an earlier doc,
    10% near copies. Every 50th document is also written to the
    held-out set."""
    n = CORPUS_SIZES[size]
    rng = random.Random(f"corpus:{seed}")
    vocab = _vocab(rng, 3000)
    cum = zipf_cum_weights(len(vocab), s=1.05)
    texts: dict[int, str] = {}
    groups: dict[int, list[int]] = {}
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.10:
            src = rng.randrange(i)
            texts[i] = texts[src]
            root = next((k for k, g in groups.items() if src in g), src)
            groups.setdefault(root, [root]).append(i)
        elif i >= 10 and r < 0.20:
            texts[i] = _near_copy(rng, texts[rng.randrange(i)], vocab)
        else:
            texts[i] = _document(rng, vocab, cum)
    ids = list(range(n))
    held_out = ids[::50]
    path = os.path.join(cache_dir, f"corpus-{seed}-{n}.parquet")
    bench_path = os.path.join(cache_dir, f"corpus-{seed}-{n}-heldout.parquet")
    if not (os.path.exists(path) and os.path.exists(bench_path)):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def write(rows: list[int], out: str) -> None:
            table = pa.table(
                {
                    "doc_id": pa.array(rows, pa.int64()),
                    "text": [texts[i] for i in rows],
                    "source": [f"src{i % 4}" for i in rows],
                }
            )
            tmp = f"{out}.tmp{os.getpid()}"
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, out)

        write(ids, path)
        write(held_out, bench_path)
    return Corpus(ids, texts, held_out, list(groups.values()), path, bench_path)
