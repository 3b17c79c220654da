import filecmp

import pytest

import gen


def _files(kind, seed, cache_dir):
    if kind == "film":
        return [gen.film_graph(seed, "small", str(cache_dir)).path]
    if kind == "follows":
        return [gen.follows_graph(seed, "small", str(cache_dir)).path]
    c = gen.corpus(seed, "small", str(cache_dir))
    return [c.path, c.bench_path]


@pytest.mark.parametrize("kind", ["film", "follows", "corpus"])
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    first = _files(kind, 7, a)
    again = _files(kind, 7, b)
    other = _files(kind, 8, c)
    for x, y, z in zip(first, again, other):
        assert filecmp.cmp(x, y, shallow=False)
        assert not filecmp.cmp(x, z, shallow=False)


def test_cached_file_is_reused(tmp_path):
    p = gen.follows_graph(3, "small", str(tmp_path)).path
    with open(p, "ab") as f:
        f.write(b"# marker\n")
    assert gen.follows_graph(3, "small", str(tmp_path)).path == p
    with open(p, "rb") as f:
        assert f.read().endswith(b"# marker\n")


def test_film_quads_of_a_four_actor_film():
    lines = gen.film_quads(12, [1, 2, 3, 4])
    assert len(lines) == 9
    assert lines[0] == '<f12> <name> "Film 12" .'


def test_corpus_holds_out_one_in_fifty(tmp_path):
    c = gen.corpus(1, "small", str(tmp_path))
    assert c.held_out == c.ids[::50]
    assert all(c.texts[g[0]] == c.texts[i] for g in c.exact_groups for i in g)
