import oracle


def test_graph_oracles_on_a_small_graph():
    # a triangle 0-1-2 with a tail 2-3, plus a separate pair 4-5;
    # reciprocal and repeated edges collapse in the undirected views
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 3), (4, 5)]
    assert oracle.triangle_count(edges) == 1
    assert oracle.component_count(edges) == 2
    assert oracle.kcore_size(edges, 2) == 3
    assert oracle.kcore_size(edges, 3) == 0


def test_pagerank_summary_fixed_point():
    # 0 -> 1 once: r1 = 0.15 + 0.85 * 1, r0 = 0.15 (no in-edges)
    n, total, top = oracle.pagerank_summary([(0, 1)], iters=1)
    s = oracle.PAGERANK_SCALE
    assert n == 2
    assert top == s * 15 // 100 + 85 * s // 100
    assert total == top + s * 15 // 100


def test_film_model_tracks_adds_and_deletes():
    import gen

    fg = gen.FilmGraph(n_actors=3, casts=[[0, 1], [1, 2]], actor_cum=[1.0, 2.0, 3.0])
    m = oracle.FilmModel(fg)
    assert m.expect(("films", 1)) == ["Film 0", "Film 1"]
    assert m.expect(("inter", 0, 1)) == ["<f0>"]
    assert m.expect(("costar", 0)) == ["<a0>", "<a1>"]
    m.add(2, [0, 2])
    assert m.expect(("cast", 2)) == ["<a0>", "<a2>"]
    assert m.expect(("films", 0)) == ["Film 0", "Film 2"]
    m.delete(2)
    assert m.expect(("films", 0)) == ["Film 0"]


def test_curate_violations():
    import gen

    c = gen.Corpus(ids=[0, 1, 2, 3], texts={}, held_out=[0], exact_groups=[[1, 3]])
    assert oracle.curate_violations(c, [1, 2]) == []
    assert len(oracle.curate_violations(c, [0, 1, 3, 9])) == 3
