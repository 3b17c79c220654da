from collections import Counter

import gen
import serve


def _film_graph(tmp_path):
    return gen.film_graph(5, "small", str(tmp_path))


def test_local_pass_has_the_exact_read_mix_in_every_block(tmp_path):
    fg = _film_graph(tmp_path)
    ops = serve.local_pass(5, fg)
    assert len(ops) == serve.LOCAL_PASS_READS
    for i in range(0, len(ops), 10):
        kinds = Counter(read[0] for _, read in ops[i : i + 10])
        assert kinds == Counter(serve.READ_MIX)


def test_local_pass_reads_each_popularity_slice_once_per_kind(tmp_path):
    fg = _film_graph(tmp_path)
    ops = serve.local_pass(5, fg)
    for kind in set(serve.READ_MIX):
        ranks = sorted(read[1] for _, read in ops if read[0] == kind)
        n = len(ranks)
        for j, rank in enumerate(ranks):
            lo = gen.zipf_rank(fg.actor_cum, j / n)
            hi = gen.zipf_rank(fg.actor_cum, (j + 1) / n)
            assert lo <= rank <= hi


def test_write_pass_reads_the_film_after_adding_and_after_deleting(tmp_path):
    fg = _film_graph(tmp_path)
    ops = serve.write_pass(5, fg)
    kinds = [op[0] for op in ops]
    add, delete = kinds.index("add"), kinds.index("delete")
    new = len(fg.casts)
    assert ops[add + 1] == ("read", ("cast", new))
    assert {op[1][0] for op in ops[add + 1 : delete]} == {"cast", "name", "films", "costar", "inter"}
    assert ops[delete + 1][0] == "read" and ops[delete + 1][1][0] == "films"
