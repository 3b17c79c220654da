"""Model-based fuzz for the MinHash-LSH dedup pipeline.

The oracle queries pin ONE corpus; this pins the ALGORITHM: random
small corpora (with planted duplicates and near-duplicates) run
through ``minhash_lsh_pairs`` must match a pure-python replica of
the full rule — \\w+ tokenize → k-shingle → 16 md5-minima → 4-band
hashes → bucket join (hot buckets skipped) → exact shingle-Jaccard
verification. The md5-as-permutation trick makes both sides fully
deterministic, so equality is exact, not statistical.
"""

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

VOCAB = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu",
]

K, H, B, ROWS = 3, 16, 4, 4


def _shingles(text):
    toks = re.findall(r"\w+", text.lower())
    out = []
    for i in range(len(toks) - K + 1):
        s = " ".join(toks[i : i + K])
        if s not in out:
            out.append(s)
    return out


def _model_pairs(rows, threshold, cap):
    sh, sigs = {}, {}
    for i, t in rows:
        s = _shingles(t)
        if s:
            sh[i] = set(s)
            sigs[i] = [
                min(
                    hashlib.md5(f"{j}:{x}".encode()).hexdigest()
                    for x in s
                )
                for j in range(H)
            ]
    buckets = {}
    for i, sg in sigs.items():
        for b in range(B):
            bh = hashlib.md5(
                "|".join(sg[b * ROWS : (b + 1) * ROWS]).encode()
            ).hexdigest()
            buckets.setdefault((b, bh), []).append(i)
    cand = set()
    for ids in buckets.values():
        if cap is not None and len(ids) > cap:
            continue
        cand.update(
            (x, y) for x in ids for y in ids if x < y
        )
    out = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        if jac >= threshold:
            out[(a, b)] = round(jac, 9)
    return out


@st.composite
def corpora(draw):
    n = draw(st.integers(min_value=4, max_value=9))
    rows = []
    for i in range(n):
        if rows and draw(st.integers(0, 3)) == 0:
            # planted duplicate / near-duplicate of an earlier doc
            base = draw(st.sampled_from(rows))[1].split()
            if base and draw(st.booleans()):
                pos = draw(st.integers(0, len(base) - 1))
                base = list(base)
                base[pos] = draw(st.sampled_from(VOCAB))
            rows.append((i, " ".join(base)))
        else:
            toks = draw(
                st.lists(
                    st.sampled_from(VOCAB), min_size=1, max_size=24
                )
            )
            rows.append((i, " ".join(toks)))
    return rows


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpora(), thresh=st.sampled_from([0.2, 0.5, 0.8]))
def test_minhash_pipeline_matches_model(spark, rows, thresh):
    from cayley_spark.functions.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_lsh_pairs(
            df, jaccard_threshold=thresh
        ).collect()
    }
    want = _model_pairs(rows, thresh, cap=256)
    assert got == want, f"diverges on {rows!r} @ {thresh}"


def test_minhash_model_hot_bucket_cap(spark):
    """The cap-aware model also pins the guard: 12 identical docs
    with cap=8 → model drops the bucket, Spark drops the bucket."""
    from cayley_spark.functions.dedup import minhash_lsh_pairs

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(12)]
    rows += [(50, "zeta eta theta iota kappa"), (51, "zeta eta theta iota kappa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, jaccard_threshold=0.5, max_bucket_size=8
        ).collect()
    }
    assert got == set(_model_pairs(rows, 0.5, cap=8))
    assert got == {(50, 51)}


def _model_against(new_rows, old_rows, threshold, cap):
    """Pure-python replica of dedup_against: exact digest pass +
    asymmetric band join (combined bucket occupancy capped) + exact
    Jaccard verify. Returns surviving new ids."""
    old_digests = {
        hashlib.md5(t.encode()).hexdigest() for _, t in old_rows
    }
    sides = {}
    for tag, rows in (("n", new_rows), ("e", old_rows)):
        for i, t in rows:
            s = _shingles(t)
            if s:
                sig = [
                    min(
                        hashlib.md5(f"{j}:{x}".encode()).hexdigest()
                        for x in s
                    )
                    for j in range(H)
                ]
                sides.setdefault(tag, {})[i] = (set(s), sig)
    buckets = {}
    for tag in ("n", "e"):
        for i, (_, sig) in sides.get(tag, {}).items():
            for b in range(B):
                bh = hashlib.md5(
                    "|".join(sig[b * ROWS : (b + 1) * ROWS]).encode()
                ).hexdigest()
                buckets.setdefault((b, bh), []).append((tag, i))
    dup = set()
    for members in buckets.values():
        if cap is not None and len(members) > cap:
            continue
        ns = [i for t, i in members if t == "n"]
        es = [i for t, i in members if t == "e"]
        for a in ns:
            for b in es:
                sa, _ = sides["n"][a]
                sb, _ = sides["e"][b]
                inter = len(sa & sb)
                if inter / (len(sa) + len(sb) - inter) >= threshold:
                    dup.add(a)
    for i, t in new_rows:
        if hashlib.md5(t.encode()).hexdigest() in old_digests:
            dup.add(i)
    return {i for i, _ in new_rows} - dup


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    new=corpora(),
    old=corpora(),
    thresh=st.sampled_from([0.3, 0.6]),
)
def test_dedup_against_matches_model(spark, new, old, thresh):
    """The asymmetric crawl-admission path: exact digest semi-join +
    new-vs-existing band join (combined-occupancy hot-bucket cap) +
    Jaccard verify — pinned to the python replica. Ids offset so the
    two sides never share one."""
    from cayley_spark.functions.dedup import dedup_against

    new = [(i + 1000, t) for i, t in new]
    ndf = spark.createDataFrame(new, "doc_id long, text string")
    odf = spark.createDataFrame(old, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in dedup_against(
            ndf, odf, jaccard_threshold=thresh
        ).collect()
    }
    assert got == _model_against(new, old, thresh, cap=256), (
        f"diverges: new={new!r} old={old!r} @ {thresh}"
    )


# Pinned corpus for the fast tier (the fuzz above is slow-tier):
# planted near-dups, a sub-k byte-identical pair, and one hot bucket.
# BOILER x6 fills every band bucket of its signature past CAP, so its
# pairs fall to the exact pass only.
_NEAR = (
    "the quick brown fox jumps over the lazy dog while the calm river "
    "flows past the old stone bridge near the quiet village where the "
    "baker sells warm bread every single morning to travelers"
)
_BOILER = (
    "permission is hereby granted free of charge to any person "
    "obtaining a copy of this software and associated documentation"
)
CAP = 4
PINNED_OLD = [
    (1, _NEAR),
    (2, "hi there"),
    (3, "completely unrelated text about spark catalyst optimizer"),
] + [(10 + i, _BOILER) for i in range(5)]
PINNED_NEW = [
    (101, _NEAR.replace("morning", "evening")),
    (102, "hi there"),
    (103, "bye now"),
    (110, _BOILER),
    (111, _BOILER.replace("documentation", "files")),
    (130, "an entirely novel document with its own distinct words"),
]


def test_pinned_corpus_matches_models(spark):
    """minhash_lsh_pairs, dedup_against and LSHDedupIndex.dedup on one
    pinned corpus, each equal to its python model."""
    from cayley_spark.functions.dedup import dedup_against, minhash_lsh_pairs
    from cayley_spark.functions.dedup_index import LSHDedupIndex

    schema = "doc_id long, text string"
    odf = spark.createDataFrame(PINNED_OLD, schema)
    ndf = spark.createDataFrame(PINNED_NEW, schema)
    rows = PINNED_OLD + PINNED_NEW
    want_pairs = _model_pairs(rows, 0.5, cap=CAP)
    # the corpus exercises what it claims to: a verified near pair, and
    # boilerplate pairs that only the cap removes
    boiler = {10, 11, 12, 13, 14, 110, 111}
    assert (1, 101) in want_pairs
    assert not any({a, b} <= boiler for a, b in want_pairs)
    assert any({a, b} <= boiler for a, b in _model_pairs(rows, 0.5, None))
    got_pairs = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(rows, schema),
            jaccard_threshold=0.5,
            max_bucket_size=CAP,
        ).collect()
    }
    assert got_pairs == want_pairs

    want_kept = _model_against(PINNED_NEW, PINNED_OLD, 0.5, cap=CAP)
    # near (101), sub-k exact (102) and hot-bucket exact (110) drop
    assert {101, 102, 110}.isdisjoint(want_kept) and 130 in want_kept
    got = dedup_against(ndf, odf, jaccard_threshold=0.5, max_bucket_size=CAP)
    assert {r["doc_id"] for r in got.collect()} == want_kept
    idx = LSHDedupIndex.build(odf)
    got = idx.dedup(ndf, jaccard_threshold=0.5, max_bucket_size=CAP)
    assert {r["doc_id"] for r in got.collect()} == want_kept


# ---------------- repetition n-gram battery model fuzz ----------
# (lives here to reuse the corpora() strategy; the operator is in
# functions/text.py)


def _model_rep_ngrams(rows, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    out = {}
    for i, t in rows:
        tk = re.findall(r"\w+", t.lower())
        wc = sum(len(x) for x in tk)
        for n in sorted(set(top_ns) | set(dup_ns)):
            grams = [
                (" ".join(tk[p : p + n]), p)
                for p in range(len(tk) - n + 1)
            ]
            if n in top_ns:
                rule = "top"
                if grams:
                    from collections import Counter

                    c = Counter(g for g, _ in grams)
                    best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
                    cov = best[1] * (len(best[0]) - (n - 1))
                else:
                    cov = 0
            else:
                rule = "dup"
                from collections import Counter

                c = Counter(g for g, _ in grams)
                covered = set()
                for g, p in grams:
                    if c[g] >= 2:
                        covered.update(range(p, p + n))
                cov = sum(len(tk[j]) for j in covered)
            thr = 24 - 2 * n if n in top_ns else 20 - n
            out[(i, n)] = (rule, cov, wc, 100 * cov <= thr * wc)
    return out


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpora())
def test_rep_ngrams_matches_model(spark, rows):
    """repetition_ngram_stats vs a pure-python replica on random
    corpora (planted near-duplicates produce real within-doc n-gram
    repetition): rule, coverage chars, denominators, and verdicts
    must match for every (doc, n)."""
    from cayley_spark.functions.text import repetition_ngram_stats

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n"]): (
            r["rule"],
            r["cov_chars"],
            r["word_chars"],
            r["ok"],
        )
        for r in repetition_ngram_stats(df).collect()
    }
    assert got == _model_rep_ngrams(rows), f"diverges on {rows!r}"


# ---------------- trim_spans model fuzz ----------------


def _model_trim(rows, k=3, min_docs=2):
    """Pure-python replica of functions/dedup.trim_spans: positional
    k-shingles (lowercased keys), global >=min_docs-distinct-docs dup
    set, merged covered ranges per doc, tokens outside every range
    survive in original case/order."""
    toks = {i: re.findall(r"\w+", t) for i, t in rows}
    starts = {}
    occ = {}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            g = " ".join(x.lower() for x in tk[p : p + k])
            occ.setdefault(g, set()).add(i)
            starts.setdefault(i, []).append((p, g))
    dup = {g for g, ids in occ.items() if len(ids) >= min_docs}
    out = {}
    for i, tk in toks.items():
        spans = []
        for p, g in sorted(starts.get(i, [])):
            if g not in dup:
                continue
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + k - 1
            else:
                spans.append([p, p + k - 1])
        covered = {
            j for s, e in spans for j in range(s, e + 1)
        }
        kept = [x for j, x in enumerate(tk) if j not in covered]
        out[i] = (
            " ".join(kept),
            len(tk),
            len(tk) - len(kept),
            len(spans),
        )
    return out


# ---------------- exact_substr_dedup model fuzz ----------------


def _model_exact_substr(rows, k=3, min_count=2):
    """Pure-python replica of functions/dedup.exact_substr_dedup:
    verbatim positional k-windows, total-occurrence >= min_count dup
    set, the (id, pos)-smallest occurrence kept, all other
    occurrences' covered ranges merged and trimmed per doc."""
    toks = {i: re.findall(r"\w+", t) for i, t in rows}
    occ = {}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            occ.setdefault(" ".join(tk[p : p + k]), []).append((i, p))
    removal = {}
    for g, lst in occ.items():
        if len(lst) >= min_count:
            keeper = min(lst)
            for ip in lst:
                if ip != keeper:
                    removal.setdefault(ip[0], []).append(ip[1])
    out = {}
    for i, tk in toks.items():
        spans = []
        for p in sorted(removal.get(i, [])):
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + k - 1
            else:
                spans.append([p, p + k - 1])
        covered = {j for s, e in spans for j in range(s, e + 1)}
        kept = [x for j, x in enumerate(tk) if j not in covered]
        out[i] = (
            " ".join(kept),
            len(tk),
            len(tk) - len(kept),
            len(spans),
        )
    return out


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpora(), k=st.sampled_from([2, 3, 5]))
def test_exact_substr_matches_model(spark, rows, k):
    """exact_substr_dedup vs a pure-python replica on random corpora
    with planted duplicates: clean_text, counts, and merged span
    counts must match exactly — including the keep-one choice."""
    from cayley_spark.functions.dedup import exact_substr_dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["clean_text"],
            r["n_tokens"],
            r["n_removed"],
            r["n_spans"],
        )
        for r in exact_substr_dedup(df, k=k, min_count=2).collect()
    }
    want = _model_exact_substr(rows, k=k, min_count=2)
    assert got == want, f"diverges on {rows!r} @ k={k}"


def _model_exact_substr_against(new_rows, ref_rows, k=3, min_count=2):
    """Pure-python replica of functions/dedup.exact_substr_against:
    corpus windows removed from every new occurrence; batch-fresh
    windows keep-one within the batch."""
    ref_g = set()
    for _, t in ref_rows:
        tk = re.findall(r"\w+", t)
        for p in range(len(tk) - k + 1):
            ref_g.add(" ".join(tk[p : p + k]))
    toks = {i: re.findall(r"\w+", t) for i, t in new_rows}
    occ = {}
    removal = {}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            g = " ".join(tk[p : p + k])
            if g in ref_g:
                removal.setdefault(i, []).append(p)
            else:
                occ.setdefault(g, []).append((i, p))
    for g, lst in occ.items():
        if len(lst) >= min_count:
            keeper = min(lst)
            for ip in lst:
                if ip != keeper:
                    removal.setdefault(ip[0], []).append(ip[1])
    out = {}
    for i, tk in toks.items():
        spans = []
        for p in sorted(removal.get(i, [])):
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + k - 1
            else:
                spans.append([p, p + k - 1])
        covered = {j for s, e in spans for j in range(s, e + 1)}
        kept = [x for j, x in enumerate(tk) if j not in covered]
        out[i] = (
            " ".join(kept),
            len(tk),
            len(tk) - len(kept),
            len(spans),
        )
    return out


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpora(), k=st.sampled_from([2, 3, 5]))
def test_exact_substr_against_matches_model(spark, rows, k):
    """exact_substr_against vs a pure-python replica: split each
    random corpus into ref (even ids) and new (odd ids) so planted
    duplicates land both across the split and within the batch."""
    from cayley_spark.functions.dedup import exact_substr_against

    ref_rows = [r for r in rows if r[0] % 2 == 0]
    new_rows = [r for r in rows if r[0] % 2 == 1]
    if not new_rows:
        return
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    ref_df = spark.createDataFrame(
        ref_rows or [(10**9, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["clean_text"],
            r["n_tokens"],
            r["n_removed"],
            r["n_spans"],
        )
        for r in exact_substr_against(
            new_df, ref_df, k=k, min_count=2
        ).collect()
    }
    want = _model_exact_substr_against(
        new_rows, ref_rows, k=k, min_count=2
    )
    assert got == want, f"diverges on {rows!r} @ k={k}"


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpora(), k=st.sampled_from([2, 3]))
def test_substr_family_invariants(spark, rows, k, tmp_path_factory):
    """Family coherence on random corpora: (1) exact_substr_against
    with an EMPTY corpus degenerates to exact_substr_dedup (pure
    within-batch keep-one); (2) SubstrDedupIndex.trim reproduces
    exact_substr_against verbatim through the persisted fingerprint
    files (no 64-bit collisions at this scale)."""
    from cayley_spark.functions.dedup import (
        exact_substr_against,
        exact_substr_dedup,
    )
    from cayley_spark.functions.dedup_index import SubstrDedupIndex

    df = spark.createDataFrame(rows, "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")

    def snap(out):
        return {
            r["doc_id"]: (
                r["clean_text"],
                r["n_tokens"],
                r["n_removed"],
                r["n_spans"],
            )
            for r in out.collect()
        }

    assert snap(exact_substr_against(df, empty, k=k, min_count=2)) == snap(
        exact_substr_dedup(df, k=k, min_count=2)
    )
    ref_rows = [r for r in rows if r[0] % 2 == 0]
    new_rows = [r for r in rows if r[0] % 2 == 1]
    if not (ref_rows and new_rows):
        return
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    p = str(tmp_path_factory.mktemp("sidx"))
    SubstrDedupIndex.build(ref, k=k).save(p)
    idx = SubstrDedupIndex.load(spark, p)
    assert snap(idx.trim(new, min_count=2)) == snap(
        exact_substr_against(new, ref, k=k, min_count=2)
    )


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=corpora(), k=st.sampled_from([2, 3, 5]))
def test_trim_spans_matches_model(spark, rows, k):
    """trim_spans vs a pure-python replica on random corpora with
    planted near-duplicates: clean_text, token counts, removed
    counts, and MERGED span counts must all match exactly."""
    from cayley_spark.functions.dedup import trim_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["clean_text"],
            r["n_tokens"],
            r["n_removed"],
            r["n_spans"],
        )
        for r in trim_spans(df, k=k, min_docs=2).collect()
    }
    want = _model_trim(rows, k=k, min_docs=2)
    assert got == want, f"diverges on {rows!r} @ k={k}"
