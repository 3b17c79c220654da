"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the standard large-corpus near-duplicate stack.

Design for scale:

- Exact dedup is one hash-groupBy (map-side partial agg, one shuffle
  on the 128-bit digest — uniform keys, no skew).
- MinHash signatures are pure column expressions over word shingles:
  ``min(md5(seed || shingle))`` per permutation. Using md5-prefix
  *strings* (not ints) keeps the whole pipeline portable to any SQL
  engine (the DuckDB oracle computes the identical signature).
- LSH banding groups permutations into bands; candidate pairs are an
  equi-join on (band_index, band_hash) — a shuffle join on uniform
  hash keys. At 100 TB this is the only shuffle, and it's on the
  *banded signature* (tiny) rather than the documents.
- Verification joins candidates back and computes exact n-gram
  Jaccard with array_intersect/array_union — only on the candidate
  set, never all-pairs.
- HOT-BUCKET GUARD: a band hash shared by B documents (boilerplate
  templates, license headers) would otherwise emit B² candidate
  rows from one skewed shuffle key. Every banded join here skips
  buckets with more than ``max_bucket_size`` occupants (default
  256) — the batch analog of the streaming operator's FIFO
  ``max_occupants`` cap. The trade-off is documented recall loss on
  ubiquitous boilerplate; byte-identical members of a skipped
  bucket are still caught by the exact-digest passes
  (``exact_duplicate_groups`` / ``dedup_against``'s digest
  semi-join), which don't go through LSH at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import TOKEN_RE


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (digest, n_docs, doc_ids)
    for groups with >1 member. doc_ids sorted for determinism."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def duplicate_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: every doc is
    assigned ``cluster_id`` = the smallest doc id reachable through
    duplicate edges (its own id for singletons). The canonical
    keep-one-per-cluster selection is then ``cluster_id == doc_id``.

    Min-label propagation: each round every vertex takes the minimum
    label among itself and its neighbors — one hash join + one
    aggregation per round, both partitioned by vertex id. Labels only
    ever DECREASE, so an unchanged ``sum(lab)`` across rounds is an
    exact convergence proof; the check is one cheap aggregate action
    per round (which also materializes the round's lazy
    localCheckpoint, same pattern as the recursion compiler). Rounds
    needed = component diameter; near-duplicate clusters are shallow
    in practice and ``max_iter`` bounds adversarial chains. All state
    is distributed — nothing driver-side grows with the graph.

    ``id_col`` must be numeric: the convergence proof sums labels as
    decimal(38,0), and a non-numeric id would cast to NULL and make
    round 1 look converged (sum NULL == initial NULL) — rejected up
    front rather than silently returning unconverged clusters.
    """
    id_type = ids.schema[id_col].dataType.typeName()
    if id_type not in ("long", "integer", "short", "byte", "decimal"):
        raise TypeError(
            f"duplicate_clusters requires a numeric id_col; {id_col!r} is "
            f"{id_type} (map it to a dense integer id first)"
        )
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    # pinned PRE-PARTITIONED on the loop's join key: an
    # InMemoryRelation preserves its HashPartitioning (see
    # graphs/algorithms.pagerank — the same r15 pattern, pinned by
    # tests/test_algorithms.py), so every round's edges⋈labels join
    # plans no Exchange on the big edge side; only the small label
    # frame shuffles per round. A bare persist() of the union kept
    # whatever partitioning the pair generator left, and the join
    # re-shuffled the full edge set every round.
    # npart sized by bytes (see graphs/algorithms.pagerank and
    # _sizing.pin_partitions — VERDICT r15 #4: a constant count
    # over-partitions small frames locally and under-splits at scale)
    from .._sizing import pin_partitions

    both = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    edges = both.repartition(pin_partitions(both), "a").persist()
    labels = ids.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("lab")
    ).localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(max_iter):
        msgs = edges.join(labels, edges["a"] == labels["id"]).select(
            F.col("b").alias("id"), "lab"
        )
        new = (
            labels.unionAll(msgs)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
        cur_sum = new.agg(
            F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    from ._cache import track_persisted

    # Same contract as the other dedup operators: the persisted edges
    # frame is attached to the (lazy) result and released by the
    # caller via unpersist_intermediates after materialization.
    return track_persisted(
        labels.select(
            F.col("id").alias(id_col), F.col("lab").alias("cluster_id")
        ),
        edges,
    )


def let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Catalyst inlines a column expression into every reference to it,
    and it does no common-subexpression elimination across
    higher-order functions, so an expression that ``body`` reads n
    times runs n times per row. A lambda argument is evaluated once:
    ``value`` is bound as the lambda variable of a ``transform`` over
    a one-element array, and ``[0]`` unwraps the result."""
    return F.transform(F.array(value), body)[0]


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles (lowercased). Returns array<string>; distinct."""

    def shingle(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
        )
        return F.array_distinct(F.when(n >= k, sh).otherwise(F.array()))

    toks = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)
    return let(toks, shingle)


def _seeded_md5(i: int):
    """One-arg transform callable hashing with seed ``i``. MUST be a
    closure factory, not ``lambda s, i=i``: pyspark decides the
    lambda's higher-order-function arity from its Python parameter
    count, so a two-parameter lambda receives (element, INDEX) and
    the "default" is silently shadowed by the index column — the
    seed then stringifies a Column object, which is unique per
    invocation and makes signatures irreproducible across calls
    (caught by dedup_against joining signatures built in two calls)."""
    seed = f"{i}:"
    return lambda s: F.md5(F.concat(F.lit(seed), s))


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as array<string>: element i is
    min(md5(i || ':' || shingle)) over the shingle set — a portable
    stand-in for i-th hash-permutation minima."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _seeded_md5(i)))
            for i in range(num_hashes)
        ]
    )


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Band hashes: array<string> of length ``bands``; band b is the
    md5 of the concatenated rows of that band."""
    return F.array(
        *[
            F.md5(F.concat_ws("|", F.slice(sig, b * rows + 1, rows)))
            for b in range(bands)
        ]
    )


def minhash_rows(text: Column, k: int, num_hashes: int) -> Column:
    """The MinHash signature kernel, as a generator column for
    ``select``: one ``(sh, sig)`` row per document, its distinct
    k-word shingles and their signature. Both are NULL for a document
    under ``k`` tokens, so the row survives for the exact-digest
    passes.

    The shingle array is bound once with :func:`let`, so the hash
    minima read one lambda variable rather than one tokenizer each.
    The pair leaves through ``inline``: a generator is not a Project,
    so project-collapse cannot inline it back into the consumers'
    band slices, null tests and verification joins."""

    def pair(sh):
        has = F.size(sh) > 0
        return F.array(
            F.struct(
                F.when(has, sh).alias("sh"),
                F.when(has, minhash_signature(sh, num_hashes)).alias("sig"),
            )
        )

    return F.inline(let(word_shingles(text, k), pair))


def _sig_frame(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int
) -> DataFrame:
    """(id, digest, sh, sig) for every row of ``df``: the kernel plus
    the md5 digest the exact pass joins on."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.md5(text).alias("digest"),
        minhash_rows(text, k, num_hashes),
    )


def _banded(sigs: DataFrame, bands: int, rows: int, *cols) -> DataFrame:
    """``cols`` plus (band, bh), one row per LSH band of every row of
    a kernel frame that has a signature."""
    bh = lsh_bands(F.col("sig"), bands, rows)
    return sigs.where(F.col("sig").isNotNull()).select(
        *cols, F.posexplode(bh).alias("band", "bh")
    )


def hot_bucket_keys(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band, bh) keys of LSH buckets holding more than
    ``max_bucket_size`` rows of ``banded``. One partial-aggregated
    count on the tiny banded projection; the result is by definition
    sparse (only pathological boilerplate buckets qualify), so
    callers BROADCAST it into a left-anti join — the banded stream
    itself is never reshuffled for the guard."""
    return (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket_size)
        .select("band", "bh")
    )


def _skip_hot_buckets(
    side: DataFrame, count_from: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Drop rows of ``side`` that land in hot buckets (occupancy
    measured over ``count_from``). ``None`` disables the guard
    (explicit opt-out only).

    Two plans:

    - self-count (``count_from is side`` — the self-join operators):
      a count window partitioned by (band, bh). The window's hash
      partitioning is EXACTLY the band join's required distribution,
      so Catalyst inserts no extra shuffle and no separate broadcast
      job — the guard rides the shuffle the join pays anyway
      (measured: the earlier broadcast-anti-join formulation
      serialized an extra aggregate job before the main join and
      cost ~5 s at sf0.1; this one is ~free).
    - cross-count (asymmetric operators, occupancy over the union of
      both sides): aggregate the hot keys — by definition sparse —
      and broadcast-anti-join them off ``side``; the banded stream
      itself is never reshuffled for the guard."""
    if max_bucket_size is None:
        return side
    if count_from is side:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "bh")
        return (
            side.withColumn("__bn", F.count(F.lit(1)).over(w))
            .where(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    hot = hot_bucket_keys(count_from, max_bucket_size)
    return side.join(F.broadcast(hot), ["band", "bh"], "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float | None = None,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash-LSH banding:
    (id_a, id_b) with id_a < id_b, distinct. If ``jaccard_threshold``
    is set, candidates are verified with exact shingle-set Jaccard and
    the score column ``jaccard`` is returned.

    Buckets with more than ``max_bucket_size`` occupants are skipped
    entirely (see module docstring): candidate volume is bounded by
    O(buckets x cap²) instead of O(hottest-bucket²). Byte-identical
    boilerplate inside a skipped bucket is ``exact_duplicate_groups``'s
    job — it never goes through LSH."""
    # One persisted kernel frame: without it the a/b sides of the
    # bucket self-join and both verification joins each recompute the
    # tokenizer and the signature.
    sig = (
        df.select(
            F.col(id_col).alias("id"),
            minhash_rows(F.col(text_col), k, num_hashes),
        )
        .where(F.col("sig").isNotNull())
        .persist()
    )
    banded = _banded(sig, bands, num_hashes // bands, "id")
    # both sides guarded: same result as one-sided (a bucket dies if
    # either side is filtered) but the identical subtrees let Catalyst
    # reuse one shuffle exchange for the self-join
    guarded = _skip_hot_buckets(banded, banded, max_bucket_size)
    a = guarded.select(F.col("id").alias("id_a"), "band", "bh")
    b = guarded.select(F.col("id").alias("id_b"), "band", "bh")
    pairs = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    from ._cache import track_persisted

    if jaccard_threshold is None:
        return track_persisted(pairs, sig)
    sh_a = sig.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return track_persisted(
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard"),
        sig,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    grid: int = 8,
    direct_join_budget: int = 500_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within a blocking key (e.g. language
    or source). Returns (id_a, id_b, jaccard >= threshold).

    Two exact plans, chosen adaptively by a measured cost — the
    postings self-join produces exactly sum(df^2) rows, priced with
    one tiny aggregate before committing:

    - **direct** (sum(df^2) <= ``direct_join_budget``): inverted-index
      self-join on (block, shingle) with one pair-count aggregate.
      Optimal for dense small-vocabulary corpora, where prefix
      filtering prunes little but its verification re-join would pay
      |candidates| x set-size anyway.
    - **prefix-filtered** (AllPairs, Bayardo et al. WWW'07): rank each
      document's shingles by ascending document frequency; a pair with
      J >= t shares >= ceil(t*n) shingles, so its intersection must
      hit the first n - ceil(t*n) + 1 shingles in any global order.
      Candidates come from the PREFIX postings self-join only — the
      ubiquitous shingles that make the direct join quadratic sort
      LAST and rarely enter a prefix — then a LENGTH filter
      (J >= t forces t*na <= nb <= na/t) prunes candidates before the
      full intersection is counted for the survivors. This is the
      100 TB path: no term's df² ever materializes.

    The budget default (5e8) is set from measurement, not caution: the
    round-8 scale-slope experiment (SCALE.md) put the direct join at
    ~4 s for sum(df^2)=19M while AllPairs took 77 s at 57M with
    t=0.35 (a low threshold keeps ~(1-t) of every posting list in the
    prefix, so its pruning is weakest exactly where it is priciest).
    A 5e8-row equi-join on uniform keys is well inside one cluster
    slice; what the budget must prevent is the df² catastrophe — one
    df=1e6 boilerplate shingle alone is 1e12 join rows — and 5e8
    still catches any such term long before it materializes.

    Both plans stay inside whole-stage codegen — no per-pair
    ``array_intersect``, whose interpreted fallback allocates a hash
    set per comparison and convoys hard at high task counts.

    ``grid`` kept for API stability; the inverted index parallelizes
    by shingle so it is unused."""
    from pyspark.sql.window import Window

    sh = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), k).alias("sh"),
    ).where(F.size("sh") > 0)
    postings = sh.select("blk", "id", F.explode("sh").alias("s")).persist()
    # set sizes FROM the cached postings (shingles are distinct, so
    # the per-doc posting count IS the set size): deriving them from
    # ``sh`` would re-run the regex+shingling scan once per use —
    # the na/nb joins alone would pay it twice more
    sizes = postings.groupBy("blk", "id").agg(
        F.count(F.lit(1)).alias("n")
    ).persist()
    dfreq = postings.groupBy("blk", "s").agg(F.count(F.lit(1)).alias("df"))
    # Adaptive plan choice (the AQE idea, one level up): the direct
    # postings self-join materializes exactly sum(df^2) rows — cheap
    # for dense small-vocabulary corpora where prefix filtering prunes
    # little but its verification re-join pays |cand| x setsize. One
    # tiny aggregate prices both plans before committing.
    sum_df2 = dfreq.agg(F.sum(F.col("df") * F.col("df"))).collect()[0][0] or 0
    # sizes is referenced by both the na and nb joins, whose map
    # stages are scheduled concurrently — materialize it once here
    # (the pricing job above has already populated the postings cache,
    # so this is one cheap cached-scan aggregate instead of two racing
    # ones re-aggregating per side).
    sizes.count()
    if sum_df2 <= direct_join_budget:
        a = postings.select("blk", F.col("id").alias("id_a"), "s")
        b = postings.select("blk", F.col("id").alias("id_b"), "s")
        inter = (
            a.join(b, ["blk", "s"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        w = Window.partitionBy("blk", "id").orderBy("df", "s")
        prefix = (
            postings.join(dfreq, ["blk", "s"])
            .withColumn("rank", F.row_number().over(w))
            .withColumn(
                "n", F.count(F.lit(1)).over(Window.partitionBy("blk", "id"))
            )
            .where(
                # +2, not the theorem's +1: double(threshold) can
                # round UP, and when t*n is an exact integer
                # (t=0.28, n=25 -> 7) the float ceil yields n*t + 1,
                # shortening the prefix below what a true boundary
                # pair needs. One extra posting per doc buys float
                # immunity; candidates are exactness-verified anyway.
                F.col("rank")
                <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 2
            )
            .select("blk", "id", "s", "n")
        )
        # length filter (PPJoin's size bound) INSIDE the candidate
        # join: J >= t forces t*na <= nb <= na/t, and n rides along
        # the prefix rows for free (the window above computed it), so
        # out-of-range pairs die in the join condition — never
        # reaching dropDuplicates or the verification re-join, and no
        # extra join is spent applying the bound (a post-hoc size
        # lookup would re-join every candidate twice).
        #
        # The bound is slacked by ONE: double(threshold) can round UP
        # (t=0.28 -> 0.28000...01), and the tight form `nb*t <= na`
        # then kills a true boundary pair (J exactly t) that the
        # final jaccard >= threshold check would accept — the two
        # "exact" plans would disagree. Since every candidate is
        # exactness-verified downstream, the filter is purely an
        # optimization: +1 of integer slack makes float rounding
        # irrelevant (|na*t - round| < 0.5 for any realistic na) at
        # the cost of a vanishing sliver of extra candidates.
        t = F.lit(float(threshold))
        one = F.lit(1)
        pref_a = prefix.select(
            "blk", F.col("id").alias("id_a"), F.col("n").alias("na"), "s"
        )
        pref_b = prefix.select(
            "blk", F.col("id").alias("id_b"), F.col("n").alias("nb"), "s"
        )
        cand = (
            pref_a.join(pref_b, ["blk", "s"])
            .where(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("nb") * t <= F.col("na") + one)
                & (F.col("na") * t <= F.col("nb") + one)
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # full intersection count, candidates only
        pa = cand.join(
            postings.select(F.col("id").alias("id_a"), "s"), "id_a"
        )
        inter = (
            pa.join(
                postings.select(F.col("id").alias("id_b"), "s"), ["id_b", "s"]
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    from ._cache import track_persisted

    return track_persisted(
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
        postings,
        sizes,
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Verbatim cross-document span detection — the per-doc signal
    behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", which uses suffix
    arrays; the fixed-k shingle form is its streaming-friendly
    relaxation): a span is a k-word shingle, a span occurring in at
    least ``min_docs`` DISTINCT documents is "duplicated", and every
    document reports how many distinct duplicated spans it contains —
    (id, n_dup_spans), documents with none omitted. Consumers route
    on it (drop, trim the span, or send to exact dedup).

    Scale shape: NO pair join anywhere — explode shingles, one
    groupBy(shingle) for the distinct-doc count, one semi-join back,
    one per-doc count. O(total shingles) with uniform keys; a
    boilerplate span shared by a million documents costs one counter
    row, not 10^12 candidate pairs (the failure mode the LSH
    operators need the hot-bucket guard for never arises here)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("g"),
    )
    dup = (
        sh.groupBy("g")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    return (
        sh.join(dup, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
        .select(F.col("id").alias(id_col), "n_dup_spans")
    )


def trim_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring REMOVAL — the actionable form of
    :func:`duplicated_spans` (Lee et al. 2022 §3 remove the
    duplicated substring, not the document; fixed-k shingle
    relaxation of their suffix-array match): positional k-word
    shingles, a shingle occurring in >= ``min_docs`` distinct
    documents is duplicated, adjacent/overlapping duplicated
    shingles merge into MAXIMAL token spans per document, and the
    covered tokens are deleted. Returns every document as
    (id, clean_text, n_tokens, n_removed, n_spans) where clean_text
    is the space-joined surviving tokens in original order and
    original case (matching is case-insensitive, output is not).

    Scale shape: same no-pair-join discipline as duplicated_spans —
    explode positional shingles, ONE groupBy(shingle) for the
    distinct-doc count, one semi-join back, one per-doc collect of
    duplicated start positions. Span merging is a per-doc
    F.aggregate over the SORTED start list (run-length merge:
    extend the open span while start <= end+1), so a fully
    boilerplate document collapses to ONE merged span and the
    token-coverage test costs O(n_tokens x n_merged_spans), not
    O(n_tokens x n_starts). Token text never shuffles twice: the
    only wide ops are the shingle groupBy and the id-keyed joins."""
    # coalesce: NULL text must behave like an empty document (counts
    # 0/0/0), not propagate size(NULL) into n_tokens/n_removed
    toks = F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0),
        F.array().cast("array<string>"),
    )
    # persist the tokenized projection: it feeds the shingle explode
    # (twice — dup counting and start collection) and the final
    # reassembly join; without it each consumer re-reads the corpus
    # and re-tokenizes (3 full scans at 100 TB)
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).persist()
    n = F.size("toks")
    # positional shingles: (id, start_pos, lowercased k-gram)
    sh = base.select(
        "id",
        F.posexplode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.lower(
                        F.concat_ws(" ", F.slice("toks", i + 1, k))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "g"),
    )
    dup = (
        sh.groupBy("g")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    starts = (
        sh.join(dup, "g", "left_semi")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("starts"))
    )
    return _trim_by_starts(base, starts, k, id_col)


def _trim_by_starts(
    base: DataFrame, starts: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Shared removal tail of trim_spans / exact_substr_dedup: given
    the persisted tokenized corpus ``base`` (id, toks) and per-doc
    SORTED duplicate-window start positions ``starts`` (id, starts),
    merge each [s, s+k-1] run into maximal spans (run-length merge:
    extend the open span while start <= end+1, so a fully boilerplate
    document collapses to ONE merged span and the token-coverage test
    costs O(n_tokens x n_merged_spans), not O(n_tokens x n_starts)),
    delete the covered tokens, and return every document as
    (id_col, clean_text, n_tokens, n_removed, n_spans)."""
    n = F.size("toks")
    empty_spans = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    merged = F.aggregate(
        F.coalesce(F.col("starts"), F.expr("CAST(array() AS array<int>)")),
        empty_spans,
        lambda acc, s: F.when(
            # try_element_at: ANSI-safe on the empty accumulator (the
            # size(acc) > 0 conjunct is not guaranteed to evaluate
            # first after optimizer reordering)
            (F.size(acc) > 0)
            & (s <= F.try_element_at(acc, F.lit(-1))["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.try_element_at(acc, F.lit(-1))["s"].alias("s"),
                        (s + k - 1).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(s.alias("s"), (s + k - 1).alias("e"))),
            )
        ),
    )
    out = base.join(starts, "id", "left").withColumn("spans", merged)
    kept = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(0), n - 1),
            lambda i: ~F.exists(
                "spans", lambda sp: (i >= sp["s"]) & (i <= sp["e"])
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    from ._cache import track_persisted

    return track_persisted(out.select(
        F.col("id").alias(id_col),
        F.concat_ws(
            " ",
            F.transform(
                kept, lambda i: F.try_element_at("toks", i + 1)
            ),
        ).alias("clean_text"),
        n.cast("int").alias("n_tokens"),
        (n - F.size(kept)).cast("int").alias("n_removed"),
        F.size("spans").cast("int").alias("n_spans"),
    ), base)


def _removal_starts(
    sh: DataFrame,
    min_count: int,
    hot_cap: int | None,
    exclude: DataFrame | None = None,
    exclude_key: str = "g",
) -> DataFrame:
    """Occurrences to REMOVE from a positional window stream ``sh``
    (id, pos, g, ...) under the ExactSubstr keep-one rule: every
    occurrence of a window with >= ``min_count`` total occurrences
    except the global (id, pos)-minimum keeper. Shared by
    exact_substr_dedup / exact_substr_against / SubstrDedupIndex.trim.

    ``exclude`` (the corpus window set of the asymmetric operators,
    keyed by ``exclude_key``) is anti-joined out of the WINDOW path:
    its keys' occurrences are removed wholesale by the caller's own
    corpus semi-join, so they never need the keep-one verdict.

    Default path: (cnt, keeper) annotate every occurrence over ONE
    analytic window-key shuffle (the r11 measured rewrite — a groupBy
    + join-back shuffles the k×-corpus-tokens stream twice). But
    window functions get no map-side partial aggregation and AQE's
    skew mitigation never splits window partitions, so a window key
    shared by 10^7+ occurrences (license boilerplate, chain letters)
    would serialize into ONE straggler/OOM task at 100 TB.

    ``hot_cap`` is that guard — the window-modality port of the LSH
    family's hot_bucket_keys discipline: a deterministic doc-sampled
    count pre-pass (rate ≈ 20/hot_cap, keyed xxhash64(doc id) so it
    is reproducible across runs/engines/partitionings) flags windows
    with ≈> hot_cap occurrences; flagged windows take a map-side-
    combinable groupBy (partial aggregation collapses a 10^8-row key
    to one row per input partition BEFORE the shuffle) whose tiny
    result broadcast-joins back, so hot occurrences never co-locate;
    every other window rides the analytic window exactly as before.
    Routing happens BEFORE the ``exclude`` join: window-key membership
    in the corpus is per-KEY, so a hot key's count is identical on
    either side of it, the hot path pays no corpus join at all, and
    flagged keys leave the cold stream before the corpus anti-join —
    which ALSO de-skews that join's sort. A hot key that IS in the
    corpus produces keep-one hits here that are a strict subset of
    the caller's corpus hits (duplicate start positions merge into
    the same span in _trim_by_starts) — over-removal is impossible.

    The sample affects ROUTING only, never the verdict: flagged
    windows get exact (cnt, keeper) from the groupBy, windows the
    sample missed are still exact via the window path — so the output
    is bit-identical for every hot_cap including None (disabled), and
    the driver oracle needs no cap logic. On corpora with no hot
    window the candidate set materializes EMPTY and AQE's
    empty-relation propagation collapses the guard joins
    (semi/inner/anti against an empty broadcast), leaving the
    single-window plan to do all the work."""
    keep_min = F.min(F.struct(F.col("id"), F.col("pos")))
    not_keeper = (F.col("id") != F.col("keep.id")) | (
        F.col("pos") != F.col("keep.pos")
    )
    hot_hits = None
    cold = sh
    if hot_cap is not None:
        rate = max(1, int(hot_cap) // 20)
        cand = (
            sh.where(F.pmod(F.xxhash64("id"), F.lit(rate)) == 0)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("sc"))
            .where(F.col("sc") * (2 * rate) >= F.lit(int(hot_cap)))
            .select("g")
        )
        hot_stream = sh.join(F.broadcast(cand), "g", "left_semi").select(
            "id", "pos", "g"
        )
        hot = (
            hot_stream.groupBy("g")
            .agg(F.count(F.lit(1)).alias("cnt"), keep_min.alias("keep"))
            .where(F.col("cnt") >= int(min_count))
        )
        hot_hits = (
            hot_stream.join(F.broadcast(hot), "g", "inner")
            .where(not_keeper)
            .select("id", "pos")
        )
        cold = sh.join(F.broadcast(cand), "g", "left_anti")
    if exclude is not None:
        cold = cold.join(exclude, exclude_key, "left_anti")
    from pyspark.sql.window import Window

    w = Window.partitionBy("g")
    ann = cold.select(
        "id",
        "pos",
        F.count(F.lit(1)).over(w).alias("cnt"),
        keep_min.over(w).alias("keep"),
    )
    cold_hits = ann.where(
        (F.col("cnt") >= int(min_count)) & not_keeper
    ).select("id", "pos")
    if hot_hits is None:
        return cold_hits
    return cold_hits.unionByName(hot_hits)


def _token_window_arr(n, k: int):
    """Array of the k-token sliding windows of column ``toks``
    (VERBATIM, space-joined — the ExactSubstr match key), empty when
    the document is shorter than k tokens. ``n`` is the caller's
    F.size('toks') expression."""
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_substr_against(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
    hot_cap: int | None = 100_000,
) -> DataFrame:
    """Asymmetric ExactSubstr — the incremental pass of
    :func:`exact_substr_dedup` (the daily-crawl-vs-historical-corpus
    pattern of ``dedup_against``, in the substring modality): trim
    from ``new`` every k-token window that occurs ANYWHERE in
    ``existing`` (the already-admitted corpus is canonical, so EVERY
    new occurrence goes — no keep-one), and additionally keep-one
    dedup the windows duplicated (>= ``min_count`` occurrences)
    WITHIN ``new`` itself, so the returned batch is clean against
    the corpus AND against itself — appending it to ``existing``
    preserves the global at-most-one-copy invariant. Returns every
    ``new`` document as (id, clean_text, n_tokens, n_removed,
    n_spans); ``existing`` rows are never rewritten (they hold the
    canonical copies by construction).

    Splice-junction relaxation: the invariant is over the PRE-SPLICE
    token streams. Deleting a span splices its surviving neighbors
    together, and a spliced junction can form a NEW k-window in
    clean_text that happens to coincide with a corpus window; junction
    windows are not re-checked (the standard fixed-k ExactSubstr
    relaxation — a suffix-array implementation has the same property
    at removal boundaries).

    Scale shape: never new×new or new×existing document pairs. The
    existing side reduces to its DISTINCT window set (one map-side-
    combinable aggregate — at scale a persisted, incrementally
    appended sidecar like LSHDedupIndex rather than a per-batch
    rescan); the new side's windows semi-join it on the window key,
    and the within-batch pass reuses exact_substr_dedup's
    (count, keeper) aggregate restricted to windows ABSENT from the
    corpus (windows present in it are already fully removed — the
    anti-join keeps the two removal sets disjoint by construction).
    One explode per side, window-key joins, one id shuffle, the
    shared trim tail."""
    toks = F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0),
        F.array().cast("array<string>"),
    )
    base = new.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).persist()
    n = F.size("toks")

    sh = base.select(
        "id", F.posexplode(_token_window_arr(n, k)).alias("pos", "g")
    )
    corpus_g = (
        existing.select(toks.alias("toks"))
        .select(
            F.explode(_token_window_arr(F.size("toks"), k)).alias("g")
        )
        .distinct()
    )
    # pass 1: every occurrence of a corpus window is removed
    hit_corpus = sh.join(corpus_g, "g", "left_semi").select("id", "pos")
    # pass 2: keep-one within the batch for windows NOT in the corpus
    # (exclude= anti-joins them out of the window path); (cnt, keeper)
    # ride one hot-key-guarded window shuffle. A hot key that is also
    # a corpus key may appear in both hit streams — duplicate start
    # positions merge into the same span in _trim_by_starts
    hit_batch = _removal_starts(
        sh, min_count, hot_cap, exclude=corpus_g
    )
    starts = (
        hit_corpus.unionByName(hit_batch)
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("starts"))
    )
    return _trim_by_starts(base, starts, k, id_col)


def exact_substr_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
    hot_cap: int | None = 100_000,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" §4.1: any 50-token
    substring repeated verbatim in the corpus is removed until one
    copy remains; fixed-k sliding-window relaxation of their
    suffix-array maximal match): positional k-token windows, matched
    VERBATIM (case-sensitive — unlike trim_spans' case-folded
    shingles), a window with >= ``min_count`` total occurrences
    ANYWHERE (including repeats inside one document — unlike
    trim_spans' distinct-document threshold) is duplicated, its
    single canonical occurrence (the (id, pos)-smallest — the
    paper's "leave one copy", made deterministic) survives, and
    every OTHER occurrence is deleted via the shared span-merge
    trimmer. Returns every document as (id, clean_text, n_tokens,
    n_removed, n_spans); clean_text space-joins the surviving tokens
    in original order/case (the same whitespace relaxation as
    trim_spans).

    Scale shape (the no-pair-join discipline of duplicated_spans):
    one positional-window explode, then (count, keeper) annotate
    every occurrence over ONE window-key shuffle (an unbounded
    analytic window — a groupBy + join-back would shuffle the
    k×-corpus-tokens window stream twice for the same answer;
    SCALE.md round 11 measured the rewrite at −34% wall at 10×),
    one per-doc start collect, and the shared id-keyed trim tail.
    O(total windows) with uniform keys; nothing ever pairs
    documents — a window shared by a million documents is one
    streamed analytic group, never 10^12 candidate pairs.
    Consecutive overlapping windows of a repeated passage share
    their keeper document (min (id, pos) is monotone across the
    passage), so the canonical copy keeps the WHOLE passage and
    later copies lose it wholesale. ``hot_cap`` bounds per-task
    window-key occupancy: keys above it route through a map-side-
    combinable groupBy + broadcast join-back instead of co-locating
    in one window task (see _removal_starts — the verdict is
    bit-identical for every hot_cap; None disables the guard)."""
    toks = F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0),
        F.array().cast("array<string>"),
    )
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).persist()
    n = F.size("toks")
    sh = base.select(
        "id", F.posexplode(_token_window_arr(n, k)).alias("pos", "g")
    )
    # (cnt, keeper) ride ONE window-key shuffle (guarded against hot
    # keys — the full plan argument lives on _removal_starts);
    # min(struct(id, pos)) orders lexicographically — deterministic
    # keeper.
    starts = (
        _removal_starts(sh, min_count, hot_cap)
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("starts"))
    )
    return _trim_by_starts(base, starts, k, id_col)


def simhash64(col: Column, k: int = 2) -> Column:
    """64-bit SimHash over k-word shingles: for each bit b, sum ±1
    across shingle hashes, take the sign. Pure column expressions;
    Hamming-distance bucketing pairs via bit_count(xor).

    The per-shingle hash is the 64 hex digits of
    ``md5('0:'||s) || md5('1:'||s)``; bit b is the high bit of hex
    digit b (digit >= '8'). md5-on-strings is computable by any SQL
    engine, so the DuckDB oracle produces bit-identical fingerprints
    (same portability trick as the MinHash signatures above).

    Single aggregate pass with an array<int>[64] accumulator — one
    generated loop instead of 64 (64 separate aggregates blow the
    janino 64 KB method limit and fall back to interpreted eval)."""
    sh = word_shingles(col, k)
    h = F.transform(
        sh,
        lambda s: F.concat(
            F.md5(F.concat(F.lit("0:"), s)), F.md5(F.concat(F.lit("1:"), s))
        ),
    )
    bit_idx = F.sequence(F.lit(0), F.lit(63))

    def signs(x: Column) -> Column:
        # ±1 per hex digit: '8'..'f' (high nibble bit set) → +1.
        # Lexicographic >= '8' is exact for lowercase hex digits.
        return F.transform(
            bit_idx,
            lambda b: F.when(
                F.substring(x, b + 1, F.lit(1)) >= "8", F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    counts = F.aggregate(
        h,
        F.array_repeat(F.lit(0), 64),
        lambda acc, x: F.zip_with(acc, signs(x), lambda a, s: a + s),
    )

    # pack sign bits into a long: sum(counts[b] > 0 ? 2^b : 0). The
    # bit loop reads the accumulator 64 times (unbound: 192
    # tokenizations per row in the r16 plan dump).
    def pack(cnts: Column) -> Column:
        out = F.lit(0).cast("long")
        for b in range(63):
            out = out + F.when(cnts[b] > 0, F.lit(1 << b)).otherwise(
                F.lit(0)
            )
        return out + F.when(cnts[63] > 0, F.lit(-(1 << 63))).otherwise(
            F.lit(0)
        )

    return let(counts, pack)


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with an evaluation/benchmark set — the standard
    train-set contamination check (13-gram overlap in GPT-3 appx C;
    n is a parameter because the right span depends on tokenizer and
    doc length). Returns (id, n_contaminated) with the count of
    DISTINCT shared n-grams, for docs with at least one.

    Scale shape: benchmark sets are tiny relative to a 100 TB corpus,
    so the benchmark's distinct n-gram set BROADCASTS; the corpus
    side is a map-side generate-and-probe (no shuffle of corpus
    n-grams) followed by one groupBy on the doc id (uniform keys).
    Nothing all-pairs, nothing driver-side."""
    def grams(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), k=n)).alias("g"),
        )

    bench_g = grams(benchmark).select("g").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(bench_g), "g", "inner")
        .groupBy("id")
        .agg(F.count_distinct("g").alias("n_contaminated"))
        .select(F.col("id").alias(id_col), "n_contaminated")
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL: MinHash-LSH candidates →
    exact-Jaccard verification → connected-component clustering →
    keep the min-id representative of every cluster. Returns the
    surviving rows of ``df`` (all columns), i.e. the deduplicated
    corpus a training pipeline feeds downstream.

    Composition of the verified building blocks, so the scale
    properties are theirs: one banded equi-join, candidate-only
    verification, per-round join+agg clustering, and a final
    LEFT SEMI join of the corpus against the surviving ids (no row
    data moves through the dedup pipeline itself — only ids and
    signatures)."""
    pairs_full = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )
    # note: .select() returns a NEW DataFrame without the persist
    # handles — track from pairs_full, not the projection
    pairs = pairs_full.select("id_a", "id_b")
    clusters = duplicate_clusters(
        df.select(id_col), pairs, id_col=id_col
    )
    keep = clusters.where(
        F.col("cluster_id") == F.col(id_col)
    ).select(id_col)
    out = df.join(keep, id_col, "left_semi")
    from ._cache import track_persisted

    return track_persisted(
        out,
        *getattr(pairs_full, "_cayley_persisted", ()),
        *getattr(clusters, "_cayley_persisted", ()),
    )


def editdist_dup_pairs(
    df: DataFrame,
    max_dist: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-duplicate pairs verified by EDIT DISTANCE: MinHash-LSH
    proposes candidates (never all pairs), then ``levenshtein`` on the
    candidate pairs confirms ``distance <= max_dist``. Returns
    (id_a, id_b, dist).

    Edit distance is the right verifier when duplicates differ by
    character-level noise (OCR errors, encoding damage) that
    token-set Jaccard under-counts. It is also an exact INTEGER, so
    unlike float-similarity verifiers the result hash-matches any
    engine with a levenshtein builtin. Cost note: levenshtein is
    O(len²) per pair — keep it behind candidate generation, never on
    the cross product.
    """
    cand = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket_size=max_bucket_size,
    )
    ta = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    tb = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    from ._cache import track_persisted

    return track_persisted(
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist"),
        *getattr(cand, "_cayley_persisted", ()),
    )


def dedup_against(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Asymmetric dedup: drop rows of ``new`` that duplicate the
    ``existing`` corpus (exactly or near) — the daily-crawl-vs-
    historical-corpus pattern. Returns the surviving ``new`` rows.

    Two passes, both asymmetric (never new×new — intra-batch dups are
    a separate, symmetric pass):

    - EXACT: ``md5(text)`` digest semi-join against the existing
      digests — one shuffle on uniform 128-bit keys. This is what
      catches byte-identical documents SHORTER than ``k`` tokens,
      which have no shingles and are invisible to the LSH path.
    - NEAR: an LSH band join of new signatures against existing
      signatures, verified by exact shingle Jaccard on the candidate
      pairs only.

    At scale the existing side's digests + banded signatures are a
    persisted index, incrementally appended as batches are admitted
    (see ``dedup_index.LSHDedupIndex``); nothing here rescans
    existing TEXT except for the candidate pairs.
    """
    nsig = _sig_frame(new, id_col, text_col, k, num_hashes).persist()
    esig = _sig_frame(existing, id_col, text_col, k, num_hashes).persist()
    dup = _duplicate_ids(
        nsig, esig, id_col, bands, num_hashes // bands,
        jaccard_threshold, max_bucket_size,
    )
    from ._cache import track_persisted

    return track_persisted(
        new.join(dup, id_col, "left_anti"), nsig, esig
    )


def _duplicate_ids(
    nsig: DataFrame,
    esig: DataFrame,
    id_col: str,
    bands: int,
    rows: int,
    jaccard_threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Distinct ids, in one column named ``id_col``, of the rows of
    ``nsig`` that duplicate a row of ``esig``; both are
    ``_sig_frame`` frames. Shared by ``dedup_against`` and
    ``LSHDedupIndex.duplicate_ids``.

    - NEAR: the new bands join the existing bands, and candidates are
      verified by exact shingle Jaccard. Only (id, band, bh) rides the
      band join; shingle sets are fetched by id for candidate pairs
      only. Ids are never joined across the two sides, so their types
      may differ.
    - EXACT: a digest semi-join, unaffected by the hot-bucket guard.

    The guard counts bucket occupancy over BOTH sides (a bucket's pair
    product is n_new x n_existing) and filters the new side."""
    band_n = _banded(nsig, bands, rows, F.col("id").alias("id_n"))
    band_e = _banded(esig, bands, rows, F.col("id").alias("id_e"))
    both = band_n.select("band", "bh").unionAll(band_e.select("band", "bh"))
    cand = (
        _skip_hot_buckets(band_n, both, max_bucket_size)
        .join(band_e, ["band", "bh"])
        .select("id_n", "id_e")
        .dropDuplicates()
    )
    inter = F.size(F.array_intersect("sh_n", "sh_e"))
    union = F.size("sh_n") + F.size("sh_e") - inter
    near = (
        cand.join(
            nsig.select(F.col("id").alias("id_n"), F.col("sh").alias("sh_n")),
            "id_n",
        )
        .join(
            esig.select(F.col("id").alias("id_e"), F.col("sh").alias("sh_e")),
            "id_e",
        )
        .where(inter.cast("double") / union >= jaccard_threshold)
        .select(F.col("id_n").alias(id_col))
    )
    exact = (
        nsig.select(F.col("id").alias(id_col), "digest")
        .join(esig.select("digest"), "digest", "left_semi")
        .select(id_col)
    )
    return near.unionAll(exact).dropDuplicates()
