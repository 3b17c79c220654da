"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in Spark SQL functions (JVM-side, inside
whole-stage codegen) — no Python UDFs. Every operator is designed to
have a closed-form ANSI-SQL equivalent (see __spark_entry__.oracle_sql)
so correctness is checkable against DuckDB on the same parquet.

Scale notes: each operator is a narrow map over the documents table —
no shuffle, no driver collection; at 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_RE = r"\w+"

# deliberately tiny, deterministic stopword set (shared with oracles)
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it")


def token_count(col: Column) -> Column:
    """Whitespace/punctuation-agnostic token count (ASCII \\w runs —
    same semantics in Java regex and RE2/DuckDB)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), 0))


def tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))


def stopword_count(col: Column) -> Column:
    toks = tokens(col)
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality metrics: length, token count, punctuation
    count, stopword count, mean token length. Integer-valued columns
    only (float ratios are left to the caller) so oracle hash-matching
    is exact."""
    c = F.col(text_col)
    toks = tokens(c)
    return df.select(
        id_col,
        F.length(c).alias("n_chars2"),
        token_count(c).alias("n_tokens"),
        punct_count(c).alias("n_punct"),
        stopword_count(c).alias("n_stopwords"),
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("token_chars"),
    )


# Character frequency profiles per language for the n-gram-free
# language-ID heuristic: score = stopword hits per language list.
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "es": ("el", "los", "de"),
    "fr": ("le", "les", "et"),
}


def language_guess(col: Column, _toks: Column | None = None) -> Column:
    """Deterministic language-ID heuristic: count marker-word hits per
    language, pick the argmax (ties break by language code order).
    A real pipeline would use fastText/CLD3 — out of scope here; the
    point is the distributed shape: pure column expressions.

    ``_toks``: pre-bound token array (``tokens(col)``) — passed by
    :func:`quality_gate_struct` so the fused gate evaluates the
    tokenization once per row instead of once per reference."""
    from .dedup import let

    toks = tokens(col) if _toks is None else _toks
    langs = sorted(_LANG_MARKERS.items())

    # the argmax chain reads every score once per language (unbound:
    # 24 tokenizations per row in the r16 t_langid plan dump)
    def pick(sc):
        best = F.array_max(sc)
        out = F.lit("unknown")
        for i in range(len(langs) - 1, -1, -1):
            out = F.when(sc[i] == best, F.lit(langs[i][0])).otherwise(out)
        return F.when(best == 0, F.lit("unknown")).otherwise(out)

    def body(tk):
        sc = F.array(
            *[
                F.size(F.filter(tk, lambda t: t.isin(*markers)))
                for _, markers in langs
            ]
        )
        return let(sc, pick)

    return let(toks, body)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercased,
    non-alphanumeric collapsed) — the dedup key for exact-after-
    normalization duplicates."""
    norm = F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " ")
    return F.md5(F.trim(norm))


# PII patterns for redaction — written in the regex subset common to
# Java (Spark JVM regexp_replace) and RE2 (DuckDB), so the oracle
# replicates the scrub byte-for-byte.
REDACT_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\b\d{3}[- .]\d{3}[- .]\d{4}\b", "<PHONE>"),
)


def redact(col: Column) -> Column:
    """PII scrub: replace emails, IPv4 addresses and phone-shaped
    numbers with typed placeholders — the standard pre-training
    redaction pass, as a pure column expression (scan-speed, no
    Python in the loop)."""
    out = col
    for pat, repl in REDACT_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redaction_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, redacted, n_redactions): the scrubbed text plus how
    many placeholders were inserted (count of placeholder tokens in
    the output, cheap and exact)."""
    red = redact(F.col(text_col))
    n = (
        F.size(F.regexp_extract_all(red, F.lit("<EMAIL>|<IP>|<PHONE>"), 0))
    )
    return df.select(
        "doc_id", red.alias("redacted"), n.cast("int").alias("n_redactions")
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition gates (Rae et al. 2021 §A1.1: documents
    dominated by a few repeated tokens are low-quality): per document,
    token counts plus the duplicate-token fraction and the most-
    frequent-token fraction.

    Pure column expressions — the max token frequency comes from a
    single ``aggregate`` run-length pass over the SORTED token array
    (JVM-side, whole-stage codegen), so the operator is scan-speed
    with ZERO shuffles at any scale; the explode+groupBy formulation
    would shuffle every token.

    Ratios are IEEE double divisions of exact ints, so any engine
    computing the same quotients matches bit-for-bit (hash-stable
    against the DuckDB oracle without rounding)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    srt = F.array_sort(toks)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(
        F.lit(1)
    )
    maxfreq = F.aggregate(
        srt,
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    nn = F.when(n > 0, n.cast("double"))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        d.cast("long").alias("n_distinct"),
        ((n - d).cast("double") / nn).alias("dup_token_ratio"),
        (maxfreq.cast("double") / nn).alias("top_token_ratio"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf: str = "log",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF:
    (id, term, tf, df, rank).

    ``idf='log'`` is the classic ``tf * ln(N/df)``; ``idf='inv'``
    scores ``(tf*N)/df`` — rank-equivalent in spirit but computed as
    ONE int64 multiply + ONE IEEE division, so the ordering (and the
    driver's value hash) is bit-reproducible across engines, which
    ``ln`` (libm, ulp-variant) is not. Oracles use 'inv'.

    Plan shape at 100 TB: explode → partial-agged groupBy(doc, term)
    → vocabulary-keyed groupBy(term) for df → term equi-join back
    (skew bounded: ≤ one row per (doc, term)) → per-doc window. N
    rides in via a broadcast 1-row cross join, not a driver collect.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    j = tf.join(dfreq, "term").join(F.broadcast(n_docs))
    if idf == "log":
        score = F.col("tf") * F.log(F.col("__n") / F.col("df"))
    elif idf == "inv":
        score = (F.col("tf") * F.col("__n")).cast("double") / F.col("df")
    else:
        raise ValueError(f"idf must be log|inv: {idf}")
    w = Window.partitionBy(id_col).orderBy(
        score.desc(), F.col("term")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "rank")
    )


def vocabulary(
    df: DataFrame,
    top: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: (term, n_occurrences, n_docs), the building
    block for tokenizer training and frequency-filtered vocab caps.
    One explode + one groupBy (map-side partial agg does the heavy
    lifting); ``top`` > 0 keeps the most frequent terms, ties broken
    by term for determinism."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    per_doc = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    voc = per_doc.groupBy("term").agg(
        F.sum("n").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    if top > 0:
        voc = voc.orderBy(
            F.col("n_occurrences").desc(), F.col("term")
        ).limit(top)
    return voc


def _trigrams(col: Column) -> Column:
    """Character trigrams of the lowercased text, JVM-side (sequence +
    transform — no Python in the loop). Spark's sequence(1, n) counts
    DOWN when n < 1, so short texts are gated to an empty array."""
    lc = F.lower(col)
    return F.when(
        F.length(lc) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(lc) - 2),
            lambda i: F.substring(lc, i, 3),
        ),
    ).otherwise(F.array().cast("array<string>"))


def trigram_typicality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-trigram corpus-typicality score — the integer-exact
    skeleton of an n-gram LM quality filter (CCNet-style perplexity
    filtering scores documents against a corpus LM; here the corpus
    IS the model). Per document: (id, n_trigrams, freq_sum) where
    freq_sum totals each trigram's corpus-wide occurrence count —
    low freq_sum/n_trigrams marks atypical (garbled, wrong-language,
    binary-ish) documents. Integer sums only, so the oracle hash is
    exact; consumers divide for the per-trigram average.

    Plan (r16 shape): the instance explode feeds ONE (id, trigram)
    count aggregation, which persists; the model fold, its join-back
    and the per-doc totals all read the compressed counts (freq_sum
    = Σ c·freq, n_trigrams = Σ c — identical integers to the
    per-instance formulation). The earlier form referenced the raw
    instance explode from both the model build and the join side, so
    the corpus trigram explode executed twice and the join shuffled
    the uncompressed instance stream; every shuffle now moves one
    row per DISTINCT (doc, trigram)."""
    from ._cache import track_persisted

    cnt = (
        df.select(
            F.col(id_col),
            F.explode(_trigrams(F.col(text_col))).alias("tri"),
        )
        .groupBy(id_col, "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    model = cnt.groupBy("tri").agg(F.sum("c").alias("freq"))
    return track_persisted(
        cnt.join(model, "tri")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.sum(F.col("c") * F.col("freq")).alias("freq_sum"),
        ),
        cnt,
    )


# corpus-cleaning regexes — written in the Java/RE2-common subset so
# the DuckDB oracle replicates the transform byte-for-byte
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_WS_RE = r"[ \t\r\n]+"
_URL_RE = r"https?://[A-Za-z0-9._~:/?#@!$&'()*+,;=%-]+"


def clean_text(col: Column) -> Column:
    """Standard pre-training normalization pass: strip control
    characters, collapse whitespace runs to single spaces, trim.
    Pure regexp_replace chain — scan speed."""
    out = F.regexp_replace(col, _CTRL_RE, "")
    out = F.regexp_replace(out, _WS_RE, " ")
    return F.trim(out)


def clean_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, cleaned, n_removed): the normalized text plus how many
    characters normalization dropped."""
    c = F.col(text_col)
    cleaned = clean_text(c)
    return df.select(
        id_col,
        cleaned.alias("cleaned"),
        (F.length(c) - F.length(cleaned)).cast("int").alias("n_removed"),
    )


def url_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_urls, url_chars): link counts and the character mass
    they occupy — the link-density quality signal (boilerplate and
    spam pages are URL-heavy)."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(_URL_RE), 0)
    return df.select(
        id_col,
        F.size(urls).cast("int").alias("n_urls"),
        F.aggregate(
            urls, F.lit(0), lambda acc, u: acc + F.length(u)
        ).cast("int").alias("url_chars"),
    )


# query parameters that identify a CLICK, not a resource — the strip
# list every crawl canonicalizer applies before url-keyed dedup
# (utm_* per Google Analytics docs; the rest are ad-click ids).
# (?i): param names are matched case-insensitively (UTM_SOURCE= and
# FBCLID= spellings occur in real crawls); (?i) is in the Java∩RE2
# subset, so the DuckDB oracle replays it verbatim.
_TRACKING_PARAM_RE = (
    r"(?i)^(utm_[a-z0-9_]+|gclid|fbclid|msclkid|mc_eid|igshid|ref|ref_src)="
)


def _fold_host_aliases(hostport: Column) -> Column:
    """Strip one leading ``www.`` / ``m.`` / ``mobile.`` label from an
    already-lowercased host[:port], only when at least two labels
    remain (so registrable domains like ``m.com`` are preserved).
    Expressed as a capture-group rewrite — the Java∩RE2 subset has no
    lookahead, so the 'remainder has another dot' condition is encoded
    in the captured tail itself."""
    return F.regexp_replace(
        hostport, r"^(www|m|mobile)\.([^.]+\..+)$", "$2"
    )


def canonicalize_url(col: Column, fold_host_aliases: bool = False) -> Column:
    """Canonical URL form — the FIRST dedup key a crawl pipeline
    applies, upstream of any content hash (two fetches of the same
    resource must collide BEFORE the corpus pays to compare texts):

    - fragment stripped (never sent to the server),
    - scheme and host lowercased (RFC 3986 §6.2.2.1),
    - default port removed (http:80 / https:443, §6.2.3),
    - percent-encoding hex uppercased (%2f -> %2F, §6.2.2.1),
    - tracking query parameters removed (utm_*, gclid, fbclid, ...),
    - remaining query parameters sorted (order-insensitive key),
    - empty path -> '/', and a trailing slash on a non-root path
      stripped (the common aliasing pair; real path '//' runs are
      preserved — they are distinct resources per RFC).

    With ``fold_host_aliases=True``, one leading ``www.`` / ``m.`` /
    ``mobile.`` host label is also folded away (crawl pipelines
    routinely alias these before URL dedup — RefinedWeb-style
    practice, NOT RFC equivalence, hence opt-in); a label is only
    stripped when at least two labels remain, so ``m.com`` survives.

    Pure column expressions in the Java∩RE2 regex subset, so the
    DuckDB oracle replays the identical chain; no UDFs, scan speed.
    Non-URL input (no scheme://host) passes through unchanged except
    fragment stripping, so the operator is safe on dirty columns."""
    # percent-encoding: uppercase the two hex digits after every '%'
    def _pct_upper(s: Column) -> Column:
        parts = F.split(s, "%", -1)
        tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
        fixed = F.transform(
            tail,
            lambda p: F.when(
                p.rlike(r"^[0-9a-fA-F]{2}"),
                F.concat(
                    F.lit("%"),
                    F.upper(F.substring(p, 1, 2)),
                    F.substring(p, 3, 1_000_000),
                ),
            ).otherwise(F.concat(F.lit("%"), p)),
        )
        return F.concat(
            F.try_element_at(parts, F.lit(1)),
            F.array_join(fixed, ""),
        )

    from .dedup import let

    # Bound at two levels: the fragment-stripped URL, then its
    # extracted components, which the assembly reads many times (path
    # alone 5x; unbound: ~70 regexp_replace per row in the r16 plan
    # dump).
    u0 = F.regexp_replace(col, r"#.*$", "")

    def assemble(s):
        scheme, hostport, path = s["scheme"], s["hostport"], s["path"]
        qnorm = s["qnorm"]
        hp = F.when(
            (scheme == "http") & hostport.endswith(":80"),
            F.substring(hostport, 1, F.length(hostport) - 3),
        ).when(
            (scheme == "https") & hostport.endswith(":443"),
            F.substring(hostport, 1, F.length(hostport) - 4),
        ).otherwise(hostport)
        pnorm = F.when(path == "", F.lit("/")).otherwise(
            F.when(
                (F.length(path) > 1) & path.endswith("/"),
                F.substring(path, 1, F.length(path) - 1),
            ).otherwise(path)
        )
        canon = F.concat(
            scheme,
            F.lit("://"),
            s["userinfo"],
            hp,
            pnorm,
            F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(
                F.lit("")
            ),
        )
        return F.when(scheme == "", s["u"]).otherwise(canon)

    def extract(u):
        scheme = F.lower(
            F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
        )
        auth = F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
        )
        # userinfo (user:pass@) is case-SENSITIVE — only the host part
        # lowercases; host cannot contain '@', so the split is at the
        # authority's last '@' (greedy .*)
        userinfo = F.regexp_extract(auth, r"^(.*@)", 1)
        hostport = F.lower(F.regexp_replace(auth, r"^.*@", ""))
        if fold_host_aliases:
            hostport = _fold_host_aliases(hostport)
        # rest = path[?query] after the authority
        rest = F.regexp_replace(
            u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""
        )
        query = _pct_upper(F.regexp_extract(rest, r"\?(.*)$", 1))
        params = F.array_sort(
            F.filter(
                F.split(query, "&", -1),
                lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
            )
        )
        inner = F.struct(
            u.alias("u"),
            scheme.alias("scheme"),
            _pct_upper(userinfo).alias("userinfo"),
            hostport.alias("hostport"),
            _pct_upper(F.regexp_extract(rest, r"^([^?]*)", 1)).alias(
                "path"
            ),
            F.array_join(params, "&").alias("qnorm"),
        )
        return let(inner, assemble)

    return let(u0, extract)


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    fold_host_aliases: bool = False,
) -> DataFrame:
    """URL-keyed crawl dedup: group documents by
    :func:`canonicalize_url`, keep the lowest id per canonical URL.
    Returns (canon_url, keeper_id, n_copies, n_variants) — n_copies
    is how many rows collapsed, n_variants how many DISTINCT raw
    spellings aliased to the key.

    Scale shape: canonicalization is pure expressions at scan speed;
    the ONE shuffle is the groupBy on the canonical string (uniform
    unless one URL dominates the crawl, which the consumer sees via
    n_copies and can salt). No joins, no text movement — this runs
    BEFORE content dedup precisely because it is this cheap."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(url_col).alias("raw"),
            canonicalize_url(
                F.col(url_col), fold_host_aliases=fold_host_aliases
            ).alias("canon_url"),
        )
        .groupBy("canon_url")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("raw").alias("n_variants"),
        )
    )


def url_host(col: Column, fold_host_aliases: bool = False) -> Column:
    """Lowercased host of a URL (userinfo and port stripped) — the
    grouping key for domain-level corpus statistics. '' for non-URL
    input. Same RE2-safe extraction chain as canonicalize_url;
    ``fold_host_aliases`` folds one leading www./m./mobile. label as
    there (so www.x.com and x.com aggregate as one domain)."""
    auth = F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
    )
    host = F.lower(F.regexp_replace(auth, r"^.*@", ""))
    host = F.regexp_replace(host, r":[0-9]+$", "")
    if fold_host_aliases:
        host = _fold_host_aliases(host)
    return host


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    chars_col: str | None = None,
) -> DataFrame:
    """Per-domain corpus statistics — the aggregation a RefinedWeb-
    style pipeline builds its domain blocklists/allowlists from
    (Penedo et al. 2023 §3.1 URL filtering is per-domain): group by
    :func:`url_host`, count documents and DISTINCT canonical URLs;
    with ``chars_col``, also the domain's total character mass.
    Returns (host, n_docs, n_urls[, chars]).

    Scale shape: canonicalization and host extraction are scan-speed
    column exprs; ONE groupBy on the host (domains are zipf-skewed,
    but the aggregate is all map-side-combinable counters, so a hot
    domain costs one reducer counter, never a row explosion)."""
    cols = [
        F.col(id_col).alias("id"),
        url_host(F.col(url_col)).alias("host"),
        canonicalize_url(F.col(url_col)).alias("canon"),
    ]
    if chars_col is not None:
        cols.append(F.col(chars_col).alias("chars"))
    base = df.select(*cols)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("canon").alias("n_urls"),
    ]
    if chars_col is not None:
        aggs.append(F.sum("chars").alias("chars"))
    return base.groupBy("host").agg(*aggs)


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 1,
) -> DataFrame:
    """Materialize the retrieval inverted index: one row per term
    with its sorted posting list and document frequency —
    (term, df, postings array<long>). One explode + per-(doc,term)
    dedup + one groupBy with a sorted collect; terms below
    ``min_docs`` are dropped. At 100 TB the posting lists of stop-like
    terms get long — cap or shard them downstream (``slice``), the
    aggregation itself is one shuffle on the term key."""
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("term")
    ).dropDuplicates(["doc", "term"])
    out = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc")).alias("postings"),
    )
    if min_docs > 1:
        out = out.where(F.col("df") >= min_docs)
    return out


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranking of documents against a query string:
    (id, score, rank), top-``k``, ties broken by id.

    Classic Robertson/Sparck-Jones BM25 with the standard
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf. Plan: the query's
    terms become a broadcast filter on the exploded token stream, so
    only matching postings shuffle; corpus stats (N, avg doc length)
    ride in via a broadcast 1-row aggregate. Uses libm ``ln`` — float
    scores are ulp-variant across engines, so this operator is
    pytest-verified rather than oracle-hash-gated (the integer-exact
    ranking variant for the gate is tf_idf_top_terms(idf='inv'))."""
    from pyspark.sql.window import Window

    terms = sorted({t for t in __import__("re").findall(TOKEN_RE, query.lower())})
    if not terms:
        raise ValueError("query has no tokens")
    toks = df.select(
        F.col(id_col).alias("doc"),
        token_count(F.col(text_col)).alias("dl"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    hits = toks.where(F.col("term").isin(terms))
    tf = hits.groupBy("doc", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(token_count(F.col(text_col))).alias("avgdl"),
    )
    j = tf.join(F.broadcast(dfreq), "term").join(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + F.lit(k1) * (1 - b + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = j.groupBy("doc").agg(F.sum(idf * tf_norm).alias("score"))
    # Top-k via orderBy().limit(k) — Spark plans this as TakeOrdered
    # (per-partition heaps + a k-row driver merge), so every matching
    # document does NOT funnel through one global-sort task the way a
    # no-partition row_number window would (the single-partition trap
    # chunking.py/SCALE.md call out). Ranks are assigned after, over
    # at most k rows.
    topk = scored.orderBy(F.col("score").desc(), F.col("doc")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(F.col("doc").alias(id_col), "score", "rank")
    )


def html_to_text(col: Column) -> Column:
    """Extract visible text from an HTML column — the first step of
    any web-crawl training pipeline. Pure regexp_replace chain
    (JVM-side, whole-stage codegen, zero shuffle):

    1. drop <script>/<style> elements WITH their contents
       (``(?is)`` — case-insensitive, dot-matches-newline: inline
       flags shared by Java regex and RE2, so the DuckDB oracle runs
       the identical pattern),
    2. block-level closers/br become newlines (paragraph structure
       survives as whitespace),
    3. every remaining tag is stripped,
    4. entities are decoded in dependency order: named entities
       (&nbsp; &lt; &gt; &quot; &#39;) first, then the generic
       numeric &#NN; sweep (to a space), and &amp; strictly LAST —
       so ``&#39;`` really decodes to an apostrophe (the numeric
       sweep no longer shadows it) and double-escaped literals like
       ``&amp;lt;`` correctly yield the text "&lt;" rather than
       being double-decoded to "<",
    5. whitespace runs collapse to single spaces, trimmed.

    Not a full HTML5 parser by design (at 100 TB the parser IS the
    budget): malformed markup degrades to extra whitespace, never to
    dropped visible text. Patterns avoid backreferences on purpose —
    RE2 (the oracle engine's regex) has none, so script/style are two
    separate literal-closer patterns."""
    c = F.regexp_replace(col, r"(?is)<script\b.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\b[^>]*>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"&#(\d+);", " ")
    c = F.replace(c, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_text_stats(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(id, text, n_tokens) for an HTML column — extraction + the
    token count the downstream quality gates key on."""
    t = html_to_text(F.col(html_col))
    return df.select(
        F.col(id_col),
        t.alias("text"),
        token_count(t).alias("n_tokens"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1,
    sep_re: str = r"\n{2,}",
    joiner: str = "\n\n",
) -> DataFrame:
    """Boilerplate PARAGRAPH removal — the C4/RefinedWeb line-dedup
    rule at paragraph granularity: split each document on ``sep_re``,
    count every distinct paragraph's corpus-wide document frequency,
    drop ALL copies of paragraphs appearing in more than ``max_df``
    distinct documents (cookie banners, nav text, license footers),
    and reassemble the survivors in original order. Returns
    (id, clean_text, n_paragraphs, n_dropped); documents that are
    entirely whitespace (no paragraphs) are omitted.

    Scale shape: paragraphs shuffle by their md5 digest (16-byte
    uniform keys, never paragraph text), one groupBy for document
    frequency, one digest-keyed join back, one per-doc re-aggregation
    with an order-preserving array_sort — O(total paragraphs), no
    pair joins. The df join is shuffle-on-digest rather than
    broadcast because a 100 TB crawl's distinct-paragraph dictionary
    is itself corpus-scale."""
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias(
            "pos", "para"
        ),
    ).where(F.trim("para") != "")
    pd_ = paras.withColumn("dg", F.md5("para"))
    dfreq = pd_.groupBy("dg").agg(
        F.count_distinct("id").alias("pdf")
    )
    kept = pd_.join(dfreq, "dg").withColumn(
        "drop", F.col("pdf") > max_df
    )
    agg = kept.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "para", "drop"))
        ).alias("ps")
    )
    survivors = F.filter("ps", lambda x: ~x["drop"])
    return agg.select(
        F.col("id").alias(id_col),
        F.concat_ws(
            joiner, F.transform(survivors, lambda x: x["para"])
        ).alias("clean_text"),
        F.size("ps").cast("int").alias("n_paragraphs"),
        (F.size("ps") - F.size(survivors)).cast("int").alias("n_dropped"),
    )


def cooccurrence_counts(
    df: DataFrame,
    window: int = 3,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word co-occurrence counts within a ±``window`` token span —
    the input matrix of GloVe-style embedding training (Pennington
    et al. 2014; GloVe weights by 1/distance, left to the consumer —
    integer counts keep the oracle hash exact). Pairs are canonical
    (a <= b lexicographically, symmetric context); returns
    (a, b, cnt) for pairs seen at least ``min_count`` times.

    Scale shape — ZERO joins: the naive formulation (positions
    self-joined per doc) is quadratic in document length; this one
    builds each position's forward pairs with pure array expressions
    (transform over a position sequence x transform over 1..window,
    try_element_at guarding the tail), so pair generation runs at
    scan speed inside codegen and the only shuffle is the final
    (a, b) groupBy — uniform word-pair keys with map-side combine."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(window)),
                    lambda d: F.when(
                        i + d <= n,
                        F.struct(
                            F.least(
                                F.try_element_at(toks, i),
                                F.try_element_at(toks, i + d),
                            ).alias("a"),
                            F.greatest(
                                F.try_element_at(toks, i),
                                F.try_element_at(toks, i + d),
                            ).alias("b"),
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def quality_buckets(
    df: DataFrame,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style quality tiering (Wenzek et al. 2019 cut the crawl
    into head/middle/tail by LM perplexity; here the rank key is the
    integer stopword-density proxy, ppm, so the tiering is
    engine-exact): documents are ranked by density descending (ties
    by id) and cut into ``n_buckets`` contiguous tiers with SQL
    ntile semantics — the first N mod b tiers hold one extra
    document. Returns (id, density_ppm, bucket), bucket 1-indexed;
    zero-token documents are excluded (no density).

    Scale shape: ntile needs a GLOBAL ordering, and the naive
    ``Window.orderBy()`` without partitionBy is a single-task plan
    (the trap bm25_topk and pack_sequences already avoid). This uses
    pack_sequences' distributed machinery: range partition on the
    sort key, per-partition row_number, and a numPartitions-sized
    offset exchange — rank assignment stays fully parallel."""
    from pyspark.sql.window import Window

    c = F.col(text_col)
    scored = (
        df.select(
            F.col(id_col).alias("id"),
            stopword_count(c).cast("long").alias("__sw"),
            token_count(c).cast("long").alias("__nt"),
        )
        .where(F.col("__nt") > 0)
        .select(
            "id", F.expr("(__sw * 1000000) div __nt").alias("density_ppm")
        )
    )
    # localCheckpoint pins one placement of the sample-based range
    # shuffle: the counts job and the output job must agree on it
    ranged = (
        scored.repartitionByRange(
            F.col("density_ppm").desc(), F.col("id")
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("density_ppm").desc(), "id"
    )
    local = ranged.withColumn("__r", F.row_number().over(w))
    counts = sorted(
        (r["__pid"], r["c"])
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    run, offs = 0, []
    for pid, cnt in counts:
        offs.append((pid, run))
        run += cnt
    size, extra = divmod(run, n_buckets)
    cut = extra * (size + 1)
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offs, "__pid: int, __base: long")
    )
    rank = F.col("__base") + F.col("__r")
    bucket = (
        F.when(rank <= cut, F.ceil(rank / (size + 1)))
        .otherwise(
            extra
            + F.ceil((rank - cut) / F.greatest(F.lit(size), F.lit(1)))
        )
        .cast("int")
    )
    return (
        local.join(off_df, "__pid")
        .select(
            F.col("id").alias(id_col),
            "density_ppm",
            bucket.alias("bucket"),
        )
    )


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode script mix per document — the script-detection signal
    multilingual pipelines route on (a "lang=en" doc that is 40%
    Cyrillic is mislabeled or spam). Integer character counts for the
    major scripts plus digits: (id, latin_n, cyrillic_n, han_n,
    arabic_n, digit_n, total_n). Counts are exact ints (length minus
    length-after-strip, one regexp_replace per script at scan speed);
    consumers divide for ratios. The oracle writes the same classes
    in RE2 spelling (\\p{Latin}) vs Java's \\p{IsLatin} — class
    SEMANTICS are the shared subset, the prefix is engine syntax."""
    c = F.col(text_col)

    def n_of(cls: str) -> Column:
        return (
            F.length(c) - F.length(F.regexp_replace(c, cls, ""))
        ).cast("int")

    return df.select(
        F.col(id_col),
        n_of(r"\p{IsLatin}").alias("latin_n"),
        n_of(r"\p{IsCyrillic}").alias("cyrillic_n"),
        n_of(r"\p{IsHan}").alias("han_n"),
        n_of(r"\p{IsArabic}").alias("arabic_n"),
        n_of(r"[0-9]").alias("digit_n"),
        F.length(c).cast("int").alias("total_n"),
    )


#: GPT-2-style pre-tokenization pattern, restricted to the regex
#: subset Java and RE2 share (no lookahead — the original's
#: trailing-space lookahead is dropped): contraction suffixes,
#: space-prefixed letter runs, space-prefixed digit runs,
#: space-prefixed punctuation runs, residual whitespace runs.
BPE_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+"
    r"|\s+"
)


def bpe_pretokens(col: Column) -> Column:
    """Split text the way BPE tokenizers pre-segment it (word/number/
    punctuation runs with their leading space, contraction suffixes
    as separate tokens) — array<string>, whitespace runs included.
    The merge step of a real BPE is vocabulary-dependent and out of
    scope; pre-token counts are the standard cheap proxy for token
    budgets (they upper-bound merged-token counts per segment)."""
    return F.regexp_extract_all(col, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_token_count(col: Column) -> Column:
    """Count of non-whitespace BPE pre-tokens — the token-budget
    estimator used for packing and pricing."""
    return F.size(
        F.filter(bpe_pretokens(col), lambda t: F.trim(t) != "")
    )


# --------------------------------------------------------------------------
# BPE merge training (Sennrich et al. 2016, the GPT-2 variant: no
# end-of-word marker — pre-tokens carry their leading space instead).
# bpe_pretokens/bpe_token_count above give the pre-tokenization and
# budget proxy; this is the actual merge LEARNER, distributed.
# --------------------------------------------------------------------------

# Symbol strings: each word is "\x1f" + symbols joined by "\x1f\x1f" +
# "\x1f" — every symbol carries its OWN flanking separators, so one
# merge rule is a single plain-string
#   replace("\x1fa\x1f\x1fb\x1f" -> "\x1fab\x1f")
# whose left-to-right non-overlapping scan merges every occurrence,
# including back-to-back ones ("abab": each match consumes only its
# own wrapping, never the neighbor's — a SINGLE-separator joint gets
# consumed by the first match and silently skips the second pair).
# No array churn, whole-stage codegen, and the DuckDB oracle replays
# it with the identical replace() semantics.
_BPE_SEP = "\x1f"


def _bpe_symbols(sym: Column) -> Column:
    """Back from the separator encoding to array<string> of symbols."""
    return F.transform(
        F.split(sym, _BPE_SEP + _BPE_SEP),
        lambda x: F.translate(x, _BPE_SEP, ""),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_word_freq: int = 1,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Learn BPE merges from a corpus → (merge_rank, left_sym,
    right_sym, pair_count), one row per learned merge in rank order.

    The corpus is scanned ONCE into a word-type frequency table
    (explode(bpe_pretokens) + groupBy — the loop state is bounded by
    the VOCABULARY, never corpus text, so at 100 TB each round works
    a ~10-100M-row word-type table). Each of the n_merges rounds is:
    adjacent-pair counts weighted by word freq (Sennrich get_stats
    semantics — overlapping occurrences count), ONE TakeOrdered 1-row
    collect picks the max pair (ties broken lexicographically so
    every engine, run, and partitioning agrees), and one plain-string
    replace applies the merge to every word. Lineage is
    localCheckpoint-truncated every ``checkpoint_every`` rounds so
    long trainings keep bounded plans.

    Words containing the internal \\x1f separator are excluded (real
    corpora strip control chars first — clean_text does)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    sep = _BPE_SEP
    words = (
        df.select(F.explode(bpe_pretokens(F.col(text_col))).alias("w"))
        .where((F.trim("w") != "") & (~F.col("w").contains(sep)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= min_word_freq)
    )
    syms = words.select(
        "freq",
        F.concat(
            F.lit(sep), F.array_join(F.split("w", ""), sep + sep), F.lit(sep)
        ).alias("sym"),
    ).localCheckpoint()
    merges = []
    for rank in range(n_merges):
        s = _bpe_symbols(F.col("sym"))
        pairs = syms.where(F.size(s) >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("a"),
                        F.element_at(s, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged / empty corpus
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["pair_count"])
        merges.append((rank, a, b, cnt))
        syms = syms.withColumn(
            "sym",
            F.replace(
                F.col("sym"),
                F.lit(f"{sep}{a}{sep}{sep}{b}{sep}"),
                F.lit(f"{sep}{a}{b}{sep}"),
            ),
        )
        if (rank + 1) % checkpoint_every == 0:
            syms = syms.localCheckpoint()
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "pair_count bigint",
    )


def bpe_segment(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Tokenize text with LEARNED merges → array<string> of subword
    tokens: pretokenize, then apply each merge in rank order, one
    left-to-right pass per rank over the separator encoding (the
    subword-nmt fast path — rank-ordered application; since merges
    only concatenate, a later occurrence of a rank's pair can never
    be created by that same rank's own merges). Expression depth
    grows with len(merges) — capped so codegen stays sane; train a
    larger vocabulary in ranked batches if you need more."""
    if len(merges) > 256:
        raise ValueError(
            f"bpe_segment caps merges at 256 (got {len(merges)}); "
            "apply in ranked batches"
        )
    sep = _BPE_SEP

    def seg(t: Column) -> Column:
        e = F.concat(
            F.lit(sep), F.array_join(F.split(t, ""), sep + sep), F.lit(sep)
        )
        for a, b in merges:
            e = F.replace(
                e,
                F.lit(f"{sep}{a}{sep}{sep}{b}{sep}"),
                F.lit(f"{sep}{a}{b}{sep}"),
            )
        return _bpe_symbols(e)

    pre = F.filter(
        # NULL text segments to [] (no tokens), not NULL
        F.coalesce(bpe_pretokens(col), F.array().cast("array<string>")),
        lambda t: (F.trim(t) != "") & (~t.contains(sep)),
    )
    return F.flatten(F.transform(pre, seg))


LM_LOGPROB_SCALE = 1_000_000


def _trigram_instances(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, w1, w2, w3) — one row per word-trigram INSTANCE, pure
    array expressions at scan speed (no UDF, no shuffle)."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                        F.element_at(toks, i + 2).alias("w3"),
                    ),
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<w1:string,w2:string,w3:string>>"
                )
            )
        ).alias("t"),
    ).select(id_col, "t.w1", "t.w2", "t.w3")


def lm_train_trigram(
    df: DataFrame,
    text_col: str = "text",
    scale: int = LM_LOGPROB_SCALE,
) -> DataFrame:
    """Train the add-one-smoothed word-trigram model lm_perplexity
    scores against: (w1, w2, w3, nll BIGINT) with nll =
    floor(-scale · ln p(w3 | w1 w2)), p = (c3 + 1) / (c2 + V).

    This is the CCNet split (Wenzek et al. 2020 §3.3): train on a
    CLEAN REFERENCE corpus (their KenLM is Wikipedia-trained), then
    score the target corpus via ``lm_perplexity(target, model=...)``.
    A reference-corpus model is fixed-size w.r.t. the corpus being
    filtered, so the 100 TB scoring path joins against a bounded —
    typically broadcastable — table no matter how big the target is.

    Plan: one corpus groupBy for c3, a MODEL-sized groupBy for the
    bigram prefixes, and a 1-row broadcast vocabulary scalar. The
    float ln is evaluated once per distinct trigram and immediately
    floored, so downstream per-doc sums are exact integers."""
    tri = _trigram_instances(
        df.select(F.lit(0).alias("__one"), text_col), "__one", text_col
    )
    vocab = df.select(
        F.explode(tokens(F.col(text_col))).alias("w")
    ).agg(F.count_distinct("w").alias("V"))
    return _trigram_model(tri, vocab, scale)


def _trigram_model(tri: DataFrame, vocab: DataFrame, scale: int) -> DataFrame:
    """(w1,w2,w3,nll) from trigram instances + a 1-row vocab scalar:
    c3 is the only corpus-sized agg; the bigram-prefix agg is over
    MODEL-sized rows; vocab broadcasts as a 1-row scalar.

    c3 is persisted (r16): the plan reads it twice — the bigram-
    prefix re-aggregation and the model join — and each read would
    re-run the corpus trigram explode + groupBy shuffle. Model-sized
    (one row per distinct trigram); the handle rides the result via
    track_persisted so scoring callers release it."""
    from ._cache import track_persisted

    c3 = tri.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    ).persist()
    c2 = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c2"))
    return track_persisted(
        c3.join(c2, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "w3",
            F.floor(
                -F.lit(float(scale))
                * F.log(
                    (F.col("c3") + F.lit(1)).cast("double")
                    / (F.col("c2") + F.col("V")).cast("double")
                )
            )
            .cast("long")
            .alias("nll"),
        ),
        c3,
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = LM_LOGPROB_SCALE,
    model: DataFrame | None = None,
    default_nll: int | None = None,
    broadcast_model: bool = False,
) -> DataFrame:
    """CCNet-style LM quality filtering (Wenzek et al. 2020 §3.3
    score documents by perplexity under an LM; Laurençon et al. 2022
    ROOTS does the same): every document gets (id, n_trigrams,
    nll_scaled) where nll_scaled is the integer Σ floor(-scale ·
    ln p(w3 | w1 w2)) over its trigram instances. Consumers
    rank/filter by nll_scaled / n_trigrams — high mean NLL ≡ high
    perplexity ≡ atypical text (garbled, wrong-language, junk).

    Two modes:

    - ``model=None`` (convenience): the add-one trigram model is
      self-trained on ``df`` itself. Every scored trigram is then in
      the model by construction (inner join, no OOV path). NOTE the
      scale cost: a self-trained model grows with the corpus's
      DISTINCT trigrams — billions of rows at 100 TB — so the
      tri ⋈ model join is a sort-merge shuffle and training adds a
      corpus-wide groupBy. Still linear, but NOT broadcastable.
    - ``model=`` a pre-trained (w1, w2, w3, nll) table — the
      paper-faithful path (CCNet scores against a Wikipedia-trained
      KenLM, not the corpus being filtered; ``lm_train_trigram`` on
      a clean reference corpus produces one). Trigrams absent from
      the model cost ``default_nll`` each (when None: 1-row job for
      max(model.nll) + scale ≈ e× less likely than the rarest seen
      trigram — pass the exact OOV penalty, e.g. floor(scale·ln V),
      to override). Because a reference-corpus model is FIXED-SIZE
      w.r.t. the target, pass ``broadcast_model=True`` when it fits
      the broadcast budget and the 100 TB scoring plan touches the
      corpus exactly twice (instance explode + per-doc agg) with a
      broadcast model join in between — no corpus-keyed join
      shuffle at all.

    Determinism: the float ln is evaluated ONCE PER DISTINCT TRIGRAM
    in the model table and immediately floored to an integer, so
    per-document aggregation is exact integer summation — engine-
    portable the same way SEMDEDUP_SIM_SCALE keys are (a 1-ulp libm
    divergence flips a floor only when scale·ln(p) lands within a
    ulp of an integer — and only for that one model row, not per
    instance)."""
    tri = _trigram_instances(df, id_col, text_col)
    if model is None:
        # self-train from the SAME tri frame (one instance explode
        # feeds both model build and scoring — the pre-r10 plan)
        vocab = df.select(
            F.explode(tokens(F.col(text_col))).alias("w")
        ).agg(F.count_distinct("w").alias("V"))
        model = _trigram_model(tri, vocab, scale)
        joined = tri.join(model, ["w1", "w2", "w3"])
        nll = F.col("nll")
    else:
        if default_nll is None:
            # conservative OOV penalty: one job over the bounded
            # model table, never the corpus
            row = model.agg(F.max("nll").alias("m")).head()
            mx = int(row["m"]) if row and row["m"] is not None else 0
            default_nll = mx + int(scale)
        m = F.broadcast(model) if broadcast_model else model
        joined = tri.join(m, ["w1", "w2", "w3"], "left")
        nll = F.coalesce(F.col("nll"), F.lit(int(default_nll)))
    from ._cache import track_persisted

    # propagate the model's persisted c3 handle (self-trained AND
    # pre-trained paths) so callers can release it after scoring
    return track_persisted(
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(nll).cast("long").alias("nll_scaled"),
        ),
        *getattr(model, "_cayley_persisted", ()),
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 8192,
) -> DataFrame:
    """Model-based quality scoring, fastText-shaped (Joulin et al.
    2017: hash the token n-grams, look up each bucket's learned
    weight, reduce per document; the GPT-3 pipeline used exactly
    such a linear classifier to filter Common Crawl — Brown et al.
    2020 appendix A): (id, n_feats, score) with score = Σ
    weight[bucket] over the document's hashed unigram+bigram
    features (the DSIR feature map, sampling.hashed_ngram_buckets).

    ``weights`` is any (bucket BIGINT, weight BIGINT) table — a
    trained model's quantized weights land here; integer weights
    keep the per-doc sum exact and engine-portable (quantizing a
    linear scorer to int does not change its ranking granularity in
    practice and buys bit-identical reproducibility).

    Plan: features are pure array expressions at scan speed; the
    model is ≤ ``buckets`` rows → broadcast join; one corpus shuffle
    on id. A document never pairs with anything — cost is linear in
    corpus tokens, the same shape as DSIR."""
    from .sampling import hashed_ngram_buckets

    feats = df.select(
        F.col(id_col),
        F.explode(
            hashed_ngram_buckets(F.col(text_col), buckets)
        ).alias("bucket"),
    )
    return (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0)))
            .cast("long")
            .alias("score"),
        )
    )


def c4_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2 — the filter
    set behind the original T5 corpus, still the baseline most
    web-scale pipelines start from): per-document verdicts plus the
    CLEANED text, all pure column expressions at scan speed.

    Rules:

    - line retention: a line survives only if it ends in terminal
      punctuation (. ! ? ") and has ≥ ``min_words_per_line``
      whitespace-separated words — ``clean_text`` is the surviving
      lines rejoined, the column a downstream tokenizer consumes;
    - ``ok_sentences``: ≥ ``min_sentences`` sentence terminals
      ([.!?]) in the original text;
    - ``has_lorem``: 'lorem ipsum' (case-insensitive) — placeholder
      page, drop;
    - ``has_brace``: literal '{' — leaked code/markup, drop;
    - ``keep_c4``: ok_sentences AND NOT has_lorem AND NOT has_brace
      AND ≥ 1 surviving line.

    (The paper's bad-words list is a caller-supplied policy choice —
    filter ``clean_text`` with ``redact``/``array_contains`` as
    needed; its 3-sentence-span dedup is the span-dedup operator
    family in functions/dedup.py.) Integer counts ride along for
    re-thresholding without a re-scan."""
    from .dedup import let

    c = F.coalesce(F.col(text_col), F.lit(""))
    # the battery columns read the kept-line filter and the sentence
    # regex 3x each (r16 plan dump); the two-level select keeps the
    # bound struct evaluated once (CollapseProject does not inline a
    # non-cheap alias consumed many times)
    p0 = _c4_parts(c, min_words_per_line, min_sentences)
    bound = F.struct(
        c.alias("c"),
        p0["lines"].alias("lines"),
        p0["kept"].alias("kept"),
        p0["n_sentences"].alias("ns"),
    )

    def body(s):
        p = _c4_parts(
            s["c"],
            min_words_per_line,
            min_sentences,
            _lines=s["lines"],
            _kept=s["kept"],
            _ns=s["ns"],
        )
        return F.struct(
            F.size(p["lines"]).cast("int").alias("n_lines"),
            F.size(p["kept"]).cast("int").alias("n_kept_lines"),
            p["n_sentences"].cast("int").alias("n_sentences"),
            p["has_lorem"].alias("has_lorem"),
            p["has_brace"].alias("has_brace"),
            p["ok_sentences"].alias("ok_sentences"),
            p["keep"].alias("keep_c4"),
            F.array_join(p["kept"], "\n").alias("clean_text"),
        )

    battery = let(bound, body)
    fields = (
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_lorem",
        "has_brace",
        "ok_sentences",
        "keep_c4",
        "clean_text",
    )
    return df.select(id_col, battery.alias("_c4")).select(
        id_col, *[F.col("_c4").getField(f).alias(f) for f in fields]
    )


def _c4_parts(
    c: Column,
    min_words_per_line: int,
    min_sentences: int,
    _lines: Column | None = None,
    _kept: Column | None = None,
    _ns: Column | None = None,
) -> dict:
    """The C4 rule sub-expressions as Columns, shared by the
    :func:`c4_rules` battery and the predicate/clean-column forms
    (:func:`c4_keep` / :func:`c4_clean`) the composed pipeline
    filters with — one definition, so the forms cannot drift.

    ``_lines``: pre-bound line array (``split(c, "\\n")``) — passed by
    :func:`quality_gate_struct`, see :func:`_gopher_metrics`.
    ``_kept``/``_ns``: pre-bound kept-line array / sentence count —
    passed by :func:`c4_rules` so the battery evaluates each once."""
    lines = F.split(c, "\n", -1) if _lines is None else _lines
    kept = (
        F.filter(
            lines,
            lambda l: F.trim(l).rlike(r'[.!?"]$')
            & (
                F.size(
                    F.filter(F.split(F.trim(l), " ", -1), lambda w: w != "")
                )
                >= min_words_per_line
            ),
        )
        if _kept is None
        else _kept
    )
    n_sentences = (
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]"), 0))
        if _ns is None
        else _ns
    )
    has_lorem = F.contains(F.lower(c), F.lit("lorem ipsum"))
    has_brace = F.contains(c, F.lit("{"))
    ok_sent = n_sentences >= min_sentences
    return {
        "lines": lines,
        "kept": kept,
        "n_sentences": n_sentences,
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "ok_sentences": ok_sent,
        "keep": ok_sent & ~has_lorem & ~has_brace & (F.size(kept) >= 1),
    }


def c4_keep(
    col: Column, min_words_per_line: int = 5, min_sentences: int = 3
) -> Column:
    """``keep_c4`` as a boolean Column predicate (same expression the
    :func:`c4_rules` battery emits) — for pipelines that filter in
    the scan projection instead of joining a verdict frame back."""
    c = F.coalesce(col, F.lit(""))
    return _c4_parts(c, min_words_per_line, min_sentences)["keep"]


def c4_clean(col: Column, min_words_per_line: int = 5) -> Column:
    """C4 ``clean_text`` as a Column (surviving lines rejoined with
    newlines) — the scan-speed companion of :func:`c4_keep`."""
    c = F.coalesce(col, F.lit(""))
    return F.array_join(_c4_parts(c, min_words_per_line, 0)["kept"], "\n")


TOKEN_ENTROPY_SCALE = 1_000_000


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = TOKEN_ENTROPY_SCALE,
) -> DataFrame:
    """Per-document unigram Shannon entropy (Shannon 1948), the
    cheap repetitiveness/diversity quality signal: templated or
    keyboard-mash documents score low, natural prose high. Returns
    (id, n_tokens, entropy_scaled) with entropy_scaled =
    Σ_w c_w · floor(scale · ln(N / c_w)) over the document's
    distinct tokens — consumers compare entropy_scaled against
    threshold · N · scale (division-free) or rank by the ratio.

    Determinism: the float ln is evaluated ONCE PER DISTINCT
    (document, token) COUNT ROW and immediately floored, so the
    per-doc sum is exact integer arithmetic — the lm_perplexity
    discipline.

    Plan: explode → one groupBy(id, token) shuffle for counts; the
    per-doc total N is a window over id (second exchange), and the
    final per-doc aggregation RIDES that same id partitioning — no
    third shuffle. Linear in corpus tokens; no joins, no model."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    counts = (
        df.select(F.col(id_col), F.explode(toks).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tot = F.sum("c").over(Window.partitionBy(id_col))
    term = F.col("c") * F.floor(
        F.lit(float(scale))
        * F.log(F.col("__n").cast("double") / F.col("c").cast("double"))
    ).cast("long")
    return (
        counts.withColumn("__n", n_tot)
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(term).cast("long").alias("entropy_scaled"),
        )
    )


def hashed_linear_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    buckets: int = 8192,
    epochs: int = 2,
    lr: int = 1,
    cache_feats: bool = True,
) -> DataFrame:
    """Fit the GPT-3-style quality filter IN-ENGINE: a distributed,
    integer batch perceptron over hashed n-gram features (Brown et
    al. 2020 appendix A train exactly such a linear classifier on
    curated-vs-crawl labels; Joulin et al. 2017 is the feature map).
    Returns the (bucket BIGINT, weight BIGINT) table
    ``hashed_linear_score`` consumes — train here, score there, no
    external tooling in the loop.

    ``label_col`` must be +1 (curated/keep) / -1 (crawl/reject).
    Batch perceptron update, all-integer so the fit is bit-exact and
    engine-portable: per epoch, score every doc under the current
    weights (score_d = Σ_b cnt_{d,b}·w_b), and every misclassified
    doc (label·score ≤ 0 — ties count as wrong, so epoch 1 from
    zero weights updates on every doc) contributes
    w_b += label·cnt_{d,b}·lr for each of its feature buckets.

    Plan, per epoch: the ≤ ``buckets``-row weight table broadcasts
    onto the feature frame (never a corpus-keyed model join); one
    groupBy(id) shuffle scores docs; the misclassified set joins
    back to features on the SAME id partitioning (exchange reuse);
    one map-side-combinable groupBy(bucket) reduces the gradient to
    ≤ buckets rows, which are the ONLY driver traffic (the BPE-
    trainer discipline — model-sized rows per round, never corpus
    rows). Cost is epochs × (2 scans + 2 shuffles of the feature
    frame), linear in corpus tokens at any scale.

    ``cache_feats`` persists the aggregated feature frame across the
    epoch loop (unpersisted before returning), cutting every scan
    after the first to cache reads — measured 1.4-2.3x on the
    2-epoch trainer at 1-10x sf0.1, with the win GROWING with corpus
    size (SCALE.md round 11). Disable when the feature frame exceeds
    cluster cache capacity; the recompute path is the same plan,
    just re-scanned."""
    from .sampling import hashed_ngram_buckets

    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    spark = df.sparkSession
    lbl = F.col(label_col).cast("long")
    feats = (
        df.select(
            F.col(id_col).alias("__id"),
            lbl.alias("__label"),
            F.explode(
                hashed_ngram_buckets(F.col(text_col), buckets)
            ).alias("bucket"),
        )
        .groupBy("__id", "__label", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if cache_feats:
        feats = feats.persist()
    w: dict[int, int] = {}
    for _ in range(int(epochs)):
        if w:
            wdf = spark.createDataFrame(
                [(int(b), int(v)) for b, v in sorted(w.items())],
                "bucket bigint, weight bigint",
            )
            scored = feats.join(F.broadcast(wdf), "bucket", "left")
        else:
            # zero model: scores are identically 0 without a join
            scored = feats.withColumn("weight", F.lit(None).cast("long"))
        scores = scored.groupBy("__id", "__label").agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("weight"), F.lit(0))
            ).alias("score")
        )
        mis = scores.where(
            F.col("__label") * F.col("score") <= 0
        ).select("__id")
        grad = (
            feats.join(mis, "__id")
            .groupBy("bucket")
            .agg(
                (F.sum(F.col("__label") * F.col("cnt")) * F.lit(int(lr)))
                .cast("long")
                .alias("g")
            )
        )
        for r in grad.collect():  # <= buckets rows
            b = int(r["bucket"])
            w[b] = w.get(b, 0) + int(r["g"])
    if cache_feats:
        # the returned model is driver-materialized (w), so nothing
        # downstream depends on the cached lineage
        feats.unpersist(False)
    return spark.createDataFrame(
        [(int(b), int(v)) for b, v in sorted(w.items()) if v != 0],
        "bucket bigint, weight bigint",
    )


def repetition_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The Gopher N-GRAM repetition battery (Rae et al. 2021 §A1.1 —
    the half of the repetition section ``repetition_stats`` doesn't
    cover; RefinedWeb/Dolma/FineWeb all reship it): per document and
    per n, LONG-format rows (id, n, rule, cov_chars, word_chars, ok):

    - ``rule='top'`` (n in ``top_ns``): cov_chars = occurrences ×
      token-chars of the document's most frequent n-gram (ties break
      to the lexicographically smallest — deterministic); the paper
      drops docs where the fraction exceeds 0.20/0.18/0.16 for
      n=2/3/4.
    - ``rule='dup'`` (n in ``dup_ns``): cov_chars = token-chars
      covered by AT LEAST one occurrence of any n-gram appearing
      ≥2 times in the document, counted once (positions of
      overlapping duplicated n-grams merge — the span machinery);
      thresholds 0.15…0.10 for n=5…10.

    Characters = token characters (Σ len(token), no whitespace — the
    same word_chars denominator as gopher_rules). Thresholds are the
    paper's, applied division-free: ok ⟺ 100·cov ≤ T_n·word_chars
    with T_n = 24−2n (top) / 20−n (dup) — exactly the published
    percentages as integers. Docs shorter than n emit (cov=0,
    ok=true) — the rules are vacuous, not failing.

    Plan: ONE positional explode covers every n (Σ_n (m−n+1) ≈ 9m
    rows); occurrence counts ride ONE (id, n, gram) window shuffle
    (the exact_substr_dedup pattern — never a groupBy + join-back);
    the top pick and the duplicated-start collect are (id, n)
    aggregates riding smaller shuffles; one id join back to the
    tokenized base for the char sums. No pair join, no UDF; linear
    in corpus tokens at any scale."""
    from pyspark.sql.window import Window

    all_ns = sorted(set(top_ns) | set(dup_ns))
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).persist()
    m = F.size("toks")
    word_chars = F.aggregate(
        F.col("toks"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    chars = base.select("id", word_chars.alias("word_chars"))
    spine = chars.select(
        "id",
        F.explode(F.array(*[F.lit(int(x)) for x in all_ns])).alias("n"),
        "word_chars",
    )
    def _wins(nn: int):
        return F.transform(
            F.when(m >= nn, F.sequence(F.lit(0), m - nn)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda i: F.struct(
                F.lit(int(nn)).alias("n"),
                i.alias("pos"),
                F.concat_ws(" ", F.slice("toks", i + 1, nn)).alias("g"),
            ),
        )

    grams = base.select(
        "id",
        F.explode(
            F.flatten(F.array(*[_wins(int(nn)) for nn in all_ns]))
        ).alias("w"),
    ).select("id", "w.n", "w.pos", "w.g")
    w = Window.partitionBy("id", "n", "g")
    ann = grams.select(
        "id", "n", "pos", "g", F.count(F.lit(1)).over(w).alias("cnt")
    )
    # BOTH rule families reduce in ONE (id, n) aggregate over the
    # single annotated gram stream — a separate top/dup branch would
    # recompute the explode + window subtree twice (observed as 2
    # Window nodes / 6 exchanges before this fusion). Conditional
    # aggregates: the top pick only sees n in top_ns rows, the
    # duplicated-start collect only (n in dup_ns, cnt >= 2) rows
    # (collect_list drops the nulls the conditions produce).
    per = (
        ann.groupBy("id", "n")
        .agg(
            F.min(
                F.when(
                    F.col("n").isin(*[int(x) for x in top_ns]),
                    F.struct((-F.col("cnt")).alias("nc"), F.col("g")),
                )
            ).alias("t"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("n").isin(*[int(x) for x in dup_ns])
                        & (F.col("cnt") >= 2),
                        F.col("pos"),
                    )
                )
            ).alias("starts"),
        )
    )
    empty_spans = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    merged = F.aggregate(
        F.coalesce(
            F.col("starts"), F.expr("CAST(array() AS array<int>)")
        ),
        empty_spans,
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.try_element_at(acc, F.lit(-1))["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.try_element_at(acc, F.lit(-1))["s"].alias("s"),
                        (s + F.col("n") - 1).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.alias("s"), (s + F.col("n") - 1).alias("e")
                    )
                ),
            )
        ),
    )
    covered = F.filter(
        F.sequence(F.lit(0), F.size("toks") - 1),
        lambda i: F.exists(
            "spans", lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    is_top = F.col("n").isin(*[int(x) for x in top_ns])
    top_cov = F.when(
        F.col("t").isNotNull(),
        (-F.col("t.nc")) * (F.length("t.g") - (F.col("n") - 1)),
    ).cast("long")
    dup_cov = F.aggregate(
        covered,
        F.lit(0).cast("long"),
        lambda a, i: a + F.length(F.try_element_at("toks", i + 1)),
    )
    cov = F.coalesce(
        F.when(is_top, top_cov).otherwise(dup_cov), F.lit(0).cast("long")
    )
    thr = F.when(is_top, 24 - 2 * F.col("n")).otherwise(20 - F.col("n"))
    rule = F.when(is_top, F.lit("top")).otherwise(F.lit("dup"))
    from ._cache import track_persisted

    return track_persisted(
        spine.join(per, ["id", "n"], "left")
        .join(base, "id")
        .withColumn("spans", merged)
        .select(
            F.col("id").alias(id_col),
            F.col("n").cast("int").alias("n"),
            rule.alias("rule"),
            cov.alias("cov_chars"),
            F.col("word_chars").cast("long").alias("word_chars"),
            (
                100 * cov <= thr.cast("long") * F.col("word_chars")
            ).alias("ok"),
        ),
        base,
    )


GOPHER_STOPLIST = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stoplist: tuple = GOPHER_STOPLIST,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 appendix A —
    the heuristic filter set MassiveWeb shipped and most later
    pipelines reuse, e.g. RefinedWeb §3.1): per-document boolean
    verdicts for each rule plus the conjunction, computed as pure
    column expressions at scan speed.

    Rules (division-free comparisons so every verdict is exact
    integer arithmetic — the oracle-portability discipline):

    - ``ok_word_count``: word count in [min_words, max_words];
    - ``ok_mean_word_len``: mean word length in [3, 10]
      (3·n ≤ Σlen ≤ 10·n);
    - ``ok_symbol_ratio``: hash + ellipsis occurrences ≤ 0.1·words
      (10·symbols ≤ words); an ellipsis is ``...`` OR the Unicode
      ``…`` — the same pair the line-end rule counts;
    - ``ok_alpha_words``: ≥ 80% of words contain an alphabetic
      character (5·alpha_words ≥ 4·words);
    - ``ok_stopwords``: ≥ 2 distinct members of ``stoplist`` appear
      (default = the paper's 8 English function words; pass a
      corpus-appropriate list for other languages/domains);
    - ``ok_bullet_lines``: ≤ 90% of lines start with a bullet
      character (-, *, •) — the paper drops docs where >90% do
      (10·bullet_lines ≤ 9·n_lines);
    - ``ok_ellipsis_lines``: ≤ 30% of lines end with an ellipsis
      (... or …) — the paper drops docs where >30% do
      (10·ellipsis_lines ≤ 3·n_lines);
    - ``pass_gopher``: all of the above.

    Line rules split on \\n and trim each line; a flat single-line
    document has n_lines = 1, so both rules discriminate on its one
    line exactly as the paper's fractions do. Integer counts ride
    along so consumers can re-threshold without a re-scan."""
    from .dedup import let

    c = F.coalesce(F.col(text_col), F.lit(""))
    # Unbound, the 16 battery columns tokenized 24x per row (r16 plan
    # dump). TWO bound structs, split by input family, so column
    # pruning still works per family (a line-rules-only consumer like
    # t_gopher_lines never tokenizes): the token struct binds (c,
    # toks), then the token metrics, so each HOF aggregate runs once;
    # the line array is bound once. pass_gopher joins the two via the
    # token struct's precomputed pass_tok. The two-level select keeps
    # each struct evaluated once (CollapseProject does not inline a
    # non-cheap alias consumed many times).
    tok_metric_keys = (
        "n_words",
        "word_chars",
        "n_symbols",
        "n_alpha_words",
        "stop_hits",
    )
    line_metric_keys = ("n_lines", "n_bullet_lines", "n_ellipsis_lines")
    tok_verdict_keys = (
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_alpha_words",
        "ok_stopwords",
    )
    line_verdict_keys = ("ok_bullet_lines", "ok_ellipsis_lines")
    # one line evaluates both line metrics' shared split; n_lines is
    # size() of it — cheap enough to re-reference
    lines = F.split(c, "\n", -1)

    tok_bound = F.struct(c.alias("c"), tokens(c).alias("toks"))

    def tok_body(s):
        m = _gopher_metrics(
            s["c"], stoplist, _toks=s["toks"], _lines=F.array(F.lit(""))
        )
        inner = F.struct(*[m[k].alias(k) for k in tok_metric_keys])

        def tok_body2(t):
            m2 = {k: t[k] for k in tok_metric_keys}
            # line metrics are unused by the token verdicts; feed
            # zero literals so _gopher_verdicts' dict stays total
            m2.update(
                n_lines=F.lit(1), n_bullet_lines=F.lit(0),
                n_ellipsis_lines=F.lit(0),
            )
            v = _gopher_verdicts(m2, min_words, max_words)
            pass_tok = (
                v["ok_word_count"]
                & v["ok_mean_word_len"]
                & v["ok_symbol_ratio"]
                & v["ok_alpha_words"]
                & v["ok_stopwords"]
            )
            return F.struct(
                *[t[k].cast("int").alias(k) for k in tok_metric_keys],
                *[v[k].alias(k) for k in tok_verdict_keys],
                pass_tok.alias("pass_tok"),
            )

        return let(inner, tok_body2)

    def line_body(ls):
        # same shared definitions — only the line-metric entries are
        # referenced, so the dummy text/token args never evaluate
        m = _gopher_metrics(
            F.lit(""), stoplist,
            _toks=F.array().cast("array<string>"), _lines=ls,
        )
        inner = F.struct(*[m[k].alias(k) for k in line_metric_keys])

        def line_body2(t):
            m2 = {k: t[k] for k in line_metric_keys}
            m2.update(
                n_words=F.lit(0), word_chars=F.lit(0),
                n_symbols=F.lit(0), n_alpha_words=F.lit(0),
                stop_hits=F.lit(0),
            )
            v = _gopher_verdicts(m2, min_words, max_words)
            return F.struct(
                *[t[k].cast("int").alias(k) for k in line_metric_keys],
                *[v[k].alias(k) for k in line_verdict_keys],
            )

        return let(inner, line_body2)

    gt = let(tok_bound, tok_body)
    gl = let(lines, line_body)
    staged = df.select(id_col, gt.alias("_g_tok"), gl.alias("_g_line"))
    tok, line = F.col("_g_tok"), F.col("_g_line")
    return staged.select(
        id_col,
        *[tok.getField(f).alias(f) for f in tok_metric_keys],
        *[line.getField(f).alias(f) for f in line_metric_keys],
        *[tok.getField(f).alias(f) for f in tok_verdict_keys],
        *[line.getField(f).alias(f) for f in line_verdict_keys],
        (
            tok.getField("pass_tok")
            & line.getField("ok_bullet_lines")
            & line.getField("ok_ellipsis_lines")
        ).alias("pass_gopher"),
    )


def _gopher_metrics(
    c: Column,
    stoplist: tuple,
    _toks: Column | None = None,
    _lines: Column | None = None,
) -> dict:
    """The integer Gopher rule inputs as Columns — one definition
    shared by the :func:`gopher_rules` battery and the
    :func:`gopher_pass` predicate form, so they cannot drift.

    ``_toks``/``_lines``: pre-bound token/line arrays — passed by
    :func:`quality_gate_struct` so the fused gate evaluates each
    shared array once per row instead of once per reference."""
    toks = tokens(c) if _toks is None else _toks
    n_words = F.size(toks)
    word_chars = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    n_symbols = (
        F.size(F.split(c, "#", -1))
        - 1
        + F.size(F.split(c, r"\.\.\.", -1))
        - 1
        + F.size(F.split(c, "…", -1))
        - 1
    )
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in stoplist]),
            lambda w: F.array_contains(toks, w),
        )
    )
    lines = F.split(c, "\n", -1) if _lines is None else _lines
    n_lines = F.size(lines)
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
    )
    n_ellipsis_lines = F.size(
        F.filter(
            lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")
        )
    )
    return {
        "n_words": n_words,
        "word_chars": word_chars,
        "n_symbols": n_symbols,
        "n_alpha_words": n_alpha_words,
        "stop_hits": stop_hits,
        "n_lines": n_lines,
        "n_bullet_lines": n_bullet_lines,
        "n_ellipsis_lines": n_ellipsis_lines,
    }


def _gopher_verdicts(m: dict, min_words: int, max_words: int) -> dict:
    """Division-free boolean verdicts over :func:`_gopher_metrics`."""
    ok_wc = (m["n_words"] >= min_words) & (m["n_words"] <= max_words)
    ok_mwl = (m["word_chars"] >= 3 * m["n_words"]) & (
        m["word_chars"] <= 10 * m["n_words"]
    )
    ok_sym = 10 * m["n_symbols"] <= m["n_words"]
    ok_alpha = 5 * m["n_alpha_words"] >= 4 * m["n_words"]
    ok_stop = m["stop_hits"] >= 2
    ok_bullet = 10 * m["n_bullet_lines"] <= 9 * m["n_lines"]
    ok_ellipsis = 10 * m["n_ellipsis_lines"] <= 3 * m["n_lines"]
    return {
        "ok_word_count": ok_wc,
        "ok_mean_word_len": ok_mwl,
        "ok_symbol_ratio": ok_sym,
        "ok_alpha_words": ok_alpha,
        "ok_stopwords": ok_stop,
        "ok_bullet_lines": ok_bullet,
        "ok_ellipsis_lines": ok_ellipsis,
        "pass_gopher": ok_wc
        & ok_mwl
        & ok_sym
        & ok_alpha
        & ok_stop
        & ok_bullet
        & ok_ellipsis,
    }


def gopher_pass(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    stoplist: tuple = GOPHER_STOPLIST,
) -> Column:
    """``pass_gopher`` as a boolean Column predicate (the exact
    conjunction :func:`gopher_rules` emits) — for pipelines that
    filter in the scan projection instead of joining the verdict
    frame back."""
    c = F.coalesce(col, F.lit(""))
    m = _gopher_metrics(c, stoplist)
    return _gopher_verdicts(m, min_words, max_words)["pass_gopher"]


def quality_gate_struct(
    col: Column,
    lang: str = "en",
    min_words: int = 50,
    max_words: int = 100_000,
    stoplist: tuple = GOPHER_STOPLIST,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> Column:
    """The composed quality gate (language ID ∧ Gopher ∧ C4) as ONE
    struct Column ``(keep boolean, clean string)`` — the scan form
    :func:`~cayley_spark.functions.pipeline.corpus_pipeline` filters
    with. Semantically identical to the separate
    ``language_guess(col) == lang``, :func:`gopher_pass`,
    :func:`c4_keep` predicates plus the :func:`c4_clean` projection
    (pinned by tests/test_text.py), built from the SAME metric
    helpers so the forms cannot drift.

    Why it exists: composing the four gate expressions directly
    re-evaluated the tokenization 25x and the caller's derived-text
    projection 36x PER ROW (r16 plan dump; the gate scan was 3x
    slower than this form at sf0.1). The shared pieces (coalesced
    text, token array, line array) are bound once with
    :func:`~cayley_spark.functions.dedup.let`; callers filter on
    ``.getField("keep")`` and project ``.getField("clean")``.

    Null/empty text: binding tokenizes ``coalesce(col, '')`` where
    ``language_guess`` alone reads the raw column, but the composed
    verdict is identical — C4 requires >= 1 kept line, and null or
    empty text has none, so such rows are dropped by both forms
    regardless of the other gates' quirks on null input."""
    from .dedup import let

    c0 = F.coalesce(col, F.lit(""))
    bound = F.struct(
        c0.alias("c"),
        tokens(c0).alias("toks"),
        F.split(c0, "\n", -1).alias("lines"),
    )

    def body(s):
        c, toks, lines = s["c"], s["toks"], s["lines"]
        lang_ok = language_guess(c, _toks=toks) == lang
        gop = _gopher_verdicts(
            _gopher_metrics(c, stoplist, _toks=toks, _lines=lines),
            min_words,
            max_words,
        )["pass_gopher"]
        parts = _c4_parts(
            c, min_words_per_line, min_sentences, _lines=lines
        )
        # c4_clean is array_join over _c4_parts(..., 0)["kept"];
        # "kept" does not depend on min_sentences, so one parts call
        # serves both the predicate and the cleaned text
        clean = F.array_join(parts["kept"], "\n")
        keep = lang_ok & gop & parts["keep"]
        return F.struct(keep.alias("keep"), clean.alias("clean"))

    return let(bound, body)
