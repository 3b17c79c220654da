"""Streaming NEAR-duplicate detection — the incremental twin of the
batch MinHash-LSH operator (functions/dedup.minhash_lsh_pairs).

``dedup_stream`` (streaming/dedup.py) catches byte-identical
re-deliveries; a crawl also re-sees *slightly edited* pages, and a
periodic batch LSH sweep discovers them hours late. This operator
flags near-duplicate arrivals at ingest time, with bounded state.

Design (the batch LSH plan re-expressed as keyed stream state):

- each document's MinHash signature is computed at scan speed with
  the SAME column expressions as the batch operator (so a doc gets
  the identical signature in both pipelines), then exploded to its
  ``bands`` (band, band_hash) bucket keys;
- the stream is grouped by bucket key; ``applyInPandasWithState``
  keeps, per bucket, the signatures of documents seen within the
  watermark horizon (a bucket is the streaming analog of one LSH
  candidate cell — the batch equi-join on (band, bh) becomes a
  lookup against this state);
- a new arrival is compared against the bucket's occupants by the
  MinHash ESTIMATE of Jaccard (matching signature components /
  num_hashes). Batch verification re-reads document text for exact
  shingle Jaccard; state must not hold text, so streaming verifies
  with the unbiased estimator instead — pairs are emitted with the
  estimate, and a caller needing exact scores joins text back on
  the (tiny) emitted pair stream;
- state expires by EVENT-TIME TIMEOUT once the watermark passes the
  bucket's newest document + horizon, so state size is bounded by
  documents-per-horizon x bands, independent of stream lifetime;
  ``max_occupants`` additionally caps degenerate hot buckets (e.g.
  boilerplate shingles) with FIFO eviction. The batch twin bounds
  the same blow-up differently: buckets with more than
  ``max_bucket_size`` occupants are skipped outright (the same
  guard as ``dedup.minhash_lsh_pairs``); only the n-gram Jaccard
  operator prices sum(df²) to choose a plan.

A pair colliding in several bands is emitted once per colliding
band; downstream exact-once consumers apply
``dropDuplicatesWithinWatermark(["id_a", "id_b"])`` — kept out of
this operator so the emitted stream stays append-only and cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.dedup import _banded, minhash_rows


def _signed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
    k: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, ts, sigs, band, bh) — one row per (doc, band), ``sigs``
    the signature joined with '|'; sub-k-token docs carry no shingles
    and are dropped (they are the exact-dedup stream's job).

    Built on the batch kernel (``dedup.minhash_rows``) but without
    its persist: the streaming twin runs inside a stateful query,
    where persist() is unavailable."""
    signed = docs.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("ts"),
        minhash_rows(F.col(text_col), k, num_hashes),
    ).select("id", "ts", "sig", F.concat_ws("|", "sig").alias("sigs"))
    return _banded(signed, bands, num_hashes // bands, "id", "ts", "sigs")


def neardup_pairs_stream(
    docs: DataFrame,
    watermark: str = "1 hour",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_occupants: int = 256,
) -> DataFrame:
    """Streaming near-dup pair stream: (id_a, id_b, est_jaccard, band)
    where id_a arrived at-or-before id_b in the bucket and the
    MinHash-estimated Jaccard >= threshold. Streaming input only
    (``applyInPandasWithState`` is a streaming-only operator); the
    declarative batch twin with identical semantics is
    :func:`neardup_pairs_batch` — the equivalence test pins them to
    each other.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    signed = _signed(docs, id_col, text_col, ts_col, k, num_hashes, bands)
    is_streaming = docs.isStreaming
    if is_streaming:
        signed = signed.withWatermark("ts", watermark)

    # output/state id type follows the INPUT id column (as the batch
    # twin's does naturally) — a string doc id must not crash the
    # stream or silently diverge from neardup_pairs_batch's schema
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_type}, id_b {id_type}, est_jaccard double, band int"
    )
    state_schema = (
        f"ids array<{id_type}>, sigs array<string>, "
        "tss array<timestamp>, newest timestamp"
    )
    horizon_ms = _interval_ms(watermark)
    horizon_s = horizon_ms / 1000.0
    session_tz = docs.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    )

    def fold(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        band = int(key[0])
        if state.hasTimedOut:
            # idle-bucket garbage collection: no new data arrived and
            # the watermark passed newest + horizon
            state.remove()
            return
        if state.exists:
            ids, sigs, tss, newest = state.get
            ids, sigs, tss = list(ids), list(sigs), list(tss)
        else:
            ids, sigs, tss, newest = [], [], [], None
        # occupant signatures live in a preallocated fixed-width
        # ('<U32' — md5 hex) matrix, parsed once each; an arrival's
        # compare is a vectorized row-vs-matrix equality over ALL
        # occupants instead of a per-occupant python loop (microbench,
        # 256-occupant bucket: ~12x per arrival; np.stack of object
        # rows per arrival was tried first and the copy ate the win).
        # The iterrows over ARRIVALS remains — Spark hands arrivals as
        # rows and each must also update state.
        cap = max(64, 2 * (len(sigs) + 8))
        mat = np.empty((cap, num_hashes), dtype="<U32")
        n = 0
        for s in sigs:
            mat[n] = s.split("|")
            n += 1
        out = []
        rows = pd.concat(list(pdf_iter)).sort_values(["ts", "id"])
        for _, r in rows.iterrows():
            rid, rsig = r["id"], r["sigs"]
            # numpy scalar → native python (state tuples and emitted
            # rows must round-trip through Arrow for ANY id type)
            rid = rid.item() if hasattr(rid, "item") else rid
            t = r["ts"]
            t = t.to_pydatetime() if hasattr(t, "to_pydatetime") else t
            parts = np.array(rsig.split("|"), dtype="<U32")
            if n:
                est = (mat[:n] == parts).sum(axis=1) / num_hashes
                # the horizon is part of the PAIRING contract, not
                # just a GC policy: a group that receives new data in
                # the same batch its timeout would fire is handed its
                # state intact (hasTimedOut is only raised for quiet
                # groups), so occupants are age-filtered here too
                ages = np.array(
                    [(t - ots).total_seconds() for ots in tss]
                )
                for i in np.nonzero(
                    (est >= threshold) & (ages <= horizon_s)
                )[0]:
                    if ids[i] != rid:
                        out.append((ids[i], rid, float(est[i]), band))
            if n == cap:
                cap *= 2
                grown = np.empty((cap, num_hashes), dtype="<U32")
                grown[:n] = mat[:n]
                mat = grown
            mat[n] = parts
            n += 1
            ids.append(rid)
            sigs.append(rsig)
            tss.append(t)
            newest = t if newest is None else max(newest, t)
        # evict occupants no future in-watermark arrival could pair
        # with, then cap degenerate hot buckets (FIFO)
        keep = [
            i for i, ots in enumerate(tss)
            if (newest - ots).total_seconds() <= horizon_s
        ][-max_occupants:]
        ids = [ids[i] for i in keep]
        sigs = [sigs[i] for i in keep]
        tss = [tss[i] for i in keep]
        state.update((ids, sigs, tss, newest))
        if is_streaming and newest is not None:
            from datetime import timezone

            try:
                from zoneinfo import ZoneInfo

                tz = ZoneInfo(session_tz)
            except Exception:
                tz = timezone.utc
            state.setTimeoutTimestamp(
                int(newest.replace(tzinfo=tz).timestamp() * 1000)
                + horizon_ms
            )
        if out:
            yield pd.DataFrame(
                out, columns=["id_a", "id_b", "est_jaccard", "band"]
            )

    return signed.groupBy("band", "bh").applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout
        if is_streaming
        else GroupStateTimeout.NoTimeout,
    )


def neardup_pairs_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Declarative batch twin of :func:`neardup_pairs_stream` (no
    horizon): the banded self-join with the SAME signature-match
    estimator and the same arrival ordering (id_a precedes id_b by
    (ts, id)). Used to differential-test the stateful streaming
    operator; also a standalone operator when the estimator (no text
    re-read) is preferred over exact verification.

    Buckets with more than ``max_bucket_size`` occupants are SKIPPED
    (a (band, bh) count-window filter that rides the band join's own
    shuffle — the broadcast anti-join form is only used by the
    asymmetric cross-corpus operators), bounding candidate
    volume at O(buckets x cap²) — the batch counterpart of the
    stream's FIFO ``max_occupants``. The two twins diverge on a
    bucket above the bound (stream keeps the newest ``max_occupants``,
    batch emits nothing); the differential test keeps buckets below
    both limits.
    """
    # split each side's signature into its array ONCE per (doc, band)
    # row and persist, so the per-PAIR work after the band join is
    # only the zip_with comparison — without this, project-collapse
    # inlines the split into the pair stream and re-splits both
    # signatures for every candidate pair
    from ..functions.dedup import _skip_hot_buckets

    signed = _signed(
        docs, id_col, text_col, ts_col, k, num_hashes, bands
    ).withColumn("sigarr", F.split("sigs", r"\|")).persist()
    # guard BOTH sides (not just one): the result is identical — a
    # hot bucket dies if either side is filtered — but identical
    # subtrees let Catalyst reuse one shuffle exchange for the
    # self-join's two sides (one-sided filtering was measured at
    # ~+2 s on sf0.1: each side shuffled separately)
    guarded = _skip_hot_buckets(signed, signed, max_bucket_size)
    a = guarded.select(
        F.col("id").alias("id_a"),
        F.col("ts").alias("ts_a"),
        F.col("sigarr").alias("sa"),
        "band",
        "bh",
    )
    b = guarded.select(
        F.col("id").alias("id_b"),
        F.col("ts").alias("ts_b"),
        F.col("sigarr").alias("sb"),
        "band",
        "bh",
    )
    match = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = match.cast("double") / num_hashes
    before = (F.col("ts_a") < F.col("ts_b")) | (
        (F.col("ts_a") == F.col("ts_b")) & (F.col("id_a") < F.col("id_b"))
    )
    from ..functions._cache import track_persisted

    return track_persisted(
        a.join(b, ["band", "bh"])
        .where(before)
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard", "band")
        .dropDuplicates(["id_a", "id_b", "band"]),
        signed,
    )


def _interval_ms(spec: str) -> int:
    """'1 hour' / '30 minutes' / '10 seconds' → milliseconds."""
    n, _, unit = spec.strip().partition(" ")
    mult = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit.rstrip("s")]
    return int(float(n) * mult)
