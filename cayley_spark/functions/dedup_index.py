"""Persisted cross-corpus dedup index: build once over the historical
corpus, save as Parquet, admit new batches against it forever.

``dedup.dedup_against`` recomputes the existing side's shingles,
MinHash signatures and digests on EVERY call — right for a one-shot
oracle-checked query, wrong for the daily-crawl admission pattern
where one 100 TB historical corpus screens every incoming batch.
``LSHDedupIndex`` splits the lifecycle (the same build/save/load/
append shape as ``ann_index.IVFIndex``):

- ``build``: one pass over the existing corpus computing, per doc,
  the md5 digest (exact-match key), the k-word shingle set, and the
  MinHash signature. Documents shorter than ``k`` tokens carry a
  NULL signature but still carry their digest, so byte-identical
  short documents are caught by the exact pass.
- ``save``/``load``: the signature table is plain Parquet written
  through Spark's writer (any Hadoop FS); the (k, num_hashes, bands)
  parameters ride along as a 1-row Parquet sidecar so a ``load``
  can never be queried with mismatched shingling.
- ``append``: admitted batches are APPENDED to the saved table —
  the index grows incrementally; the existing corpus's text is
  never re-read.
- ``dedup``: drops rows of a new batch that duplicate the indexed
  corpus exactly (digest semi-join) or nearly (LSH band join of the
  batch's signatures against the INDEX's signatures — never
  batch×batch — verified by exact shingle Jaccard on candidates).

Scale shape: the stored row is (id, digest, sh, sig) — signatures
and shingle sets, not text. The band join is an equi-join on
(band, band_hash): uniform keys, and only the tiny banded projection
shuffles. Candidate verification joins shingle sets back by id for
the candidate pairs only, never all-pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import _duplicate_ids, _sig_frame

_META_SCHEMA = (
    "k int, num_hashes int, bands int, id_type string, token string"
)


class LSHDedupIndex:
    def __init__(
        self,
        spark: SparkSession,
        sigs: DataFrame,
        k: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
        path: str | None = None,
    ):
        if num_hashes % bands:
            raise ValueError("num_hashes must be divisible by bands")
        self.spark = spark
        self.sigs = sigs  # (id, digest string, sh array<str>, sig array<str>)
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.path = path

    def _check_id_type(self, df: DataFrame, id_col: str) -> None:
        """Reject a batch whose id column's type differs from the
        indexed corpus's — a silent mismatch would append mixed-schema
        rows into sigs/ that only fail (or coerce) at a later read.
        The index's authoritative id type is whatever ``self.sigs``
        carries (meta's id_type is a human-readable mirror of it)."""
        want = self.sigs.schema["id"].dataType.simpleString()
        got = df.schema[id_col].dataType.simpleString()
        if got != want:
            raise TypeError(
                f"id column {id_col!r} is {got}; this index stores {want} "
                "ids — cast the batch's ids before admitting it"
            )

    @classmethod
    def build(
        cls,
        existing: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
    ) -> "LSHDedupIndex":
        return cls(
            existing.sparkSession,
            _sig_frame(existing, id_col, text_col, k, num_hashes),
            k=k,
            num_hashes=num_hashes,
            bands=bands,
        )

    # ---------------- persistence ----------------

    def save(self, path: str) -> "LSHDedupIndex":
        # staged write + rename swap (GraphStore.save discipline):
        # self.sigs may be lazy over the files being replaced (a
        # loaded index re-saved to its own path). The consistency
        # token stamped into the staged dir and echoed by the meta
        # written after makes the crash window between the two (new
        # sigs + STALE meta — a different shingle space silently
        # admitting every duplicate) a loud load-time error.
        import uuid

        from .ann_index import _stamp_token, _swap_dir

        self.sigs.write.mode("overwrite").parquet(
            os.path.join(path, "sigs.save.tmp")
        )
        token = uuid.uuid4().hex
        _stamp_token(
            self.spark, os.path.join(path, "sigs.save.tmp"), token
        )
        _swap_dir(self.spark, path, "sigs")
        id_type = self.sigs.schema["id"].dataType.simpleString()
        self.spark.createDataFrame(
            [(self.k, self.num_hashes, self.bands, id_type, token)],
            _META_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "meta")
        )
        # reads go through the saved files from here on: append() must
        # extend what dedup() scans, not a stale in-memory plan
        self.sigs = self.spark.read.parquet(os.path.join(path, "sigs"))
        self.path = path
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LSHDedupIndex":
        from .ann_index import _check_token, _recover_swap

        # crash between a prior save/compact's renames: sigs lives
        # only in sigs.old — restore before read
        _recover_swap(spark, path, "sigs")
        meta = spark.read.parquet(os.path.join(path, "meta")).head()
        _check_token(
            spark,
            os.path.join(path, "sigs"),
            meta["token"] if "token" in meta.__fields__ else None,
        )
        return cls(
            spark,
            spark.read.parquet(os.path.join(path, "sigs")),
            k=meta["k"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
            path=path,
        )

    def append(
        self,
        batch: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        if_absent: bool = False,
    ) -> "LSHDedupIndex":
        """Admit ``batch`` into the index: compute its signature rows
        once and APPEND them to the saved table. Requires a saved
        index (call ``save`` first) — append is a files operation, not
        a recompute.

        ``if_absent=True`` is the CRASH-RECOVERY form (the
        admit_corpus_batch durability note): only rows whose id is
        not already indexed are written, so re-appending a batch
        whose append may or may not have landed is exactly
        idempotent. This matters beyond storage growth: duplicate
        signature rows double-count against the ``max_bucket_size``
        hot-bucket guard (occupancy is counted over raw sig rows), so
        a plain duplicate append can push a bucket over the cap and
        turn near-dup REJECTIONS into admissions until ``compact()``
        squeezes the duplicates out."""
        if self.path is None:
            raise ValueError("append requires a saved index; call save(path)")
        from .ann_index import _recover_swap

        # a crash between a prior save/compact's renames leaves sigs
        # only in sigs.old; without this restore, mode('append') would
        # RECREATE sigs/ holding only this batch — later dedups would
        # silently admit duplicates of the whole historical corpus,
        # and the next swap's entry guard would delete sigs.old (the
        # only full copy), making the loss permanent
        _recover_swap(self.spark, self.path, "sigs")
        self._check_id_type(batch, id_col)
        rows = _sig_frame(batch, id_col, text_col, self.k, self.num_hashes)
        if if_absent:
            # materialize BEFORE the write: the anti-join reads the
            # sigs files this write appends to — without the barrier
            # the write job would list its own destination as input
            rows = rows.join(
                self.sigs.select("id"), "id", "left_anti"
            ).localCheckpoint(eager=True)
        rows.write.mode("append").parquet(
            os.path.join(self.path, "sigs")
        )
        self.sigs = self.spark.read.parquet(os.path.join(self.path, "sigs"))
        return self

    def compact(self) -> "LSHDedupIndex":
        """Rewrite the signature table target-sized. Every append()
        adds one new file set — after a year of daily batches the
        table is thousands of tiny files, the classic
        read-amplification trap (every admission scan pays per-file
        open/footer cost). Compaction rewrites the current DISTINCT
        rows into as few files as the data needs
        (spark.sql.files.maxPartitionBytes sizing) and swaps via
        rename. The distinct squeeze (the SubstrDedupIndex.compact
        discipline) cleans up any duplicate (id, digest, sh, sig)
        rows a PLAIN duplicate append left behind — note such
        duplicates are NOT fully verdict-neutral while they exist
        (they double-count against the max_bucket_size occupancy
        cap; crash recovery should use ``append(if_absent=True)``,
        which never creates them). Verdicts after compaction equal a
        never-duplicated index's. Same staged-swap discipline as
        GraphStore.compact. Caller contract: release any persisted
        plans built over this index first (the standard
        ``unpersist_intermediates`` discipline) — a cached plan
        captured the PRE-compact file listing, and Spark's cache
        matcher will substitute it into later path-identical reads,
        failing with FILE_NOT_EXIST once the swap deletes the old
        files."""
        if self.path is None:
            raise ValueError("compact requires a saved index; call save(path)")
        from .ann_index import _recover_swap, _swap_dir

        # a crash between a prior swap's renames leaves sigs only in
        # sigs.old; load()/save() recover it — this maintenance entry
        # point must too, not fail with path-not-found
        _recover_swap(self.spark, self.path, "sigs")
        cur = self.spark.read.parquet(os.path.join(self.path, "sigs"))
        # coalesce to the natural post-scan partitioning: small index
        # → few files; a 100-TB index keeps its scan parallelism
        cur.dropDuplicates().coalesce(
            max(1, cur.rdd.getNumPartitions() // 8)
        ).write.mode("overwrite").parquet(
            os.path.join(self.path, "sigs.save.tmp")
        )
        # compaction preserves semantics → preserve the consistency
        # token the untouched meta sidecar still echoes
        from .ann_index import _read_token, _stamp_token

        tok = _read_token(self.spark, os.path.join(self.path, "sigs"))
        if tok is not None:
            _stamp_token(
                self.spark, os.path.join(self.path, "sigs.save.tmp"), tok
            )
        _swap_dir(self.spark, self.path, "sigs")
        self.sigs = self.spark.read.parquet(os.path.join(self.path, "sigs"))
        return self

    # ---------------- admission ----------------

    def duplicate_ids(
        self,
        new: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        jaccard_threshold: float = 0.8,
        max_bucket_size: int | None = 256,
    ) -> DataFrame:
        """Ids of ``new`` rows duplicating the indexed corpus —
        one column named ``id_col``, distinct.

        LSH buckets with more than ``max_bucket_size`` combined
        occupants (batch + index) are skipped — same hot-bucket guard
        and recall trade-off as ``dedup.dedup_against``, through the
        same near/exact pass (``dedup._duplicate_ids``); the exact
        digest semi-join is unaffected by the skip."""
        self._check_id_type(new, id_col)
        from ._cache import track_persisted

        nsig = _sig_frame(
            new, id_col, text_col, self.k, self.num_hashes
        ).persist()
        dup = _duplicate_ids(
            nsig, self.sigs, id_col, self.bands,
            self.num_hashes // self.bands,
            jaccard_threshold, max_bucket_size,
        )
        return track_persisted(dup, nsig)

    def dedup(
        self,
        new: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        jaccard_threshold: float = 0.8,
        max_bucket_size: int | None = 256,
    ) -> DataFrame:
        """Surviving rows of ``new`` (same semantics as
        ``dedup.dedup_against``, with the existing side read from the
        index instead of recomputed)."""
        dup = self.duplicate_ids(
            new, id_col=id_col, text_col=text_col,
            jaccard_threshold=jaccard_threshold,
            max_bucket_size=max_bucket_size,
        )
        from ._cache import track_persisted

        return track_persisted(
            new.join(dup, id_col, "left_anti"),
            *getattr(dup, "_cayley_persisted", ()),
        )


_SUBSTR_META_SCHEMA = "k int, token string"


class SubstrDedupIndex:
    """Persisted ExactSubstr window index — the substring-modality
    sibling of :class:`LSHDedupIndex` (same build/save/load/append/
    compact lifecycle): index the historical corpus's k-token window
    FINGERPRINTS once, then trim every incoming batch against the
    files, never re-reading corpus text.

    The stored row is one BIGINT xxhash64 fingerprint per distinct
    window — 8 bytes/window ≈ 8 bytes/corpus token, the same storage
    order as the suffix array Lee et al. 2022 build for ExactSubstr,
    but shardable as plain Parquet and probed with a semi-join
    instead of binary search. Fingerprinting makes the index
    APPROXIMATE: a 64-bit collision erases one batch window
    occurrence (P ≈ n²/2⁶⁵ — ~3% cumulative at a trillion distinct
    windows; the direct operators `exact_substr_dedup` /
    `exact_substr_against` stay exact, and the driver oracle
    certifies this index path against the exact-string semantics at
    test scale, where collisions are impossible in practice).

    ``trim`` applies the exact_substr_against verdict with the
    corpus side read from the index: every batch occurrence of an
    indexed window is removed (the corpus copy is canonical), and
    windows fresh to the batch get the keep-one rule within it.
    Admitting a batch = ``trim`` → append the CLEANED text's windows
    (``append``), preserving the global at-most-one-copy invariant
    incrementally — over the PRE-SPLICE token streams: deleting a
    span splices its surviving neighbors, and a spliced junction can
    form a new k-window in clean_text that coincides with an indexed
    window; junction windows are not re-checked (the standard fixed-k
    ExactSubstr relaxation, same note on exact_substr_against)."""

    def __init__(
        self,
        spark: SparkSession,
        wins: DataFrame,
        k: int = 50,
        path: str | None = None,
    ):
        self.spark = spark
        self.wins = wins  # (fp bigint), distinct within each write
        self.k = k
        self.path = path

    @staticmethod
    def _fp_frame(df: DataFrame, text_col: str, k: int) -> DataFrame:
        from .dedup import _token_window_arr
        from .text import TOKEN_RE

        toks = F.coalesce(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0),
            F.array().cast("array<string>"),
        )
        return (
            df.select(toks.alias("toks"))
            .select(
                F.explode(
                    _token_window_arr(F.size("toks"), k)
                ).alias("g")
            )
            .select(F.xxhash64("g").alias("fp"))
            .distinct()
        )

    @classmethod
    def build(
        cls,
        existing: DataFrame,
        text_col: str = "text",
        k: int = 50,
    ) -> "SubstrDedupIndex":
        return cls(
            existing.sparkSession,
            cls._fp_frame(existing, text_col, k),
            k=k,
        )

    # ---------------- persistence ----------------

    def save(self, path: str) -> "SubstrDedupIndex":
        # consistency token: see LSHDedupIndex.save — a stale meta's
        # k silently trims in a disjoint window space
        import uuid

        from .ann_index import _stamp_token, _swap_dir

        self.wins.write.mode("overwrite").parquet(
            os.path.join(path, "wins.save.tmp")
        )
        token = uuid.uuid4().hex
        _stamp_token(
            self.spark, os.path.join(path, "wins.save.tmp"), token
        )
        _swap_dir(self.spark, path, "wins")
        self.spark.createDataFrame(
            [(self.k, token)], _SUBSTR_META_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "meta")
        )
        self.wins = self.spark.read.parquet(os.path.join(path, "wins"))
        self.path = path
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SubstrDedupIndex":
        from .ann_index import _check_token, _recover_swap

        # crash between a prior save/compact's renames: wins lives
        # only in wins.old — restore before read
        _recover_swap(spark, path, "wins")
        meta = spark.read.parquet(os.path.join(path, "meta")).head()
        _check_token(
            spark,
            os.path.join(path, "wins"),
            meta["token"] if "token" in meta.__fields__ else None,
        )
        return cls(
            spark,
            spark.read.parquet(os.path.join(path, "wins")),
            k=meta["k"],
            path=path,
        )

    def append(
        self,
        batch: DataFrame,
        text_col: str = "text",
        if_absent: bool = False,
    ) -> "SubstrDedupIndex":
        """Append the batch's distinct window fingerprints to the
        saved table (a files operation — corpus text is never
        re-read). Cross-batch duplicate fingerprints are GENUINELY
        harmless here — every probe is a semi/anti-join on fp, which
        duplicates cannot change — and are squeezed out by compact().
        ``if_absent=True`` (the crash-recovery form, mirroring
        LSHDedupIndex.append) still writes only fingerprints absent
        from the index, keeping recovery re-appends growth-free."""
        if self.path is None:
            raise ValueError("append requires a saved index; call save(path)")
        from .ann_index import _recover_swap

        # same crash-window restore as LSHDedupIndex.append: an
        # append into the swap window must not recreate wins/ with
        # only the batch's fingerprints
        _recover_swap(self.spark, self.path, "wins")
        rows = self._fp_frame(batch, text_col, self.k)
        if if_absent:
            # same read-own-destination barrier as LSHDedupIndex.append
            rows = rows.join(
                self.wins.select("fp"), "fp", "left_anti"
            ).localCheckpoint(eager=True)
        rows.write.mode("append").parquet(os.path.join(self.path, "wins"))
        self.wins = self.spark.read.parquet(os.path.join(self.path, "wins"))
        return self

    def compact(self) -> "SubstrDedupIndex":
        """Global distinct + file-count rewrite (the LSHDedupIndex
        compact discipline): appends accumulate per-batch files and
        cross-batch duplicate fingerprints; compaction rewrites the
        distinct set target-sized and swaps via rename."""
        if self.path is None:
            raise ValueError("compact requires a saved index; call save(path)")
        from .ann_index import _recover_swap, _swap_dir

        # same crash-window recovery as load(): wins may live only in
        # wins.old after an interrupted swap
        _recover_swap(self.spark, self.path, "wins")
        cur = self.spark.read.parquet(os.path.join(self.path, "wins"))
        cur.distinct().coalesce(
            max(1, cur.rdd.getNumPartitions() // 8)
        ).write.mode("overwrite").parquet(
            os.path.join(self.path, "wins.save.tmp")
        )
        # preserve the consistency token across the semantic no-op
        from .ann_index import _read_token, _stamp_token

        tok = _read_token(self.spark, os.path.join(self.path, "wins"))
        if tok is not None:
            _stamp_token(
                self.spark, os.path.join(self.path, "wins.save.tmp"), tok
            )
        _swap_dir(self.spark, self.path, "wins")
        self.wins = self.spark.read.parquet(os.path.join(self.path, "wins"))
        return self

    # ---------------- admission ----------------

    def trim(
        self,
        new: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_count: int = 2,
        hot_cap: int | None = 100_000,
    ) -> DataFrame:
        """exact_substr_against semantics with the corpus side read
        from the index: (id, clean_text, n_tokens, n_removed,
        n_spans) for every row of ``new``. Scale shape: the batch's
        positional windows fingerprint at scan speed and semi/anti-
        join the index on the BIGINT key (uniform, 8-byte shuffle
        rows); the within-batch keep-one aggregate runs only on
        windows absent from the index, guarded against hot window
        keys by ``hot_cap`` (dedup._removal_starts — verdict
        invariant, None disables); one id shuffle; the shared trim
        tail."""
        from .dedup import (
            _removal_starts,
            _token_window_arr,
            _trim_by_starts,
        )
        from .text import TOKEN_RE

        toks = F.coalesce(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0),
            F.array().cast("array<string>"),
        )
        base = new.select(
            F.col(id_col).alias("id"), toks.alias("toks")
        ).persist()
        n = F.size("toks")
        sh = base.select(
            "id",
            F.posexplode(_token_window_arr(n, self.k)).alias("pos", "g"),
        ).withColumn("fp", F.xxhash64("g"))
        idx = self.wins
        hit_corpus = sh.join(idx, "fp", "left_semi").select("id", "pos")
        # (cnt, keeper) ride one hot-key-guarded window shuffle — the
        # exact_substr_dedup pattern; indexed fingerprints anti-join
        # out of the window path only (hot keys route beforehand and
        # may overlap hit_corpus — duplicate starts merge in the trim)
        hit_batch = _removal_starts(
            sh, min_count, hot_cap, exclude=idx, exclude_key="fp"
        )
        starts = (
            hit_corpus.unionByName(hit_batch)
            .groupBy("id")
            .agg(F.array_sort(F.collect_list("pos")).alias("starts"))
        )
        return _trim_by_starts(base, starts, self.k, id_col)
