"""Persist-handle tracking for operator intermediates.

Operators like ``minhash_lsh_pairs`` and ``embedding_dup_pairs``
persist expensive intermediates that the returned lazy plan
references from several join branches: the MinHash operators persist
one signature frame per side (shingle set and signature per
document). The persist is load-bearing — without it every join
branch recomputes the signature pipeline — but the returned
DataFrame outlives the call, so the operator cannot unpersist before
returning.

The contract: every such operator attaches its persisted frames to
the result via :func:`track_persisted`; callers release them with
:func:`unpersist_intermediates` once the result is materialized
(collected / written). ``bench.py`` additionally sweeps any persisted
RDDs created during a query, so the suite is leak-free either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def track_persisted(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Attach persisted intermediate ``frames`` to ``result`` so the
    caller can release them after materialization."""
    handles = tuple(getattr(result, "_cayley_persisted", ())) + tuple(frames)
    result._cayley_persisted = handles
    return result


def unpersist_intermediates(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist every intermediate tracked on ``df`` (no-op for
    untracked frames). Returns the number released. Safe to call more
    than once."""
    handles = getattr(df, "_cayley_persisted", ())
    for h in handles:
        h.unpersist(blocking)
    df._cayley_persisted = ()
    return len(handles)
