"""The one plan-time memo: every result a query build may reuse.

Warehouse engines reuse hot materialized intermediates (shingle sets,
normalized vectors, banded signatures) across statements instead of
recomputing them per query — the batch analogue of a buffer-pool-
resident materialized view. `.cache()` alone can't do this: every
invocation of a query builder constructs a NEW DataFrame lineage, so
Spark registers (and populates) a fresh cache entry per call even when
the logical fragment is identical. The same goes for the cheaper
plan-time results: assembled table leaves, rank bucket columns and
skew-probe hot-key lists.

Every entry is keyed by (Spark application, input signature of
``sf_dir``, name). The signature is the (relative path, size,
``mtime_ns``) of every file under ``sf_dir`` — a metadata-only walk,
no Spark action — so republishing an input under a live session
misses the memo instead of serving the old snapshot. Eviction:

- the store empties when the application id changes;
- a miss under a new signature of ``sf_dir`` drops every entry built
  from an older one;
- ``clear_memos()`` drops everything (a cold run).

A dropped DataFrame value is unpersisted. That matters for more than
memory: Spark's cache manager matches plans by their file index root
paths, so a stale pinned fragment would otherwise be substituted into
the plan rebuilt over the republished files.

On a cluster this is exactly the pattern of keeping a hot dimension or
a dedup signature table pinned in executor storage memory across the
job DAG — storage memory is evictable under Spark's unified memory
manager, so pinned fragments degrade gracefully under pressure rather
than OOMing the executors.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Dict, Tuple, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: (application id, sf_dir, input signature, name) -> value
_MEMO_CACHE: Dict[Tuple[str, str, tuple, str], Any] = {}


def input_signature(sf_dir: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``sf_dir``,
    symlinks followed, sorted; empty when the directory does not exist."""
    sig = []
    for root, _dirs, files in os.walk(sf_dir, followlinks=True):
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except OSError:
                continue
            sig.append((os.path.relpath(full, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def _drop(value: Any) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            # a stopped application's cache is already gone with it
            pass


def memo(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]
) -> T:
    """Return the value memoized for ``name`` over the current contents
    of ``sf_dir`` in this Spark application, calling ``build()`` on a
    miss."""
    app = spark.sparkContext.applicationId
    sig = input_signature(sf_dir)
    key = (app, sf_dir, sig, name)
    if key in _MEMO_CACHE:
        return _MEMO_CACHE[key]
    stale = [
        k for k in _MEMO_CACHE
        if k[0] != app or (k[1] == sf_dir and k[2] != sig)
    ]
    for k in stale:
        _drop(_MEMO_CACHE.pop(k))
    value = _MEMO_CACHE[key] = build()
    return value


def fragment(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the pinned DataFrame for (sf_dir, name), building and
    caching it on first use over the current inputs."""
    return memo(spark, sf_dir, name, lambda: build().cache())


def clear_memos() -> None:
    """Forget every memo entry, unpersisting pinned fragments."""
    while _MEMO_CACHE:
        _drop(_MEMO_CACHE.popitem()[1])
