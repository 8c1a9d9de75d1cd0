"""Session-scoped memos — the ONE sanctioned home for state a plan
builder keeps across calls within a Spark session.

Two kinds, both keyed on ``(applicationId, key)``:

* ``session_cached`` / ``session_checkpointed`` hold a materialized
  DataFrame per ``(session, sf_dir)``; ``evict`` unpersists them.
* ``session_memo`` holds a plain Python value (trained weights,
  centroids, learned merges, a built table's path, a row count) per
  ``(session, key)``, at most 8 entries per memo name, oldest
  dropped first; ``evict_session_memos`` drops them all.

``applicationId`` is stable for the session's lifetime; keying on
``id(spark)`` would let CPython hand a recycled id to a NEW session
and return state bound to a stopped one. No other module reads it:
``tests/test_registry_hygiene.py`` fails on any hand-rolled memo that
builds its own session key.

DataFrame-cache rules:

* A bare ``.persist()`` inside a registered builder leaks: every call
  stacks another copy in storage memory, and nothing ever unpersists
  it (a builder returns a lazy plan, so it cannot unpersist before the
  caller's action). ``tests/test_registry_hygiene.py`` enforces that
  every raw ``.persist()`` outside this module pairs with an
  ``unpersist()`` in the same function.
* Reuse only while ``storageLevel.useMemory`` still holds — an
  external ``spark.catalog.clearCache()`` (bench reps do this between
  timings) silently unpersists, and a stale reuse would run every
  consumer uncached while looking cached.
* Persist + ``count()`` BEFORE handing the frame to multi-consumer
  plans: Spark has no cross-plan ReusedExchange, so an unmaterialized
  "cached" frame recomputes its whole upstream once per consumer.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# cache name -> {(applicationId, sf_dir): persisted DataFrame}
_CACHES: dict[str, dict[tuple[str, str], DataFrame]] = {}

# cache name -> {(applicationId, sf_dir): localCheckpointed DataFrame}
_CHECKPOINTS: dict[str, dict[tuple[str, str], DataFrame]] = {}

# memo name -> {(applicationId, key): plain Python value}
_MEMOS: dict[str, dict[tuple[str, Hashable], Any]] = {}

#: Entries kept per memo name; the oldest is dropped first. One
#: contract drive touches a handful of data directories per session.
_MEMO_CAP = 8


def session_cached(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the persisted frame for (``name``, session, ``sf_dir``),
    building + materializing it via ``build()`` on first use or after
    an external unpersist.

    Caller contract: the key is the PATH, not the data — rewriting
    the parquet at the same ``sf_dir`` within one session serves the
    stale pre-rewrite frame until ``evict(name)`` (or ``evict()``) is
    called. Fixtures and harnesses that rewrite in place (the fuzz
    corpus-swap pattern) must evict between corpora; keying on a data
    fingerprint was considered and rejected — listing files per call
    would put a driver-side FS scan on every cached hit."""
    cache = _CACHES.setdefault(name, {})
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = cache.get(key)
    if cached is not None and cached.storageLevel.useMemory:
        return cached
    cache.pop(key, None)  # evict stale/unpersisted entries
    df = build().persist()
    df.count()  # materialize before multi-consumer reuse
    cache[key] = df
    return df


def session_checkpointed(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Like ``session_cached`` but materializes via a DISK_ONLY
    ``localCheckpoint`` instead of a storage-memory persist. Two
    differences matter:

    * **Lineage is TRUNCATED** — every consumer's executed plan shows
      a leaf RDD scan where the build plan used to be. Use this for an
      expensive derived ARTIFACT consumed by several registered
      queries (the logreg near-dup label frame): with plain caching,
      each consumer's plan still carries the full build lineage
      textually and would silently replay it end-to-end if the cache
      were dropped; the checkpoint makes the artifact boundary real —
      the in-session analog of a table the upstream pipeline wrote to
      disk, which IS the 100 TB shape.
    * **It survives ``spark.catalog.clearCache()``** (checkpoint
      blocks are not catalog cache entries), so bench reps measure
      the consumer query, not an artifact rebuild — the same contract
      a written table would give.

    DISK_ONLY so the pinned blocks cost no executor storage memory.
    ``evict`` releases the blocks EAGERLY (it unpersists the
    checkpointed RDD itself, then drops the reference) — relying on
    the ContextCleaner alone would leave the disk blocks pinned until
    a driver GC happens to collect the frame, which in a long session
    can be arbitrarily late."""
    from pyspark import StorageLevel

    cache = _CHECKPOINTS.setdefault(name, {})
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = build().localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    cache[key] = df
    return df


def session_memo(
    name: str,
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], Any],
) -> Any:
    """Return the value memoized for (``name``, session, ``key``),
    calling ``build()`` only on a miss. The value is stored as
    returned: callers that hand out mutable values copy them. Each
    ``name`` keeps at most 8 entries, dropping the oldest first;
    ``evict_session_memos`` drops them all."""
    memo = _MEMOS.setdefault(name, {})
    k = (spark.sparkContext.applicationId, key)
    if k in memo:
        return memo[k]
    value = build()
    while len(memo) >= _MEMO_CAP:
        memo.pop(next(iter(memo)))
    memo[k] = value
    return value


def _release_checkpoint(df: DataFrame) -> None:
    """Eagerly free a localCheckpoint's storage blocks. A checkpointed
    frame's analyzed plan IS the ``LogicalRDD`` holding the persisted
    internal-row RDD, so unpersisting that exact RDD releases the
    blocks now instead of whenever the ContextCleaner notices the
    frame became unreachable (lazy, GC-driven — on a DISK_ONLY
    checkpoint that leaves dead disk usage pinned for the rest of the
    session). Private-API access is fenced: on any JVM-shape change we
    fall back to the old drop-the-reference behavior rather than fail
    eviction."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # ContextCleaner fallback: blocks freed after driver GC


def evict(name: str | None = None) -> None:
    """Unpersist and drop cached entries — for ``name`` only, or every
    cache when ``name`` is None. Test fixtures and fuzz harnesses that
    swap the underlying corpus call this so a stale index bound to the
    previous fixture can't be reused.

    A non-None ``name`` that was never registered raises ``KeyError``:
    a caller passing a name always intends a registered cache, and a
    silent no-op on a typo would leave the exact stale-index hazard
    this module exists to prevent while appearing to have evicted it.
    """
    if name is not None and name not in _CACHES and name not in _CHECKPOINTS:
        raise KeyError(
            f"evict({name!r}): no such cache; registered = "
            f"{sorted(_CACHES) + sorted(_CHECKPOINTS)}"
        )
    caches = (
        [_CACHES[name]] if name in _CACHES else []
    ) if name is not None else list(_CACHES.values())
    for cache in caches:
        for df in cache.values():
            df.unpersist()
        cache.clear()
    ckpts = (
        [_CHECKPOINTS[name]] if name is not None and name in _CHECKPOINTS
        else [] if name is not None else list(_CHECKPOINTS.values())
    )
    for cache in ckpts:
        for df in cache.values():
            _release_checkpoint(df)
        cache.clear()


def evict_session_memos() -> None:
    """Drop every ``session_memo`` entry, for every memo name.

    These values survive ``spark.catalog.clearCache()``; bench
    harnesses call this wherever they call ``clearCache()`` so each
    timed rep pays the training, learning and table builds a cold
    query pays. Cross-query sharing within one rep is untouched: a
    memo refills on first use.

    The ``adaptive_partitions`` row counts are memos too, so the next
    query that sizes its partitions from a table (the ``sim_*`` and
    ``ml_*`` embedding kernels) runs one extra ``count()`` on that
    table after an eviction.

    Built versioned tables stay on disk: a lazy frame returned before
    the eviction may still read their files."""
    _MEMOS.clear()


def live_caches() -> dict[str, int]:
    """Cache name -> number of still-held entries (test hook).
    Persisted caches count entries that still hold storage memory;
    checkpoint caches count held references — their DISK_ONLY blocks
    are live exactly while the entry exists, because ``evict`` now
    unpersists the checkpointed RDD eagerly on removal."""
    out = {
        name: sum(1 for df in entries.values() if df.storageLevel.useMemory)
        for name, entries in _CACHES.items()
    }
    for name, entries in _CHECKPOINTS.items():
        out[name] = out.get(name, 0) + len(entries)
    return out
