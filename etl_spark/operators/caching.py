"""Session-scoped driver state — the ONE registry for anything a plan
builder keeps across calls.

A single dict, ``name -> {(applicationId, key) -> (value, release)}``,
behind one get-or-build path, holds three kinds of value:

* **persisted frames** (``session_cached``): ``build()`` is persisted
  and counted BEFORE it reaches multi-consumer plans — Spark has no
  cross-plan ReusedExchange, so an unmaterialized "cached" frame
  recomputes its whole upstream once per consumer. Reused only while
  ``storageLevel.useMemory`` holds: an external
  ``spark.catalog.clearCache()`` (bench reps do this) silently
  unpersists, and a stale reuse would run every consumer uncached
  while looking cached.
* **checkpointed frames** (``session_checkpointed``): a DISK_ONLY
  ``localCheckpoint`` — lineage truncated, survives ``clearCache()``.
* **memos** (``session_memo``): plain-Python values (trained weights,
  centroids, learned merges) and table directories. At most
  ``MEMO_BOUND`` entries per name; the oldest is dropped first.

Keys carry ``applicationId``, stable for the session's lifetime;
keying on ``id(spark)`` would let CPython hand a recycled id to a NEW
session and return a value bound to a stopped one.

One eviction rule: a value's ``release`` (unpersist, free the
checkpoint blocks, remove the table directory) runs exactly when
``evict`` removes its entry. An entry dropped by the memo bound is NOT
released — a lazy frame handed out earlier may still read from it.

``tests/test_registry_hygiene.py`` fences the complement: a raw
``.persist()`` outside this module must pair with an ``unpersist()``
in the same function, and no plans module may hold a module-level
memo dict of its own.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: Entries kept per memo name (one contract drive touches ~4 sf_dirs).
MEMO_BOUND = 8

# name -> {(applicationId, key): (value, release or None)}
_REGISTRY: dict[str, dict[tuple, tuple[Any, Callable | None]]] = {}
# every name session_memo has registered: evict_session_memos' scope
_MEMOS: set[str] = set()


def _unpersist(df: DataFrame) -> None:
    df.unpersist()


def _held(value: Any, release: Callable[[Any], None] | None) -> bool:
    """False only for a persisted frame that something outside this
    module (``clearCache()``) already unpersisted."""
    return release is not _unpersist or value.storageLevel.useMemory


def _get_or_build(
    name: str,
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], T],
    release: Callable[[T], None] | None,
    bound: int | None = None,
) -> T:
    entries = _REGISTRY.setdefault(name, {})
    k = (spark.sparkContext.applicationId, key)
    hit = entries.get(k)
    if hit is not None and _held(*hit):
        return hit[0]
    entries.pop(k, None)  # a stale (externally unpersisted) frame
    value = build()
    while bound is not None and len(entries) >= bound:
        entries.pop(next(iter(entries)))  # dropped, NOT released
    entries[k] = (value, release)
    return value


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

    def persisted() -> DataFrame:
        df = build().persist()
        df.count()  # materialize before multi-consumer reuse
        return df

    return _get_or_build(name, spark, sf_dir, persisted, _unpersist)


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

    DISK_ONLY so the pinned blocks cost no executor storage memory;
    ``evict`` frees them eagerly via ``_release_checkpoint``."""
    from pyspark import StorageLevel

    return _get_or_build(
        name, spark, sf_dir,
        lambda: build().localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        ),
        _release_checkpoint,
    )


def session_memo(
    name: str,
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], T],
    release: Callable[[T], None] | None = None,
) -> T:
    """Return the memoized ``build()`` for (``name``, session, ``key``)
    — a plain-Python value (trained weights, centroids, merges) or a
    table directory. ``release`` runs when ``evict`` removes the entry
    (e.g. removing the directory), never when the ``MEMO_BOUND`` FIFO
    drops it. Memos survive ``clearCache()``; bench harnesses clear
    them with ``evict_session_memos()`` so every rep pays its own
    training."""
    _MEMOS.add(name)
    return _get_or_build(name, spark, key, build, release, MEMO_BOUND)


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
    """Remove and release every entry — for ``name`` only, or every
    registered name when ``name`` is None. Test fixtures and fuzz
    harnesses that swap the underlying corpus call this so a stale
    index bound to the previous fixture can't be reused.

    A non-None ``name`` that was never registered raises ``KeyError``:
    a caller passing a name always intends a registered entry, and a
    silent no-op on a typo would leave the exact stale-index hazard
    this module exists to prevent while appearing to have evicted it.
    """
    if name is not None and name not in _REGISTRY:
        raise KeyError(
            f"evict({name!r}): no such cache; registered = "
            f"{sorted(_REGISTRY)}"
        )
    for entries in _REGISTRY.values() if name is None else [_REGISTRY[name]]:
        while entries:
            value, release = entries.popitem()[1]
            if release is not None:
                release(value)


def evict_session_memos() -> None:
    """Evict every name registered through ``session_memo`` — the
    driver-side state that survives ``spark.catalog.clearCache()`` —
    and leave cached and checkpointed frames in place. Bench harnesses
    call this wherever they call ``clearCache()``, so min-of-N reps do
    not time rep 1 with training and reps 2+ without it; cross-query
    sharing within one rep is untouched because the memo repopulates
    on first use inside the rep."""
    for name in _MEMOS:
        evict(name)


def live_caches() -> dict[str, int]:
    """Registered name -> number of entries still held (test and
    bench hook). A persisted frame counts only while it still holds
    storage memory; checkpoints and memos count while their entry
    exists, which is exactly while their release has not run."""
    return {
        name: sum(1 for entry in entries.values() if _held(*entry))
        for name, entries in _REGISTRY.items()
    }
