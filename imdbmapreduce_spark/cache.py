"""Session-scoped shared cache for corpus-derived intermediates.

Several query families derive the same expensive intermediate from the
same table — the capped shingle set (exact Jaccard + clustering), the
hashed shingle rows (MinHash), the quantized embedding components
(brute-force kNN + both ANN plans). Re-materializing it per query wastes
a full scan+shuffle each time, and the round-3 audit flagged the other
failure mode too: per-query ``.cache()`` calls with no release slowly
accumulate storage memory across a long-lived session.

This registry fixes both at once:

- ``shared_cache`` memoizes ONE cached DataFrame per (application, key),
  so every query in a sweep reuses the same materialization — the
  "shingle once, consume many" shape a real pipeline has. Storage is
  bounded by the handful of distinct artifacts, not by query count, and
  DataFrame caches are MEMORY_AND_DISK — they spill, never OOM.
- ``release_shared_caches`` unpersists everything — sweep owners
  (bench.py's sweep, a long-lived service between corpora) call it when
  a corpus goes cold. Keys carry the applicationId so a restarted
  session can never resurrect another session's plans.

At 100 TB the same contract holds: the cached artifact is o(corpus)
per executor (its partitions spill to local disk), and releasing between
corpora is exactly the eviction policy a production index build uses.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["shared_cache", "release_shared_caches", "register_release_hook"]

_CACHE: dict[tuple, DataFrame] = {}

# Concurrent consumers (bench.py's scheduler lanes run query builds from
# plain Python threads) must not race the check-then-insert below: two
# lanes double-.cache()-ing the same key leaks the losing entry's
# storage (release_shared_caches never sees it) and mis-credits
# index_hit_count. Locking is PER KEY: the registry lock (_LOCK) guards
# only the dict operations, while each key's build runs under its own
# reentrant lock — a lane building one artifact never blocks other
# lanes' hits or builds of unrelated keys (builds can run real jobs,
# e.g. connected-components checkpoints). Reentrant per key because a
# build() may itself call shared_cache for a composed artifact; nested
# DIFFERENT keys are fine — artifact dependencies form a DAG consumed
# in one consistent order, so opposite-order lock acquisition (the
# deadlock shape) cannot arise.
_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple, threading.RLock] = {}

# Bumped by release_shared_caches under _LOCK. A builder captures the
# generation before building and re-checks it before inserting: if a
# release ran mid-build, inserting would create an entry that release
# never saw (and so never unpersists — a storage leak), so the builder
# unpersists its frame and returns it uncached instead.
_GENERATION = 0

# Extra teardown callbacks run by release_shared_caches — lets modules
# with their own session-scoped memos (e.g. the BPE trained-tokenizer
# memo in operators.lm) honor the same releasable-cache contract
# without cache.py importing them.
_RELEASE_HOOKS: list = []


def register_release_hook(fn) -> None:
    _RELEASE_HOOKS.append(fn)

# Index-served observability (tools/plan_report.py): keys whose build
# read a persisted index artifact, and a monotone counter of accesses
# to such keys. Counters/sets only — no per-access log to grow.
_INDEX_BACKED: set[tuple] = set()
index_hit_count = 0


def shared_cache(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the cached DataFrame for ``key``, building it on first use.

    ``key`` must determine the result fully (include the sf_dir and any
    parameters of the derivation).
    """
    from imdbmapreduce_spark import indexstore

    global index_hit_count
    full_key = (spark.sparkContext.applicationId, *key)
    with _LOCK:
        df = _CACHE.get(full_key)
        gen = _GENERATION
        if df is None:
            klock = _KEY_LOCKS.setdefault(full_key, threading.RLock())
    if df is None:
        with klock:
            with _LOCK:
                df = _CACHE.get(full_key)  # lost the build race -> hit
            if df is None:
                loads_before = indexstore.load_count
                df = build().cache()
                stale = False
                with _LOCK:
                    if _GENERATION != gen:
                        # release_shared_caches ran mid-build: that
                        # release could not see this entry, so caching
                        # it now would leak its storage forever.
                        stale = True
                    else:
                        if indexstore.load_count > loads_before:
                            _INDEX_BACKED.add(full_key)
                        _CACHE[full_key] = df
                if stale:
                    try:
                        df.unpersist()
                    except Exception:
                        pass  # session already stopped
                    return df  # correct, just uncached for this caller
    with _LOCK:
        if full_key in _INDEX_BACKED:
            index_hit_count += 1
    return df


def release_shared_caches() -> None:
    """Unpersist every shared artifact and forget it (idempotent)."""
    global _GENERATION
    with _LOCK:
        _GENERATION += 1  # invalidate builds in flight (see shared_cache)
        for df in _CACHE.values():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
        _CACHE.clear()
        _KEY_LOCKS.clear()
        _INDEX_BACKED.clear()  # rebuilt caches re-detect their provenance
        hooks = list(_RELEASE_HOOKS)
    for hook in hooks:
        try:
            hook()
        except Exception:
            pass  # teardown best-effort, same stance as unpersist above


def stable_checkpoint(df):
    """Truncate lineage: DURABLE ``checkpoint`` when the SparkContext has
    a checkpoint directory configured (the production setting — survives
    executor loss, which matters for the iterative fixpoints that call
    this), ``localCheckpoint`` otherwise (executor-local blocks; the
    right default for local[] runs and CI, where "executor loss" is
    process death anyway).

    One switch for every iterative operator (connected components,
    PageRank/PPR, funnel peeling, quartile histograms, MMR), so a real
    cluster turns on durability with
    ``spark.sparkContext.setCheckpointDir(path)`` once instead of
    editing call sites.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def stable_checkpoint_lazy(df):
    """:func:`stable_checkpoint`, but lazy (``eager=False``) in the
    local default — for the per-round states of iterative loops, where
    it skips the eager form's extra job that writes the checkpoint
    blocks.

    Lazy does NOT mean the call runs no job. ``localCheckpoint`` builds
    its RDD from the frame's physical plan, and under AQE (which
    ``session.py`` enables) that runs every shuffle and broadcast stage
    of the frame at once; only the final stage waits for the consuming
    action. Measured: one join over an aggregate fires 0 jobs as a
    plain frame, 2 jobs with this call, and 1 with AQE off. So a loop
    of lazy checkpoints runs its rounds while its plan is being built:
    warm ``pagerank_cosuppliers`` at sf0.001 runs 21 of its 22 jobs
    before the result is collected. In DURABLE mode the checkpoint
    stays EAGER: a lazy reliable checkpoint on an unpersisted frame
    recomputes the round's plan twice (once for the consuming action,
    once for the checkpoint write — the documented RDD.checkpoint
    caveat), so eager-compute-once-then-read-files is the cheaper and
    simpler durable form."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)
