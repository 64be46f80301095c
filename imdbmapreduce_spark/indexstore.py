"""Persistent index artifacts — build once, reopen in a later session.

Query families here derive expensive per-corpus artifacts, in three
groups (:data:`GROUPS`): the vector family's IVF codebook + inverted
lists, PQ codebook + codes and SemDeDup cell layout; the text-dedup
family's capped shingle rows, hashed shingles, Jaccard pair set, SimHash
and MinHash signatures and trained BPE tokenizer; and the ER family's
match table and standing base entity assignment. Within one session they
live in the bounded shared cache; this module adds the real index
lifecycle on top — write them as parquet under the warehouse dir so a
LATER session answers queries from the prebuilt index instead of
re-running the clustering/encoding/shingling/closure jobs.

Every artifact goes through the same two paths:

- **resolve** — :func:`artifact`: shared cache, then the persisted
  artifact (source stamp and params checked), then build. Operator
  modules call only this; none re-implements the order.
- **persist** — :func:`persist_group`: takes the group's build callable,
  times it from the start (so ``build_sec`` covers every job the build
  runs, not just the writes) and commits the manifest last.

Generalizes the reference's own table persistence: the ETS tables it
builds from the CSV are saved with ``ets:tab2file`` and restored on
restart (/root/reference/Code/csv_to_ets.erl:63-74 — SURVEY.md §2 S5);
here the "table file" is a parquet directory per artifact plus a JSON
manifest per (corpus, group).

Correctness hazards handled:

- **Staleness**: the manifest records a stamp of the group's source
  parquet (size + mtime). Loaders refuse a manifest whose stamp no
  longer matches — a rebuilt corpus can never be served from an old
  index.
- **Parameter drift**: the manifest records the build parameters
  (quantization scale, cell/code counts, shingle k, df cap, ...).
  Loaders pass the CURRENT module constants; any mismatch refuses the
  index — editing a tuning constant can never silently serve artifacts
  built under the old one. The shared-cache key is therefore just
  (group, name, corpus): the params never need repeating there.
- **Partial writes**: the manifest is written LAST, only after every
  artifact committed; a crashed ``persist_group`` leaves no manifest
  and the loader falls back to building.

Scale: these artifacts are exactly what production systems persist
(FAISS's IVFPQ file is the vector group's four structures; a dedup
service's shingle/fingerprint tables are the text group's; an MDM
service's match table is the ER group's). Codebooks are constant-sized;
lists/codes/shingle rows/pairs are o(corpus) slim rows — partitioned
parquet, readable with pruning by any number of executors.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from imdbmapreduce_spark.cache import shared_cache
from imdbmapreduce_spark.catalog import path_stamp

# group -> (source parquet file used for the staleness stamp)
GROUPS = {
    "vector": "embeddings.parquet",
    "text": "documents.parquet",
    # the ER family's MDM artifacts (round 12): the deletion-blocked
    # match table + the standing base entity assignment
    "er": "customer.parquet",
}

# Monotone count of successful artifact loads this process — tooling
# (tools/plan_report.py) snapshots it around a query to attribute
# index-served status even when the scan hides behind a shared-cache
# InMemoryRelation. A counter, not a log: zero growth.
load_count = 0
_MANIFEST = "_INDEX_MANIFEST.json"


def index_root() -> str:
    """Warehouse location for persisted indexes; override with
    ``SPARK_GRAFT_INDEX_DIR`` (tests point it at a tmp dir)."""
    env = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if env:
        return env
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, "spark-warehouse", "vector_index")


def _group_dir(sf_dir: str, group: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(index_root(), base, group)


def _source_stamp(sf_dir: str, group: str) -> dict:
    return path_stamp(os.path.join(sf_dir, GROUPS[group]))


def group_manifest(sf_dir: str, group: str, params: dict | None = None) -> dict | None:
    """The on-disk manifest for (corpus, group) if present, still
    matching the source corpus, and (when ``params`` is given) built
    under the same parameters — else None."""
    try:
        with open(
            os.path.join(_group_dir(sf_dir, group), _MANIFEST), encoding="utf-8"
        ) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return None
    try:
        if m.get("source") != _source_stamp(sf_dir, group):
            return None  # corpus changed since the index was built
    except OSError:
        return None
    if params is not None and m.get("params") != params:
        return None  # tuning constants changed — refuse the stale build
    return m


def load_group_artifact(
    spark: SparkSession,
    sf_dir: str,
    group: str,
    name: str,
    params: dict | None = None,
) -> DataFrame | None:
    """Open one persisted artifact, or None when no valid index exists.

    The read is a plain parquet scan — lazy, column-pruned, and (for the
    per-row artifacts) split across executors like any table.
    """
    m = group_manifest(sf_dir, group, params)
    if m is None or name not in m.get("artifacts", []):
        return None
    global load_count
    load_count += 1
    return spark.read.parquet(os.path.join(_group_dir(sf_dir, group), name))


def artifact(
    spark: SparkSession,
    sf_dir: str,
    group: str,
    name: str,
    params: dict,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Session-cache one index artifact, preferring the PERSISTED copy.

    Resolution order: shared cache → on-disk parquet artifact (source
    stamp and ``params`` checked) → ``build()``. A cold session with a
    persisted index therefore answers without re-running the build jobs —
    the reference's save/restore lifecycle (ets:tab2file,
    /root/reference/Code/csv_to_ets.erl:63-74) applied to every group.
    """
    return shared_cache(
        spark,
        (group, name, sf_dir),
        lambda: load_group_artifact(spark, sf_dir, group, name, params) or build(),
    )


def persist_group(
    spark: SparkSession,
    sf_dir: str,
    group: str,
    build: Callable[[], dict[str, DataFrame]],
    params: dict | None = None,
) -> str:
    """Build a group's artifacts and write them as parquet + manifest;
    returns the group dir. Overwrites any previous index for this
    (corpus, group); the manifest lands last so readers never see a torn
    index.

    ``build`` returns the artifact frames. The recorded ``build_sec``
    starts before it is called: artifact builds run real jobs before any
    write (shared-cache materializations, closure checkpoints), and a
    write-window-only number understates the true build cost (the r12
    verdict measured the ER build ~20-40 s at sf0.1 against a recorded
    0.9 s).
    """
    import shutil
    import time

    if group not in GROUPS:
        raise ValueError(f"unknown artifact group {group!r}")
    # Stamp the source BEFORE materializing anything: the artifacts are
    # about to be computed from the corpus as it exists NOW, so this is
    # the stamp the manifest must carry. Re-stat after the writes and
    # refuse to commit on mismatch — a corpus rebuilt mid-persist would
    # otherwise get the NEW stamp glued onto artifacts of the OLD data,
    # silently defeating the staleness guard.
    src = _source_stamp(sf_dir, group)
    t0 = time.monotonic()
    artifacts = build()
    if not artifacts:
        raise ValueError("no artifacts to persist")
    d = _group_dir(sf_dir, group)
    os.makedirs(d, exist_ok=True)
    # STAGE-THEN-SWAP: when a re-persist's artifacts were themselves
    # LOADED from this very index (the cached DataFrames are lazy parquet
    # scans of <d>/<name>), a direct overwrite would delete the files
    # before the read executes — destroying the index mid-job. Writing to
    # a staging subdir first reads the old files intact; the swap is then
    # pure driver-side directory renames with the manifest removed for
    # its duration, so readers never see a torn index.
    stage = os.path.join(d, ".stage")
    shutil.rmtree(stage, ignore_errors=True)
    for name in sorted(artifacts):
        artifacts[name].write.mode("overwrite").parquet(os.path.join(stage, name))
    mpath = os.path.join(d, _MANIFEST)
    if os.path.exists(mpath):
        os.remove(mpath)  # invalidate readers before touching data
    for name in sorted(artifacts):
        final = os.path.join(d, name)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(os.path.join(stage, name), final)
    shutil.rmtree(stage, ignore_errors=True)
    build_sec = time.monotonic() - t0
    if _source_stamp(sf_dir, group) != src:
        # Corpus changed while we were building — the artifacts on disk
        # derive from the old corpus. Leave no manifest (readers fall
        # back to building) rather than commit a lie.
        raise RuntimeError(
            f"source {GROUPS[group]} changed during persist_group({group!r}); "
            "index not committed"
        )
    with open(mpath, "w", encoding="utf-8") as f:
        json.dump(
            {
                "source": src,
                "artifacts": sorted(artifacts),
                "params": params or {},
                "build_sec": round(build_sec, 3),
            },
            f,
            indent=1,
        )
    return d


def drop_group(sf_dir: str, group: str) -> None:
    """Remove a persisted group (idempotent)."""
    import shutil

    shutil.rmtree(_group_dir(sf_dir, group), ignore_errors=True)

