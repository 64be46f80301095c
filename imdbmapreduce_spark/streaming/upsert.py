"""Streaming keyed upsert sink — ``foreachBatch`` maintaining a
last-write-wins table with versioned, atomically-swapped parquet state.

The batch MERGE shape exists as ``customer_upsert_merge``
(plans/relational.py); this is its streaming twin: every micro-batch
merges into persistent keyed state, the pattern behind CDC apply,
feature-store freshening, and the reference's own last-write-wins ETS
replace (/root/reference/Code/csv_to_ets.erl:27-53) — made durable and
restart-safe.

Why versions + a pointer instead of overwriting in place: a parquet
directory being overwritten while a reader lists it serves partial
state. Writing version N+1 beside N and then flipping a tiny pointer
file is the commit protocol every table format (Delta/Iceberg/Hudi)
builds on; readers resolve the pointer first and only ever see a fully
committed version. Old versions stay until a retention sweep — which
also gives time travel for free.

Exactly-once: state updates are idempotent per micro-batch — Spark may
re-run a batch after a crash, and re-merging the same rows into
last-write-wins state is a no-op — so checkpoint + idempotent merge =
exactly-once table maintenance without sink transactions.

Scale: each merge is one shuffle on the key (state ⋈ batch, both keyed);
state reads are parquet scans with full pushdown. At 100 TB the state
table is partitioned/bucketed by key so the merge co-locates, and the
version sweep is a metadata delete.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdbmapreduce_spark.functions import top_k

__all__ = ["KeyedStateSink", "Scd2Sink", "read_state"]

_POINTER = "_CURRENT"
_LOG = logging.getLogger(__name__)


def _current_version(state_path: str) -> int | None:
    try:
        with open(os.path.join(state_path, _POINTER)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def read_state(
    spark: SparkSession, state_path: str, version: int | None = None
) -> DataFrame | None:
    """Resolve the pointer (or an explicit ``version``) and read that
    snapshot — never a partial write. Passing an old version is time
    travel: every committed version remains readable until a retention
    sweep removes it, exactly the contract table formats expose.
    """
    ver = _current_version(state_path) if version is None else version
    if ver is None:
        return None
    path = os.path.join(state_path, f"v{ver:09d}")
    if version is not None and not os.path.isdir(path):
        raise ValueError(f"version {version} not present at {state_path!r}")
    return spark.read.parquet(path)


def _commit_version(state_path: str, df: DataFrame) -> None:
    """Write the next state version beside the current one, then flip the
    pointer atomically (write-temp + rename on one filesystem) — the one
    commit protocol both sinks share; readers (read_state) only ever see
    a fully committed version."""
    prev = _current_version(state_path)
    nxt = 0 if prev is None else prev + 1
    df.write.mode("overwrite").parquet(os.path.join(state_path, f"v{nxt:09d}"))
    fd, tmp = tempfile.mkstemp(dir=state_path, prefix=".ptr_")
    with os.fdopen(fd, "w") as f:
        f.write(str(nxt))
    os.replace(tmp, os.path.join(state_path, _POINTER))


class KeyedStateSink:
    """``foreachBatch`` target: last-write-wins keyed state at ``state_path``.

    ``keys`` identify a row; among rows sharing a key the one with the
    greatest ``(order_cols)`` tuple wins — make the tuple total (include
    a unique id) so the winner is deterministic under any partitioning.
    """

    def __init__(self, state_path: str, keys: list[str], order_cols: list[str]):
        self.state_path = state_path
        self.keys = keys
        self.order_cols = order_cols

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = read_state(spark, self.state_path)
        merged = batch_df if state is None else state.unionByName(batch_df)
        order = [F.desc(c) for c in self.order_cols]
        winner = top_k(merged, 1, *order, by=self.keys, rank="_rn").drop("_rn")
        _commit_version(self.state_path, winner)


class Scd2Sink:
    """``foreachBatch`` target: SCD **Type-2 history** maintenance — the
    CDC-apply pattern that remembers. Where :class:`KeyedStateSink`
    keeps one winning row per key, this keeps every key's full validity
    history (state, valid_from_us, valid_to_us, is_current, version) —
    the streaming twin of the batch ``user_state_history_scd2`` plan,
    with the same half-open, gap-free interval semantics.

    Input contract: an in-order-per-key CDC feed of
    ``(key, state, ts_us, seq)`` with ``(ts_us, seq)`` strictly
    increasing per key — the standard assumption of every SCD-2 applier
    (Debezium→MERGE, dbt snapshots). Each key's open row carries a
    HIGH-WATER MARK — the greatest ``(ts_us, seq)`` ever applied — and
    batch rows at or below it are dropped as stale replays, so
    re-delivering a micro-batch after a crash is a no-op even when the
    replayed batch contains several same-timestamp state flips:
    checkpoint + idempotent apply = exactly-once history, no sink
    transactions.

    Per micro-batch: untouched keys pass through; for keys present in
    the batch, closed intervals are preserved as-is and only the open
    row is re-derived — it seeds a run-length recompute together with
    the new events (the exact lag/lead/row_number math of the batch
    plan), version numbering continuing from the seed. State commits
    through the same versioned-parquet + atomic-pointer protocol as the
    upsert sink (readers never see partial state; old versions = time
    travel).

    Scale: each apply shuffles once on the key (state ⋈ batch); the
    recompute touches only batch-affected keys' open rows plus the new
    events, never the closed history mass. At 100 TB the history table
    is bucketed by key and the per-batch work is |batch|-proportional.
    """

    def __init__(self, state_path: str, key: str = "user_id"):
        self.state_path = state_path
        self.key = key
        # Observability for the stale-replay guard (ADVICE r4): rows it
        # drops are EITHER benign crash redeliveries (expected: whole
        # batches, after a restart) or an upstream violating the
        # in-order-per-key contract (history is then quietly missing
        # those transitions). Per-batch counts make the second case
        # visible instead of silently absorbed.
        # Bounded: only the LAST N offending batches are kept (a
        # chronically out-of-order feed on a long-running stream would
        # otherwise grow driver memory without limit); the running
        # total_stale_dropped is the lossless aggregate.
        self.stale_dropped: dict[int, int] = {}  # batch_id -> rows dropped
        self.stale_dropped_keep = 100  # most recent offending batches retained
        self.total_stale_dropped = 0

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        k = self.key
        hist = read_state(spark, self.state_path)
        batch = batch_df.select(k, "state", "ts_us", "seq")
        if hist is None:
            hist = spark.createDataFrame(
                [],
                f"{k} long, state string, valid_from_us long, "
                "valid_to_us long, is_current boolean, version long, "
                "hw_ts_us long, hw_seq long",
            )
        affected = batch.select(k).distinct()
        keep = hist.join(affected, k, "left_anti")
        touched = hist.join(affected, k)
        closed = touched.filter(~F.col("is_current")).drop("hw_ts_us", "hw_seq")
        open_rows = touched.filter(F.col("is_current"))
        # the open row re-enters the rebuild as a pseudo-event at its
        # interval start, sequenced at the high-water seq so any genuine
        # new event at the same timestamp (higher seq) sorts after it
        seed = open_rows.select(
            k,
            "state",
            F.col("valid_from_us").alias("ts_us"),
            F.col("hw_seq").alias("seq"),
            (F.col("version") - 1).alias("voff"),
        )
        # stale-replay guard: the open row's high-water mark is the
        # greatest (ts, seq) ever applied for the key — anything at or
        # below it is a redelivery, including same-timestamp state flips
        # that a (ts, state)-only guard would re-apply
        # persisted for this batch: the stale-count action below and the
        # commit's write both consume this join — caching evaluates it
        # once instead of twice per micro-batch (review r5); released in
        # the finally at the end of the apply
        guarded = batch.join(
            open_rows.select(
                k,
                F.col("hw_ts_us").alias("g_ts"),
                F.col("hw_seq").alias("g_seq"),
            ),
            k,
            "left",
        ).persist()
        try:
            self._apply_guarded(batch_id, guarded, k, keep, closed, open_rows, seed)
        finally:
            # released HERE (not deeper in) so any failure between the
            # stale-count action and the commit — e.g. a retried
            # micro-batch — can never leak cached storage (review r5)
            guarded.unpersist()

    def _apply_guarded(self, batch_id, guarded, k, keep, closed, open_rows, seed) -> None:
        is_fresh = (
            F.col("g_ts").isNull()
            | (F.col("ts_us") > F.col("g_ts"))
            | ((F.col("ts_us") == F.col("g_ts")) & (F.col("seq") > F.col("g_seq")))
        )
        # count what the guard drops (one |batch|-proportional job) so a
        # contract-violating out-of-order feed is observable, not
        # silently absorbed as "replay" (ADVICE r4)
        n_stale = (
            guarded.agg(F.sum((~is_fresh).cast("long")).alias("n")).first()["n"] or 0
        )
        if n_stale:
            self.stale_dropped[batch_id] = int(n_stale)
            self.total_stale_dropped += int(n_stale)
            while len(self.stale_dropped) > self.stale_dropped_keep:
                del self.stale_dropped[min(self.stale_dropped)]
            _LOG.warning(
                "Scd2Sink %s batch %d: dropped %d stale row(s) at/below the "
                "high-water mark (benign iff this is a crash redelivery)",
                self.state_path,
                batch_id,
                n_stale,
            )
        fresh = (
            guarded.filter(is_fresh)
            .select(k, "state", "ts_us", "seq")
            .withColumn("voff", F.lit(None).cast("long"))
        )
        # next high-water mark: max (ts, seq) over the prior mark and the
        # surviving batch rows
        hw = (
            fresh.select(k, "ts_us", "seq")
            .unionByName(
                open_rows.select(
                    k,
                    F.col("hw_ts_us").alias("ts_us"),
                    F.col("hw_seq").alias("seq"),
                )
            )
            .groupBy(k)
            .agg(F.max(F.struct("ts_us", "seq")).alias("hw"))
            .select(
                k,
                F.col("hw.ts_us").alias("hw_ts_us"),
                F.col("hw.seq").alias("hw_seq"),
            )
        )
        ev = seed.unionByName(fresh)
        w = Window.partitionBy(k).orderBy("ts_us", "seq")
        changes = (
            ev.withColumn("prev", F.lag("state").over(w))
            .withColumn("off", F.max("voff").over(w))
            .filter(F.col("prev").isNull() | (F.col("state") != F.col("prev")))
        )
        w2 = Window.partitionBy(k).orderBy("ts_us", "seq")
        rebuilt = (
            changes.withColumn("valid_to_us", F.lead("ts_us").over(w2))
            .withColumn("is_current", F.col("valid_to_us").isNull())
            .withColumn(
                "version",
                (F.row_number().over(w2) + F.coalesce(F.col("off"), F.lit(0))).cast("long"),
            )
            .select(
                k,
                "state",
                F.col("ts_us").alias("valid_from_us"),
                "valid_to_us",
                "is_current",
                "version",
            )
        )
        with_hw = (
            rebuilt.join(hw, k, "left")
            .withColumn(
                "hw_ts_us", F.when(F.col("is_current"), F.col("hw_ts_us"))
            )
            .withColumn("hw_seq", F.when(F.col("is_current"), F.col("hw_seq")))
        )
        out = keep.unionByName(
            closed.withColumn("hw_ts_us", F.lit(None).cast("long")).withColumn(
                "hw_seq", F.lit(None).cast("long")
            )
        ).unionByName(with_hw)
        _commit_version(self.state_path, out)
