"""Streaming twins must equal their batch plans exactly (the oracle gate
re-checks vs DuckDB; here we check stream-vs-batch inside Spark, which
also proves micro-batch boundaries don't leak into results)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdbmapreduce_spark import registry


def _as_sorted_tuples(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_streaming_hourly_equals_batch(spark, sf_dir):
    stream = registry.get("streaming_hourly_counts").fn(spark, sf_dir)
    batch = (
        registry.get("events_hourly_stats")
        .fn(spark, sf_dir)
        .select(
            "bucket_start",
            "event_type",
            "n_events",
            F.round(F.col("sum_value") * 100).cast("long").alias("sum_cents"),
        )
    )
    cols = ["bucket_start", "event_type", "n_events", "sum_cents"]
    assert _as_sorted_tuples(stream, cols) == _as_sorted_tuples(batch, cols)


def test_streaming_sessions_equal_batch(spark, sf_dir):
    stream = registry.get("streaming_sessionization").fn(spark, sf_dir)
    batch = (
        registry.get("events_sessionization")
        .fn(spark, sf_dir)
        .select(
            "user_id",
            F.col("session_start_us"),
            F.col("session_end_us"),
            "n_events",
        )
    )
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    assert _as_sorted_tuples(stream, cols) == _as_sorted_tuples(batch, cols)


def test_streaming_dedup_matches_batch_groups(spark, sf_dir):
    """Streaming dropDuplicates must keep exactly one row per content key —
    the same key set, same group count, as the batch dedup_exact query."""
    stream_keys = [
        r.content_key
        for r in registry.get("streaming_dedup_exact").fn(spark, sf_dir).collect()
    ]
    batch_keys = {
        r.content_key for r in registry.get("dedup_exact").fn(spark, sf_dir).collect()
    }
    assert len(stream_keys) == len(set(stream_keys))  # one row per key
    assert set(stream_keys) == batch_keys


def test_session_gap_boundary_merges_in_both_engines(spark, tmp_path):
    """An EXACTLY-30-minute gap must merge into one session on both sides:
    the batch rule is strict (`gap > 30 min` splits) and the stream gap is
    30 min + 1 µs so the half-open session_window coincides with it —
    previously this boundary silently depended on the fixtures never
    containing an exact-gap pair."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: exactly 30:00.000000 apart -> ONE session
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + timedelta(minutes=30), 1, "click", 1.0, "{}"),
        # user 2: 30:00.000001 apart -> TWO sessions
        (3, t0, 2, "click", 1.0, "{}"),
        (4, t0 + timedelta(minutes=30, microseconds=1), 2, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    stream = registry.get("streaming_sessionization").fn(spark, sf)
    batch = registry.get("events_sessionization").fn(spark, sf)
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    stream_t = _as_sorted_tuples(stream, cols)
    assert stream_t == _as_sorted_tuples(batch, cols)
    per_user = {u: sum(1 for t in stream_t if t[0] == u) for u in (1, 2)}
    assert per_user == {1: 1, 2: 2}


def test_streaming_stateful_totals_equal_batch(spark, sf_dir):
    """applyInPandasWithState running totals must equal the batch GROUP BY
    (commutative integer state + latest-version-wins selection)."""
    from imdbmapreduce_spark.catalog import table

    stream = registry.get("streaming_user_totals_stateful").fn(spark, sf_dir)
    cents = F.floor(F.abs(F.col("value") * 100) + 0.5) * F.signum(F.col("value"))
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents.cast("long")).alias("sum_cents"),
        )
    )
    cols = ["user_id", "n_events", "sum_cents"]
    assert _as_sorted_tuples(stream, cols) == _as_sorted_tuples(batch, cols)


def test_streaming_parquet_file_sink_exactly_once(spark, sf_dir, tmp_path):
    """Production-sink path: the ingest-dedup stream drained into a
    PARQUET directory (not the oracle-gate memory sink), then resumed
    against the same checkpoint — the second drain must add NOTHING (file
    sink + checkpoint = exactly-once), and the files must equal the batch
    distinct key set."""
    from imdbmapreduce_spark.functions import tokens

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        docs = spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        ).parquet(f"{sf_dir}/*documents.parquet")
        keyed = docs.select(
            F.md5(
                F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")
            ).alias("content_key")
        ).dropDuplicates(["content_key"])
        q = (
            keyed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out_dir).count()
    drain()  # resume on same checkpoint: source exhausted, no new rows
    again = spark.read.parquet(out_dir)
    assert again.count() == first
    batch_keys = registry.get("dedup_exact").fn(spark, sf_dir).count()
    assert first == batch_keys
    assert again.select("content_key").distinct().count() == first


def test_streaming_keyed_upsert_state_sink(spark, sf_dir, tmp_path):
    """foreachBatch keyed-upsert: incremental micro-batches maintain a
    last-write-wins table that (a) equals the batch recompute after every
    drain, (b) survives a restart from the same checkpoint without
    re-applying old data wrongly, and (c) never exposes partial state
    (versioned dirs + pointer commit)."""
    import os

    from pyspark.sql import functions as F

    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.streaming.upsert import KeyedStateSink, read_state

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    src, state, ckpt = f"{tmp_path}/src", f"{tmp_path}/state", f"{tmp_path}/ckpt"
    os.makedirs(state)
    sink = KeyedStateSink(state, keys=["user_id"], order_cols=["ts_us", "event_id"])

    def drain() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    def expected(df):
        w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
        return {
            (r.user_id, r.event_id)
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .collect()
        }

    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half1.write.parquet(f"{src}/b1.parquet")
    drain()
    got1 = {(r.user_id, r.event_id) for r in read_state(spark, state).collect()}
    assert got1 == expected(half1)
    from imdbmapreduce_spark.streaming.upsert import _current_version

    ver_after_first_drain = _current_version(state)

    # restart with new data: checkpoint resumes, merge stays correct
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{src}/b2.parquet")
    drain()
    final = read_state(spark, state)
    assert {(r.user_id, r.event_id) for r in final.collect()} == expected(ev)
    # one row per key, versions + pointer on disk
    assert final.groupBy("user_id").count().filter("count > 1").count() == 0
    versions = [d for d in os.listdir(state) if d.startswith("v")]
    assert len(versions) >= 2 and os.path.exists(f"{state}/_CURRENT")
    # time travel: the version committed by the first drain still reads
    # as exactly the first-drain state
    v0 = {
        (r.user_id, r.event_id)
        for r in read_state(spark, state, version=ver_after_first_drain).collect()
    }
    assert v0 == expected(half1)
    import pytest

    with pytest.raises(ValueError, match="not present"):
        read_state(spark, state, version=99)


def test_streaming_scd2_sink_matches_batch_history(spark, sf_dir, tmp_path):
    """foreachBatch SCD-2 apply: an in-order CDC feed drained in
    micro-batches must rebuild EXACTLY the batch user_state_history_scd2
    result — closed intervals preserved across batch boundaries, the
    open row extended or closed as new states arrive, version numbering
    continuous. Also: re-draining the same checkpoint (no new data) is a
    no-op (idempotent replay guard)."""
    import os

    from pyspark.sql import functions as F

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.streaming.upsert import Scd2Sink, read_state

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("seq"),
    )
    # two IN-ORDER batches: split at the median timestamp so every key's
    # batch-2 rows are at-or-after its batch-1 rows (the CDC contract)
    mid = ev.approxQuantile("ts_us", [0.5], 0.0)[0]
    src, state, ckpt = f"{tmp_path}/src", f"{tmp_path}/state", f"{tmp_path}/ckpt"
    os.makedirs(state)
    ev.filter(F.col("ts_us") <= mid).write.parquet(f"{src}/b1.parquet")

    sink = Scd2Sink(state, key="user_id")

    def drain() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    v_after_b1 = read_state(spark, state).count()
    ev.filter(F.col("ts_us") > mid).write.parquet(f"{src}/b2.parquet")
    drain()

    got = {
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current, r.version)
        for r in read_state(spark, state).collect()
    }
    want = {
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current, r.version)
        for r in registry.get("user_state_history_scd2").fn(spark, sf_dir).collect()
    }
    assert got == want
    assert v_after_b1 < len(got)  # batch 2 genuinely extended history

    # replay: drain again with no new files — history must be unchanged
    drain()
    again = {
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current, r.version)
        for r in read_state(spark, state).collect()
    }
    assert again == got


def test_scd2_sink_redelivery_of_same_ts_state_flip_is_noop(spark, tmp_path):
    """Exactly-once regression: a micro-batch containing a same-timestamp
    state flip (A then B at ts T, ordered by seq) must not re-apply on
    redelivery. The old (ts, state)-only guard let the replayed A row
    back in (state differs from the open B), flipping the open state and
    appending a spurious version on every crash-redelivery; the
    high-water mark (greatest applied (ts, seq)) drops it."""
    import os

    from imdbmapreduce_spark.streaming.upsert import Scd2Sink, read_state

    state = f"{tmp_path}/state"
    os.makedirs(state)
    sink = Scd2Sink(state, key="user_id")
    batch = spark.createDataFrame(
        [(1, "A", 1000, 1), (1, "B", 1000, 2)],
        "user_id long, state string, ts_us long, seq long",
    )
    sink(batch, 0)
    first = sorted(
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current, r.version)
        for r in read_state(spark, state).collect()
    )
    open_rows = [r for r in first if r[4]]
    assert len(open_rows) == 1 and open_rows[0][1] == "B"
    sink(batch, 0)  # crash-redelivery of the SAME batch
    again = sorted(
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current, r.version)
        for r in read_state(spark, state).collect()
    )
    assert again == first
    # and a genuinely new same-ts higher-seq event still applies
    sink(
        spark.createDataFrame(
            [(1, "C", 1000, 3)], "user_id long, state string, ts_us long, seq long"
        ),
        1,
    )
    final = {r.state: r for r in read_state(spark, state).collect()}
    assert final["C"].is_current and final["C"].version == 3
    assert not final["B"].is_current
    # observability (ADVICE r4): the guard COUNTS what it drops — the
    # redelivered batch's 2 stale rows are recorded per batch_id, the
    # fresh batches drop nothing, so a contract-violating out-of-order
    # feed is distinguishable from clean streams
    assert sink.stale_dropped == {0: 2}
    assert sink.total_stale_dropped == 2


def test_watermark_sized_from_disorder_profile(spark, tmp_path):
    """The disorder→watermark loop closed: size the watermark from the
    profiled lateness tail (watermark_from_disorder = ceil(p99)), replay
    the SAME feed through a watermarked streaming aggregation in arrival
    order, and pin that the ONLY lost rows are the ones later than the
    profiled bound (here: one 300 s straggler vs a ≤25 s p99 tail)."""
    import datetime
    import os

    from imdbmapreduce_spark.streaming.windowed import watermark_from_disorder

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)

    def ts(sec):
        return base + datetime.timedelta(seconds=sec)

    # arrival order = event_id. batch1: 180 in-order events, 3 s apart
    # (high-water 537 s). batch2: 16 late rows (lateness 10..25 s),
    # one 300 s straggler, 3 on-time rows.
    rows = [(i, 1, ts(3 * i)) for i in range(180)]
    late = [(180 + j, 1, ts(537 - (10 + j))) for j in range(16)]
    straggler = [(196, 1, ts(537 - 300))]
    ontime = [(197, 1, ts(600)), (198, 1, ts(620)), (199, 1, ts(640))]
    batch2 = late + straggler + ontime

    all_df = spark.createDataFrame(
        rows + batch2, "event_id long, user_id long, ts timestamp"
    )
    all_df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    # profile-driven sizing: p99 of the lateness distribution is inside
    # the 10..25 s tail (the straggler is past the 99th percentile), so
    # the watermark covers every late row EXCEPT the straggler
    wm = watermark_from_disorder(spark, str(tmp_path))
    delay_s = int(wm.split()[0])
    assert 25 <= delay_s < 300, wm
    prof = registry.get("events_disorder_profile").fn(spark, str(tmp_path)).first()
    assert prof.max_late_us == 300 * 1_000_000  # straggler IS beyond the bound

    # replay in arrival order: one file per micro-batch, shared checkpoint
    # (foreachBatch sink — the memory sink cannot recover from a
    # checkpoint across the two drains)
    src, ckpt, out = f"{tmp_path}/src", f"{tmp_path}/ckpt", f"{tmp_path}/out"
    os.makedirs(src)
    schema = all_df.schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
        )
        agg = (
            stream.withWatermark("ts", wm)
            .groupBy(F.window("ts", "60 seconds").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, bid: df.select(F.col("w.start").alias("wstart"), "n")
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # coalesce(1): each arrival batch must be ONE file = ONE micro-batch,
    # or the file source splits it and the watermark advances mid-batch
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/b1.parquet")
    drain()  # commits the watermark = high_water(batch1) - delay
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(f"{src}/b2.parquet")
    drain()

    # update-mode emissions: counts per window only grow, so the final
    # state is the max emitted row per window
    emitted = spark.read.parquet(out).collect()
    finals = {}
    for r in emitted:
        k = r.wstart
        finals[k] = max(finals.get(k, 0), r.n)
    survived = sum(finals.values())
    # every event survived EXCEPT the one straggler beyond the bound
    assert survived == len(rows) + len(batch2) - 1
    # and the loss is precisely the straggler's window
    strag_window = base + datetime.timedelta(seconds=(537 - 300) // 60 * 60)
    batch_counts = {
        r.wstart: r.n
        for r in all_df.groupBy(
            F.window("ts", "60 seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "n")
        .collect()
    }
    lost = {
        k.replace(tzinfo=None) if k.tzinfo else k
        for k, v in batch_counts.items()
        if finals.get(k, 0) != v
    }
    assert lost == {strag_window.replace(tzinfo=None)}


def test_streaming_cusum_multi_batch_parity_and_drop_discipline(spark, tmp_path):
    """State must carry across micro-batches: an ordered two-batch feed
    reproduces the batch CUSUM row-for-row; re-feeding already-folded
    rows (an out-of-order/duplicate tail) folds NOTHING twice — per-user
    r stays contiguous and no extra rows appear."""
    import datetime as dt

    from pyspark.sql import Row

    from imdbmapreduce_spark.streaming.windowed import cusum_stateful

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            user_id=1 + (i % 2),
            event_id=i,
            ts=base + dt.timedelta(minutes=i),
            value=float(40 + 60 * (i % 5)),
        )
        for i in range(40)
    ]
    sf = str(tmp_path / "corpus")
    spark.createDataFrame(rows).coalesce(1).write.parquet(f"{sf}/events.parquet")

    src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
    schema = "user_id bigint, event_id bigint, ts_us bigint, cents bigint"

    def to_feed(rs):
        return spark.createDataFrame(
            [
                (
                    r.user_id,
                    r.event_id,
                    int(r.ts.timestamp() * 1_000_000),
                    int(round(r.value * 100)),
                )
                for r in rs
            ],
            schema,
        )

    out_dir = f"{tmp_path}/out"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
        )

        def emit(batch_df, _bid):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            cusum_stateful(stream)
            .writeStream.foreachBatch(emit)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # batch 1: first half (time-ordered); batch 2: second half
    to_feed(rows[:20]).coalesce(1).write.parquet(f"{src}/b1.parquet")
    to_feed(rows[20:]).coalesce(1).write.parquet(f"{src}/b2.parquet")
    drain()
    got = {
        (r.user_id, r.event_id): (r.r, r.cusum, r.alarm)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.user_id, r.event_id): (r.r, r.cusum, r.alarm)
        for r in registry.get("events_cusum_alarms").fn(spark, sf).collect()
    }
    assert got == batch  # state carried across the batch boundary exactly

    # batch 3: a disordered tail — replays of already-folded rows must be
    # dropped (counted in state), never folded twice
    to_feed(rows[10:16]).coalesce(1).write.parquet(f"{src}/b3.parquet")
    drain()
    after = [r for r in spark.read.parquet(out_dir).collect()]
    assert len(after) == len(rows)  # incremental drain emitted 0 new rows


def test_streaming_jsonl_quality_gate_equals_batch_gate(spark, sf_dir):
    """The streamed per-source pass/fail counts must equal the batch
    aggregation of the SAME shared gate expression over the parquet
    corpus — the no-drift contract between ingest-time and batch
    curation."""
    from imdbmapreduce_spark.catalog import table as _table
    from imdbmapreduce_spark.operators.text import with_gopher_flags
    from imdbmapreduce_spark.registry import get

    got = {
        r.source: (r.n_docs, r.n_pass, r.n_fail)
        for r in get("streaming_jsonl_quality_gate").fn(spark, sf_dir).collect()
    }
    batch = (
        with_gopher_flags(_table(spark, sf_dir, "documents").select("source", "text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).alias("p"),
        )
        .collect()
    )
    want = {r.source: (r.n, r.p, r.n - r.p) for r in batch}
    assert got == want
    assert sum(v[0] for v in got.values()) > 0


def test_streaming_neardup_gate_equals_batch(spark, sf_dir):
    """Stream == batch for the incremental near-dup gate: draining the
    shard as multi-file micro-batches (maxFilesPerTrigger=1) through the
    shared shard_neardup_lookup must emit exactly the batch
    neardup_incremental_ingest pair set — micro-batch boundaries can
    never change the result because every lookup is (batch docs) x
    (static base index)."""
    from imdbmapreduce_spark.registry import get

    got = {
        (r.new_doc, r.matched_doc, r.jaccard)
        for r in get("streaming_neardup_gate").fn(spark, sf_dir).collect()
    }
    want = {
        (r.new_doc, r.matched_doc, r.jaccard)
        for r in get("neardup_incremental_ingest").fn(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "test premise: the shard has at least one near-dup match"


def test_streaming_neardup_gate_schema_equals_batch(spark, sf_dir):
    """The gate returns its batch twin's columns, not the sink layout:
    the epoch=N partition directories exist for replay idempotence only,
    so the discovered ``epoch`` column (which varies between identical
    runs) must not leak into the result."""
    from imdbmapreduce_spark.registry import get

    got = get("streaming_neardup_gate").fn(spark, sf_dir)
    want = get("neardup_incremental_ingest").fn(spark, sf_dir)
    assert got.dtypes == want.dtypes


def test_streaming_neardup_gate_has_no_driver_collect():
    """The arrival loop must never funnel matches through the driver: a
    pathological shard (today's crawl heavily duplicating the corpus)
    should scale the sink, not driver memory. Pin that the gate's source
    contains no collect()/toPandas()/toLocalIterator — matches flow
    executor-side into the epoch-partitioned parquet sink."""
    import inspect

    from imdbmapreduce_spark.registry import get

    src = inspect.getsource(get("streaming_neardup_gate").fn)
    for banned in (".collect(", ".toPandas(", ".toLocalIterator("):
        assert banned not in src, f"driver-side {banned}) in the gate hot path"
    assert 'mode("overwrite")' in src and "epoch=" in src


def test_streaming_entity_gate_equals_batch_arrival(spark, sf_dir):
    """stream == batch for the ER arrival gate: the micro-batch drain's
    unioned verdicts must equal customer_entity_arrival exactly (every
    record in one micro-batch + base-only matching makes per-batch
    verdicts complete)."""
    from imdbmapreduce_spark import registry

    batch = {
        (r.new_custkey, r.entity_id, r.n_links, r.n_entities_linked)
        for r in registry.get("customer_entity_arrival").fn(spark, sf_dir).collect()
    }
    stream = {
        (r.new_custkey, r.entity_id, r.n_links, r.n_entities_linked)
        for r in registry.get("streaming_entity_gate").fn(spark, sf_dir).collect()
    }
    assert batch, "fixture must produce arriving records"
    assert stream == batch
