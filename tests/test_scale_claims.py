"""Tests that pin the SCALE.md execution-layer claims: predicate pushdown
reaches the parquet scan, streaming checkpoints resume incrementally
(exactly-once across restarts), and one session serves concurrent
queries correctly."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.catalog import table


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    """The Q1 scan must push the shipdate filter into the parquet reader
    and prune to the referenced columns — the 'free at 100 TB' claims."""
    df = registry.get("q1_pricing_summary").fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters: [" in scan and "l_shipdate" in scan.split("PushedFilters")[1][:200]
    read_schema = scan.split("ReadSchema:")[1][:400]
    assert "l_comment" not in read_schema  # untouched fat column pruned


def test_streaming_dedup_checkpoint_resume(spark, sf_dir, tmp_path):
    """Incremental backfill for real: run the dedup stream over half the
    corpus, then resume FROM THE SAME CHECKPOINT after more data arrives.
    The second run must emit only keys unseen in the first — state
    survives the restart, nothing is re-emitted, and the union equals the
    batch answer. This is the exactly-once restart contract the
    windowed.py docstrings claim."""
    from imdbmapreduce_spark.functions import tokens

    docs = table(spark, sf_dir, "documents")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    src = f"{tmp_path}/src"
    sink = f"{tmp_path}/sink"
    ckpt = f"{tmp_path}/ckpt"
    half1.write.parquet(f"{src}/batch1.parquet")

    key = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")).alias(
        "content_key"
    )

    def run_once() -> None:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
            .select(key)
            .dropDuplicates(["content_key"])
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {r.content_key for r in spark.read.parquet(sink).collect()}
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{src}/batch2.parquet")
    run_once()
    rows = [r.content_key for r in spark.read.parquet(sink).collect()]
    assert len(rows) == len(set(rows))  # no key ever emitted twice
    batch = {r[0] for r in docs.select(key).distinct().collect()}
    assert set(rows) == batch
    assert first <= set(rows) and len(first) < len(rows)


def test_sql_entry_point(spark, sf_dir):
    """register_views exposes every catalog table to spark.sql — the
    string-SQL entry the reference never had (SURVEY §2.5). A SQL text
    query must agree with its DataFrame twin."""
    from imdbmapreduce_spark.catalog import TABLES, register_views

    register_views(spark, sf_dir)
    for t in TABLES:
        assert spark.catalog.tableExists(t)
    sql = spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1"
    )
    df = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))


def test_concurrent_queries_share_one_session(spark, sf_dir):
    """The reference isolates concurrent queries in Erlang processes
    (master.erl:61-64); one SparkSession runs them as concurrent jobs.
    Four different plans in parallel must match their serial results."""
    names = [
        "q1_pricing_summary",
        "coactor_parts",
        "doc_quality",
        "events_funnel",
    ]

    def run(name: str):
        return sorted(
            tuple(row) for row in registry.get(name).fn(spark, sf_dir).collect()
        )

    serial = {n: run(n) for n in names}
    with ThreadPoolExecutor(max_workers=4) as pool:
        parallel = dict(zip(names, pool.map(run, names)))
    assert parallel == serial


def test_q19_disjunction_pushes_partial_filters_to_both_scans(spark, sf_dir):
    """The OR across join sides must still yield per-scan partial filters
    (the 'neither side scanned unfiltered' claim in the q19 docstring)."""
    df = registry.get("q19_disjunctive_revenue").fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # lineitem scan: OR of quantity ranges; part scan: OR of brand/size
    # terms (plan toString truncates long filter lists, so match the
    # stable prefix of each pushed disjunction)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "Or(Or(And(EqualTo(p_brand" in plan


def test_sweep_order_prioritizes_never_verified_queries():
    """Driver-sweep ordering guard. The driver checks queries in the
    order ``queries()`` yields them under a ~50-query budget, so
    ordering IS the verification policy. The registry derives the order
    from the committed CORRECTNESS_r*.json files (tier 1: batch queries
    with no green driver row; tier 2: the streaming block; tier 3:
    already-verified batch). Invariants:

    (a) every query with no green driver row in any prior round sorts
        before every already-verified batch query — the budget reaches
        the queries that need the external signal most;
    (b) round-2 regression: streaming (wall-clock-bound micro-batch
        drains) sits after every batch query that still needs a row, so
        a slow or broken streaming query can never starve one;
    (c) round-3 gap: the streaming block still lands INSIDE the ~50
        budget, as one contiguous block.
    """
    names = list(registry.all_queries())
    green = registry.driver_verified_names()
    assert green, "committed CORRECTNESS files must yield verified names"
    stream_idx = [i for i, n in enumerate(names) if n.startswith("streaming_")]
    first_s, last_s = min(stream_idx), max(stream_idx)
    # (c) contiguous block inside the budget
    assert stream_idx == list(range(first_s, last_s + 1)), stream_idx
    assert last_s < 50, (last_s, names[: last_s + 1])
    # (a)+(b) tier structure: unverified batch < streaming < verified batch
    for i, n in enumerate(names):
        if i < first_s:
            assert n not in green and not n.startswith("streaming_"), (i, n)
        elif i > last_s:
            assert n in green and not n.startswith("streaming_"), (i, n)


def test_fingerprint_staleness_demotes_edited_query(tmp_path, monkeypatch):
    """Staleness policy (r4 verdict item 2): a green driver row only
    counts as verified while the query's fingerprint (plan source +
    oracle SQL) matches the committed manifest. Simulate an edit by
    rewriting one manifest entry — the query must drop out of
    driver_verified_names() and re-enter tier 1 of the sweep, ahead of
    the streaming block."""
    import json

    victim = "dedup_exact"
    baseline = registry.driver_verified_names()
    assert victim in baseline, "test premise: dedup_exact is verified"

    manifest = dict(registry._manifest())
    manifest[victim] = "0" * 64  # what an edited query's stale entry looks like
    p = tmp_path / "QUERY_FINGERPRINTS.json"
    p.write_text(json.dumps(manifest))
    monkeypatch.setattr(registry, "manifest_path", lambda: str(p))
    registry.invalidate_caches()
    try:
        demoted = registry.driver_verified_names()
        assert victim not in demoted
        assert baseline - demoted == {victim}  # nobody else disturbed
        order = registry.sweep_order()
        first_stream = next(
            i for i, n in enumerate(order) if n.startswith("streaming_")
        )
        assert order.index(victim) < first_stream  # tier 1, inside budget
    finally:
        monkeypatch.undo()
        registry.invalidate_caches()


_FP_PROBE = '''
from imdbmapreduce_spark.registry import query


@query("fp_probe", oracle="SELECT 1 AS x -- a '#' inside SQL")
def fp_probe(spark, sf_dir):
    """Docstring, first wording."""
    n = 1  # inline comment
    # a full-line comment
    return spark.range(n).filter("id >= 0")  # '#' in code: "x#y"
'''


def test_fingerprint_ignores_comments_and_docstring(tmp_path, monkeypatch):
    """A comment-only or docstring-only edit to a ``@query`` function
    keeps its fingerprint, so a stale comment can be fixed without
    demoting the query to tier 1; a code edit still changes it."""
    import importlib.util

    registry._load_plans()
    variants = {
        "base": _FP_PROBE,
        "comment": _FP_PROBE.replace("# inline comment", "# reworded")
        .replace("# a full-line comment", "# now\n    # two lines")
        .replace("# '#' in code", "#"),
        "docstring": _FP_PROBE.replace(
            "Docstring, first wording.", "Docstring,\n    reworded on two lines."
        ),
        "code": _FP_PROBE.replace("n = 1", "n = 2"),
    }
    fps = {}
    for label, src in variants.items():
        path = tmp_path / f"fp_probe_{label}.py"
        path.write_text(src)
        monkeypatch.setattr(registry, "_REGISTRY", {})
        spec = importlib.util.spec_from_file_location(path.stem, path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        fps[label] = registry.query_fingerprint("fp_probe")
    assert fps["comment"] == fps["base"]
    assert fps["docstring"] == fps["base"]
    assert fps["code"] != fps["base"]


def test_fingerprint_tracks_input_data_content(tmp_path, monkeypatch):
    """r6 verdict item 1: a green driver row certifies (plan, oracle,
    DATA). Regenerating the movies fixture (the r6 85k regen is the
    motivating case) or the testdata parquet must change the affected
    queries' fingerprints — so they mismatch the committed manifest and
    demote to tier 1. sf-table queries never depend on the fixture;
    fixture-marked queries stamp BOTH families (conservative: the text
    marker can't prove the query reads only the fixture).
    Content-hashed, not mtime: git checkouts rewrite mtimes."""
    from imdbmapreduce_spark.sources import movies_csv

    registry.invalidate_caches()
    fix_fp0 = registry.query_fingerprint("movies_title_levels")
    sf_fp0 = registry.query_fingerprint("q1_pricing_summary")
    try:
        # 1) fixture regen: movies_* demote, sf queries untouched
        fixture = tmp_path / "movies_dirty.csv"
        with open(movies_csv._FIXTURE, "rb") as f:
            fixture.write_bytes(f.read() + b'"Extra Movie","Someone"\n')
        monkeypatch.setattr(movies_csv, "_FIXTURE", str(fixture))
        registry.invalidate_caches()
        assert registry.query_fingerprint("movies_title_levels") != fix_fp0
        assert registry.query_fingerprint("q1_pricing_summary") == sf_fp0
        monkeypatch.undo()

        # 2) testdata regen: sf queries demote; fixture-marked queries
        # demote too (both-families stamp — see query_fingerprint)
        td = tmp_path / "testdata" / "sf0.01"
        td.mkdir(parents=True)
        (td / "lineitem.parquet").write_bytes(b"not-the-same-bytes")
        monkeypatch.setenv(
            "SPARK_GRAFT_TESTDATA_DIR", str(tmp_path / "testdata")
        )
        registry.invalidate_caches()
        assert registry.query_fingerprint("q1_pricing_summary") != sf_fp0
        assert registry.query_fingerprint("movies_title_levels") != fix_fp0
    finally:
        monkeypatch.undo()
        registry.invalidate_caches()


def test_no_oracle_row_does_not_verify_oracle_bearing_query():
    """A ``no_oracle`` driver row is the weak rows-only check; once a
    query registers an oracle (r5: pagerank_cosuppliers,
    doc_quality_logreg), that row must no longer count — the query
    re-enters tier 1 so the driver strengthens it to a hash check."""
    green = registry.driver_verified_names()
    rows = registry._latest_rows()
    for name, (_, kind) in rows.items():
        if kind == "no_oracle" and registry.get(name).oracle is not None:
            assert name not in green, name


def test_tier3_rotates_by_verification_age():
    """Already-verified batch queries sweep least-recently-verified
    first (r4 verdict item 8), so stale greens refresh on a bounded
    cadence instead of registration order."""
    order = registry.sweep_order()
    green = registry.driver_verified_names()
    rows = registry._latest_rows()
    tier3 = [n for n in order if n in green and not n.startswith("streaming_")]
    rounds = [rows[n][0] for n in tier3]
    assert rounds == sorted(rounds), "tier 3 not ordered by verification round"
    assert len(set(rounds)) > 1, "test premise: multiple verification rounds exist"


def test_aqe_skew_join_splits_and_its_blind_spot(spark):
    """SCALE.md defers skewed-key joins to 'AQE skew-join territory';
    this pins (a) that AQE actually splits a skewed partition here, and
    (b) the blind spot that keeps manual salting in the toolbox: a
    downstream aggregation on the SAME key forbids the split (splitting
    duplicates the key across tasks, breaking the agg's required
    distribution), so AQE silently leaves the hot partition whole —
    exactly the case events_salted_type_stats handles by salting.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(1_000_000).select(
            F.when(F.col("id") < 900_000, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )

        def final_plan(df):
            df.collect()
            return (
                df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )

        # (a) terminal join: the 90%-hot key gets split
        j = left.join(right, "k").agg(
            F.sum(F.col("payload") + F.col("attr")).alias("total")
        )
        assert "skew=true" in final_plan(j)

        # (b) same-key downstream agg: split forbidden, join stays whole
        g = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        plan = final_plan(g)
        assert "SortMergeJoin" in plan and "skew=true" not in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_when_dim_exceeds_broadcast(spark, sf_dir):
    """SCALE.md's runtime-filter claim: when a selective dimension side is
    too big to broadcast (the 100 TB regime — modeled by disabling
    broadcast), Spark injects a runtime Bloom filter: the dim side
    aggregates a bloom_filter_agg, and the fact scan applies
    might_contain BEFORE the shuffle, so non-qualifying fact rows never
    enter the exchange. When broadcast IS possible, no Bloom filter is
    injected — the broadcast hash join itself is the runtime filter."""
    from imdbmapreduce_spark.catalog import table

    def plan_for(disable_broadcast: bool) -> str:
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, sf_dir, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        j.collect()
        return j._jdf.queryExecution().executedPlan().toString()

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # sf0.001's scans are far below the application-side threshold
        # (10 GiB default) — lower it to model the 100 TB fact side.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        with_filter = plan_for(True)
        assert "might_contain" in with_filter, with_filter[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    without = plan_for(False)
    assert "BroadcastHashJoin" in without and "might_contain" not in without
