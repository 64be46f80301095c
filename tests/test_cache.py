"""Shared-cache registry (imdbmapreduce_spark/cache.py): one
materialization per key, explicit release, no storage accumulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdbmapreduce_spark.cache import release_shared_caches, shared_cache


def _storage_rdd_count(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    return jsc.getRDDStorageInfo().__len__()


def _storage_drops_below(spark, bound: int, timeout_s: float = 10.0) -> bool:
    """Unpersist is asynchronous on the block-manager side — poll
    briefly instead of asserting the instantaneous count."""
    import time

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if _storage_rdd_count(spark) < bound:
            return True
        time.sleep(0.2)
    return False


def test_shared_cache_memoizes_and_releases(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(100).withColumn("x", F.col("id") * 2)

    a = shared_cache(spark, ("t", "k1"), build)
    b = shared_cache(spark, ("t", "k1"), build)
    assert a is b, "same key must return the same DataFrame object"
    assert len(builds) == 1, "build() must run once per key"
    assert a.count() == 100

    before = _storage_rdd_count(spark)
    assert before >= 1  # our cached artifact is registered
    release_shared_caches()
    assert _storage_drops_below(spark, before), "release must unpersist"

    c = shared_cache(spark, ("t", "k1"), build)
    assert len(builds) == 2, "released key rebuilds on next use"
    assert c.count() == 100
    release_shared_caches()


def test_release_during_build_does_not_leak(spark):
    """A release that fires while a builder is mid-build() must not leave
    the builder's entry cached-but-unreleasable: the builder re-checks the
    generation before inserting, unpersists, and hands back the frame
    uncached (deterministic simulation: build() itself runs the release)."""
    from imdbmapreduce_spark import cache as cache_mod

    def build():
        df = spark.range(7)
        release_shared_caches()  # a concurrent sweep owner evicts mid-build
        return df

    key = ("race", "release-mid-build")
    df = shared_cache(spark, key, build)
    assert df.count() == 7, "result stays correct, just uncached"
    full_key = (spark.sparkContext.applicationId, *key)
    assert full_key not in cache_mod._CACHE, "stale entry must not register"
    assert not df.storageLevel.useMemory, "stale entry must be unpersisted"

    rebuilt = shared_cache(spark, key, lambda: spark.range(7))
    assert full_key in cache_mod._CACHE, "next caller caches cleanly"
    assert rebuilt.count() == 7
    release_shared_caches()


def test_sweep_does_not_accumulate_storage(spark, sf_dir):
    """Running the near-dup family twice must not double cached storage:
    the round-3 audit flagged per-query .cache() calls with no release;
    the shared registry bounds storage by distinct artifacts, not query
    count."""
    from imdbmapreduce_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_ngram_jaccard,
    )

    release_shared_caches()
    neardup_ngram_jaccard(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    minhash_lsh_pairs(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    first = _storage_rdd_count(spark)
    neardup_ngram_jaccard(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    minhash_lsh_pairs(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    assert _storage_rdd_count(spark) == first, "re-runs must reuse artifacts"
    release_shared_caches()
    assert _storage_drops_below(spark, first)


def test_package_facade_runs_queries_and_persists_indexes(spark, sf_dir, tmp_path, monkeypatch):
    """The public API surface: queries()/run() reach the registry, and
    persist_indexes writes every index group with a valid manifest."""
    import imdbmapreduce_spark as eng
    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.cache import release_shared_caches

    assert "q1_pricing_summary" in eng.queries()
    assert eng.run("limit_scan", spark, sf_dir).count() > 0

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        dirs = eng.persist_indexes(spark, sf_dir)
        assert set(dirs) == set(indexstore.GROUPS)
        for group in indexstore.GROUPS:
            assert indexstore.group_manifest(sf_dir, group) is not None, group
    finally:
        for group in indexstore.GROUPS:
            indexstore.drop_group(sf_dir, group)
        release_shared_caches()


def test_torn_persist_leaves_no_manifest(spark, sf_dir, tmp_path, monkeypatch):
    """Crash-mid-persist contract: the manifest lands LAST, so a persist
    that dies during an artifact write leaves the group unloadable (and
    the loaders fall back to building) rather than half-written."""
    import pytest

    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators.dedup import _text_params, build_text_index

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        artifacts = build_text_index(spark, sf_dir)

        # poison ONE artifact: fails lazily, at WRITE time (an eager
        # failure would never reach persist_group)
        def boom(_batches):
            raise RuntimeError("torn-write")
            yield  # pragma: no cover — marks this as a generator

        bad = artifacts["shingle_hx"].mapInPandas(boom, "doc_id long, hx long")
        artifacts = dict(artifacts, shingle_hx=bad)
        with pytest.raises(Exception, match="torn-write"):
            indexstore.persist_group(
                spark, sf_dir, "text", lambda: artifacts, params=_text_params()
            )
        assert indexstore.group_manifest(sf_dir, "text") is None
        assert (
            indexstore.load_group_artifact(
                spark, sf_dir, "text", "jaccard_pairs", _text_params()
            )
            is None
        )
        # and a subsequent CLEAN persist fully recovers
        release_shared_caches()
        indexstore.persist_group(
            spark,
            sf_dir,
            "text",
            lambda: build_text_index(spark, sf_dir),
            params=_text_params(),
        )
        assert indexstore.group_manifest(sf_dir, "text", _text_params()) is not None
    finally:
        indexstore.drop_group(sf_dir, "text")
        release_shared_caches()


def test_persist_group_build_sec_covers_artifact_build(spark, sf_dir, tmp_path, monkeypatch):
    """``build_sec`` must cover the work the build callable does before
    any artifact is written (r13 verdict task 5: the ER artifacts
    materialize while build_er_index runs, so a persist-window-only
    timer understated the true build cost by ~30x)."""
    import time

    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators.dedup import _text_params, build_text_index

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        artifacts = build_text_index(spark, sf_dir)

        # a build that spends 1 s before handing over its frames: the
        # manifest must record the full window, not the write window
        def slow_build():
            time.sleep(1.0)
            return artifacts

        indexstore.persist_group(
            spark, sf_dir, "text", slow_build, params=_text_params()
        )
        m = indexstore.group_manifest(sf_dir, "text", _text_params())
        assert m is not None
        assert m["build_sec"] >= 1.0
    finally:
        indexstore.drop_group(sf_dir, "text")
        release_shared_caches()


def test_persisted_artifacts_resolve_only_through_indexstore():
    """One resolution order (shared cache → persisted artifact → build)
    lives in ``indexstore.artifact``; operator modules must not re-inline
    it. Spark-free source scan: ``load_group_artifact`` may be referenced
    only in indexstore.py and in lm's BPE loader (which keeps its own
    memo of the collected merge rows)."""
    import ast
    import pathlib

    def refs(node, fn, out):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                refs(child, child.name, out)
                continue
            for field in ("id", "attr", "name"):
                if getattr(child, field, None) == "load_group_artifact":
                    out.add(fn)
            refs(child, fn, out)
        return out

    pkg = pathlib.Path(__file__).resolve().parent.parent / "imdbmapreduce_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        fns = refs(ast.parse(path.read_text(encoding="utf-8")), None, set())
        if fns:
            found[path.relative_to(pkg).as_posix()] = fns
    assert "indexstore.py" in found, "the scan must see indexstore's own use"
    found.pop("indexstore.py")
    assert found == {"operators/lm.py": {"_bpe_load_persisted"}}, found


def test_stable_checkpoint_durable_mode_is_bit_identical(spark, tmp_path):
    """With a checkpoint dir configured, stable_checkpoint switches every
    iterative operator to DURABLE checkpoints — results must stay
    bit-identical to the localCheckpoint default, and the reliable
    checkpoint files must actually land in the directory."""
    import os

    from pyspark.sql import Row

    from imdbmapreduce_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([Row(node=i) for i in range(6)])
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]]
    )
    adj = edges.groupBy("src").agg(
        F.collect_list("dst").alias("dsts"), F.count(F.lit(1)).alias("out_deg")
    )
    local = {(r.node, r.rank_fp) for r in pagerank(nodes, adj, 4).collect()}

    ckdir = str(tmp_path / "ck")
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(ckdir)
    try:
        durable = {
            (r.node, r.rank_fp) for r in pagerank(nodes, adj, 4).collect()
        }
    finally:
        # restore the session default (localCheckpoint) for later tests:
        # SparkContext.checkpointDir is a plain Scala Option var
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None
    assert durable == local
    # reliable checkpoint data was written under the configured dir
    found = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckdir) for f in fs
    ]
    assert found, "durable checkpoint wrote no files"


def test_catalog_schema_memo_skips_inference_job_and_tracks_rewrites(spark, tmp_path):
    """``catalog.table`` infers a table's parquet schema once per file
    stamp: a second read of the same file fires NO Spark job (no footer
    job), a rewritten file (new size and mtime) is re-inferred, and
    releasing the shared caches empties the memo."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from imdbmapreduce_spark import catalog

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    sc = spark.sparkContext

    def read(group):
        sc.setJobGroup(group, "catalog.table schema memo test")
        try:
            df = catalog.table(spark, str(tmp_path), "region")
        finally:
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            sc.setJobGroup(None, None)
        return df, len(jobs)

    first, n_first = read("schema-memo-first")
    again, n_again = read("schema-memo-again")
    assert n_first == 1, "the first read infers the schema in one job"
    assert n_again == 0, "a memoized schema must not run a footer job"
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_x": [1.0, 2.0, 3.0]}),
        path,
    )
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    rewritten, n_rewritten = read("schema-memo-rewritten")
    assert n_rewritten == 1, "a rewritten file must be re-inferred"
    assert rewritten.columns == ["r_regionkey", "r_name", "r_x"]
    assert rewritten.count() == 3

    release_shared_caches()
    _, n_released = read("schema-memo-released")
    assert n_released == 1, "release_shared_caches must empty the memo"


def _classes_compiled(spark) -> int:
    """Generated classes compiled by this JVM so far: one count per miss
    of Spark's generated-class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_warm_rerun_compiles_nothing(spark, sf_dir):
    """A query run again after more than 100 other classes were compiled
    (Spark's default cache size, under which LRU eviction forces a
    recompile) compiles nothing: the session's codegen cache holds the
    engine's working set."""
    import random
    from functools import reduce

    from pyspark.sql import DataFrame

    from imdbmapreduce_spark import registry

    queries = registry.all_queries()

    def run(df) -> int:
        c0 = _classes_compiled(spark)
        df.write.format("noop").mode("overwrite").save()
        return _classes_compiled(spark) - c0

    first, *others = ["q10_returned_revenue", "q8_market_share", "q21_sole_late_suppliers"]
    run(queries[first](spark, sf_dir))
    since_first = sum(run(queries[name](spark, sf_dir)) for name in others)
    # Earlier tests may have compiled those queries already; top up with
    # plan shapes no run has seen (fresh literals) until more than 100
    # classes were compiled after the first query.
    while since_first <= 100:
        base = random.getrandbits(40)
        since_first += run(
            reduce(
                DataFrame.unionAll,
                [spark.range(1).select((F.col("id") + F.lit(base + i)).alias("x")) for i in range(26)],
            )
        )
    assert run(queries[first](spark, sf_dir)) == 0, "a warm re-run must not recompile"


def test_stage_code_compiles_once_in_any_plan_position(spark):
    """A generated class is keyed by its code, not by the whole-stage id
    that AQE assigns in stage-creation order: the same two aggregations
    unioned in the other order compile nothing. With the id in the class
    name, each stage compiles again under its new id, which is what made
    multi-branch queries such as ann_recall_audit recompile on every
    call (their stage order depends on which stage finishes first)."""
    import random

    base = random.getrandbits(40)
    a = spark.range(100).groupBy((F.col("id") % 7).alias("k")).agg(F.sum(F.col("id") + F.lit(base)).alias("s"))
    b = spark.range(100).groupBy((F.col("id") % 5).alias("k")).agg(F.max(F.col("id") + F.lit(base)).alias("s"))
    a.unionByName(b).write.format("noop").mode("overwrite").save()
    c0 = _classes_compiled(spark)
    b.unionByName(a).write.format("noop").mode("overwrite").save()
    assert _classes_compiled(spark) - c0 == 0
