"""Job and codegen census: what each registered query costs cold and warm.

One session: ``persist_indexes``, then ``release_shared_caches``, then every
registered query (or the names given) in sorted order, once cold and once
warm. Each run gets two job groups: "build" around ``fn(spark, sf_dir)``
and "exec" around the ``noop`` write. For each query and pass it records
the jobs each group fired (``statusTracker``), the classes Spark compiled
(``CodegenMetrics.METRIC_COMPILATION_TIME``, one count per cache miss of
the generated-class cache) and the wall of each phase. After the sweep it
records the driver JVM's Metaspace and heap use.

    python tools/job_census.py --sf-dir <corpus dir> [--out census.json] [name ...]

``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``; the numbers in
``session.py`` were taken on the sf0.001 corpus.

Defaults: 4 cores and a 4g driver heap, like the test suite, unless
``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` say otherwise. Prints one
line per query and pass, then the per-pass totals; the JSON holds the rest.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries whose warm run may still compile a few classes, and why. Every
# other query compiles nothing warm once the codegen cache holds the
# sweep's working set (session.py).
_AQE_VARIANT = (
    "AQE picks a join's strategy and build side from whichever input stage "
    "finishes first, so this plan has more than one physical variant; each "
    "variant compiles once, and which ones a run meets depends on timing"
)
RECOMPILES = {
    name: _AQE_VARIANT
    for name in (
        "ann_ivf_topk",
        "ann_recall_audit",
        "corpus_source_divergence",
        "embedding_neardup_routed",
        "hard_negative_mining",
        "image_phash_dupes",
        # its three broadcast stages materialize in a timing-dependent
        # order; the warm plan differs from the cold one only in that
        # order, seen whenever another query ran earlier in the session
        "jaccard_prefix_join",
        # the band join is a self-join of one cached signature table:
        # both sides have the same size estimate, so the build side is
        # whichever cache stage reports its statistics first
        "minhash_lsh_pairs",
        "neardup_recall_audit",
        "q20_dominant_suppliers",
        "simhash_pairs",
        "unigram_tokenizer_encode",
    )
}


def _codegen_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _run_once(spark, fn, sf_dir: str, tag: str) -> dict:
    sc = spark.sparkContext
    c0 = _codegen_count(spark)
    t0 = time.monotonic()
    sc.setJobGroup(f"{tag}:build", "census build")
    df = fn(spark, sf_dir)
    t1 = time.monotonic()
    sc.setJobGroup(f"{tag}:exec", "census exec")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.monotonic()
    sc.setJobGroup("census:idle", "census idle")
    return {
        "build_jobs": _jobs(spark, f"{tag}:build"),
        "exec_jobs": _jobs(spark, f"{tag}:exec"),
        "classes_compiled": _codegen_count(spark) - c0,
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
    }


def _driver_memory_mb(spark) -> dict:
    """Heap in use after a full GC, and Metaspace, where generated classes live."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    spark._jvm.java.lang.System.gc()
    out = {"heap_used_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()}
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            out["metaspace_used_mb"] = pool.getUsage().getUsed()
    return {k: round(v / 2**20, 1) for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", help="queries to run (default: all registered)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--out", default="census.json")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("give --sf-dir or set SPARK_GRAFT_SF_DIR")

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # Python UDF workers do not see sys.path; they inherit the environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from imdbmapreduce_spark import persist_indexes, registry
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.session import get_spark

    queries = registry.all_queries()
    unknown = sorted(set(args.names) - set(queries))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.names or sorted(queries)
    spark = get_spark(app_name="job_census")
    persist_indexes(spark, args.sf_dir)
    release_shared_caches()

    records, totals = [], {}
    for label in ("cold", "warm"):
        tot = totals.setdefault(label, {"build_jobs": 0, "exec_jobs": 0, "classes_compiled": 0,
                                        "build_s": 0.0, "exec_s": 0.0, "errors": 0})
        for name in names:
            try:
                rec = _run_once(spark, queries[name], args.sf_dir, f"census:{label}:{name}")
            except Exception as e:  # one broken query must not hide the rest
                rec = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
                tot["errors"] += 1
            rec = {"query": name, "pass": label, **rec}
            if name in RECOMPILES:
                rec["pinned"] = RECOMPILES[name]
            records.append(rec)
            for k in ("build_jobs", "exec_jobs", "classes_compiled", "build_s", "exec_s"):
                tot[k] += rec.get(k, 0)
            print(json.dumps(rec), flush=True)
        tot["build_s"], tot["exec_s"] = round(tot["build_s"], 1), round(tot["exec_s"], 1)

    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    cold_classes = max(totals["cold"]["classes_compiled"], 1)
    out = {
        "sf_dir": args.sf_dir,
        "codegen_cache_max_entries": int(conf),
        "totals": totals,
        "warm_over_cold_classes": round(totals["warm"]["classes_compiled"] / cold_classes, 4),
        "driver_memory_mb": _driver_memory_mb(spark),
        "pinned": RECOMPILES,
        "queries": records,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("codegen_cache_max_entries", "totals", "warm_over_cold_classes", "driver_memory_mb")}))
    spark.stop()


if __name__ == "__main__":
    main()
