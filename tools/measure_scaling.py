"""Three-decade scaling measurement for the worst scalers (SCALE.md).

Runs the targeted query set at $SPARK_GRAFT_SF_DIR twice in one session
(fresh-session first pass pays shared artifact builds; the SECOND pass
is what repeats in production and is what SCALE.md tables report) and
prints `name<TAB>pass1<TAB>pass2`. Also reports the containment joins'
candidate-pair volumes (the quantity the df-ceiling bounds) and the
bounded variant's recall vs the exact form at this SF.

    SPARK_GRAFT_SF_DIR=fixtures/sf1 python tools/measure_scaling.py
"""
from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
only = sys.argv[1:]

QUERIES = [
    "jaccard_prefix_join",
    "containment_prefix_join",
    "containment_prefix_join_bounded",
    "containment_incremental_ingest",
    "lpa_supplier_communities",
    "kcore_suppliers",
    "neardup_incremental_ingest",
    "simhash_incremental_ingest",
    "embedding_incremental_ingest",
]

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.session import get_spark

spark = get_spark(app_name="measure_scaling")
queries = registry.all_queries()
names = only or [q for q in QUERIES if q in queries]
for name in names:
    times = []
    for _ in range(2):
        t0 = time.monotonic()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.monotonic() - t0)
    print(f"{name}\t{times[0]:.2f}\t{times[1]:.2f}", flush=True)

# candidate-volume + recall diagnostics for the containment family
if not only:
    from pyspark.sql import functions as F

    from imdbmapreduce_spark.operators.dedup import (
        _CNT_DF_CEIL,
        _shingle_ranked_cached,
        containment_prefix_join,
        containment_prefix_join_bounded,
    )

    ranked = _shingle_ranked_cached(spark, sf_dir)
    n_post_all = ranked.count()
    n_post_capped = ranked.filter(F.col("df") <= _CNT_DF_CEIL).count()
    exact = {
        (r.doc_a, r.doc_b)
        for r in containment_prefix_join(spark, sf_dir).select("doc_a", "doc_b").collect()
    }
    bounded = {
        (r.doc_a, r.doc_b)
        for r in containment_prefix_join_bounded(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    }
    recall = len(bounded) / len(exact) if exact else float("nan")
    print(
        f"CONTAINMENT\tpostings={n_post_all}\tcapped={n_post_capped}"
        f"\ttrue={len(exact)}\tbounded={len(bounded)}\trecall={recall:.4f}",
        flush=True,
    )
spark.stop()
