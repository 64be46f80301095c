"""Two-corpus recall/cost matrix for the near-dup join families
(r9 verdict task 3: the corpus-routing claim — "df-ceiling for
rare-tail corpora, band/SNM families for saturated ones" — measured on
BOTH corpus shapes, not just the saturated one).

For the documents table at $SPARK_GRAFT_SF_DIR, per family:

- wall seconds for the exact form (cold = includes shared-artifact
  build on first query; warm = second materialization) and the bounded
  form (warm);
- recall of the bounded/band/SNM gate against the exact form's truth
  (pair-set intersection counts via joins — nothing driver-sized but
  the final scalars).

Arms (pass names as argv to run a subset):
  jaccard      exact vs bounded prefix join + recall
  containment  exact vs bounded containment join + recall
  ingest       exact vs bounded containment arrival gate + recall
  snm          SNM candidate window vs the exact-jaccard truth
  minhash      MinHash LSH pairs vs the exact-jaccard truth

    SPARK_GRAFT_SF_DIR=fixtures/sf1_zipf \
        python tools/recall_cost_matrix.py
    SPARK_GRAFT_SF_DIR=fixtures/sf1 \
        python tools/recall_cost_matrix.py jaccard ingest
"""
from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from imdbmapreduce_spark import registry  # noqa: E402
from imdbmapreduce_spark.cache import stable_checkpoint  # noqa: E402
from imdbmapreduce_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
arms = sys.argv[1:] or ["jaccard", "containment", "ingest", "snm", "minhash"]

spark = get_spark(app_name="recall_cost_matrix")
spark.sparkContext.setLogLevel("ERROR")
Q = registry.all_queries()


def timed_ckpt(name: str):
    """Materialize a query's ordered pair set once via checkpoint,
    returning (frame, wall)."""
    t0 = time.monotonic()
    df = stable_checkpoint(Q[name](spark, sf_dir).select("doc_a", "doc_b"))
    return df, time.monotonic() - t0


def warm(name: str) -> float:
    t0 = time.monotonic()
    Q[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def recall(gate, truth) -> tuple[int, int, int, float]:
    nt = truth.count()
    ng = gate.count()
    nh = truth.join(gate, ["doc_a", "doc_b"]).count()
    return nt, ng, nh, (nh / nt if nt else float("nan"))


def report(arm: str, exact_cold, exact_warm, bounded_warm, rec) -> None:
    nt, ng, nh, r = rec
    print(
        f"MATRIX\t{os.path.basename(sf_dir)}\t{arm}\t"
        f"exact_cold={exact_cold:.2f}\texact_warm={exact_warm:.2f}\t"
        f"bounded_warm={bounded_warm:.2f}\t"
        f"n_true={nt}\tn_gate={ng}\tn_hits={nh}\trecall={r:.3f}",
        flush=True,
    )


jac_truth = None
if {"jaccard", "snm", "minhash"} & set(arms):
    jac_truth, jac_cold = timed_ckpt("jaccard_prefix_join")
    jac_warm = warm("jaccard_prefix_join")

if "jaccard" in arms:
    bounded, _ = timed_ckpt("jaccard_prefix_join_bounded")
    bwarm = warm("jaccard_prefix_join_bounded")
    report("jaccard", jac_cold, jac_warm, bwarm, recall(bounded, jac_truth))

if "containment" in arms:
    truth, cold = timed_ckpt("containment_prefix_join")
    w = warm("containment_prefix_join")
    bounded, _ = timed_ckpt("containment_prefix_join_bounded")
    bwarm = warm("containment_prefix_join_bounded")
    report("containment", cold, w, bwarm, recall(bounded, truth))

if "ingest" in arms:
    truth, cold = timed_ckpt("containment_incremental_ingest")
    w = warm("containment_incremental_ingest")
    bounded, _ = timed_ckpt("containment_incremental_ingest_bounded")
    bwarm = warm("containment_incremental_ingest_bounded")
    report("ingest", cold, w, bwarm, recall(bounded, truth))

if "snm" in arms:
    from imdbmapreduce_spark.operators.dedup import _snm_candidates

    t0 = time.monotonic()
    gate = stable_checkpoint(
        _snm_candidates(spark, sf_dir).select("doc_a", "doc_b")
    )
    gwall = time.monotonic() - t0
    report("snm_window", gwall, gwall, gwall, recall(gate, jac_truth))

if "minhash" in arms:
    t0 = time.monotonic()
    gate = stable_checkpoint(Q["minhash_lsh_pairs"](spark, sf_dir).select("doc_a", "doc_b"))
    gwall = time.monotonic() - t0
    report("minhash_lsh", gwall, gwall, gwall, recall(gate, jac_truth))
