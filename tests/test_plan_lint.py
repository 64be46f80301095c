"""Repo-wide physical-plan lint: sweep EVERY registered batch query and
assert the two 100 TB anti-patterns are absent everywhere —

- ``CartesianProduct``: an unkeyed |left|×|right| join. Zero tolerance.
- ``BatchEvalPython``: row-at-a-time Python UDF evaluation in a plan.
  All Python in this repo runs through Arrow lanes (``ArrowEvalPython``
  / ``MapInPandas`` / ``FlatMapGroupsInPandas``), which are allowed.

``BroadcastNestedLoopJoin`` is allowed ONLY on an exact whitelist:
every member is a scalar-subquery or bounded-literal build side (≤ a
few rows by construction), where BNLJ is Spark's standard physical form
and cost is |fact| × O(1). The whitelist is asserted EXACTLY, so a new
query that introduces an unbounded BNLJ — or an existing one whose plan
regresses — fails the lint rather than hiding in the allowed set.

A global ``Window`` (empty ``partitionSpec``) runs in ONE task, so it
is allowed only over a bounded input: either directly on a
``TakeOrderedAndProject`` (the global form of ``functions.top_k``, at
most k rows) or in the exact allowlist ``_GLOBAL_WINDOW_ALLOWED``,
each member with the frame that bounds it.

This is the executable form of the SCALE.md claims "no cartesian
products" and "all analytical hot paths are codegen expressions".
"""

from __future__ import annotations

from imdbmapreduce_spark import registry

# BNLJ sites with a provably bounded build side:
#   q11_important_stock        — scalar threshold subquery (1 row)
#   q22_dormant_rich_customers — scalar avg-balance subquery (1 row)
#   tfidf_top_terms            — scalar |corpus| count (1 row)
#   events_heavy_hitters_sketch— scalar error-bound self-audit (1 row)
#   neardup_graph_triangles    — single-row scalar-metric assembly joins
#   price_band_assignment      — 4-row literal band table (the documented
#                                non-equi theta join; price_band_bucketed
#                                is its equi-join scale path)
_BNLJ_ALLOWED = {
    "q11_important_stock",
    "q22_dormant_rich_customers",
    "tfidf_top_terms",
    "events_heavy_hitters_sketch",
    "neardup_graph_triangles",
    "price_band_assignment",
    # scalar-threshold broadcast (1-row build side, the q11 pattern)
    "sessions_during_error_spikes",
    # 1-row corpus-stats build side (N, total tokens), the tfidf pattern
    "doc_bm25_topk",
    # 1-row |corpus| count build side (the tfidf pattern)
    "term_pmi_pairs",
    # inherits doc_bm25_topk's 1-row stats build via the shared
    # bm25_scores lexical stage
    "rrf_hybrid_retrieval",
    # single-row scalar-metric assembly joins (the triangles pattern):
    # n_build_keys x n_set_bits x the 1-row confusion aggregate
    "bloom_semijoin_audit",
    # per-arm 1-row (counts) x (hits) scalar assembly, x4 index families
    "ann_recall_audit",
    # 1-row event-count build side for the overcount bound (the q11
    # scalar-threshold pattern; r7 — N entered the plan lazily instead
    # of an eager driver .count())
    "events_cms_audit",
    # 1-row (n, over_c) totals broadcast into the sqrt-bounded df
    # histogram for the lower-median scan (the q11 pattern)
    "neardup_family_audit",
    # 1-row n_orders build side (r13 — the tfidf pattern: the previous
    # driver-blocking distinct().count() now enters the plan lazily)
    "order_basket_lift",
    # the LM ladder's 1-row builds: the corpus token total (every
    # Jelinek-Mercer rung, and ccnet's bigram scores), Kneser-Ney's
    # bigram-type count and ccnet's two tertile cutoffs (the
    # order_basket_lift pattern: scalars that entered by .first())
    "doc_unigram_logprob",
    "doc_bigram_logprob",
    "doc_trigram_logprob",
    "doc_5gram_logprob",
    "doc_kn_bigram_logprob",
    "ccnet_perplexity_buckets",
}


# Global windows NOT on a TakeOrderedAndProject, each over a frame whose
# size does not grow with the corpus:
_GLOBAL_WINDOW_ALLOWED = {
    "dedup_token_waterfall",  # the 4-row stage frame
    "file_compaction_plan",  # _CMP_FILES file stats
    "neardup_family_audit",  # the sqrt-bounded df histogram
    "orders_seasonal_decomposition",  # months
    "part_price_size_skyline",  # distinct prices
    # |suppliers|: the max-revenue window keeps q15 to a single fact
    # scan (pinned in test_tpch2.py)
    "q15_top_supplier",
    "quality_threshold_sweep",  # the bucket grid
    "source_budget_waterfill",  # |sources|
    "source_temperature_mix",  # |sources|
}


def _global_window_children(plan):
    """Node names of the children of every Window in ``plan`` (a JVM
    SparkPlan) whose partitionSpec is empty."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            out.append(node.child().nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_no_cartesian_no_row_python_bounded_bnlj(spark, sf_dir):
    cartesian, row_python, bnlj, global_window = [], [], [], []
    for name, fn in registry.all_queries().items():
        if name.startswith("streaming_"):
            continue  # streaming plans are covered by test_streaming.py
        spark_plan = fn(spark, sf_dir)._jdf.queryExecution().sparkPlan()
        plan = spark_plan.toString()
        if "Window" in plan and any(
            child != "TakeOrderedAndProject"
            for child in _global_window_children(spark_plan)
        ):
            global_window.append(name)
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_python.append(name)
        if "BroadcastNestedLoopJoin" in plan:
            bnlj.append(name)
    assert not cartesian, f"unkeyed cross joins: {cartesian}"
    assert not row_python, f"row-at-a-time Python: {row_python}"
    assert set(bnlj) == _BNLJ_ALLOWED, (
        f"BNLJ drift — new: {set(bnlj) - _BNLJ_ALLOWED}, "
        f"stale whitelist: {_BNLJ_ALLOWED - set(bnlj)}"
    )
    assert set(global_window) == _GLOBAL_WINDOW_ALLOWED, (
        f"unbounded global Window — new: {set(global_window) - _GLOBAL_WINDOW_ALLOWED}, "
        f"stale allowlist: {_GLOBAL_WINDOW_ALLOWED - set(global_window)}"
    )
