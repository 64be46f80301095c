"""Run the dedup token waterfall at the third decade (sf1, 50k docs) on
BOTH corpus shapes, with the near-dup pair stage chosen by the round-11
family router (r10 verdict task 7): `choose_neardup_family` profiles
each corpus's ranked-shingle df distribution and picks bounded-prefix
(rare-tail/zipf) or the MinHash band family (saturated), exactly as the
standing `neardup_pairs_routed` query would.

Per corpus, prints the router profile + decision, per-stage walls, and
the four waterfall rows (docs/tokens surviving, tokens_kept_ppm of
raw). The keeper rule replicates `neardup_cluster_keepers`'s
survivorship (quality DESC, n_tokens DESC, doc_id ASC struct-argmax)
over the ROUTED pair components; raw/exact/scrub stages are the
registered operators themselves.

Usage: python tools/waterfall_scale.py [corpus_dir ...]
Defaults to fixtures/sf1 (saturated) and fixtures/sf1_zipf (rare-tail).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402


def run(spark, sf_dir: str) -> dict:
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.functions import tokens
    from imdbmapreduce_spark.operators.dedup import (
        _JAC_DF_CEIL,
        _neardup_routed,
        _prefix_postings,
        connected_components,
        dedup_exact,
        exact_substr_spans,
    )
    from imdbmapreduce_spark.operators.text import doc_quality
    from imdbmapreduce_spark.stats import choose_neardup_family, df_profile

    walls: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        walls[name] = round(time.monotonic() - t0, 2)
        return out

    prof = timed("router_profile", lambda: df_profile(_prefix_postings(spark, sf_dir), _JAC_DF_CEIL))
    family = choose_neardup_family(prof)

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_toks"))

    keep1 = timed(
        "exact_dedup",
        lambda: dedup_exact(spark, sf_dir)
        .select(F.col("keep_id").alias("doc_id"))
        .localCheckpoint(),
    )
    pairs = timed(
        "routed_pairs",
        lambda: _neardup_routed(spark, sf_dir, family)
        .select("doc_a", "doc_b")
        .localCheckpoint(),
    )
    clusters = timed(
        "components",
        lambda: connected_components(
            docs.select(F.col("doc_id").alias("node")),
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        ).localCheckpoint(),
    )

    def keepers():
        # neardup_cluster_keepers' survivorship over the ROUTED clusters:
        # quality gate first, then token count, then lowest id
        qual = doc_quality(spark, sf_dir).select("doc_id", "n_tokens", "is_quality")
        scored = clusters.select(F.col("node").alias("doc_id"), "cluster_id").join(
            qual, "doc_id", "left"
        )
        best = scored.groupBy("cluster_id").agg(
            F.max(
                F.struct(
                    F.coalesce("is_quality", F.lit(False)).alias("q"),
                    F.coalesce("n_tokens", F.lit(0)).alias("nt"),
                    (-F.col("doc_id")).alias("negid"),
                )
            ).alias("b")
        )
        return best.select((-F.col("b.negid")).cast("long").alias("doc_id"))

    keep2 = timed("keepers", lambda: keep1.join(keepers(), "doc_id").localCheckpoint())
    cut = timed(
        "exactsubstr_spans",
        lambda: exact_substr_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("long").alias("cut"))
        .localCheckpoint(),
    )

    def stage_row(df):
        r = df.agg(
            F.count(F.lit(1)).cast("long").alias("d"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("long").alias("t"),
        ).first()
        return int(r["d"]), int(r["t"])

    scrubbed = (
        tok.join(keep2, "doc_id")
        .join(cut, "doc_id", "left")
        .select((F.col("n_toks") - F.coalesce("cut", F.lit(0))).alias("n_toks"))
    )
    t0 = time.monotonic()
    rows = [
        ("raw", *stage_row(tok)),
        ("exact_dedup", *stage_row(tok.join(keep1, "doc_id"))),
        ("neardup_keepers", *stage_row(tok.join(keep2, "doc_id"))),
        ("exactsubstr_scrub", *stage_row(scrubbed)),
    ]
    walls["waterfall_aggs"] = round(time.monotonic() - t0, 2)
    raw_t = rows[0][2]
    table_rows = [
        {
            "stage": name,
            "n_docs": d,
            "n_tokens": t,
            "tokens_kept_ppm": (t * 1_000_000) // max(raw_t, 1),
        }
        for name, d, t in rows
    ]
    return {
        "corpus": sf_dir,
        "profile": {
            "n_prefix_postings": prof.n_prefix_postings,
            "over_ceiling": prof.over_ceiling,
            "over_ppm": prof.over_ppm,
            "median_df": prof.median_df,
        },
        "family": family,
        "walls_sec": walls,
        "waterfall": table_rows,
    }


def main() -> None:
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.session import get_spark

    dirs = sys.argv[1:] or [
        os.path.join(ROOT, "fixtures", d) for d in ("sf1", "sf1_zipf")
    ]
    spark = get_spark(app_name="waterfall-scale")
    for d in dirs:
        print(json.dumps(dict(run(spark, d), load_1m=round(os.getloadavg()[0], 2))), flush=True)
        release_shared_caches()
    spark.stop()


if __name__ == "__main__":
    main()
