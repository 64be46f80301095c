"""Attribute the rare-tail (sf1_zipf) waterfall's two cost centers
(r11 verdict task 4): `neardup_cluster_keepers`' survivorship stage
measured 33.5 s and ExactSubstr span mining 73.4 s on the zipf corpus
vs 2.0/5.1 s saturated (SCALE.md round 11). This tool decomposes both
into their sub-stages on BOTH corpus shapes so the delta has an owner:

keepers   = doc_quality scan (map-only token stats)
          + components join + struct-argmax survivorship
exactsubstr = window digesting (posexplode + per-doc lead window + md5)
          + digest count / dup filter (the global shuffle)
          + island merge

Also reports the volume drivers: token counts, window counts, distinct
digests, duplicated-window rows — the numbers that decide whether a
stage is inherent linear work or a fixable plan shape.

Usage: python tools/profile_rare_tail.py [corpus_dir ...]
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
    from imdbmapreduce_spark.catalog import parallelize_scan, table
    from imdbmapreduce_spark.functions import tokens
    from imdbmapreduce_spark.operators.dedup import (
        _JAC_DF_CEIL,
        _neardup_routed,
        _prefix_postings,
        _xs_islands_to_spans,
        _xs_windows_of,
        connected_components,
    )
    from imdbmapreduce_spark.operators.text import doc_quality
    from imdbmapreduce_spark.stats import choose_neardup_family, df_profile

    walls: dict[str, float] = {}
    vols: dict[str, int] = {}

    def timed(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        walls[name] = round(time.monotonic() - t0, 2)
        return out

    docs = table(spark, sf_dir, "documents")
    vols["n_docs"] = docs.count()
    vols["n_tokens"] = int(
        docs.select(F.sum(F.size(tokens("text")))).first()[0]
    )

    # --- keepers decomposition -------------------------------------------
    qual = timed(
        "keepers.doc_quality",
        lambda: doc_quality(spark, sf_dir)
        .select("doc_id", "n_tokens", "is_quality")
        .localCheckpoint(),
    )
    fam = choose_neardup_family(
        df_profile(_prefix_postings(spark, sf_dir), _JAC_DF_CEIL)
    )
    pairs = timed(
        "keepers.routed_pairs",
        lambda: _neardup_routed(spark, sf_dir, fam)
        .select("doc_a", "doc_b")
        .localCheckpoint(),
    )
    clusters = timed(
        "keepers.components",
        lambda: connected_components(
            docs.select(F.col("doc_id").alias("node")),
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        ).localCheckpoint(),
    )

    def survivorship():
        scored = clusters.select(F.col("node").alias("doc_id"), "cluster_id").join(
            qual, "doc_id", "left"
        )
        return scored.groupBy("cluster_id").agg(
            F.max(
                F.struct(
                    F.coalesce("is_quality", F.lit(False)).alias("q"),
                    F.coalesce("n_tokens", F.lit(0)).alias("nt"),
                    (-F.col("doc_id")).alias("negid"),
                )
            ).alias("b")
        )

    timed("keepers.survivorship_argmax", lambda: survivorship().count())

    # --- exactsubstr decomposition ---------------------------------------
    wins = timed(
        "xs.window_digests",
        lambda: _xs_windows_of(parallelize_scan(docs)).localCheckpoint(),
    )
    vols["n_windows"] = wins.count()
    dup_h = timed(
        "xs.digest_count",
        lambda: wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .localCheckpoint(),
    )
    vols["n_dup_digests"] = dup_h.count()
    vols["n_distinct_digests"] = wins.select("h").distinct().count()
    dupw = timed(
        "xs.dup_semijoin",
        lambda: wins.join(dup_h.select("h"), "h", "left_semi")
        .select("doc_id", "pos")
        .localCheckpoint(),
    )
    vols["n_dup_windows"] = dupw.count()
    timed("xs.island_merge", lambda: _xs_islands_to_spans(dupw).count())

    return {
        "corpus": os.path.basename(sf_dir),
        "family": fam,
        "walls_sec": walls,
        "volumes": vols,
        "load_1m": round(os.getloadavg()[0], 2),
    }


def main() -> None:
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.session import get_spark

    dirs = sys.argv[1:] or [
        os.path.join(ROOT, "fixtures", d) for d in ("sf1", "sf1_zipf")
    ]
    spark = get_spark(app_name="profile-rare-tail")
    for d in dirs:
        print(json.dumps(run(spark, d)), flush=True)
        release_shared_caches()
    spark.stop()


if __name__ == "__main__":
    main()
