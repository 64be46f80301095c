"""Misra–Gries heavy hitters — the mergeable frequency-summary sketch.

The engine's sketch family already covers distinct counts (HLL++,
plans/events.py) and quantiles (KLL approx_percentile,
plans/relational.py); this adds the third classic: frequent items. Exact
heavy hitters is one groupBy — fine when the item domain's aggregate
fits the shuffle. The sketch path exists for the 100 TB case where it
doesn't (billions of distinct URLs/n-grams/users): each partition keeps
at most ``k`` counters regardless of domain size, summaries merge
associatively, and the deterministic guarantee survives the merge
(Agarwal et al., "Mergeable Summaries", PODS 2012):

- every item with true frequency > n/(k+1) is PRESENT in the output;
- estimates only undercount: est <= true <= est + bound, with ``bound``
  = total decrement applied (reported as a column, <= n/(k+1)).

Spark shape: ``mapInPandas`` computes one k-counter summary per
partition — per-ARROW-BATCH exact ``value_counts`` (vectorized, no
per-row Python) folded into the running summary with the merge rule
(sum counters, subtract the (k+1)-st largest, drop non-positive).
Per-partition summaries (<= partitions x k slim rows) then merge in
plain DataFrame land: a groupBy(item) sum plus one global top-(k+1)
(``functions.top_k``) to find the final (k+1)-st value. The fact
shuffles NOTHING — only sketch rows move.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imdbmapreduce_spark.functions import top_k

__all__ = ["misra_gries", "count_min", "cms_estimate"]


def _fold(counters: "pd.Series | None", batch: "pd.Series", k: int) -> tuple["pd.Series", int]:
    """Merge exact batch counts into a running k-counter summary.

    Returns (new summary, decrement applied by this fold). The merge rule
    keeps the MG invariant: subtracting the (k+1)-st largest combined
    count from everything and dropping non-positives can lower any
    single item's counter by at most that value.
    """
    combined = batch if counters is None else counters.add(batch, fill_value=0)
    if len(combined) <= k:
        return combined, 0
    # (k+1)-st largest value is the decrement
    dec = int(combined.nlargest(k + 1).iloc[-1])
    kept = combined - dec
    return kept[kept > 0], dec


def misra_gries(df: DataFrame, item: str | Column, k: int = 64) -> DataFrame:
    """Heavy-hitter summary of ``item`` with at most ``k`` counters.

    Returns ``(item, est, bound)``: est <= true count <= est + bound for
    every item present, and any item with true count > bound appears.
    ``bound`` is identical on every row (it is the global decrement).
    """
    col = F.col(item) if isinstance(item, str) else item
    items = df.select(col.cast("long").alias("item"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: pd.Series | None = None
        dec_total = 0
        for pdf in batches:
            counts = pdf["item"].value_counts()  # exact, vectorized
            counters, dec = _fold(counters, counts, k)
            dec_total += dec
        out = (
            pd.DataFrame({"item": [], "cnt": []})
            if counters is None
            else pd.DataFrame({"item": counters.index, "cnt": counters.values})
        )
        # one sentinel row per partition carries its total decrement
        out = pd.concat(
            [out, pd.DataFrame({"item": [None], "cnt": [dec_total]})],
            ignore_index=True,
        )
        yield out.astype({"item": "Int64", "cnt": "int64"})

    partials = items.mapInPandas(partial, "item long, cnt long")
    # merged summary: <= partitions x k rows — slim by construction
    summary = (
        partials.filter(F.col("item").isNotNull()).groupBy("item").agg(F.sum("cnt").alias("cnt"))
    )
    part_dec = partials.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("dec0")
    )
    ranked = top_k(summary, k + 1, F.desc("cnt"), "item", rank="rn")
    # final prune to k: subtract the (k+1)-st largest merged count
    final_dec = ranked.filter(F.col("rn") == k + 1).agg(
        F.coalesce(F.max("cnt"), F.lit(0)).alias("dec1")
    )
    return (
        ranked.filter(F.col("rn") <= k)
        .join(F.broadcast(part_dec))
        .join(F.broadcast(final_dec))
        .select(
            "item",
            F.greatest(F.col("cnt") - F.col("dec1"), F.lit(0)).alias("est"),
            (F.col("dec0") + F.col("dec1")).alias("bound"),
        )
        .filter(F.col("est") > 0)
    )


# --- Count-Min sketch (overcounting dual of Misra-Gries) ------------------


def _cms_bucket(item: Column, j: Column, w: int) -> Column:
    """Row-j bucket of an item: xxhash64 seeded by the row index — the
    same derive-the-hash-family-from-xxhash64 trick as the sign-LSH
    hyperplanes (operators.similarity), so the sketch is pure codegen."""
    return F.pmod(F.xxhash64(item, j), F.lit(w))


def count_min(df: DataFrame, item: str | Column, d: int = 4, w: int = 512) -> DataFrame:
    """Count-Min sketch of ``item``: ``d`` hash rows x ``w`` buckets.

    Returns (j, bucket, cnt) — the d*w counter table. CMS is the
    OVERCOUNTING dual of Misra-Gries: estimates never undercount
    (est >= true always — hash collisions only add), and the expected
    overcount per row is N/w, taken min across the d rows. Unlike MG it
    answers point queries for ANY item, present or not, and merges by
    plain counter addition (linearity), which is why it is the
    distributed-systems default for per-key rate tracking.

    Spark shape: NO Python anywhere — explode the fact x d row indexes,
    one partial/final agg keyed (j, bucket). The exchange carries at
    most d*w combined rows per map task regardless of fact size, and the
    counter table is d*w slim rows total: the same nothing-but-summaries
    shuffle discipline as the MG lane, without even an Arrow boundary.
    """
    col = F.col(item) if isinstance(item, str) else item
    items = df.select(col.cast("long").alias("item"))
    rows = items.select(
        "item", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j")
    )
    return (
        rows.groupBy("j", _cms_bucket(F.col("item"), F.col("j"), w).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame, candidates: DataFrame, d: int = 4, w: int = 512
) -> DataFrame:
    """Point estimates for ``candidates`` (column ``item``) against a
    :func:`count_min` table built with the same (d, w).

    est = min over rows j of the item's bucket counter; a missing bucket
    means zero occurrences hashed there, so the estimate is 0 (the left
    join + coalesce keeps absent items answerable — CMS's advantage over
    MG, which can only speak about items it kept).

    Scale: candidates explode x d and join the d*w counter table — the
    counter side broadcasts (a few KB), so estimation is a map-only pass
    over the candidate list.
    """
    # cast to long BEFORE hashing — count_min hashed cast items, and
    # xxhash64(123L) != xxhash64('123'): an uncast string id column would
    # probe foreign buckets and silently break est >= true (review r5)
    cand = candidates.select(F.col("item").cast("long").alias("item")).distinct()
    probes = cand.select(
        "item", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j")
    ).withColumn("bucket", _cms_bucket(F.col("item"), F.col("j"), w))
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
