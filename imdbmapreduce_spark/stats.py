"""Cost-based join planning from ANALYZE-style key statistics.

Round-8's ``join_cardinality_estimate_audit`` (operators/text.py)
validated the END-BIASED histogram (exact counts for the K hottest keys
+ uniformity for the tail — Ioannidis/Poosala; the reason ANALYZE
collects most-common-value lists) as the regime-independent estimator
for join sizes under skew. This module CLOSES THE LOOP (r8 verdict
task 6): the same statistics now drive a real planning decision —
broadcast vs shuffle vs salted — instead of the static thresholds Spark
applies (``autoBroadcastJoinThreshold`` bytes; no skew model at all
before AQE sees runtime shuffle sizes).

Why this matters at 100 TB: a plain shuffle join on a low-cardinality
or Zipf key lands the hottest key's entire output on ONE reducer
regardless of executor count. Spark's static rule can't see that — the
decision is made from byte sizes before any key distribution is known;
AQE can split an oversized shuffle partition only after materializing
it. MCV stats are tiny (K rows per table, maintained by the warehouse's
ANALYZE pass), so the decision costs nothing at plan time.

Used by ``plans/events.py::events_join_estimate_driven`` (hash-checked
against a DuckDB oracle reproducing the same integer arithmetic) and
pinned by tests/test_events_extra.py: on the skewed events fixture the
estimate-driven plan salts exactly the keys whose estimated output
overflows a reducer's fair share, and measurably beats the static
shuffle plan's worst partition.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Estimate quantum: 1e-6 rows, the audit's convention — all estimator
# arithmetic is integer (truncating division, divisor-first), so the
# same numbers replay bit-for-bit in Spark, Python, and DuckDB.
EST_SCALE = 1_000_000
MCV_K = 32  # most-common-value list length (ANALYZE's default ballpark)


@dataclass(frozen=True)
class KeyStats:
    """Per-(table, key) statistics — exactly what ANALYZE TABLE ... FOR
    COLUMNS maintains: row count, NDV, and the most-common-value list
    with exact counts. ``mcv`` is sorted by (count DESC, key ASC) — a
    total order, so stats are a pure function of the data."""

    n_rows: int
    n_distinct: int
    mcv: tuple[tuple[str, int], ...]  # ((key, count), ...) top-K

    @property
    def mcv_rows(self) -> int:
        return sum(c for _, c in self.mcv)

    @property
    def tail_rows(self) -> int:
        return self.n_rows - self.mcv_rows

    @property
    def tail_distinct(self) -> int:
        return max(self.n_distinct - len(self.mcv), 0)


def key_stats(df: DataFrame, key: str, k: int = MCV_K) -> KeyStats:
    """Collect KeyStats for ``df[key]`` in two aggregations: one
    (rows, NDV) pass and one top-K head — the ANALYZE pass. Driver
    traffic is K+1 rows; at 100 TB this runs once per table per
    maintenance cycle, not per query (the whole point of statistics)."""
    tot = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col(key).cast("string")).alias("d"),
    ).first()
    head = (
        df.groupBy(F.col(key).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("k"))
        .limit(k)
        .collect()
    )
    return KeyStats(
        n_rows=int(tot["n"]),
        n_distinct=int(tot["d"]),
        mcv=tuple((r["k"], int(r["c"])) for r in head),
    )


def _qdiv(num: int, den: int) -> int:
    """(num * EST_SCALE) // den without the inflated intermediate —
    exactly equal for non-negative operands (the audit's rule)."""
    den = max(den, 1)
    q, r = divmod(num, den)
    return q * EST_SCALE + (r * EST_SCALE) // den


def estimate_join_size(a: KeyStats, b: KeyStats) -> int:
    """End-biased estimate of |a ⋈ b| on the stats' key, in EST_SCALE
    quanta (1e-6 rows). Four terms, the textbook MCV decomposition:

    - MCV ∩ MCV: exact c_a·c_b per key present in both lists;
    - a-MCV key absent from b's MCV: c_a × b's uniform tail frequency
      (tail_rows/tail_distinct) — it may still exist in b's tail;
    - symmetric for b-MCV keys absent from a's MCV;
    - tail × tail: containment assumption — the side with fewer
      distinct tail keys joins fully, so n_a·n_b / max(d_a, d_b).

    All divisions are truncating and divisor-first; the result is a
    pure integer function of the two stat objects, reproduced verbatim
    by the events_join_estimate_driven oracle.
    """
    amcv = dict(a.mcv)
    bmcv = dict(b.mcv)
    est = 0
    for k, ca in a.mcv:
        if k in bmcv:
            est += ca * bmcv[k] * EST_SCALE
        elif b.tail_distinct > 0:
            est += _qdiv(ca * b.tail_rows, b.tail_distinct)
    for k, cb in b.mcv:
        if k not in amcv and a.tail_distinct > 0:
            est += _qdiv(cb * a.tail_rows, a.tail_distinct)
    if a.tail_distinct > 0 and b.tail_distinct > 0:
        est += _qdiv(a.tail_rows * b.tail_rows, max(a.tail_distinct, b.tail_distinct))
    return est


def estimate_hot_keys(
    a: KeyStats, b: KeyStats, fair_share_rows: int, factor: int = 2
) -> list[str]:
    """Keys whose ESTIMATED join output exceeds ``factor`` × a reducer's
    fair share — the straggler condition. Only MCV keys can qualify
    (the tail is uniform by assumption), so the check is O(K)."""
    bmcv = dict(b.mcv)
    hot = []
    for k, ca in a.mcv:
        cb = bmcv.get(k)
        if cb is None:
            if b.tail_distinct == 0:
                continue
            out_scaled = _qdiv(ca * b.tail_rows, b.tail_distinct)
        else:
            out_scaled = ca * cb * EST_SCALE
        if out_scaled > factor * fair_share_rows * EST_SCALE:
            hot.append(k)
    return hot


def choose_join_strategy(
    fact: KeyStats,
    dim: KeyStats,
    shuffle_partitions: int,
    broadcast_threshold_rows: int = 1_000_000,
) -> tuple[str, list[str]]:
    """The planning decision, from statistics alone:

    - ``("broadcast", [])`` when the dim side's row count fits the
      broadcast budget — no shuffle at all beats any skew handling;
    - ``("salted", hot_keys)`` when it doesn't AND the estimated output
      of some key exceeds 2× a reducer's fair share of the estimated
      join — the case Spark's static rule gets WRONG (it would run a
      plain shuffle join and straggle on the hot key);
    - ``("shuffle", [])`` otherwise.

    The fair share is estimated_rows / shuffle_partitions — both sides
    of the comparison come from the SAME estimator, so the decision
    needs no exact pre-count of the join.
    """
    if dim.n_rows <= broadcast_threshold_rows:
        return "broadcast", []
    est_rows = estimate_join_size(fact, dim) // EST_SCALE
    fair = max(est_rows // max(shuffle_partitions, 1), 1)
    hot = estimate_hot_keys(fact, dim, fair)
    if hot:
        return "salted", hot
    return "shuffle", []


@dataclass(frozen=True)
class DfProfile:
    """df-distribution profile of a prefix-posting table — the ANALYZE
    artifact for near-dup family routing (r10 verdict task 1): how many
    tau-prefix postings exist, how many sit over the candidate-join
    df-ceiling, and the lower-median df. Pure data; the decision lives
    in :func:`choose_neardup_family`."""

    n_prefix_postings: int
    over_ceiling: int
    median_df: int
    ceiling: int

    @property
    def over_ppm(self) -> int:
        """Integer parts-per-million of prefix postings over the ceiling
        (EST_SCALE = 1e6, truncating division — replays bit-for-bit in
        DuckDB's // operator)."""
        return (self.over_ceiling * EST_SCALE) // max(self.n_prefix_postings, 1)


# Routing threshold: route to the bounded prefix join only when at most
# 5% of tau-prefix postings exceed the df-ceiling. The bounded form's
# recall loss is EXACTLY the pairs whose rarest shared shingle is hotter
# than the ceiling (dedup.py's bounded-join theorem), so the over-ceiling
# posting share is the direct proxy for that loss. Measured anchors
# (SCALE.md round-10 two-corpus matrix): rare-tail zipf sf1 = 200 ppm
# over-ceiling -> bounded recall 1.000; saturated sf1 = ~10^6 ppm ->
# bounded recall 0.068. The two regimes sit 3+ orders of magnitude from
# the threshold on either side.
NEARDUP_OVER_PPM_MAX = 50_000


def df_profile(prefix_postings: DataFrame, ceiling: int) -> DfProfile:
    """Collect a :class:`DfProfile` from a prefix-posting frame carrying
    a ``df`` column (dedup.py's ranked-shingle artifact filtered to the
    tau-prefix). One histogram aggregation (groupBy df) + driver-side
    arithmetic over the collected histogram — the number of DISTINCT df
    values with at least one shingle is <= sqrt(2·postings) (values
    1,2,...,m alone sum to m(m+1)/2 <= postings), so driver traffic
    stays ANALYZE-sized at any corpus scale. Median is the LOWER median
    (the df at sorted position (n+1)//2), the same integer the audit
    oracle computes with row_number.

    Extreme-scale note: at 10^12 postings the sqrt bound is ~1.4M driver
    rows — still collectible, but the DECISION needs only the
    over-ceiling share, so a deployment can clamp the groupBy key to
    ``least(df, ceiling + 1)`` and bound the histogram at ``ceiling + 1``
    rows; only the reported median coarsens (to "over ceiling") on
    saturated corpora. Kept exact here so the audit oracle can pin the
    true median."""
    hist = (
        prefix_postings.groupBy(F.col("df").cast("long").alias("df"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy("df")
        .collect()
    )
    n = sum(int(r["c"]) for r in hist)
    over = sum(int(r["c"]) for r in hist if int(r["df"]) > ceiling)
    med, acc, target = 0, 0, (n + 1) // 2
    for r in hist:
        acc += int(r["c"])
        if acc >= target:
            med = int(r["df"])
            break
    return DfProfile(
        n_prefix_postings=n, over_ceiling=over, median_df=med, ceiling=ceiling
    )


def choose_neardup_family(
    profile: DfProfile, over_ppm_max: int = NEARDUP_OVER_PPM_MAX
) -> str:
    """The near-dup routing decision (r10 verdict task 1 — the capstone
    of the two-corpus matrix): ``"bounded_prefix"`` when the corpus has
    a genuine rare tail (over-ceiling posting share <= the threshold —
    the df-ceiling then costs ~zero recall and the bounded prefix join
    is the fastest complete family, measured recall 1.000 at rare-tail
    sf1), ``"band"`` when the vocabulary is saturated (the ceiling
    truncates most prefixes, bounded recall collapses — measured 0.068
    at saturated sf1 — while the MinHash band family stays flat and
    recall-stable). O(1) driver arithmetic over the collected profile;
    consumed by dedup.py's ``neardup_pairs_routed`` and audited by
    ``neardup_family_audit`` whose oracle replays this arithmetic."""
    return "bounded_prefix" if profile.over_ppm <= over_ppm_max else "band"


# Embedding-SNM corpus-size boundary (r10 verdict task 6; MEASURED at
# the boundary in round 12 — r11 verdict task 5): the family's fixed
# (passes, window) blocking recall DECAYS with corpus size on
# tail-distribution vectors — a true pair's rank gap grows with n while
# the window stays fixed. The r10 endpoints (0.786 at n=500, 0.153 at
# n=2000, theta=0.45 truth) left 1024 as an interpolation; the round-12
# sweep (tools/emb_snm_boundary.py, exact numpy replay of the
# registered integer semantics — reproduces the r10 n=2000 point at
# 0.153 exactly) filled the gap: recall 0.538 at n=768, 0.500 at n=800,
# 0.464 at n=832, 0.357 at n=1024. The family's audited recall floor is
# 0.5 (neardup_recall_audit), so the interpolated 1024 was past the
# crossing; the boundary now sits at the last sweep point ABOVE the
# floor. Past it the adaptive-cell SemDeDup layout is the right tool
# (its sqrt(n) cell count keeps same-cell recall scale-stable).
EMB_SNM_MAX_VECTORS = 768


def choose_embedding_neardup_family(n_vectors: int) -> str:
    """Route embedding near-dup candidate generation by corpus size
    (the measured boundary above): ``"snm"`` — codebook-free sorted-
    projection windows — up to EMB_SNM_MAX_VECTORS, ``"cells"`` — the
    IVF-cell SemDeDup layout — past it. The one-number twin of
    :func:`choose_neardup_family`; consumed by
    ``similarity.embedding_neardup_routed``, flip pinned in
    tests/test_similarity.py."""
    return "snm" if n_vectors <= EMB_SNM_MAX_VECTORS else "cells"


def assert_routed_family(
    query_name: str, family: str, oracle_branch: str, profile
) -> None:
    """Contract guard for statistics-routed REGISTERED queries (ADVICE
    r11): each routed query registers the oracle of the branch its
    checked corpora route to, so a corpus whose statistics route
    elsewhere must fail LOUDLY with the routing numbers in hand — a
    diagnosable "re-register the oracle for this corpus shape" error —
    instead of surfacing as a bare value-hash mismatch in the driver
    sweep. The forced-branch helpers (``_neardup_routed``,
    ``_neardup_ingest_by_family``, ``_embedding_neardup_by_family``)
    remain the way to RUN the other branch (the band branch of the
    first two is ``dedup._minhash_pairs``, batch and arrival mode);
    this guard only protects the oracle-checked entry point's
    contract."""
    if family != oracle_branch:
        raise RuntimeError(
            f"{query_name}: statistics routed to family {family!r} but the "
            f"registered oracle replays the {oracle_branch!r} branch "
            f"(profile: {profile}). The result would be correct but could "
            "not hash-match its oracle — run the forced-branch helper for "
            "this corpus, or re-register the oracle for its shape."
        )


def choose_agg_salting(
    stats: KeyStats, shuffle_partitions: int, factor: int = 2
) -> tuple[str, list[str]]:
    """The AGGREGATION twin of :func:`choose_join_strategy` (r9 verdict
    task 5): decide from the same ANALYZE statistics whether a group-by
    on this key needs the explicit two-stage salted form.

    - ``("salted", hot_keys)`` when some key's row count exceeds
      ``factor`` x a reducer's fair share (n_rows / shuffle_partitions)
      — the straggler condition for aggregates whose per-key state does
      NOT stay tiny under partial aggregation (collect_set,
      count-distinct, percentile sketches): every row of a hot key
      lands on one reducer in the plain plan;
    - ``("plain", [])`` otherwise — a uniform or high-cardinality key
      never concentrates more than the fair share, and the salt's
      second exchange is pure overhead.

    Only MCV keys can qualify (the tail is uniform by assumption), so
    the check is O(K) driver arithmetic over stats the warehouse's
    ANALYZE pass already maintains — the decision costs nothing at plan
    time, which is the point at 100 TB: pick the shape from statistics,
    not by materializing the straggler first.
    """
    fair = max(stats.n_rows // max(shuffle_partitions, 1), 1)
    hot = [k for k, c in stats.mcv if c > factor * fair]
    if hot:
        return "salted", hot
    return "plain", []
