"""Similarity search over the ``embeddings`` table (north-star scope).

Generalizes the reference's one similarity primitive — the broadcast
set-intersection count R7 (/root/reference/Code/mapReduce.erl:150-153,
probe cast vs every movie) — from token sets to dense vectors: a small
probe set is broadcast against the corpus and each corpus row is scored,
exactly the title-query shape with cosine in place of intersection size.

Two plans:

- :func:`knn_bruteforce` — exact cosine top-k, the oracle-checked
  baseline. Scoring runs in **quantized integer space**: components are
  rounded to 1e-6 units once, so dot products and squared norms are exact
  BIGINT sums — order-independent (safe under any partitioning/AQE
  reshuffle) and bit-reproducible in DuckDB, which a double accumulation
  is not. Cosine is then a single double op over identical integers.
- :func:`ann_lsh_topk` — the sub-linear scale path: random-hyperplane
  (sign) LSH restricts scoring to same-bucket candidates. Hyperplanes are
  Rademacher (±1 per dimension) derived from xxhash64, so bucket codes are
  pure codegen expressions — no UDF, no model object to ship. Rows-only at
  the driver (hash family isn't SQL-portable); recall vs the exact plan is
  locked by tests/test_similarity.py.

Scale: probes broadcast (R7's own pattern); the corpus never self-joins.
The one shuffle keys on (q_id, vec_id) — cardinality |probes|×|corpus|,
uniform by construction. At 100 TB the brute-force plan is the per-probe
linear scan you fall back to for exactness; the LSH plan trades one extra
scan (bucket build) for scoring only the colliding fraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from imdbmapreduce_spark import indexstore
from imdbmapreduce_spark.cache import (
    shared_cache,
    stable_checkpoint,
    stable_checkpoint_lazy,
)
from imdbmapreduce_spark.catalog import table
from imdbmapreduce_spark.functions import top_k
from imdbmapreduce_spark.registry import query, unrolled_cte

# Component quantization scale: 1e-6 units. Unit-norm components are
# |x| <= 1, so |v| <= 1e6, dot <= 64e12 and norm2 <= ~1e12 — far inside
# BIGINT. Rounding error per component <= 5e-7 => cosine error <= ~1e-5,
# irrelevant for ranking and identical in both engines.
_SCALE = 1_000_000
_N_PROBES = 10  # probe set: vec_id < 10 queries the rest of the corpus
_TOP_K = 5

# LSH: L tables of B sign-bits each. Collision prob per table for angle
# theta is (1 - theta/pi)^B; this corpus's neighbors sit near cos 0.5
# (theta ~ 60deg, per-bit agreement 2/3), so B=6, L=16 gives
# 1-(1-(2/3)^6)^16 ~ 0.77 per-neighbor recall while background pairs
# (cos ~ 0, agreement 1/2) collide at 1/64 per table. B and L are THE
# tuning knobs: tighter corpora (cos 0.9 dups) take B=16+ with far fewer
# tables.
_LSH_BITS = 6
_LSH_TABLES = 16


def quantized_components(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, pos, v): embedding exploded to exact BIGINT 1e-6 units."""
    return df.select(
        F.col(id_col), F.posexplode("embedding").alias("pos", "val")
    ).select(
        id_col,
        "pos",
        F.round(F.col("val").cast("double") * _SCALE).cast("long").alias("v"),
    )


def _norms(ex: DataFrame) -> DataFrame:
    return ex.groupBy("vec_id").agg(F.sum(F.col("v") * F.col("v")).alias("n2"))


def _shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized component table, materialized once per session and
    shared by every vector query (brute-force, both ANN plans) — the
    index-build artifact a vector store would persist, as a bounded,
    releasable cache (see imdbmapreduce_spark.cache)."""
    return shared_cache(
        spark,
        ("quantized_components", sf_dir),
        lambda: quantized_components(table(spark, sf_dir, "embeddings")),
    )


def _long_sum(arr) -> Column:
    """Exact int64 sum of a BIGINT array column."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _quantized_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vq, n2): each embedding as ONE row holding its BIGINT
    1e-6 component array and exact squared norm — the frame every
    array-cosine verify (MMR pool pairs, the ANN rescore, the embedding
    SNM verify) joins its candidate pairs to, scored by
    :func:`_array_cosine`.

    r12/r13: each pair ships two 64-long arrays in one row per side,
    where the exploded-component plans multiplied every candidate into
    d rows per side and paid a (id, pos)-keyed exchange, a pair-keyed
    dot aggregation and two norm joins (sf1 SNM verify warm 53.0 →
    6.4 s; plans/r13/mmr_diversified_topk_{before,after}.txt). Same
    F.round HALF_UP quantization as :func:`quantized_components` and
    exact long sums, so cosines match the exploded-join oracles
    bit-for-bit. Callers join it with plain shuffle joins on the pair
    ids (or broadcast a query-sized slice): it is |vectors|-row
    DATA-sized."""
    vq = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * _SCALE).cast("long")
    )
    return (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", vq.alias("vq"))
        .withColumn("n2", _long_sum(F.transform("vq", lambda v: v * v)))
    )


def _array_cosine(va: str, na: str, vb: str, nb: str) -> Column:
    """Exact quantized cosine of two :func:`_quantized_arrays` rows: the
    int64 zip_with dot over the product of the norms' square roots."""
    dot = _long_sum(F.zip_with(va, vb, lambda x, y: x * y))
    return dot.cast("double") / (
        F.sqrt(F.col(na).cast("double")) * F.sqrt(F.col(nb).cast("double"))
    )


_KNN_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS pos,
         CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
  FROM embeddings CROSS JOIN range(1, 4097) t(i)
  WHERE CAST(t.i AS INTEGER) <= len(embedding)
),
probes AS (SELECT vec_id AS q_id, pos, v AS qv FROM ex WHERE vec_id < {_N_PROBES}),
corpus AS (SELECT * FROM ex WHERE vec_id >= {_N_PROBES}),
norms AS (SELECT vec_id, SUM(v*v) AS n2 FROM ex GROUP BY vec_id),
dots AS (
  SELECT p.q_id, c.vec_id, SUM(p.qv * c.v) AS dot
  FROM corpus c JOIN probes p USING (pos)
  GROUP BY p.q_id, c.vec_id
),
scored AS (
  SELECT d.q_id, d.vec_id AS neighbor_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.q_id
  JOIN norms nc ON nc.vec_id = d.vec_id
)
SELECT q_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {_TOP_K}
"""


@query("knn_bruteforce", oracle=_KNN_ORACLE)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 (_TOP_K): each probe vector vs the whole corpus.

    Plan: explode probe components (tiny — broadcast), explode corpus
    components, equi-join on position, one hash-agg keyed (q_id, vec_id)
    summing exact integer products, then a per-probe row_number top-k.

    Scale: the corpus-side explode is a narrow map (no shuffle); the only
    exchange carries |probes| x |corpus| partial sums — with map-side
    combine that is the true lower bound for exact scoring. The window's
    partition count equals |probes|, so top-k parallelism is probe-bound;
    for thousand-probe batches swap the window for a groupBy(q_id)
    min_by-heap agg. Ranking compares doubles built from identical
    integers, so result order is engine-stable.
    """
    return _nearest(_probe_scored(spark, sf_dir), _TOP_K)


def _nearest(scored: DataFrame, k: int) -> DataFrame:
    """Per-probe top-``k`` of (q_id, neighbor_id, cosine, ...) rows by
    cosine, ties broken on neighbor_id — the one ranking every exact and
    ANN scorer ends in."""
    return top_k(scored, k, F.desc("cosine"), "neighbor_id", by="q_id")


def _probe_scored(spark: SparkSession, sf_dir: str, q_pred=None) -> DataFrame:
    """(q_id, neighbor_id, cosine): every query scored against every
    non-query vector — the shared exact-scoring stage of
    :func:`knn_bruteforce` and :func:`mmr_diversified_topk` (expression
    shapes are part of the determinism contract; both consumers' oracles
    mirror them). ``q_pred`` (Column over vec_id) selects the query set;
    default is the standing probe set (vec_id < _N_PROBES). The ANN
    recall audit's arrival arm passes the shard predicate — there the
    "probe" side is ~10% of the corpus, acceptable for an audit (a
    production recall audit SAMPLES the shard; the plan shape is
    unchanged)."""
    if q_pred is None:
        q_pred = F.col("vec_id") < _N_PROBES
    ex = _shared_components(spark, sf_dir)
    probes = ex.filter(q_pred).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("v").alias("qv")
    )
    corpus = ex.filter(~q_pred)
    norms = _norms(ex)
    dots = (
        corpus.join(F.broadcast(probes), "pos")
        .groupBy("q_id", "vec_id")
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
    )
    # only the |probes| norm rows can ever match q_id — filter BEFORE the
    # broadcast so the shipped table is probe-sized, not corpus-sized
    nq = F.broadcast(
        norms.filter(q_pred)
        .select(F.col("vec_id").alias("q_id"), F.col("n2").alias("n2_q"))
    )
    nc = norms.select(F.col("vec_id").alias("neighbor_id"), F.col("n2").alias("n2_c"))
    return (
        dots.withColumnRenamed("vec_id", "neighbor_id")
        .join(nq, "q_id")
        .join(nc, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2_q").cast("double")) * F.sqrt(F.col("n2_c").cast("double")))
            ).alias("cosine"),
        )
    )


# --- MMR diversified re-ranking ------------------------------------------

_MMR_POOL = 20  # relevance candidates per probe entering the re-rank
_MMR_K = 5  # diversified results returned
# λ = 0.7: both engines compute 0.7·rel − 0.3·max_sim with these exact
# double literals, so scores are bit-identical.


def _mmr_oracle_sql() -> str:
    """Unrolled greedy MMR selection: the knn scoring CTEs, a top-POOL
    candidate set, the bounded pool×pool cosine matrix, then one CTE
    triple per selection step t >= 2 (the selected-so-far set, remaining
    candidates scored against it, argmax with vec_id tie-break) — the
    kmeans/pagerank unrolled-recurrence pattern applied to a greedy
    algorithm."""

    def step(i: int) -> list[tuple[str, str]]:
        t = i + 1  # round i picks the (i+1)-th result; s1 is in the base
        selected = " UNION ALL ".join(
            f"SELECT q_id, vec_id FROM s{r}" for r in range(1, t)
        )
        return [
            (f"sel{t - 1}", selected),
            (f"sc{t}", f"""
      SELECT c.q_id, c.vec_id, c.rel, 0.7 * c.rel - 0.3 * MAX(m.sim) AS mmr
      FROM cand c
      JOIN sel{t - 1} s ON s.q_id = c.q_id
      JOIN sim m ON m.q_id = c.q_id
       AND m.a = LEAST(c.vec_id, s.vec_id)
       AND m.b = GREATEST(c.vec_id, s.vec_id)
      WHERE NOT EXISTS (SELECT 1 FROM sel{t - 1} x
                        WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
      GROUP BY c.q_id, c.vec_id, c.rel
    """),
            (f"s{t}", f"""
      SELECT q_id, vec_id, rel, mmr, CAST({t} AS BIGINT) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY mmr DESC, vec_id) AS rn FROM sc{t})
      WHERE rn = 1
    """),
        ]

    final = "\n      UNION ALL ".join(
        f"SELECT q_id, vec_id, rel, mmr, rank FROM s{t}" for t in range(1, _MMR_K + 1)
    )
    base = f"""ex AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS INTEGER) AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, 4097) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ),
    probes AS (SELECT vec_id AS q_id, pos, v AS qv FROM ex WHERE vec_id < {_N_PROBES}),
    corpus AS (SELECT * FROM ex WHERE vec_id >= {_N_PROBES}),
    norms AS MATERIALIZED (SELECT vec_id, SUM(v*v) AS n2 FROM ex GROUP BY vec_id),
    dots AS (
      SELECT p.q_id, c.vec_id, SUM(p.qv * c.v) AS dot
      FROM corpus c JOIN probes p USING (pos)
      GROUP BY p.q_id, c.vec_id
    ),
    scored AS (
      SELECT d.q_id, d.vec_id AS neighbor_id,
             CAST(d.dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.q_id
      JOIN norms nc ON nc.vec_id = d.vec_id
    ),
    cand AS MATERIALIZED (
      SELECT q_id, neighbor_id AS vec_id, cosine AS rel
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
      WHERE rn <= {_MMR_POOL}
    ),
    cids AS (SELECT DISTINCT vec_id FROM cand),
    comp AS MATERIALIZED (
      SELECT e.vec_id, e.pos, e.v FROM ex e JOIN cids USING (vec_id)
    ),
    pr AS (
      SELECT a.q_id, a.vec_id AS a, b.vec_id AS b
      FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id < b.vec_id
    ),
    pdot AS (
      SELECT p.q_id, p.a, p.b, SUM(ca.v * cb.v) AS dot
      FROM pr p
      JOIN comp ca ON ca.vec_id = p.a
      JOIN comp cb ON cb.vec_id = p.b AND cb.pos = ca.pos
      GROUP BY 1, 2, 3
    ),
    sim AS MATERIALIZED (
      SELECT d.q_id, d.a, d.b,
             CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
      FROM pdot d
      JOIN norms na ON na.vec_id = d.a
      JOIN norms nb ON nb.vec_id = d.b
    ),
    s1 AS MATERIALIZED (
      SELECT q_id, vec_id, rel, mmr, CAST(1 AS BIGINT) AS rank
      FROM (SELECT q_id, vec_id, rel, 0.7 * rel AS mmr,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY 0.7 * rel DESC, vec_id) AS rn FROM cand)
      WHERE rn = 1
    )"""
    return unrolled_cte(
        base,
        step,
        _MMR_K - 1,
        f"SELECT q_id, vec_id, rel, mmr, rank FROM ({final})",
    )


@query("mmr_diversified_topk", oracle=_mmr_oracle_sql())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: for each probe, take the
    top-20 (_MMR_POOL) relevance candidates (exact cosine, the knn stage) and
    greedily select 5 (_MMR_K) of them maximizing ``0.7·rel − 0.3·max_sim`` to
    the already-selected set — the standard diversification step a
    RAG/retrieval pipeline runs so the context window isn't five copies
    of the same document. Tie-break on vec_id; scores are doubles over
    exact-integer inputs, so both engines agree to the bit.

    Plan: candidate generation is the shared exact-scoring stage
    (:func:`_probe_scored` — one |probes|×|corpus| partial-sum
    exchange); the pairwise-similarity matrix is POOL²-bounded per
    probe and computed on quantized ARRAYS (zip_with dot per pair row —
    r13; never corpus×corpus, no positional explode); the greedy loop runs per probe in ONE
    Arrow-cogrouped pandas lane (`FlatMapCoGroupsInPandas`), each group
    _MMR_POOL relevance rows + _MMR_POOL² similarity rows — constant work,
    distributed across probes. The oracle unrolls the greedy recurrence
    one CTE pair per selection step.

    Scale: probes parallelize the greedy; pool size (not corpus size)
    bounds every per-probe structure, so a 1000× corpus changes only
    the candidate-generation stage, which is the knn plan already
    graded. Swap the generation stage for an ANN plan (ann_ivf_topk's
    candidate set) for sub-linear total cost — the re-rank is agnostic.
    """
    import pandas as pd

    cand = (
        _nearest(_probe_scored(spark, sf_dir), _MMR_POOL)
        .select("q_id", F.col("neighbor_id").alias("vec_id"), F.col("cosine").alias("rel"))
        # |probes|·POOL rows referenced by four downstream plan arms
        # (pair sides, id list, greedy input) — materialize once or the
        # corpus-sized scoring stage re-runs per arm
        .transform(stable_checkpoint)
    )
    pairs = (
        cand.alias("x")
        .join(
            cand.alias("y"),
            (F.col("x.q_id") == F.col("y.q_id"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.q_id").alias("q_id"),
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
        )
    )
    # Pool-pair similarities on quantized ARRAYS (r13; see
    # _quantized_arrays): one row per pair side, no positional explode.
    vq = _quantized_arrays(spark, sf_dir)
    sim = (
        pairs.join(vq.toDF("a", "va", "n2_a"), "a")
        .join(vq.toDF("b", "vb", "n2_b"), "b")
        .select(
            "q_id", "a", "b", _array_cosine("va", "n2_a", "vb", "n2_b").alias("sim")
        )
    )

    def greedy(key: tuple, rel_pdf: "pd.DataFrame", sim_pdf: "pd.DataFrame") -> "pd.DataFrame":
        sims = {
            (a, b): s
            for a, b, s in sim_pdf[["a", "b", "sim"]].itertuples(index=False, name=None)
        }
        rel = dict(
            zip(rel_pdf["vec_id"].tolist(), rel_pdf["rel"].tolist())
        )
        remaining = sorted(rel)  # ascending ids => strict '>' breaks ties low
        selected: list[int] = []
        out = []
        while remaining and len(selected) < _MMR_K:
            best_id, best_score = None, None
            for c in remaining:
                if not selected:
                    score = 0.7 * rel[c]
                else:
                    # .get, not []: a sparse/variable-length embedding
                    # source may omit a pair from the cogrouped sim
                    # frame — degrade to sim 0.0 rather than raising a
                    # worker-side KeyError in the Arrow lane.
                    mx = max(
                        sims.get((c, s) if c < s else (s, c), 0.0)
                        for s in selected
                    )
                    score = 0.7 * rel[c] - 0.3 * mx
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            selected.append(best_id)
            remaining.remove(best_id)
            out.append((key[0], best_id, rel[best_id], best_score, len(selected)))
        return pd.DataFrame(
            out, columns=["q_id", "vec_id", "rel", "mmr", "rank"]
        )

    return (
        cand.groupBy("q_id")
        .cogroup(sim.groupBy("q_id"))
        .applyInPandas(greedy, "q_id long, vec_id long, rel double, mmr double, rank long")
    )


def _bucket_codes(ex: DataFrame) -> DataFrame:
    """(vec_id, tbl, code): one {bits}-bit sign-LSH code per table.

    Hyperplane (tbl, bit) has Rademacher components derived per dimension
    from xxhash64(pos, tbl, bit): projection = sum over pos of +-v, sign
    -> bit. Shape note: the tables dimension is EXPLODED into rows and the
    agg keys on (vec_id, tbl) with only {bits} sum buffers — a single
    flat groupBy(vec_id) with tables x bits (=96) buffers blows past the
    JIT-friendly codegen size and ran ~6x slower; 16x more input rows with
    6 buffers stays on the fast path, and map-side combine collapses the
    exchange to |vectors| x |tables| rows.
    """
    et = ex.select(
        "vec_id", "pos", "v",
        F.explode(F.sequence(F.lit(0), F.lit(_LSH_TABLES - 1))).alias("tbl"),
    )
    sums = [
        F.sum(
            F.when(F.xxhash64("pos", "tbl", F.lit(b)) % 2 == 0, F.col("v")).otherwise(-F.col("v"))
        ).alias(f"p{b}")
        for b in range(_LSH_BITS)
    ]
    proj = et.groupBy("vec_id", "tbl").agg(*sums)
    code = sum(
        (F.when(F.col(f"p{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)))
        for b in range(_LSH_BITS)
    )
    return proj.select("vec_id", "tbl", code.alias("code"))


def _quant_batch(col):
    """Quantize a pandas Series of embeddings to exact 1e-6 int64 units —
    round-half-away-from-zero, matching Spark/DuckDB ``round()``. ONE
    definition shared by every numpy lane (all-pairs blocks, in-cell
    SemDeDup) so the bit-exactness contract can't drift between them."""
    import numpy as np

    a = np.stack(col.to_numpy()).astype(np.float64) * _SCALE
    return (np.floor(np.abs(a) + 0.5) * np.sign(a)).astype(np.int64)


# Near-dup threshold: the corpus is unit-norm random vectors (pairwise
# cosine ~ N(0, 1/sqrt(64))), so 0.45 (~3.6 sigma) selects the genuine
# distribution tail — the same knob a real corpus would set at 0.9+.
_NEARDUP_THETA = 0.45


def _cosine_gram(ids_a, q_a, ids_b, q_b, upper: bool = False):
    """Every (a, b) pair of two quantized blocks with exact quantized
    cosine >= _NEARDUP_THETA, as (a ids, b ids, cosines) — the one numpy
    kernel of the in-cell SemDeDup lanes. The batch lane passes one
    block on both sides with ``upper`` (keep a_id < b_id only); the
    arrival lane passes shard vs base rows. One expression for both, so
    their cosine doubles are bit-equal."""
    import numpy as np

    dot = q_a @ q_b.T  # exact int64
    s_a = np.sqrt((q_a * q_a).sum(axis=1).astype(np.float64))
    s_b = np.sqrt((q_b * q_b).sum(axis=1).astype(np.float64))
    cos = dot.astype(np.float64) / (s_a[:, None] * s_b[None, :])
    keep = cos >= _NEARDUP_THETA
    if upper:
        keep &= ids_a[:, None] < ids_b[None, :]
    ai, bi = np.nonzero(keep)
    return ids_a[ai], ids_b[bi], cos[ai, bi]


# Block count for the pair-block decomposition. Locally 8 blocks -> 36
# tasks saturate the box; on a cluster pick B ~ sqrt(2 * total cores) so
# B(B+1)/2 block-pairs fill the executors while each row is replicated
# only B times (n*B shuffled bytes for the full n^2 pair space).
_N_BLOCKS = 8

_NEARDUP_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS pos,
         CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
  FROM embeddings CROSS JOIN range(1, 4097) t(i)
  WHERE CAST(t.i AS INTEGER) <= len(embedding)
),
norms AS (SELECT vec_id, SUM(v*v) AS n2 FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.a_id, d.b_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
  FROM dots d
  JOIN norms na ON na.vec_id = d.a_id
  JOIN norms nb ON nb.vec_id = d.b_id
)
SELECT a_id, b_id, cosine FROM scored WHERE cosine >= {_NEARDUP_THETA}
"""


@query("neardup_embedding_cosine", oracle=_NEARDUP_ORACLE)
def neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with cosine >= theta.

    The all-pairs analog of the reference's R7 probe-vs-corpus scoring
    (/root/reference/Code/mapReduce.erl:150-153) — here the "probe set" is
    the corpus itself, so the plan is a **block outer product**: vectors
    hash into B blocks, every unordered block pair (i <= j) becomes one
    cogroup task, and each task scores its two blocks with a single int64
    gram-matrix multiply (numpy, Arrow-batched via applyInPandas). This is
    the one lane where a Pandas UDF beats expressions: an n^2 pairwise
    explode-join would shuffle n^2 * d rows, while the block form shuffles
    n * B rows total and does the O(n^2 d) arithmetic inside BLAS-shaped
    batches.

    Exactness: components quantize to 1e-6 integer units (same contract as
    :func:`knn_bruteforce`), so the numpy int64 matmul, the DuckDB oracle
    and any Spark expression form agree bit-for-bit; the theta comparison
    is therefore deterministic.

    Scale: shuffled volume is n*B rows (each vector to its B block-pair
    tasks); task memory is two blocks (~2n/B vectors) — pick B so a block
    fits executor memory with headroom. No skew: blocks are id-uniform.
    """
    import numpy as np
    import pandas as pd

    pair_rows = [(i * _N_BLOCKS + j, i, j) for i in range(_N_BLOCKS) for j in range(i, _N_BLOCKS)]

    def side(block_col: str) -> DataFrame:
        # fresh scan + fresh pair table per side: independent lineage (no
        # self-join attribute clash); each side column-prunes at the source
        emb = (
            table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .withColumn("blk", F.pmod("vec_id", F.lit(_N_BLOCKS)).cast("int"))
        )
        pairs = spark.createDataFrame(pair_rows, "pair_id int, pa int, pb int")
        sel = pairs.select("pair_id", F.col(block_col).alias("blk"))
        return emb.join(F.broadcast(sel), "blk").select("pair_id", "vec_id", "embedding")

    left, right = side("pa"), side("pb")
    _quant = _quant_batch

    empty = {"a_id": pd.Series([], dtype="int64"), "b_id": pd.Series([], dtype="int64"),
             "cosine": pd.Series([], dtype="float64")}

    def gram(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0 or len(r) == 0:
            return pd.DataFrame(empty)
        ia = l["vec_id"].to_numpy(dtype=np.int64)
        ib = r["vec_id"].to_numpy(dtype=np.int64)
        A, B = _quant(l["embedding"]), _quant(r["embedding"])
        dot = A @ B.T  # exact int64
        sa = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        sb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
        cos = dot.astype(np.float64) / (sa[:, None] * sb[None, :])
        keep = cos >= _NEARDUP_THETA
        if ia[0] % _N_BLOCKS == ib[0] % _N_BLOCKS:
            keep &= ia[:, None] < ib[None, :]  # same block: upper triangle once
        ai, bi = np.nonzero(keep)
        a_id, b_id = ia[ai], ib[bi]
        return pd.DataFrame(
            {
                "a_id": np.minimum(a_id, b_id),
                "b_id": np.maximum(a_id, b_id),
                "cosine": cos[ai, bi],
            }
        )

    return (
        left.groupBy("pair_id")
        .cogroup(right.groupBy("pair_id"))
        .applyInPandas(gram, "a_id long, b_id long, cosine double")
    )


def _exact_rescore_topk(
    spark: SparkSession, sf_dir: str, cand: DataFrame, q_pred=None
) -> DataFrame:
    """Shared ANN tail: exact integer rescore of (q_id, vec_id) candidate
    pairs + per-probe top-k. Identical math to :func:`knn_bruteforce`, so
    an ANN plan differs from brute force only in which pairs it scores.
    ``q_pred`` (Column over vec_id) selects the query set; default is the
    standing probe set (vec_id < _N_PROBES) — the arrival lookup passes
    the shard predicate instead.

    r13: candidates score on the quantized ARRAYS of
    :func:`_quantized_arrays` (one row per pair side, no positional
    explode) — cosines bit-identical to the exploded-component plan
    (recall pins in tests/test_similarity.py unchanged).
    """
    if q_pred is None:
        q_pred = F.col("vec_id") < _N_PROBES
    vq = _quantized_arrays(spark, sf_dir)
    # query-sized broadcast (see knn_bruteforce): only q_pred rows can
    # match q_id, so don't ship the corpus-sized array table
    probes = F.broadcast(vq.filter(q_pred).toDF("q_id", "qv", "n2_q"))
    scored = (
        cand.join(vq.toDF("vec_id", "vc", "n2_c"), "vec_id")
        .join(probes, "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            _array_cosine("qv", "n2_q", "vc", "n2_c").alias("cosine"),
        )
    )
    return _nearest(scored, _TOP_K)


@query("ann_lsh_topk")  # no SQL oracle: hash-family specifics; see tests
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 (_TOP_K): score only LSH-bucket-colliding candidates.

    Pipeline: quantize -> 16 (_LSH_TABLES) sign-LSH codes per vector -> probe/corpus
    bucket equi-join on (tbl, code) -> distinct candidate pairs -> exact
    integer rescore of candidates only -> per-probe top-k.

    Scale: replaces brute-force's |probes| x |corpus| scored pairs with
    only colliding ones (collision prob (1/2)^bits per table for random
    pairs). The bucket join keys on (tbl, code) — 16 (_LSH_TABLES) x 2^bits
    distinct keys; a hot bucket (dense cluster) is the skew case AQE
    splits. Rescoring joins components back per candidate, so exactness
    of the final cosine is preserved; only recall is approximate.
    """
    ex = _shared_components(spark, sf_dir)
    probe_ids = F.col("vec_id") < _N_PROBES
    codes = _bucket_codes(ex)
    pc = codes.filter(probe_ids).select(F.col("vec_id").alias("q_id"), "tbl", "code")
    cand = (
        codes.filter(~probe_ids)
        .join(F.broadcast(pc), ["tbl", "code"])
        .select("q_id", "vec_id")
        .distinct()
    )
    return _exact_rescore_topk(spark, sf_dir, cand)


# IVF coarse quantizer: C cells, probes search the NPROBE nearest cells.
# Centroids start as hash-sampled corpus vectors (IVF random init — fully
# deterministic, no training job) and are then refined with one Lloyd
# round: mean of each cell's assigned vectors, integer-rounded so the
# assignment dot products stay exact int64 (order-independent under any
# partitioning). More rounds reuse the same two stages.
_IVF_CELLS = 16
_IVF_NPROBE = 4
_IVF_LLOYD_ROUNDS = 1


def _cell_assignment(target: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, cr): rank of each centroid per vector by cosine.

    One codegen'd hash-agg over components x cells — the map-side work
    that replaces scoring |corpus| x |probes| pairs. ``cents`` is
    (cell, pos, cv) with integer cv, so dots are exact and the ranking is
    deterministic (ties broken by cell id).
    """
    cnorm = cents.groupBy("cell").agg(F.sum(F.col("cv") * F.col("cv")).alias("cn2"))
    aff = (
        target.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cell")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("dot"))
        .join(F.broadcast(cnorm), "cell")
        .withColumn(
            "score", F.col("dot").cast("double") / F.sqrt(F.col("cn2").cast("double"))
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("cell"))
    return aff.select("vec_id", "cell", F.row_number().over(w).alias("cr"))


def _lloyd_codebook(target: DataFrame, n_cells: int) -> DataFrame:
    """Coarse codebook over a component table ``target`` (vec_id, pos, v):
    hash-sampled init (deterministic, no training job) + Lloyd rounds,
    integer-rounded centroids so assignment dot products stay exact
    int64. Shared by the search IVF codebook (fixed {_IVF_CELLS} cells —
    its nprobe/C recall ratio is test-pinned) and the SemDeDup layout
    (adaptive C, :func:`_dedup_cell_count`)."""
    ids = target.select("vec_id").distinct()
    cent_ids = top_k(ids, n_cells, F.xxhash64("vec_id"), "vec_id", rank="cell").select(
        "vec_id", F.col("cell").cast("int")
    )
    cents = target.join(F.broadcast(cent_ids), "vec_id").select(
        "cell", "pos", F.col("v").alias("cv")
    )
    for _ in range(_IVF_LLOYD_ROUNDS):
        assigned = _cell_assignment(target, cents).filter(F.col("cr") == 1)
        cents = (
            target.join(assigned.select("vec_id", "cell"), "vec_id")
            .groupBy("cell", "pos")
            .agg(
                F.round(F.sum("v").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cv")
            )
        )
    return cents


def _ivf_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse IVF codebook: hash-sample init + Lloyd rounds (shared by
    the standalone IVF plan and the IVFPQ composition)."""
    ex = _shared_components(spark, sf_dir)
    return _lloyd_codebook(ex.filter(F.col("vec_id") >= _N_PROBES), _IVF_CELLS)


def _dedup_cell_count(n: int) -> int:
    """Cell count for the SemDeDup layout: C = max({_IVF_CELLS}, floor(sqrt(n))).

    sqrt(n) balances the two cost terms that both depend on C — the
    assignment pass is O(n*d*C) and the in-cell gram work is
    Sigma|cell|^2 ~= n^2/C with balanced cells — at O(n^1.5 * d) each,
    where a FIXED C leaves the gram term quadratic (SCALE.md's round-7
    table measured exactly that: Sigma|cell|^2 growth at C=16 while n
    grew 100x). At 1000-executor scale the same rule holds; past ~1e9
    vectors a two-level (coarse-then-sub-cell) assignment drops the
    assignment term to O(n*d*sqrt(C)) — the documented upgrade, not
    needed at any tested sf.
    """
    import math

    return max(_IVF_CELLS, math.isqrt(max(n, 0)))


def _vector_params() -> dict:
    """Build parameters recorded in (and checked against) the persisted
    vector-index manifest — editing a tuning constant refuses a stale
    on-disk index instead of silently serving artifacts built under the
    old value (same guard as the text group's)."""
    return {
        "scale": _SCALE,
        "n_probes": _N_PROBES,
        "ivf_cells": _IVF_CELLS,
        "ivf_lloyd_rounds": _IVF_LLOYD_ROUNDS,
        "pq_m": _PQ_M,
        "pq_k": _PQ_K,
        # adaptive-C rule for the dedup cell layout (the resolved count
        # is data-derived; the corpus source stamp already invalidates
        # the artifacts when the data changes)
        "dedup_cell_rule": "isqrt_v1",
    }


def _ivf_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexstore.artifact(
        spark,
        sf_dir,
        "vector",
        "ivf_codebook",
        _vector_params(),
        lambda: _ivf_codebook(spark, sf_dir),
    )


def _ivf_lists_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _shared_components(spark, sf_dir)
    cents = _ivf_codebook_cached(spark, sf_dir)
    return indexstore.artifact(
        spark,
        sf_dir,
        "vector",
        "ivf_lists",
        _vector_params(),
        lambda: _cell_assignment(ex.filter(F.col("vec_id") >= _N_PROBES), cents)
        .filter(F.col("cr") == 1)
        .select("vec_id", "cell"),
    )


def _dedup_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-C codebook for the SemDeDup layout, built over ALL
    vectors (dedup has no probe/corpus split); C resolves
    :func:`_dedup_cell_count` from the corpus count."""
    ex = _shared_components(spark, sf_dir)
    return indexstore.artifact(
        spark,
        sf_dir,
        "vector",
        "dedup_codebook",
        _vector_params(),
        lambda: _lloyd_codebook(
            ex, _dedup_cell_count(table(spark, sf_dir, "embeddings").count())
        ),
    )


def _dedup_cells_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell) for EVERY vector under the adaptive dedup codebook
    — the persisted cell layout :func:`neardup_embedding_cells` grams
    within."""
    ex = _shared_components(spark, sf_dir)
    cents = _dedup_codebook_cached(spark, sf_dir)
    return indexstore.artifact(
        spark,
        sf_dir,
        "vector",
        "dedup_cells",
        _vector_params(),
        lambda: _cell_assignment(ex, cents)
        .filter(F.col("cr") == 1)
        .select("vec_id", "cell"),
    )


def _pq_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexstore.artifact(
        spark,
        sf_dir,
        "vector",
        "pq_codebook",
        _vector_params(),
        lambda: _pq_codebook(spark, sf_dir),
    )


def _pq_codes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _shared_components(spark, sf_dir)
    cents = _pq_codebook_cached(spark, sf_dir)
    return indexstore.artifact(
        spark,
        sf_dir,
        "vector",
        "pq_codes",
        _vector_params(),
        lambda: _pq_assign(ex.filter(F.col("vec_id") >= _N_PROBES), cents),
    )


def build_vector_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All six index artifacts (cached; built or loaded as available):
    the search-side IVF/PQ structures plus the adaptive-C SemDeDup cell
    layout."""
    return {
        "ivf_codebook": _ivf_codebook_cached(spark, sf_dir),
        "ivf_lists": _ivf_lists_cached(spark, sf_dir),
        "pq_codebook": _pq_codebook_cached(spark, sf_dir),
        "pq_codes": _pq_codes_cached(spark, sf_dir),
        "dedup_codebook": _dedup_codebook_cached(spark, sf_dir),
        "dedup_cells": _dedup_cells_cached(spark, sf_dir),
    }


def persist_vector_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the six index artifacts and write them as the
    on-disk index; returns the index directory. Later sessions' ann_*
    queries then answer from the prebuilt index."""
    return indexstore.persist_group(
        spark,
        sf_dir,
        "vector",
        lambda: build_vector_index(spark, sf_dir),
        params=_vector_params(),
    )


@query("ann_ivf_topk")  # no SQL oracle: sampled-centroid specifics; see tests
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 (_TOP_K), IVF-style: inverted file over coarse cells
    with Lloyd-refined centroids.

    Pipeline: hash-sample 16 (_IVF_CELLS) corpus vectors as init centroids
    (broadcast) -> assign the corpus to nearest centroids -> LLOYD
    REFINE: new centroid = integer-rounded mean of each cell's assigned
    vectors (the embedding_centroids combiner keyed on cell instead of
    label — the same partial/final mergeable agg) -> re-assign corpus +
    probes to the refined centroids -> probes keep their 4 (_IVF_NPROBE)
    nearest cells -> candidates = corpus rows in any probed cell ->
    exact integer rescore (shared with the LSH plan) -> per-probe top-k.

    Refinement centers the codebook on the data's actual clusters, which
    tightens cells and raises recall — measured 0.34 → 0.48 at sf0.001
    and 0.56 → 0.62 at sf0.01 (locked ≥ 0.45 in tests) — for one extra
    assignment pass + one (cell, pos) agg per round.

    Scale: each Lloyd round is one |corpus| x C dot agg plus one
    |corpus|-row mean agg to C x dims rows — both partial/final shapes;
    the candidate join keys on cell (C keys — AQE splits a hot cell, and
    a production layout would *bucket the corpus by cell* so queries
    prune whole files). Rescoring touches ~NPROBE/C of the corpus per
    probe.
    """
    ex = _shared_components(spark, sf_dir)
    probe_ids = F.col("vec_id") < _N_PROBES

    # The refined codebook and the corpus's cell assignment ARE the IVF
    # index — per-corpus build artifacts, not per-query work. Left lazy,
    # the Lloyd refinement subtree re-executes once per consuming plan
    # subtree (the cnorm agg, the broadcast affinity join, both sides of
    # the candidate join — measured ~4x => +1.0 s at sf0.1), so both
    # live in the session's bounded releasable cache next to the
    # quantized components: build once, serve every probe batch.
    # Codebook = cells x dims rows (constants); inverted lists = one
    # (vec_id, cell) row per corpus vector — o(corpus), spillable.
    # Both prefer the PERSISTED index when one exists (indexstore.artifact).
    cents = _ivf_codebook_cached(spark, sf_dir)
    corpus_cells = _ivf_lists_cached(spark, sf_dir)
    probe_cells = (
        _cell_assignment(ex.filter(probe_ids), cents)
        .filter(F.col("cr") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("q_id"), "cell")
    )
    cand = (
        corpus_cells.join(F.broadcast(probe_cells), "cell")
        .select("q_id", "vec_id")
        .distinct()
    )
    return _exact_rescore_topk(spark, sf_dir, cand)


@query(
    "embedding_centroids",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, label, CAST(t.i - 1 AS INTEGER) AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, 4097) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    )
    SELECT label, pos,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) / {_SCALE} AS centroid_mean
    FROM ex
    GROUP BY 1, 2
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per (label,
    dimension) — the vector-space reduce behind k-means steps, class
    prototypes and IVF codebook refreshes.

    Component sums run in the exact 1e-6-unit integer space (same
    contract as knn_bruteforce), so the sum is order-independent and the
    mean is a fixed division sequence (int sum → double ÷ count ÷ scale)
    that DuckDB replays bit-for-bit. Flat (label, pos) rows rather than a
    re-assembled array keep the cross-engine compare representation-free.

    Scale: one explode (narrow) and one partial/final agg on
    (label, pos) — |labels|·|dims| groups, KBs per map task regardless of
    corpus size. This is the mergeable-aggregation shape: per-partition
    partial (sum, count) pairs combine associatively, so the same plan
    is the combiner for a distributed Lloyd iteration.
    """
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val")).select(
        "label",
        "pos",
        F.round(F.col("val").cast("double") * _SCALE).cast("long").alias("v"),
    )
    return ex.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum("v").cast("double") / F.count(F.lit(1)) / F.lit(_SCALE)).alias(
            "centroid_mean"
        ),
    )


# --- Product quantization (PQ + ADC + exact re-rank) ----------------------

_PQ_M = 8  # subspaces (64 dims → 8 dims each)
_PQ_K = 16  # codes per subspace → 4 bits; a vector compresses to 4 bytes
_PQ_SUB_DIMS = 8  # dims per subspace (= dims / _PQ_M)
_PQ_RERANK = 10 * _TOP_K  # ADC shortlist width fed to the exact re-rank


def _pq_subspace(pos: Column) -> Column:
    """Subspace index of a component position (pos // sub_dims)."""
    return F.shiftright(pos.cast("long"), 3)  # sub_dims = 8 = 2^3


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, code, pos, cv): per-subspace codebooks, hash-sample init + one
    Lloyd round per subspace (same refine shape as the IVF codebook,
    keyed on (s, code) instead of cell)."""
    ex = _shared_components(spark, sf_dir)
    corpus = ex.filter(F.col("vec_id") >= _N_PROBES)
    ids = corpus.select("vec_id").distinct()
    init_ids = top_k(ids, _PQ_K, F.xxhash64("vec_id"), "vec_id", rank="code").select(
        "vec_id", F.col("code").cast("int")
    )
    cents = corpus.join(F.broadcast(init_ids), "vec_id").select(
        _pq_subspace(F.col("pos")).alias("s"),
        "code",
        "pos",
        F.col("v").alias("cv"),
    )
    assigned = _pq_assign(corpus, cents)
    return (
        corpus.withColumn("s", _pq_subspace(F.col("pos")))
        .join(assigned, ["vec_id", "s"])
        .groupBy("s", "code", "pos")
        .agg(
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cv")
        )
    )


def _pq_assign(target: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, s, code): nearest code per (vector, subspace) by exact
    integer squared-L2 — argmin ||x_s − c||² = argmin (cn2 − 2·dot),
    computed as one codegen hash-agg over components × codes."""
    cn2 = cents.groupBy("s", "code").agg(F.sum(F.col("cv") * F.col("cv")).alias("cn2"))
    aff = (
        target.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "s", "code")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("dot"))
        .join(F.broadcast(cn2), ["s", "code"])
        .withColumn("dist", F.col("cn2") - 2 * F.col("dot"))
    )
    return top_k(aff, 1, "dist", "code", by=["vec_id", "s"]).select("vec_id", "s", "code")


def _adc_shortlist(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """(q_id, vec_id) ADC shortlist — the shared PQ scoring tail.

    Builds (from the shared cache) the PQ codebook + corpus codes, the
    broadcast probe LUT and reconstructed norms, scores either the whole
    code table (``cand=None``, the pure-PQ plan) or only the candidate
    pairs an upstream pruner supplies (the IVFPQ plan), and returns the
    top-``_PQ_RERANK`` per probe by approximate cosine. One definition
    so ADC normalization and shortlist tie-breaking cannot drift between
    the two consumers."""
    ex = _shared_components(spark, sf_dir)
    probe_ids = F.col("vec_id") < _N_PROBES
    cents = _pq_codebook_cached(spark, sf_dir)
    codes = _pq_codes_cached(spark, sf_dir)
    # The four scoring tables are corpus-constant and consumed by BOTH
    # PQ lanes (pure ADC and IVFPQ) — session-cache them like the index
    # artifacts they derive from, so each query's plan starts at the
    # scoring join instead of rebuilding code norms and the probe LUT.
    # Not persisted: all four derive in O(codes) from the persisted
    # codebook/codes group.
    cn2 = shared_cache(
        spark,
        ("pq_cn2", sf_dir, _PQ_M, _PQ_K),
        lambda: cents.groupBy("s", "code").agg(
            F.sum(F.col("cv") * F.col("cv")).alias("cn2")
        ),
    )
    recon_n2 = shared_cache(
        spark,
        ("pq_recon_n2", sf_dir, _PQ_M, _PQ_K),
        lambda: codes.join(F.broadcast(cn2), ["s", "code"])
        .groupBy("vec_id")
        .agg(F.sum("cn2").alias("rn2")),
    )
    lut = shared_cache(
        spark,
        ("pq_lut", sf_dir, _PQ_M, _PQ_K, _N_PROBES),
        lambda: ex.filter(probe_ids)
        .join(F.broadcast(cents), "pos")
        .groupBy(F.col("vec_id").alias("q_id"), "s", "code")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("pdot")),
    )
    qn2 = shared_cache(
        spark,
        ("pq_qn2", sf_dir, _N_PROBES),
        lambda: _norms(ex.filter(probe_ids)).select(
            F.col("vec_id").alias("q_id"), F.col("n2").alias("n2_q")
        ),
    )
    if cand is None:
        scored_codes = codes.join(F.broadcast(lut), ["s", "code"])
    else:
        scored_codes = cand.join(codes, "vec_id").join(
            F.broadcast(lut), ["q_id", "s", "code"]
        )
    adc = (
        scored_codes.groupBy("q_id", "vec_id")
        .agg(F.sum("pdot").alias("adot"))
        .join(recon_n2, "vec_id")
        .join(F.broadcast(qn2), "q_id")
        .withColumn(
            "ascore",
            F.col("adot").cast("double")
            / (F.sqrt(F.col("rn2").cast("double")) * F.sqrt(F.col("n2_q").cast("double"))),
        )
    )
    return top_k(adc, _PQ_RERANK, F.desc("ascore"), "vec_id", by="q_id").select(
        "q_id", "vec_id"
    )


@query("ann_pq_topk")  # no SQL oracle: codebook-sample specifics; see tests
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 (_TOP_K) via PRODUCT QUANTIZATION: per-subspace
    codebooks compress each corpus vector to 8 (_PQ_M) 4-bit codes (4 bytes vs
    256 bytes of floats — 64×), probes score candidates through an ADC
    lookup table, and the ADC shortlist is re-ranked exactly.

    Pipeline: split the 64 dims into 8 (_PQ_M) subspaces × 8 dims → per-
    subspace codebook (16 (_PQ_K) codes, hash-sample init + one Lloyd round;
    the IVF refine shape keyed on (s, code)) → encode the corpus (argmin
    integer L2 per subspace) → probe LUT = dot(q_s, c_{{s,code}}) for
    every (probe, s, code) — |probes|·_PQ_M·_PQ_K integer entries, broadcast
    → ADC score = Σ_s LUT[s, code_s(x)], normalized by the RECONSTRUCTED
    norm ‖x̂‖ = sqrt(Σ_s ‖c_{{s,code}}‖²) → top-{rr} shortlist per probe
    → exact integer re-rank (shared `_exact_rescore_topk`, same math as
    brute force).

    Scale: this is the memory-bound regime's index — at 100 TB of
    embeddings the raw vectors don't fit anywhere hot, but PQ codes are
    64× smaller and ADC touches 8 (_PQ_M) longs per candidate instead of 64.
    The codebook + codes are per-corpus build artifacts in the bounded
    releasable cache (vector stores persist exactly these two tables);
    scoring shuffles |corpus|×|probes| map-side-combined rows, same key
    shape as brute force but _PQ_M/64 the per-pair work, and the exact
    re-rank reads only |probes|·{rr} full vectors. Composes with IVF
    (IVF cells to prune, PQ codes to score) in the standard IVFPQ
    layout.
    """
    return _exact_rescore_topk(spark, sf_dir, _adc_shortlist(spark, sf_dir))


@query("ann_ivfpq_topk")  # no SQL oracle: composed index specifics; see tests
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the standard billion-scale vector-index layout, composed
    from the two indexes this module already builds: IVF coarse cells
    PRUNE (only vectors in the probes' {np} nearest cells are
    candidates), PQ codes SCORE (broadcast ADC lookup table over the
    pruned set), and the ADC shortlist is re-ranked exactly.

    Every artifact is reused from the shared cache — the IVF codebook +
    inverted lists and the PQ codebook + codes are the same tables the
    standalone plans built; composition adds no index-build work, which
    is the actual production property (FAISS's IVFPQ is literally these
    two structures in one file).

    Scale: ADC now touches |candidates| ≈ nprobe/C of the corpus per
    probe instead of all of it — the missing factor between the pure-PQ
    plan (scans every code) and sub-linear query cost. At 100 TB: cells
    prune I/O (bucket the code table by cell → file-level pruning), PQ
    bounds memory (4-byte codes), re-rank reads only |probes|·{rr} raw
    vectors.
    """
    ex = _shared_components(spark, sf_dir)
    probe_ids = F.col("vec_id") < _N_PROBES

    # IVF side: cached codebook + inverted lists (cell per corpus vector),
    # served from the persisted index when one exists
    ivf_cents = _ivf_codebook_cached(spark, sf_dir)
    corpus_cells = _ivf_lists_cached(spark, sf_dir)
    probe_cells = (
        _cell_assignment(ex.filter(probe_ids), ivf_cents)
        .filter(F.col("cr") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("q_id"), "cell")
    )
    # one cell per corpus vector (cr == 1) and one row per (q_id, cell)
    # probe pair means this join already yields unique (q_id, vec_id) —
    # no dedup pass needed on the widest relation in the query
    cand = corpus_cells.join(F.broadcast(probe_cells), "cell").select(
        "q_id", "vec_id"
    )
    # PQ side: the shared ADC scoring tail over the PRUNED candidates
    return _exact_rescore_topk(spark, sf_dir, _adc_shortlist(spark, sf_dir, cand))


# --- random projection (Johnson-Lindenstrauss dimension reduction) --------

_RP_K = 16  # output dimensions
_RP_MAXD = 4096  # sign table covers input dims up to this


def _rp_signs(spark: SparkSession) -> DataFrame:
    """(pos, k, s): Rademacher ±1 derived from md5 hex parity — an
    engine-portable hash family (unlike xxhash64) so the DuckDB oracle
    reproduces every sign. Materialized as a TABLE (dims × k rows,
    broadcast) rather than per-fact-row hash calls: the fact side does
    only the join-multiply-sum."""
    return (
        spark.range(_RP_MAXD)
        .select(F.col("id").cast("int").alias("pos"))
        .select(
            "pos", F.explode(F.sequence(F.lit(0), F.lit(_RP_K - 1))).alias("k")
        )
        .select(
            "pos",
            "k",
            (
                F.conv(
                    F.substring(F.md5(F.concat_ws("_", "pos", "k")), 1, 1), 16, 10
                ).cast("int")
                % 2
                * 2
                - 1
            ).alias("s"),
        )
    )


@query(
    "embedding_random_projection",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, {_RP_MAXD + 1}) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ), signs AS (
      SELECT CAST(p.i AS INTEGER) AS pos, CAST(q.k AS INTEGER) AS k,
             (CAST(('0x' || substring(md5(CAST(p.i AS VARCHAR) || '_' || CAST(q.k AS VARCHAR)), 1, 1)) AS INTEGER) % 2) * 2 - 1 AS s
      FROM range(0, {_RP_MAXD}) p(i) CROSS JOIN range(0, {_RP_K}) q(k)
    )
    SELECT e.vec_id, s.k, CAST(SUM(s.s * e.v) AS BIGINT) AS proj_q
    FROM ex e JOIN signs s ON e.pos = s.pos
    GROUP BY 1, 2
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimension reduction: project every
    embedding onto 16 (_RP_K) Rademacher directions — the standard shrink
    before indexing/clustering when 64+ dims are too hot (JL: pairwise
    distances survive within ε at k = O(log n / ε²); sparse/±1
    projections carry the same guarantee as Gaussian ones, Achlioptas
    2003). Output is flat (vec_id, k, proj_q) in exact 1e-6 integer
    units: the projection of quantized components is an integer dot
    with ±1 — order-independent, bit-reproducible, and directly
    consumable by the banded-Hamming or sign-LSH machinery (sign(proj)
    IS a 16 (_RP_K)-bit sign-LSH code).

    Plan: the shared quantized-component artifact joins the broadcast
    sign table (dims × _RP_K rows built once per plan — no per-fact-row
    hashing) and reduces with one partial/final agg keyed
    (vec_id, k) — map-side combine collapses each vector's _RP_K sums
    before the exchange, so shuffle volume is |vectors| × _RP_K longs.

    Scale: this is the compute-then-index shape — at 100 TB the
    projected table is dims/_RP_K× smaller than the raw embeddings and
    becomes the input to every downstream ANN/dedup pass; the sign
    table stays KBs regardless of corpus size.
    """
    ex = _shared_components(spark, sf_dir)
    signs = _rp_signs(spark)
    return (
        ex.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("s") * F.col("v")).alias("proj_q"))
    )


@query("neardup_embedding_cells")  # rows-only: cells come from the
# hash-sampled, Lloyd-refined IVF codebook (not SQL-portable); the
# same-cell completeness identity is locked in tests/test_similarity.py
def neardup_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every vector to its IVF
    cell, then find near-duplicate pairs WITHIN cells only — the
    cluster-then-dedup layout (Abbas et al. 2023) that makes embedding
    dedup sub-quadratic at corpus scale by accepting cluster recall as
    the completeness boundary.

    Exactness contract: every emitted pair is a TRUE pair with the same
    bit-exact quantized cosine as the all-pairs plan, and the emitted
    set is EXACTLY the same-cell subset of the all-pairs result —
    pinned as an identity in tests, not a sampled recall number. The
    knob is the cell count: fewer cells → higher recall, more in-cell
    work (C = 1 reproduces the all-pairs plan).

    Scale: the all-pairs block plan shuffles n·B rows and does the full
    O(n²d) arithmetic; this shuffles each vector ONCE (to its cell) and
    does Σ_c |cell_c|² work. The cell count is ADAPTIVE —
    C = max(16, floor(sqrt(n))) via :func:`_dedup_cell_count` — so both
    the assignment pass (n·d·C) and the in-cell gram term (~n²/C)
    stay O(n^1.5·d) as the corpus grows; a fixed C left the gram term
    quadratic (SCALE.md round-7 named exactly that). The cell layout is
    a persisted index artifact (dedup_codebook + dedup_cells in the
    vector group), so the build amortizes across rounds like the
    search-side IVF lists.
    """
    import numpy as np
    import pandas as pd

    cells = _dedup_cells_cached(spark, sf_dir)
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .join(cells, "vec_id")
    )

    def gram(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        Q = _quant_batch(pdf["embedding"])
        a, b, cos = _cosine_gram(ids, Q, ids, Q, upper=True)
        return pd.DataFrame({"a_id": a, "b_id": b, "cosine": cos})

    return emb.groupBy("cell").applyInPandas(gram, "a_id long, b_id long, cosine double")


@query("embedding_incremental_ingest")  # rows-only: cells come from the
# hash-sampled Lloyd codebook (not SQL-portable); pinned hash-equal to
# the batch neardup_embedding_cells restriction in
# tests/test_similarity.py::test_embedding_incremental_equals_batch_restriction
def embedding_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING-family arrival gate, completing the incremental
    ingest trio (MinHash set-similarity, SimHash bit-similarity, and now
    dense-vector semantic similarity — the three near-dup families a
    production pipeline checks on every shard delivery): arriving
    vectors (vec_id % 10 == 7, the same standing-shard split as the
    text gates) are assigned FRESH against the PERSISTED dedup codebook
    — the only new compute, O(|shard|·d·C) — and then cross-grammed
    ONLY against base vectors in the cells they landed in, served from
    the persisted dedup_cells artifact. Returns
    (new_vec, matched_vec, cosine) with exact quantized cosine >=
    0.45 (_NEARDUP_THETA), matched_vec always a base vector.

    Correctness pin: the same codebook yields the same cell for a
    vector whether assigned at index-build time or at arrival, so the
    emitted set is hash-equal to the batch
    :func:`neardup_embedding_cells` restricted to pairs with exactly
    one endpoint in the shard — and the cosine doubles are bit-equal
    because both lanes compute the identical int64 dot / double-product
    expression over :func:`_quant_batch` rows.

    Scale: shard-side assignment is shard-proportional; the cogrouped
    gram touches only (shard rows) x (base rows in shard-hit cells) —
    never corpus x corpus. Arrival cost ∝ shard, the same contract as
    the text gates (reference analog: the arrival path
    /root/reference/Code/dataToServers.erl:28-53, generalized to
    additive vector data).
    """
    import numpy as np
    import pandas as pd

    from imdbmapreduce_spark.operators.dedup import _is_shard

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _dedup_codebook_cached(spark, sf_dir)
    # fresh work: assign ONLY the arriving vectors against the
    # persisted codebook
    shard_cells = (
        _cell_assignment(
            _shared_components(spark, sf_dir).filter(_is_shard("vec_id")), cents
        )
        .filter(F.col("cr") == 1)
        .select("vec_id", "cell")
    )
    # corpus side: the persisted cell layout, base vectors only —
    # session-cached for the same multi-consumer reason as the text
    # gates' base_bands
    base_cells = shared_cache(
        spark,
        ("embedding_base_cells", sf_dir),
        lambda: _dedup_cells_cached(spark, sf_dir).filter(~_is_shard("vec_id")),
    )
    # Both cogroup sides derive from the same embeddings scan; aliases
    # don't satisfy Spark's ambiguous-self-join check for cogroup, so
    # checkpoint the SHARD side — shard-sized slim rows, and the same
    # break the SimHash gate applies to its multi-consumer shard
    # fingerprints.
    from imdbmapreduce_spark.cache import stable_checkpoint

    shard_emb = stable_checkpoint(emb.join(shard_cells, "vec_id"))
    base_emb = emb.join(base_cells, "vec_id")

    def cross_gram(sh: "pd.DataFrame", ba: "pd.DataFrame") -> "pd.DataFrame":
        if len(sh) == 0 or len(ba) == 0:  # no arriving (or no base) vector
            new = matched = np.empty(0, dtype=np.int64)
            cos = np.empty(0, dtype=np.float64)
        else:
            new, matched, cos = _cosine_gram(
                sh["vec_id"].to_numpy(dtype=np.int64),
                _quant_batch(sh["embedding"]),
                ba["vec_id"].to_numpy(dtype=np.int64),
                _quant_batch(ba["embedding"]),
            )
        return pd.DataFrame({"new_vec": new, "matched_vec": matched, "cosine": cos})

    return (
        shard_emb.groupBy("cell")
        .cogroup(base_emb.groupBy("cell"))
        .applyInPandas(
            lambda left, right: cross_gram(left, right),
            "new_vec long, matched_vec long, cosine double",
        )
    )


# --- RRF hybrid retrieval: lexical + dense rank fusion ---------------------

RRF_K = 60  # the canonical rank-smoothing constant (Cormack et al. 2009)
RRF_PROBE = 0  # the probe vector whose dense arm is fused
_RRF_ARM_N = 30  # candidates taken from each arm before fusion
_RRF_TOPK = 20
_RRF_SCALE = 1_000_000_000_000  # 1e-12 quantum on 1/(K+rank)


def _rrf_oracle_sql() -> str:
    from imdbmapreduce_spark.operators.text import (
        _BM25_SCALE,
        _DUCK_TOKS,
        BM25_QUERY_TERMS,
    )

    return f"""
    WITH exd AS MATERIALIZED (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS t FROM exd
    ), dl AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM exd
    ), tf AS (
      SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM exd)
      WHERE tok IN {BM25_QUERY_TERMS!r}
      GROUP BY 1, 2
    ), idf AS (
      SELECT term,
             CAST(round(ln((((SELECT n_docs FROM stats) - df + 0.5)
                            / (df + 0.5)) + 1.0) * {_BM25_SCALE}) AS BIGINT)
               AS idf_q
      FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
    ), sc AS (
      SELECT tf.doc_id,
             CAST(round(CAST(idf_q AS DOUBLE) * (22 * tf * t)
                        / (10 * t * tf + 3 * t + 9 * dl.dl * n_docs))
                  AS BIGINT) AS s_q
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
    ), tot AS (
      SELECT doc_id, CAST(SUM(s_q) AS BIGINT) AS score_q FROM sc GROUP BY 1
    ), lex AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS r
        FROM tot
      ) WHERE r <= {_RRF_ARM_N}
    ), ex AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS INTEGER) AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
                        * {_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, 4097) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ), probe AS (SELECT pos, v AS qv FROM ex WHERE vec_id = {RRF_PROBE}),
    corpus AS (SELECT * FROM ex WHERE vec_id >= {_N_PROBES}),
    norms AS (SELECT vec_id, SUM(v*v) AS n2 FROM ex GROUP BY vec_id),
    dots AS (
      SELECT c.vec_id, SUM(p.qv * c.v) AS dot
      FROM corpus c JOIN probe p USING (pos)
      GROUP BY c.vec_id
    ), dscored AS (
      SELECT d.vec_id AS doc_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST((SELECT n2 FROM norms
                             WHERE vec_id = {RRF_PROBE}) AS DOUBLE))
                  * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      FROM dots d JOIN norms nc ON nc.vec_id = d.vec_id
    ), dense AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r
        FROM dscored
      ) WHERE r <= {_RRF_ARM_N}
    ), fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             CAST(COALESCE(l.r, 0) AS BIGINT) AS rank_lex,
             CAST(COALESCE(d.r, 0) AS BIGINT) AS rank_dense,
             CAST(COALESCE(CAST(round({_RRF_SCALE}.0 / ({RRF_K} + l.r))
                                AS BIGINT), 0)
                  + COALESCE(CAST(round({_RRF_SCALE}.0 / ({RRF_K} + d.r))
                                  AS BIGINT), 0) AS BIGINT) AS rrf_q
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, rank_lex, rank_dense, rrf_q,
           CAST(rrf_q AS DOUBLE) / {_RRF_SCALE} AS rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT)
             AS rank
    FROM fused
    ORDER BY rank LIMIT {_RRF_TOPK}
    """


@query("rrf_hybrid_retrieval", oracle=_rrf_oracle_sql())
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    fuse the BM25 lexical ranking (:func:`~imdbmapreduce_spark.operators
    .text.doc_bm25_topk`'s scoring stage, fixed term query) with the
    exact dense cosine ranking (probe vector {RRF_PROBE}, the
    brute-force arm of the ANN suite) via
    score = Σ_arms 1/(K + rank) — the stock first-stage ranker of a
    RAG / retrieval pipeline, and the operator that makes the lexical
    and vector halves of this engine compose.

    Documents present in only one arm's top-{_RRF_ARM_N} get that arm's
    contribution alone (rank 0 exported for the missing arm — no NULLs,
    keeping both engines' hash identical). Probe vectors themselves
    (vec_id < {_N_PROBES}) can reach the result through the lexical arm
    only, by construction of the dense corpus split.

    Determinism: each arm ranks exactly as its parent query (quantized
    BM25 integers; cosines built from identical int64 dots); the fused
    score quantizes 1/(K+r) to 1e-12 per (arm, rank) — exact double
    division of exactly-representable operands, then one round — and
    sums integers; final ranking compares integers with doc_id
    tie-break.

    Plan: both arms and the fused ranking are global
    :func:`~imdbmapreduce_spark.functions.top_k` cuts ({_RRF_ARM_N} rows
    per arm); the fusion is a full outer join of two tiny lists — Spark
    picks a broadcast-able join under AQE.

    Scale: arm costs are the parents' (one shared tokenize pass; one
    probe×corpus integer-dot agg); fusion cost is O(arm size),
    independent of corpus volume. Fan the probe set out by swapping the
    single-probe filter for the probe table — the fusion join stays
    rank-keyed per probe.
    """
    from imdbmapreduce_spark.operators.text import BM25_QUERY_TERMS, bm25_scores

    lex = top_k(
        bm25_scores(spark, sf_dir, BM25_QUERY_TERMS),
        _RRF_ARM_N,
        F.desc("score_q"),
        "doc_id",
        rank="r_lex",
    ).select("doc_id", "r_lex")
    dense = top_k(
        _probe_scored(spark, sf_dir).filter(F.col("q_id") == RRF_PROBE),
        _RRF_ARM_N,
        F.desc("cosine"),
        "neighbor_id",
        rank="r_dense",
    ).select(F.col("neighbor_id").alias("doc_id"), "r_dense")
    rq = lambda r: F.coalesce(
        F.round(F.lit(float(_RRF_SCALE)) / (F.lit(RRF_K) + r)).cast("long"),
        F.lit(0).cast("long"),
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("r_lex"), F.lit(0)).cast("long").alias("rank_lex"),
        F.coalesce(F.col("r_dense"), F.lit(0)).cast("long").alias("rank_dense"),
        (rq(F.col("r_lex")) + rq(F.col("r_dense"))).alias("rrf_q"),
    )
    return top_k(fused, _RRF_TOPK, F.desc("rrf_q"), "doc_id").select(
        "doc_id",
        "rank_lex",
        "rank_dense",
        "rrf_q",
        (F.col("rrf_q").cast("double") / _RRF_SCALE).alias("rrf"),
        "rank",
    )


# --- hard-negative mining for contrastive training -------------------------

HN_MARGIN = 0.05  # positives' cosine minus this bounds eligible negatives
HN_PER_PROBE = 5


def _hn_oracle_sql() -> str:
    return f"""
    WITH ex AS (
      SELECT vec_id, CAST(t.i AS INTEGER) AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, 4097) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ),
    probes AS (SELECT vec_id AS q_id, pos, v AS qv FROM ex WHERE vec_id < {_N_PROBES}),
    corpus AS (SELECT * FROM ex WHERE vec_id >= {_N_PROBES}),
    norms AS (SELECT vec_id, SUM(v*v) AS n2 FROM ex GROUP BY vec_id),
    dots AS (
      SELECT p.q_id, c.vec_id, SUM(p.qv * c.v) AS dot
      FROM corpus c JOIN probes p USING (pos)
      GROUP BY p.q_id, c.vec_id
    ),
    scored AS (
      SELECT d.q_id, d.vec_id AS neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
               AS cosine
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.q_id
      JOIN norms nc ON nc.vec_id = d.vec_id
    ),
    positives AS (
      SELECT q_id, neighbor_id AS pos_id, cosine AS pos_cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                         ORDER BY cosine DESC, neighbor_id) AS r
            FROM scored)
      WHERE r = 1
    )
    SELECT q_id, neighbor_id, cosine, pos_id, pos_cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT s.q_id, s.neighbor_id, s.cosine, p.pos_id, p.pos_cosine,
             ROW_NUMBER() OVER (PARTITION BY s.q_id
                                ORDER BY s.cosine DESC, s.neighbor_id) AS rank
      FROM scored s JOIN positives p USING (q_id)
      WHERE s.neighbor_id <> p.pos_id
        AND s.cosine <= p.pos_cosine - {HN_MARGIN}
    )
    WHERE rank <= {HN_PER_PROBE}
    """


@query("hard_negative_mining", oracle=_hn_oracle_sql())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training (the DPR
    recipe, Karpukhin et al. 2020): per probe, take the top-scoring
    corpus vectors that are NOT the positive (its exact nearest
    neighbor) and sit at least {HN_MARGIN} cosine BELOW it — the margin
    guards against mining false negatives (near-duplicates of the
    positive that would poison the loss), which plain "ranks 2..k+1"
    does not. Output: {HN_PER_PROBE} hard negatives per probe with the
    positive and both scores, the exact rows a training-pair writer
    ships.

    Plan: reuses the shared exact-scoring stage
    (:func:`_probe_scored` — one integer-dot aggregation for ALL
    consumers in a sweep); positives are a per-probe rank-1 window; the
    negative pool is one probe-keyed join + filter + per-probe top-k
    window (|probes| partitions).

    Determinism: cosines are doubles built from identical int64 dots;
    the margin test subtracts a literal from one such double — same two
    operands, same one operation, in both engines; ranking breaks ties
    on neighbor_id. At 100 TB the scoring stage is the cost (its
    lower-bound argument lives on knn_bruteforce); mining adds only
    probe-bounded windows, and the IVF/LSH indexes swap in as the
    candidate generator when exact scoring stops paying.
    """
    scored = _probe_scored(spark, sf_dir)
    positives = _nearest(scored, 1).select(
        "q_id",
        F.col("neighbor_id").alias("pos_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    negs = scored.join(positives, "q_id").filter(
        (F.col("neighbor_id") != F.col("pos_id"))
        & (F.col("cosine") <= F.col("pos_cosine") - HN_MARGIN)
    )
    return _nearest(negs, HN_PER_PROBE)


# --- arrival-time ANN lookup (shard queries vs persisted IVF index) ---------


@query("ann_shard_arrival_topk")  # rows-only: hash-sampled Lloyd codebook
# (not SQL-portable); recall vs the exact arrival truth is measured every
# round by ann_recall_audit's `arrival` arm and floor-pinned in
# tests/test_similarity.py
def ann_shard_arrival_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-time similarity lookup — the retrieval twin of
    :func:`embedding_incremental_ingest`'s dedup gate (r8 verdict task
    7): every ARRIVING vector (vec_id % 10 == 7, the standing shard
    split) retrieves its top-{k} nearest BASE-corpus vectors through the
    PERSISTED IVF index — shard vectors are assigned fresh against the
    cached/persisted codebook (the only new compute, O(|shard|·d·C)),
    probe their {np} nearest cells, and exact-rescore only base vectors
    in those cells. The production loop this models: each crawl
    delivery is simultaneously dedup-gated AND enriched with
    nearest-neighbor context before landing.

    Scale: fresh work ∝ shard; the inverted lists are the amortized
    index artifact (cell-bucketed layout prunes whole files at 100 TB);
    the rescore touches ~NPROBE/C of the base per arriving vector.
    Recall is a MEASURED number, not a hope: the audit's `arrival` arm
    re-scores this lookup against the exact shard-vs-base brute force
    every round.
    """
    from imdbmapreduce_spark.operators.dedup import _is_shard

    ex = _shared_components(spark, sf_dir)
    cents = _ivf_codebook_cached(spark, sf_dir)
    base_lists = _ivf_lists_cached(spark, sf_dir).filter(~_is_shard("vec_id"))
    shard_cells = (
        _cell_assignment(ex.filter(_is_shard("vec_id")), cents)
        .filter(F.col("cr") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("q_id"), "cell")
    )
    cand = (
        base_lists.join(F.broadcast(shard_cells), "cell")
        .select("q_id", "vec_id")
        .distinct()
    )
    return _exact_rescore_topk(spark, sf_dir, cand, q_pred=_is_shard("vec_id"))


ann_shard_arrival_topk.__doc__ = ann_shard_arrival_topk.__doc__.replace(
    "{k}", str(_TOP_K)
).replace("{np}", str(_IVF_NPROBE))


# --- ANN recall audit: the index-quality scoreboard -------------------------


@query("ann_recall_audit", bench=False)  # rows-only (xxhash-family
# ANN sides); bench=False: the audit re-executes five queries the
# sweep already times individually — keeping it in would double-count
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOP_K} of every ANN index against the exact brute-force
    ranking, as a REGISTERED query — the index-quality scoreboard a
    vector deployment watches per ingest, promoted from a pytest
    assertion to a per-round driver row so recall regressions surface in
    the sweep, not just in CI. One row per index family
    (lsh / ivf / pq / ivfpq) plus the ARRIVAL arm (r9):
    :func:`ann_shard_arrival_topk`'s cell-pruned shard lookup scored
    against its own exact truth — shard-query brute force over the base
    corpus — so the arrival gate's recall under corpus growth is a
    measured per-round number like its batch twins'. Columns: probes
    evaluated, retrieved, hits against the arm's exact top-{_TOP_K}
    (n_true rows), micro-averaged recall, and the mean true cosine of
    the retrieved neighbors vs the exact set's (the "how wrong are the
    misses" companion recall alone hides).

    Rows-only by design, like the four index queries it audits (their
    hash families are engine-specific); determinism within the engine is
    inherited from theirs, and tests/test_similarity.py pins recall
    floors so a silent index regression still fails CI.

    Scale: each arm is its own query's cost (all index-served after
    persist); the audit join keys on (q_id, neighbor_id) against the
    {_TOP_K}-row-per-probe exact set — driver-bounded.
    """
    from imdbmapreduce_spark.operators.dedup import _is_shard

    exact = stable_checkpoint(
        knn_bruteforce(spark, sf_dir).select(
            "q_id", "neighbor_id", F.col("cosine").alias("true_cos")
        )
    )
    # arrival truth: exact brute-force top-k of the SHARD queries over
    # the base corpus — the grown-corpus recall the arrival gate's
    # cell-pruned lookup is measured against (r8 verdict task 7)
    exact_arrival = stable_checkpoint(
        _nearest(_probe_scored(spark, sf_dir, q_pred=_is_shard("vec_id")), _TOP_K)
        .select("q_id", "neighbor_id", F.col("cosine").alias("true_cos"))
    )
    arms = [
        ("arrival", ann_shard_arrival_topk, exact_arrival),
        ("ivf", ann_ivf_topk, exact),
        ("ivfpq", ann_ivfpq_topk, exact),
        ("lsh", ann_lsh_topk, exact),
        ("pq", ann_pq_topk, exact),
    ]
    outs = []
    for name, fn, truth in arms:
        got = fn(spark, sf_dir).select("q_id", "neighbor_id")
        hits = got.join(truth, ["q_id", "neighbor_id"])
        outs.append(
            got.agg(
                F.lit(name).alias("index_name"),
                F.countDistinct("q_id").cast("long").alias("n_probes"),
                F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            )
            .crossJoin(
                hits.agg(
                    F.count(F.lit(1)).cast("long").alias("n_hits"),
                    F.avg("true_cos").alias("mean_hit_cosine"),
                )
            )
            .crossJoin(
                truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.select(
        "index_name",
        "n_probes",
        "n_retrieved",
        "n_hits",
        "n_true",
        (
            F.col("n_hits").cast("double")
            / F.greatest(F.col("n_true"), F.lit(1)).cast("double")
        ).alias("recall"),
        "mean_hit_cosine",
    )


# --- fixed-point power-iteration PCA (embedding anisotropy direction) ------

_PCA_ROUNDS = 8
_PCA_S = 1_000_000  # iterate fixed-point scale (1e-6 per coordinate)


def _pca_oracle_sql() -> str:
    """Unroll the integer power iteration as chained CTEs — possible
    because every round is an exact int64 matrix-vector product, an
    integer max, and a divisor-first truncating division (DuckDB ``//``
    truncates toward zero like Spark ``DIV`` — the pagerank contract)."""
    base = f"""ex AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS BIGINT) - 1 AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
                        * {_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, 4097) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ),
    m AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS m
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
    ),
    dm AS (
      SELECT GREATEST((MAX(ABS(m)) + {_PCA_S} - 1) // {_PCA_S}, 1) AS dv FROM m
    ),
    mn AS MATERIALIZED (
      SELECT i, j, CAST(m // (SELECT dv FROM dm) AS BIGINT) AS mn FROM m
    ),
    x0 AS (SELECT DISTINCT i AS pos, CAST({_PCA_S} AS BIGINT) AS xq FROM m)"""

    def step(t: int) -> list[tuple[str, str]]:
        return [
            (f"y{t}", f"""
      SELECT m.i AS pos, CAST(SUM(m.mn * x.xq) AS BIGINT) AS y
      FROM mn m JOIN x{t - 1} x ON m.j = x.pos GROUP BY m.i
    """),
            (f"d{t}", f"""
      SELECT GREATEST((MAX(ABS(y)) + {_PCA_S} - 1) // {_PCA_S}, 1) AS dv
      FROM y{t}
    """),
            (f"x{t}", f"""
      SELECT pos, CAST(y // (SELECT dv FROM d{t}) AS BIGINT) AS xq FROM y{t}
    """),
        ]

    return unrolled_cte(
        base, step, _PCA_ROUNDS, f"SELECT pos, xq AS pc1_q FROM x{_PCA_ROUNDS}"
    )


_PCA_DRIVER_DIM_MAX = 512  # above this, d² Gram cells stop being model-sized


@query("embedding_pca_power", oracle=_pca_oracle_sql())
def embedding_pca_power(
    spark: SparkSession,
    sf_dir: str,
    *,
    driver_dim_max: int = _PCA_DRIVER_DIM_MAX,
) -> DataFrame:
    """Top principal direction of the embedding second-moment (Gram)
    matrix by POWER ITERATION in exact int64 fixed point — the
    anisotropy direction embedding pipelines estimate for whitening
    ("All-but-the-top", Mu & Viswanath 2018: subtracting the top PCs
    measurably improves similarity search), here with the PageRank
    determinism contract: every round is an exact integer
    matrix-vector product, an integer max, and a divisor-first
    truncating division, so the result is bit-identical on any
    partitioning and unrolls into the DuckDB oracle CTE-per-round.

    Numerics: the d×d Gram accumulates exact products of 1e-6-quantized
    components (|Σ v_i·v_j| ≤ n·1e12 — int64-safe to ~10⁶ vectors; at
    larger n, pre-scale v or block-sum); both the matrix and the
    iterate renormalize by DIVISOR-FIRST division (D = ceil(max/S)) so
    no intermediate multiply can overflow. Fixed x₀ = S·𝟙 and exact
    arithmetic make the 8-round output a pure function of the data (no
    random init, no float drift); on this corpus's isotropic synthetic
    embeddings there is no dominant direction, which changes nothing
    about reproducibility — the replay test pins every unit.

    Plan: ONE shuffle builds the Gram (self-join of the session-cached
    component table on vec_id — n·d² product rows reduced by map-side
    partial sums to d² cells). The iteration is dimension-gated: at
    d <= driver_dim_max (default 512, ~260k cells) the d² Gram is
    model-sized and the O(d²·rounds) loop runs driver-side in exact
    Python ints; above the gate (e.g. d = 4096 → ~16.7M cells, ~10⁹
    Python ops/round) it falls back to :func:`_pca_power_distributed`
    — same integer arithmetic as checkpointed d-row DataFrame rounds,
    bit-identical by test pin. Scale: the Gram build is the only
    data-sized stage and is embarrassingly partial-aggregable;
    everything after is O(d²) regardless of corpus size.
    """
    ex = _shared_components(spark, sf_dir)
    gram_df = (
        ex.alias("a")
        .join(ex.alias("b"), F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.pos").alias("i"), F.col("b.pos").alias("j"))
        .agg(F.sum(F.col("a.v") * F.col("b.v")).cast("long").alias("m"))
    )
    d_row = ex.agg(F.max("pos").alias("mx")).first()
    if d_row["mx"] is None:
        return spark.createDataFrame([], "pos long, pc1_q long")
    d = int(d_row["mx"]) + 1
    if d > driver_dim_max:
        return _pca_power_distributed(spark, gram_df)
    gram = gram_df.collect()  # d² cells — MODEL-sized below the gate
    # (the size-gated-vocab rule), so the O(d²·rounds) iteration runs
    # driver-side in exact Python ints instead of 8 checkpointed
    # micro-jobs (measured 4.3 s -> ~1 s warm at sf0.1; the Gram
    # aggregation is the only data-sized stage either way)
    if not gram:
        return spark.createDataFrame([], "pos long, pc1_q long")
    M = {(r.i, r.j): int(r.m) for r in gram}
    dims = sorted({i for i, _ in M})
    dm = max((max(abs(v) for v in M.values()) + _PCA_S - 1) // _PCA_S, 1)
    # truncate toward zero, matching Spark DIV / DuckDB //
    tdiv = lambda a, b: abs(a) // b * (1 if a >= 0 else -1)  # noqa: E731
    Mn = {k: tdiv(v, dm) for k, v in M.items()}
    x = {i: _PCA_S for i in dims}
    for _ in range(_PCA_ROUNDS):
        y = {
            i: sum(Mn.get((i, j), 0) * x[j] for j in dims) for i in dims
        }
        dv = max((max(abs(v) for v in y.values()) + _PCA_S - 1) // _PCA_S, 1)
        x = {i: tdiv(y[i], dv) for i in dims}
    return spark.createDataFrame(
        [(int(i), int(x[i])) for i in dims], "pos long, pc1_q long"
    )


def _pca_power_distributed(spark: SparkSession, gram_df: DataFrame) -> DataFrame:
    """The same fixed-point power iteration kept DISTRIBUTED: d² Gram
    cells never leave the executors (above _PCA_DRIVER_DIM_MAX they
    stop being model-sized — d=4096 is ~16.7M cells), each round is one
    bounded-fan-out join + integer-sum agg on d-row frames, and the
    only driver traffic is ONE scalar (the round's max|y| divisor, the
    pagerank n_nodes precedent). Identical arithmetic to the driver
    path — integer products, integer max, divisor-first truncating
    division — so both paths produce the same bits; pinned by
    tests/test_similarity.py::test_pca_distributed_matches_driver_path.
    """
    mrow = gram_df.agg(F.max(F.abs(F.col("m"))).alias("mx")).first()
    if mrow["mx"] is None:
        return spark.createDataFrame([], "pos long, pc1_q long")
    dm = max((int(mrow["mx"]) + _PCA_S - 1) // _PCA_S, 1)
    mn = stable_checkpoint(
        gram_df.select("i", "j", F.expr(f"m div {dm}").alias("mn"))
    )
    x = mn.select(F.col("i").alias("pos")).distinct().withColumn(
        "xq", F.lit(_PCA_S).cast("long")
    )
    for _ in range(_PCA_ROUNDS):
        y = (
            mn.join(x, mn["j"] == x["pos"])
            .groupBy(mn["i"].alias("ypos"))
            .agg(F.sum(F.col("mn") * F.col("xq")).alias("y"))
        )
        y = stable_checkpoint(y)
        dv = max(
            (int(y.agg(F.max(F.abs("y"))).first()[0]) + _PCA_S - 1) // _PCA_S, 1
        )
        x = y.select(
            F.col("ypos").alias("pos"), F.expr(f"y div {dv}").alias("xq")
        )
    return x.select("pos", F.col("xq").alias("pc1_q")).orderBy("pos")


# --- sorted-projection SNM over embeddings ----------------------------------

_SNM_EMB_W = 16  # window: each vector vs its w successors per sort key
# Passes = number of independent JL sort keys (r9 verdict task 4: the
# r9 shipping point of 2 passes x w=8 measured 0.0 blocking recall vs
# the theta=0.45 truth — on random unit vectors two projections rarely
# co-locate the tail). The r10 sweep (SCALE.md) measured the passes x
# window grid; 8 x 16 clears recall 0.571 / 0.786 at sf0.001 / sf0.01
# (floor pinned at 0.5 in the audit) at 8x the r9 candidate budget —
# still passes*w*n by construction. The same sweep measured the
# family's structural boundary: at fixed (passes, window) recall DECAYS
# with corpus size (0.153 at sf0.1's n=2000) because a theta=0.45
# pair's rank gap grows with n on random vectors — real dedup corpora
# sit at cos 0.9+ where projections collapse; on this synthetic tail
# the embedding-cells family is the right tool past ~1k vectors.
_SNM_EMB_PASSES = 8
# Verify threshold for this family. Deliberately below the all-pairs
# query's 0.45: on random unit vectors the 0.45 tail is ~1e-4 of pairs
# and projection adjacency rarely lands on it, so the registered query
# would be green-but-vacuous; 0.35 (~2.8 sigma) yields a non-trivial
# verified set at every sf while every emitted pair stays EXACT.
_SNM_EMB_THETA = 0.35


def snm_embedding_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-SNM candidate window — id-normalized (doc_a, doc_b)
    vector pairs within _SNM_EMB_W ranks of EITHER projection sort,
    BEFORE the cosine verify: :func:`~imdbmapreduce_spark.operators.
    dedup._snm_window` over one row per vector per JL sort key, so the
    recall audit scores the same blocking scheme the query runs."""
    from imdbmapreduce_spark.operators.dedup import _snm_window

    ex = _shared_components(spark, sf_dir)
    signs = _rp_signs(spark).filter(F.col("k") < _SNM_EMB_PASSES)
    # Checkpoint the projection table ONCE (all passes' keys in one
    # job): each pass then ranks an n-row slice of a materialized frame
    # instead of re-running the join+agg lineage per pass (the r9 loop
    # paid the projection 2x; at 8 passes it would be 8x).
    # LAZY checkpoint (r13): the parts-sizing count below is the first
    # action and materializes the blocks in the same job — one job per
    # invocation instead of an eager checkpoint job plus a count job.
    proj = stable_checkpoint_lazy(
        ex.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("s") * F.col("v")).alias("key"))
    )
    # Range-partition count sized to the materialized frame (~4k rows
    # each, capped) — the rank values are partition-boundary-
    # independent, so this is a pure plan knob.
    parts = max(1, min(32, -(-proj.count() // 4096)))
    return _snm_window(
        proj.select("k", F.col("vec_id").alias("id"), "key"), _SNM_EMB_W, parts
    )


def _snm_emb_oracle(theta: float = _SNM_EMB_THETA) -> str:
    """Generate the P-pass oracle (one rank CTE + one window-join UNION
    branch per JL sort key — P is _SNM_EMB_PASSES, so the SQL stays in
    lockstep with the Spark loop when the pass count is tuned).
    ``theta`` parameterizes the final verify threshold: the family
    query verifies at its own _SNM_EMB_THETA; the routed consumer
    (:func:`embedding_neardup_routed`) at the corpus _NEARDUP_THETA."""
    rank_ctes = ", ".join(
        f"""r{k} AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY key, vec_id) AS rk
      FROM proj WHERE k = {k}
    )"""
        for k in range(_SNM_EMB_PASSES)
    )
    cand_union = "\n      UNION\n".join(
        f"""      SELECT LEAST(a.vec_id, b.vec_id) AS a_id,
             GREATEST(a.vec_id, b.vec_id) AS b_id
      FROM r{k} a JOIN r{k} b ON b.rk - a.rk BETWEEN 1 AND {_SNM_EMB_W}"""
        for k in range(_SNM_EMB_PASSES)
    )
    return f"""
    WITH ex AS (
      SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS pos,
             CAST(round(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)*{_SCALE}) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(1, {_RP_MAXD + 1}) t(i)
      WHERE CAST(t.i AS INTEGER) <= len(embedding)
    ), signs AS (
      SELECT CAST(p.i AS INTEGER) AS pos, CAST(q.k AS INTEGER) AS k,
             (CAST(('0x' || substring(md5(CAST(p.i AS VARCHAR) || '_' || CAST(q.k AS VARCHAR)), 1, 1)) AS INTEGER) % 2) * 2 - 1 AS s
      FROM range(0, {_RP_MAXD}) p(i) CROSS JOIN range(0, {_SNM_EMB_PASSES}) q(k)
    ), proj AS (
      SELECT e.vec_id, s.k, CAST(SUM(s.s * e.v) AS BIGINT) AS key
      FROM ex e JOIN signs s USING (pos)
      GROUP BY 1, 2
    ), {rank_ctes}, cand AS (
{cand_union}
    ), norms AS (
      SELECT vec_id, SUM(v*v) AS n2 FROM ex GROUP BY 1
    ), dots AS (
      SELECT c.a_id, c.b_id, SUM(a.v * b.v) AS dot
      FROM cand c
      JOIN ex a ON a.vec_id = c.a_id
      JOIN ex b ON b.vec_id = c.b_id AND a.pos = b.pos
      GROUP BY 1, 2
    )
    SELECT d.a_id, d.b_id,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.a_id
    JOIN norms nb ON nb.vec_id = d.b_id
    WHERE CAST(d.dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          >= {theta}
    """


@query("snm_embedding_pairs", oracle=_snm_emb_oracle())
def snm_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs over EMBEDDINGS — the SNM
    family (operators/dedup.py) extended to the vector modality:
    vectors sort by their exact integer projection onto independent
    Rademacher directions (the shared JL sign table of
    :func:`embedding_random_projection` — a 1-D projection is the
    natural SNM key for vectors: cosine-close vectors project close),
    each vector is window-paired with its {_SNM_EMB_W} successors per
    sort order, and candidates verify with the EXACT quantized cosine
    (same exactness contract as :func:`neardup_embedding_cosine`, so
    every emitted pair is a true pair — the window bounds recall, never
    precision).

    Why beside SemDeDup cells: candidate volume is passes·w·n by
    construction — no codebook to train or persist, no cluster-recall
    boundary; the trade is recall limited to projection-adjacent pairs.
    The r10 retune (verdict task 4) sized that trade by measurement:
    {_SNM_EMB_PASSES} passes x w={_SNM_EMB_W} clears blocking recall
    0.571 / 0.786 vs the theta=0.45 truth at sf0.001 / sf0.01 (floor
    0.5, pinned in neardup_recall_audit — the r9 point of 2 x 8
    measured 0.0), and the same sweep measured the structural boundary:
    fixed-window recall decays with corpus size on random vectors
    (0.153 at sf0.1; the round-12 boundary sweep puts the 0.5-floor
    crossing at n≈800 — tools/emb_snm_boundary.py), so past
    EMB_SNM_MAX_VECTORS tail-distribution vectors the embedding-cells
    family is the right tool and this family's value is codebook-free
    simplicity on small-to-mid slices. The global rank
    reuses the distributed two-pass machinery (range partition + offset
    join — no single-partition window).

    Scale: {_SNM_EMB_PASSES} |vectors|-row ranks + uniform cell
    equi-joins; the verify joins the shared quantized-component
    artifact on candidate-pair ids — bounded at 2·passes·w rows per
    vector.
    """
    # Verify on quantized ARRAYS (r12; see _quantized_arrays): plain
    # shuffle joins on the pair ids — broadcasting the DATA-sized array
    # frame (as r9 shipped for the norms) contradicts the family's
    # skew-immune scale story (ADVICE r9).
    vq = _quantized_arrays(spark, sf_dir)
    cosine = _array_cosine("va", "na", "vb", "nb")
    return (
        snm_embedding_candidates(spark, sf_dir)
        .toDF("a_id", "b_id")
        .join(vq.toDF("a_id", "va", "na"), "a_id")
        .join(vq.toDF("b_id", "vb", "nb"), "b_id")
        .filter(cosine >= _SNM_EMB_THETA)
        .select("a_id", "b_id", cosine.alias("cosine"))
    )


snm_embedding_pairs.__doc__ = (
    snm_embedding_pairs.__doc__
    .replace("{_SNM_EMB_W}", str(_SNM_EMB_W))
    .replace("{_SNM_EMB_PASSES}", str(_SNM_EMB_PASSES))
)


def _embedding_neardup_by_family(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """The dispatch behind :func:`embedding_neardup_routed`, factored
    over the decision so the flip test can force each branch. Both
    branches answer the SAME question — embedding near-dup pairs at the
    corpus threshold _NEARDUP_THETA with the bit-exact quantized cosine
    — differing only in candidate generation (sorted-projection windows
    vs IVF cells)."""
    if family == "snm":
        return snm_embedding_pairs(spark, sf_dir).filter(
            F.col("cosine") >= _NEARDUP_THETA
        )
    return neardup_embedding_cells(spark, sf_dir)


@query(
    "embedding_neardup_routed",
    # the family decision rides along in the result (ADVICE r11): this
    # router legitimately flips per scale (snm up to EMB_SNM_MAX_VECTORS,
    # cells past it — bench corpora cross the boundary, so a loud assert
    # like the document router's would be wrong here), and the oracle checks
    # the SNM branch at the driver's under-boundary correctness scales —
    # a flip at an oracle-checked scale now surfaces as an explicit
    # family-column diff, not a bare pair-set hash mismatch.
    oracle=f"SELECT q.*, 'snm' AS family FROM ({_snm_emb_oracle(theta=_NEARDUP_THETA)}) q",
)
def embedding_neardup_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the candidate FAMILY CHOSEN BY
    CORPUS SIZE (r10 verdict task 6 — the routing note turned into
    code, the vector twin of ``neardup_pairs_routed``): up to
    EMB_SNM_MAX_VECTORS the codebook-free sorted-projection SNM windows
    generate candidates (measured blocking recall 0.786 at n=500);
    past the boundary the family's fixed window decays (0.153 at
    n=2000, SCALE.md round-10 sweep) and the adaptive-cell SemDeDup
    layout — whose sqrt(n) cell count keeps same-cell recall
    scale-stable — takes over. Both branches verify with the bit-exact
    quantized cosine at the corpus _NEARDUP_THETA, so routing changes
    candidate coverage only, never the truth of an emitted pair.

    The one-number size stat costs one count() (ANALYZE-sized); the
    decision is made BEFORE any candidate join runs. The driver's
    correctness corpora sit under the boundary (500 vectors at
    sf0.001/0.01), so the oracle replays the SNM branch at the routed
    threshold; the cells branch is codebook-based (not SQL-portable —
    same rows-only rationale as ``neardup_embedding_cells``) and is
    pinned by the forced-branch flip test in tests/test_similarity.py.
    """
    from imdbmapreduce_spark.stats import choose_embedding_neardup_family

    n = table(spark, sf_dir, "embeddings").count()
    family = choose_embedding_neardup_family(n)
    return _embedding_neardup_by_family(spark, sf_dir, family).withColumn(
        "family", F.lit(family)
    )
