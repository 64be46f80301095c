"""Iterative model training on DataFrames (additive vertical, like
operators/graph.py's fixed-point PageRank — no reference analog; the
reference's only "learning" is static rule evaluation).

The shape demonstrated here is the one every distributed trainer that
fits in sufficient statistics uses: features are materialized ONCE into
the bounded shared cache, each iteration is a single map-side-combinable
aggregation producing a few longs on the driver, and the model update is
driver-side scalar math on those longs. Spark's role is the exact
gradient reduction over the corpus; the model (a handful of floats)
never needs to be distributed at all — it rides into the next round's
plan as literals.

Determinism contract (repo-wide style): per-row float math (dot,
sigmoid, log-loss) is IEEE-deterministic given literal weights; every
cross-row SUM is quantized to integer units per row first, so the
reduction is an exact long add — bit-identical under any partitioning,
AQE re-plan, or replay. tests/test_ml.py replays the whole optimization
in numpy and requires exact equality, round by round.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imdbmapreduce_spark.cache import register_release_hook, shared_cache
from imdbmapreduce_spark.registry import query, unrolled_cte

_LR_ROUNDS = 10
_LR_RATE = 2.0  # learning rate on normalized, bounded features
_GRAD_SCALE = 1_000_000_000  # per-row gradient quantum (1e-9)
_LOSS_SCALE = 1_000_000  # per-row loss quantum (1e-6)
# |grad term| <= ~5e9 at this scale; the long sum holds ~1.8e9 rows
# before overflow — at larger corpora drop _GRAD_SCALE to 1e6 (the
# gradient only steers the update; 1e-6 resolution is far below the
# noise floor of SGD-family methods).

_FEATURES = ("bias", "log_tokens", "stop_ratio", "distinct_ratio")


def quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, x0..x3): bounded training features from the quality
    stats — bias, log10(tokens)/3 (soft length), stopword ratio,
    distinct-token ratio; label = the is_quality gate."""
    from imdbmapreduce_spark.operators.text import doc_quality

    q = doc_quality(spark, sf_dir)
    return q.select(
        "doc_id",
        F.col("is_quality").cast("int").alias("y"),
        F.lit(1.0).alias("x0"),
        (F.log10(F.col("n_tokens").cast("double") + 1.0) / 3.0).alias("x1"),
        F.col("stop_ratio").alias("x2"),
        F.col("distinct_ratio").alias("x3"),
    )


def _logreg_base_sql() -> str:
    """The training chain's inputs in DuckDB SQL: ``feats``, the
    quality_features projection (mirrors operators.text.doc_quality's
    oracle fragments), and the zero initial weights ``w0``. ``feats`` is
    MATERIALIZED because every round reads it: inlined, it re-tokenizes
    the corpus and re-opens the parquet per reference."""
    from imdbmapreduce_spark.operators.text import _DUCK_TOKS, _stop_list_sql

    return f"""feats AS MATERIALIZED (
      SELECT
        doc_id,
        CAST((len(toks) >= 20 AND len(list_distinct(toks)) * 4 >= len(toks))
             AS INT) AS y,
        1.0 AS x0,
        log10(CAST(len(toks) AS DOUBLE) + 1.0) / 3.0 AS x1,
        CAST(len(list_filter(toks, x -> list_contains({_stop_list_sql()}, x)))
             AS DOUBLE) / len(toks) AS x2,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS x3
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) t
      WHERE len(toks) > 0
    ), w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""


def _logreg_step(src: str, extra_aggs: str = "") -> Callable:
    """Round ``t`` of the quantized gradient descent over the rows of
    CTE ``src``: margins at ``w{t-1}`` (``m{t}``), the exact gradient
    sums plus ``extra_aggs`` (``a{t}``), and the updated weights ``w{t}``
    — the driver-side update's double arithmetic, same association order
    as the Python expressions."""
    margin = " + ".join(f"w.w{j} * f.x{j}" for j in range(4))
    grads = ", ".join(
        f"SUM(CAST(round(((p - CAST(y AS DOUBLE)) * x{j}) * {_GRAD_SCALE})"
        f" AS BIGINT)) AS g{j}"
        for j in range(4)
    )
    update = ", ".join(
        f"w.w{j} - ({_LR_RATE} * (CAST(a.g{j} AS DOUBLE) / {_GRAD_SCALE}))"
        f" / a.n AS w{j}"
        for j in range(4)
    )
    return lambda t: [
        (
            f"m{t}",
            f"""
      SELECT y, x0, x1, x2, x3, margin, 1.0 / (1.0 + exp(-margin)) AS p
      FROM (SELECT f.*, ({margin}) AS margin FROM {src} f, w{t - 1} w)
    """,
        ),
        (f"a{t}", f"SELECT {grads}, {extra_aggs}COUNT(*) AS n FROM m{t}"),
        (f"w{t}", f"SELECT {update} FROM w{t - 1} w, a{t} a"),
    ]


def _logreg_oracle_sql() -> str:
    """Unroll the exact quantized-gradient descent as chained DuckDB CTEs.

    Possible BECAUSE of the determinism contract (module docstring): every
    cross-row reduction is an exact integer sum of per-row HALF_UP-rounded
    quanta, and the driver-side weight update is plain double arithmetic
    DuckDB reproduces operation-for-operation (same association order as
    the Python expressions). DuckDB lacks ``log1p``, so the loss uses
    ``ln(1+x)`` — for x = e^-|margin| in (0, 1] the two differ by at most
    1 ulp, ~1e-10 of a loss quantum, far off any rounding boundary.
    Verified hash-identical at sf0.01 via tools/driver_sim.py and at
    sf0.001 by tests/test_oracle_parity.py.
    """
    loss = f"""SUM(CAST(round((greatest(margin, 0.0) + ln(1.0 + exp(-abs(margin)))
                        - CAST(y AS DOUBLE) * margin) * {_LOSS_SCALE})
                 AS BIGINT)) AS loss_q,
        SUM(CAST((CAST(p > 0.5 AS INT) = y) AS BIGINT)) AS n_correct, """
    # row t: the loss and accuracy at w{t}, computed by round t + 1
    rows = "\n    UNION ALL ".join(
        f"SELECT {t} AS round, CAST(a.loss_q AS BIGINT) AS sum_loss_q, "
        f"CAST(a.n_correct AS BIGINT) AS n_correct, w.w0, w.w1, w.w2, w.w3 "
        f"FROM a{t + 1} a, w{t} w"
        for t in range(_LR_ROUNDS)
    )
    return unrolled_cte(
        _logreg_base_sql(), _logreg_step("feats", loss), _LR_ROUNDS, rows
    )


@query("doc_quality_logreg", oracle=_logreg_oracle_sql(), bench=True)
def doc_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression by full-batch gradient descent:
    learn the quality gate from its own soft features — the smallest
    honest instance of "train a quality classifier on the corpus" that
    a curation pipeline distills from an expensive teacher.

    Per round: ONE aggregation over the cached feature table computes
    the exact quantized gradient (4 longs), the log-loss, and the
    decision accuracy; the driver updates the 4 weights and embeds them
    as literals in the next round's plan. Output is the training curve —
    (round, sum_loss_q, n_correct, w0..w3) per round — so convergence is
    an inspectable artifact, not a side effect.

    Scale: the feature build is one scan (shared-cached, like every
    index artifact); each round shuffles exactly ONE combined partial
    row per task (the cheapest possible exchange), and driver state is
    4 floats. 100 TB changes the scan cost, nothing else — this is why
    sufficient-statistics trainers (linear/logistic/GLM, k-means, EM)
    parallelize perfectly on a DataFrame engine while SGD-style
    minibatch training does not (it would serialize on the per-batch
    driver round-trip; that regime belongs to a parameter server or
    torch DDP, not a SQL engine).
    """
    feats = shared_cache(
        spark, ("logreg_features", sf_dir), lambda: quality_features(spark, sf_dir)
    )
    rows, _ = _logreg_fit(feats)
    return spark.createDataFrame(
        rows,
        "round int, sum_loss_q long, n_correct long, "
        "w0 double, w1 double, w2 double, w3 double",
    )


def _logreg_fit(frame: DataFrame) -> tuple[list[tuple], list]:
    """The quantized-gradient descent over ``frame``'s (y, x0..x3) rows:
    ``_LR_ROUNDS`` rounds of ONE aggregation each — the 4 exact gradient
    sums, the log-loss, the decision accuracy and the row count — with
    the weight update as driver-side double arithmetic. Returns the
    training curve, (round, loss_q, n_correct, w0..w3) at the weights in
    effect that round, and the final weights.

    An empty frame has no model: its round-0 sums are NULL, the weights
    become NULL and every later round is NULL too — the same NULL
    propagation as the unrolled oracle, whose curve keeps all its rows.
    """
    w: list = [0.0, 0.0, 0.0, 0.0]
    rows = []
    for t in range(_LR_ROUNDS):
        margin = sum(F.lit(w[j]).cast("double") * F.col(f"x{j}") for j in range(4))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        r = p - F.col("y").cast("double")
        # log-loss in softplus form: ln(1+e^margin) - y*margin, computed
        # as max(margin,0) + log1p(exp(-|margin|)) - y*margin. Never
        # evaluates log(0) when the sigmoid saturates (|margin| > ~37
        # makes p exactly 0.0/1.0 in double and the naive
        # y*log(p)+(1-y)*log(1-p) silently null-drops the row in Spark
        # while the replay raises) — and it is the same expression the
        # replay computes, so bit-exactness survives separable corpora.
        logloss = (
            F.greatest(margin, F.lit(0.0))
            + F.log1p(F.exp(-F.abs(margin)))
            - F.col("y").cast("double") * margin
        )
        # per-row quantization BEFORE every sum: exact long reductions
        agg = frame.agg(
            *[
                F.sum(F.round(r * F.col(f"x{j}") * _GRAD_SCALE).cast("long")).alias(
                    f"g{j}"
                )
                for j in range(4)
            ],
            F.sum(F.round(logloss * _LOSS_SCALE).cast("long")).alias("loss_q"),
            F.sum(((p > 0.5).cast("int") == F.col("y")).cast("long")).alias(
                "n_correct"
            ),
            F.count(F.lit(1)).alias("n"),
        ).first()
        rows.append((t, agg["loss_q"], agg["n_correct"], *w))
        if agg["n"] == 0:
            w = [None, None, None, None]
            continue
        for j in range(4):
            w[j] -= _LR_RATE * (agg[f"g{j}"] / _GRAD_SCALE) / agg["n"]
    return rows, w


def logreg_replay(feats: list[tuple], rounds: int = _LR_ROUNDS) -> list[tuple]:
    """Pure-Python replay of :func:`doc_quality_logreg`'s math over
    collected (y, x0..x3) rows — the bit-exactness witness used by
    tests. Same quantization, same update, no Spark."""
    n = len(feats)
    w = [0.0, 0.0, 0.0, 0.0]
    out = []
    for t in range(rounds):
        g = [0, 0, 0, 0]
        loss_q = 0
        n_correct = 0
        for y, *x in feats:
            margin = sum(w[j] * x[j] for j in range(4))
            p = 1.0 / (1.0 + math.exp(-margin))
            r = p - float(y)
            for j in range(4):
                g[j] += _round_half_away(r * x[j] * _GRAD_SCALE)
            ll = max(margin, 0.0) + math.log1p(math.exp(-abs(margin))) - y * margin
            loss_q += _round_half_away(ll * _LOSS_SCALE)
            n_correct += int((1 if p > 0.5 else 0) == y)
        out.append((t, loss_q, n_correct, *w))
        for j in range(4):
            w[j] -= _LR_RATE * (g[j] / _GRAD_SCALE) / n
    return out


def _round_half_away(v: float) -> int:
    """Round half away from zero — Spark ``F.round``'s (HALF_UP)
    semantics, mirrored for the replay."""
    return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))


def _train_split_oracle(select: str) -> str:
    """The eval and calibration oracles' shared chain: the content-hash
    split rule (operators.text's md5-bucket thresholds) as plain SQL, then
    the 10 gradient rounds over the ``train`` rows only. ``select`` scores
    ``labeled`` (every doc with its split) under the frozen final weights
    ``w{_LR_ROUNDS}``."""
    from imdbmapreduce_spark.operators.text import _SPLIT_TRAIN, _SPLIT_VAL

    bucket = "CAST(('0x' || substring(md5(text), 1, 2)) AS INTEGER)"
    base = f"""{_logreg_base_sql()}, split AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN {bucket} < {_SPLIT_TRAIN} THEN 'train'
                  WHEN {bucket} < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), labeled AS MATERIALIZED (
      SELECT f.*, s.split FROM feats f JOIN split s USING (doc_id)
    ), train AS MATERIALIZED (SELECT * FROM labeled WHERE split = 'train')"""
    return unrolled_cte(base, _logreg_step("train"), _LR_ROUNDS, select)


# (y, split, p) of every labeled doc under the frozen final weights
_SCORED = f"""(SELECT l.y, l.split,
                 1.0 / (1.0 + exp(-({" + ".join(f"w.w{j} * l.x{j}" for j in range(4))}))) AS p
          FROM labeled l, w{_LR_ROUNDS} w)"""


def _logreg_eval_oracle_sql() -> str:
    """Unrolled-CTE oracle for the train/eval twin: the training chain of
    :func:`_train_split_oracle` (gradients only — the eval loop computes
    no loss), and the frozen final weights score every split.
    ``accuracy_milli`` uses integer division — Spark's
    double-divide-then-cast truncation is exact for counts × 1000 far
    below 2^53, so ``//`` reproduces it bit-for-bit.
    """
    weights = ", ".join(
        f"(SELECT w{j} FROM w{_LR_ROUNDS}) AS w{j}" for j in range(4)
    )
    return _train_split_oracle(
        f"""SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST((CAST(p > 0.5 AS INT) = y) AS BIGINT)) AS BIGINT)
             AS n_correct,
           CAST(SUM(CAST((CAST(p > 0.5 AS INT) = y) AS BIGINT)) * 1000
                // COUNT(*) AS BIGINT) AS accuracy_milli,
           {weights}
    FROM {_SCORED}
    GROUP BY split ORDER BY split"""
    )


# Session memo for the TRAIN-split logreg fit (r12 optimization, guide
# §1.2 "don't compute things you throw away"): the eval and calibration
# reports freeze the IDENTICAL model (same features, same split, same
# 10-round recurrence) — training it once per (session, corpus) and
# serving both is the same build-once/serve-many contract as the BPE
# trained-tokenizer memo in operators.lm (the weights are corpus-derived
# state, deterministic, and released with every other session artifact).
_TRAIN_W_MEMO: dict[tuple, list] = {}

register_release_hook(_TRAIN_W_MEMO.clear)


def _split_model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """What :func:`doc_quality_logreg_eval` and
    :func:`doc_quality_calibration` both score: ``labeled``, every
    featured doc joined to its content-hash split, and the frozen
    weights fit by :func:`_logreg_fit` on the train split only (the
    recurrence both oracles unroll), memoized per (session, corpus) in
    ``_TRAIN_W_MEMO``. An empty train split gives NULL weights, which
    flow through the scoring expressions as NULL — the oracles' NULL
    propagation.
    """
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.text import split_assignment

    feats = shared_cache(
        spark, ("logreg_features", sf_dir), lambda: quality_features(spark, sf_dir)
    )
    labeled = feats.join(split_assignment(table(spark, sf_dir, "documents")), "doc_id")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRAIN_W_MEMO:
        _, w = _logreg_fit(labeled.filter(F.col("split") == "train"))
        _TRAIN_W_MEMO[key] = w
    return labeled, list(_TRAIN_W_MEMO[key])


@query("doc_quality_logreg_eval", oracle=_logreg_eval_oracle_sql(), bench=True)
def doc_quality_logreg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval separation for the quality classifier: fit the
    logistic regression ON THE TRAIN SPLIT ONLY (the same content-hash
    split `dataset_split` publishes), then score every split with the
    frozen weights — the held-out generalization check that closes the
    train-a-classifier loop (train on train, report on val/test, never
    peek).

    Output: one row per split — documents, correct decisions, exact
    integer-accuracy per mille — plus the frozen weights (identical on
    every row, so the artifact is self-contained).

    Scale: the feature build joins the map-only split projection onto
    the cached feature table once; training sees |train| rows per round
    (same one-aggregation-per-round shape as `doc_quality_logreg`) and
    is the shared :func:`_split_model` fit — trained once per
    (session, corpus), served to this report AND the calibration twin
    (r12: the two queries ran the identical 10-round fit back to back);
    the final scoring pass is a single grouped aggregation over all
    splits with the weights as literals.
    """
    labeled, w = _split_model(spark, sf_dir)

    margin = sum(F.lit(w[j]).cast("double") * F.col(f"x{j}") for j in range(4))
    pred = (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) > 0.5).cast("int")
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((pred == F.col("y")).cast("long")).alias("n_correct"),
        )
        .withColumn(
            "accuracy_milli",
            (F.col("n_correct") * 1000 / F.col("n_docs")).cast("long"),
        )
        .select(
            "split",
            "n_docs",
            "n_correct",
            "accuracy_milli",
            *[F.lit(w[j]).cast("double").alias(f"w{j}") for j in range(4)],
        )
        .orderBy("split")
    )


# --- k-means (Lloyd) on the embeddings table ------------------------------

_KM_K = 8
_KM_ROUNDS = 3
_KM_Q = 1_000_000  # component quantum: ~±0.6 floats -> |xq| <= ~6e5
_KM_DIM = 64
# dist per pair <= 64 * (1.2e6)^2 ≈ 9.2e13 (exact in BIGINT and in
# DOUBLE); SSE over 2e3 points <= ~2e17 — in range at test scale. At
# 100 TB point counts, report avg-SSE per cluster or drop _KM_Q to 1e3
# so the BIGINT sum stays in range; the iteration structure is unchanged.


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero — what both Spark's
    ``div`` and DuckDB's ``//`` do on BIGINT (floor division like
    Python's ``//`` differs on negative sums)."""
    q = abs(s) // n
    return -q if s < 0 else q


def _kmeans_oracle_sql() -> str:
    """Unroll Lloyd's algorithm as chained DuckDB CTEs.

    Possible because every step is integer fixed-point: quantized
    components, exact BIGINT distances, argmin with (dist, cluster)
    tie-break, and truncating integer centroid updates — the same
    bit-for-bit recurrence in both engines (the PageRank/logreg oracle
    technique).
    """
    base = f"""pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(round(CAST(v AS DOUBLE) * {_KM_Q}) AS BIGINT)) AS xq
      FROM embeddings
    ), c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, xq AS cent
      FROM (SELECT vec_id, xq FROM pts ORDER BY vec_id LIMIT {_KM_K})
    )"""

    def step(t: int) -> list[tuple[str, str]]:
        return [
            (f"d{t}", f"""
      SELECT vec_id, cluster, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist
      FROM (SELECT p.vec_id, c.cluster, UNNEST(p.xq) AS x, UNNEST(c.cent) AS c
            FROM pts p CROSS JOIN c{t - 1} c)
      GROUP BY 1, 2
    """),
            (f"a{t}", f"""
      SELECT vec_id, cluster, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cluster) AS rn
            FROM d{t})
      WHERE rn = 1
    """),
            (f"s{t}", f"""
      SELECT cluster, COUNT(*) AS n_points, SUM(dist) AS sse_q
      FROM a{t} GROUP BY 1
    """),
            (f"u{t}", f"""
      SELECT a.cluster, g.i, SUM(p.xq[g.i]) AS s, COUNT(*) AS n
      FROM a{t} a JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, {_KM_DIM}) g(i)
      GROUP BY 1, 2
    """),
            (f"c{t}", f"""
      SELECT cluster, list(CAST(s AS BIGINT) // CAST(n AS BIGINT) ORDER BY i) AS cent
      FROM u{t} GROUP BY cluster
    """),
        ]

    # row t: the assignment under c{t}, computed by round t + 1
    rows = "\n    UNION ALL ".join(
        f"SELECT {t} AS round, s.cluster, CAST(s.n_points AS BIGINT) AS n_points, "
        f"CAST(s.sse_q AS BIGINT) AS sse_q, c.cent[1] AS cent0_q "
        f"FROM s{t + 1} s JOIN c{t} c USING (cluster)"
        for t in range(_KM_ROUNDS)
    )
    return unrolled_cte(base, step, _KM_ROUNDS, f"SELECT * FROM (\n    {rows}\n    )")


def _km_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from imdbmapreduce_spark.catalog import table

    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.round(v.cast("double") * _KM_Q).cast("long"),
        ).alias("xq"),
    )


def _km_assign_rowwise(feats: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Row-wise argmin: centroids broadcast as ONE array<struct> row,
    per-point distance via zip_with/aggregate, array_min tie-break on
    (dist, cluster). NO shuffle of vectors; HOFs are CodegenFallback
    (per-row interpreted) — CPU-bound trade."""
    spark = feats.sparkSession
    cent_df = spark.createDataFrame(
        [([(c, cents[c]) for c in sorted(cents)],)],
        "cs array<struct<cluster: int, cent: array<bigint>>>",
    )
    per_cent = lambda s: F.struct(  # noqa: E731
        F.aggregate(
            F.zip_with(F.col("xq"), s["cent"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
        s["cluster"].alias("cluster"),
    )
    return (
        feats.join(F.broadcast(cent_df))
        .withColumn("m", F.array_min(F.transform(F.col("cs"), per_cent)))
        .select(
            F.col("m.cluster").alias("cluster"),
            F.col("m.dist").alias("dist"),
            "xq",
        )
    )


def _km_assign_exploded(feats: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Exploded argmin (the IVF _cell_assignment shape): components join
    a broadcast (cluster, pos, c) table, distances come out of ONE
    codegen'd hash-agg over (vec_id, cluster), argmin is a second tiny
    agg via min(struct(dist, cluster)). Everything whole-stage codegen
    (no HOF interpretation); the price is an n×k-row exchange per round
    — the documented CPU-vs-exchange trade the row-wise form avoids."""
    spark = feats.sparkSession
    cent_df = spark.createDataFrame(
        [(c, i, v) for c in sorted(cents) for i, v in enumerate(cents[c])],
        "cluster int, pos int, c long",
    )
    comps = feats.select("vec_id", F.posexplode("xq").alias("pos", "x"))
    dist = (
        comps.join(F.broadcast(cent_df), "pos")
        .groupBy("vec_id", "cluster")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist"))
    )
    argmin = (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cluster")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cluster").alias("cluster"),
            F.col("m.dist").alias("dist"),
        )
    )
    # join back for the vectors the stats stage needs — the extra
    # vec_id-keyed exchange this form pays that rowwise doesn't
    return argmin.join(feats, "vec_id").select("cluster", "dist", "xq")


def _kmeans(spark: SparkSession, sf_dir: str, assignment: str) -> DataFrame:
    """Lloyd loop shared by both registered forms; ``assignment`` ∈
    {'rowwise', 'exploded'} picks the argmin physical strategy. Both are
    exact integer fixed-point over identical math, so their outputs are
    bit-identical (pinned in test_ml.py) and share one oracle."""
    feats = shared_cache(
        spark, ("kmeans_xq", sf_dir), lambda: _km_features(spark, sf_dir)
    )
    assign_fn = {"rowwise": _km_assign_rowwise, "exploded": _km_assign_exploded}[
        assignment
    ]
    init = feats.orderBy("vec_id").limit(_KM_K).collect()
    cents: dict[int, list[int]] = {i: list(r.xq) for i, r in enumerate(init)}
    out_rows = []
    for t in range(_KM_ROUNDS):
        assigned = assign_fn(feats, cents)
        # ALL round statistics through one narrow (cluster, pos) agg:
        # positions 0..dim-1 carry the component sums, dim carries the
        # point's min-distance (-> per-cluster SSE), dim+1 carries 1
        # (-> member count). One small expression tree instead of dim+2
        # wide aggregate columns — measured ~40% per-round wall win; the
        # exchange is |clusters|x(dim+2) longs either way.
        stat_rows = (
            assigned.select(
                "cluster",
                F.posexplode(
                    F.concat("xq", F.array(F.col("dist"), F.lit(1).cast("long")))
                ),
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("col").alias("s"))
            .collect()
        )
        stats: dict[int, dict[int, int]] = {}
        for r in stat_rows:
            stats.setdefault(r.cluster, {})[r.pos] = r.s
        for c in sorted(stats):
            out_rows.append(
                (t, c, stats[c][_KM_DIM + 1], stats[c][_KM_DIM], cents[c][0])
            )
        cents = {
            c: [_trunc_div(s[i], s[_KM_DIM + 1]) for i in range(_KM_DIM)]
            for c, s in stats.items()
        }
    return spark.createDataFrame(
        out_rows, "round int, cluster int, n_points long, sse_q long, cent0_q long"
    )


@query("kmeans_embeddings", oracle=_kmeans_oracle_sql(), bench=True)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means by Lloyd iterations over the embeddings table, exact
    integer fixed-point end to end: components quantized to a 1e-6 grid,
    BIGINT squared distances, argmin tie-broken by cluster id, centroid
    update = truncating integer division of per-dim sums. Deterministic
    under any partitioning — and therefore hash-checkable against the
    unrolled DuckDB CTE recurrence (the logreg/PageRank oracle pattern,
    here for the third sufficient-statistics family: clustering).

    Init = the k lowest-vec_id points (data-derived, deterministic). An
    emptied cluster drops out identically in both engines (its GROUP BY
    row simply disappears). Output is the per-round training curve:
    (round, cluster, n_points, sse_q, cent0_q) for the centroids IN
    EFFECT that round.

    Scale: the quantized features are shared-cached (one scan); each
    round is ONE aggregation whose shuffle carries k×(dim+2) longs per
    task after map-side combine, and driver state is k×dim ints. The
    per-point work is one zip_with/aggregate distance expression per
    broadcast centroid row — JVM-side Catalyst expressions, no UDF and
    NO assignment shuffle (higher-order functions are CodegenFallback:
    per-row interpreted, which is the price of the shuffle-free row-wise
    argmin; if assignment CPU ever dominates at extreme scale, the
    posexplode + broadcast-centroid partial-agg form trades it for an
    n×k-longs exchange, the IVF _cell_assignment shape — registered as
    the selectable twin :func:`kmeans_embeddings_exploded`, same oracle,
    bit-identical output, both benched so the trade is measured). The
    plan text is round-invariant so the compiled class is reused across
    rounds (centroids ride in as a broadcast DATAFRAME, not literals —
    k×dim literal arrays would force a fresh codegen compile per round,
    measured ~1 s/round at k=8, dim=64). This is the canonical reason
    k-means parallelizes on a DataFrame engine: the sufficient
    statistics (per-cluster sums and counts) are tiny and associative.
    """
    return _kmeans(spark, sf_dir, "rowwise")


@query("kmeans_embeddings_exploded", oracle=_kmeans_oracle_sql(), bench=True)
def kmeans_embeddings_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`kmeans_embeddings` with the OTHER assignment strategy: the
    posexplode + broadcast-centroid partial-agg form (_km_assign_exploded
    — the IVF _cell_assignment shape). Distances come out of a fully
    codegen'd hash-agg (no CodegenFallback higher-order functions), at
    the price of an n×k-row distance exchange plus a vec_id join-back
    per round. Identical math → identical output → same unrolled-CTE
    oracle; equality with the rowwise form is pinned in test_ml.py and
    both forms are benched, so the HOF-CPU-vs-exchange trade-off is a
    measured number, not prose.
    """
    return _kmeans(spark, sf_dir, "exploded")


def kmeans_replay(
    xq_rows: list[tuple[int, list[int]]], k: int = _KM_K, rounds: int = _KM_ROUNDS
) -> list[tuple]:
    """Pure-Python replay of :func:`kmeans_embeddings` over (vec_id, xq)
    rows — the bit-exactness witness for tests. Same init, same argmin
    tie-break, same truncating update."""
    pts = sorted(xq_rows)
    cents = {i: list(xq) for i, (_, xq) in enumerate(pts[:k])}
    out = []
    for t in range(rounds):
        stats: dict[int, list] = {}
        for _, xq in pts:
            best, best_d = None, None
            for c in sorted(cents):
                d = sum((a - b) * (a - b) for a, b in zip(xq, cents[c]))
                if best_d is None or d < best_d:
                    best, best_d = c, d
            s = stats.setdefault(best, [0, 0, [0] * len(xq)])
            s[0] += 1
            s[1] += best_d
            for j, a in enumerate(xq):
                s[2][j] += a
        for c in sorted(stats):
            out.append((t, c, stats[c][0], stats[c][1], cents[c][0]))
        cents = {
            c: [_trunc_div(sj, stats[c][0]) for sj in stats[c][2]] for c in stats
        }
    return out


# --- threshold sweep: filter calibration over a sufficient statistic ------

_SWEEP_STEP = 25  # per-mille threshold grid 0, 25, ..., 975


def _sweep_oracle_sql() -> str:
    from imdbmapreduce_spark.operators.text import _DUCK_TOKS, _stop_list_sql

    # clamp mirrors the Spark plan: a perfect score of 1000 belongs to
    # the grid's top bucket, not a bucket no grid row joins
    step = _SWEEP_STEP
    top = 1000 // _SWEEP_STEP - 1

    return f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), scored AS (
      SELECT CAST((1000 * len(list_filter(toks,
                     x -> list_contains({_stop_list_sql()}, x))))
                  // len(toks) AS BIGINT) AS score_q,
             (len(toks) >= 20 AND len(list_distinct(toks)) * 4 >= len(toks))
               AS label
      FROM t WHERE len(toks) > 0
    ), hist AS (
      SELECT least(score_q // {step}, {top}) * {step} AS score_q,
             label, CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY 1, 2
    ), grid AS (
      SELECT CAST(range AS BIGINT) AS threshold FROM range(0, 1000, {_SWEEP_STEP})
    ), m AS (
      SELECT g.threshold,
             CAST(SUM(CASE WHEN h.score_q >= g.threshold AND h.label
                           THEN h.n ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN h.score_q >= g.threshold AND NOT h.label
                           THEN h.n ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN h.score_q < g.threshold AND h.label
                           THEN h.n ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN h.score_q < g.threshold AND NOT h.label
                           THEN h.n ELSE 0 END) AS BIGINT) AS tn
      FROM grid g CROSS JOIN hist h
      GROUP BY 1
    )
    SELECT threshold, tp, fp, fn, tn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision_,
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall_,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
    FROM m
    """


@query("quality_threshold_sweep", oracle=_sweep_oracle_sql())
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration sweep: precision/recall/F1 of a stopword-ratio
    quality filter at every threshold of a per-mille grid, against the
    :func:`~imdbmapreduce_spark.operators.text.doc_quality` gate as the
    label — the curve a curation pipeline reads to PICK the threshold
    before filtering a 100 TB corpus (choosing a cutoff without this
    sweep is guessing; with it, the recall cost of each precision point
    is measured).

    Scale shape — sweep the SUFFICIENT STATISTIC, not the corpus: one
    map-only pass reduces every document to an integer (score_q, label)
    pair; one aggregation collapses those to per-bucket positive /
    negative counts (bucket = score div step, so every grid threshold
    is a bucket boundary); the whole curve then falls out of ONE
    suffix-sum window over the 40-row bucket table — tp(t) is the
    positives at-or-above t's bucket, fn(t) = total_pos - tp(t). Sweep
    cost is independent of corpus size and there is no grid x histogram
    join at all (corpus pass: O(N) with map-side combine; sweep: O(40)
    window rows on the driver-sized table).

    Determinism: score_q = (1000 * n_stopwords) div n_tokens — exact
    integer floor division; all four confusion cells are integer sums;
    precision/recall/f1 are single exact-int divisions with a
    CASE-guarded 0/0 -> 0.0 in both engines. (Columns named precision_
    / recall_ because PRECISION is a DuckDB keyword.)
    """
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.functions import tokens
    from imdbmapreduce_spark.operators.text import STOPWORDS

    docs = table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    scored = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            F.expr(
                "CAST((1000 * size(filter(toks, x -> array_contains("
                + "array("
                + ", ".join(f"'{w}'" for w in STOPWORDS)
                + "), x)))) div size(toks) AS BIGINT)"
            ).alias("score_q"),
            (
                (F.size("toks") >= 20)
                & (F.size(F.array_distinct("toks")) * 4 >= F.size("toks"))
            ).alias("label"),
        )
    )
    from pyspark.sql.window import Window

    # bucket = score div step: every grid threshold t = step*k is a
    # bucket boundary, so "score >= t" == "bucket >= k" exactly. The
    # bucket CLAMPS to the grid's top (39): a perfect score of 1000
    # (all-stopword doc) would otherwise land in bucket 40, which no
    # grid row joins -- dropping it from every confusion cell. Clamping
    # preserves semantics exactly: score 1000 >= t for every grid t.
    top = 1000 // _SWEEP_STEP - 1
    hb = scored.groupBy(
        F.expr(f"least(score_q div {_SWEEP_STEP}, {top})").cast("long").alias("bucket")
    ).agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("b_pos"),
        F.sum(F.when(~F.col("label"), 1).otherwise(0)).cast("long").alias("b_neg"),
    )
    grid = spark.range(0, 1000 // _SWEEP_STEP).select(
        F.col("id").cast("long").alias("bucket")
    )
    filled = grid.join(hb, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("b_pos"), F.lit(0)).cast("long").alias("b_pos"),
        F.coalesce(F.col("b_neg"), F.lit(0)).cast("long").alias("b_neg"),
    )
    # suffix sums: tp at bucket k = positives in buckets >= k
    wsuf = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m = filled.select(
        (F.col("bucket") * _SWEEP_STEP).alias("threshold"),
        F.sum("b_pos").over(wsuf).cast("long").alias("tp"),
        F.sum("b_neg").over(wsuf).cast("long").alias("fp"),
        (F.sum("b_pos").over(wall) - F.sum("b_pos").over(wsuf))
        .cast("long")
        .alias("fn"),
        (F.sum("b_neg").over(wall) - F.sum("b_neg").over(wsuf))
        .cast("long")
        .alias("tn"),
    )
    guard = lambda num, den: F.when(den == 0, F.lit(0.0)).otherwise(
        num.cast("double") / den
    )
    return m.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        guard(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision_"),
        guard(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall_"),
        guard(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")).alias("f1"),
    )


# --- calibration bins over the held-out split ------------------------------

_CAL_BINS = 10
_CAL_PPM = 1_000_000


def _logreg_calibration_oracle_sql() -> str:
    """Unrolled-CTE oracle for the reliability diagram: the training
    chain of :func:`_train_split_oracle`, final weights scoring the VAL
    split only, fixed-width probability bins. All reported values are
    integer: counts, and ppm ratios by truncating division over exact
    integer sums (per-row HALF_UP p quanta — the module's determinism
    contract)."""
    return _train_split_oracle(
        f"""SELECT LEAST(CAST(floor(p * {_CAL_BINS}) AS BIGINT), {_CAL_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(CAST(round(p * {_CAL_PPM}) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS predicted_ppm,
           CAST(SUM(y) * {_CAL_PPM} // COUNT(*) AS BIGINT) AS observed_ppm
    FROM {_SCORED} WHERE split = 'val'
    GROUP BY 1"""
    )


@query("doc_quality_calibration", oracle=_logreg_calibration_oracle_sql())
def doc_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality classifier: the logreg is fit
    on the TRAIN split exactly as in :func:`doc_quality_logreg_eval`,
    then the frozen model's VAL-split predictions land in {_CAL_BINS}
    fixed-width probability bins — per bin the doc count, positives,
    mean predicted probability and observed positive rate (both in
    exact integer ppm). Predicted ≈ observed per bin is what lets a
    curation pipeline use the score as a THRESHOLDABLE probability
    (the step after accuracy: a model can be accurate and still
    miscalibrated, and quality-filter cutoffs consume the probability,
    not the argmax).

    Fixed-width bins, not quantiles: bin edges are constants, so the
    report is deterministic and mergeable across shards (each shard's
    bin sums add — the 100 TB shape: one agg, 10 groups), and the
    oracle replays them exactly.

    Scale: the same one-aggregation-per-round training as the eval twin
    (model-sized driver state only) via the shared
    :func:`_split_model` fit (r12: trained once per session,
    not re-fit per report), then ONE grouped aggregation over the val
    split — no sort, no window, 10 output rows at any corpus size.
    """
    labeled, w = _split_model(spark, sf_dir)

    margin = sum(F.lit(w[j]).cast("double") * F.col(f"x{j}") for j in range(4))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return (
        labeled.filter(F.col("split") == "val")
        .select(
            F.least(
                F.floor(p * _CAL_BINS).cast("long"), F.lit(_CAL_BINS - 1)
            ).alias("bin"),
            F.col("y"),
            F.round(p * _CAL_PPM).cast("long").alias("p_q"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("CAST(SUM(p_q) DIV COUNT(*) AS BIGINT)").alias("predicted_ppm"),
            F.expr(
                f"CAST(SUM(y) * {_CAL_PPM} DIV COUNT(*) AS BIGINT)"
            ).alias("observed_ppm"),
        )
    )
