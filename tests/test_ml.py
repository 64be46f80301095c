"""Iterative-training vertical: the distributed logistic regression must
replay bit-exactly in pure Python (the determinism contract for the
quantized gradient reduction) and must actually learn the gate."""

from __future__ import annotations

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.operators.ml import (
    _LR_ROUNDS,
    logreg_replay,
    quality_features,
)


def test_logreg_training_curve_replays_bit_exactly(spark, sf_dir):
    feats = [
        (r.y, r.x0, r.x1, r.x2, r.x3)
        for r in quality_features(spark, sf_dir).orderBy("doc_id").collect()
    ]
    expected = logreg_replay(feats)
    got = [
        (r["round"], r.sum_loss_q, r.n_correct, r.w0, r.w1, r.w2, r.w3)
        for r in registry.get("doc_quality_logreg").fn(spark, sf_dir).collect()
    ]
    assert len(got) == _LR_ROUNDS
    assert got == expected  # exact: quantized sums + IEEE scalar updates


def test_logreg_converges(spark, sf_dir):
    rows = sorted(
        registry.get("doc_quality_logreg").fn(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    n = quality_features(spark, sf_dir).count()
    # loss must strictly improve over training and accuracy must beat
    # both the all-one baseline and 80% by the last round
    assert rows[-1].sum_loss_q < rows[0].sum_loss_q
    base = max(r.n_correct for r in rows[:1])  # round 0 = w=0 coin flip
    assert rows[-1].n_correct > base
    assert rows[-1].n_correct / n >= 0.8, (rows[-1].n_correct, n)


def test_logreg_eval_trains_only_on_train_and_generalizes(spark, sf_dir):
    """Held-out evaluation: weights must come from the train split alone
    (replayed bit-exactly on exactly those rows) and the frozen model
    must still beat 75% accuracy on the val+test rows it never saw."""
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.text import split_assignment

    rows = {
        r.split: r
        for r in registry.get("doc_quality_logreg_eval").fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"train", "val", "test"}
    # replay training on the train rows only -> same weights
    split = split_assignment(table(spark, sf_dir, "documents"))
    train_feats = [
        (r.y, r.x0, r.x1, r.x2, r.x3)
        for r in quality_features(spark, sf_dir)
        .join(split, "doc_id")
        .filter("split = 'train'")
        .orderBy("doc_id")
        .collect()
    ]
    # bit-exact reconstruction of the frozen weights: the same quantized
    # gradient updates, over exactly the train rows
    import math

    from imdbmapreduce_spark.operators.ml import (
        _GRAD_SCALE,
        _LR_RATE,
        _round_half_away,
    )

    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(_LR_ROUNDS):
        g = [0, 0, 0, 0]
        for y, *x in train_feats:
            margin = sum(w[j] * x[j] for j in range(4))
            r = 1.0 / (1.0 + math.exp(-margin)) - float(y)
            for j in range(4):
                g[j] += _round_half_away(r * x[j] * _GRAD_SCALE)
        for j in range(4):
            w[j] -= _LR_RATE * (g[j] / _GRAD_SCALE) / len(train_feats)
    got_w = (rows["train"].w0, rows["train"].w1, rows["train"].w2, rows["train"].w3)
    assert got_w == tuple(w)  # trained on the train split, bit-for-bit
    for s in ("val", "test"):
        assert rows[s].n_docs > 0
        assert rows[s].accuracy_milli >= 750, (s, rows[s].accuracy_milli)


def test_kmeans_matches_pure_python_replay(spark, sf_dir):
    """Bit-exactness witness for the Lloyd loop: the Spark run must equal
    the pure-Python replay row-for-row — counts, exact BIGINT SSE, and
    the truncating integer centroid components."""
    from imdbmapreduce_spark.operators.ml import _km_features, kmeans_replay

    got = [
        (r.round, r.cluster, r.n_points, r.sse_q, r.cent0_q)
        for r in registry.get("kmeans_embeddings").fn(spark, sf_dir).collect()
    ]
    xq = [(r.vec_id, list(r.xq)) for r in _km_features(spark, sf_dir).collect()]
    assert sorted(got) == sorted(kmeans_replay(xq))
    # every point accounted for each round
    import collections

    n = len(xq)
    totals = collections.defaultdict(int)
    for t, _, n_points, _, _ in got:
        totals[t] += n_points
    assert set(totals.values()) == {n}


def test_kmeans_assignment_forms_identical(spark, sf_dir):
    """The rowwise (HOF, shuffle-free) and exploded (codegen'd,
    n×k-exchange) assignment strategies are physical alternatives over
    identical exact-integer math — their training curves must be
    bit-identical, row for row."""
    rowwise = sorted(
        tuple(r)
        for r in registry.get("kmeans_embeddings").fn(spark, sf_dir).collect()
    )
    exploded = sorted(
        tuple(r)
        for r in registry.get("kmeans_embeddings_exploded").fn(spark, sf_dir).collect()
    )
    assert rowwise == exploded
    assert rowwise  # non-degenerate


def test_trunc_div_matches_engines_on_negatives():
    """Centroid update must truncate toward zero (Spark div / DuckDB //),
    not floor like Python's // — a negative component sum is the case
    that diverges."""
    from imdbmapreduce_spark.operators.ml import _trunc_div

    assert _trunc_div(-7, 2) == -3  # floor would say -4
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-6, 3) == -2
    assert _trunc_div(0, 5) == 0


def test_threshold_sweep_replay_and_curve_properties(spark, sf_dir):
    """Pure-Python replay of the histogram sweep, plus the curve
    invariants: confusion cells always total the corpus, tp+fn is the
    constant positive count, and recall is non-increasing in the
    threshold (predicted-positive set shrinks monotonically)."""
    import duckdb

    from imdbmapreduce_spark.operators.ml import _SWEEP_STEP
    from imdbmapreduce_spark.operators.text import STOPWORDS
    from imdbmapreduce_spark.registry import get

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    stops = set(STOPWORDS)
    pts = []
    for _, text in docs:
        toks = [t for t in text.strip().split() if t]
        if not toks:
            continue
        score = (1000 * sum(1 for t in toks if t in stops)) // len(toks)
        label = len(toks) >= 20 and len(set(toks)) * 4 >= len(toks)
        pts.append((score, label))

    rows = sorted(
        get("quality_threshold_sweep").fn(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == list(range(0, 1000, _SWEEP_STEP))
    n_pos = sum(1 for _, l in pts if l)
    prev_recall = 1.1
    for r in rows:
        tp = sum(1 for s, l in pts if s >= r.threshold and l)
        fp = sum(1 for s, l in pts if s >= r.threshold and not l)
        assert (r.tp, r.fp) == (tp, fp)
        assert r.tp + r.fp + r.fn + r.tn == len(pts)
        assert r.tp + r.fn == n_pos
        assert r.recall_ <= prev_recall + 1e-15
        prev_recall = r.recall_
        assert r.f1 == (2 * tp / (2 * tp + fp + r.fn) if tp + fp + r.fn else 0.0)


def test_calibration_bins_properties(spark, sf_dir):
    """Reliability-diagram invariants: bins in range, counts consistent,
    ppm ratios exactly the truncating integer division of their sums,
    and the val split fully covered."""
    from pyspark.sql import functions as F

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.operators.ml import _CAL_BINS, _CAL_PPM
    from imdbmapreduce_spark.operators.text import split_assignment

    rows = registry.get("doc_quality_calibration").fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_val = split_assignment(docs).filter(F.col("split") == "val").count()
    assert sum(r.n_docs for r in rows) == n_val
    for r in rows:
        assert 0 <= r.bin < _CAL_BINS
        assert 0 <= r.n_pos <= r.n_docs
        assert r.observed_ppm == r.n_pos * _CAL_PPM // r.n_docs
        assert 0 <= r.predicted_ppm <= _CAL_PPM
        # a prediction binned at b has p in [b/10, (b+1)/10) (top bin
        # closed) — the bin mean must sit inside its own bin
        assert r.bin * _CAL_PPM // _CAL_BINS <= r.predicted_ppm
        assert r.predicted_ppm <= (r.bin + 1) * _CAL_PPM // _CAL_BINS or r.bin == _CAL_BINS - 1


def test_logreg_queries_match_oracles_on_empty_corpus(spark, sf_dir, tmp_path):
    """An empty documents table trains no model: the training curve keeps
    all its rounds — round 0 at the zero weights with NULL sums, all-NULL
    rows after — and the eval and calibration reports are empty; each of
    the three queries equals its DuckDB oracle."""
    import os

    import pyarrow.parquet as pq

    from imdbmapreduce_spark.catalog import TABLES
    from tests.oracle_util import compare, duckdb_connection

    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if t == "documents":
            pq.write_table(pq.read_table(src).slice(0, 0), tmp_path / f"{t}.parquet")
        else:
            os.symlink(src, tmp_path / f"{t}.parquet")
    empty = str(tmp_path)
    con = duckdb_connection(empty)
    try:
        for name in (
            "doc_quality_logreg",
            "doc_quality_logreg_eval",
            "doc_quality_calibration",
        ):
            rq = registry.get(name)
            got = rq.fn(spark, empty).toPandas()
            compare(got, con.execute(rq.oracle).fetchdf(), name)
            if name != "doc_quality_logreg":
                assert got.empty, name
    finally:
        con.close()
    curve = sorted(
        tuple(r) for r in registry.get("doc_quality_logreg").fn(spark, empty).collect()
    )
    assert curve == [(0, None, None, 0.0, 0.0, 0.0, 0.0)] + [
        (t, None, None, None, None, None, None) for t in range(1, _LR_ROUNDS)
    ]
