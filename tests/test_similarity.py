"""Semantics tests for similarity search (SURVEY.md §7 Phase 4).

The oracle gate covers knn_bruteforce exactly; these tests lock the
structural properties plus measured recall of the rows-only LSH plan.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Row
from pyspark.sql import functions as F

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.operators.similarity import _N_PROBES, _TOP_K


def _topk_sets(rows):
    by_q = defaultdict(set)
    for r in rows:
        by_q[r.q_id].add(r.neighbor_id)
    return by_q


def test_knn_shape_and_bounds(spark, sf_dir):
    rows = registry.get("knn_bruteforce").fn(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.q_id].append(r)
        assert r.neighbor_id >= _N_PROBES  # probes never retrieve themselves
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
    assert set(by_q) == set(range(_N_PROBES))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, _TOP_K + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_knn_self_similarity_is_one(spark):
    """A vector scored against itself must get cosine 1.0 (exact integer
    dot product / identical norms)."""
    from imdbmapreduce_spark.operators.similarity import quantized_components

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.6, 0.8, 0.0]), Row(vec_id=2, embedding=[0.6, 0.8, 0.0])]
    )
    ex = quantized_components(df)
    from pyspark.sql import functions as F

    dots = (
        ex.filter(F.col("vec_id") == 1)
        .select("pos", F.col("v").alias("qv"))
        .join(ex.filter(F.col("vec_id") == 2), "pos")
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
        .first()
    )
    n2 = ex.filter(F.col("vec_id") == 1).selectExpr("sum(v*v) AS n2").first().n2
    assert dots.dot == n2  # identical vectors: dot == norm^2 exactly


def test_neardup_embedding_cosine_matches_numpy_bruteforce(spark, sf_dir):
    """The blocked gram-matrix plan must reproduce a driver-side numpy
    all-pairs scan exactly: same pair set, each unordered pair once, and
    bit-identical cosines (both paths use the 1e-6 integer quantization)."""
    import numpy as np

    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.similarity import _NEARDUP_THETA, _SCALE

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb], dtype=np.int64)
    M = np.stack([r.embedding for r in emb]).astype(np.float64) * _SCALE
    Q = (np.floor(np.abs(M) + 0.5) * np.sign(M)).astype(np.int64)
    dot = Q @ Q.T
    s = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    cos = dot.astype(np.float64) / (s[:, None] * s[None, :])
    ai, bi = np.nonzero((cos >= _NEARDUP_THETA) & (ids[:, None] < ids[None, :]))
    expected = {(int(ids[a]), int(ids[b])): cos[a, b] for a, b in zip(ai, bi)}

    rows = registry.get("neardup_embedding_cosine").fn(spark, sf_dir).collect()
    got = {(r.a_id, r.b_id): r.cosine for r in rows}
    assert len(rows) == len(got), "a pair was emitted more than once"
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == expected[k], f"cosine mismatch for {k}"
    for a, b in got:
        assert a < b


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH top-k must overlap the exact top-k meaningfully. The corpus's
    nearest neighbors sit near cosine 0.5 (theta ~ 60 deg) — a hard regime
    for sign-LSH — so the bound is deliberately modest; the point is the
    plan retrieves real neighbors, not bucket noise. Deterministic hash
    family + data => fixed outcome."""
    exact = _topk_sets(registry.get("knn_bruteforce").fn(spark, sf_dir).collect())
    ann = _topk_sets(registry.get("ann_lsh_topk").fn(spark, sf_dir).collect())
    hits = sum(len(exact[q] & ann.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    assert recall >= 0.3, f"ANN recall@{_TOP_K} collapsed: {recall:.2f} ({hits}/{total})"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF candidate generation must retrieve real neighbors; the Lloyd
    refinement round lifts measured recall 0.34 -> 0.48 at sf0.001, so
    the locked bound is 0.45 (deterministic hash-sampled init + exact
    integer assignment => the outcome is fixed, not flaky)."""
    exact = _topk_sets(registry.get("knn_bruteforce").fn(spark, sf_dir).collect())
    ivf = _topk_sets(registry.get("ann_ivf_topk").fn(spark, sf_dir).collect())
    hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    assert recall >= 0.45, f"IVF recall@{_TOP_K} collapsed: {recall:.2f} ({hits}/{total})"

    rows = registry.get("ann_ivf_topk").fn(spark, sf_dir).collect()
    for r in rows:
        assert r.neighbor_id >= _N_PROBES
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9


def test_ann_pq_recall_vs_bruteforce(spark, sf_dir):
    """PQ + ADC + exact re-rank must retrieve real neighbors: measured
    recall@5 is 0.78 at sf0.001 / 0.60 at sf0.01 with the 10k-wide ADC
    shortlist (deterministic hash-sampled codebooks + integer Lloyd +
    integer ADC => fixed outcome, not flaky); locked at 0.6 / 0.5."""
    exact = _topk_sets(registry.get("knn_bruteforce").fn(spark, sf_dir).collect())
    pq = _topk_sets(registry.get("ann_pq_topk").fn(spark, sf_dir).collect())
    hits = sum(len(exact[q] & pq.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    assert recall >= 0.6, f"PQ recall@{_TOP_K} collapsed: {recall:.2f} ({hits}/{total})"

    rows = registry.get("ann_pq_topk").fn(spark, sf_dir).collect()
    for r in rows:
        assert r.neighbor_id >= _N_PROBES  # probes never self-report
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
    # re-ranked scores are EXACT — every surfaced (q, neighbor) cosine
    # must bit-match the brute-force score for that same pair
    exact_scores = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in registry.get("knn_bruteforce").fn(spark, sf_dir).collect()
    }
    for r in rows:
        if (r.q_id, r.neighbor_id) in exact_scores:
            assert r.cosine == exact_scores[(r.q_id, r.neighbor_id)]


def test_pq_codebook_structure(spark, sf_dir):
    """Codebook invariants: 8 subspaces × ≤16 codes, each code covering
    exactly its subspace's 8 positions; every corpus vector gets exactly
    one code per subspace."""
    from imdbmapreduce_spark.operators import similarity as S

    cents = S._pq_codebook(spark, sf_dir).collect()
    seen = {}
    for r in cents:
        assert r.pos // S._PQ_SUB_DIMS == r.s
        seen.setdefault((r.s, r.code), set()).add(r.pos)
    for (s, _), poss in seen.items():
        assert poss == set(range(s * 8, s * 8 + 8))
    ex = S._shared_components(spark, sf_dir)
    codes = S._pq_assign(
        ex.filter(F.col("vec_id") >= S._N_PROBES),
        S._pq_codebook(spark, sf_dir),
    )
    per_vec = codes.groupBy("vec_id").count().collect()
    assert per_vec and all(r["count"] == S._PQ_M for r in per_vec)


def test_ann_ivfpq_recall_and_candidate_discipline(spark, sf_dir):
    """The composed IVFPQ plan must (a) keep usable recall (it can only
    see vectors inside probed cells, so it is bounded above by IVF's
    candidate recall — measured 0.44 at sf0.001; locked ≥ 0.3), and
    (b) never surface a neighbor outside the probes' IVF cells —
    pruning really prunes."""
    from imdbmapreduce_spark.operators import similarity as S

    exact = _topk_sets(registry.get("knn_bruteforce").fn(spark, sf_dir).collect())
    got = _topk_sets(registry.get("ann_ivfpq_topk").fn(spark, sf_dir).collect())
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.3, f"IVFPQ recall collapsed: {hits}/{total}"

    ex = S._shared_components(spark, sf_dir)
    cents = S._ivf_codebook(spark, sf_dir)
    corpus_cells = {
        r.vec_id: r.cell
        for r in S._cell_assignment(ex.filter(F.col("vec_id") >= S._N_PROBES), cents)
        .filter(F.col("cr") == 1)
        .collect()
    }
    probe_cells = {}
    for r in (
        S._cell_assignment(ex.filter(F.col("vec_id") < S._N_PROBES), cents)
        .filter(F.col("cr") <= S._IVF_NPROBE)
        .collect()
    ):
        probe_cells.setdefault(r.vec_id, set()).add(r.cell)
    for q, neighbors in got.items():
        for n in neighbors:
            assert corpus_cells[n] in probe_cells[q], (q, n)


def test_persisted_index_cold_session_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    """Index lifecycle (r4 verdict item 3): build, persist, reopen cold,
    answer identically — and actually FROM DISK.

    "Cold" = the session shared cache is emptied, so the only way to
    avoid re-running the clustering/encoding jobs is the on-disk index.
    Also pins the staleness guard: a manifest whose source stamp no
    longer matches the corpus must be refused.
    """
    import json
    import os

    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators.similarity import (
        _vector_params,
        persist_vector_index,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        baseline = sorted(
            (r.q_id, r.neighbor_id, r.rank)
            for r in registry.get("ann_ivfpq_topk").fn(spark, sf_dir).collect()
        )
        idx_dir = persist_vector_index(spark, sf_dir)
        assert indexstore.group_manifest(sf_dir, "vector", _vector_params()) is not None

        release_shared_caches()  # cold: nothing cached in-session
        files = indexstore.load_group_artifact(
            spark, sf_dir, "vector", "ivf_lists", _vector_params()
        ).inputFiles()
        assert files and all(str(tmp_path) in f for f in files), files

        # provenance proof: poison every index BUILD function — if the
        # cold query path touches anything but the on-disk index, it
        # raises. (_cell_assignment stays real: probe-side assignment is
        # query-time work, not an index build.)
        def _boom(*a, **k):
            raise AssertionError("index rebuild attempted despite persisted index")

        import imdbmapreduce_spark.operators.similarity as sim

        monkeypatch.setattr(sim, "_ivf_codebook", _boom)
        monkeypatch.setattr(sim, "_pq_codebook", _boom)
        monkeypatch.setattr(sim, "_pq_assign", _boom)
        again = sorted(
            (r.q_id, r.neighbor_id, r.rank)
            for r in registry.get("ann_ivfpq_topk").fn(spark, sf_dir).collect()
        )
        assert again == baseline

        # staleness guard: tamper the recorded source stamp -> refused
        mpath = os.path.join(idx_dir, "_INDEX_MANIFEST.json")
        with open(mpath) as f:
            m = json.load(f)
        m["source"]["size"] += 1
        with open(mpath, "w") as f:
            json.dump(m, f)
        assert indexstore.group_manifest(sf_dir, "vector", _vector_params()) is None
        assert (
            indexstore.load_group_artifact(
                spark, sf_dir, "vector", "ivf_lists", _vector_params()
            )
            is None
        )

        indexstore.drop_group(sf_dir, "vector")
        assert indexstore.group_manifest(sf_dir, "vector") is None
    finally:
        release_shared_caches()


def test_random_projection_matches_numpy_replay(spark, sf_dir):
    """JL projection: exact integer replay — quantize components, build
    the md5-parity sign table, dot in int64 — must match bit-for-bit,
    and sign(proj) furnishes a valid 16-bit code (all finite ints)."""
    import hashlib

    import numpy as np

    from imdbmapreduce_spark.catalog import table

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").limit(50).collect()
    }
    got = {
        (r.vec_id, r.k): r.proj_q
        for r in registry.get("embedding_random_projection").fn(spark, sf_dir).collect()
        if r.vec_id in emb
    }

    def sign(pos: int, k: int) -> int:
        h = hashlib.md5(f"{pos}_{k}".encode()).hexdigest()
        return (int(h[0], 16) % 2) * 2 - 1

    for vid, v in emb.items():
        q = (np.floor(np.abs(v * 1e6) + 0.5) * np.sign(v)).astype(np.int64)
        for k in range(16):
            s = np.array([sign(p, k) for p in range(len(q))], dtype=np.int64)
            assert got[(vid, k)] == int(q @ s), (vid, k)


def test_dedup_cell_count_is_sqrt_adaptive(spark, sf_dir):
    """The SemDeDup layout's C follows max(16, floor(sqrt(n))) — the rule
    that keeps assignment and in-cell gram work balanced at O(n^1.5·d) —
    and the persisted cell layout actually uses it: distinct cells <= C
    (Lloyd can empty a cell, never add one) and every vector is assigned
    exactly once. A C=1 layout built from the same codebook and
    assignment steps reproduces the all-pairs reachable set: one cell
    holding the whole corpus."""
    import math

    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators import similarity as S

    assert S._dedup_cell_count(0) == 16
    assert S._dedup_cell_count(255) == 16
    assert S._dedup_cell_count(257) == 16
    assert S._dedup_cell_count(2000) == 44
    assert S._dedup_cell_count(10**9) == 31622

    release_shared_caches()
    try:
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        want_c = S._dedup_cell_count(n)
        cells = S._dedup_cells_cached(spark, sf_dir)
        assert cells.count() == n, "every vector assigned exactly once"
        n_cells = cells.select("cell").distinct().count()
        assert 1 < n_cells <= want_c

        ex = S._shared_components(spark, sf_dir)
        one = (
            S._cell_assignment(ex, S._lloyd_codebook(ex, 1))
            .filter(F.col("cr") == 1)
            .select("vec_id", "cell")
        )
        assert one.select("cell").distinct().count() == 1
        assert one.count() == n
    finally:
        release_shared_caches()


def test_semantic_cell_dedup_is_exactly_the_same_cell_subset(spark, sf_dir):
    """The SemDeDup-style plan's contract is an identity, not a recall
    sample: emitted pairs == { exact all-pairs results whose endpoints
    share an IVF cell }, with bit-identical cosines."""
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators import similarity as S

    release_shared_caches()
    try:
        exact = {
            (r.a_id, r.b_id): r.cosine
            for r in registry.get("neardup_embedding_cosine").fn(spark, sf_dir).collect()
        }
        ex = S._shared_components(spark, sf_dir)
        cents = S._dedup_codebook_cached(spark, sf_dir)
        cell_of = {
            r.vec_id: r.cell
            for r in S._cell_assignment(ex, cents).filter(F.col("cr") == 1).collect()
        }
        want = {
            pair: cos
            for pair, cos in exact.items()
            if cell_of[pair[0]] == cell_of[pair[1]]
        }
        got = {
            (r.a_id, r.b_id): r.cosine
            for r in registry.get("neardup_embedding_cells").fn(spark, sf_dir).collect()
        }
        assert got == want  # same pairs, bit-identical cosines
        assert all(a < b for a, b in got)
    finally:
        release_shared_caches()


def test_embedding_incremental_equals_batch_restriction(spark, sf_dir):
    """Arrival gate == batch restriction for the embedding family: the
    incremental ingest (fresh shard assignment against the persisted
    codebook + cross-gram against base cells) must emit EXACTLY the
    batch neardup_embedding_cells pairs with one endpoint in the
    standing shard — same pairs, bit-identical cosines — because the
    same codebook assigns a vector to the same cell at index-build time
    and at arrival."""
    from imdbmapreduce_spark.cache import release_shared_caches
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    def shard(v: int) -> bool:
        return v % _SHARD_MOD == _SHARD_RESIDUE

    def compare(sf: str) -> dict:
        batch = registry.get("neardup_embedding_cells").fn(spark, sf).collect()
        want = {
            (r.a_id, r.b_id) if shard(r.a_id) else (r.b_id, r.a_id): r.cosine
            for r in batch
            if shard(r.a_id) != shard(r.b_id)
        }
        got = {
            (r.new_vec, r.matched_vec): r.cosine
            for r in registry.get("embedding_incremental_ingest")
            .fn(spark, sf)
            .collect()
        }
        assert got == want, sf  # same pairs, bit-identical cosines
        assert all(shard(n) and not shard(m) for n, m in got)
        return got

    release_shared_caches()
    try:
        # At the tiny fixture the shard's two semantic near-dups land in
        # different cells (the documented cluster-recall boundary), so
        # equality holds on an EMPTY set — still a real check that the
        # gate emits nothing spurious. The non-empty premise runs at
        # sf0.01, where three pairs cross the shard boundary in-cell.
        compare(sf_dir)
        release_shared_caches()
        got = compare("/root/testdata/sf0.01")
        assert got, "premise: the sf0.01 shard has semantic near-dups"
    finally:
        release_shared_caches()


def test_mmr_matches_numpy_greedy_replay(spark, sf_dir):
    """Independent replay: quantized-int cosines in numpy, greedy MMR
    (0.7·rel − 0.3·max-sim, vec_id tie-break) in pure Python, compared
    row-for-row. Also pins the re-rank contract: rank-1 equals the knn
    top-1, and every pick comes from the top-20 relevance pool."""
    import numpy as np

    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.similarity import _MMR_K, _MMR_POOL, _SCALE

    emb = {
        r.vec_id: np.round(np.asarray(r.embedding, dtype=np.float64) * _SCALE).astype(
            np.int64
        )
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    norms = {i: float(np.sqrt(float(v @ v))) for i, v in emb.items()}

    def cos(i: int, j: int) -> float:
        return float(emb[i] @ emb[j]) / (norms[i] * norms[j])

    got = registry.get("mmr_diversified_topk").fn(spark, sf_dir).collect()
    by_probe: dict[int, list] = defaultdict(list)
    for r in got:
        by_probe[r.q_id].append(r)

    knn_top1 = {
        r.q_id: r.neighbor_id
        for r in registry.get("knn_bruteforce").fn(spark, sf_dir).collect()
        if r.rank == 1
    }
    corpus = [i for i in emb if i >= _N_PROBES]
    assert set(by_probe) == set(range(_N_PROBES))
    for q, rows in by_probe.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, _MMR_K + 1))
        assert rows[0].vec_id == knn_top1[q]  # pure relevance leads

        pool = sorted(corpus, key=lambda c: (-cos(q, c), c))[:_MMR_POOL]
        assert {r.vec_id for r in rows} <= set(pool)
        rel = {c: cos(q, c) for c in pool}
        selected: list[int] = []
        remaining = sorted(rel)
        for r in rows:
            best_id, best_score = None, None
            for c in remaining:
                if not selected:
                    score = 0.7 * rel[c]
                else:
                    score = 0.7 * rel[c] - 0.3 * max(cos(c, s) for s in selected)
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            assert (r.vec_id, r.mmr) == (best_id, best_score), (q, r.rank)
            assert r.rel == rel[best_id]
            selected.append(best_id)
            remaining.remove(best_id)


def test_rrf_fuses_both_arms_by_python_replay(spark, sf_dir):
    """Full pure-Python replay of the hybrid fusion: BM25 lexical arm,
    exact integer-dot dense arm for the fused probe, per-rank 1e-12
    quantized reciprocal contributions, integer sum, doc_id tie-break."""
    import math
    from collections import Counter

    import duckdb

    from imdbmapreduce_spark.operators.similarity import (
        _N_PROBES,
        _RRF_ARM_N,
        _RRF_SCALE,
        _RRF_TOPK,
        _SCALE,
        RRF_K,
        RRF_PROBE,
    )
    from imdbmapreduce_spark.operators.text import BM25_QUERY_TERMS
    from imdbmapreduce_spark.registry import get

    def rnd(v: float) -> int:
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    toks = {d: [t for t in txt.strip().split() if t] for d, txt in docs}
    n_docs = len(toks)
    t_total = sum(len(v) for v in toks.values())
    score_q: Counter = Counter()
    for term in BM25_QUERY_TERMS:
        tf = {d: c for d, ts in toks.items() if (c := ts.count(term))}
        if not tf:
            continue
        idf_q = rnd(math.log((n_docs - len(tf) + 0.5) / (len(tf) + 0.5) + 1.0) * 1e6)
        for d, f in tf.items():
            num = 22 * f * t_total
            den = 10 * t_total * f + 3 * t_total + 9 * len(toks[d]) * n_docs
            score_q[d] += rnd(float(idf_q) * num / den)
    lex_rank = {
        d: i + 1
        for i, (d, _) in enumerate(
            sorted(score_q.items(), key=lambda kv: (-kv[1], kv[0]))[:_RRF_ARM_N]
        )
    }

    embs = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    q = {v: [rnd(float(x) * _SCALE) for x in e] for v, e in embs}
    probe = q[RRF_PROBE]
    n2 = {v: sum(x * x for x in e) for v, e in q.items()}
    cos = {
        v: sum(a * b for a, b in zip(probe, e))
        / (math.sqrt(n2[RRF_PROBE]) * math.sqrt(n2[v]))
        for v, e in q.items()
        if v >= _N_PROBES
    }
    dense_rank = {
        d: i + 1
        for i, (d, _) in enumerate(
            sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:_RRF_ARM_N]
        )
    }

    fused = {}
    for d in set(lex_rank) | set(dense_rank):
        rl, rd = lex_rank.get(d, 0), dense_rank.get(d, 0)
        s = (rnd(float(_RRF_SCALE) / (RRF_K + rl)) if rl else 0) + (
            rnd(float(_RRF_SCALE) / (RRF_K + rd)) if rd else 0
        )
        fused[d] = (rl, rd, s)
    want = sorted(fused.items(), key=lambda kv: (-kv[1][2], kv[0]))[:_RRF_TOPK]

    got = get("rrf_hybrid_retrieval").fn(spark, sf_dir).collect()
    got_sorted = sorted(got, key=lambda r: r.rank)
    assert [
        (r.doc_id, (r.rank_lex, r.rank_dense, r.rrf_q)) for r in got_sorted
    ] == want
    # both arms must actually contribute at this scale
    assert any(r.rank_lex > 0 and r.rank_dense == 0 for r in got_sorted) or any(
        r.rank_dense > 0 and r.rank_lex == 0 for r in got_sorted
    )
    for r in got_sorted:
        assert 0 <= r.rank_lex <= _RRF_ARM_N and 0 <= r.rank_dense <= _RRF_ARM_N
        assert r.rrf_q > 0


def test_hard_negative_mining_margin_and_positive_exclusion(spark, sf_dir):
    """The mined set must respect the DPR-style contract: the positive
    (exact top-1) never appears, every negative sits >= MARGIN below the
    positive's cosine, ranks are dense per probe, and the negatives are
    exactly the top-scoring eligible candidates (cross-checked against
    knn_bruteforce's exact ranking)."""
    from imdbmapreduce_spark.operators.similarity import HN_MARGIN, HN_PER_PROBE
    from imdbmapreduce_spark.registry import get

    hn = get("hard_negative_mining").fn(spark, sf_dir).collect()
    knn = get("knn_bruteforce").fn(spark, sf_dir).collect()
    top1 = {r.q_id: (r.neighbor_id, r.cosine) for r in knn if r.rank == 1}

    by_q = {}
    for r in hn:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(top1)
    for q, rows in by_q.items():
        pos_id, pos_cos = top1[q]
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= HN_PER_PROBE
        for r in rows:
            assert (r.pos_id, r.pos_cosine) == (pos_id, pos_cos)
            assert r.neighbor_id != pos_id
            assert r.cosine <= pos_cos - HN_MARGIN
        # the top-2..k knn rows that clear the margin must lead the mined list
        eligible = [
            k for k in knn
            if k.q_id == q and k.neighbor_id != pos_id
            and k.cosine <= pos_cos - HN_MARGIN
        ]
        eligible.sort(key=lambda k: (-k.cosine, k.neighbor_id))
        lead = [(k.neighbor_id, k.cosine) for k in eligible]
        mined = [(r.neighbor_id, r.cosine) for r in rows]
        assert mined[: len(lead)] == lead[: len(mined)]


def test_ann_recall_audit_matches_recomputed_recall(spark, sf_dir):
    """The registered scoreboard must equal recall recomputed directly
    from the index queries' outputs, and every family must clear a
    floor (the same floors the per-index tests assert)."""
    from imdbmapreduce_spark.registry import get

    exact = {
        (r.q_id, r.neighbor_id)
        for r in get("knn_bruteforce").fn(spark, sf_dir).collect()
    }
    audit = {r.index_name: r for r in get("ann_recall_audit").fn(spark, sf_dir).collect()}
    assert set(audit) == {"lsh", "ivf", "pq", "ivfpq", "arrival"}
    for name in ("lsh", "ivf", "pq", "ivfpq"):
        got = get(f"ann_{name}_topk").fn(spark, sf_dir).collect()
        hits = sum(1 for r in got if (r.q_id, r.neighbor_id) in exact)
        a = audit[name]
        assert a.n_hits == hits
        assert a.n_true == len(exact)
        assert a.recall == hits / len(exact)
        assert a.n_retrieved == len(got)
        assert a.recall >= 0.3, name  # coarse floor; per-index tests pin tighter


def test_ann_arrival_recall_floor_and_truth(spark, sf_dir):
    """The arrival arm (r8 verdict task 7): the shard lookup's recall in
    the audit must equal recall recomputed against an independently
    built exact truth (shard queries brute-forced over the base corpus),
    clear the floor, and every retrieved neighbor must be a BASE vector
    (the gate never 'retrieves' other arriving vectors)."""
    from pyspark.sql import Window

    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE
    from imdbmapreduce_spark.operators.similarity import _probe_scored
    from imdbmapreduce_spark.registry import get
    from pyspark.sql import functions as F

    got = get("ann_shard_arrival_topk").fn(spark, sf_dir).collect()
    assert got, "test premise: the shard is non-empty"
    for r in got:
        assert r.q_id % _SHARD_MOD == _SHARD_RESIDUE
        assert r.neighbor_id % _SHARD_MOD != _SHARD_RESIDUE

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = {
        (r.q_id, r.neighbor_id)
        for r in _probe_scored(
            spark, sf_dir, q_pred=(F.col("vec_id") % _SHARD_MOD) == _SHARD_RESIDUE
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .collect()
    }
    hits = sum(1 for r in got if (r.q_id, r.neighbor_id) in exact)
    a = {r.index_name: r for r in get("ann_recall_audit").fn(spark, sf_dir).collect()}[
        "arrival"
    ]
    assert a.n_true == len(exact)
    assert a.n_hits == hits
    assert a.recall == hits / len(exact)
    assert a.recall >= 0.35  # measured 0.516 at sf0.001; margin for drift


def test_pca_distributed_matches_driver_path(spark, sf_dir):
    """The dimension-gated PCA fallback: forcing the distributed
    checkpointed iteration (driver_dim_max=0) must produce bit-identical
    (pos, pc1_q) rows to the default driver-side exact-int path — the
    two paths share every arithmetic rule (integer products, integer
    max, divisor-first truncating division)."""
    from imdbmapreduce_spark.operators.similarity import embedding_pca_power

    drv = {
        (r.pos, r.pc1_q)
        for r in embedding_pca_power(spark, sf_dir).collect()
    }
    dist = {
        (r.pos, r.pc1_q)
        for r in embedding_pca_power(spark, sf_dir, driver_dim_max=0).collect()
    }
    assert drv == dist
    assert drv, "test premise: embeddings table non-empty"


def test_embedding_pca_power_matches_python_and_improves_rayleigh(spark, sf_dir):
    """Exact pure-Python replay of the fixed-point power iteration
    (truncating divisions, divisor-first rescaling), plus the spectral
    sanity check: the iterate's Rayleigh quotient under the exact Gram
    must beat the starting all-ones direction's."""
    import numpy as np

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.similarity import (
        _PCA_ROUNDS,
        _PCA_S,
        _quant_batch,
    )

    pdf = table(spark, sf_dir, "embeddings").select("embedding").toPandas()
    Q = _quant_batch(pdf["embedding"])  # exact int64 (n, d)
    M = (Q.T.astype(object) @ Q.astype(object))  # exact big-int Gram
    d = M.shape[0]

    def tdiv(a, b):
        return abs(a) // b * (1 if a >= 0 else -1)

    dm = max((max(abs(int(v)) for v in M.flat) + _PCA_S - 1) // _PCA_S, 1)
    Mn = [[tdiv(int(M[i][j]), dm) for j in range(d)] for i in range(d)]
    x = [_PCA_S] * d
    for _ in range(_PCA_ROUNDS):
        y = [sum(Mn[i][j] * x[j] for j in range(d)) for i in range(d)]
        dv = max((max(abs(v) for v in y) + _PCA_S - 1) // _PCA_S, 1)
        x = [tdiv(v, dv) for v in y]

    got = {
        r.pos: r.pc1_q
        for r in registry.get("embedding_pca_power").fn(spark, sf_dir).collect()
    }
    assert got == {i: x[i] for i in range(d)}

    def rayleigh(v):
        v = np.array(v, dtype=np.float64)
        Mf = np.array(M.tolist(), dtype=np.float64)
        return float(v @ Mf @ v) / float(v @ v)

    assert rayleigh(x) > rayleigh([_PCA_S] * d) * 1.0001


def test_snm_embedding_pairs_are_exact_and_window_bounded(spark, sf_dir):
    """Every emitted pair's cosine is the exact quantized cosine (replay
    on the raw embeddings) and meets the threshold; per-vector pair
    participation respects the passes*2w window budget."""
    from collections import Counter

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.operators.similarity import (
        _SCALE,
        _SNM_EMB_PASSES,
        _SNM_EMB_THETA,
        _SNM_EMB_W,
    )

    out = registry.get("snm_embedding_pairs").fn(spark, sf_dir).collect()
    assert out, "threshold should yield a non-empty verified set"
    import math

    def half_up(x: float) -> int:
        # Same HALF_UP rule as the Spark lane's F.round at _SCALE —
        # Python round() is banker's and would flake on exact-.5 quanta
        # (ADVICE r9).
        s = x * _SCALE
        return math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)

    vecs = {
        r.vec_id: [half_up(float(x)) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    for r in out:
        va, vb = vecs[r.a_id], vecs[r.b_id]
        dot = sum(x * y for x, y in zip(va, vb))
        cos = dot / (
            math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(y * y for y in vb))
        )
        assert r.a_id < r.b_id
        assert cos >= _SNM_EMB_THETA
        assert abs(cos - r.cosine) < 1e-12
    per_vec = Counter()
    for r in out:
        per_vec[r.a_id] += 1
        per_vec[r.b_id] += 1
    assert max(per_vec.values()) <= 2 * _SNM_EMB_PASSES * _SNM_EMB_W


def test_embedding_neardup_routing_flips_at_the_measured_boundary(spark, sf_dir):
    """r10 verdict task 6: the embedding near-dup family is chosen by
    corpus size in CODE — SNM windows under the measured decay boundary
    (recall 0.786 at n=500), SemDeDup cells past it (SNM recall 0.153
    at n=2000). Pins the gate arithmetic, the boundary inclusivity,
    that the registered query took the SNM branch on the fixture
    corpus, and that the forced cells branch emits the cells family's
    exact pair set."""
    from imdbmapreduce_spark.operators.similarity import (
        _NEARDUP_THETA,
        _embedding_neardup_by_family,
        embedding_neardup_routed,
        neardup_embedding_cells,
        snm_embedding_pairs,
    )
    from imdbmapreduce_spark.stats import (
        EMB_SNM_MAX_VECTORS,
        choose_embedding_neardup_family,
    )

    assert choose_embedding_neardup_family(500) == "snm"
    assert choose_embedding_neardup_family(2000) == "cells"
    assert choose_embedding_neardup_family(EMB_SNM_MAX_VECTORS) == "snm"
    assert choose_embedding_neardup_family(EMB_SNM_MAX_VECTORS + 1) == "cells"

    key = lambda df: {(r.a_id, r.b_id, round(r.cosine, 12)) for r in df.collect()}
    routed = key(embedding_neardup_routed(spark, sf_dir))
    snm = key(
        snm_embedding_pairs(spark, sf_dir).filter(F.col("cosine") >= _NEARDUP_THETA)
    )
    assert routed == snm  # fixture corpus (500 vectors) routes SNM
    cells = key(_embedding_neardup_by_family(spark, sf_dir, "cells"))
    assert cells == key(neardup_embedding_cells(spark, sf_dir))
    # both branches' pairs are true pairs at the SAME corpus threshold
    assert all(c >= _NEARDUP_THETA for _, _, c in routed | cells)
