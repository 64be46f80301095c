"""Semantics tests for the dedup operators (SURVEY.md §7 Phase 4).

The oracle gate covers dedup_exact and neardup_ngram_jaccard; these tests
lock the properties of the non-SQL-expressible ops:

- MinHash+LSH recall vs the exact n-gram Jaccard query;
- SimHash banding completeness (pigeonhole guarantee for distance <= 3);
- shingling edge semantics.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Row
from pyspark.sql import functions as F

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.operators.dedup import shingles, simhash
from imdbmapreduce_spark.functions import tokens


def test_shingles_edges(spark):
    df = spark.createDataFrame(
        [Row(text="a b c d"), Row(text="a b"), Row(text="  x   y  z ")],
    ).select(shingles(tokens("text")).alias("sh"))
    rows = [r.sh for r in df.collect()]
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == []  # shorter than k -> empty, not null
    assert rows[2] == ["x y z"]  # whitespace-trimmed tokens


def test_dedup_exact_partitions_all_docs(spark, sf_dir):
    """Every doc lands in exactly one group; group sizes sum to the corpus."""
    out = registry.get("dedup_exact").fn(spark, sf_dir)
    total = out.agg(F.sum("n_dups")).first()[0]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == n_docs


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH candidates (verified >= 0.5) must contain every exact pair with
    Jaccard >= 0.6 — the planted near-dups. Deterministic hash family +
    deterministic data => this is a fixed outcome, not a flaky sample."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in registry.get("neardup_ngram_jaccard").fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in registry.get("minhash_lsh_pairs").fn(spark, sf_dir).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - lsh
    assert not missed, f"LSH missed {len(missed)}/{len(exact)} exact pairs: {sorted(missed)[:5]}"


def test_neardup_recall_audit_floors(spark, sf_dir):
    """The band-gate recall scoreboard: every family's floor holds, every
    truth set is non-trivial (planted near-dups reach every arm, incl. the
    shard-restricted incremental ones), and the SimHash arms — audited
    against the pigeonhole-COMPLETE chunk16 truth — are exactly 1.0 (any
    miss there is an implementation bug, not tuning drift)."""
    from imdbmapreduce_spark.operators.dedup import _NEARDUP_RECALL_FLOORS

    rows = {
        r.family: r
        for r in registry.get("neardup_recall_audit").fn(spark, sf_dir).collect()
    }
    assert set(rows) == set(_NEARDUP_RECALL_FLOORS)
    for fam, r in rows.items():
        assert r.n_true > 0, f"{fam}: empty truth set — audit is vacuous"
        assert r.floor_ok, (fam, r)
        assert r.n_hits <= min(r.n_true, r.n_gate)
    assert rows["simhash_hamming"].recall == 1.0
    assert rows["simhash_incremental"].recall == 1.0


def test_simhash_banding_is_complete(spark, sf_dir):
    """Banded candidate join must find EVERY pair at Hamming distance <= 3
    (4 intact-band pigeonhole) — verify against brute force over all
    fingerprint pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", simhash(F.col("toks")).alias("fp"))
        .collect()
    )
    brute = {
        (a.doc_id, b.doc_id)
        for a, b in combinations(sorted(fps, key=lambda r: r.doc_id), 2)
        if bin((a.fp ^ b.fp) & ((1 << 64) - 1)).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in registry.get("simhash_pairs").fn(spark, sf_dir).collect()
    }
    assert banded == brute


def test_simhash_token_cap_truncates_deterministically(spark):
    """A doc with more than _MAX_SIMHASH_TOKENS distinct tokens must be
    TRUNCATED (first 32767 distinct tokens), not silently corrupted by a
    packed-lane carry into the sign bit: its packed fingerprint equals
    the fingerprint of a doc containing exactly that truncated prefix."""
    from imdbmapreduce_spark.operators.dedup import (
        _MAX_SIMHASH_TOKENS,
        simhash_fingerprints,
    )

    toks = [f"t{i}" for i in range(_MAX_SIMHASH_TOKENS + 5000)]
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(toks)),
            Row(doc_id=2, text=" ".join(toks[:_MAX_SIMHASH_TOKENS])),
        ]
    )
    fps = {r.doc_id: r.fp for r in simhash_fingerprints(df).collect()}
    assert fps[1] == fps[2]


def test_sql_string_builds_match_operator_forms(spark, sf_dir):
    """The SQL-string expression builds (round-8 fresh-plan-cost fix:
    one F.expr parse instead of hundreds of py4j Column calls per plan
    instance) must stay value-identical to the Column-operator forms
    they replaced — pinned here with the operator forms as the spec.
    (simhash_fingerprints is already cross-checked against the spec
    simhash() by test_simhash_banding_is_complete.)"""
    from imdbmapreduce_spark.operators import dedup as D

    hx = D._shingle_hx_cached(spark, sf_dir)
    sig_new = hx.groupBy("doc_id").agg(*D._minhash_agg_cols())
    sig_spec = hx.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("hx", F.lit(i))).alias(f"mh{i}") for i in range(D._N_PERM)]
    )
    assert {tuple(r) for r in sig_new.collect()} == {
        tuple(r) for r in sig_spec.collect()
    }

    rpb = D._N_PERM // D._N_BANDS
    bands_spec = sig_spec.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[f"mh{bi * rpb + r}" for r in range(rpb)]
                        ).alias("bucket"),
                    )
                    for bi in range(D._N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band"), F.col("bb.bucket"))
    assert {tuple(r) for r in D._bands_of(sig_new).collect()} == {
        tuple(r) for r in bands_spec.collect()
    }

    fps = D._simhash_fp_cached(spark, sf_dir).select("fp").distinct()

    def block(j):
        mask = (1 << D._BLOCK_WIDTHS[j]) - 1
        return (
            F.shiftright("fp", D._BLOCK_OFFSETS[j]).bitwiseAND(F.lit(mask)).cast("long")
        )

    structs = []
    for ti, subset in enumerate(D._simhash_tables()):
        key = None
        for lane, j in enumerate(subset):
            term = F.shiftleft(block(j), 16 * lane)
            key = term if key is None else key + term
        structs.append(F.struct(F.lit(ti).alias("tbl"), key.alias("key")))
    hb_spec = fps.select("fp", F.explode(F.array(*structs)).alias("bb")).select(
        "fp", F.col("bb.tbl"), F.col("bb.key")
    )
    assert {tuple(r) for r in D._hamming_bands(fps).collect()} == {
        tuple(r) for r in hb_spec.collect()
    }


def test_minhash_signature_similarity_monotone(spark):
    """Identical docs agree on all permutations; disjoint docs on ~none."""
    from imdbmapreduce_spark.operators.dedup import minhash_signature

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=3, text="one two three four five six seven"),
        ]
    ).select("doc_id", minhash_signature(shingles(tokens("text"))).alias("sig"))
    sigs = {r.doc_id: r.sig for r in df.collect()}
    same = sum(x == y for x, y in zip(sigs[1], sigs[2]))
    diff = sum(x == y for x, y in zip(sigs[1], sigs[3]))
    assert same == 64
    assert diff <= 8  # J=0 -> expected agreement ~0


def test_connected_components_vs_union_find(spark, sf_dir):
    """Cluster assignment equals a driver-side union-find over the same
    edge list (independent algorithm, same min-id canonicalization)."""
    from imdbmapreduce_spark.operators.dedup import (
        connected_components,
        neardup_ngram_jaccard,
    )
    from imdbmapreduce_spark.catalog import table
    import pyspark.sql.functions as F

    edges = [
        (r.doc_a, r.doc_b)
        for r in neardup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").collect()
    ]
    nodes = [r.doc_id for r in table(spark, sf_dir, "documents").select("doc_id").collect()]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}

    got = {
        r.node: r.cluster_id
        for r in connected_components(
            table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node")),
            spark.createDataFrame(edges or [(0, 0)], "src long, dst long").limit(
                len(edges)
            ),
        ).collect()
    }
    assert got == expected
    assert edges, "fixture should contain at least one near-dup pair"


def test_connected_components_chain_converges_fast(spark):
    """A 512-node path graph (diameter 511) must converge well inside the
    25-round cap — the pointer-jumping O(log diameter) claim."""
    from imdbmapreduce_spark.operators.dedup import connected_components

    n = 512
    nodes = spark.range(n).selectExpr("id as node")
    edges = spark.range(n - 1).selectExpr("id as src", "id + 1 as dst")
    out = connected_components(nodes, edges, max_iters=12).collect()
    assert len(out) == n
    assert {r.cluster_id for r in out} == {0}


def test_connected_components_rejects_non_integral_ids(spark):
    """String ids would null the decimal label sum and stop the loop
    after one round with labels only partly propagated — refused up
    front instead, from the schema alone, for both the edge list and an
    explicit node universe."""
    import pytest

    from imdbmapreduce_spark.operators.dedup import connected_components

    str_edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    with pytest.raises(TypeError, match="integral"):
        connected_components(None, str_edges)
    long_edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    str_nodes = spark.createDataFrame([("1",), ("2",), ("3",)], "node string")
    with pytest.raises(TypeError, match="integral"):
        connected_components(str_nodes, long_edges)


def test_persisted_text_index_cold_session_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    """Text-index lifecycle (mirrors the vector group's test): persist
    the shingle/pair/fingerprint artifacts, empty the session cache, and
    prove the dedup family answers identically FROM DISK by poisoning
    the build functions. Also pins the params guard: changing a tuning
    constant refuses the stale on-disk index."""
    import imdbmapreduce_spark.operators.dedup as D
    from imdbmapreduce_spark import indexstore, registry
    from imdbmapreduce_spark.cache import release_shared_caches

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        def snap():
            return {
                name: sorted(map(tuple, registry.get(name).fn(spark, sf_dir).collect()))
                for name in ("neardup_ngram_jaccard", "simhash_pairs", "minhash_lsh_pairs")
            }

        baseline = snap()
        D.persist_text_index(spark, sf_dir)
        assert indexstore.group_manifest(sf_dir, "text", D._text_params()) is not None

        release_shared_caches()

        def _boom(*a, **k):
            raise AssertionError("text-index rebuild attempted despite persisted index")

        monkeypatch.setattr(D, "_shingle_rows", _boom)
        monkeypatch.setattr(D, "simhash_fingerprints", _boom)
        assert snap() == baseline

        # params guard: a different df cap must refuse the stale index
        changed = dict(D._text_params(), df_cap=D._SHINGLE_DF_CAP + 1)
        assert indexstore.group_manifest(sf_dir, "text", changed) is None
        assert (
            indexstore.load_group_artifact(spark, sf_dir, "text", "shingle_hx", changed)
            is None
        )
        indexstore.drop_group(sf_dir, "text")
        assert indexstore.group_manifest(sf_dir, "text") is None
    finally:
        monkeypatch.undo()
        release_shared_caches()


def test_persisted_er_index_cold_session_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    """ER-index lifecycle (round 12 — the text/vector discipline applied
    to the MDM artifacts): persist the match table + base entity
    assignment, empty the session cache, and prove the ER family
    answers identically FROM DISK by poisoning the posting builder.
    Also pins the params guard: changing the match threshold refuses
    the stale on-disk index."""
    import imdbmapreduce_spark.operators.dedup as D
    from imdbmapreduce_spark import indexstore, registry
    from imdbmapreduce_spark.cache import release_shared_caches

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        def snap(names):
            return {
                name: sorted(map(tuple, registry.get(name).fn(spark, sf_dir).collect()))
                for name in names
            }

        # fuzzy/groups resolve entirely from the artifacts; the arrival
        # gate reads the persisted base ASSIGNMENT but always does fresh
        # shard-probe work (by design: arrival cost ∝ the delivery), so
        # it is equality-checked without the poison.
        artifact_only = ("customer_fuzzy_matches", "customer_entity_groups")
        baseline = snap(artifact_only)
        arrival_baseline = snap(("customer_entity_arrival",))
        D.persist_er_index(spark, sf_dir)
        assert indexstore.group_manifest(sf_dir, "er", D._er_params()) is not None

        release_shared_caches()
        assert snap(("customer_entity_arrival",)) == arrival_baseline

        release_shared_caches()

        def _boom(*a, **k):
            raise AssertionError("er-index rebuild attempted despite persisted index")

        monkeypatch.setattr(D, "_link_postings", _boom)
        assert snap(artifact_only) == baseline

        # params guard: a different match threshold must refuse the index
        changed = dict(D._er_params(), max_dist=D._LINK_MAX_DIST + 1)
        assert indexstore.group_manifest(sf_dir, "er", changed) is None
        assert (
            indexstore.load_group_artifact(spark, sf_dir, "er", "er_match_pairs", changed)
            is None
        )
        indexstore.drop_group(sf_dir, "er")
        assert indexstore.group_manifest(sf_dir, "er") is None
    finally:
        monkeypatch.undo()
        release_shared_caches()


def test_repersist_over_loaded_index_does_not_destroy_it(spark, sf_dir, tmp_path, monkeypatch):
    """Review-r5 regression: re-running persist in a cold session (whose
    artifacts resolved FROM the on-disk index) previously self-overwrote
    the parquet paths being read — deleting the data mid-job and leaving
    an empty directory. The stage-then-swap protocol must survive it."""
    import imdbmapreduce_spark.operators.dedup as D
    from imdbmapreduce_spark import indexstore
    from imdbmapreduce_spark.cache import release_shared_caches

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    release_shared_caches()
    try:
        D.persist_text_index(spark, sf_dir)
        release_shared_caches()  # cold: next persist reads artifacts from disk
        D.persist_text_index(spark, sf_dir)  # previously destroyed the index
        release_shared_caches()
        m = indexstore.group_manifest(sf_dir, "text", D._text_params())
        assert m is not None
        loaded = indexstore.load_group_artifact(
            spark, sf_dir, "text", "shingle_hx", D._text_params()
        )
        assert loaded is not None and loaded.count() > 0
        indexstore.drop_group(sf_dir, "text")
    finally:
        release_shared_caches()


def test_crossdoc_ngram_repeats_matches_python_replay(spark, sf_dir):
    """Sliding-window replay: every word-8-gram seen in >=2 distinct
    docs, ranked (n_docs desc, n_occ desc, ngram), top-200."""
    from collections import Counter

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.catalog import table

    rows = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    occ: Counter = Counter()
    docs_per: dict[str, set] = {}
    for r in rows:
        ts = [t for t in r.text.strip().split() if t]
        for i in range(len(ts) - 7):
            g = " ".join(ts[i : i + 8])
            occ[g] += 1
            docs_per.setdefault(g, set()).add(r.doc_id)
    want = sorted(
        (
            (g, len(ds), occ[g])
            for g, ds in docs_per.items()
            if len(ds) >= 2
        ),
        key=lambda x: (-x[1], -x[2], x[0]),
    )[:200]

    got = registry.get("crossdoc_ngram_repeats").fn(spark, sf_dir).collect()
    got_sorted = sorted(got, key=lambda r: r.rnk)
    assert [(r.ngram, r.n_docs, r.n_occ) for r in got_sorted] == want
    assert [r.rnk for r in got_sorted] == list(range(1, len(want) + 1))


def test_jaccard_prefix_join_complete_vs_naive_replay(spark, sf_dir):
    """The prefix-filtered join must equal the NAIVE all-pairs Jaccard
    join (no df-cap, no prefix) computed in pure Python — the
    completeness theorem of the prefix filter, tested end-to-end, plus
    the exact integer gate 8*o >= 3*(n_a+n_b)."""
    import duckdb

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    sets = {}
    for doc_id, text in docs:
        toks = [t for t in text.strip().split() if t]
        if len(toks) < 3:
            continue
        sets[doc_id] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            o = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            if 8 * o >= 3 * (na + nb) and o > 0:
                want[(a, b)] = (o, na, nb)

    got = registry.get("jaccard_prefix_join").fn(spark, sf_dir).collect()
    got_map = {(r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b) for r in got}
    assert got_map == want
    for r in got:
        assert r.jaccard == r.n_common / (r.n_a + r.n_b - r.n_common)
        assert r.jaccard >= 0.6 - 1e-12


def test_exact_substr_spans_matches_python_replay(spark, sf_dir):
    """Pure-Python replay of the whole ExactSubstr pipeline: rolling
    W-token windows, corpus-global repeat detection, per-doc island
    merge into maximal spans — plus the span invariants (within doc
    bounds, n_windows consistent with the span extent)."""
    import duckdb
    from collections import Counter, defaultdict

    from imdbmapreduce_spark.operators.dedup import _XS_W

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    wins: dict[int, list[tuple[int, str]]] = {}
    counts: Counter = Counter()
    n_toks = {}
    for doc_id, text in docs:
        toks = [t for t in text.strip().split() if t]
        n_toks[doc_id] = len(toks)
        lst = []
        for i in range(len(toks) - _XS_W + 1):
            h = " ".join(toks[i : i + _XS_W])
            lst.append((i + 1, h))
            counts[h] += 1
        wins[doc_id] = lst
    want = set()
    for doc_id, lst in wins.items():
        dup_pos = [p for p, h in lst if counts[h] >= 2]
        if not dup_pos:
            continue
        start = prev = dup_pos[0]
        n_win = 1
        for p in dup_pos[1:]:
            if p - prev <= _XS_W:
                prev = p
                n_win += 1
            else:
                want.add((doc_id, start, prev + _XS_W - 1, n_win, prev + _XS_W - start))
                start = prev = p
                n_win = 1
        want.add((doc_id, start, prev + _XS_W - 1, n_win, prev + _XS_W - start))

    got = registry.get("exact_substr_spans").fn(spark, sf_dir).collect()
    got_set = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows, r.span_tokens) for r in got
    }
    assert got_set == want
    for r in got:
        assert 1 <= r.span_start <= r.span_end <= n_toks[r.doc_id]
        assert r.span_tokens == r.span_end - r.span_start + 1
        assert r.n_windows <= r.span_tokens - _XS_W + 1


def test_novelty_and_source_overlap_match_python_replay(spark, sf_dir):
    """Shared pure-Python shingle replay for the two corpus-analytics
    queries: per-doc novelty under min-doc_id first-occurrence, and the
    source-pair overlap matrix from the (shingle, source, n_docs)
    sufficient statistic."""
    import duckdb
    from collections import defaultdict

    rows = duckdb.connect().execute(
        f"SELECT doc_id, source, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    doc_sh = {}
    src_of = {}
    for doc_id, source, text in rows:
        toks = [t for t in text.strip().split() if t]
        if len(toks) < 3:
            continue
        doc_sh[doc_id] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        src_of[doc_id] = source
    first = {}
    for doc_id in sorted(doc_sh):
        for s in doc_sh[doc_id]:
            first.setdefault(s, doc_id)

    got = registry.get("doc_novelty_rate").fn(spark, sf_dir).collect()
    assert {r.doc_id for r in got} == set(doc_sh)
    for r in got:
        novel = sum(1 for s in doc_sh[r.doc_id] if first[s] == r.doc_id)
        assert (r.n_sh, r.n_novel) == (len(doc_sh[r.doc_id]), novel)
        assert r.novelty == novel / len(doc_sh[r.doc_id])
    # the earliest document is all-novel by construction
    first_doc = min(doc_sh)
    assert next(r for r in got if r.doc_id == first_doc).novelty == 1.0

    per_src = defaultdict(lambda: defaultdict(int))
    for doc_id, shs in doc_sh.items():
        for s in shs:
            per_src[s][src_of[doc_id]] += 1
    want = defaultdict(lambda: [0, 0])
    for s, by_src in per_src.items():
        srcs = sorted(by_src)
        for i, sa in enumerate(srcs):
            for sb in srcs[i:]:
                dp = (
                    by_src[sa] * (by_src[sa] - 1) // 2
                    if sa == sb
                    else by_src[sa] * by_src[sb]
                )
                if dp > 0:
                    cell = want[(sa, sb)]
                    cell[0] += 1
                    cell[1] += dp
    mgot = registry.get("source_overlap_matrix").fn(spark, sf_dir).collect()
    assert {
        (r.source_a, r.source_b): [r.n_shared_shingles, r.n_doc_pairs] for r in mgot
    } == dict(want)


def test_incremental_ingest_equals_batch_restriction(spark, sf_dir):
    """The incremental shard-vs-index lookup must equal the BATCH
    minhash_lsh_pairs restricted to pairs with exactly one endpoint in
    the shard — same band collisions, same exact-Jaccard values, with
    the shard endpoint surfaced as new_doc. This is the query's
    correctness oracle (the xxhash64 band family is not SQL-portable,
    so the driver records rows-only and this pin is the gate)."""
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    inc = {
        (r.new_doc, r.matched_doc, r.jaccard)
        for r in registry.get("neardup_incremental_ingest").fn(spark, sf_dir).collect()
    }
    want = set()
    for r in registry.get("minhash_lsh_pairs").fn(spark, sf_dir).collect():
        a_sh = r.doc_a % _SHARD_MOD == _SHARD_RESIDUE
        b_sh = r.doc_b % _SHARD_MOD == _SHARD_RESIDUE
        if a_sh != b_sh:  # exactly one endpoint arriving
            new, matched = (r.doc_a, r.doc_b) if a_sh else (r.doc_b, r.doc_a)
            want.add((new, matched, r.jaccard))
    assert inc == want
    assert want, "test premise: the shard has at least one near-dup match"


def test_exact_substr_scrub_matches_python_replay(spark, sf_dir):
    """Span-removal arithmetic replayed independently: tokenize, hash
    every W-token window, flag windows whose hash repeats corpus-wide,
    merge touching windows into spans, cut every covered token, and
    compare kept/cut counts AND the md5 of the reconstructed text
    against the distributed scrub for every document."""
    import hashlib
    from collections import Counter

    from imdbmapreduce_spark.catalog import table as _table
    from imdbmapreduce_spark.operators.dedup import _XS_W

    rows = _table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: [t for t in r.text.strip().split() if t] for r in rows}
    wins: dict[int, list[str]] = {}
    counts: Counter = Counter()
    for d, ts in toks.items():
        hs = [
            hashlib.md5(" ".join(ts[i : i + _XS_W]).encode()).hexdigest()
            for i in range(len(ts) - _XS_W + 1)
        ]
        wins[d] = hs
        counts.update(hs)
    want = {}
    for d, ts in toks.items():
        cut = set()
        for i, h in enumerate(wins[d]):
            if counts[h] >= 2:
                cut.update(range(i, i + _XS_W))
        kept = [t for i, t in enumerate(ts) if i not in cut]
        txt = " ".join(kept)
        want[d] = (
            len(ts),
            len(kept),
            len(ts) - len(kept),
            len(txt),
            hashlib.md5(txt.encode()).hexdigest(),
        )

    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.n_cut, r.cleaned_len, r.cleaned_md5)
        for r in registry.get("exact_substr_scrub").fn(spark, sf_dir).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in want.values()), "premise: something was cut"


def test_incremental_cluster_assign_consistent_with_full_clustering(spark, sf_dir):
    """Assignment invariants vs the full-graph clustering: every
    arriving doc is a shard doc, every assigned cluster id is a BASE
    doc id, and transitivity holds — the new doc and its assigned base
    cluster land in the SAME component of the full (grown) graph that
    dedup_clusters computes."""
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    rows = registry.get("incremental_cluster_assign").fn(spark, sf_dir).collect()
    assert rows, "test premise: the shard links at least one base cluster"
    full = {
        r.doc_id: r.cluster_id
        for r in registry.get("dedup_clusters").fn(spark, sf_dir).collect()
    }
    for r in rows:
        assert r.new_doc % _SHARD_MOD == _SHARD_RESIDUE, r
        assert r.assigned_cluster % _SHARD_MOD != _SHARD_RESIDUE, r
        assert 1 <= r.n_clusters_linked <= r.n_links, r
        # grown-graph transitivity: new doc joins its assigned cluster's
        # component (the full clustering may relabel to a smaller id)
        assert full[r.new_doc] == full[r.assigned_cluster], r
        assert full[r.new_doc] <= r.assigned_cluster, r


def test_simhash_incremental_equals_batch_restriction(spark, sf_dir):
    """The Hamming-family incremental lookup must equal the BATCH
    simhash_pairs restricted to pairs with exactly one endpoint in the
    shard — same band tables, same exact Hamming values, shard endpoint
    surfaced as new_doc. The rows-only driver check's gate, like the
    MinHash twin's."""
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    inc = {
        (r.new_doc, r.matched_doc, r.hamming)
        for r in registry.get("simhash_incremental_ingest").fn(spark, sf_dir).collect()
    }
    want = set()
    for r in registry.get("simhash_pairs").fn(spark, sf_dir).collect():
        a_sh = r.doc_a % _SHARD_MOD == _SHARD_RESIDUE
        b_sh = r.doc_b % _SHARD_MOD == _SHARD_RESIDUE
        if a_sh != b_sh:
            new, matched = (r.doc_a, r.doc_b) if a_sh else (r.doc_b, r.doc_a)
            want.add((new, matched, r.hamming))
    assert inc == want
    assert want, "test premise: the shard has at least one Hamming match"


def test_redelivered_base_docs_never_self_match(spark, sf_dir):
    """The re-delivery guard of both probe-vs-base gates: probe the
    MinHash lookup and the Hamming gate with BASE documents (ids outside
    the standing shard residue) that have near-dups in the base. No row
    may pair a document with itself, and each gate's rows must equal the
    batch pairs that touch those documents, probe endpoint first."""
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.dedup import (
        _SHARD_MOD,
        _SHARD_RESIDUE,
        _is_shard,
        _simhash_fp_cached,
        hamming_pairs,
        shard_neardup_lookup,
        simhash_fingerprints,
    )

    def is_base(d):
        return d % _SHARD_MOD != _SHARD_RESIDUE

    def touching(pairs, probe):
        return {
            (p, o, v)
            for a, b, v in pairs
            for p, o in ((a, b), (b, a))
            if p in probe and is_base(o)
        }

    mh = [tuple(r) for r in registry.get("minhash_lsh_pairs").fn(spark, sf_dir).collect()]
    ham = [tuple(r) for r in registry.get("simhash_pairs").fn(spark, sf_dir).collect()]
    probe = {
        d
        for pairs in (mh, ham)
        for a, b, _ in pairs
        if is_base(a) and is_base(b)
        for d in (a, b)
    }
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id").isin(sorted(probe)))

    got_mh = {
        tuple(r)
        for r in shard_neardup_lookup(spark, sf_dir, docs.select("doc_id", "text")).collect()
    }
    base_fp = _simhash_fp_cached(spark, sf_dir).filter(~_is_shard("doc_id"))
    got_ham = {tuple(r) for r in hamming_pairs(simhash_fingerprints(docs), base_fp).collect()}
    for got, pairs in ((got_mh, mh), (got_ham, ham)):
        assert all(new != matched for new, matched, _ in got)
        want = touching(pairs, probe)
        assert want, "test premise: the probe docs have base near-dups"
        assert got == want


def test_containment_join_matches_naive_python_and_catches_jaccard_blindspot(
    spark, sf_dir
):
    """(a) The asymmetric prefix filter is complete: results equal the
    naive quadratic containment definition replayed in Python. (b) The
    operator's reason to exist: a short doc embedded in a long one is
    found by containment but invisible to the 0.6-Jaccard join."""
    from collections import defaultdict

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.catalog import table
    from imdbmapreduce_spark.operators.dedup import (
        _CNT_TAU_DEN,
        _CNT_TAU_NUM,
    )

    sh = defaultdict(set)
    for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        t = [x for x in r.text.strip().split() if x]
        for i in range(len(t) - 2):
            sh[r.doc_id].add(" ".join(t[i : i + 3]))
        if not sh[r.doc_id]:
            del sh[r.doc_id]

    want = set()
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            o = len(sa & sb)
            if _CNT_TAU_DEN * o >= _CNT_TAU_NUM * len(sa):
                want.add((a, b))

    rows = registry.get("containment_prefix_join").fn(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == want
    for r in rows:
        assert r.n_common <= r.n_a
        assert abs(r.containment - r.n_common / r.n_a) < 1e-12
    # (b) blind-spot pair: subset relationship with a big size gap has
    # containment >= tau but Jaccard < 0.6 -> absent from the Jaccard join
    jac = {
        (r.doc_a, r.doc_b)
        for r in registry.get("jaccard_prefix_join").fn(spark, sf_dir).collect()
    }
    asym = {
        (a, b)
        for (a, b) in want
        if len(sh[a] & sh[b]) * 5 < 3 * len(sh[a] | sh[b])  # J < 0.6
    }
    if asym:  # the synthetic corpus plants near-dups; subset pairs may vary
        assert all((a, b) not in jac and (b, a) not in jac for a, b in asym)


def test_containment_ingest_equals_batch_restriction(spark, sf_dir):
    """The containment arrival gate must equal the BATCH exact
    containment join restricted to pairs with exactly one endpoint in
    the standing shard — both orientations (arriving doc contained in
    base, base doc contained in arriving), all columns. The driver also
    hash-checks this against a DuckDB oracle (the one arrival gate with
    no hash family), so this pin is belt-and-braces plus the premise
    check that the restriction is non-empty."""
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    inc = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_incremental_ingest")
        .fn(spark, sf_dir)
        .collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_prefix_join").fn(spark, sf_dir).collect()
        if (r.doc_a % _SHARD_MOD == _SHARD_RESIDUE)
        != (r.doc_b % _SHARD_MOD == _SHARD_RESIDUE)
    }
    assert inc == want
    assert want, "test premise: the shard participates in >=1 containment pair"


def test_containment_bounded_is_subset_with_measured_recall(spark, sf_dir):
    """The df-ceiling variant emits a SUBSET of the exact containment
    pairs (identical columns on shared pairs — the ceiling only prunes
    candidates, never alters the exact verify), and its recall on this
    corpus clears the audit floor. The audit's containment_bounded row
    must agree with the directly recomputed recall."""
    from imdbmapreduce_spark.operators.dedup import _NEARDUP_RECALL_FLOORS

    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_prefix_join").fn(spark, sf_dir).collect()
    }
    bounded = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_prefix_join_bounded")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(bounded) <= set(exact)
    for k, v in bounded.items():
        assert exact[k] == v  # verify stage identical on surviving pairs
    recall = len(bounded) / len(exact)
    assert recall >= _NEARDUP_RECALL_FLOORS["containment_bounded"]
    audit = {
        r.family: r
        for r in registry.get("neardup_recall_audit").fn(spark, sf_dir).collect()
    }
    row = audit["containment_bounded"]
    assert row.n_true == len(exact)
    assert row.n_hits == len(bounded)
    assert row.recall == recall


def test_global_rank_matches_unpartitioned_row_number(spark):
    """A one-group _grouped_global_rank, at the text SNM window's own
    partition count, must equal the rank a single-partition row_number
    window would produce, including on a skewed key distribution (one
    hot key, many singletons)."""
    from imdbmapreduce_spark.operators.dedup import _RANK_PARTS, _grouped_global_rank

    rows = [Row(g=0, k="hot", i=i) for i in range(200)] + [
        Row(g=0, k=f"k{i:03d}", i=i) for i in range(50)
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.k, r.i): r.rk
        for r in _grouped_global_rank(df, "g", ["k", "i"], _RANK_PARTS).collect()
    }
    expected = sorted(rows, key=lambda r: (r.k, r.i))
    for pos, r in enumerate(expected, start=1):
        assert got[(r.k, r.i)] == pos


def test_snm_pairs_match_python_replay(spark, sf_dir):
    """Multi-pass SNM completeness + budget: the emitted pairs are
    EXACTLY the within-window, above-threshold pairs of EITHER sort
    order (forward + reversed canonical key), and each doc touches at
    most passes*2w pairs (the skew-proof budget)."""
    import hashlib as _hashlib

    from imdbmapreduce_spark.operators.dedup import (
        _SNM_KEY_TOKENS,
        _SNM_TAU_DEN,
        _SNM_TAU_NUM,
        _SNM_WINDOW,
    )

    def key(toks):
        # mirror _snm_key: first-N-token prefix + md5 tail of the full
        # joined string (the bounded sort key, advice r9)
        joined = " ".join(toks)
        return (
            " ".join(toks[:_SNM_KEY_TOKENS])
            + " #"
            + _hashlib.md5(joined.encode()).hexdigest()
        )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    sets = {}
    passes = {"fwd": [], "rev": []}
    for r in docs:
        st = sorted(set(r.text.split()))
        if st:
            sets[r.doc_id] = set(st)
            passes["fwd"].append((key(st), r.doc_id))
            passes["rev"].append((key(list(reversed(st))), r.doc_id))
    expected = set()
    for keyed in passes.values():
        keyed.sort()
        for i, (_, id_a) in enumerate(keyed):
            for j in range(i + 1, min(i + 1 + _SNM_WINDOW, len(keyed))):
                id_b = keyed[j][1]
                set_a, set_b = sets[id_a], sets[id_b]
                common = len(set_a & set_b)
                union = len(set_a) + len(set_b) - common
                if _SNM_TAU_DEN * common >= _SNM_TAU_NUM * union:
                    expected.add((min(id_a, id_b), max(id_a, id_b)))
    out = registry.get("snm_neardup_pairs").fn(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b) for r in out}
    assert got == expected
    from collections import Counter

    per_doc = Counter()
    for a, b in got:
        per_doc[a] += 1
        per_doc[b] += 1
    assert not per_doc or max(per_doc.values()) <= 2 * 2 * _SNM_WINDOW


def _lev(x: str, y: str) -> int:
    """Plain O(len²) Levenshtein — the replay tests' independent verify
    (no suffix/prefix reduction, no library)."""
    prev = list(range(len(y) + 1))
    for i, cx in enumerate(x, 1):
        cur = [i]
        for j, cy in enumerate(y, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy)))
        prev = cur
    return prev[len(y)]


def _replay_exact_pairs(cust_rows, max_dist):
    """Brute-force UNBLOCKED match replay: every a<b pair within
    full-name Levenshtein distance — the python truth the deletion-
    neighborhood blocking must reproduce exactly (its completeness
    theorem for distance <= 1 under test, not replayed)."""
    expected = {}
    for a, b in combinations(sorted(cust_rows, key=lambda r: r.c_custkey), 2):
        d = _lev(a.c_name, b.c_name)
        if d <= max_dist:
            expected[(a.c_custkey, b.c_custkey)] = d
    return expected


def test_customer_fuzzy_matches_python_replay(spark, sf_dir):
    """Deletion-neighborhood blocked Levenshtein pairs equal the
    brute-force ALL-PAIRS replay with full-name edit distance —
    blocking completeness and verify exactness in one equality,
    independent of the variant-explode plumbing in the plan."""
    from imdbmapreduce_spark.operators.dedup import _LINK_MAX_DIST

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    expected = _replay_exact_pairs(cust, _LINK_MAX_DIST)
    out = registry.get("customer_fuzzy_matches").fn(spark, sf_dir).collect()
    got = {(r.custkey_a, r.custkey_b): r.lev_dist for r in out}
    assert got == expected


def test_customer_entity_groups_partition_and_survivorship(spark, sf_dir):
    """Entities partition the customer table; each golden record belongs
    to its entity and carries its max balance (ties to lowest key)."""
    out = registry.get("customer_entity_groups").fn(spark, sf_dir).collect()
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    assert sum(r.n_members for r in out) == len(cust)
    pairs = registry.get("customer_fuzzy_matches").fn(spark, sf_dir).collect()
    parent = {r.c_custkey: r.c_custkey for r in cust}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p.custkey_a), find(p.custkey_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list] = {}
    for r in cust:
        members.setdefault(find(r.c_custkey), []).append(r)
    expected_golden = {
        root: min(ms, key=lambda r: (-r.c_acctbal, r.c_custkey)).c_custkey
        for root, ms in members.items()
    }
    # entity_id is the min reachable key == the union-find root here
    assert {r.entity_id: r.golden_custkey for r in out} == expected_golden


def test_customer_entity_arrival_matches_union_find_replay(spark, sf_dir):
    """Arrival-gate replay: base-only union-find over blocked lev<=1
    edges, then each arriving record's verdict = min matched base
    entity (or its own key), with link counts — exactly the registered
    query's contract."""
    from imdbmapreduce_spark.operators.dedup import (
        _CUST_SHARD_MOD,
        _CUST_SHARD_RESIDUE,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    new = [r for r in cust if r.c_custkey % _CUST_SHARD_MOD == _CUST_SHARD_RESIDUE]
    base = [r for r in cust if r.c_custkey % _CUST_SHARD_MOD != _CUST_SHARD_RESIDUE]

    base_pairs = _replay_exact_pairs(base, 1)
    parent = {r.c_custkey: r.c_custkey for r in base}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ka, kb in base_pairs:
        ra, rb = find(ka), find(kb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    # probe: the exact truth — any base record within distance 1
    # (the deletion-neighborhood blocking is complete for d <= 1, so
    # the gate must reach every such record)
    # entity id = min member key of the component = the root here
    expected = {}
    for r in new:
        linked = {
            o.c_custkey: find(o.c_custkey)
            for o in base
            if _lev(r.c_name, o.c_name) <= 1
        }
        ents = set(linked.values())
        expected[r.c_custkey] = (
            min(ents) if ents else r.c_custkey,
            len(linked),
            len(ents),
        )
    out = registry.get("customer_entity_arrival").fn(spark, sf_dir).collect()
    got = {r.new_custkey: (r.entity_id, r.n_links, r.n_entities_linked) for r in out}
    assert got == expected


def test_exact_substr_arrival_gate_matches_python_replay(spark, sf_dir):
    """Arrival-gate replay: arriving windows hashed fresh, probed
    against the base window set, islands merged — per-shard-doc spans
    must equal a direct Python replay (and every span must lie inside
    its doc's token range)."""
    from imdbmapreduce_spark.operators.dedup import (
        _SHARD_MOD,
        _SHARD_RESIDUE,
        _XS_W,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    base_windows = set()
    shard_docs = []
    for r in docs:
        toks = r.text.split()
        wins = [
            " ".join(toks[i : i + _XS_W]) for i in range(len(toks) - _XS_W + 1)
        ]
        if r.doc_id % _SHARD_MOD == _SHARD_RESIDUE:
            shard_docs.append((r.doc_id, toks, wins))
        else:
            base_windows.update(wins)
    expected = set()
    for doc_id, toks, wins in shard_docs:
        hit_pos = [i + 1 for i, w in enumerate(wins) if w in base_windows]
        start = None
        prev = None
        for p in hit_pos + [None]:
            if p is not None and prev is not None and p - prev <= _XS_W:
                prev = p
                continue
            if prev is not None:
                n = sum(1 for q in hit_pos if start <= q <= prev)
                expected.add((doc_id, start, prev + _XS_W - 1, n, prev + _XS_W - start))
            start = prev = p
    out = registry.get("exact_substr_incremental_ingest").fn(spark, sf_dir).collect()
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows, r.span_tokens) for r in out
    }
    assert got == expected
    for r in out:
        assert r.doc_id % _SHARD_MOD == _SHARD_RESIDUE


def test_jaccard_bounded_is_subset_with_ceiling_semantics(spark, sf_dir):
    """The bounded Jaccard prefix join (r9 verdict task 1) emits a
    SUBSET of the exact join's pairs with identical columns on shared
    pairs (the ceiling only prunes candidates — the verify is exact),
    and the miss set is EXACTLY the pairs whose rarest shared shingle
    is hotter than the ceiling (replayed in python from the raw
    shingle sets), i.e. the stated bounded semantics, not an arbitrary
    recall loss. The audit's jaccard_bounded row must agree."""
    from imdbmapreduce_spark.operators.dedup import (
        _JAC_DF_CEIL,
        _NEARDUP_RECALL_FLOORS,
        _shingle_rows_cached,
    )

    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in registry.get("jaccard_prefix_join").fn(spark, sf_dir).collect()
    }
    bounded = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in registry.get("jaccard_prefix_join_bounded")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(bounded) <= set(exact)
    for k, v in bounded.items():
        assert exact[k] == v  # verify stage identical on surviving pairs

    # replay the ceiling semantics: detected iff the pair's rarest
    # shared shingle has df <= ceiling
    rows = _shingle_rows_cached(spark, sf_dir).collect()
    sets: dict[int, set] = {}
    df_count: dict[str, int] = {}
    for r in rows:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
        df_count[r.shingle] = df_count.get(r.shingle, 0) + 1
    for (a, b) in exact:
        min_df = min(df_count[s] for s in sets[a] & sets[b])
        assert ((a, b) in bounded) == (min_df <= _JAC_DF_CEIL), (a, b, min_df)

    recall = len(bounded) / len(exact)
    assert recall >= _NEARDUP_RECALL_FLOORS["jaccard_bounded"]
    audit = {
        r.family: r
        for r in registry.get("neardup_recall_audit").fn(spark, sf_dir).collect()
    }
    row = audit["jaccard_bounded"]
    assert row.n_true == len(exact)
    assert row.n_hits == len(bounded)
    assert row.recall == recall


def test_containment_bounded_ingest_equals_bounded_batch_restriction(spark, sf_dir):
    """The bounded containment arrival gate (r9 verdict task 2) must
    equal the BOUNDED batch containment join restricted to pairs with
    exactly one endpoint in the standing shard — both orientations,
    all columns — and be a subset of the exact gate (the ceiling only
    prunes)."""
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    inc = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_incremental_ingest_bounded")
        .fn(spark, sf_dir)
        .collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_prefix_join_bounded")
        .fn(spark, sf_dir)
        .collect()
        if (r.doc_a % _SHARD_MOD == _SHARD_RESIDUE)
        != (r.doc_b % _SHARD_MOD == _SHARD_RESIDUE)
    }
    assert inc == want
    assert want, "test premise: the shard participates in >=1 bounded pair"
    exact_gate = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b, r.containment)
        for r in registry.get("containment_incremental_ingest")
        .fn(spark, sf_dir)
        .collect()
    }
    assert inc <= exact_gate


def test_snm_ingest_equals_batch_restriction(spark, sf_dir):
    """The SNM arrival gate must equal the batch SNM pairs restricted
    to pairs with exactly one endpoint in the standing shard (merged-
    order semantics — the definition a sorted-index insert computes),
    all columns, and its blocking-recall audit row must exist with a
    non-vacuous truth."""
    from imdbmapreduce_spark.operators.dedup import _SHARD_MOD, _SHARD_RESIDUE

    inc = {
        tuple(r)
        for r in registry.get("snm_incremental_ingest").fn(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in registry.get("snm_neardup_pairs").fn(spark, sf_dir).collect()
        if (r.doc_a % _SHARD_MOD == _SHARD_RESIDUE)
        != (r.doc_b % _SHARD_MOD == _SHARD_RESIDUE)
    }
    assert inc == want
    assert want, "test premise: the shard participates in >=1 SNM pair"


def test_grouped_global_rank_matches_per_group_row_number(spark):
    """_grouped_global_rank must equal an unpartitioned per-group
    ROW_NUMBER for every group — including groups that straddle range
    partitions, skewed group sizes, and a parts count larger than some
    groups (the correction arithmetic's edge cases)."""
    from imdbmapreduce_spark.operators.dedup import _grouped_global_rank

    rows = (
        [Row(g=0, k="hot", i=i) for i in range(300)]
        + [Row(g=1, k=f"k{i:03d}", i=i) for i in range(40)]
        + [Row(g=2, k="x", i=0)]  # singleton group
        + [Row(g=3, k=f"z{i % 7}", i=i) for i in range(25)]  # ties on k
    )
    df = spark.createDataFrame(rows)
    for parts in (1, 4, 16):
        got = {
            (r.g, r.k, r.i): r.rk
            for r in _grouped_global_rank(df, "g", ["k", "i"], parts).collect()
        }
        by_g: dict[int, list] = {}
        for r in rows:
            by_g.setdefault(r.g, []).append(r)
        for g, members in by_g.items():
            for pos, r in enumerate(sorted(members, key=lambda x: (x.k, x.i)), 1):
                assert got[(g, r.k, r.i)] == pos, (parts, g, r)


def test_snm_window_pairs_within_each_pass_only(spark):
    """_snm_window emits exactly the pairs whose ranks differ by 1..w in
    SOME pass, each pair once: ranks never pair across passes (the
    ``k == k_b`` join term), key ties order by id, and a pair adjacent
    in both passes appears once (the final dropDuplicates)."""
    from imdbmapreduce_spark.operators.dedup import _snm_window

    w = 2
    passes = {
        # pass 0: ids in ascending order; 2 and 3 tie on the key
        0: {1: "a", 2: "b", 3: "b", 4: "c", 5: "d", 6: "e", 7: "f", 8: "g"},
        # pass 1 disagrees (order 8 7 5 6 4 2 3 1); 5 and 6 tie, and
        # (2, 3) and (5, 6) are adjacent in both passes
        1: {8: "a", 7: "b", 6: "c", 5: "c", 4: "d", 2: "e", 3: "f", 1: "g"},
    }
    expected = set()
    for keys in passes.values():
        order = [i for _, i in sorted((key, i) for i, key in keys.items())]
        for a in range(len(order)):
            for b in range(a + 1, min(a + 1 + w, len(order))):
                expected.add((min(order[a], order[b]), max(order[a], order[b])))
    keyed = spark.createDataFrame(
        [(k, i, key) for k, keys in passes.items() for i, key in keys.items()],
        "k int, id long, key string",
    )
    for parts in (1, 4):
        got = [tuple(r) for r in _snm_window(keyed, w, parts).collect()]
        assert len(got) == len(set(got)), (parts, sorted(got))
        assert set(got) == expected, (parts, sorted(got))


def test_neardup_family_router_flips_with_corpus_shape(spark, sf_dir):
    """The near-dup corpus router (r10 verdict task 1): profile
    arithmetic, decision flip between corpus shapes, audit-row
    agreement, and both routed branches on the same corpus — the
    choose_agg_salting flip-test discipline applied to the family
    decision."""
    from imdbmapreduce_spark.operators.dedup import (
        _JAC_DF_CEIL,
        _neardup_routed,
        _prefix_postings,
        neardup_family_audit,
        neardup_pairs_routed,
    )
    from imdbmapreduce_spark.stats import (
        NEARDUP_OVER_PPM_MAX,
        DfProfile,
        choose_neardup_family,
        df_profile,
    )

    # profile arithmetic on synthetic posting frames: a rare-tail shape
    # (3% of postings over the ceiling) routes bounded; a saturated one
    # (every posting's df over the ceiling) routes band.
    rare = spark.createDataFrame([(d,) for d in [1] * 97 + [100] * 3], "df long")
    p = df_profile(rare, 64)
    assert (p.n_prefix_postings, p.over_ceiling, p.median_df) == (100, 3, 1)
    assert p.over_ppm == 30_000
    assert choose_neardup_family(p) == "bounded_prefix"
    sat = spark.createDataFrame([(90,)] * 50, "df long")
    ps = df_profile(sat, 64)
    assert (ps.over_ppm, ps.median_df) == (1_000_000, 90)
    assert choose_neardup_family(ps) == "band"
    # threshold boundary is inclusive on the bounded side
    at = DfProfile(1_000_000, NEARDUP_OVER_PPM_MAX, 1, 64)
    over = DfProfile(1_000_000, NEARDUP_OVER_PPM_MAX + 1, 1, 64)
    assert choose_neardup_family(at) == "bounded_prefix"
    assert choose_neardup_family(over) == "band"

    # the driver corpus is rare-tail: the router and the oracle-checked
    # audit row must agree on every number and on the decision.
    prof = df_profile(_prefix_postings(spark, sf_dir), _JAC_DF_CEIL)
    assert choose_neardup_family(prof) == "bounded_prefix"
    audit = neardup_family_audit(spark, sf_dir).first()
    assert audit.family == "bounded_prefix"
    assert audit.n_prefix_postings == prof.n_prefix_postings
    assert audit.over_ceiling == prof.over_ceiling
    assert audit.over_ppm == prof.over_ppm
    assert audit.median_df == prof.median_df

    # the registered query took the bounded branch; its pair set equals
    # the forced bounded branch, and the forced band branch finds the
    # same pairs on this corpus (both families are complete at fixture
    # scale — the routing difference is cost/recall at sf1, measured in
    # SCALE.md, not fixture-visible truth).
    key = lambda df: {(r.doc_a, r.doc_b) for r in df.collect()}
    routed = key(neardup_pairs_routed(spark, sf_dir))
    bounded = key(_neardup_routed(spark, sf_dir, "bounded_prefix"))
    band = key(_neardup_routed(spark, sf_dir, "band"))
    assert routed == bounded
    assert band == bounded
    assert routed, "test premise: the fixture corpus has near-dup pairs"

    # plan-shape pin: the band branch consumes the minhash signature
    # table (mh0 columns); the bounded branch never touches it.
    band_plan = _neardup_routed(spark, sf_dir, "band")._jdf.queryExecution().executedPlan().toString()
    bounded_plan = _neardup_routed(spark, sf_dir, "bounded_prefix")._jdf.queryExecution().executedPlan().toString()
    assert "mh0" in band_plan
    assert "mh0" not in bounded_plan


def test_neardup_ingest_router_and_forced_branches(spark, sf_dir):
    """The ARRIVAL router (r11 verdict task 3): the registered gate's
    routed output equals the forced bounded-prefix branch; the forced
    band branch — same integer tau verify — finds the same
    shard-vs-base pairs at fixture scale; the decision is made from the
    BASE corpus's profile; every emitted pair crosses the shard
    boundary; and a saturated profile fails LOUDLY through
    ``assert_routed_family`` (ADVICE r11) instead of surfacing as a
    bare hash mismatch against the bounded oracle."""
    import pytest

    from imdbmapreduce_spark.operators.dedup import (
        _JAC_DF_CEIL,
        _SHARD_MOD,
        _SHARD_RESIDUE,
        _is_shard,
        _neardup_ingest_by_family,
        _prefix_postings,
        neardup_ingest_routed,
    )
    from imdbmapreduce_spark.stats import (
        DfProfile,
        assert_routed_family,
        choose_neardup_family,
        df_profile,
    )

    base_prof = df_profile(
        _prefix_postings(spark, sf_dir).filter(~_is_shard("doc_id")), _JAC_DF_CEIL
    )
    assert choose_neardup_family(base_prof) == "bounded_prefix"

    key = lambda df: {(r.new_doc, r.matched_doc) for r in df.collect()}  # noqa: E731
    routed = key(neardup_ingest_routed(spark, sf_dir))
    bounded = key(_neardup_ingest_by_family(spark, sf_dir, "bounded_prefix"))
    band = key(_neardup_ingest_by_family(spark, sf_dir, "band"))
    assert routed == bounded
    assert band == bounded
    assert routed, "test premise: the fixture shard has near-dup matches"
    for a, b in routed:
        assert a % _SHARD_MOD == _SHARD_RESIDUE
        assert b % _SHARD_MOD != _SHARD_RESIDUE

    # the loud-contract guard: a saturated base corpus routes to band
    # and must raise with the profile numbers, not run the wrong branch
    sat = DfProfile(100, 100, 90, _JAC_DF_CEIL)
    with pytest.raises(RuntimeError, match="routed to family 'band'"):
        assert_routed_family(
            "neardup_ingest_routed",
            choose_neardup_family(sat),
            "bounded_prefix",
            sat,
        )


def test_deletion_blocking_finds_typo_at_every_position(spark):
    """r11 verdict task 1's planted-typo pin, strengthened to ALL
    positions: the old prefix+reversed-prefix two-pass blocking left a
    substitution at positions 3..16 of an 18-char TPC-H name
    unreachable (both blocking keys change). The deletion-neighborhood
    blocking must find a single-substitution pair at EVERY position —
    including the mid-digit case the verdict named
    (Customer#000100042 vs Customer#000000042) — plus insertion and
    deletion edits, and must NOT emit a distance-2 pair that shares a
    deletion variant (transposition), proving the full-name verify is
    load-bearing."""
    from pyspark.sql import Row

    from imdbmapreduce_spark.operators.dedup import (
        _blocked_fuzzy_pairs,
        _entity_components,
        _link_postings,
    )

    base = "Customer#000000042"
    rows = [Row(c_custkey=1, c_name=base)]
    # one substitution pair per position (key 100+p differs from base
    # only at position p, 1-indexed)
    for p in range(1, len(base) + 1):
        ch = "X" if base[p - 1] != "X" else "Y"
        rows.append(
            Row(c_custkey=100 + p, c_name=base[: p - 1] + ch + base[p:])
        )
    rows += [
        Row(c_custkey=200, c_name=base + "Z"),  # insertion at the end (d=1)
        Row(c_custkey=201, c_name=base[1:]),  # deletion of the first char (d=1)
        # transposition of the last two digits: shares deletion variants
        # with base but sits at Levenshtein distance 2 -> must be REJECTED
        Row(c_custkey=300, c_name=base[:-2] + base[-1] + base[-2]),
        Row(c_custkey=400, c_name="Zupplier#999999999"),  # matches nothing
        # the r11 verdict's literal mid-digit example
        Row(c_custkey=500, c_name="Customer#000100042"),
    ]
    cust = spark.createDataFrame(rows)
    postings = _link_postings(cust)
    pairs = (
        _blocked_fuzzy_pairs(postings, postings)
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .collect()
    )
    found = {(r.custkey_a, r.custkey_b) for r in pairs}
    # the verdict's mid-digit case: position 13 (the '1' of #000100042)
    assert (1, 113) in found
    assert (1, 500) in found  # the literal Customer#000100042 pair
    # every substitution position, plus the insert/delete edits
    for p in range(1, len(base) + 1):
        assert (1, 100 + p) in found, f"substitution at position {p} missed"
    assert (1, 200) in found and (1, 201) in found
    # the distance-2 transposition shares a variant but must not match
    assert not any(300 in pr for pr in found)
    assert not any(400 in pr for pr in found)

    # chain closure: base links every planted variant into ONE entity
    # with the min key as id — the cross-block star merge at work
    pair_df = spark.createDataFrame(pairs)
    assign = {r.node: r.cluster_id for r in _entity_components(pair_df).collect()}
    linked_keys = {1, 200, 201, 500} | {100 + p for p in range(1, len(base) + 1)}
    assert set(assign) == linked_keys
    assert set(assign.values()) == {1}
