"""PageRank (operators/graph.py): the exact-fixed-point determinism claim
is locked by replaying the identical integer recurrence in pure Python on
the same edge set and requiring bit equality."""

from __future__ import annotations

import duckdb

from imdbmapreduce_spark.operators.graph import (
    COSUPPLIER_ITERS,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
    cosupplier_edges,
    pagerank,
)
from imdbmapreduce_spark.registry import get


def _python_pagerank(nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    from collections import defaultdict

    n = len(nodes)
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN // n
    out_deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    ranks = {v: PR_SCALE // n for v in nodes}
    for _ in range(COSUPPLIER_ITERS):
        inbound: dict[int, int] = defaultdict(int)
        for s, d in edges:
            # int(...) floors toward -inf for negatives; ranks are
            # non-negative so // matches Spark's `div` exactly
            inbound[d] += ranks[s] // out_deg[s]
        ranks = {v: base + PR_DAMP_NUM * inbound.get(v, 0) // PR_DAMP_DEN for v in nodes}
    return ranks


def test_pagerank_matches_python_reference(spark, sf_dir):
    got = {r.node: r.rank_fp for r in get("pagerank_cosuppliers").fn(spark, sf_dir).collect()}
    con = duckdb.connect()
    nodes = [
        r[0]
        for r in con.execute(
            f"SELECT s_suppkey FROM read_parquet('{sf_dir}/supplier.parquet')"
        ).fetchall()
    ]
    edges = con.execute(
        f"""WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey
                       FROM read_parquet('{sf_dir}/lineitem.parquet'))
            SELECT DISTINCT a.l_suppkey, b.l_suppkey
            FROM d a JOIN d b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey"""
    ).fetchall()
    want = _python_pagerank(nodes, [tuple(e) for e in edges])
    assert got == want  # bit equality, every vertex


def _adjacency(edges):
    """(src, dsts, out_deg) rows of a (src, dst) edge frame — the input
    shape of :func:`pagerank`."""
    import pyspark.sql.functions as F

    return edges.groupBy("src").agg(
        F.collect_list("dst").alias("dsts"), F.count(F.lit(1)).alias("out_deg")
    )


def test_pagerank_is_partition_invariant(spark, sf_dir):
    """Same ranks regardless of how nodes/edges are partitioned — the
    order-independence claim of the integer recurrence — for plain
    PageRank and for a personalized seed subset."""
    nodes = spark.range(6).selectExpr("id AS node")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 2)], ["src", "dst"]
    )
    seed_sub = nodes.filter("node IN (0, 5)")

    def ranks(nodes, edges, seeds):
        return {
            r.node: (r.rank_fp, r.is_seed)
            for r in pagerank(nodes, _adjacency(edges), 8, seeds).collect()
        }

    plain = ranks(nodes, edges, None)
    assert plain == ranks(nodes.repartition(7), edges.repartition(5), None)
    # sink-heavy vertex 2 must outrank the isolated-ish source 5
    assert plain[2][0] > plain[5][0]
    ppr = ranks(nodes, edges, seed_sub)
    assert ppr == ranks(
        nodes.repartition(7), edges.repartition(5), seed_sub.repartition(3)
    )
    assert {v for v, (_, is_seed) in ppr.items() if is_seed} == {0, 5}


def test_pagerank_empty_and_isolated(spark):
    nodes = spark.range(3).selectExpr("id AS node")
    edges = spark.createDataFrame([(0, 1)], ["src", "dst"])
    ranks = {r.node: r.rank_fp for r in pagerank(nodes, _adjacency(edges), 8).collect()}
    # isolated vertex 2 holds exactly the teleport mass
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN // 3
    assert ranks[2] == base
    assert ranks[1] > ranks[2]  # receiver of 0's mass beats teleport-only


def test_cosupplier_edges_symmetric(spark, sf_dir):
    e = cosupplier_edges(spark, sf_dir)
    fwd = {(r.src, r.dst) for r in e.collect()}
    assert fwd  # non-empty at every sf
    assert all((d, s) in fwd for s, d in fwd)  # both directions present


def test_ppr_matches_python_reference_and_localizes(spark, sf_dir):
    """Personalized PageRank: exact-integer replay (seed-conditional
    teleport), plus the localization property — seed-set mass share
    must exceed its uniform share under plain PageRank."""
    import duckdb

    from imdbmapreduce_spark.operators.graph import (
        PPR_ITERS,
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )

    con = duckdb.connect()
    nodes = [
        r[0]
        for r in con.execute(
            f"SELECT s_suppkey FROM read_parquet('{sf_dir}/supplier.parquet')"
        ).fetchall()
    ]
    seeds = {
        r[0]
        for r in con.execute(
            f"""SELECT s_suppkey FROM read_parquet('{sf_dir}/supplier.parquet')
                WHERE s_nationkey = (SELECT MIN(s_nationkey)
                                     FROM read_parquet('{sf_dir}/supplier.parquet'))"""
        ).fetchall()
    }
    edges = con.execute(
        f"""WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey
                       FROM read_parquet('{sf_dir}/lineitem.parquet'))
            SELECT DISTINCT a.l_suppkey, b.l_suppkey
            FROM d a JOIN d b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey"""
    ).fetchall()
    out_deg: dict[int, int] = {}
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        out_deg[s] = out_deg.get(s, 0) + 1
    n_seeds = len(seeds)
    teleport = PR_DAMP_DEN - PR_DAMP_NUM
    base = (teleport * PR_SCALE) // PR_DAMP_DEN // n_seeds
    rank = {v: (PR_SCALE // n_seeds if v in seeds else 0) for v in nodes}
    for _ in range(PPR_ITERS):
        inbound = {v: 0 for v in nodes}
        for s in adj:
            c = rank[s] // out_deg[s]
            for d in adj[s]:
                inbound[d] += c
        rank = {
            v: (base if v in seeds else 0)
            + (PR_DAMP_NUM * inbound[v]) // PR_DAMP_DEN
            for v in nodes
        }

    got = {
        r.node: (r.rank_fp, r.is_seed)
        for r in get("ppr_supplier_neighborhood").fn(spark, sf_dir).collect()
    }
    assert got == {v: (rank[v], v in seeds) for v in nodes}

    # localization: the seed set holds more than its uniform share
    seed_mass = sum(rank[v] for v in seeds)
    total = sum(rank.values())
    assert seed_mass / total > len(seeds) / len(nodes)


def test_kcore_matches_python_replay_and_is_stable(spark, sf_dir):
    """Pure-Python peel replay, plus the fixpoint property: one more
    peel round changes nothing (KCORE_ROUNDS suffices on this graph),
    and every core member keeps degree >= k inside the core."""
    import duckdb

    from imdbmapreduce_spark.operators.graph import KCORE_ROUNDS

    con = duckdb.connect()
    nodes = [
        r[0]
        for r in con.execute(
            f"SELECT s_suppkey FROM read_parquet('{sf_dir}/supplier.parquet')"
        ).fetchall()
    ]
    edges = [
        tuple(e)
        for e in con.execute(
            f"""WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey
                           FROM read_parquet('{sf_dir}/lineitem.parquet'))
                SELECT DISTINCT a.l_suppkey, b.l_suppkey
                FROM d a JOIN d b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey"""
        ).fetchall()
    ]
    k = len(edges) // len(nodes) + 1

    def peel(surv: set) -> set:
        deg: dict[int, int] = {}
        for s, d in edges:
            if s in surv and d in surv:
                deg[s] = deg.get(s, 0) + 1
        return {v for v, dg in deg.items() if dg >= k}

    surv = set(nodes)
    for _ in range(KCORE_ROUNDS):
        surv = peel(surv)
    assert peel(surv) == surv  # fixpoint reached within KCORE_ROUNDS

    deg_in_core: dict[int, int] = {}
    for s, d in edges:
        if s in surv and d in surv:
            deg_in_core[s] = deg_in_core.get(s, 0) + 1

    got = {r.node: r for r in get("kcore_suppliers").fn(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        r = got[v]
        assert r.k == k
        assert r.in_core == (v in surv), v
        assert r.core_deg == deg_in_core.get(v, 0) if v in surv else r.core_deg == 0
        if r.in_core:
            assert r.core_deg >= k


def test_adamic_adar_matches_python_replay(spark, sf_dir):
    """Full pure-Python replay of the capped Adamic-Adar pipeline over
    the co-part graph: weighted edges, full-degree 1e-9 quantized
    weights, top-M neighbor cap, wedge candidates, adjacency exclusion,
    and the exact integer top-50."""
    import math
    from collections import Counter, defaultdict

    from imdbmapreduce_spark.operators.graph import _AA_SCALE, _AA_TOPK, AA_NBR_CAP
    from imdbmapreduce_spark.registry import get

    rows = duckdb.connect().execute(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    by_order = defaultdict(set)
    for k, p in rows:
        by_order[k].add(p)
    wedges: Counter = Counter()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    wedges[(a, b)] += 1
    deg = Counter(src for src, _ in wedges)
    w_q = {
        z: int(math.floor(_AA_SCALE / math.log(d) + 0.5))
        for z, d in deg.items()
        if d >= 2
    }
    nbrs = defaultdict(list)
    for (src, dst), n in wedges.items():
        nbrs[src].append((-n, dst))
    capped = {z: [d for _, d in sorted(v)[:AA_NBR_CAP]] for z, v in nbrs.items()}
    score: dict[tuple, list] = {}
    for z, nb in capped.items():
        if z not in w_q:
            continue
        nb_sorted = sorted(nb)
        for i, a in enumerate(nb_sorted):
            for b in nb_sorted[i + 1 :]:
                e = score.setdefault((a, b), [0, 0])
                e[0] += 1
                e[1] += w_q[z]
    want = sorted(
        (
            (a, b, n, aa)
            for (a, b), (n, aa) in score.items()
            if (a, b) not in wedges
        ),
        key=lambda x: (-x[3], x[0], x[1]),
    )[:_AA_TOPK]

    got = get("adamic_adar_parts").fn(spark, sf_dir).collect()
    got_sorted = sorted(got, key=lambda r: r.rank)
    assert [(r.src, r.dst, r.n_common, r.aa_q) for r in got_sorted] == want
    for r in got_sorted:
        assert r.aa_score == r.aa_q / _AA_SCALE
        assert (r.src, r.dst) not in wedges  # predicted links only
    assert got, "co-part graph must yield non-adjacent candidates"


def test_lpa_matches_python_replay(spark, sf_dir):
    """Synchronous deterministic LPA replayed in pure Python: 4 rounds of
    most-frequent-neighbor-label with smallest-label tie-break."""
    from collections import Counter, defaultdict

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.operators.graph import (
        LPA_ROUNDS,
        cosupplier_edges,
    )
    from imdbmapreduce_spark.catalog import table

    edges = defaultdict(list)
    for r in cosupplier_edges(spark, sf_dir).collect():
        edges[r.dst].append(r.src)
    nodes = [r.s_suppkey for r in table(spark, sf_dir, "supplier").collect()]
    lbl = {v: v for v in nodes}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for v in nodes:
            if v not in edges:
                nxt[v] = lbl[v]
                continue
            c = Counter(lbl[u] for u in edges[v])
            nxt[v] = min(
                (l for l, k in c.items() if k == max(c.values()))
            )
        lbl = nxt

    got = {
        r.node: r.community
        for r in registry.get("lpa_supplier_communities").fn(spark, sf_dir).collect()
    }
    assert got == lbl
    # community ids are member node ids (labels propagate, never invent)
    assert set(got.values()) <= set(nodes)


def test_lpa_early_exit_on_converged_fixture(spark):
    """The convergence early-exit fires: on a single triangle the
    synchronous recurrence reaches its fixpoint after 2 label rounds and
    the 3rd round observes zero moves — so _lpa_run stops at
    rounds_run=3 < max_rounds, and the labels equal the hand-computed
    fixpoint (everyone folds to label 1: round 1 sends node1→2 via the
    smallest-label tie-break and nodes 2,3→1; round 2 folds node1 back
    to 1)."""
    from imdbmapreduce_spark.operators.graph import _lpa_run

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    und = [(1, 2), (1, 3), (2, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels, rounds_run = _lpa_run(nodes, edges, max_rounds=8)
    assert rounds_run == 3  # the zero-move round inclusive, well under 8
    assert {(r.node, r.lbl) for r in labels.collect()} == {(1, 1), (2, 1), (3, 1)}


def test_lpa_rounds_run_column_and_cap(spark, sf_dir):
    """The registered query surfaces rounds_run as a constant column
    <= LPA_ROUNDS, and re-running with the cap equal to the measured
    rounds_run yields identical communities (the skipped rounds were
    provably no-ops)."""
    from imdbmapreduce_spark.operators.graph import LPA_ROUNDS

    rows = get("lpa_supplier_communities").fn(spark, sf_dir).collect()
    rr = {r.rounds_run for r in rows}
    assert len(rr) == 1
    assert 1 <= rows[0].rounds_run <= LPA_ROUNDS
