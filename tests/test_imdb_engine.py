"""Reference-semantics tests for the IMDb core (SURVEY.md §5 item 2-3).

Every edge case reverse-engineered from the reference code is locked here:
missing title → empty; exact/case-sensitive matching; probe exclusion;
cap at 4; level disjointness; sorted titles / unsorted actors;
partition invariance of the distributed merge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imdbmapreduce_spark.operators.cooccurrence import (
    Engine,
    co_members,
    coactor_query,
    title_query,
    to_dot,
    to_levels,
)

# (movie_id, title, actors). Designed so levels 1..4 all occur:
# - m1..m5 share increasing actor counts with "Hub Movie"
# - "Ann" appears with "Bob" in 5 movies (cap test)
FIXTURE = [
    (1, "Hub Movie", ["Ann", "Bob", "Cat", "Dan", "Eve"]),
    (2, "One Shared", ["Ann", "Xavier"]),
    (3, "Two Shared", ["Ann", "Bob", "Yolanda"]),
    (4, "Three Shared", ["Ann", "Bob", "Cat", "Zed"]),
    (5, "Four Shared", ["Ann", "Bob", "Cat", "Dan"]),
    (6, "Five Shared", ["Ann", "Bob", "Cat", "Dan", "Eve"]),
    (7, "No Overlap", ["Quinn", "Rex"]),
    (8, "hub movie", ["Quinn"]),  # case differs from "Hub Movie"
    (9, "Ann Bob Again", ["Ann", "Bob"]),
    (10, "Ann Solo", ["Ann"]),
]


@pytest.fixture(scope="module")
def movies(spark):
    df = spark.createDataFrame(FIXTURE, "movie_id long, title string, actors array<string>")
    df.cache().count()
    return df


def test_title_query_levels_and_sort(spark, movies):
    rows = title_query(movies, "Hub Movie").collect()
    got = {r["title"]: (r["n_shared"], r["level"]) for r in rows}
    assert got == {
        "One Shared": (1, 1),
        "Ann Solo": (1, 1),
        "Ann Bob Again": (2, 2),
        "Two Shared": (2, 2),
        "Three Shared": (3, 3),
        "Four Shared": (4, 4),
        "Five Shared": (5, 4),  # cap at 4 (master.erl:326-329)
    }
    # R14: sorted by (level, title); self row and non-overlapping excluded.
    # (lexicographically "Five" < "Four")
    assert [r["title"] for r in rows] == [
        "Ann Solo", "One Shared", "Ann Bob Again", "Two Shared",
        "Three Shared", "Five Shared", "Four Shared",
    ]
    assert "Hub Movie" not in got and "No Overlap" not in got
    # case-sensitive: lowercase "hub movie" shares no actors → absent
    assert "hub movie" not in got


def test_title_query_missing_title_empty(spark, movies):
    res = title_query(movies, "Does Not Exist")
    assert res.count() == 0  # master.erl:152-154
    assert res.columns == ["movie_id", "title", "n_shared", "level"]


def test_title_query_case_sensitive_probe(spark, movies):
    # Probing the lowercase variant must use ITS cast (Quinn), not Hub's.
    rows = title_query(movies, "hub movie").collect()
    assert {r["title"] for r in rows} == {"No Overlap"}


def _plan_edges(df):
    """``(parent, node)`` pairs of a DataFrame's physical plan before
    execution (the AQE wrapper's initial plan), root's parent None."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    edges, stack = [], [(None, root)]
    while stack:
        parent, node = stack.pop()
        edges.append((parent, node))
        kids = node.children()
        stack.extend((node, kids.apply(i)) for i in range(kids.size()))
    return edges


def test_title_query_job_and_plan_budget(spark, movies):
    """A Title lookup fetches its probe cast in exactly ONE job while its
    plan is built, and the result plan gathers onto one partition only
    directly under the final (non-global) sort: no range-partitioner
    sampling pass, and no other collapse onto a single partition."""
    sc = spark.sparkContext
    sc.setJobGroup("title-plan-build", "title_query plan build")
    try:
        # the fixture's LAST row: a first-partition-then-scale-up fetch
        # would need a second job to reach it
        res = title_query(movies, "Ann Solo")
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("title-plan-build")
        sc.setJobGroup(None, None)
    assert len(jobs) == 1, f"expected ONE probe-fetch job, saw {list(jobs)}"
    edges = _plan_edges(res)
    parts = [
        (parent, node.outputPartitioning().toString())
        for parent, node in edges
        if node.nodeName() == "Exchange"
    ]
    assert not [p for _, p in parts if "rangepartitioning" in p], parts
    single = [parent for parent, p in parts if p == "SinglePartition"]
    assert len(single) == 1, parts
    root = edges[0][1]
    assert single[0].equals(root) and root.nodeName() == "Sort"
    # SortExec.global is false: the sort runs within the one partition
    assert not getattr(root, "global")()


def test_coactor_query_counts(spark, movies):
    rows = coactor_query(movies, "Ann").collect()
    got = {r["actor"]: (r["cnt"], r["level"]) for r in rows}
    # Bob co-occurs with Ann in movies 1,3,4,5,6,9 → 6 times, level 4
    assert got["Bob"] == (6, 4)
    assert got["Xavier"] == (1, 1)
    assert got["Cat"] == (4, 4)
    assert got["Dan"] == (3, 3)
    assert "Ann" not in got  # R5: probe removed (mapReduce.erl:84)
    assert "Quinn" not in got  # appears only in movies without Ann


def test_coactor_query_unknown_actor_empty(spark, movies):
    assert coactor_query(movies, "Nobody").count() == 0


def test_levels_disjoint_and_complete(spark, movies):
    """Union of levels = all rows with count>=1, pairwise disjoint (R9)."""
    res = coactor_query(movies, "Ann")
    per_level = res.groupBy("level").agg(F.collect_set("actor").alias("s")).collect()
    sets = [set(r["s"]) for r in per_level]
    union = set().union(*sets) if sets else set()
    assert sum(len(s) for s in sets) == len(union)  # disjoint
    assert union == {r["actor"] for r in res.collect()}


def test_partition_invariance(spark, movies):
    """The distributed merge is exact: identical results at 1/2/8 partitions
    (the property proved for the reference in SURVEY §3.2 step 9)."""
    expected = None
    for n in (1, 2, 8):
        df = movies.repartition(n)
        got = sorted(
            (r["actor"], r["cnt"], r["level"])
            for r in coactor_query(df, "Ann").collect()
        )
        if expected is None:
            expected = got
        assert got == expected, f"partitions={n}"


def test_title_query_bigint_arrays_and_missing_probe(spark, sf_dir):
    """The generic title_query must work on non-string member types (the
    probe literal casts to the actors element type) and preserve the
    empty-result contract for an unknown title on that schema too."""
    from imdbmapreduce_spark.operators.cooccurrence import _orders_as_movies

    movies = _orders_as_movies(spark, sf_dir)
    hit = title_query(movies, "1")
    assert hit.count() > 0
    miss = title_query(movies, "no-such-order")
    assert miss.count() == 0
    assert miss.columns == ["movie_id", "title", "n_shared", "level"]


def test_co_members_hot_actor_skew(spark):
    """SURVEY §7 Phase 5 skew harness: one hot actor with 10⁴ memberships
    (and a co-actor sharing ALL of them — the worst-case hot aggregation
    key) must produce exact counts at 8 partitions. Why this holds at any
    skew: the probe's group set ships as a broadcast semi-join (no
    shuffle of the fact), and the hot co-actor key collapses map-side via
    partial aggregation before the one exchange — verified on the
    executed plan below, not just asserted."""
    n = 10_000
    rows = [(g, "HOT") for g in range(n)]
    rows += [(g, "BUDDY") for g in range(n)]  # co-occurs in every HOT group
    rows += [(g, f"rare{g // 100}") for g in range(0, n, 100)]  # 100 singletons
    rows += [(n + 1, "BUDDY"), (n + 2, "loner")]  # groups without HOT
    df = spark.createDataFrame(rows, "g long, m string").repartition(8)
    out_df = co_members(df, "g", "m", "HOT")
    out = {r["m"]: (r["cnt"], r["level"]) for r in out_df.collect()}
    assert out["BUDDY"] == (n, 4)
    assert all(out[f"rare{i}"] == (1, 1) for i in range(100))
    assert "HOT" not in out and "loner" not in out
    # plan shape: broadcast semi-join for the probe, partial+final agg
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert plan.count("HashAggregate") >= 2  # partial (map-side) + final


def test_engine_dispatch(spark, movies):
    eng = Engine(spark, movies)
    assert eng.query("Actor", "Ann").count() > 0
    assert eng.query("Title", "Hub Movie").count() == 7
    with pytest.raises(ValueError):
        eng.query("Genre", "Drama")


def test_to_levels_presentation(spark, movies):
    lv = to_levels(title_query(movies, "Hub Movie"), "title").collect()
    as_dict = {r["level"]: (r["members"], r["n"]) for r in lv}
    assert as_dict[4] == (["Five Shared", "Four Shared"], 2)
    assert as_dict[1] == (["Ann Solo", "One Shared"], 2)
    # F7: the reference's `levelN` atom construction (master.erl:334)
    assert {r["level"]: r["level_label"] for r in lv} == {
        1: "level1", 2: "level2", 3: "level3", 4: "level4",
    }


def test_to_dot_matches_reference_graph_shape(spark, movies):
    """S6 DOT sink mirrors movie_graph.erl:42-93: lightblue level0 root,
    lightgrey per-level boxes labeled Count + members, root→L1→…→L4
    chain, quote escaping."""
    levels = to_levels(title_query(movies, "Hub Movie"), "title")
    dot = to_dot(levels, 'Hub "Movie"')
    assert dot.startswith("digraph MovieGraph {\n  rankdir=LR;\n")
    assert '"level0" [label="Hub \\"Movie\\"", shape=box, style=filled, fillcolor=lightblue];' in dot
    assert (
        '"level1" [label="Count: 2\\nAnn Solo\\nOne Shared", shape=box, '
        "style=filled, fillcolor=lightgrey];" in dot
    )
    assert (
        '"level4" [label="Count: 2\\nFive Shared\\nFour Shared", shape=box, '
        "style=filled, fillcolor=lightgrey];" in dot
    )
    for edge in ['"level0" -> "level1";', '"level1" -> "level2";',
                 '"level2" -> "level3";', '"level3" -> "level4";']:
        assert edge in dot
    assert dot.rstrip().endswith("}")
