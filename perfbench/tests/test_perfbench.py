"""Tests of the benchmark itself: its statistics, span arithmetic, input
generation and the metrics it prints.

    python3 -m pytest perfbench/tests -q

The last two tests run the benchmark end to end for one second per
workload at the benchmark's own scale (sf0.001) and take about two
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import imdb  # noqa: E402
import latency  # noqa: E402
import spans  # noqa: E402


def test_tail_needs_ten_samples_beyond_it():
    assert latency.tail([1.0] * 10) is None
    value, pct, n = latency.tail([float(i) for i in range(11, 0, -1)])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)
    value, pct, n = latency.tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    samples = [float(i) for i in range(1000)]
    value, pct, _ = latency.tail(samples)
    assert pct == 99.0
    assert sum(s > value for s in samples) == 10


def test_kind_geomean_uses_each_kinds_median():
    got = latency.kind_geomean_p50({"a": [1.0, 4.0, 100.0], "b": [9.0], "c": []})
    assert got == pytest.approx((4.0 * 9.0) ** 0.5)
    assert latency.kind_geomean_p50({"a": []}) is None
    assert latency.kind_geomean_p50({}) is None


def _span(sid, start, end, parent=None, name="x", op=1):
    return spans.Span(sid, name, op, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps 2: covered once
        _span(4, 8.0, 12.0, parent=1),  # clipped at the parent's end
        _span(5, 1.5, 2.0, parent=2),
    ]
    selfs = spans.self_times(tree)
    assert selfs[1] == pytest.approx(10.0 - (5.0 + 2.0))
    assert selfs[2] == pytest.approx(3.0 - 0.5)
    assert selfs[5] == pytest.approx(0.5)


def test_self_times_of_a_sequential_tree_add_up_to_the_root():
    tree = [
        _span(1, 0.0, 1.0, name="op"),
        _span(2, 0.1, 0.5, parent=1, name="build"),
        _span(3, 0.2, 0.3, parent=2, name="catalog"),
        _span(4, 0.5, 0.95, parent=1, name="exec"),
    ]
    assert sum(spans.self_times(tree).values()) == pytest.approx(1.0)


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_tracer_tags_jobs_with_the_innermost_span_and_restores_the_parent():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    with tracer.span("op", op=7):
        with tracer.span("build"):
            pass
    p = spans.GROUP_PREFIX
    assert sc.groups == [f"{p}1", f"{p}2", f"{p}1", None]
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["build"].parent == by_name["op"].sid
    assert by_name["build"].op == 7

    off = spans.Tracer(None)
    with off.span("op", op=1):
        pass
    assert off.spans == [] and not off.enabled


def test_event_log_counters_attribute_tasks_to_spans(tmp_path):
    p = spans.GROUP_PREFIX
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": f"{p}3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": 5, "Stage Attempt ID": 0, "Submission Time": 1000},
            "Properties": {"spark.jobGroup.id": f"{p}3"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 5,
            "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Launch Time": 1250},
            "Task Metrics": {
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
                "Memory Bytes Spilled": 3,
                "Disk Bytes Spilled": 4,
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 5,
            "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": "ExceptionFailure"},
            "Task Info": {"Launch Time": 1000},
            "Task Metrics": {},
        },
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = spans.event_log_counters(str(log))
    assert c == {
        3: {
            "jobs": 1,
            "stages": 1,
            "tasks": 2,
            "failed_tasks": 1,
            "shuffle_write_bytes": 40,
            "spill_bytes": 7,
            "sched_wait_s": 0.25,
        }
    }


def test_generated_tables_depend_only_on_the_seed():
    a, b = datagen.generate_tables(7, 0.001), datagen.generate_tables(7, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    c = datagen.generate_tables(8, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert a["orders"].num_rows == 1500


def test_planted_vector_copies_lie_in_the_arriving_shard():
    emb = datagen.generate_tables(7, 0.001)["embeddings"]
    vecs = np.array(emb.column("embedding").to_pylist())
    cos = np.triu(vecs @ vecs.T, 1)
    a, b = np.nonzero(cos > 0.8)
    assert len(a) == round(datagen.N_VECS * datagen.VEC_COPY_SHARE)
    assert all((i % 10 == 7) != (j % 10 == 7) for i, j in zip(a, b))


def test_lookup_values_depend_only_on_the_seed():
    movies = [(1, "A", ("x", "y")), (2, "B", ("y", "z")), (3, "C", ("z",))]

    def take(seed, n=200):
        it = imdb.lookup_values(movies, seed)
        return [next(it) for _ in range(n)]

    assert take(3) == take(3)
    assert take(3) != take(4)
    ops = take(3, 40)
    assert [k for k, _ in ops] == ["Title", "Actor"] * 20
    probes = [v for v in (v for _, v in ops) if v == imdb.HUB_ACTOR or v.startswith("Unknown")]
    assert len(probes) == 4


def test_imdb_timed_loop_ends_on_whole_probe_cycles():
    wl = imdb.ImdbLookup.__new__(imdb.ImdbLookup)
    wl._n, wl._values, wl._op = 0, iter(lambda: ("Title", "x"), None), lambda *a: a
    cycle = 2 * imdb.PROBE_EVERY
    ends = []
    for _ in range(3 * cycle):
        wl.next_op()
        ends.append(wl.at_boundary())
    assert [i + 1 for i, e in enumerate(ends) if e] == [cycle, 2 * cycle, 3 * cycle]


def test_tracing_overhead_compares_only_untraced_runs_of_the_same_sources(tmp_path, monkeypatch):
    import run

    monkeypatch.setattr(run, "RESULTS", str(tmp_path))
    rec = {"workload": "w", "seconds": 10, "source": "abc"}
    assert run.tracing_overhead(rec, {"setup_s": 2.0}) == {}
    rows = [
        {**rec, "trace": 0, "end_to_end": {"setup_s": 1.0}},
        {**rec, "trace": 0, "end_to_end": {"setup_s": 1.5}},
        {**rec, "trace": 1, "end_to_end": {"setup_s": 9.0}},
        {**rec, "source": "other", "trace": 0, "end_to_end": {"setup_s": 100.0}},
        {**rec, "seconds": 1, "trace": 0, "end_to_end": {"setup_s": 100.0}},
    ]
    (tmp_path / "runs.jsonl").write_text("".join(json.dumps(r) + "\n" for r in rows))
    got = run.tracing_overhead(rec, {"setup_s": 2.0})
    assert got["untraced_runs"] == 2
    assert got["delta"]["setup_s"] == pytest.approx(0.75)
    assert run.tracing_overhead({**rec, "source": "new"}, {"setup_s": 2.0}) == {}


def test_parse_fixture_applies_the_ingest_rules(tmp_path):
    csv_text = (
        "movie_id,title,actors_csv\n"
        '1,"M1","  a1\t, ""a2"", a3"\n'
        "\n"
        "2,Short\n"
        "x,Bad Id,a9\n"
        '3,"M, 1","a4"\n'
        '5,"M, 1","a5"\n'
        '4,"Castless",\n'
    )
    path = tmp_path / "m.csv"
    path.write_text(csv_text, encoding="utf-8")
    movies = imdb.parse_fixture(str(path))
    assert movies == [(1, "M1", ("a1", "a2", "a3")), (4, "Castless", ()), (5, "M, 1", ("a5",))]
    oracle = imdb.LevelOracle(
        [(1, "T1", ("a", "b", "c")), (2, "T2", ("a", "b")), (3, "T3", ("c", "d"))]
    )
    assert oracle.title("T1") == [(3, "T3", 1, 1), (2, "T2", 2, 2)]
    assert oracle.title("nope") == []
    assert oracle.actor("a") == [("b", 2, 2), ("c", 1, 1)]


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("workload,trace", [("imdb-lookup", 0), ("index-arrival", 1)])
def test_printed_metrics_match_benchmark_json(workload, trace):
    spec = _bench_spec()
    assert [w["name"] for w in spec["workloads"]] == ["imdb-lookup", "index-arrival"]
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_*"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "imdb-lookup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
