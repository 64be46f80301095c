"""The engine's benchmark.

    python3 perfbench/run.py --workload imdb-lookup --seed 1 --seconds 10 --trace 0

Runs one workload (see ``BENCHMARK.json``) in this process on
``local[nproc]``, driving the engine only through its public functions,
and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also records
spans and a Spark event log and reports the per-layer metrics instead.

End-to-end metrics: ``setup_s`` is the session start, the median of the
workload's set-up runs and the warm-up; ``throughput_ops_s`` counts the
timed ops that succeeded; ``latency_p50_s`` is the geometric mean over op
kinds of each kind's median latency (null when no timed op succeeded,
and the run then prints ``"correct": false``). Every time is steal-free (see
``Stopwatch``). The run record also holds the raw wall-clock values, the
pooled and per-kind medians and tails, and ``failed_ratio``.

Phases of a run: start the Spark session; repeat the workload's set-up
``set_up_repeats`` times; run each warm-up op once, ``nproc`` at a time;
run the timed closed loop for ``--seconds`` and on to the workload's next
op-mix boundary; stop Spark; check every op's result. Checking
time is outside every metric. Every op that raised or returned a wrong
result counts as failed, and the run goes on.

All files go under ``perfbench/_work/`` (removed at exit) and
``perfbench/_results/`` (a record of every run, and the span file of
each traced run).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import latency
from common import Context
from spans import COUNTERS, Tracer, dump, event_log_counters, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "_results")
SF = 0.001
DRIVER_MEMORY = "3g"
WORKLOADS = {"imdb-lookup": "imdb:ImdbLookup", "index-arrival": "arrival:IndexArrival"}
PER_KIND = {"Title": "title", "Actor": "actor"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_version() -> str:
    """The commit when run from a git work tree, else a digest of the engine's sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
        )
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "imdbmapreduce_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(d, f), pkg).encode() + fh.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def prepare_env(work: str) -> dict[str, str]:
    """Point every temporary directory of Spark and the engine into ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "index", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # Spark's Python workers import the engine's UDFs from ROOT.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_INDEX_DIR"] = dirs["index"]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    return dirs


def start_session(dirs: dict[str, str], trace: bool):
    from imdbmapreduce_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        shuffle_partitions=nproc(),
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as e:  # the JVM may already be gone; it is waited for below
        print(f"gateway shutdown: {e}", file=sys.stderr)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def instrument_catalog(tracer) -> None:
    """Route every engine module's ``catalog.table`` through a ``catalog`` span."""
    from imdbmapreduce_spark import catalog, registry

    registry.bench_queries()  # import every query module first
    orig = catalog.table
    traced = tracer.wrap(orig, "catalog")
    for name, mod in list(sys.modules.items()):
        if name.startswith("imdbmapreduce_spark") and getattr(mod, "table", None) is orig:
            mod.table = traced


def engine_counters() -> dict[str, int]:
    from imdbmapreduce_spark import cache, indexstore

    return {"indexstore.loads": indexstore.load_count, "cache.hits": cache.index_hit_count}


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters (user ... steal) from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(v) for v in f.readline().split()[1:9]]


class Stopwatch:
    """Wall time, and wall time with the hypervisor's stolen share taken out.

    On a shared virtual machine the hypervisor runs other guests on our
    virtual CPUs ("steal" in ``/proc/stat``); on the 4-core box this
    benchmark was tuned on, steal moved between 0% and 57% of CPU time
    from one minute to the next and stretched every CPU-bound op with it,
    up to 3.4x. Over an interval in which the host was busy for ``busy``
    jiffies and stolen from for ``steal``, ``steal_free`` is
    ``wall * busy / (busy + steal)``: the time the interval would have
    taken had the CPU it asked for not been stolen. It removes most of the
    stretch, not all: at 57% steal an op still read 1.3x its unstolen time.
    The benchmark reports it in every time metric and records raw wall
    times beside it.
    """

    def __init__(self):
        self.t0, self.j0 = time.perf_counter(), cpu_jiffies()

    def read(self) -> tuple[float, float, float]:
        """``(wall_s, steal_free_s, steal_share)`` since construction."""
        wall = time.perf_counter() - self.t0
        d = [b - a for a, b in zip(self.j0, cpu_jiffies())]
        busy, steal = d[0] + d[1] + d[2] + d[5] + d[6], d[7]
        share = steal / (busy + steal) if busy + steal else 0.0
        return wall, wall * (1.0 - share), share


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class Done:
    __slots__ = ("op_id", "op", "wall", "seconds", "result", "error", "ok")

    def __init__(self, op_id, op, wall, seconds, result, error):
        self.op_id, self.op, self.wall, self.seconds = op_id, op, wall, seconds
        self.result, self.error, self.ok = result, error, False


def execute(tracer, op_id: int, op) -> Done:
    """Run one op; ``seconds`` is its steal-free latency (see Stopwatch)."""
    result, error = None, None
    watch = Stopwatch()
    try:
        with tracer.span("op", op=op_id):
            with tracer.span("build"):
                df = op.build()
            with tracer.span("exec"):
                result = op.materialize(df)
    except Exception as e:  # a failed op is counted, and the loop goes on
        error = f"{type(e).__name__}: {str(e)[:300]}"
    wall, steal_free, _ = watch.read()
    return Done(op_id, op, wall, steal_free, result, error)


def end_to_end(
    setup_s: float, timed: list[Done], elapsed: float, attr: str
) -> dict[str, float | None]:
    """The end-to-end metrics, from each op's ``attr`` time."""
    ok = [d for d in timed if d.ok]
    by_kind: dict[str, list[float]] = defaultdict(list)
    for d in ok:
        by_kind[d.op.kind].append(getattr(d, attr))
    return {
        "setup_s": setup_s,
        "throughput_ops_s": len(ok) / elapsed,
        "latency_p50_s": latency.kind_geomean_p50(by_kind),
    }


def latency_detail(timed: list[Done]) -> dict:
    """Pooled and per-kind medians and tails, with their sample counts."""
    groups: dict[str, list[float]] = defaultdict(list)
    for d in timed:
        if d.ok:
            groups["all"].append(d.seconds)
            groups[d.op.kind].append(d.seconds)
    out = {}
    for k, v in sorted(groups.items()):
        t = latency.tail(v)
        out[k] = {
            "n": len(v),
            "p50_s": statistics.median(v),
            "tail_s": t[0] if t else None,
            "tail_pct": t[1] if t else None,
        }
    return out


def per_layer(tracer, selfs, counters, timed_ids, kinds, extra) -> dict[str, float]:
    """Per-op means of each layer's self time and Spark counters over the timed ops."""
    by_op: dict[int, list] = defaultdict(list)
    for s in tracer.spans:
        if s.op in timed_ids:
            by_op[s.op].append(s)

    def means(name: str, ops: list[int]) -> dict[str, float]:
        tot = dict.fromkeys(("calls", "s", *COUNTERS), 0.0)
        for op in ops:
            for s in by_op[op]:
                if s.name == name:
                    tot["calls"] += 1
                    tot["s"] += selfs[s.sid]
                    for c, v in counters.get(s.sid, {}).items():
                        tot[c] += v
        return {k: v / len(ops) if ops else 0.0 for k, v in tot.items()}

    ops = sorted(timed_ids)
    cat, build, ex = means("catalog", ops), means("build", ops), means("exec", ops)
    m = {
        "session.start_s": next(s.end - s.start for s in tracer.spans if s.name == "session.start"),
        "catalog.calls": cat["calls"],
        "catalog.s": cat["s"],
        "catalog.jobs": cat["jobs"],
        "build.s": build["s"],
        "build.jobs": build["jobs"],
        "exec.s": ex["s"],
        **{f"exec.{c}": ex[c] for c in COUNTERS},
        "op.untraced_s": means("op", ops)["s"],
    }
    for kind, label in PER_KIND.items():
        sub = [o for o in ops if kinds[o] == kind]
        for layer in ("build", "exec"):
            lm = means(layer, sub)
            m[f"{layer}.{label}.s"], m[f"{layer}.{label}.jobs"] = lm["s"], lm["jobs"]
    ingest = [s.end - s.start for s in tracer.spans if s.name == "movies_csv.ingest"]
    m["movies_csv.ingest_s"] = statistics.median(ingest) if ingest else 0.0
    m.update(extra)
    return m


def op_breakdown(tracer, selfs, timed_ids) -> list[dict]:
    """Per timed op: wall time, self time per layer, untraced remainder."""
    out: dict[int, dict] = {}
    for s in tracer.spans:
        if s.op not in timed_ids:
            continue
        row = out.setdefault(s.op, {"op": s.op, "self_s": defaultdict(float)})
        if s.name == "op":
            row["wall_s"] = s.end - s.start
            row["untraced_s"] = selfs[s.sid]
        else:
            row["self_s"][s.name] += selfs[s.sid]
    for row in out.values():
        row["sum_s"] = sum(row["self_s"].values()) + row["untraced_s"]
    return [out[k] for k in sorted(out)]


def tracing_overhead(record: dict, traced: dict[str, float]) -> dict:
    """Traced minus the median of this workload's untraced runs of the same sources."""
    path = os.path.join(RESULTS, "runs.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        recs = [json.loads(line) for line in f if line.strip()]
    base = [
        r["end_to_end"] for r in recs
        if r["trace"] == 0
        and all(r[k] == record[k] for k in ("workload", "seconds", "source"))
    ]
    if not base:
        return {}
    return {
        "untraced_runs": len(base),
        "delta": {
            k: v - statistics.median(b[k] for b in base)
            for k, v in traced.items()
            if v is not None and all(b.get(k) is not None for b in base)
        },
    }


def main(argv=None) -> int:
    process = Stopwatch()
    args = parse_args(argv)
    fixture = os.path.join(ROOT, "fixtures", "movies_dirty.csv")
    if not (os.path.isdir(os.path.join(ROOT, "imdbmapreduce_spark")) and os.path.isfile(fixture)):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = prepare_env(work)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "sf": SF,
        "source": source_version(),
        "load_1m_start": os.getloadavg()[0],
    }
    module, cls = WORKLOADS[args.workload].split(":")
    try:
        spark = start_session(dirs, bool(args.trace))
        phases = {"session": process.read()}
        try:
            tracer = Tracer(spark.sparkContext if args.trace else None)
            tracer.record("session.start", process.t0, process.t0 + phases["session"][0])
            if args.trace:
                instrument_catalog(tracer)
            ctx = Context(spark, tracer, ROOT, work, args.seed, SF)
            wl = getattr(importlib.import_module(module), cls)(ctx)

            phases["set_up"] = []
            for _ in range(wl.set_up_repeats):
                watch = Stopwatch()
                wl.set_up()
                phases["set_up"].append(watch.read())
            # Set-up ends with the shared cache released, so from here on
            # every artifact is loaded from disk once, then served from cache.
            before = engine_counters()
            watch = Stopwatch()
            with ThreadPoolExecutor(nproc()) as pool:
                futures = [
                    pool.submit(execute, tracer, -i - 1, op)
                    for i, op in enumerate(wl.warm_up_ops())
                ]
                warm = [f.result() for f in futures]
            phases["warm_up"] = watch.read()

            timed: list[Done] = []
            watch = Stopwatch()
            deadline = watch.t0 + args.seconds
            while time.perf_counter() < deadline or not wl.at_boundary():
                timed.append(execute(tracer, len(timed) + 1, wl.next_op()))
            phases["timed"] = watch.read()
            after = engine_counters()
            storage_mb = cached_mb(spark)
        finally:
            stop_session(spark)

        for d in warm + timed:
            d.ok = d.error is None and wl.check(d.op, d.result)
            d.result = None
        failed = [d for d in warm + timed if not d.ok]

        def setup(i: int) -> float:
            runs = [p[i] for p in phases["set_up"]]
            return phases["session"][i] + statistics.median(runs) + phases["warm_up"][i]

        e2e = end_to_end(setup(1), timed, phases["timed"][1], "seconds")
        record.update(
            load_1m_end=os.getloadavg()[0],
            phases_wall_steal_free_share=phases,
            timed_ops=len(timed),
            attempted=len(warm) + len(timed),
            failed=len(failed),
            failed_ratio=len(failed) / (len(warm) + len(timed)),
            end_to_end=e2e,
            end_to_end_wall=end_to_end(setup(0), timed, phases["timed"][0], "wall"),
            latency=latency_detail(timed),
            failures=[
                {"op": d.op_id, "kind": d.op.kind, "arg": d.op.arg, "error": d.error}
                for d in failed
            ],
        )
        metrics = e2e
        if args.trace:
            logs = os.listdir(dirs["events"])
            counters = event_log_counters(os.path.join(dirs["events"], logs[0]))
            timed_ids = {d.op_id for d in timed}
            kinds = {d.op_id: d.op.kind for d in timed}
            layer_extra = {
                "movies_csv.rows": 0,
                "indexstore.build_s.vector": 0.0,
                "indexstore.build_s.text": 0.0,
                "indexstore.build_s.er": 0.0,
                "indexstore.bytes": 0,
                **wl.layer_metrics(),
            }
            loads = after["indexstore.loads"] - before["indexstore.loads"]
            hits = after["cache.hits"] - before["cache.hits"]
            layer_extra.update(
                {
                    "indexstore.loads": loads,
                    "cache.hits": hits,
                    "cache.hit_ratio": hits / (hits + loads) if hits + loads else 0.0,
                    "cache.storage_mb": storage_mb,
                }
            )
            selfs = self_times(tracer.spans)
            metrics = per_layer(tracer, selfs, counters, timed_ids, kinds, layer_extra)
            record["per_layer"] = metrics
            os.makedirs(RESULTS, exist_ok=True)
            dump(
                os.path.join(RESULTS, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                tracer.spans,
                selfs,
                counters,
                {
                    "run": record,
                    "ops": op_breakdown(tracer, selfs, timed_ids),
                    "tracing_overhead": tracing_overhead(record, e2e),
                },
            )
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, "runs.jsonl"), "a", encoding="utf-8") as f:
            f.write(json.dumps(record) + "\n")
        print(json.dumps(record), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = _units()
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(warm) + len(timed),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
