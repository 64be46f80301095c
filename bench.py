"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Materialization uses the no-op sink (df.write.format("noop")) so timing
covers the full distributed plan without driver-side collect overhead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


_LINE_BUDGET = 1800  # driver capture window is 2000 chars; leave headroom


def compact_bench_line(full: dict) -> str:
    """The stdout JSON line, guaranteed under the driver's capture window.

    Inlines the slowest queries first (the informative ones) up to the
    char budget and folds the rest into an "..." remainder entry whose
    value is their summed seconds — inlined + remainder reproduces
    ``value`` up to the 3-decimal per-entry rounding; the exact complete
    map lives in BENCH_LOCAL.json. Unit-tested in tests/test_bench_line.py.
    """
    timings = full["queries"]
    inline: dict[str, float] = {}
    omitted = dict(timings)
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        candidate = {**inline, name: round(timings[name], 3)}
        # probe with a worst-case-width remainder so the emitted line can
        # never exceed the budget once the real remainder substitutes in
        probe = dict(full, queries={**candidate, "...": 99999.999})
        if len(json.dumps(probe)) > _LINE_BUDGET:
            break
        inline = candidate
        del omitted[name]
    if omitted:
        inline["..."] = round(sum(omitted.values()), 3)  # see BENCH_LOCAL.json
    return json.dumps(dict(full, queries=inline))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Load telemetry (r10 verdict task 2): three rounds running, bench
    # regressions needed SCALE.md prose + a manual idle re-run to separate
    # co-tenant load from real deltas. Record the 1-minute load average at
    # process start (BEFORE we generate any load ourselves — this is the
    # co-tenant baseline) and again at sweep end, plus the median-of-3
    # min/max spread per query, so BENCH_r{N}.json defends itself.
    load_start = os.getloadavg()

    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.session import get_spark

    spark = get_spark(app_name="imdbmapreduce_spark-bench")

    queries = registry.bench_queries()

    # Ensure the persisted index groups exist BEFORE the sweep so (a) the
    # index-served queries genuinely answer from prebuilt artifacts and
    # (b) index_build_total below reports the real measured build+persist
    # cost (each group manifest's build_sec) instead of silently 0.
    # persist_indexes skips only groups whose manifest matches the SAME
    # params the consumers check — a params-stale manifest would be
    # refused by every load, so it is rebuilt, not reused. After persisting, drop the session caches: they were
    # populated by the BUILD path, and the sweep should exercise the
    # artifact-read path a warm production session actually runs.
    from imdbmapreduce_spark import indexstore, persist_indexes
    from imdbmapreduce_spark.cache import release_shared_caches

    persist_indexes(spark, sf_dir)
    release_shared_caches()

    def materialize(name: str) -> None:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warmup pass: first execution of each plan shape pays JIT/codegen
    # compilation (measured 6-18s of one-off cost); steady-state is what a
    # long-running cluster job sees, so that's what we time. The warm-up
    # covers codegen only because the session's generated-class cache
    # holds the whole sweep (session.py); at Spark's default of 100
    # entries it kept only the last ~100 classes, and every timed pass
    # recompiled nearly all the rest. Median-of-3
    # timed passes: this VM shows ±50% scheduler jitter, and the r1→r2
    # uniform ~1.4× drift on untouched plans proved best-of-2 numbers have
    # noise comparable to real per-query deltas — medians resist a single
    # slow (GC pause) or single lucky pass.
    for name in sorted(queries):
        materialize(name)

    runs: dict[str, list[float]] = {name: [] for name in queries}
    for _ in range(3):
        for name in sorted(queries):
            t0 = time.monotonic()
            materialize(name)
            runs[name].append(time.monotonic() - t0)
    timings = {name: round(sorted(ts)[len(ts) // 2], 4) for name, ts in runs.items()}

    # Per-query pass spread: {name: [min, med, max]} (full detail in
    # BENCH_LOCAL.json); the stdout line carries the compact summary —
    # the p50 and max of the RELATIVE spread (max-min)/median across
    # queries. An idle box shows p50 well under ~0.2; a co-tenant burst
    # shows fat spreads on queries whose code didn't change.
    spread_detail = {
        name: [round(min(ts), 4), timings[name], round(max(ts), 4)]
        for name, ts in runs.items()
    }
    rel = {
        name: (max(ts) - min(ts)) / max(timings[name], 1e-9)
        for name, ts in runs.items()
    }
    rel_sorted = sorted(rel.values())
    spread_rel_p50 = rel_sorted[len(rel_sorted) // 2] if rel_sorted else 0.0
    spread_rel_max_query = max(rel, key=rel.get) if rel else None

    # The driver's capture keeps only the LAST 2000 chars of stdout and
    # parses the JSON line out of that window (measured: BENCH_r01-03 all
    # have tail_len=2000; r03's 75-query line overflowed it and the driver
    # recorded parsed=null). So the stdout line must stay under the window:
    # inline the slowest queries first (the informative ones) up to a char
    # budget, fold the rest into an "..." remainder entry, and commit the
    # complete per-query map to BENCH_LOCAL.json so no number is lost.
    # Cold-vs-warm accounting: the timed sweep above is WARM (index-served
    # queries answer from the persisted artifacts built during the warmup
    # pass). The one-time build cost lives in each group manifest's
    # build_sec — surface it beside the warm total so neither number
    # hides the other.
    index_build: dict[str, float] = {}
    for group in indexstore.GROUPS:
        m = indexstore.group_manifest(sf_dir, group)
        if m is not None and "build_sec" in m:
            index_build[group] = float(m["build_sec"])

    # Concurrency evidence: run the 22 TPC-H queries ONCE each, split
    # across 4 driver threads (Spark schedules their jobs concurrently —
    # the multi-tenant shape a shared cluster actually runs). The wall
    # clock vs the serial sum of the same queries' medians measures
    # scheduler overlap; total work is one pass, so the bench grows by
    # ~one warm TPC-H sweep, not 4.
    import threading

    tpch_names = sorted(n for n in queries if re.fullmatch(r"q\d+_.*", n))
    lanes = [tpch_names[i::4] for i in range(4)]

    lane_errors: list[BaseException] = []

    def run_lane(names: list[str]) -> None:
        try:
            for n in names:
                materialize(n)
        except BaseException as e:  # surfaced after join — a silently
            lane_errors.append(e)  # short lane would fake the overlap ratio

    t0 = time.monotonic()
    threads = [threading.Thread(target=run_lane, args=(lane,)) for lane in lanes]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if lane_errors:
        raise lane_errors[0]
    tpch_wall = time.monotonic() - t0
    tpch_serial = sum(timings[n] for n in tpch_names)

    load_end = os.getloadavg()
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "index_build_total": round(sum(index_build.values()), 4),
        "index_build": {g: round(s, 3) for g, s in sorted(index_build.items())},
        "tpch_serial_total": round(tpch_serial, 4),
        "tpch_concurrent_wall": round(tpch_wall, 4),
        "load_1m": {"start": round(load_start[0], 2), "end": round(load_end[0], 2)},
        "spread_rel_p50": round(spread_rel_p50, 3),
        "spread_rel_max": round(max(rel.values()), 3) if rel else 0.0,
        "spread_rel_max_query": spread_rel_max_query,
        "sf": sf,
    }
    try:
        local = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
        with open(local, "w") as f:
            json.dump(dict(full, spread=spread_detail), f, indent=1, sort_keys=False)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still authoritative

    print(compact_bench_line(full))
    # Sweep over: release the shared corpus artifacts (shingle sets,
    # quantized components) so a host embedding this harness reclaims
    # storage memory — the bounded-cache contract in cache.py.
    from imdbmapreduce_spark.cache import release_shared_caches

    release_shared_caches()
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
