"""Adjudicate the r10 TPC-H concurrency anomaly (verdict task 4).

BENCH_r10.json recorded tpch_concurrent_wall 40.2 s > tpch_serial 19.4 s
under co-tenant load 3-8; r9 idle showed a healthy 5.5 s vs 14.7 s. This
tool re-measures BOTH numbers on an idle box, optionally under the FAIR
scheduler (bench.py's 4 driver lanes share one FIFO pool by default, so
a long stage from one lane can head-of-line-block the other three).

Usage: python tools/tpch_concurrency_ab.py [fifo|fair]
Prints one JSON line per mode: serial sum, concurrent wall, overlap
ratio, and the load average around the run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def measure(mode: str, sf_dir: str) -> dict:
    from imdbmapreduce_spark import registry
    from imdbmapreduce_spark.session import get_spark

    extra = {}
    if mode == "fair":
        extra["spark.scheduler.mode"] = "FAIR"
    spark = get_spark(app_name=f"tpch-ab-{mode}", extra_conf=extra)

    queries = registry.bench_queries()
    tpch = sorted(n for n in queries if re.fullmatch(r"q\d+_.*", n))

    def materialize(name: str) -> None:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warmup (codegen/JIT), then serial median-of-3 like bench.py
    for n in tpch:
        materialize(n)
    runs: dict[str, list[float]] = {n: [] for n in tpch}
    for _ in range(3):
        for n in tpch:
            t0 = time.monotonic()
            materialize(n)
            runs[n].append(time.monotonic() - t0)
    serial = sum(sorted(ts)[1] for ts in runs.values())

    lanes = [tpch[i::4] for i in range(4)]
    errors: list[BaseException] = []

    def run_lane(names: list[str]) -> None:
        if mode == "fair":
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"lane-{threading.get_ident()}"
            )
        try:
            for n in names:
                materialize(n)
        except BaseException as e:
            errors.append(e)

    walls = []
    for _ in range(3):
        t0 = time.monotonic()
        threads = [threading.Thread(target=run_lane, args=(lane,)) for lane in lanes]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        walls.append(time.monotonic() - t0)
    wall = sorted(walls)[1]

    spark.stop()
    return {
        "mode": mode,
        "serial_sum": round(serial, 3),
        "concurrent_wall_med3": round(wall, 3),
        "concurrent_walls": [round(w, 3) for w in walls],
        "overlap_ratio": round(serial / wall, 3),
        "load_1m": round(os.getloadavg()[0], 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    modes = sys.argv[1:] or ["fifo", "fair"]
    for mode in modes:
        print(json.dumps(dict(measure(mode, sf_dir), sf_dir=sf_dir)), flush=True)


if __name__ == "__main__":
    main()
