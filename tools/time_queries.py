"""One-pass per-query wall-clock at $SPARK_GRAFT_SF_DIR — diagnosis aid.

Prints `name<TAB>seconds` as each query materializes (noop sink), so a
partial run still shows which query stalls. Not the bench (bench.py does
warmup + best-of-2); this is the quick profile loop.
"""
from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
only = sys.argv[1:]

from imdbmapreduce_spark import registry
from imdbmapreduce_spark.session import get_spark

spark = get_spark(app_name="time_queries")
queries = registry.all_queries()
names = only or sorted(queries)
total = 0.0
for name in names:
    t0 = time.monotonic()
    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    total += dt
    print(f"{name}\t{dt:.2f}", flush=True)
print(f"TOTAL\t{total:.2f}", flush=True)
spark.stop()
