"""Simulate the driver: import __spark_entry__ by path, smoke entry(),
then run queries() vs oracle_sql() at sf0.01 with an order-insensitive
value-hash compare (what CORRECTNESS_r{N}.json records)."""
import hashlib
import importlib.util
import os
import sys
import time

import duckdb

# the checkout this script lives in, wherever that is
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
)
mod = importlib.util.module_from_spec(spec)
sys.path.insert(0, ROOT)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# --- smoke: entry() ---
df = mod.entry(spark)
rows = df.collect()
print(f"ENTRY: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) >= 0

# --- correctness gate at sf0.01 ---
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def value_hash(pdf):
    cols = sorted(pdf.columns)
    lines = sorted(
        "|".join(repr(v) for v in row)
        for row in pdf[cols].astype(str).itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()

qs, oracles = mod.queries(), mod.oracle_sql()
# Optional argv filter: `python tools/driver_sim.py name1 name2` checks
# only those queries — the incremental loop when adding an operator.
# No args = the full sweep (the pass condition for a round).
if len(sys.argv) > 1:
    unknown = [n for n in sys.argv[1:] if n not in qs]
    assert not unknown, f"unknown queries: {unknown}"
    qs = {n: qs[n] for n in sys.argv[1:]}
fails = []
for name in sorted(qs):
    t0 = time.perf_counter()
    sdf = qs[name](spark, SF).toPandas()
    spark_s = time.perf_counter() - t0
    if name not in oracles:
        print(f"ROWS-ONLY {name}: {len(sdf)} rows spark_s={spark_s:.2f} oracle_s=-")
        continue
    t0 = time.perf_counter()
    odf = con.execute(oracles[name]).fetchdf()
    oracle_s = time.perf_counter() - t0
    ok_rows = len(sdf) == len(odf)
    ok_cols = sorted(sdf.columns) == sorted(odf.columns)
    ok_hash = value_hash(sdf) == value_hash(odf)
    status = "MATCH" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
    if status == "MISMATCH":
        fails.append(name)
    print(
        f"{status} {name}: spark_rows={len(sdf)} oracle_rows={len(odf)} cols_ok={ok_cols} "
        f"hash_ok={ok_hash} spark_s={spark_s:.2f} oracle_s={oracle_s:.2f}"
    )

print("RESULT:", "ALL MATCH" if not fails else f"FAILURES: {fails}")

# Refresh the committed fingerprint manifest for every query that just
# passed its check (hash MATCH, or the rows-only run completing) — this
# is what flips an edited query back from "stale, tier 1" to "verified"
# in registry.sweep_order(). Failures keep their old entry, so a red
# query stays demoted.
#
# The refresh runs in a FRESH SUBPROCESS (round 12): a source file
# edited while this long sweep runs makes in-process inspect.getsource
# extract WRONG text (the loaded functions carry old line numbers;
# linecache re-reads the new file on mtime change), poisoning every
# fingerprint after the edit point. A fresh interpreter's line numbers
# and file contents always agree. The subprocess recomputes only names
# passed on stdin (sweep-verified ones), merging into the existing
# manifest exactly as before.
import json
import subprocess

from imdbmapreduce_spark import registry

refresh_src = """
import json, sys
sys.path.insert(0, sys.argv[1])
from imdbmapreduce_spark import registry
names = json.load(sys.stdin)
manifest = dict(registry._manifest())
for name in names:
    manifest[name] = registry.query_fingerprint(name)
with open(registry.manifest_path(), "w", encoding="utf-8") as f:
    json.dump(dict(sorted(manifest.items())), f, indent=1)
print(len(manifest))
"""
ok_names = [name for name in qs if name not in fails]
proc = subprocess.run(
    [sys.executable, "-c", refresh_src, ROOT],
    input=json.dumps(ok_names),
    capture_output=True,
    text=True,
)
if proc.returncode != 0:
    # a silently-stale manifest is exactly the failure class it exists
    # to prevent — surface it as a run failure, like the old in-process
    # refresh's exception did
    print(f"fingerprint refresh FAILED:\n{proc.stderr[-2000:]}")
    fails.append("__fingerprint_refresh__")
else:
    print(
        f"fingerprint manifest: {proc.stdout.strip()} entries refreshed -> "
        f"{registry.manifest_path()}"
    )

spark.stop()
sys.exit(1 if fails else 0)
