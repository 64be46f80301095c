"""Table catalog for the driver's synthetic parquet tables.

One place that knows the physical layout (``<sf_dir>/<name>.parquet``) so
query plans stay purely logical. Reading through ``spark.read.parquet``
keeps predicate pushdown / column pruning / partition splitting intact —
the 100 TB path is identical, just with a bigger directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from imdbmapreduce_spark.cache import register_release_hook

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

__all__ = [
    "TABLES",
    "table",
    "load_tables",
    "register_views",
    "parallelize_scan",
    "normalize_events_ts",
    "path_stamp",
]

# Inferred parquet schemas, keyed by (applicationId, path, size,
# mtime_ns, inference confs). Without a schema every
# ``spark.read.parquet`` runs a Spark job to read a footer; with the memo
# only a table's first read in a session does. A rewritten file gets a
# new stamp and is re-inferred; the memo empties with the shared cache.
_SCHEMAS: dict[tuple, StructType] = {}
register_release_hook(_SCHEMAS.clear)

# Session confs that change the inferred schema of a timestamp column
# (see normalize_events_ts).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def path_stamp(path: str) -> dict:
    """``{path, size, mtime_ns}`` of a file or directory — the staleness
    stamp of the schema memo and of persisted index manifests."""
    st = os.stat(path)
    return {"path": path, "size": st.st_size, "mtime_ns": st.st_mtime_ns}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    stamp (see :data:`_SCHEMAS`)."""
    try:
        stamp = path_stamp(path)
    except OSError:
        return spark.read.parquet(path)  # not a local path: Spark decides
    key = (
        spark.sparkContext.applicationId,
        *stamp.values(),
        *(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Widen a narrow scan before an expensive explode/agg stage.

    A single-row-group test file yields a 1-task scan, which serializes
    every narrow stage that follows (token explodes, packed-lane aggs,
    component explodes). This guard repartitions ONLY when the scan's
    partition count is below the session's shuffle width — exactly the
    small-input case where the added exchange is a few MB. A production
    multi-row-group table already splits via maxPartitionBytes, the guard
    never fires, and no full-corpus shuffle is ever added at scale.
    """
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP_LTZ micros.

    events.parquet has shipped with either TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects without nanosAsLong, surfacing as bigint) or
    naive TIMESTAMP(MICROS) (which Spark 4 infers as TIMESTAMP_NTZ by
    default). session.get_spark sets nanosAsLong=true and
    inferTimestampNTZ=false globally so both layouts surface as
    TIMESTAMP_LTZ micros — value-identical to DuckDB's naive read under the
    UTC session timezone. This helper is the single belt-and-braces path
    for externally-built sessions, shared by the batch loader AND the
    streaming reader so the two schemas can never drift again (the r2
    streaming watermark regression was exactly that drift).

    The naive NTZ wall-clock must be interpreted as UTC (that is what the
    writer meant and what DuckDB's naive read sees). A bare NTZ→LTZ cast
    interprets it in the SESSION timezone instead, and mutating the
    session timezone to compensate would silently change every subsequent
    timestamp operation in an externally-built non-UTC session. So the
    plan shifts the wall-clock from UTC to the current session zone FIRST
    (``convert_timezone('UTC', <session tz>, ts)``) and then lets the
    ordinary cast interpret it there — epoch-identical to a UTC cast,
    with zero global state touched. The session tz is captured at plan
    build; sessions that flip their timezone between building and running
    a plan are out of contract (as they are for every tz-dependent
    expression Spark itself evaluates).
    """
    spark = df.sparkSession
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # conf.get validates defaults for this key, so read without one.
        tz = spark.conf.get("spark.sql.session.timeZone")
        return df.withColumn(
            "ts",
            F.convert_timezone(F.lit("UTC"), F.lit(tz), F.col("ts")).cast(
                "timestamp"
            ),
        )
    return df


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    prefer_bucketed_on: str | None = None,
) -> DataFrame:
    """Read a catalog table; with ``prefer_bucketed_on=<join key>``,
    route through the session's full-column bucketed twin WHEN one
    exists for that (table, key) — the r11-verdict seam that makes the
    bucketed layout load-bearing for standing consumers (TPC-H's
    lineitem⨝orders edge). No twin built → plain parquet, identical
    rows either way (the twin is a full-column rewrite; hash equality
    pinned by the routed queries' unchanged oracles)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if prefer_bucketed_on is not None and name != "events":
        from imdbmapreduce_spark.operators.layout import bucketed_layout_if_exists

        twin = bucketed_layout_if_exists(spark, sf_dir, name, prefer_bucketed_on)
        if twin is not None:
            return spark.table(twin)
    if name == "events":
        # See normalize_events_ts for the layout variants this absorbs.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(_read_parquet(spark, f"{sf_dir}/{name}.parquet"))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry point)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def parquet_column_minmax(sf_dir: str, name: str, col: str):
    """(min, max) of a numeric column from parquet FOOTER statistics —
    zero data scanned; a pure metadata read over row-group zone maps.

    This is the 100 TB way to seed range-bucketed algorithms (histogram
    quantiles, range partitioning): the writer already recorded per-row-
    group min/max, so a driver-side metadata sweep replaces a full-table
    aggregation scan. Returns None when any row group lacks stats (or the
    path is a layout this reader doesn't know) — callers MUST fall back
    to the exact aggregation; correctness never depends on stats being
    present. Any row group with nulls still carries min/max of its
    non-null values, matching what F.min/F.max aggregate.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    paths = (
        [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if os.path.isdir(path)
        else [path]
    )
    lo = hi = None
    try:
        for p in paths:
            md = pq.ParquetFile(p).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    except (OSError, ValueError, KeyError):
        return None
    return None if lo is None else (lo, hi)
