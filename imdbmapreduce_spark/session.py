"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the driver harness (``local[$SPARK_GRAFT_CPUS]``)
but every knob is chosen for the 100 TB design point:

- AQE on (runtime coalesce + skew-join splitting) so the same plans survive
  scale-up without hand-tuned partition counts.
- Arrow on: every Pandas-UDF lane (multimodal decode, ANN rerank) moves
  batches, not rows.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the initial number a ceiling, not a guess.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Generated-class cache sized to the engine's working set: 4096 entries
  (Spark's default is 100). One sf0.001 pass over every registered query
  compiles ~2.6k distinct classes, and under LRU a cache smaller than a
  repeated sweep misses on nearly every class, so each warm run recompiled
  its whole-stage code. Class names carry no stage id: AQE numbers stages
  as it creates them, which follows the order earlier stages finish, so
  with the id in the name the same code got a new cache key on each run
  of a multi-branch plan. Measured with ``tools/job_census.py`` (4 cores,
  sf0.001): the warm pass compiles 22 classes instead of 4730 and the cold
  pass 2560 instead of 5341; driver Metaspace after the sweep is 235 MB
  instead of 212 MB, heap after a full GC 653 MB instead of 584 MB. The
  cache size is a static conf: it is fixed when the JVM's first session
  is built.

Replaces the reference's hand-rolled cluster bootstrap
(/root/reference/Code/master.erl:29-47, Code/server.erl:150-152): node
membership, partition placement and recovery are the cluster manager's and
lineage's job, not the engine's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def reap_dead_pid_dirs(root: str, pattern: str) -> None:
    """Remove subdirectories of ``root`` whose embedded owner process is
    gone — the shared liveness sweep behind the per-process warehouse
    (below) and the pid-nonced bucketed-table names
    (operators/layout.py). ``pattern`` is a regex over the dir NAME with
    exactly one capture group, the owning pid. ``kill -0`` probes
    liveness without signaling; EPERM means "alive, different user" and
    the dir is left alone; the calling process's own dirs are never
    touched. Dead owners' dirs are garbage by construction, whatever
    schema version wrote them."""
    import re
    import shutil

    if not os.path.isdir(root):
        return
    for d in os.listdir(root):
        m = re.fullmatch(pattern, d)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        except PermissionError:
            pass


def _warehouse_dir() -> str:
    """Per-PROCESS managed-table warehouse, with a dead-process sweep.

    The default ``spark-warehouse`` under cwd is shared by every process
    that runs the engine; the bucketed-table setup clears catalog-unknown
    directories before writing (LOCATION_ALREADY_EXISTS otherwise), and
    with a SHARED warehouse two live processes (bench + driver sweep)
    could rmtree each other's tables mid-query (ADVICE r11). A pid-scoped
    directory makes every managed-table path owned by exactly one
    process, so orphan clearing can never touch live data; leftovers from
    crashed/finished processes are swept on session build.

    Location: ``sessions/`` under the package's own spark-warehouse —
    DISK-backed alongside the persisted index artifacts. (The round-12
    review caught the first cut using tempfile.gettempdir(): /tmp is a
    size-limited RAM tmpfs on many hosts, exactly where full-column
    bucketed twins of the two largest tables must not land.)
    """
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.join(repo, "spark-warehouse", "sessions")
    os.makedirs(root, exist_ok=True)
    reap_dead_pid_dirs(root, r"pid(\d+)")
    return os.path.join(root, f"pid{os.getpid()}")


def get_spark(
    app_name: str = "imdbmapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_DRIVER_MEM`` (local-mode heap).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # managed tables (the bucketed layouts) live in a per-process
        # warehouse — see _warehouse_dir for the cross-process race this
        # closes. Only effective at session creation; getOrCreate reuse
        # keeps the creating process's dir, which is the same process.
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as raw INT64
        # instead of erroring in the vectorized reader. Set once here —
        # harmless for non-nanos files — so schema never depends on which
        # table was read first (catalog.table relies on it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive (isAdjustedToUTC=false) parquet timestamps read as
        # TIMESTAMP_LTZ, not TIMESTAMP_NTZ. With the UTC session timezone
        # above this is value-identical to DuckDB's naive read of the same
        # file, and keeps unix_micros()/window() plans type-stable whether
        # the generator wrote micros timestamps or INT64 nanos.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # documents/embeddings rows are fat (long text, 64-float vectors);
        # keep scan partitions bounded so a 100 TB table still splits sanely.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Warm queries must not recompile: see the module docstring.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
