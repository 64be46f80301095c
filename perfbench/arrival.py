"""``index-arrival``: queries served from persisted indexes and the shared cache.

Set-up persists the ``vector``, ``text`` and ``er`` index groups into an
empty index directory owned by the run, then releases the shared cache,
so the loop starts from the on-disk artifacts the way a fresh serving
session would. One client then runs the arrival queries in a closed loop,
in seeded order, one shuffled pass after another. It is the only
workload that writes artifacts and reads them back: work moved from the
query path into the index build shows in ``setup_s``.

Queries with a DuckDB oracle are checked against it over the same
generated files. The rest have none (their hash and ANN families are not
SQL-portable): each of their results must be non-empty and hash the same
as the query's first result in the run.

The loop runs whole passes. The queries' costs differ up to eightfold
and a pass takes about as long as the timed window, so a run cut off
mid-pass would measure a different mix of queries on every seed.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from collections import defaultdict

import datagen
from common import Op

QUERIES = (
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_shard_arrival_topk",
    "embedding_neardup_routed",
    "neardup_embedding_cells",
    "embedding_incremental_ingest",
    "customer_entity_arrival",
    "simhash_incremental_ingest",
    "minhash_lsh_pairs",
    "incremental_cluster_assign",
)
GROUPS = ("vector", "text", "er")


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result's values, compared as strings."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "|".join(repr(v) for v in row)
        for row in pdf[cols].astype(str).itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class IndexArrival:
    # One cold build of the three groups takes ~30 s on a 4-core box and a
    # warm rebuild ~15 s; repeating it would not fit the benchmark's time
    # budget, so setup_s here is one measurement per run.
    set_up_repeats = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = datagen.write_tables(os.path.join(ctx.work, "data"), ctx.seed, ctx.sf)
        self.index_dir = os.environ["SPARK_GRAFT_INDEX_DIR"]
        self.build_s: dict[str, list[float]] = defaultdict(list)
        self.index_bytes = 0
        self.expected: dict[str, str] = {}
        self._duck = None
        self._rng = random.Random(ctx.seed)
        self._pass: list[str] = []

    def set_up(self) -> None:
        from imdbmapreduce_spark.cache import release_shared_caches
        from imdbmapreduce_spark.operators.dedup import persist_er_index, persist_text_index
        from imdbmapreduce_spark.operators.similarity import persist_vector_index

        builders = {
            "vector": persist_vector_index,
            "text": persist_text_index,
            "er": persist_er_index,
        }
        shutil.rmtree(self.index_dir, ignore_errors=True)
        release_shared_caches()
        for group in GROUPS:
            t0 = time.perf_counter()
            with self.ctx.tracer.span(f"indexstore.build.{group}"):
                builders[group](self.ctx.spark, self.sf_dir)
            self.build_s[group].append(time.perf_counter() - t0)
        release_shared_caches()
        self.index_bytes = dir_bytes(self.index_dir)

    def _op(self, name: str) -> Op:
        from imdbmapreduce_spark import registry

        fn = registry.get(name).fn
        return Op(
            kind=name,
            arg=name,
            build=lambda: fn(self.ctx.spark, self.sf_dir),
            materialize=lambda df: df.toPandas(),
        )

    def warm_up_ops(self) -> list[Op]:
        return [self._op(q) for q in QUERIES]

    def next_op(self) -> Op:
        if not self._pass:
            self._pass = list(QUERIES)
            self._rng.shuffle(self._pass)
        return self._op(self._pass.pop())

    def at_boundary(self) -> bool:
        return not self._pass

    def _oracle_hash(self, name: str) -> str | None:
        from imdbmapreduce_spark import registry

        sql = registry.get(name).oracle
        if sql is None:
            return None
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            self._duck.execute("SET threads = 2")
            for t in sorted(os.listdir(self.sf_dir)):
                self._duck.execute(
                    f"CREATE VIEW {t[: -len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}')"
                )
        return value_hash(self._duck.execute(sql).fetchdf())

    def check(self, op: Op, result) -> bool:
        if op.kind not in self.expected:
            oracle = self._oracle_hash(op.kind)
            if oracle is None:
                if len(result) == 0:
                    return False
                oracle = value_hash(result)
            self.expected[op.kind] = oracle
        return value_hash(result) == self.expected[op.kind]

    def layer_metrics(self) -> dict[str, float]:
        out = {
            f"indexstore.build_s.{g}": statistics.median(self.build_s[g]) for g in GROUPS
        }
        out["indexstore.bytes"] = self.index_bytes
        return out
