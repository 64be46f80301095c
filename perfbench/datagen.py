"""Seeded generator for the TPC-H-shaped tables the engine's catalog reads.

The benchmark may read nothing outside its checkout, so it cannot use a
shared test-data directory: it writes its own ``<name>.parquet`` files,
one per catalog table, from ``--seed``. Schemas and value domains follow
the tables the engine's oracle tests were written against (column types,
key ranges, category strings, date spans, a 31-word document vocabulary,
unit-norm 64-d embeddings), so every registered query has rows to work
on.

Near-copies follow what was measured on those tables, counting pairs of
documents whose 3-token shingle sets have Jaccard >= 0.5 (the
near-duplicate queries' threshold). About 4.9% of documents are copies
of an earlier one (24 of 500 at sf0.001, 244 of 5,000 at sf0.1); of the
copy pairs at sf0.1, 51% differ by one inserted token, 46% by one
deleted token and 3% not at all. ``_documents`` plants copies that way.
The embeddings hold no copies: the highest cosine between two vectors is
0.48 at sf0.001 and 0.60 at sf0.1, which leaves the arrival query
``embedding_incremental_ingest`` with no pairs there. The benchmark
checks that query only by a non-empty, repeatable result, so it plants
0.5% noisy copies (noise 0.35, cosine about 0.94 to their source, the
rate and noise of the repo's scale-corpus generator) whose copy lies in
the arriving shard (``vec_id % 10 == 7``) and whose source does not.

Row counts scale with ``sf`` like TPC-H: ``sf=0.001`` gives 6,000
lineitem rows. The same ``(seed, sf)`` always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIMS = 64
N_DOCS = 500
N_VECS = 500
DOC_COPY_SHARE = 0.049
DOC_COPY_EDITS = (("insert", 0.51), ("delete", 0.46), ("none", 0.03))
VEC_COPY_SHARE = 0.005
VEC_COPY_NOISE = 0.35

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_DAY = int(np.datetime64("1995-01-01", "D").astype(np.int64))
_ORDER_SPAN_DAYS = int(np.datetime64("2001-08-01", "D").astype(np.int64)) - _ORDER_EPOCH_DAY
_EVENT_EPOCH_US = int(np.datetime64("2024-01-01", "us").astype(np.int64))
_EVENT_SPAN_US = 30 * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = _ORDER_EPOCH_DAY + rng.integers(0, _ORDER_SPAN_DAYS + 1, n)
    return pa.array(days * _DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def _documents(rng: np.random.Generator) -> pa.Table:
    n_copies = max(1, round(N_DOCS * DOC_COPY_SHARE))
    copies = set(rng.choice(np.arange(1, N_DOCS), n_copies, replace=False).tolist())
    edit_p = [p for _, p in DOC_COPY_EDITS]
    texts: list[str] = []
    for i in range(N_DOCS):
        if i in copies:
            # a copy of an earlier document, edited as DOC_COPY_EDITS says
            toks = texts[int(rng.integers(0, i))].split(" ")
            edit = DOC_COPY_EDITS[int(rng.choice(len(DOC_COPY_EDITS), p=edit_p))][0]
            if edit == "insert":
                at = int(rng.integers(0, len(toks) + 1))
                toks.insert(at, VOCAB[int(rng.integers(0, len(VOCAB)))])
            elif edit == "delete":
                del toks[int(rng.integers(0, len(toks)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, N_DOCS, LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((N_VECS, DIMS))
    ids = np.arange(N_VECS)
    n_copies = max(1, round(N_VECS * VEC_COPY_SHARE))
    dst = rng.choice(ids[ids % 10 == 7], n_copies, replace=False)
    src = rng.choice(ids[ids % 10 != 7], n_copies, replace=False)
    vecs[dst] = vecs[src] + VEC_COPY_NOISE * rng.standard_normal((n_copies, DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, N_VECS * DIMS + 1, DIMS, dtype=np.int32)), flat
            ),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        }
    )


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every catalog table for ``(seed, sf)`` in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)

    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype=np.int64)  # noqa: E731
    nk = np.arange(25)
    tables = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(nk),
                "n_name": [f"NATION_{i}" for i in nk],
                "n_regionkey": i32(nk % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": [
                    f"{COLORS[c]} {NOUNS[k]}"
                    for c, k in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _dates(rng, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _dates(rng, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_evt)),
                "ts": pa.array(
                    _EVENT_EPOCH_US + np.sort(rng.integers(0, _EVENT_SPAN_US, n_evt)),
                    type=pa.timestamp("us"),
                ),
                "user_id": i64(rng.integers(0, n_users, n_evt)),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        ),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in generate_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
