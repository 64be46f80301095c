"""Generate a local sf1 corpus (~10x sf0.1) for the third scaling decade.

The driver's testdata stops at sf0.1 (TESTDATA.md); every 100 TB claim in
SCALE.md therefore rested on ONE measured decade (sf0.01 -> sf0.1). This
generator extends the evidence a decade (r8 verdict task 2) for the
tables the worst scalers read: documents (containment/jaccard prefix
joins, the MinHash/SimHash arrival gates), embeddings (the embedding
arrival gate), supplier + lineitem (LPA, k-core over the co-supplier
graph).

Fidelity to the driver's generator — by MEASURED property, not by code
(the driver's generator is not available): the statistics that drive the
worst scalers' asymptotics are reproduced from the sf0.1 tables read at
generation time:

- documents: the SAME ~31-token vocabulary (read from sf0.1, so shingle
  saturation — the property behind containment's 6.3x — carries over),
  uniform 10-100 token lengths, the same source striping (doc_id % 20)
  and language mix, plus planted near-copies (~2% of docs, 1-3 token
  edits) so the near-dup families keep proportional true-pair volume;
- embeddings: unit-normalized 64-d gaussians (measured norm ~= 1.0),
  labels uniform 0-9, ~0.5% planted noisy copies (the cos >= 0.45 tail
  random vectors alone underpopulate);
- supplier: 10,000 rows, same schema/value shapes;
- lineitem: 6M rows, 4 lines/order over 1.5M orders with uniform random
  suppliers — preserves the co-supplier graph's DEGREE (~1.8k partners
  per supplier at both scales) while scaling nodes and edges 10x, which
  is the quantity LPA/k-core rounds are linear in.

Output: fixtures/sf1/{documents,embeddings,supplier,
lineitem}.parquet. Deterministic (fixed seeds). Run once:
    python tools/gen_scale_corpus.py
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "fixtures", "sf1")
SRC = "/root/testdata/sf0.1"
N_DOCS = 50_000
N_VECS = 20_000
N_SUPP = 10_000
N_LINE = 6_000_000
LINES_PER_ORDER = 4
DIMS = 64
SEED = 421


def gen_documents(rng: np.random.Generator) -> None:
    con = duckdb.connect()
    vocab = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT unnest(string_split(text, ' ')) AS t"
            f" FROM read_parquet('{SRC}/documents.parquet') ORDER BY 1"
        ).fetchall()
        if r[0]
    ]
    langs, lang_w = ["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    texts: list[str] = []
    lang_col: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.02:
            # near-copy of a random earlier doc with 1-3 token edits —
            # the planted near-dup structure the gates detect
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                base[int(rng.integers(0, len(base)))] = vocab[
                    int(rng.integers(0, len(vocab)))
                ]
            texts.append(" ".join(base))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n)))
        lang_col.append(langs[int(rng.choice(len(langs), p=lang_w))])
    tbl = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_col, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{OUT}/documents.parquet")
    print(f"documents: {N_DOCS} rows, vocab={len(vocab)}")


def gen_embeddings(rng: np.random.Generator) -> None:
    V = rng.standard_normal((N_VECS, DIMS)).astype(np.float64)
    n_copy = N_VECS // 200  # 0.5% planted noisy near-copies
    src = rng.integers(0, N_VECS, n_copy)
    dst = rng.integers(0, N_VECS, n_copy)
    V[dst] = V[src] + 0.35 * rng.standard_normal((n_copy, DIMS))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in V], pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{OUT}/embeddings.parquet")
    print(f"embeddings: {N_VECS} x {DIMS}")


def gen_supplier_lineitem() -> None:
    con = duckdb.connect()
    con.execute(f"SELECT setseed(0.{SEED})")
    con.execute(
        f"""
        COPY (
          SELECT CAST(i AS BIGINT) AS s_suppkey,
                 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                 CAST(floor(random() * 25) AS INTEGER) AS s_nationkey,
                 round(random() * 9000 + 1000, 2) AS s_acctbal
          FROM range(0, {N_SUPP}) t(i)
        ) TO '{OUT}/supplier.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT CAST(i // {LINES_PER_ORDER} AS BIGINT) AS l_orderkey,
                 CAST(floor(random() * 200000) AS BIGINT) AS l_partkey,
                 CAST(floor(random() * {N_SUPP}) AS BIGINT) AS l_suppkey,
                 CAST(1 + i % {LINES_PER_ORDER} AS INTEGER) AS l_linenumber,
                 round(1 + random() * 49, 0) AS l_quantity,
                 round(random() * 90000 + 1000, 2) AS l_extendedprice,
                 round(random() * 0.1, 2) AS l_discount,
                 round(random() * 0.08, 2) AS l_tax,
                 ['A','N','R'][CAST(1 + floor(random()*3) AS INTEGER)]
                   AS l_returnflag,
                 ['O','F'][CAST(1 + floor(random()*2) AS INTEGER)]
                   AS l_linestatus,
                 CAST(TIMESTAMP '1995-01-01'
                      + to_days(CAST(floor(random() * 2500) AS INTEGER))
                      AS TIMESTAMP) AS l_shipdate
          FROM range(0, {N_LINE}) t(i)
        ) TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    print(f"supplier: {N_SUPP}; lineitem: {N_LINE} ({N_LINE // LINES_PER_ORDER} orders)")


# 10x the sf0.1 customer count — TPC-H name shape (Customer#%09d), so the
# ER vertical's 16-char prefix blocks stay exactly 100 records and the
# third decade measures pair volume growing linearly in customers.
N_CUST = 150_000


def gen_customer() -> None:
    con = duckdb.connect()
    con.execute(f"SELECT setseed(0.{SEED})")
    con.execute(
        f"""
        COPY (
          SELECT CAST(i AS BIGINT) AS c_custkey,
                 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                 CAST(floor(random() * 25) AS INTEGER) AS c_nationkey,
                 round(random() * 9000 + 1000, 2) AS c_acctbal,
                 ['BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD','FURNITURE']
                   [CAST(1 + floor(random()*5) AS INTEGER)] AS c_mktsegment
          FROM range(0, {N_CUST}) t(i)
        ) TO '{OUT}/customer.parquet' (FORMAT PARQUET)
        """
    )
    print(f"customer: {N_CUST}")


# --- rare-tail (Zipf) corpus variant (r9 verdict task 3) --------------------
#
# The sf1 corpus above reuses the driver fixtures' ~31-token vocabulary,
# which SATURATES at 50k docs (every shingle's df ~90) — the regime where
# the df-ceiling's recall collapses (measured 0.07) and the band/SNM
# families win. The bounded joins' DESIGN regime — a power-law vocabulary
# with a genuine rare tail, the shape real web text has (Zipf, s~1.05) —
# had no sf1 measurement, so the corpus-routing claim ("ceiling for
# rare-tail, bands/SNM for saturated") was half-measured. This variant
# writes fixtures/sf1_zipf/documents.parquet: same row count, same
# length/lang/source/near-copy structure, vocabulary of 50k tokens drawn
# Zipf — most 3-gram shingles are then globally rare while a boilerplate
# head stays hot, and tools/recall_cost_matrix.py measures both corpus
# shapes side by side.
OUT_ZIPF = os.path.join(ROOT, "fixtures", "sf1_zipf")
ZIPF_VOCAB = 50_000
ZIPF_S = 1.05


def gen_documents_zipf(rng: np.random.Generator) -> None:
    vocab = np.array([f"w{i:05d}" for i in range(ZIPF_VOCAB)])
    p = 1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    texts: list[str] = []
    lens = rng.integers(10, 101, N_DOCS)
    draws = rng.choice(ZIPF_VOCAB, size=int(lens.sum()), p=p)
    pos = 0
    langs, lang_w = ["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    lang_col: list[str] = []
    for i in range(N_DOCS):
        n = int(lens[i])
        if i > 0 and rng.random() < 0.02:
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                base[int(rng.integers(0, len(base)))] = str(
                    vocab[int(rng.choice(ZIPF_VOCAB, p=p))]
                )
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(vocab[draws[pos : pos + n]]))
        pos += n
        lang_col.append(langs[int(rng.choice(len(langs), p=lang_w))])
    tbl = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_col, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(OUT_ZIPF, exist_ok=True)
    pq.write_table(tbl, f"{OUT_ZIPF}/documents.parquet")
    print(f"documents(zipf): {N_DOCS} rows, vocab={ZIPF_VOCAB}, s={ZIPF_S}")


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    rng = np.random.default_rng(SEED)
    if "--zipf-only" not in os.sys.argv:
        gen_documents(rng)
        gen_embeddings(rng)
        gen_supplier_lineitem()
        gen_customer()
        print(f"wrote {OUT}")
    gen_documents_zipf(np.random.default_rng(SEED + 1))
    print(f"wrote {OUT_ZIPF}")
