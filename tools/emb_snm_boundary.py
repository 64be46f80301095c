"""Measure the embedding-SNM router boundary (r11 verdict task 5).

``stats.EMB_SNM_MAX_VECTORS`` routes embedding near-dup candidate
generation: sorted-projection SNM windows up to the boundary, SemDeDup
cells past it. Round 10 measured SNM blocking recall at n=500 (0.786)
and n=2000 (0.153) and the constant (1024) was INTERPOLATED between
them; this tool measures recall AT and around the boundary so the
constant is justified by a measurement, not an interpolation.

Method: numpy replay of the EXACT registered semantics (verified
engine-equal by the snm_embedding_pairs oracle every round):
- vectors = first n of sf0.1's embeddings by vec_id (the same
  tail-distribution data the r10 endpoints used — sf0.01 IS the first
  500 ids of the same generator family);
- quantize round-half-up(x * 1e6) to int64 (similarity._q semantics);
- 8 passes (_SNM_EMB_PASSES) of Rademacher keys: sign(pos, k) =
  (int(md5(f"{pos}_{k}")[0], 16) % 2) * 2 - 1, key = sum(s * v),
  rank by (key, vec_id), candidates = rank-window pairs within
  _SNM_EMB_W successors;
- truth = all pairs with exact quantized cosine >= _NEARDUP_THETA;
- blocking recall = |candidates ∩ truth| / |truth| (the verify stage
  keeps exactly the intersection, so this is the family's recall).

Usage: python tools/emb_snm_boundary.py [n ...]  (default sweep below)
"""
from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from imdbmapreduce_spark.operators.similarity import (  # noqa: E402
    _NEARDUP_THETA,
    _SCALE,
    _SNM_EMB_PASSES,
    _SNM_EMB_W,
)

SF_DIR = "/root/testdata/sf0.1"


def _quantize(x: np.ndarray) -> np.ndarray:
    return (np.floor(np.abs(x) * _SCALE + 0.5) * np.sign(x)).astype(np.int64)


def _signs(dims: int) -> np.ndarray:
    s = np.empty((_SNM_EMB_PASSES, dims), dtype=np.int64)
    for k in range(_SNM_EMB_PASSES):
        for pos in range(dims):
            h = hashlib.md5(f"{pos}_{k}".encode()).hexdigest()
            s[k, pos] = (int(h[0], 16) % 2) * 2 - 1
    return s


def measure(vq: np.ndarray, ids: np.ndarray) -> tuple[int, int, float]:
    n, d = vq.shape
    signs = _signs(d)
    # truth: exact quantized cosine over all pairs
    norms = np.sqrt((vq.astype(np.float64) ** 2).sum(axis=1))
    cos = (vq.astype(np.float64) @ vq.T.astype(np.float64)) / np.outer(norms, norms)
    iu = np.triu_indices(n, k=1)
    truth = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*[x[cos[iu] >= _NEARDUP_THETA] for x in iu])
    }
    # blocking candidates: rank-window pairs per pass
    cand: set[tuple[int, int]] = set()
    for k in range(_SNM_EMB_PASSES):
        keys = vq @ signs[k]
        order = np.lexsort((ids, keys))  # (key, vec_id) ascending
        ranked = ids[order]
        for off in range(1, _SNM_EMB_W + 1):
            for a, b in zip(ranked[:-off], ranked[off:]):
                cand.add((min(int(a), int(b)), max(int(a), int(b))))
    hit = len(cand & truth)
    return len(truth), hit, (hit / len(truth)) if truth else float("nan")


def main() -> None:
    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids_all = np.asarray(tbl.column("vec_id"))
    order = np.argsort(ids_all)
    emb = np.stack([np.asarray(x) for x in tbl.column("embedding").to_pylist()])[order]
    ids_all = ids_all[order]
    vq_all = _quantize(emb.astype(np.float64))

    ns = [int(a) for a in sys.argv[1:]] or [500, 768, 1024, 1280, 1536, 2000]
    print(f"passes={_SNM_EMB_PASSES} w={_SNM_EMB_W} theta={_NEARDUP_THETA}")
    print("n\ttrue_pairs\tblocked_hits\trecall")
    for n in ns:
        t, h, r = measure(vq_all[:n], ids_all[:n])
        print(f"{n}\t{t}\t{h}\t{r:.3f}")


if __name__ == "__main__":
    main()
