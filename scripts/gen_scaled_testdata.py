"""Derive a larger deterministic test dataset from an existing SF dir.

Round-13 rationale (r12 verdict #2): at sf0.1 16/20 headline queries run
the same speed on 8 cores as on 32 — per-query constants dominate and
further data-plane optimization is invisible. This generator scales the
driver's sf0.1 fixture by an integer multiplier M (default 10 → "sf1")
so optimization claims can cite a data-bound delta. The ORIGINAL driver
testdata is read-only and untouched; output goes to a separate dir that
the bench reaches via $SPARK_GRAFT_SF_DIR (timings for non-default SFs go
to their own BENCH_EXTRA_sf*.json sidecar, never the driver's).

Replica construction (replica 0 is the original data byte-for-byte):

* Relational tables shift every key by ``replica * stride`` (keys are
  dense 0..N-1 in the fixture), so per-replica join fan-outs, group
  sizes and per-key histories are IDENTICAL to sf0.1 — workload density
  scales linearly, never quadratically, exactly like a bigger tenant
  count.
* ``documents``: replica k >= 1 suffixes every word at token position
  p ≡ k (mod 3) with ``str(k)`` and appends one replica tag token. Every
  3-token shingle then contains a replica-specific word, so replicas
  share NO shingles (no cross-replica near-dup pairs — pair counts scale
  linearly with M) while each replica's internal near-dup/exact-dup
  structure is preserved. n_chars is recomputed (= len(text), as in the
  fixture).
* ``embeddings``: replica k applies a fixed per-replica coordinate
  permutation + sign pattern. That is an orthogonal transform: norms and
  INTRA-replica dot products are bit-preserved (same floats, reordered),
  so each replica's kNN/cluster structure matches sf0.1, while
  cross-replica cosines are ~random (no artificial near-dup inflation).
* ``events`` shift event_id/user_id; timestamps/values/props unchanged —
  per-user event histories replicate exactly.
* ``region``/``nation`` are dimensions and copy unchanged.

Usage: python scripts/gen_scaled_testdata.py [src] [out] [multiplier]
       defaults: /root/testdata/sf0.1 /root/sf1 10
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_SHIFTS = {
    "customer": {"c_custkey": 15_000},
    "supplier": {"s_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {
        "l_orderkey": 150_000,
        "l_partkey": 20_000,
        "l_suppkey": 1_000,
    },
    "events": {"event_id": 100_000, "user_id": 1_500},
    "documents": {"doc_id": 5_000},
    "embeddings": {"vec_id": 2_000},
}
COPY_ONLY = ["region", "nation"]


def _shift_keys(tb: pa.Table, shifts: dict[str, int], k: int) -> pa.Table:
    for col, stride in shifts.items():
        idx = tb.schema.get_field_index(col)
        typ = tb.schema.field(idx).type
        arr = tb.column(idx).combine_chunks().to_numpy(zero_copy_only=False)
        shifted = pa.array(arr + np.int64(k) * stride).cast(typ)
        tb = tb.set_column(idx, tb.schema.field(idx), shifted)
    return tb


def _perturb_documents(tb: pa.Table, k: int) -> pa.Table:
    if k == 0:
        return tb
    texts = tb["text"].to_pylist()
    mod = k % 3
    out_t, out_n = [], []
    for t in texts:
        words = t.split(" ")
        words = [
            w + str(k) if p % 3 == mod else w for p, w in enumerate(words)
        ]
        words.append(f"qrep{k}")
        nt = " ".join(words)
        out_t.append(nt)
        out_n.append(len(nt))
    i_t = tb.schema.get_field_index("text")
    tb = tb.set_column(i_t, tb.schema.field(i_t), pa.array(out_t, pa.string()))
    i_n = tb.schema.get_field_index("n_chars")
    tb = tb.set_column(
        i_n, tb.schema.field(i_n), pa.array(out_n, tb.schema.field(i_n).type)
    )
    return tb


def _perturb_embeddings(tb: pa.Table, k: int) -> pa.Table:
    if k == 0:
        return tb
    col = tb["embedding"].combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    n = len(col)
    dim = len(flat) // n
    mat = flat.reshape(n, dim)
    rng = random.Random(1000 + k)
    perm = list(range(dim))
    rng.shuffle(perm)
    signs = np.array([1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)],
                     dtype=mat.dtype)
    mat2 = mat[:, perm] * signs  # orthogonal: norms/intra-replica dots exact
    i_e = tb.schema.get_field_index("embedding")
    new = pa.array(list(mat2), pa.list_(tb.schema.field(i_e).type.value_type))
    return tb.set_column(i_e, tb.schema.field(i_e), new)


def main(src: str, out: str, mult: int) -> None:
    os.makedirs(out, exist_ok=True)
    for t in COPY_ONLY:
        tb = pq.read_table(os.path.join(src, f"{t}.parquet"))
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"), version="2.6")
        print(f"{t}: copied {tb.num_rows} rows")
    for t, shifts in KEY_SHIFTS.items():
        base = pq.read_table(os.path.join(src, f"{t}.parquet"))
        tdir = os.path.join(out, f"{t}.parquet")
        os.makedirs(tdir, exist_ok=True)
        total = 0
        for k in range(mult):
            tb = _shift_keys(base, shifts, k)
            if t == "documents":
                tb = _perturb_documents(tb, k)
            elif t == "embeddings":
                tb = _perturb_embeddings(tb, k)
            pq.write_table(
                tb, os.path.join(tdir, f"part-{k:02d}.parquet"), version="2.6"
            )
            total += tb.num_rows
        print(f"{t}: {total} rows in {mult} files")


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
        sys.argv[2] if len(sys.argv) > 2 else "/root/sf1",
        int(sys.argv[3]) if len(sys.argv) > 3 else 10,
    )
