"""sf1 evidence bench (r12 verdict #2): the headline set + the extras
round-13 optimizes, at the 10x dataset scripts/gen_scaled_testdata.py
derives. At sf0.1 16/20 headline queries no longer scale past 8 cores
(per-query constants dominate), so optimization deltas must be cited
from this run. Timings land in BENCH_EXTRA_sf1.json (bench.py keys the
sidecar by SF — the default sf0.1 sidecar is untouched).

The extras list is TRIMMED to the families this round touches: a full
extras sweep at sf1 multiplies several quadratic-by-design entries
(SemDeDup in-cell pairs, AllPairs prefix filter) into an hours-long
pass with no additional evidence value.

Usage: python scripts/bench_sf1.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/sf1")

import bench  # noqa: E402

bench.EXTRA_QUERIES[:] = [
    "curation_decisions",
    "latent_rank2_affinity",
    "stream_lsh_sim",
    "pq_knn_adc",
    "semantic_dedup_verdicts",
]

if __name__ == "__main__":
    bench.main()
