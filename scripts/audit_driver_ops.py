"""Static audit of driver-side / slow-path operations in engine code.

The scale contract this repo claims — no row-at-a-time Python UDFs, no
unbounded driver collects, no corpus-scale broadcasts — is re-checked by
hand every judging round. This script makes it a standing gate:

- `F.udf` / `@udf` / `.toPandas()` anywhere in the package FAIL outright
  (the repo's hot paths are built-ins + Arrow-batched mapInPandas only).
- Every `.collect()`, `.toLocalIterator()` and `.toArrow()` call site must
  appear in the ALLOWLIST below with a one-line boundedness justification;
  a new unlisted site FAILS until it is reviewed and added (or removed).
  Entries are keyed by `relative-path::enclosing-function` so line drift
  doesn't churn them.
- An allowlist entry whose function no longer has a `.collect()`,
  `.toLocalIterator()` or `.toArrow()` (or, for TOPANDAS_ALLOWLIST, a
  `.toPandas()`) call site is stale and FAILS too,
  so the lists only ever name live call sites.

Run: python scripts/audit_driver_ops.py   (exit 0 = clean)
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

PKG = Path("open_ftth_relational_projector_spark")

# file::function -> why the collect / local iterator / Arrow fetch is bounded
ALLOWLIST: dict[str, str] = {
    "catalog/llm.py::cluster_safe_split_stats": (
        "bounded: one row per split label (3) — materialized so the "
        "persisted pairs/assignment intermediates can be unpersisted"
    ),
    "catalog/projections.py::stream_incremental_sim": "scalar max(seq) batch bounds",
    "catalog/streaming_sims.py::stream_session_sim": (
        "bounded sim: collects the view/click/purchase event dim once to "
        "write 3 stream batch files (~6k rows at sf0.01) + the drained "
        "memory-sink session table"
    ),
    "catalog/streaming_sims.py::stream_join_sim": (
        "bounded sim: collects the view/purchase event dims once to write "
        "3 stream batch files per side (~4k rows at sf0.01) + the drained "
        "memory-sink join result (196 pairs)"
    ),
    "catalog/streaming_sims.py::stream_topk_sim": (
        "bounded: exact per-(shard,lang) counts — at most "
        "n_shards x |langs| rows (10 at this catalog entry), collected to "
        "evaluate the SpaceSaving retention/bound guarantees driver-side"
    ),
    "catalog/streaming_sims.py::_drain_stream_over_doc_batches": (
        "bounded sim: collects the documents dim once to write 3 stream "
        "batch files (500 rows at sf0.01) + the drained memory-sink result"
    ),
    "plans/checks.py::wholestage_codegen_spans": "test helper: forces AQE final plan",
    "streaming/runner.py::spark_fold": "scalar max(seq)",
    "functions/boosting.py::adaboost_fit": (
        "bounded: one value from the checkpointed ONE-ROW stump frame "
        "per boosting round — the named weight-exactness (2^53) guard"
    ),
    "functions/factorization.py::_half_step": (
        "bounded: ONE double (the half-step L2 norm) per call — embedded "
        "as an exact literal, replacing the broadcast-norm sub-job + "
        "per-step localCheckpoint (r13 job sequencing)"
    ),
    "functions/factorization.py::_deflated_half_step": (
        "bounded: TWO doubles per call (deflation overlap + norm) — same "
        "exact-literal embedding as _half_step"
    ),
    "functions/factorization.py::power_iteration_rank2": (
        "bounded: ONE double (σ₁ = u₁ᵀRv₁) per extraction — embedded as "
        "an exact literal in every deflated half-step"
    ),
    "functions/boosting.py::adaboost_fit_grouped": (
        "bounded: one (g, fw) row per group from the checkpointed "
        "per-group stump frame per round (the broadcast-group bound) — "
        "the named weight-exactness (2^53) guard, tracked per group"
    ),
    "functions/calibration.py::pav_isotonic": (
        "bounded: the limit(cap+1) in the same expression caps the "
        "probe at 1,025 bucket ids — the named bounded-axis guard for "
        "the O(B³) PAV joins"
    ),
    "functions/regression.py::_raise_on_degenerate_groups": (
        "bounded: one 9-moment row per group (6 design + 3 y-moments "
        "for iteration-1 seeding; the same bounded-group contract that "
        "justifies the grouped fit's broadcast beta frame) — "
        "exact-integer singular-Hessian guard, fails named (NULL group "
        "keys rejected earlier by the unconditional "
        "_raise_on_null_group_key existence probe)"
    ),
    "functions/regression.py::_raise_on_degenerate_design": (
        "bounded: ONE 9-moment row (6 design + 3 y-moments for "
        "iteration-1 seeding) — the single-fit singular-Hessian guard, "
        "fails named"
    ),
    "functions/regression.py::_raise_on_degenerate_complements": (
        "bounded: k 9-moment rows (k folds; 6 design + 3 y-moments for "
        "iteration-1 seeding); complement moments are exact "
        "subtractions from the totals — fails named"
    ),
    "operators/hierarchical.py::hierarchical_cumsum": "#shards rows (scalar-sized totals)",
    "operators/hierarchical.py::hierarchical_grouped_row_number": (
        "~n_groups + n_shards rows — bounded by the few-giant-groups "
        "regime the primitive is documented for"
    ),
    "catalog/streaming_sims.py::_drain_query": (
        "bounded sim helper: collects the availableNow memory-sink drain "
        "for the join/session sims (196 pairs / per-user sessions at "
        "sf0.01) — same contract as _drain_stream_over_doc_batches"
    ),
    "operators/hierarchical.py::hierarchical_row_number": "#shards rows (scalar-sized counts)",
    "operators/skyline.py::skyline_2d": "#shards prefix maxima (scalar-sized)",
    "operators/median.py::exact_median_two_pass": "histogram bucket counts (fixed fan-out)",
    "functions/clustering.py::kmeans_fit": "k x dim centroid doubles per iteration",
    "functions/text.py::bpe_learn": (
        "LIMIT 1 argmax per merge iteration — the learned rule itself"
    ),
    "functions/clustering.py::pq_fit_codebooks": (
        "first-k init rows + m x k x sub_len M-step doubles per iteration "
        "(fused quantizer training)"
    ),
    "functions/clustering.py::_pq_lloyd_rounds": (
        "m x k x sub_len M-step doubles per iteration (pq_fit_codebooks' "
        "loop, split out by the r12 training-frame persist)"
    ),
    "functions/graph.py::_label_sum": "scalar label-sum convergence signature",
    "functions/graph.py::checksum": "scalar edge checksum per round",
    "functions/graph.py::_sig": "scalar (count,sum) fixpoint signature",
    "functions/similarity.py::knn_ivf": "k x dim coarse-quantizer centroids",
    "streaming/runner.py::_probe_collect": (
        "size-gate probe: toArrow() fetches at most cap+1 raw rows, bounded "
        "by the limit() in the same expression; payloads parse only after "
        "the batch proves driver-sized"
    ),
    "streaming/runner.py::_seq_chunks": (
        "oversized-batch chunk source: toLocalIterator() streams the "
        "seq-sorted batch one partition at a time, and the driver holds at "
        "most cap rows of it as the chunk being replayed"
    ),
    "streaming/runner.py::write_envelope_batch": "test/demo helper: one micro-batch to a JSON file",
    "sinks/duckdb_sink.py::_to_arrow": (
        "one projection frame bound for a sink table, which stores every "
        "row fetched anyway (the tests' reference fold, the catalog's "
        "projector query)"
    ),
}

# file::function -> why toPandas is acceptable there
TOPANDAS_ALLOWLIST: dict[str, str] = {}


def main() -> None:
    failures: list[str] = []
    seen = {"collect": set(), "toPandas": set()}
    # call name -> the allowlist that gates it
    gated = {
        "collect": "collect",
        "toLocalIterator": "collect",
        "toArrow": "collect",
        "toPandas": "toPandas",
    }
    for py in sorted(PKG.rglob("*.py")):
        src = py.read_text()
        tree = ast.parse(src)
        # map line -> enclosing function name
        func_of: dict[int, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for ln in range(node.lineno, (node.end_lineno or node.lineno) + 1):
                    func_of[ln] = node.name  # innermost wins (walk order ok)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
            if name == "udf" or (
                isinstance(fn, ast.Attribute)
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "F"
                and fn.attr == "udf"
            ):
                failures.append(f"{py}:{node.lineno}: F.udf/udf is banned")
            if name not in gated:
                continue
            rel = str(py)[len("open_ftth_relational_projector_spark/"):]
            key = f"{rel}::{func_of.get(node.lineno, '<module>')}"
            seen[gated[name]].add(key)
            if name == "toPandas" and key not in TOPANDAS_ALLOWLIST:
                failures.append(f"{py}:{node.lineno}: toPandas is banned ({key})")
            if gated[name] == "collect" and key not in ALLOWLIST:
                failures.append(
                    f"{py}:{node.lineno}: unlisted .{name}() in {key} — "
                    "add to ALLOWLIST with a boundedness justification"
                )
    for call, allow in (("collect", ALLOWLIST), ("toPandas", TOPANDAS_ALLOWLIST)):
        for key in sorted(allow.keys() - seen[call]):
            failures.append(
                f"stale allowlist entry {key}: no gated call site there — "
                "delete the entry"
            )
    for f in failures:
        print(f)
    n_ok = len(ALLOWLIST)
    print(f"\n{len(failures)} violations; {n_ok} allowlisted bounded driver fetches")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
