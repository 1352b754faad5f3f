"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Stateless protocol: the 20 headline entries run in PASSES round-robin
passes whose order alternates, so no entry runs twice in a row. Every
timed run is honest-cold: tracked persists are released after it,
outside the timed region. An entry's official time is the median of its
runs. The extras run once each, cold. Nothing from earlier runs is read.

Prints ONE JSON line:
{"metric": "headline_queries_total_wall", "value": <sum of medians>,
 "unit": "sec", "queries": {name: median}, "sf": ..., "load_avg_start": ...,
 "load_avg_end": ..., "retried": {}, "first_attempt_total": <pass-1 sum>,
 "spread": {name: max - min over the passes}}
and writes the per-run samples plus the extras to a sidecar JSON file.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from open_ftth_relational_projector_spark.session import get_spark  # noqa: E402
from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES  # noqa: E402
from open_ftth_relational_projector_spark.cache import (  # noqa: E402
    release_tracked_persists,
)

PASSES = 3

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_order_revenue",
    "q5_region_nation_revenue",
    "order_item_seq",
    "dedup_first_occurrence",
    "top3_orders_per_customer",
    "running_value_per_user",
    "asof_purchase_prior_signup",
    "proj_work_task_sim",
    "proj_installation_sim",
    "text_stats",
    "exact_dedup_groups",
    "ngram_jaccard_pairs",
    "minhash_near_dups",
    "simhash_fingerprints",
    "knn_bruteforce",
    "knn_lsh",
    "multimodal_features",
]

# Tracked but NOT in the headline total: the frozen 18+2 headline set stays
# fixed for cross-round comparability; these get their own timings so T7
# (event-time windows) performance is visible round-over-round too.
EXTRA_QUERIES = [
    "tumbling_event_windows",
    "sliding_event_windows",
    "session_event_windows",
    # round-3 composed pipelines (tracked, non-headline)
    "simhash_near_dups",
    "corpus_pipeline_stats",
    "dedup_keep_list",
    # round-3 late additions: clustering / selection / graph family
    "kmeans_cluster_stats",
    "semantic_dedup_verdicts",
    "dsir_doc_weights",
    "bigram_lm_doc_scores",
    "pagerank_purchase_graph",
    "curation_decisions",
    # prefix filtering's pruning win is legible against the headline
    # ngram_jaccard_pairs; ADC is the PQ serving path
    "jaccard_pairs_prefix_filtered",
    "pq_knn_adc",
    # r3 continuation-session families (tracked, non-headline)
    "bfs_purchase_distances",
    "weighted_purchase_paths",
    "kmv_distinct_rollup",
    "kmv_segment_overlap",
    "cms_join_size_estimate",
    "skyline_parts",
    "sorted_neighborhood_er",
    "merged_order_activity_periods",
    "mad_outlier_stats",
    "linear_interpolated_values",
    "ewma_user_values",
    "cusum_changepoints",
    "conversion_survival_curve",
    "attribution_last_touch",
    "asof_forward_error_recovery",
    "exact_median_twopass",
    "item_item_similarity",
    "knn_label_noise",
    "kcenter_coreset",
    "corpus_zipf_heaps",
    "fd_violation_profile",
    "benford_price_audit",
    "unpivot_lineitem_measures",
    "acctbal_distribution_ranks",
    "rfm_customer_segments",
    "psi_value_drift",
    "attribution_linear_multitouch",
    "kcore_purchase_graph",
    "peak_concurrent_sessions",
    "dow_seasonality_index",
    # r4: hierarchical-rewrite regression tracking (the third rewrite,
    # rfm_customer_segments, is already tracked above)
    "token_budget_chunks",
    # r5: keyed-state streaming sims (real availableNow micro-batch drains;
    # cost is dominated by stream machinery constants, tracked for
    # regression visibility) and the scale-safe negative-sampling rewrite
    "stream_dedup_sim",
    "stream_lsh_sim",
    "stream_hll_sim",
    "stream_hdr_sim",
    "stream_topk_sim",
    "stream_join_sim",
    "stream_session_sim",
    # r5 continuation: sketch + substring-dedup additions, IVFADC serving
    "hll_distinct_rollup",
    "hdr_quantile_rollup",
    "ivfpq_knn_adc",
    "epoch_shuffle_manifest",
    "dup_substring_spans",
    "zorder_locality_audit",
    "negative_samples_per_customer",
    # r5 continuation (driver-round session): dimensionality reduction +
    # rank-1 latent factors
    "jl_projection_audit",
    "latent_part_affinity",
    "latent_rank2_affinity",
    "ols_price_model",
    "ols_residual_by_nation",
    "nb_lang_confusion",
    "stream_ols_sim",
    "bootstrap_revenue_ci",
    "jl_knn_recall",
    "ab_tests_fdr_nations",
    # r6: mixture planning, corpus versioning, robust stats, one-pass
    # correlation, windowless equi-depth bins
    "domain_mixture_weights",
    "corpus_snapshot_diff",
    "winsorized_price_stats",
    "correlation_matrix_lineitem",
    "equidepth_price_bins",
    "ols_crossval_kfold",
    "sliding_token_chunks",
    "per_source_quality_cap",
    "stream_snapshot_sim",
    "ols_conformal_intervals",
    # round-7 additions: the remaining hierarchical-quantile rewrites and
    # the ANN twin-agreement verdict entries
    "winsorized_value_stats",
    "value_quantiles_by_type",
    "minhash_twin_agreement",
    "simhash_twin_agreement",
    "emb_lsh_twin_agreement",
    "knn_lsh_twin_agreement",
    "knn_ivf_twin_agreement",
    # round-8 classifier/rule-induction family
    "logreg_lang_classifier",
    "logreg_score_histogram",
    "logreg_crossval_kfold",
    "logreg_auc_exact",
    "stump_quality_rule",
    "tree2_quality_rules",
    "woe_feature_audit",
    "logreg_per_source",
    # round-9: boosted-stump rule list
    "adaboost_quality_rounds",
    "adaboost_margin_report",
    "logreg_isotonic_calibration",
    "adaboost_per_source_rounds",
    "adaboost_per_source_margins",
    # round-10: bucketed Naive Bayes
    "naive_bayes_quality",
    "naive_bayes_bucket_likelihoods",
]


def bench_domain_projection(spark, scale: int = 60) -> tuple[str, float]:
    """End-to-end domain event fold: generate → JSON envelopes → all 8 tables."""
    from open_ftth_relational_projector_spark.events.generator import (
        generate,
        to_envelope_rows,
    )
    from open_ftth_relational_projector_spark.events.reader import EventLog
    from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
    from open_ftth_relational_projector_spark.plans.concurrency import (
        materialize_counts,
    )
    from open_ftth_relational_projector_spark.projections import project_all

    t0 = time.perf_counter()
    raw = spark.createDataFrame(
        to_envelope_rows(generate(seed=42, scale=scale)), ENVELOPE_SCHEMA
    ).coalesce(8)
    with _domain_conf(spark, 8):
        tables = project_all(EventLog.from_envelopes(raw))
        materialize_counts(tables)
    return "domain_projection_8tables", time.perf_counter() - t0


class _domain_conf:
    """Temporarily size the session for the domain benches: their inputs are
    thousands of events, where 32-way shuffles are pure task overhead and
    AQE's per-stage re-optimization adds latency with nothing to re-plan;
    the sf0.1 relational queries keep the session defaults."""

    def __init__(self, spark, n: int):
        self.spark, self.n = spark, str(n)

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.n)
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev_aqe)


def bench_streaming_catchup(spark, scale: int = 20) -> tuple[str, float]:
    """Dehydrate 60% of a domain log, then apply the rest as 4 incremental
    micro-batches into the relational sink (the reference's catch-up loop)."""
    from open_ftth_relational_projector_spark.events.generator import (
        generate,
        to_envelope_rows,
    )
    from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
    from open_ftth_relational_projector_spark.sinks import DuckDBSink
    from open_ftth_relational_projector_spark.streaming.runner import (
        apply_batch,
        dehydrate,
    )

    env = spark.createDataFrame(
        to_envelope_rows(generate(seed=42, scale=scale)), ENVELOPE_SCHEMA
    ).coalesce(4).cache()
    max_seq = env.agg({"seq": "max"}).collect()[0][0]
    bounds = [int(max_seq * f) for f in (0.6, 0.7, 0.8, 0.9)] + [max_seq]

    with _domain_conf(spark, 8):
        sink = DuckDBSink()
        dehydrate(env.filter(f"seq <= {bounds[0]}"), sink)
        t0 = time.perf_counter()  # bootstrap cost ≙ domain_projection metric
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            apply_batch(
                env.filter(f"seq <= {hi}"),
                env.filter(f"seq > {lo} AND seq <= {hi}"),
                sink,
                batch_id=i,
            )
        elapsed = time.perf_counter() - t0
    # drop the envelope cache once drained — a leaked env cache made every
    # later pass of this bench read a warm local relation via CacheManager
    # plan-dedupe ("Block rdd_* already exists")
    env.unpersist(False)
    return "streaming_catchup_4batches", elapsed


def run_passes(
    thunks: dict[str, Callable[[], float]],
    release: Callable[[], object],
) -> dict[str, list[float]]:
    """Run every thunk PASSES times, round-robin; returns each entry's
    seconds in pass order. Odd passes run the order reversed (rotated by
    one where a pass would otherwise start with the entry the previous pass
    ended on), so no entry runs twice in a row and each sees different
    neighbours. ``release`` runs after every timed run."""
    names = list(thunks)
    samples: dict[str, list[float]] = {name: [] for name in names}
    last = None
    for p in range(PASSES):
        order = names if p % 2 == 0 else names[::-1]
        if order[0] == last:
            order = order[1:] + order[:1]
        for name in order:
            samples[name].append(thunks[name]())
            release()
        last = order[-1]
    return samples


def summarize(samples: dict[str, list[float]]) -> dict:
    """Official per-entry medians, their total, the pass-1 total and the
    per-entry spread (max - min) of ``run_passes`` samples."""
    queries = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    return {
        "value": round(sum(queries.values()), 3),
        "queries": queries,
        "first_attempt_total": round(sum(s[0] for s in samples.values()), 3),
        "spread": {n: round(max(s) - min(s), 3) for n, s in samples.items()},
    }


def _load_avg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def main() -> None:
    load_avg_start = _load_avg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # console progress bars write stage-fragment lines that can share a
    # physical line with the final JSON when streams are merged — keep the
    # bench's stdout strictly one-JSON-line parseable
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # Silence WindowExec's "No Partition Defined" warning for THIS bench
    # process only: the 8 emitting sites are the bounded score-lattice /
    # sketch-spine windows (≤8-256 rows by construction), each enumerated
    # and exempted in scripts/audit_global_windows.py — in a bench tail
    # the repeated warning reads as a regression signal it isn't. The
    # audit, not the logger, remains the gate for real global windows.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging cosmetics must never fail the bench
    # JVM/codegen warm-up so the first timed query isn't charged session
    # startup; table data itself stays cold. The tiny untimed domain passes
    # JIT the fold/sink code paths the same way spark.range warms the
    # scan/agg path — the timed runs then measure the engine, not first-use
    # compilation.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # spin up the reusable Python worker pool so the first pandas-UDF query
    # isn't charged interpreter startup
    spark.range(1_000).mapInPandas(lambda it: it, "id long").count()
    bench_domain_projection(spark, scale=2)
    bench_streaming_catchup(spark, scale=2)
    release_tracked_persists(spark)  # warm-up caches must not leak

    def timed(fn) -> Callable[[], float]:
        def run() -> float:
            t0 = time.perf_counter()
            # noop sink, not count(): count() lets Catalyst prune unused
            # output columns (and even eliminate a trailing unique-key outer
            # join entirely); the noop writer forces full evaluation of
            # every output column with no sink cost
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        return run

    thunks = {name: timed(SPARK_QUERIES[name]) for name in BENCH_QUERIES}
    thunks["domain_projection_8tables"] = lambda: bench_domain_projection(spark)[1]
    thunks["streaming_catchup_4batches"] = lambda: bench_streaming_catchup(spark)[1]
    # outside the timed region: query-scoped catalog caches and the composed
    # benches' project_all/dehydrate caches die here, so the next run is cold
    release = functools.partial(release_tracked_persists, spark)
    samples = run_passes(thunks, release)
    summary = summarize(samples)

    extra: dict[str, float] = {}
    for name in EXTRA_QUERIES:
        extra[name] = round(timed(SPARK_QUERIES[name])(), 3)
        release()

    load_avg_end = _load_avg()
    # A final line carrying every extra outgrows a tail capture of stdout;
    # the extras and the per-pass samples go to a sidecar file so the
    # printed line stays compact (~2 KB). Non-default scale factors keep
    # their own sidecar, so an sf1 run never overwrites the sf0.1 record.
    sidecar_name = (
        "BENCH_EXTRA.json" if abs(sf - 0.1) < 1e-12
        else f"BENCH_EXTRA_sf{sf:g}.json"
    )
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), sidecar_name
    )
    with open(sidecar, "w") as f:
        json.dump(
            {
                "extra_queries": extra,
                "headline_samples": {
                    n: [round(x, 3) for x in s] for n, s in samples.items()
                },
                "sf": sf,
                "load_avg_start": load_avg_start,
                "load_avg_end": load_avg_end,
            },
            f,
            indent=1,
        )
    # Carry the load context in the parsed line itself, so every recorded
    # line explains its own wall clock without the sidecar.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": summary["value"],
                "unit": "sec",
                "queries": summary["queries"],
                "sf": sf,
                "load_avg_start": load_avg_start,
                "load_avg_end": load_avg_end,
                # nothing is retried; kept so the line's keys stay stable
                "retried": {},
                "first_attempt_total": summary["first_attempt_total"],
                "spread": summary["spread"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
