"""Query catalog: the driver-contract surface (__spark_entry__.py).

Each entry pairs a Spark implementation with an ANSI-SQL DuckDB oracle that
must hash-match it (column names and value semantics aligned; doubles
rounded to 4 dp on BOTH sides; counts cast to BIGINT on the DuckDB side
because its integer SUM widens to HUGEINT).

The catalog demonstrates every operator family from SURVEY §2 over the
driver tables, plus the LLM-pipeline surface (functions/*), plus two
queries that run the REAL projection engine over domain events synthesized
deterministically from the events table (proj_work_task_sim,
proj_installation_sim) — those oracles re-implement the fold semantics in
pure SQL, so the engine's epoch/guard/null-write behavior is checked against
an independent implementation on driver data.
"""


from __future__ import annotations

from ._registry import ORACLE_SQL, SPARK_QUERIES, QueryFn, _q, _r4  # noqa: F401

# Family modules register into SPARK_QUERIES/ORACLE_SQL on import; this
# order IS the registration order (the pre-window catalog order), so it
# must not be rearranged without re-pinning tests/data/catalog_order.txt.
from . import tpch  # noqa: E402,F401
from . import events_batch  # noqa: E402,F401
from . import projections  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import quality  # noqa: E402,F401
from . import clustering  # noqa: E402,F401
from . import curation  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import audio  # noqa: E402,F401
from . import warehouse  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import timeseries  # noqa: E402,F401
from . import streaming_sims  # noqa: E402,F401


# ===========================================================================
# Registration order for the driver window
# ===========================================================================
# The CORRECTNESS gate over __spark_entry__.queries() records only the
# FIRST 50 entries per round, so _DRIVER_WINDOW_FRONT rotates: q1 first,
# then any never-green addition, then the rows whose most recent green
# round is oldest (registration order breaks ties). That keeps every
# query's latest green row recent; a query that FAILs goes to the front
# once fixed. The production ANN rows-only entries (minhash_near_dups,
# simhash_fingerprints, embedding_near_dups_lsh, knn_lsh, knn_ivf) stay
# out of the window: they would record rows-only, and their guarantees
# are exactly what the *_twin_agreement entries hash-check.
#
# Keep every name in _DRIVER_WINDOW_FRONT registered (the assert below
# enforces it) and re-pin tests/data/catalog_order.txt + CATALOG.md
# (scripts/gen_catalog_index.py) after any reorder.
_DRIVER_WINDOW_FRONT = [
    "q1_pricing_summary",
    # -- never driver-checked (r10 bucketed Naive Bayes family) --
    "naive_bayes_quality",
    "naive_bayes_bucket_likelihoods",
    # -- all 47 r6-green rows (oldest green), registration order --
    "q4_order_priority",
    "q6_forecast_revenue",
    "q12_shipmode_priority",
    "q18_large_volume_customers",
    "q7_nation_volume_shipping",
    "q9_product_type_profit",
    "q10_returned_items",
    "q13_customer_order_distribution",
    "q14_promo_effect",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q22_sales_opportunity",
    "order_item_seq",
    "embedding_near_dups",
    "multimodal_frames",
    "multimodal_resize",
    "epoch_shuffle_manifest",
    "bpe_learned_merges",
    "bpe_token_counts",
    "cluster_safe_split_stats",
    "dup_substring_spans",
    "quality_score_auc",
    "quality_pr_curve",
    "lang_guess_kappa",
    "quality_brier_calibration",
    "ccnet_perplexity_buckets",
    "latent_part_affinity",
    "jl_projection_audit",
    "latent_rank2_affinity",
    "jl_knn_recall",
    "hll_distinct_rollup",
    "hdr_quantile_rollup",
    "ivfpq_knn_adc",
    "ols_price_model",
    "ols_residual_by_nation",
    "nb_lang_confusion",
    "bootstrap_revenue_ci",
    "ab_tests_fdr_nations",
    "stream_dedup_sim",
    "stream_lsh_sim",
    "stream_hll_sim",
    "stream_hdr_sim",
    "stream_topk_sim",
    "stream_join_sim",
    "stream_session_sim",
    "stream_ols_sim",
]


def _apply_driver_window_order() -> None:
    assert all(n in SPARK_QUERIES for n in _DRIVER_WINDOW_FRONT), [
        n for n in _DRIVER_WINDOW_FRONT if n not in SPARK_QUERIES
    ]
    rest = [n for n in SPARK_QUERIES if n not in _DRIVER_WINDOW_FRONT]
    order = _DRIVER_WINDOW_FRONT + rest
    for d in (SPARK_QUERIES, ORACLE_SQL):
        reordered = {n: d[n] for n in order if n in d}
        d.clear()
        d.update(reordered)


_apply_driver_window_order()
