"""Bucketed Naive Bayes — the counting classifier of the trainable-
curation-filter family (logreg IRLS → stump/CART → WOE → AdaBoost →
THIS): per-class Laplace-smoothed bucket likelihoods over the SAME
exact-integer feature grid the stump family uses, scored by an exact
integer log-score comparison.

Scale shape (the 100 TB contract): ONE min/max+totals pass over the
corpus (the stump grid pass), ONE bucketing pass, ONE grouped
aggregation to ≤ 2·B (feature, bucket) count rows — then the model IS
that tiny frame. Scoring is a map-only pass with the model riding in
via two broadcast joins (one per feature axis). Nothing driver-side
grows with data; the distributed reduce is 2·B count rows.

Determinism contract (integer-state recipe with BOUNDED scalar pins):
counts are exact BIGINTs; each log-likelihood / log-prior is
LN of ONE correctly-rounded division of exact integers, pinned to a
10⁶-scale BIGINT — at most 4·B + 2 pinned scalars per fit (grid-sized,
NOT data-sized: the quantified-negligible class of
functions/clustering.py). Per-row class scores are exact BIGINT sums
of three pinned scalars; the decision is an exact integer compare with
a fixed tie rule (tie → class 0). LN(1.0) = +0.0 exactly, so the zero
likelihood of a pure bucket cannot sign-flip cross-engine.

Reference parity note: extension family (README "LLM-pipeline
surface"), no counterpart in the reference engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from open_ftth_relational_projector_spark.functions.regression import (
    PIN_NOTNULL,
    logreg_xpin_sql,
)
from open_ftth_relational_projector_spark.functions.tree import (
    stump_bucket_sql,
    stump_width_sql,
)


def nb_loglik_sql(cnt: str, tot: str, cells: int) -> str:
    """Shared-text pinned Laplace log-likelihood:
    l̃ = round(ln((cnt+1)/(tot+cells))·10⁶) as BIGINT. Both operands are
    exact integers < 2⁵³, the division is one correctly-rounded IEEE op,
    and LN is the one transcendental — a bounded grid-sized pin."""
    return (
        f"CAST(ROUND(LN(CAST({cnt} + 1 AS DOUBLE)"
        f" / CAST({tot} + {cells} AS DOUBLE)) * 1e6, 0) AS BIGINT)"
    )


def nb_out_sql(pin: str, out_dp: int = 6) -> str:
    """Shared-text report form of a pinned log value: pin/10⁶ rounded,
    signed-zero-normalized (log-likelihoods are ≤ 0 and can round to
    ±0)."""
    return f"ROUND({pin} / 1e6, {out_dp}) + 0"


def nb_fit(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    n_buckets: int = 16,
    where: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the bucketed Naive Bayes model. Returns (bucketed, prior,
    lik): ``bucketed`` (y, b1, b2) is the integer-bucketed corpus on the
    stump grid; ``prior`` a one-row frame (tnp, tnn, pr1, pr0) with the
    pinned log-priors ln((n_c+1)/(n+2)); ``lik`` the ≤ 2·B-row model
    frame (feat, b, np, nn, ll1, ll0) with per-class pinned Laplace
    log-likelihoods ln((cnt_c+1)/(n_c+B)).

    Rows with a NULL pinned feature are dropped structurally
    (PIN_NOTNULL — the family contract, shared text with the oracle)."""
    base = df.filter(F.expr(where)) if where else df
    pinned = (
        base.selectExpr(
            f"CAST({y} AS BIGINT) AS y",
            f"{logreg_xpin_sql(x1)} AS x1",
            f"{logreg_xpin_sql(x2)} AS x2",
        )
        .filter(PIN_NOTNULL)
        .localCheckpoint(eager=True)
    )
    st = (
        pinned.agg(
            F.expr("MIN(x1)").alias("lo1"),
            F.expr("MAX(x1)").alias("hi1"),
            F.expr("MIN(x2)").alias("lo2"),
            F.expr("MAX(x2)").alias("hi2"),
            F.expr("CAST(SUM(y) AS BIGINT)").alias("tnp"),
            F.expr("CAST(SUM(1 - y) AS BIGINT)").alias("tnn"),
        )
        .selectExpr(
            "lo1",
            "lo2",
            "tnp",
            "tnn",
            f"{stump_width_sql('lo1', 'hi1', n_buckets)} AS w1",
            f"{stump_width_sql('lo2', 'hi2', n_buckets)} AS w2",
        )
        .localCheckpoint(eager=True)
    )
    bucketed = (
        pinned.crossJoin(F.broadcast(st))
        .selectExpr(
            "y",
            f"{stump_bucket_sql('x1', 'lo1', 'w1')} AS b1",
            f"{stump_bucket_sql('x2', 'lo2', 'w2')} AS b2",
        )
        .localCheckpoint(eager=True)
    )
    prior = st.selectExpr(
        "tnp",
        "tnn",
        f"{nb_loglik_sql('tnp', 'tnp + tnn', 2)} AS pr1",
        f"{nb_loglik_sql('tnn', 'tnp + tnn', 2)} AS pr0",
    )
    lik = (
        bucketed.selectExpr("y", "stack(2, 1, b1, 2, b2) AS (feat, b)")
        .groupBy("feat", "b")
        .agg(
            F.expr("CAST(SUM(y) AS BIGINT)").alias("np"),
            F.expr("CAST(SUM(1 - y) AS BIGINT)").alias("nn"),
        )
        .crossJoin(F.broadcast(prior.select("tnp", "tnn")))
        .selectExpr(
            "feat",
            "b",
            "np",
            "nn",
            f"{nb_loglik_sql('np', 'tnp', n_buckets)} AS ll1",
            f"{nb_loglik_sql('nn', 'tnn', n_buckets)} AS ll0",
        )
    )
    return bucketed, prior, lik


def nb_summary(
    bucketed: DataFrame, prior: DataFrame, lik: DataFrame
) -> DataFrame:
    """One-row fit report: (n_docs, n_pos, prior_pos, accuracy) — the
    decision is the exact integer compare pr1+Σll1 > pr0+Σll0 (tie →
    class 0); accuracy and the unpinned log-prior are the established
    6-dp pins. The model rides in via two broadcast joins (every
    occupied bucket exists in ``lik`` by construction, so the inner
    joins lose no rows)."""
    l1 = F.broadcast(
        lik.filter("feat = 1").selectExpr(
            "b AS b1", "ll1 AS f1_ll1", "ll0 AS f1_ll0"
        )
    )
    l2 = F.broadcast(
        lik.filter("feat = 2").selectExpr(
            "b AS b2", "ll1 AS f2_ll1", "ll0 AS f2_ll0"
        )
    )
    scored = (
        bucketed.join(l1, "b1")
        .join(l2, "b2")
        .crossJoin(F.broadcast(prior))
        .selectExpr(
            "y",
            "(pr1 + f1_ll1 + f2_ll1) AS s1",
            "(pr0 + f1_ll0 + f2_ll0) AS s0",
            "pr1",
        )
    )
    return scored.groupBy("pr1").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(y) AS BIGINT)").alias("n_pos"),
        F.expr(
            "ROUND(SUM(CASE WHEN (s1 > s0) = (y = 1) THEN 1 ELSE 0 END)"
            " / CAST(COUNT(*) AS DOUBLE), 6)"
        ).alias("accuracy"),
    ).selectExpr(
        "n_docs",
        "n_pos",
        f"{nb_out_sql('pr1')} AS prior_pos",
        "accuracy",
    )
