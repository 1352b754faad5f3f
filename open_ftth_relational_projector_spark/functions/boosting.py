"""AdaBoost over decision stumps — the boosted rule-list quality filter.

Completes the trainable-curation-filter family (logreg IRLS →
stump/depth-2 CART → WOE audit → THIS): T rounds of the exact-integer
decision stump (functions/tree.py), each round re-weighting documents the
previous rule got wrong — the classic discrete AdaBoost with
Laplace-smoothed round weights, producing a human-auditable list of
weighted threshold rules ("x ≤ t → quality, weight α").

Scale shape (the 100 TB contract): ONE min/max+totals pass and ONE
bucketing pass over the corpus up front; then per boosting round ONE
grouped aggregation to ≤ 2·B weighted bucket counts (map-side combined)
and an argmin on that tiny frame. Per-row weights are NEVER materialized:
round t's weight is a nested shared-text expression over the t−1
broadcast one-row stump frames (w₀ = 10⁶; w_{i+1} = round(w_i·f_i/10⁶)),
so each round is a map-only pass + a 2·B-row reduce — no per-round
corpus checkpoint, no driver-side state that grows with data.

Determinism contract (the integer-state recipe with BOUNDED scalar
transcendental pins): all counts are exact integers
(DECIMAL(19,0)×DECIMAL(19,0)→(38,0) weighted products); the stump argmin
is an exact integer compare with a total tie-break (score, feat, b); the
per-round α and the two re-weight factors are the ONLY transcendentals
(LN then EXP-of-the-pinned-α), each pinned to a 10⁶-scale BIGINT — 3·T
pinned scalar values per run, the quantified-negligible class
(ulp/pin ≈ 1e-10 each), NOT the per-row-state fine-pin class: every
per-row quantity derived from the pinned scalars is exact integer
arithmetic plus one ROUND-of-division whose quotient granularity (10⁻⁶)
sits 10 orders above double ulp. Bounds: weights stay exact while
w̃·f̃ < 2⁵³ — holds for T ≤ 5 rounds with smoothed ε ≥ ~10⁻³, far beyond
the shipped T = 3, and the contract is STRUCTURAL, not caller-
guaranteed: each fit tracks an exact Python-bigint upper bound on the
nested weight and fails named (_check_weight_bound) before any round
whose re-weight factor could push a product past 2⁵³ — the small
perfectly-separated group whose smoothed ε = 1/(W+1) inflates
α̃ ≈ ½ln(W+1)·10⁶ trips the guard instead of silently losing exactness
(r9 advisor item 3).

α is Laplace-smoothed: α = ½·ln((W−err+1)/(err+1)) — always finite
(a perfect stump cannot divide by zero), the same smoothing woe_sql
uses, and err ≤ W/2 by construction (each stump side predicts its
weighted majority), so α ≥ 0 and no signed-zero hazard.

Reference parity note: extension family (README "LLM-pipeline surface"),
no counterpart in the reference engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from open_ftth_relational_projector_spark.functions.regression import (
    PIN_NOTNULL,
    _raise_on_null_group_key,
    dec2dbl_sql,
    logreg_xpin_sql,
)
from open_ftth_relational_projector_spark.functions.tree import (
    stump_bucket_sql,
    stump_score_sql,
    stump_width_sql,
)

ADA_WS = 10**6  # weight / alpha / factor pin scale


def ada_wcount_sql(w: str, cls: str) -> str:
    """Shared-text weighted class count: Σ w·1[class] as exact
    DECIMAL(38,0) (the factorization product pattern — loud on
    overflow). ``cls`` is a 0/1 integer expression."""
    return (
        f"SUM(CAST({w} AS DECIMAL(19,0))"
        f" * CAST({cls} AS DECIMAL(19,0)))"
    )


def ada_alpha_sql(score: str, wtot: str) -> str:
    """Shared-text pinned round weight: α̃ = round(½·ln((W−err+1)/
    (err+1))·10⁶) as BIGINT over the exact DECIMAL weighted totals.
    LN is transcendental — ONE pinned scalar per round (safe class);
    the +1 Laplace smoothing keeps a perfect stump finite; err ≤ W/2
    (majority side labels) keeps α ≥ 0."""
    num = dec2dbl_sql(f"({wtot} - {score} + 1)")
    den = dec2dbl_sql(f"({score} + 1)")
    return (
        f"CAST(ROUND(5e-1 * LN(({num}) / ({den})) * 1e6, 0) AS BIGINT)"
    )


def ada_factor_sql(alpha_bi: str, wrong: bool) -> str:
    """Shared-text pinned re-weight factor: f̃ = round(exp(±α̃/10⁶)·10⁶)
    as BIGINT. EXP runs on the PINNED α̃ (identical BIGINT input on both
    engines), so this is the second bounded scalar pin per round, not a
    fresh per-engine derivation from the raw moments."""
    sign = "" if wrong else "-"
    return (
        f"CAST(ROUND(EXP({sign}(({alpha_bi}) / 1e6)) * 1e6, 0) AS BIGINT)"
    )


def ada_pred_sql(rf: str, rb: str, ll: str, rl: str) -> str:
    """Shared-text stump prediction over the bucketed columns (b1, b2):
    the side of round-r's split gets that side's majority label."""
    return (
        f"CASE WHEN (CASE WHEN {rf} = 1 THEN b1 ELSE b2 END) <= {rb}"
        f" THEN {ll} ELSE {rl} END"
    )


def ada_next_w_sql(w: str, pred: str, fc: str, fw: str) -> str:
    """Shared-text weight step: w' = round(w·f/10⁶) — exact BIGINT
    product, one correctly-rounded division whose quotient granularity
    (10⁻⁶) is 10 orders above double ulp, so ROUND cannot be flipped
    cross-engine while w̃·f̃ < 2⁵³ (module-header bound)."""
    return (
        f"CAST(ROUND(({w}) * (CASE WHEN ({pred}) = y THEN {fc}"
        f" ELSE {fw} END) / 1e6, 0) AS BIGINT)"
    )


# Exactness bound for the nested weight expression: every product
# w̃·f̃ formed inside ada_next_w_sql must stay below 2⁵³ so the one
# double division ROUND(w·f/1e6) is correctly rounded from an exactly-
# represented product (module-header contract).
ADA_WEIGHT_EXACT_BOUND = 2**53


def _check_weight_bound(wmax: int, fw_max: int, t: int, fit_name: str) -> int:
    """Named guard for the weight-exactness contract (the degeneracy-
    guard treatment): ``wmax`` is an exact upper bound on any row's
    pinned weight entering round t+1, ``fw_max`` the largest round-t
    re-weight factor (fw ≥ 10⁶ ≥ fc since α ≥ 0). If the next nested
    product w̃·f̃ could reach 2⁵³, fail loudly instead of silently
    leaving the quantified-exactness regime (a tiny perfectly-separated
    group's smoothed ε = 1/(W+1) makes α̃ ≈ ½ln(W+1)·10⁶ — far past the
    ε ≥ ~10⁻³ the header bound assumes). Returns the updated bound:
    round-half-up of wmax·fw/10⁶."""
    if wmax * fw_max >= ADA_WEIGHT_EXACT_BOUND:
        raise ValueError(
            f"{fit_name}: round-{t} re-weight factor f̃ = {fw_max} would "
            f"push the max nested weight product to {wmax * fw_max} ≥ "
            f"2^53 = {ADA_WEIGHT_EXACT_BOUND}, outside the regime where "
            "ROUND(w·f/1e6) is exact cross-engine. Lower n_rounds, or "
            "pre-balance/limit the (group's) corpus so a stump cannot "
            "separate it near-perfectly (the Laplace-smoothed ε collapses "
            "to 1/(W+1) and α̃ ≈ ½·ln(W+1)·1e6)."
        )
    return (wmax * fw_max + ADA_WS // 2) // ADA_WS


def adaboost_fit(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    n_rounds: int = 3,
    n_buckets: int = 16,
    where: str | None = None,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Fit T boosted stumps. Returns (bucketed, st, stumps):
    ``bucketed`` (y, b1, b2) is the once-checkpointed integer-bucketed
    corpus; ``st`` the one-row grid frame (lo1, lo2, w1, w2);
    ``stumps`` one one-row frame per round with columns
    (rf_t, rb_t, ll_t, rl_t, ab_t, fc_t, fw_t, score_t, wtot_t) —
    split feature/bucket, side labels, pinned α and factors, and the
    round's weighted error/total for reporting.

    All rounds share the ROOT bucket grid (one global min/max pass —
    the tree_fit_depth2 contract choice), so the whole fit is 2 corpus
    scans up front + 1 map-only scan per round."""
    base = df.filter(F.expr(where)) if where else df
    pinned = base.selectExpr(
        f"CAST({y} AS BIGINT) AS y",
        f"{logreg_xpin_sql(x1)} AS x1",
        f"{logreg_xpin_sql(x2)} AS x2",
    ).filter(
        # same structural non-null contract as functions/tree.py: a NULL
        # bucket row would hit divergent NULLS FIRST/LAST window defaults
        PIN_NOTNULL
    ).localCheckpoint(eager=True)
    st = pinned.agg(
        F.expr("MIN(x1)").alias("lo1"),
        F.expr("MAX(x1)").alias("hi1"),
        F.expr("MIN(x2)").alias("lo2"),
        F.expr("MAX(x2)").alias("hi2"),
    ).selectExpr(
        "lo1", "lo2",
        f"{stump_width_sql('lo1', 'hi1', n_buckets)} AS w1",
        f"{stump_width_sql('lo2', 'hi2', n_buckets)} AS w2",
    ).localCheckpoint(eager=True)
    bucketed = pinned.crossJoin(F.broadcast(st)).selectExpr(
        "y",
        f"{stump_bucket_sql('x1', 'lo1', 'w1')} AS b1",
        f"{stump_bucket_sql('x2', 'lo2', 'w2')} AS b2",
    ).localCheckpoint(eager=True)

    stumps: list[DataFrame] = []
    w_text = str(ADA_WS)
    wmax = ADA_WS  # exact upper bound on any row's nested pinned weight
    for t in range(1, n_rounds + 1):
        cur = bucketed
        for s in stumps:
            cur = cur.crossJoin(F.broadcast(s))
        per = (
            cur.selectExpr("y", f"({w_text}) AS w", "b1", "b2")
            .selectExpr("y", "w", "stack(2, 1, b1, 2, b2) AS (feat, b)")
            .groupBy("feat", "b")
            .agg(
                F.expr(f"{ada_wcount_sql('w', 'y')}").alias("wnp"),
                F.expr(f"{ada_wcount_sql('w', '(1 - y)')}").alias("wnn"),
            )
        )
        cw = W.partitionBy("feat").orderBy("b").rowsBetween(
            W.unboundedPreceding, 0
        )
        tw = W.partitionBy("feat")
        cum = per.select(
            "feat",
            "b",
            F.sum("wnp").over(cw).alias("cnp"),
            F.sum("wnn").over(cw).alias("cnn"),
            F.max("b").over(tw).alias("maxb"),
            F.sum("wnp").over(tw).alias("gnp"),
            F.sum("wnn").over(tw).alias("gnn"),
        )
        cand = cum.filter("b < maxb").selectExpr(
            "feat",
            "b",
            "cnp",
            "cnn",
            "gnp",
            "gnn",
            f"{stump_score_sql('cnp', 'cnn', 'gnp', 'gnn')} AS score",
        )
        alpha = ada_alpha_sql("score", "(gnp + gnn)")
        stump = (
            cand.orderBy("score", "feat", "b")
            .limit(1)
            .selectExpr(
                f"feat AS rf_{t}",
                f"b AS rb_{t}",
                f"CASE WHEN cnp > cnn THEN 1 ELSE 0 END AS ll_{t}",
                f"CASE WHEN gnp - cnp > gnn - cnn THEN 1 ELSE 0 END"
                f" AS rl_{t}",
                f"{alpha} AS ab_{t}",
                f"{ada_factor_sql(alpha, wrong=False)} AS fc_{t}",
                f"{ada_factor_sql(alpha, wrong=True)} AS fw_{t}",
                f"score AS score_{t}",
                f"gnp + gnn AS wtot_{t}",
            )
            .localCheckpoint(eager=True)
        )
        stumps.append(stump)
        if t < n_rounds:
            # weight-exactness guard: one bounded collect from the
            # already-checkpointed ONE-ROW stump frame — rounds whose
            # factors never enter another aggregation are not checked
            fw = int(stump.selectExpr(f"fw_{t}").collect()[0][0])
            wmax = _check_weight_bound(wmax, fw, t, "adaboost_fit")
        pred = ada_pred_sql(f"rf_{t}", f"rb_{t}", f"ll_{t}", f"rl_{t}")
        w_text = ada_next_w_sql(w_text, pred, f"fc_{t}", f"fw_{t}")
    return bucketed, st, stumps


def adaboost_rounds_table(st: DataFrame, stumps: list[DataFrame]) -> DataFrame:
    """Per-round rule report: (boost_round, feat, threshold, left_label,
    right_label, eps, alpha) — threshold in raw feature units on the
    shared grid text, ε = weighted error fraction @6dp, α @6dp (both
    exact-integer numerators over dec2dbl'd totals; α ≥ 0 so no
    signed-zero normalization needed)."""
    from open_ftth_relational_projector_spark.functions.tree import (
        stump_threshold_sql,
    )

    outs = []
    for t, s in enumerate(stumps, 1):
        outs.append(
            s.crossJoin(F.broadcast(st)).selectExpr(
                f"{t} AS boost_round",
                f"rf_{t} AS feat",
                f"CASE WHEN rf_{t} = 1 THEN"
                f" {stump_threshold_sql('lo1', f'rb_{t}', 'w1')}"
                " ELSE"
                f" {stump_threshold_sql('lo2', f'rb_{t}', 'w2')}"
                " END AS threshold",
                f"ll_{t} AS left_label",
                f"rl_{t} AS right_label",
                f"ROUND(({dec2dbl_sql(f'score_{t}')})"
                f" / ({dec2dbl_sql(f'wtot_{t}')}), 6) AS eps",
                f"ROUND(ab_{t} / 1e6, 6) AS alpha",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("boost_round")


def adaboost_train_summary(
    bucketed: DataFrame, stumps: list[DataFrame]
) -> DataFrame:
    """One-row ensemble report: (n_docs, n_pos, accuracy, avg_margin) —
    the decision is sign(Σ ±α̃_t), an EXACT integer test; avg_margin is
    the mean label-signed margin in α units (positive = the ensemble
    separates the classes), 6dp with signed-zero normalization."""
    cur = bucketed
    for s in stumps:
        cur = cur.crossJoin(F.broadcast(s))
    terms = []
    for t in range(1, len(stumps) + 1):
        pred = ada_pred_sql(f"rf_{t}", f"rb_{t}", f"ll_{t}", f"rl_{t}")
        terms.append(f"(CASE WHEN ({pred}) = 1 THEN ab_{t} ELSE -ab_{t} END)")
    margin = "(" + " + ".join(terms) + ")"
    return (
        cur.selectExpr("y", f"{margin} AS margin")
        .groupBy()
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(y) AS BIGINT)").alias("n_pos"),
            F.expr(
                "ROUND(SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1"
                " ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)"
            ).alias("accuracy"),
            F.expr(
                f"ROUND({dec2dbl_sql('CAST(SUM(CASE WHEN y = 1 THEN margin ELSE -margin END) AS DECIMAL(38,0))')}"
                " / 1e6 / CAST(COUNT(*) AS DOUBLE), 6) + 0"
            ).alias("avg_margin"),
        )
    )


def adaboost_fit_grouped(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    group_expr: str,
    n_rounds: int = 3,
    n_buckets: int = 16,
    where: str | None = None,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """One boosted rule list PER GROUP (per-source/per-domain curation
    filters), every group's rounds advancing together — the model-farm
    treatment of adaboost_fit: per round ONE grouped aggregation to
    groups×2·B weighted bucket counts and a per-group argmin on that
    small frame; per-row weights stay a nested expression over the
    joined (broadcast, group-keyed) prior stump frames. Training
    thousands of per-domain rule lists costs the same scan count as one.

    Each group gets its OWN bucket grid (per-group min/max — one grouped
    aggregation). A group whose features are both constant has no split
    candidates and simply drops out (no rule list — the stump_fit empty
    contract); the candidate set is grid-fixed, so a group either holds
    a full T-round list or none. Determinism identical to adaboost_fit
    (per-group pinned α/factors — groups×3·T pinned scalars per run).
    The grid and stump frames are broadcast — the bounded-group contract
    of logreg_fit_irls_grouped; swap to shuffle joins if groups are
    unbounded.

    Returns (bucketed(g, y, b1, b2), st(g, lo1, lo2, w1, w2),
    stumps: per round one frame (g, rf_t, rb_t, ll_t, rl_t, ab_t,
    fc_t, fw_t, score_t, wtot_t))."""
    base = df.filter(F.expr(where)) if where else df
    pinned = base.selectExpr(
        f"({group_expr}) AS g",
        f"CAST({y} AS BIGINT) AS y",
        f"{logreg_xpin_sql(x1)} AS x1",
        f"{logreg_xpin_sql(x2)} AS x2",
    ).filter(
        PIN_NOTNULL
    ).localCheckpoint(eager=True)
    st = pinned.groupBy("g").agg(
        F.expr("MIN(x1)").alias("lo1"),
        F.expr("MAX(x1)").alias("hi1"),
        F.expr("MIN(x2)").alias("lo2"),
        F.expr("MAX(x2)").alias("hi2"),
    ).selectExpr(
        "g", "lo1", "lo2",
        f"{stump_width_sql('lo1', 'hi1', n_buckets)} AS w1",
        f"{stump_width_sql('lo2', 'hi2', n_buckets)} AS w2",
    ).localCheckpoint(eager=True)
    # same family contract as the logreg farm: a NULL group key would
    # silently drop from every null-unsafe group-keyed join below (grid,
    # per-round stump frames) — fail named instead (r11 review: the
    # sibling fit gained this guard first, leaving this one silently
    # inconsistent)
    _raise_on_null_group_key(st, "g", "adaboost_fit_grouped")
    bucketed = pinned.join(F.broadcast(st), "g").selectExpr(
        "g",
        "y",
        f"{stump_bucket_sql('x1', 'lo1', 'w1')} AS b1",
        f"{stump_bucket_sql('x2', 'lo2', 'w2')} AS b2",
    ).localCheckpoint(eager=True)

    stumps: list[DataFrame] = []
    w_text = str(ADA_WS)
    # exact upper bound on any row's nested pinned weight, PER GROUP: a
    # row only ever multiplies by its own group's factors (the stump
    # frames join back on g), so a single cross-group scalar bound —
    # round-1's max factor from group A times round-2's from group B —
    # is a chain no actual row experiences and can spuriously fail a
    # healthy multi-group fit.
    wmax: dict = {}
    for t in range(1, n_rounds + 1):
        cur = bucketed
        for s in stumps:
            cur = cur.join(F.broadcast(s), "g")
        per = (
            cur.selectExpr("g", "y", f"({w_text}) AS w", "b1", "b2")
            .selectExpr("g", "y", "w", "stack(2, 1, b1, 2, b2) AS (feat, b)")
            .groupBy("g", "feat", "b")
            .agg(
                F.expr(f"{ada_wcount_sql('w', 'y')}").alias("wnp"),
                F.expr(f"{ada_wcount_sql('w', '(1 - y)')}").alias("wnn"),
            )
        )
        cw = W.partitionBy("g", "feat").orderBy("b").rowsBetween(
            W.unboundedPreceding, 0
        )
        tw = W.partitionBy("g", "feat")
        cum = per.select(
            "g",
            "feat",
            "b",
            F.sum("wnp").over(cw).alias("cnp"),
            F.sum("wnn").over(cw).alias("cnn"),
            F.max("b").over(tw).alias("maxb"),
            F.sum("wnp").over(tw).alias("gnp"),
            F.sum("wnn").over(tw).alias("gnn"),
        )
        cand = cum.filter("b < maxb").selectExpr(
            "g",
            "feat",
            "b",
            "cnp",
            "cnn",
            "gnp",
            "gnn",
            f"{stump_score_sql('cnp', 'cnn', 'gnp', 'gnn')} AS score",
        )
        alpha = ada_alpha_sql("score", "(gnp + gnn)")
        rw = W.partitionBy("g").orderBy("score", "feat", "b")
        stump = (
            cand.withColumn("_rn", F.row_number().over(rw))
            .filter("_rn = 1")
            .selectExpr(
                "g",
                f"feat AS rf_{t}",
                f"b AS rb_{t}",
                f"CASE WHEN cnp > cnn THEN 1 ELSE 0 END AS ll_{t}",
                f"CASE WHEN gnp - cnp > gnn - cnn THEN 1 ELSE 0 END"
                f" AS rl_{t}",
                f"{alpha} AS ab_{t}",
                f"{ada_factor_sql(alpha, wrong=False)} AS fc_{t}",
                f"{ada_factor_sql(alpha, wrong=True)} AS fw_{t}",
                f"score AS score_{t}",
                f"gnp + gnn AS wtot_{t}",
            )
            .localCheckpoint(eager=True)
        )
        stumps.append(stump)
        if t < n_rounds:
            # weight-exactness guard PER GROUP: one bounded collect of
            # (g, fw_t) from the checkpointed per-group stump frame —
            # one row per group, the same bound that justifies the
            # broadcast stump joins (the small perfectly-separated
            # source is exactly the case this catches — its smoothed
            # ε = 1/(W+1) blows α̃ up). Tracking the bound per group
            # keeps it tight: no cross-group factor chain.
            for r in stump.select("g", f"fw_{t}").collect():
                g = r["g"]
                if r[f"fw_{t}"] is None:
                    # stump rows always carry a non-NULL fw today (alpha is
                    # Laplace-smoothed); fail NAMED rather than as an opaque
                    # TypeError if a future change breaks that invariant
                    raise ValueError(
                        f"adaboost_fit_grouped[g={g!r}]: NULL wrong-side "
                        f"weight factor fw_{t} in round {t}"
                    )
                wmax[g] = _check_weight_bound(
                    wmax.get(g, ADA_WS),
                    int(r[f"fw_{t}"]),
                    t,
                    f"adaboost_fit_grouped[g={g!r}]",
                )
        pred = ada_pred_sql(f"rf_{t}", f"rb_{t}", f"ll_{t}", f"rl_{t}")
        w_text = ada_next_w_sql(w_text, pred, f"fc_{t}", f"fw_{t}")
    return bucketed, st, stumps


def adaboost_group_rounds_table(
    st: DataFrame, stumps: list[DataFrame]
) -> DataFrame:
    """Per-(group, round) rule report: (g, boost_round, feat, threshold,
    left_label, right_label, eps, alpha) — the rounds table of
    adaboost_rounds_table keyed by group (thresholds on each group's own
    grid)."""
    from open_ftth_relational_projector_spark.functions.tree import (
        stump_threshold_sql,
    )

    outs = []
    for t, s in enumerate(stumps, 1):
        outs.append(
            s.join(F.broadcast(st), "g").selectExpr(
                "g",
                f"{t} AS boost_round",
                f"rf_{t} AS feat",
                f"CASE WHEN rf_{t} = 1 THEN"
                f" {stump_threshold_sql('lo1', f'rb_{t}', 'w1')}"
                " ELSE"
                f" {stump_threshold_sql('lo2', f'rb_{t}', 'w2')}"
                " END AS threshold",
                f"ll_{t} AS left_label",
                f"rl_{t} AS right_label",
                f"ROUND(({dec2dbl_sql(f'score_{t}')})"
                f" / ({dec2dbl_sql(f'wtot_{t}')}), 6) AS eps",
                f"ROUND(ab_{t} / 1e6, 6) AS alpha",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("g", "boost_round")


def adaboost_group_summary(
    bucketed: DataFrame, stumps: list[DataFrame]
) -> DataFrame:
    """Per-group ensemble report: (g, n_docs, n_pos, accuracy,
    avg_margin) — the exact integer sign test per group; groups without
    a rule list (constant features) are absent, matching the fit."""
    cur = bucketed
    for s in stumps:
        cur = cur.join(F.broadcast(s), "g")
    terms = []
    for t in range(1, len(stumps) + 1):
        pred = ada_pred_sql(f"rf_{t}", f"rb_{t}", f"ll_{t}", f"rl_{t}")
        terms.append(f"(CASE WHEN ({pred}) = 1 THEN ab_{t} ELSE -ab_{t} END)")
    margin = "(" + " + ".join(terms) + ")"
    return (
        cur.selectExpr("g", "y", f"{margin} AS margin")
        .groupBy("g")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(y) AS BIGINT)").alias("n_pos"),
            F.expr(
                "ROUND(SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1"
                " ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)"
            ).alias("accuracy"),
            F.expr(
                f"ROUND({dec2dbl_sql('CAST(SUM(CASE WHEN y = 1 THEN margin ELSE -margin END) AS DECIMAL(38,0))')}"
                " / 1e6 / CAST(COUNT(*) AS DOUBLE), 6) + 0"
            ).alias("avg_margin"),
        )
        .orderBy("g")
    )
