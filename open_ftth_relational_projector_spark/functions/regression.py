"""Closed-form distributed OLS: normal equations in one aggregation pass.

The canonical one-pass scalable-ML pattern: a d-feature linear model needs
only the moment sums XᵀX (d(d+1)/2 values) and Xᵀy (d values) — one
map-side-combined aggregation over any corpus size, O(d²) state, then a
tiny closed-form solve. Fit statistics come from the same moments
(SSE = Syy − 2βᵀSxy + βᵀSxxβ), so training AND evaluation cost exactly ONE
distributed pass; scoring/residuals are a second map-only pass with the
betas broadcast. At 100 TB nothing about this changes: the shuffle carries
O(d²) numbers per partition, full stop.

Determinism contract: inputs are cast to DECIMAL before multiplication, so
every moment is an EXACT decimal sum — order-independent, hence identical
between Spark partial aggregation and a single-threaded SQL engine (no
per-iteration rounding needed, unlike the float-sum iterative operators).
The 3×3 solve is then a literal expression over the exact moments,
evaluated in double precision in the same textual operation order on both
engines — IEEE arithmetic is deterministic given identical inputs and
order, so betas agree bit-for-bit before any output rounding (the oracle
splices the formulas from OLS2_* below, so the two texts cannot drift).

Implements the d=2 (two features + intercept) solve explicitly — the
adjugate of the symmetric 3×3 moment matrix. Larger d follows the same
shape with the solve done driver-side on the collected O(d²) moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# exact decimal type for the inputs: money/quantity-scaled driver columns
# are ≤ 2 dp so (18,4) is lossless; products carry ≤ 8 dp and sums widen
# to 38 digits in both engines without overflow at any realistic corpus
_DEC = "decimal(18,4)"

# the shared solve text — adjugate/determinant of the symmetric 3×3 moment
# matrix A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], rhs b = [sy,s1y,s2y];
# engine-neutral SQL spliced verbatim into BOTH the Spark selectExpr and
# the DuckDB oracle so the IEEE operation order is identical by
# construction
OLS2_DET = (
    "(n * (s11 * s22 - s12 * s12)"
    " - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
OLS2_B0 = (
    "(( sy * (s11 * s22 - s12 * s12)"
    " - s1y * (s1 * s22 - s12 * s2)"
    f" + s2y * (s1 * s12 - s11 * s2)) / {OLS2_DET})"
)
OLS2_B1 = (
    "(( sy * (s12 * s2 - s1 * s22)"
    " + s1y * (n * s22 - s2 * s2)"
    f" + s2y * (s1 * s2 - n * s12)) / {OLS2_DET})"
)
OLS2_B2 = (
    "(( sy * (s1 * s12 - s11 * s2)"
    " + s1y * (s2 * s1 - n * s12)"
    f" + s2y * (n * s11 - s1 * s1)) / {OLS2_DET})"
)
OLS2_SSE = (
    "(syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y)"
    " + (b0 * (b0 * n + b1 * s1 + b2 * s2)"
    "  + b1 * (b0 * s1 + b1 * s11 + b2 * s12)"
    "  + b2 * (b0 * s2 + b1 * s12 + b2 * s22)))"
)
OLS2_SST = "(syy - sy * sy / n)"


def dec2dbl_sql(expr: str) -> str:
    """Correctly-rounded DECIMAL→DOUBLE conversion in ENGINE-SHARED SQL
    text. DuckDB's native DECIMAL→DOUBLE cast is double-rounded (int128
    significand → double, then a scale multiply — two IEEE roundings),
    while Spark's goes through BigDecimal and rounds once; on moment sums
    whose significand exceeds 2^53 the results differ by 1 ulp (measured:
    the r8 sweep caught kfold's s2y/syy moments diverging at sf0.001,
    flipping b0 across a 6-dp ROUND boundary). Routing through a STRING
    (decimal→string is exact digits on both engines; string→double parse
    is correctly rounded in both fast_float and Double.parseDouble) makes
    the conversion bit-identical cross-engine. DuckDB accepts STRING as a
    VARCHAR alias, so the same text runs on both engines — and on the
    Spark side the value is UNCHANGED (its direct cast was already
    correctly rounded), so pre-r8 driver-green rows cannot move."""
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def ols2_moments(df: DataFrame, x1: str, x2: str, y: str) -> DataFrame:
    """ONE distributed pass → a single row of exact-decimal moment sums
    (cast to double after the exact aggregation)."""
    c1, c2, cy = (F.col(c).cast(_DEC) for c in (x1, x2, y))
    return df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c1).cast("double").alias("s1"),
        F.sum(c2).cast("double").alias("s2"),
        F.sum(cy).cast("double").alias("sy"),
        F.sum(c1 * c1).cast("double").alias("s11"),
        F.sum(c1 * c2).cast("double").alias("s12"),
        F.sum(c2 * c2).cast("double").alias("s22"),
        F.sum(c1 * cy).cast("double").alias("s1y"),
        F.sum(c2 * cy).cast("double").alias("s2y"),
        F.sum(cy * cy).cast("double").alias("syy"),
    )


def ols2_fit(df: DataFrame, x1: str, x2: str, y: str) -> DataFrame:
    """Fit y ~ b0 + b1·x1 + b2·x2; returns ONE row
    (n, b0, b1, b2, sse, sst) — exact-decimal moments, literal solve."""
    m = ols2_moments(df, x1, x2, y)
    return m.selectExpr(
        "*", f"{OLS2_B0} as b0", f"{OLS2_B1} as b1", f"{OLS2_B2} as b2"
    ).selectExpr(
        "n", "b0", "b1", "b2",
        f"{OLS2_SSE} as sse",
        f"{OLS2_SST} as sst",
    )


def ols2_residuals(
    df: DataFrame, x1: str, x2: str, y: str, fit: DataFrame
) -> DataFrame:
    """Map-only scoring pass: appends prediction + residual columns with
    the one-row fit broadcast (no shuffle of df)."""
    b = F.broadcast(fit.select("b0", "b1", "b2"))
    return (
        df.crossJoin(b)
        .withColumn(
            "_pred",
            F.col("b0") + F.col("b1") * F.col(x1) + F.col("b2") * F.col(x2),
        )
        .withColumn("_resid", F.col(y) - F.col("_pred"))
    )


# --- one-pass k-fold cross-validation ---------------------------------------

#: moment-sum expression bodies over the decimal feature columns
#: (x1d, x2d, yd) — shared verbatim with SQL oracles
def fold_expr_spark(key_expr: str, k: int, salt: str = "f") -> str:
    """md5 fold bucket, Spark spelling. ONE definition per engine so the
    salt/hex-width/modulus can never drift between call sites (the
    OLS2_*/MIX_QD_SQL shared-text convention)."""
    return (
        f"CAST(conv(substring(md5(concat({key_expr}, '#{salt}')), 1, 15),"
        f" 16, 10) AS BIGINT) % {k}"
    )


def fold_expr_sql(key_sql: str, k: int, salt: str = "f") -> str:
    """md5 fold bucket, DuckDB spelling — the twin of fold_expr_spark."""
    return (
        f"('0x' || substr(md5({key_sql} || '#{salt}'), 1, 15))::BIGINT % {k}"
    )


OLS2_MOMENT_EXPRS: dict[str, str] = {
    "s1": "x1d",
    "s2": "x2d",
    "sy": "yd",
    "s11": "x1d * x1d",
    "s12": "x1d * x2d",
    "s22": "x2d * x2d",
    "s1y": "x1d * yd",
    "s2y": "x2d * yd",
    "syy": "yd * yd",
}


def ols2_kfold(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    key_expr: str,
    k: int = 5,
) -> DataFrame:
    """k-fold cross-validation of the 2-feature OLS in ONE distributed
    pass: per-fold exact-decimal moments from one grouped aggregation,
    TRAIN moments for each fold by SUBTRACTION from the totals
    (complement = total − fold, exact on decimals), betas from the
    closed-form solve on the complement, and out-of-fold SSE/SST
    evaluated on the held-out fold's own moments — the same
    SSE = Syy − 2βᵀSxy + βᵀSxxβ identity, so no scoring scan either.

    At 100 TB: the corpus is read once; everything after the k-row moment
    table is literal arithmetic. Folds are md5-bucketed on ``key_expr``
    (engine-portable), so fold membership replays identically in a SQL
    oracle, and the decimal contract makes every moment — hence every
    beta and every R² — bit-identical cross-engine before rounding.

    Returns one row per fold:
    (fold, n_train, n_test, b0, b1, b2 @6dp, r2_oof, rmse_oof @4dp).
    """
    feats = df.selectExpr(
        f"CAST({x1} AS {_DEC}) AS x1d",
        f"CAST({x2} AS {_DEC}) AS x2d",
        f"CAST({y} AS {_DEC}) AS yd",
        f"{fold_expr_spark(key_expr, k)} AS fold",
    )
    per = feats.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("fn"),
        *[
            F.expr(f"SUM({e})").alias(f"f_{m}")
            for m, e in OLS2_MOMENT_EXPRS.items()
        ],
    # the k-row moment table feeds BOTH the totals and the train stage;
    # without truncation each branch re-runs the corpus aggregation
    # (the factorization localCheckpoint pattern — materialized state is
    # k rows of moments)
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("fn").alias("tn"),
        *[F.sum(f"f_{m}").alias(f"t_{m}") for m in OLS2_MOMENT_EXPRS],
    )
    train = per.crossJoin(F.broadcast(tot)).selectExpr(
        "fold",
        "tn - fn AS n",
        "fn AS n_test_d",
        *[f"{dec2dbl_sql(f't_{m} - f_{m}')} AS {m}" for m in OLS2_MOMENT_EXPRS],
        *[f"{dec2dbl_sql(f'f_{m}')} AS tf_{m}" for m in OLS2_MOMENT_EXPRS],
    )
    fitted = train.selectExpr(
        "*", f"{OLS2_B0} AS b0", f"{OLS2_B1} AS b1", f"{OLS2_B2} AS b2"
    )
    test = fitted.selectExpr(
        "fold",
        "b0", "b1", "b2",
        "CAST(n AS BIGINT) AS n_train",
        "CAST(n_test_d AS BIGINT) AS n_test",
        "n_test_d AS n",
        *[f"tf_{m} AS {m}" for m in OLS2_MOMENT_EXPRS],
    )
    return test.selectExpr(
        "fold",
        "n_train",
        "n_test",
        "ROUND(b0, 6) + 0 AS b0",
        "ROUND(b1, 6) + 0 AS b1",
        "ROUND(b2, 6) + 0 AS b2",
        f"ROUND(1.0 - {OLS2_SSE} / {OLS2_SST}, 4) + 0 AS r2_oof",
        # GREATEST(·, 0): on an exactly-linear fold the SSE identity
        # cancels to ~±1e-9 in doubles; a tiny negative would sqrt to NaN
        f"ROUND(sqrt(GREATEST({OLS2_SSE}, 0.0) / n), 4) AS rmse_oof",
    )


# ===========================================================================
# Distributed logistic regression (IRLS / Newton) — quality-classifier
# training as one exact-integer aggregation pass per iteration
# ===========================================================================
#
# The corpus-curation classifier shape (CCNet / fastText-style quality and
# language filters): fit p(y|x) = sigmoid(b0 + b1·x1 + b2·x2) over document
# features. Newton / IRLS needs, per iteration, only the gradient
# g_j = Σ (y−p)·x_j and the Hessian H_jk = Σ p(1−p)·x_j·x_k — O(d²) values
# from ONE map-side-combined aggregation over any corpus size, then a tiny
# closed-form 3×3 solve (the SAME adjugate text as OLS2_B*: H·Δ = g has the
# identical symmetric-matrix shape). At 100 TB each iteration is one scan;
# nothing else changes.
#
# Determinism contract (the factorization/pagerank integer-state recipe,
# with ONE quantified probabilistic element): features are pinned to
# BIGINT on entry (X̃ = round(x·10^4)), the beta state is BIGINT
# b̃i = round(β̃·10^12) in the scaled-feature basis (β̃ = β/10^4), and the
# per-row probability is pinned to BIGINT pi = round(p·10^7). From those
# integers the per-row logit (Σ b̃i·X̃, exact BIGINT), the IRLS weight
# wi = pi·(10^7 − pi), the residual ri = y·10^7 − pi, and every moment
# product are EXACT integers, so all gradient/Hessian sums are
# order-independent (DECIMAL(38,0) sums — the DECIMAL(19,0)×DECIMAL(19,0)
# product pattern from functions/factorization.py, loud on overflow).
# The Newton solve and the beta update are single-IEEE-op shared
# expression text on identical scalar inputs. The ONE transcendental is
# EXP inside the sigmoid: engines may differ by ~1 ulp on identical z, so
# the pi pin is probabilistic — odds ≈ ulp(p·10^7)/1 ≈ 2e-9 per row-value
# × rows × iters ≈ 6e-6 per run at sf0.01 (500 docs × 3 iters), ~6e-5 at
# sf0.1 — the quantified-negligible class documented in
# functions/clustering.py (kmeans M-step pins), not the per-row-state
# class that required the factorization upgrade. Everything downstream of
# pi is exact.
#
# Bounds (loud, never silent): |X̃| ≤ 10^5 (|x| ≤ 10 documented), wi ≤
# 2.5·10^13 < 10^19, X̃j·X̃k ≤ 10^10 (BIGINT-exact), per-row Hessian term
# ≤ 2.5·10^23 (DECIMAL(38,0)-exact), Hessian sum < 10^38 up to ~10^14
# rows. z = zi/10^12 saturates EXP cleanly (p hits exactly 0 or 10^7).
# Pin scales, literal in the SQL below: features 10^4, beta state 10^12
# (scaled-feature basis), probabilities 10^7.

LOGREG_MOMENTS = ["n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y"]

# Shared-text structural non-null contract for the pinned design (x1, x2):
# the SAME predicate filters the Spark pinned frames (logreg/stump/tree/
# woe/adaboost) AND the oracle rows CTEs, so a NULL raw feature can never
# put a NULL-keyed row into a b-ordered cumulative window (divergent
# NULLS FIRST/LAST defaults) or inflate COUNT(*) against NULL-skipping
# moment SUMs (the degeneracy guard's rn) — r9 advisor items 1+2.
PIN_NOTNULL = "x1 IS NOT NULL AND x2 IS NOT NULL"


def logreg_xpin_sql(x: str) -> str:
    """Shared-text feature pin: round(x·10^4) as BIGINT. The raw feature
    expression must be a deterministic per-row chain of single IEEE ops
    (catalog-wide convention) with |x| ≤ 10."""
    return f"CAST(ROUND(({x}) * 1e4, 0) AS BIGINT)"


def logreg_z_sql(bi0: str, bi1: str, bi2: str, x1: str, x2: str) -> str:
    """Shared-text integer logit: Σ b̃i_j·X̃_j — exact BIGINT (the
    intercept's pinned feature is the constant 10^4). The real logit is
    this / 10^12."""
    return f"({bi0} * 10000 + {bi1} * {x1} + {bi2} * {x2})"


def logreg_p_sql(zi: str) -> str:
    """Shared-text probability pin: round(sigmoid(zi/10^12)·10^7) as
    BIGINT. EXP is the contract's one transcendental (odds analysis in
    the section header); saturation is exact (EXP→inf gives pi=0,
    EXP→0 gives pi=10^7)."""
    return f"CAST(ROUND(1e7 / (1.0 + EXP(-(({zi}) / 1e12))), 0) AS BIGINT)"


def logreg_moment_exprs() -> list[str]:
    """The nine aggregate texts (shared verbatim) producing the Hessian
    under the OLS2 moment names (n,s1,s2,s11,s12,s22 ← H̃) and the
    gradient under the rhs names (sy,s1y,s2y ← g̃), so OLS2_B0/B1/B2
    compute the Newton direction H̃⁻¹g̃ unchanged. Inputs: per-row
    columns y (0/1), x1, x2 (pinned BIGINT), pi (pinned BIGINT)."""
    w = "(pi * (10000000 - pi))"
    r = "(y * 10000000 - pi)"

    def h(a: str, b: str) -> str:
        return (
            f"SUM(CAST({w} AS DECIMAL(19,0))"
            f" * CAST({a} * {b} AS DECIMAL(19,0)))"
        )

    def g(a: str) -> str:
        return f"SUM(CAST({r} * {a} AS DECIMAL(38,0)))"

    return [
        f"{h('10000', '10000')} AS n",
        f"{h('10000', 'x1')} AS s1",
        f"{h('10000', 'x2')} AS s2",
        f"{h('x1', 'x1')} AS s11",
        f"{h('x1', 'x2')} AS s12",
        f"{h('x2', 'x2')} AS s22",
        f"{g('10000')} AS sy",
        f"{g('x1')} AS s1y",
        f"{g('x2')} AS s2y",
    ]


def logreg_update_sql(bi: str, newton_dir: str) -> str:
    """Shared-text beta state update: b̃i' = round(b̃i + 10^7·d·10^12)
    where d = (H̃⁻¹g̃)_j from the OLS2 adjugate text. The 10^7 rescales
    the pinned-integer Newton direction back to the real β̃ step
    (H̃ carries PS², g̃ carries PS — see the section header); fixed
    left-assoc op order, every operand exact or identically computed."""
    return f"CAST(ROUND({bi} + 1e7 * ({newton_dir}) * 1e12, 0) AS BIGINT)"


def logreg_beta_out_sql(bi: str, out_dp: int = 6) -> str:
    """Shared-text output beta in the RAW feature basis:
    β = β̃·10^4 = bi/10^12·10^4, rounded with signed-zero normalization
    (betas can be negative and round to ±0)."""
    return f"ROUND({bi} / 1e12 * 1e4, {out_dp}) + 0"


def logreg_fit_irls(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    iters: int = 3,
    where: str | None = None,
    check_degenerate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Fit the 2-feature logistic model by ``iters`` unrolled Newton
    steps from β = 0 (where p = 0.5 EXACTLY, so the first step is a pure
    integer weighted-least-squares step).

    Returns (pinned_rows, beta): the pinned per-row frame
    (y, x1, x2 — BIGINT) and the one-row BIGINT beta state
    (bi0, bi1, bi2). Use logreg_summary for the reporting frame.

    Scale shape: per iteration, one map-only scoring pass over the pinned
    rows (beta rides in via crossJoin(broadcast) — one row) + one
    map-side-combined global aggregation to 9 values + a one-row solve.
    The pinned rows are localCheckpoint'd ONCE; each beta state is a
    localCheckpoint'd single row, so plans stay flat across iterations
    (the factorization pattern). The only driver-side collect is the
    default-on degeneracy guard's one-row moment check
    (_raise_on_degenerate_design), which turns a singular design into a
    named failure instead of a silent cross-engine divergence — and that
    pass is NOT extra: its raw moments seed iteration 1 exactly
    (_iter1_moments_from_raw — at β = 0 every pi is 5·10⁶), so the
    guarded fit runs the same ``iters`` corpus scans as the unguarded
    one. Rows with a NULL pinned feature are dropped structurally
    (PIN_NOTNULL — shared text with the oracle rows CTEs).
    """
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
    spark = pinned.sparkSession
    beta = spark.range(1).selectExpr(
        "CAST(0 AS BIGINT) AS bi0",
        "CAST(0 AS BIGINT) AS bi1",
        "CAST(0 AS BIGINT) AS bi2",
    )
    z = logreg_z_sql("bi0", "bi1", "bi2", "x1", "x2")
    remaining = iters
    if check_degenerate:
        # The guard already paid one full-corpus pass for the exact raw
        # moments; at β = 0 every pi is EXACTLY 5·10⁶ (z ≡ 0 and
        # EXP(-0.0) is IEEE-exact), so iteration 1's nine weighted
        # moments are affine in those raw moments — seed the first
        # Newton step from the guard's row (exact Python-bigint algebra
        # + the identical dec2dbl/OLS2 shared text) and skip its scan.
        raw = _raise_on_degenerate_design(pinned)
    if check_degenerate and iters > 0:
        mom = _literal_moment_frame(spark, _iter1_moments_from_raw(raw))
        beta = (
            mom.crossJoin(F.broadcast(beta))
            .selectExpr(
                f"{logreg_update_sql('bi0', OLS2_B0)} AS bi0",
                f"{logreg_update_sql('bi1', OLS2_B1)} AS bi1",
                f"{logreg_update_sql('bi2', OLS2_B2)} AS bi2",
            )
            .localCheckpoint(eager=True)
        )
        remaining = iters - 1
    for _ in range(remaining):
        scored = pinned.crossJoin(F.broadcast(beta)).selectExpr(
            "y", "x1", "x2", f"{logreg_p_sql(z)} AS pi"
        )
        mom = scored.selectExpr(*logreg_moment_exprs()).selectExpr(
            *[f"{dec2dbl_sql(m)} AS {m}" for m in LOGREG_MOMENTS]
        )
        beta = (
            mom.crossJoin(F.broadcast(beta))
            .selectExpr(
                f"{logreg_update_sql('bi0', OLS2_B0)} AS bi0",
                f"{logreg_update_sql('bi1', OLS2_B1)} AS bi1",
                f"{logreg_update_sql('bi2', OLS2_B2)} AS bi2",
            )
            .localCheckpoint(eager=True)
        )
    return pinned, beta


def logreg_summary(pinned: DataFrame, beta: DataFrame) -> DataFrame:
    """One-row report: (n_docs, n_pos, b0, b1, b2 @6dp raw-basis,
    accuracy @6dp). The 0.5-decision accuracy is EXACT: pred positive iff
    the integer logit > 0 — no float compare anywhere."""
    z = logreg_z_sql("bi0", "bi1", "bi2", "x1", "x2")
    return (
        pinned.crossJoin(F.broadcast(beta))
        .groupBy("bi0", "bi1", "bi2")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(y) AS BIGINT)").alias("n_pos"),
            F.expr(
                f"ROUND(SUM(CASE WHEN ({z} > 0) = (y = 1) THEN 1 ELSE 0"
                " END) / CAST(COUNT(*) AS DOUBLE), 6)"
            ).alias("accuracy"),
        )
        .selectExpr(
            "n_docs",
            "n_pos",
            f"{logreg_beta_out_sql('bi0')} AS b0",
            f"{logreg_beta_out_sql('bi1')} AS b1",
            f"{logreg_beta_out_sql('bi2')} AS b2",
            "accuracy",
        )
    )


def logreg_kfold(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    key_expr: str,
    k: int = 5,
    iters: int = 3,
    where: str | None = None,
    check_degenerate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """k-fold cross-validation of the logistic model: every fold's
    classifier is trained on its COMPLEMENT by the same unrolled IRLS,
    all k fits advancing together — per iteration ONE scoring pass over
    the k·(k−1)/k-expanded rows (each row scores under the k−1 complement
    betas that include it; betas ride in via one broadcast k-row frame)
    and ONE map-side-combined aggregation to k×9 exact-integer moments,
    then k independent 3×3 solves. Unlike the OLS k-fold, complement
    moments cannot come from total−fold subtraction (they depend on each
    fold's own beta — the model is nonlinear), so the k× scoring fan-out
    is inherent; it is map-only and shuffles only k×9 values.

    Folds are md5-bucketed on ``key_expr`` (fold_expr_spark — engine-
    portable, replays identically in the oracle). Determinism: identical
    to logreg_fit_irls (exact integer state per fold; EXP is the one
    quantified-probabilistic pin). The guard's k-row complement collect
    seeds all k first Newton steps (β = 0 → pi exactly 5·10⁶), so the
    guarded k-fold runs ``iters`` scans, same as unguarded.

    Returns (pinned_rows, betas): pinned rows carry (y, x1, x2, fold);
    betas is the k-row BIGINT state (bfold, bi0, bi1, bi2). Use
    logreg_kfold_summary for the per-fold out-of-fold report.
    """
    base = df.filter(F.expr(where)) if where else df
    pinned = (
        base.selectExpr(
            f"CAST({y} AS BIGINT) AS y",
            f"{logreg_xpin_sql(x1)} AS x1",
            f"{logreg_xpin_sql(x2)} AS x2",
            f"CAST({fold_expr_spark(key_expr, k)} AS INT) AS fold",
        )
        .filter(PIN_NOTNULL)
        .localCheckpoint(eager=True)
    )
    spark = pinned.sparkSession
    betas = spark.range(k).selectExpr(
        "CAST(id AS INT) AS bfold",
        "CAST(0 AS BIGINT) AS bi0",
        "CAST(0 AS BIGINT) AS bi1",
        "CAST(0 AS BIGINT) AS bi2",
    )
    z = logreg_z_sql("bi0", "bi1", "bi2", "x1", "x2")
    remaining = iters
    if check_degenerate:
        # Same amortization as logreg_fit_irls: the guard's per-fold raw
        # moments give every COMPLEMENT's exact raw moments (unweighted
        # moments subtract), and at β = 0 each complement's iteration-1
        # weighted moments are affine in them — seed all k first Newton
        # steps from the guard's k-row collect and skip iteration 1's
        # k-fan-out scoring scan.
        comps = _raise_on_degenerate_complements(pinned, folds=range(k))
    if check_degenerate and iters > 0:
        mom = _literal_moment_frame_keyed(
            spark,
            "bfold",
            "int",
            {f: _iter1_moments_from_raw(m) for f, m in comps.items()},
        )
        betas = (
            mom.join(F.broadcast(betas), "bfold")
            .selectExpr(
                "bfold",
                f"{logreg_update_sql('bi0', OLS2_B0)} AS bi0",
                f"{logreg_update_sql('bi1', OLS2_B1)} AS bi1",
                f"{logreg_update_sql('bi2', OLS2_B2)} AS bi2",
            )
            .localCheckpoint(eager=True)
        )
        remaining = iters - 1
    for _ in range(remaining):
        scored = (
            pinned.crossJoin(F.broadcast(betas))
            .filter("fold <> bfold")
            .selectExpr("bfold", "y", "x1", "x2", f"{logreg_p_sql(z)} AS pi")
        )
        mom = (
            scored.groupBy("bfold")
            .agg(
                *[
                    F.expr(e.rsplit(" AS ", 1)[0]).alias(
                        e.rsplit(" AS ", 1)[1]
                    )
                    for e in logreg_moment_exprs()
                ]
            )
            .selectExpr(
                "bfold", *[f"{dec2dbl_sql(m)} AS {m}" for m in LOGREG_MOMENTS]
            )
        )
        betas = (
            mom.join(F.broadcast(betas), "bfold")
            .selectExpr(
                "bfold",
                f"{logreg_update_sql('bi0', OLS2_B0)} AS bi0",
                f"{logreg_update_sql('bi1', OLS2_B1)} AS bi1",
                f"{logreg_update_sql('bi2', OLS2_B2)} AS bi2",
            )
            .localCheckpoint(eager=True)
        )
    return pinned, betas


def logreg_kfold_summary(pinned: DataFrame, betas: DataFrame) -> DataFrame:
    """Per-fold out-of-fold report: each row is scored ONCE, under the
    beta whose training complement excluded it — the honest held-out
    decision (EXACT: integer logit sign test). Returns one row per fold:
    (fold, n_train, n_test, b0, b1, b2 @6dp, accuracy_oof @6dp)."""
    z = logreg_z_sql("bi0", "bi1", "bi2", "x1", "x2")
    total = pinned.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_total")
    )
    return (
        pinned.join(
            F.broadcast(betas), pinned["fold"] == betas["bfold"]
        )
        .groupBy("fold", "bi0", "bi1", "bi2")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_test"),
            F.expr(
                f"ROUND(SUM(CASE WHEN ({z} > 0) = (y = 1) THEN 1 ELSE 0"
                " END) / CAST(COUNT(*) AS DOUBLE), 6)"
            ).alias("accuracy_oof"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "fold",
            "n_total - n_test AS n_train",
            "n_test",
            f"{logreg_beta_out_sql('bi0')} AS b0",
            f"{logreg_beta_out_sql('bi1')} AS b1",
            f"{logreg_beta_out_sql('bi2')} AS b2",
            "accuracy_oof",
        )
        .orderBy("fold")
    )


def auc_u2_sum_sql() -> str:
    """Shared-text twice-Mann-Whitney numerator over the per-score table
    (pi, n_p, n_n, cum_nn): 2U = Σ n_p·(2·neg_below + n_n) — the
    tie-averaged rank-sum AUC, doubled to stay integral. Exact BIGINT
    (2U ≤ 2·n_pos·n_neg < 2^63 to ~2·10^9 rows; the outer cast also pins
    DuckDB's HUGEINT sum back to one correctly-rounded BIGINT→DOUBLE
    conversion downstream — the dec2dbl double-rounding lesson)."""
    return "CAST(SUM(n_p * (2 * (cum_nn - n_n) + n_n)) AS BIGINT)"


def auc_out_sql(u2: str, npos: str, nneg: str, out_dp: int = 6) -> str:
    """Shared-text AUC = 2U / (2·n_pos·n_neg): exact integers into one
    division chain of single IEEE ops (AUC ∈ [0,1] — no signed-zero
    hazard). Undefined (single-class input) follows IEEE through the
    division on both engines; callers guarantee both classes present.
    (2e0, not 2.0: Spark parses a plain decimal literal as DECIMAL and
    would drag the whole chain into decimal arithmetic; the exponent
    form is DOUBLE on both engines.)"""
    return f"ROUND({u2} / (2e0 * {npos} * {nneg}), {out_dp})"


_RAW_MOMENT_COLS = ("rn", "rs1", "rs2", "rs11", "rs12", "rs22")


def _raw_moment_aggs() -> list:
    """The nine exact raw design/label moments of the pinned BIGINT
    features (DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0) products;
    |x̃| ≤ 10^5 so s11-class sums stay exact to ~10^28 rows). The first
    six feed the singularity test; the y-moments let the fit seed its
    first Newton step from the same pass (_iter1_moments_from_raw).
    COUNT(*) is exact BECAUSE the pinned frames are structurally
    non-null (PIN_NOTNULL) — no NULL row can inflate rn against the
    NULL-skipping SUMs."""

    def _sq(a: str, b: str) -> str:
        return (
            f"CAST(SUM(CAST({a} AS DECIMAL(19,0))"
            f" * CAST({b} AS DECIMAL(19,0))) AS DECIMAL(38,0))"
        )

    return [
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("rn"),
        F.expr(_sq("x1", "1")).alias("rs1"),
        F.expr(_sq("x2", "1")).alias("rs2"),
        F.expr(_sq("x1", "x1")).alias("rs11"),
        F.expr(_sq("x1", "x2")).alias("rs12"),
        F.expr(_sq("x2", "x2")).alias("rs22"),
        F.expr(_sq("y", "1")).alias("ry"),
        F.expr(_sq("y", "x1")).alias("ry1"),
        F.expr(_sq("y", "x2")).alias("ry2"),
    ]


_RAW_Y_COLS = ("ry", "ry1", "ry2")
_RAW_ALL_COLS = _RAW_MOMENT_COLS + _RAW_Y_COLS


def _iter1_moments_from_raw(m: dict) -> dict[str, int]:
    """EXACT iteration-1 weighted moments at β = 0, in Python bigints.

    At β = 0 the integer logit is 0 for every row, and
    pi = ROUND(1e7 / (1.0 + EXP(-0.0))) = 5·10⁶ EXACTLY on any IEEE
    engine (no transcendental variability at z = 0), so the nine
    logreg_moment_exprs collapse to affine combinations of the raw
    design/label moments: constant weight W = pi·(10⁷−pi) = 2.5·10¹³
    multiplies the Hessian moments; the gradient residual
    y·10⁷ − 5·10⁶ splits over the y-moments. Pure ℤ algebra — the
    seeded first Newton step consumes values bit-identical to the
    scanned ones."""
    W = 5_000_000 * 5_000_000  # pi·(10^7 − pi) at pi = 5e6
    P = 10_000_000  # probability pin scale
    H = 5_000_000  # pi at β = 0
    F0 = 10_000  # the intercept's pinned feature
    rn, s1, s2, s11, s12, s22 = (int(m[c]) for c in _RAW_MOMENT_COLS)
    ry, ry1, ry2 = (int(m[c]) for c in _RAW_Y_COLS)
    return {
        "n": W * F0 * F0 * rn,
        "s1": W * F0 * s1,
        "s2": W * F0 * s2,
        "s11": W * s11,
        "s12": W * s12,
        "s22": W * s22,
        "sy": F0 * (P * ry - H * rn),
        "s1y": P * ry1 - H * s1,
        "s2y": P * ry2 - H * s2,
    }


def _literal_moment_frame(
    spark, m: dict[str, int], extra: str | None = None
) -> DataFrame:
    """One-row frame of the nine iteration-1 moments as exact-digit
    literals routed through the SAME dec2dbl tail the scan path uses
    (DECIMAL(38,0) → STRING → DOUBLE: exact digits + one correctly-
    rounded parse), so the seeded Newton step is bit-identical to the
    scanned one. ``extra`` prepends a key select (e.g. a fold id)."""
    sel = [extra] if extra else []
    for c in LOGREG_MOMENTS:
        lit = "CAST('" + str(m[c]) + "' AS DECIMAL(38,0))"
        sel.append(f"{dec2dbl_sql(lit)} AS {c}")
    return spark.range(1).selectExpr(*sel)


def _literal_moment_frame_keyed(
    spark, key_col: str, key_type: str, mapping: dict
) -> DataFrame:
    """Keyed literal moment frame: ONE createDataFrame of
    (key, 9 exact-digit STRINGS) — one row per fold/group, bounded by
    the same contract that bounds the guard's collect and the broadcast
    beta frame — then one selectExpr applying the identical
    string → DECIMAL(38,0) → dec2dbl tail per column. (NOT a per-key
    union: chaining G one-row unions makes Catalyst analysis quadratic
    in G and stalls the driver for minutes at G ≥ 10³ — measured in the
    r10 scaling sweep.) The digit strings parse exactly into
    DECIMAL(38,0), so the value chain is bit-identical to the one-row
    literal route."""
    rows = [
        tuple([kv] + [str(mapping[kv][c]) for c in LOGREG_MOMENTS])
        for kv in sorted(mapping)
    ]
    schema = ", ".join(
        [f"{key_col} {key_type}"] + [f"{c} string" for c in LOGREG_MOMENTS]
    )
    raw = spark.createDataFrame(rows, schema)
    return raw.selectExpr(
        key_col,
        *[
            f"{dec2dbl_sql(f'CAST({c} AS DECIMAL(38,0))')} AS {c}"
            for c in LOGREG_MOMENTS
        ],
    )


def _is_singular(m: dict) -> bool:
    """Exact singularity of the intercept-augmented design moment matrix:
    n·det(M) = (n·s11 − s1²)(n·s22 − s2²) − (n·s12 − s1·s2)² == 0,
    evaluated in Python bigints — a zero-test with no rounding at any
    step (a feature constant in the slice, affinely collinear features,
    and < 3 distinct rows all land here)."""
    rn, s1, s2, s11, s12, s22 = (int(m[c]) for c in _RAW_MOMENT_COLS)
    a = rn * s11 - s1 * s1
    b = rn * s22 - s2 * s2
    c = rn * s12 - s1 * s2
    return a * b == c * c


def _raise_on_degenerate_design(pinned: DataFrame) -> dict:
    """Single-fit guard: one aggregation to the nine raw moments (a
    one-row bounded collect), exact singularity test, named failure —
    the same inf/NaN CAST divergence hazard the grouped guard closes.
    Returns the raw-moment row so the fit can seed its first Newton
    step from the same pass (no second corpus scan)."""
    row = pinned.agg(*_raw_moment_aggs()).collect()[0].asDict()
    if _is_singular(row):
        raise ValueError(
            "logreg_fit_irls: degenerate design — a pinned feature is "
            "constant (or the two features are affinely collinear, or "
            "there are fewer than 3 distinct rows), so the IRLS Hessian "
            "is exactly singular and the closed-form solve would divide "
            "by zero (divergent inf/NaN CAST semantics across engines)."
        )
    return row


def _raise_on_degenerate_complements(
    pinned: DataFrame, folds=None
) -> dict[int, dict]:
    """k-fold guard: each fold TRAINS on its complement, so the design
    that must be non-degenerate is every complement's. Raw moments are
    unweighted, so complement moments are exact subtractions
    totals − fold (one k-row bounded collect); the singularity test per
    complement is the same Python-bigint zero-test. Returns every
    complement's raw moments (keyed by fold — all of ``folds`` when
    given, so an empty fold's complement is the totals), letting the
    fit seed all k first Newton steps from the same pass."""
    rows = pinned.groupBy("fold").agg(*_raw_moment_aggs()).collect()
    tot = {
        c: sum(int(r[c]) for r in rows) for c in _RAW_ALL_COLS
    }
    per = {int(r["fold"]): r for r in rows}
    fold_ids = sorted(folds) if folds is not None else sorted(per)
    comps = {
        f: {
            c: tot[c] - (int(per[f][c]) if f in per else 0)
            for c in _RAW_ALL_COLS
        }
        for f in fold_ids
    }
    bad = sorted(f for f, m in comps.items() if _is_singular(m))
    if bad:
        raise ValueError(
            f"logreg_kfold: degenerate training design for the "
            f"complement(s) of fold(s) {bad} — outside those folds a "
            "pinned feature is constant (or the features are affinely "
            "collinear), so those folds' IRLS Hessians are exactly "
            "singular and the closed-form solve would divide by zero "
            "(divergent inf/NaN CAST semantics across engines)."
        )
    return comps


def _raise_on_null_group_key(
    groups_df: DataFrame, g_col: str, fit_name: str
) -> None:
    """Unconditional NULL-group-key guard shared by every grouped fit
    (logreg farm, AdaBoost farm). A NULL key would (a) crash the logreg
    seeded path's sorted(mapping) with a None-vs-str TypeError and (b)
    silently vanish from every null-unsafe per-group model join (beta /
    grid / stump frames) — silent data loss, not an error. Fail named
    instead, on EVERY path (including check_degenerate=False: the first
    cut gated this behind the degeneracy opt-out, leaving the opt-out
    path with exactly the silent drop the error says cannot happen).
    Bounded: one existence probe (limit 1) against an already-
    checkpointed group-sized frame."""
    if groups_df.filter(F.expr(f"{g_col} IS NULL")).limit(1).count() > 0:
        raise ValueError(
            f"{fit_name}: NULL group key — the group expression "
            "produced NULL for some rows. A NULL key cannot ride the "
            "null-unsafe per-group model joins (the rows would "
            "silently drop from the fit); COALESCE the group expression "
            "or filter NULL keys explicitly."
        )


def _raise_on_degenerate_groups(pinned: DataFrame) -> dict:
    """Exact per-group design-rank check for the grouped IRLS. Bounded
    collect: one 9-moment row per group (the broadcast-beta bound).
    Returns the per-group raw moments for iteration-1 seeding. NULL
    group keys are rejected before this runs (_raise_on_null_group_key,
    unconditional in every grouped fit), so the seeded path's
    sorted(mapping) cannot see a None key."""
    stats = pinned.groupBy("g").agg(*_raw_moment_aggs()).collect()
    bad: list[str] = []
    for r in stats:
        if _is_singular(r.asDict()):
            bad.append(str(r["g"]))
    if bad:
        bad = sorted(bad)
        shown = bad if len(bad) <= 10 else bad[:10] + [f"... {len(bad) - 10} more"]
        raise ValueError(
            "logreg_fit_irls_grouped: degenerate design in "
            f"{len(bad)} group(s) "
            f"{shown} — a pinned feature is constant within the "
            "group (or the two features are affinely collinear), so the "
            "IRLS Hessian is exactly singular and the closed-form solve "
            "would divide by zero (divergent inf/NaN CAST semantics "
            "across engines). Drop or re-feature these groups, or widen "
            "the WHERE filter."
        )
    return {r["g"]: r.asDict() for r in stats}


def logreg_fit_irls_grouped(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    group_expr: str,
    iters: int = 3,
    where: str | None = None,
    check_degenerate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """One logistic model PER GROUP (per-source / per-domain quality
    filters), every group's IRLS advancing together: per iteration ONE
    map-only scoring pass (each row scores under its own group's beta,
    riding in via a broadcast of the per-group beta frame) and ONE
    grouped aggregation to groups×9 exact-integer moments, then
    independent closed-form solves — training thousands of per-domain
    filters costs the same scan count as training one.

    Determinism identical to logreg_fit_irls. A degenerate per-group
    design (a feature constant within the group, or the two features
    affinely collinear) makes the Hessian exactly singular, and the
    solve's division-by-zero follows different inf/NaN CAST semantics
    across engines — a silent cross-engine hash divergence. With
    ``check_degenerate`` (the default) the fit detects this EXACTLY and
    fails named: one extra grouped aggregation over the pinned integers
    to the six raw moments, then per group the singularity test
    n·det(M) = A·B − C² == 0 (A = n·s11 − s1², B = n·s22 − s2²,
    C = n·s12 − s1·s2) in arbitrary-precision Python integers — no
    float anywhere, so the test cannot itself diverge. The collect is
    bounded by the group count (the same bound that justifies the
    broadcast beta frame). Residual caveat: a full-rank design whose
    informative rows ALL saturate (pi exactly 0/10^7) at a later
    iteration can still produce a singular weighted Hessian — the guard
    certifies the iteration-1 (uniform-weight) Hessian, which is the
    design-rank property.

    The beta frame is broadcast — right for bounded group counts
    (domains/sources); swap the two broadcast joins for shuffle joins
    if groups are unbounded.

    Returns (pinned_rows(g, y, x1, x2), betas(g, bi0, bi1, bi2))."""
    base = df.filter(F.expr(where)) if where else df
    pinned = (
        base.selectExpr(
            f"({group_expr}) AS g",
            f"CAST({y} AS BIGINT) AS y",
            f"{logreg_xpin_sql(x1)} AS x1",
            f"{logreg_xpin_sql(x2)} AS x2",
        )
        .filter(PIN_NOTNULL)
        .localCheckpoint(eager=True)
    )
    spark = pinned.sparkSession
    betas = (
        pinned.select("g")
        .distinct()
        .selectExpr(
            "g",
            "CAST(0 AS BIGINT) AS bi0",
            "CAST(0 AS BIGINT) AS bi1",
            "CAST(0 AS BIGINT) AS bi2",
        )
        .localCheckpoint(eager=True)
    )
    _raise_on_null_group_key(betas, "g", "logreg_fit_irls_grouped")
    z = logreg_z_sql("bi0", "bi1", "bi2", "x1", "x2")
    remaining = iters
    if check_degenerate:
        # Same amortization as logreg_fit_irls, per group: the guard's
        # groups×9 raw-moment collect seeds every group's first Newton
        # step (β = 0 → pi exactly 5·10⁶ everywhere), skipping
        # iteration 1's corpus scan.
        raws = _raise_on_degenerate_groups(pinned)
    if check_degenerate and iters > 0:
        mom = _literal_moment_frame_keyed(
            spark,
            "g",
            dict(pinned.dtypes)["g"],
            {g: _iter1_moments_from_raw(m) for g, m in raws.items()},
        )
        betas = (
            mom.join(F.broadcast(betas), "g")
            .selectExpr(
                "g",
                f"{logreg_update_sql('bi0', OLS2_B0)} AS bi0",
                f"{logreg_update_sql('bi1', OLS2_B1)} AS bi1",
                f"{logreg_update_sql('bi2', OLS2_B2)} AS bi2",
            )
            .localCheckpoint(eager=True)
        )
        remaining = iters - 1
    for _ in range(remaining):
        scored = pinned.join(F.broadcast(betas), "g").selectExpr(
            "g", "y", "x1", "x2", f"{logreg_p_sql(z)} AS pi"
        )
        mom = (
            scored.groupBy("g")
            .agg(
                *[
                    F.expr(e.rsplit(" AS ", 1)[0]).alias(
                        e.rsplit(" AS ", 1)[1]
                    )
                    for e in logreg_moment_exprs()
                ]
            )
            .selectExpr(
                "g", *[f"{dec2dbl_sql(m)} AS {m}" for m in LOGREG_MOMENTS]
            )
        )
        betas = (
            mom.join(F.broadcast(betas), "g")
            .selectExpr(
                "g",
                f"{logreg_update_sql('bi0', OLS2_B0)} AS bi0",
                f"{logreg_update_sql('bi1', OLS2_B1)} AS bi1",
                f"{logreg_update_sql('bi2', OLS2_B2)} AS bi2",
            )
            .localCheckpoint(eager=True)
        )
    return pinned, betas


def logreg_group_summary(pinned: DataFrame, betas: DataFrame) -> DataFrame:
    """Per-group report: (g, n_docs, n_pos, b0, b1, b2 @6dp raw basis,
    accuracy @6dp — the exact integer-logit decision)."""
    z = logreg_z_sql("bi0", "bi1", "bi2", "x1", "x2")
    return (
        pinned.join(F.broadcast(betas), "g")
        .groupBy("g", "bi0", "bi1", "bi2")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(y) AS BIGINT)").alias("n_pos"),
            F.expr(
                f"ROUND(SUM(CASE WHEN ({z} > 0) = (y = 1) THEN 1 ELSE 0"
                " END) / CAST(COUNT(*) AS DOUBLE), 6)"
            ).alias("accuracy"),
        )
        .selectExpr(
            "g",
            "n_docs",
            "n_pos",
            f"{logreg_beta_out_sql('bi0')} AS b0",
            f"{logreg_beta_out_sql('bi1')} AS b1",
            f"{logreg_beta_out_sql('bi2')} AS b2",
            "accuracy",
        )
        .orderBy("g")
    )
