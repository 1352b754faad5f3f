"""Embedding clustering + cluster-confined semantic dedup.

Two operators a training-data pipeline runs over an embedding shard:

  * kmeans_lloyd — distributed Lloyd k-means. Assignment is a pure per-row
    JVM expression against a BROADCAST centroid literal (k×dim doubles ride
    inside the plan — no join, no shuffle for the E-step); the M-step is a
    posexplode + groupBy(cid, pos) average whose output is k×dim rows — a
    bounded collect regardless of corpus size (the same recipe knn_ivf uses
    for its coarse quantizer, similarity.py:_spherical_kmeans, except here
    the average itself is distributed so the sample IS the corpus).
    Per-iteration cost at 100 TB: one map-only pass for assignment + one
    map-side-combined aggregation keyed on (cid, pos) — k·dim groups, so
    the shuffle payload is tiny no matter the row count.

  * semantic_dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): the
    quadratic near-duplicate search is confined to k-means cells, so the
    pair join is keyed on cluster id and the work is Σ|cell|² instead of
    N². Keep-rule: within a cluster, a vector is dropped iff a
    lower-id vector in the SAME cluster has cosine ≥ threshold — the
    deterministic "keep first representative" policy.

Cross-engine determinism: centroids are rounded to 6 dp after every
M-step on BOTH engines, so ulp-level float-sum ordering differences
(Spark partial aggregation vs DuckDB's) cannot drift the next E-step;
assignment ties break on lowest cluster id.

Why this PROBABILISTIC pin is kept here while pagerank/factorization were
upgraded to exact integer state in r8 (quantified escape analysis): a pin
escapes when an aggregation-order ulp difference lands within an ulp of a
rounding boundary, odds ≈ ulp(value)/pin_resolution per pinned value. The
M-step mean divides the coordinate sum by the cell count, so its ulp is
~1e-16 for unit-scale embedding coordinates against a 1e-6 pin → ~1e-10
per value × (k·dim·iters ≈ 10³ pinned values) ≈ 1e-7 escape odds per run
— negligible at any corpus size (the mean's ulp does NOT grow with row
count). Contrast latent_rank2 (per-ROW state: ~10⁴ values × 1e-7
value-ulp/pin ratio at iter_dp=10 ≈ 0.15/run — observed) and pre-r8
pagerank (hub sums, ~1e-3/run). Distance pins (_sq_dist and the kcenter/
PQ-ADC LUTs) are per-row sequential array folds — both engines fold
left-to-right, so they are exactly deterministic, not probabilistic.
If a future bit-level sweep ever catches an M-step escape, the recipe is
functions/factorization.py: pin coordinates to BIGINT on entry, sum exact
integers, divide once.

Reference parity note: the reference engine has no clustering surface —
these belong to the training-data-pipeline extension family
(README "LLM-pipeline surface"), same tier as functions/dedup.py and
functions/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from open_ftth_relational_projector_spark.functions.similarity import (
    as_double,
    cosine_prenormed,
    dlit,
    dlit2,
    l2_norm,
)


def _sq_dist(vec: Column, centroid: Column) -> Column:
    """Squared L2 distance, left-to-right fold (deterministic per row)."""
    return F.aggregate(
        F.zip_with(vec, centroid, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroid_lit(centroids: list[list[float]]) -> Column:
    # ONE nested-array literal (r12, same as similarity._centroid_lit):
    # n_centroids×dim py4j round trips → 1; identical values.
    return dlit2(centroids)


def assign_cluster(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based id of the nearest centroid by squared L2 (ties → lowest id).

    Pure JVM expression over the broadcast centroid literal — no join, no
    shuffle, map-only at any scale. argmin = array_position of the array
    minimum (first occurrence ⇒ lowest-cid tie-break); exact equality is
    safe because the min IS an element of the array. The distance array is
    let-bound so plan rewrites (e.g. projection collapse through a
    posexplode Generate, which also mangles lambda-struct field names —
    why this is not an array_sort-of-structs) evaluate it once.
    """
    from open_ftth_relational_projector_spark.functions.text import let

    cl = _centroid_lit(centroids)
    dists = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: _sq_dist(vec, F.element_at(cl, i)),
    )
    return let(
        dists, lambda d: F.array_position(d, F.array_min(d)).cast("int")
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Run ``iters`` Lloyd iterations; return the final centroids (rounded
    to 6 dp — the cross-engine determinism contract, see module doc).

    Init: the first ``k`` vectors by id (deterministic, sample-free).
    Each iteration collects exactly k×dim doubles (the M-step output) —
    bounded driver traffic regardless of corpus size.
    """
    # r12 (guide §5 caching): the training frame is consumed iters+1 times
    # (init collect + one M-step collect per iteration), and each action
    # otherwise re-executes the input lineage from the source scan —
    # which for ivfpq's residual training is scan + coarse assign +
    # zip_with PER Lloyd step. Persist the projected (id, v) frame for
    # the duration of training and drop it after; the input is
    # deterministic (registry contract), so caching cannot change the
    # fit. At 100 TB training runs on a bounded sample
    # (train_sample_frac), which bounds this cache.
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).persist()
    try:
        init_rows = vecs.orderBy(F.col("vec_id")).limit(k).collect()
        centroids = [[round(float(x), 6) for x in r["v"]] for r in init_rows]
        for _ in range(iters):
            # r13 (guide §1.2): the previous `select(cid, posexplode(v))`
            # + downstream projection let CollapseProject pull the
            # single-referenced assignment fold THROUGH the Generate —
            # the k×dim distance fold re-evaluated once per EXPLODED
            # row, i.e. dim× per vector (measured: the fold sat in the
            # post-Generate Project; ~64× redundant M-step compute).
            # Building the (cid, pos, val) rows inside ONE let-bound
            # generator expression pins the assignment to exactly one
            # evaluation per input row; the emitted (cid, pos, val)
            # multiset — and its per-partition order — is identical.
            from open_ftth_relational_projector_spark.functions.text import let

            gen = let(
                assign_cluster(F.col("v"), centroids),
                lambda cid: F.transform(
                    F.col("v"),
                    lambda x, i: F.struct(
                        cid.alias("cid"), i.alias("pos"), x.alias("val")
                    ),
                ),
            )
            rows = (
                vecs.select(F.explode(gen).alias("e"))
                .groupBy(F.col("e.cid").alias("cid"), F.col("e.pos").alias("pos"))
                .agg(F.avg(F.col("e.val")).alias("cv"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = r["cv"]
            new_centroids = [
                [
                    round(float(by_cid[cid][p]), 6)
                    for p in range(len(centroids[cid - 1]))
                ]
                if cid in by_cid
                else centroids[cid - 1]  # empty cell keeps its old centroid
                for cid in range(1, k + 1)
            ]
            converged = new_centroids == centroids
            centroids = new_centroids
            if converged:
                # Lloyd is a deterministic function of the centroids (rounded
                # to 6 dp before the next E-step), so an unchanged M-step makes
                # every remaining iteration a no-op — the result is identical
                # to running all `iters`, the contract the unrolled SQL oracle
                # pins. Free to detect: the centroids are already on the
                # driver.
                break
    finally:
        vecs.unpersist()
    return centroids


def pq_fit_codebooks(
    corpus: DataFrame,
    m: int,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train all ``m`` per-subspace PQ codebooks JOINTLY — one corpus pass
    per Lloyd iteration instead of m (the subspaces are independent, so
    fusing their E/M steps changes nothing about the math: same first-k
    init, same lowest-id tie-break, same 6 dp M-step rounding, same
    empty-cell carry-over as running ``kmeans_fit`` per subspace). At
    100 TB this is the difference between m scans of the corpus per
    iteration and one; locally it collapses m×iters driver-side M-step
    jobs into iters.

    Returns ``m`` centroid lists, each shaped (≤k, dim//m)."""
    sub_len = dim // m
    # same training-frame persist as kmeans_fit (r12, guide §5): the init
    # collect plus one M-step collect per iteration re-executed the input
    # lineage — for ivfpq's residual codebooks that lineage is scan +
    # coarse assign + zip_with per action. Deterministic input ⇒ caching
    # cannot change the fit; bounded by the caller's training sample at
    # scale.
    keyed = corpus.select(
        F.col(id_col).alias("_kid"), as_double(F.col(vec_col)).alias("v")
    ).persist()
    try:
        init_rows = keyed.orderBy(F.col("_kid")).limit(k).collect()
        books = [
            [
                [
                    round(float(x), 6)
                    for x in r["v"][j * sub_len : (j + 1) * sub_len]
                ]
                for r in init_rows
            ]
            for j in range(m)
        ]
        vecs = keyed.select("v")
        books = _pq_lloyd_rounds(vecs, books, m, k, iters, sub_len)
    finally:
        keyed.unpersist()
    return books


def _pq_lloyd_rounds(vecs, books, m, k, iters, sub_len):
    from open_ftth_relational_projector_spark.functions.text import let

    for _ in range(iters):
        # r13 (guide §1.2, same defect as kmeans_fit's M-step): the
        # single-referenced per-subspace assignment folds collapsed
        # THROUGH the posexplode Generate and re-evaluated once per
        # exploded row (m·k·sub_len fold elements × dim rows per
        # vector). The let-bound cids array evaluates once per input
        # row inside the generator expression. slice(v, 1, m·sub_len)
        # replaces the pos < m·sub_len filter (identical positions:
        # dim % m tail positions belong to NO subspace, and their sub
        # index would run past the cids array — an ANSI element_at
        # error, not just wasted work).
        cids_arr = F.array(
            *[
                assign_cluster(
                    F.slice(F.col("v"), j * sub_len + 1, sub_len), books[j]
                )
                for j in range(m)
            ]
        )
        gen = let(
            cids_arr,
            lambda cids: F.transform(
                F.slice(F.col("v"), 1, m * sub_len),
                lambda x, i: F.struct(
                    i.alias("pos"),
                    x.alias("val"),
                    F.element_at(
                        cids, F.floor(i / sub_len).cast("int") + 1
                    ).alias("cid"),
                ),
            ),
        )
        rows = (
            vecs.select(F.explode(gen).alias("e"))
            .select(
                F.floor(F.col("e.pos") / sub_len).cast("int").alias("sub"),
                F.col("e.cid").alias("cid"),
                F.col("e.pos").alias("pos"),
                F.col("e.val").alias("val"),
            )
            .groupBy("sub", "cid", "pos")
            .agg(F.avg("val").alias("cv"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_key.setdefault((r["sub"], r["cid"]), {})[r["pos"]] = r["cv"]
        new_books = [
            [
                [
                    round(float(by_key[(j, cid_)][j * sub_len + p]), 6)
                    for p in range(sub_len)
                ]
                if (j, cid_) in by_key
                else books[j][cid_ - 1]  # empty cell keeps its old centroid
                for cid_ in range(1, len(books[j]) + 1)
            ]
            for j in range(m)
        ]
        converged = new_books == books
        books = new_books
        if converged:
            # every subspace at its Lloyd fixpoint — identical to running
            # the remaining iterations (same argument as kmeans_fit)
            break
    return books


def kmeans_cluster_stats(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means summary: per cluster (cluster_id, n_members,
    min_vec_id, avg distance to the final centroid)."""
    centroids = kmeans_fit(corpus, k, iters, id_col, vec_col)
    v = as_double(F.col(vec_col))
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        assign_cluster(v, centroids).alias("cluster_id"),
        v.alias("v"),
    )
    cl = _centroid_lit(centroids)
    dist = F.sqrt(_sq_dist(F.col("v"), F.element_at(cl, F.col("cluster_id"))))
    return (
        assigned.withColumn("dist", dist)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup: per-vector keep/drop verdict with the quadratic search
    confined to k-means cells.

    Returns (vec_id, cluster_id, max_intra_sim, keep): a vector is dropped
    iff some LOWER-id vector in its cluster has cosine ≥ threshold.
    max_intra_sim is the max cosine to any lower-id cluster-mate (-1.0
    when there is none — the cluster's first vector), rounded to 4 dp.

    Plan shape: assignment is map-only (broadcast centroid literal); the
    pair join is keyed on cluster_id, so shuffle volume is linear in N and
    the quadratic factor is bounded by the largest cell — the SemDeDup
    scaling argument. At 100 TB, raise k so cells stay bounded (the paper
    uses k ≈ √N); cell sizes are observable from kmeans_cluster_stats.

    ``max_cell_size`` is the quadratic-bomb guard for skewed clusterings
    (one cell swallowing the corpus — e.g. a near-degenerate embedding
    model): cells larger than the cap are salted into ⌈|cell|/cap⌉
    md5-derived sub-cells and pairs are only compared within a sub-cell,
    so per-task work is bounded by cap² no matter how skewed the
    clustering. Cross-sub-cell near-dups are missed — a recall knob, the
    same contract as LSH banding (dedup.minhash near-dups); leave None to
    keep the exact-within-cell semantics (the oracle configuration).
    """
    centroids = kmeans_fit(corpus, k, iters, id_col, vec_col)
    v = as_double(F.col(vec_col))
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        assign_cluster(v, centroids).alias("cluster_id"),
        v.alias("v"),
    )
    # `cell` is the pair-join key: the cluster itself, or — under the
    # max_cell_size guard — an md5-salted sub-cell of it. The emitted
    # cluster_id column is always the real (int) cluster.
    assigned = assigned.withColumn("cell", F.col("cluster_id").cast("string"))
    if max_cell_size is not None:
        # salt oversized cells: sub_cell = md5(vec_id) mod ceil(|cell|/cap);
        # cell sizes come from one tiny aggregate (≤k rows) broadcast back
        sizes = assigned.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_cell")
        )
        n_sub = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("n_cell") / F.lit(max_cell_size)),
        )
        assigned = (
            assigned.join(F.broadcast(sizes), "cluster_id")
            .withColumn(
                "cell",
                F.concat_ws(
                    "#",
                    F.col("cell"),
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(F.col("vec_id").cast("string")), 1, 15
                            ),
                            16,
                            10,
                        ).cast("long"),
                        n_sub,
                    ),
                ),
            )
            .drop("n_cell")
        )
    # norms once per row per side, not once per in-cell pair (bit-identical
    # to cosine(); see similarity.cosine_prenormed)
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        l2_norm(F.col("v")).alias("nrm_a"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        l2_norm(F.col("v")).alias("nrm_b"),
    )
    sims = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_b").alias("vec_id"),
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("nrm_a"), F.col("nrm_b")
            ).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("max_sim"))
    )
    return (
        assigned.select("vec_id", "cluster_id")
        .join(sims, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.round(F.coalesce(F.col("max_sim"), F.lit(-1.0)), 4).alias(
                "max_intra_sim"
            ),
            (
                F.coalesce(F.col("max_sim"), F.lit(-1.0)) < F.lit(threshold)
            ).alias("keep"),
        )
    )


def pq_codes(
    corpus: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011 — the ANN-index
    compression standard): the vector splits into ``m`` subspaces, each
    quantized by its own k-means codebook; a vector's code is the m-tuple
    of nearest-centroid ids and its storage drops from dim floats to
    m·log2(k) bits.

    Returns (vec_id, code_1..code_m, recon_err) with recon_err = the
    total L2 error of the codebook reconstruction, rounded 4 dp — the
    quality knob (raise k / m until recall holds).

    Scale shape: each codebook trains with the same distributed Lloyd
    recipe as kmeans_fit (per-subspace slices; k×subdim M-step collects);
    code assignment is the map-only broadcast-literal expression per
    subspace — one pass over the corpus emits all m codes.
    """
    sub_len = dim // m
    codebooks = pq_fit_codebooks(corpus, m, k, iters, id_col, vec_col, dim)
    cols = [F.col(id_col).alias("vec_id")]
    err_terms = []
    for j, cents in enumerate(codebooks, start=1):
        sub = F.slice(as_double(F.col(vec_col)), (j - 1) * sub_len + 1, sub_len)
        code = assign_cluster(sub, cents)
        cols.append(code.alias(f"code_{j}"))
        cl = _centroid_lit(cents)
        err_terms.append(_sq_dist(sub, F.element_at(cl, code)))
    total = err_terms[0]
    for t in err_terms[1:]:
        total = total + t
    cols.append(F.round(F.sqrt(total), 4).alias("recon_err"))
    return corpus.select(*cols)


def pq_knn_adc(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    knn_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate kNN by asymmetric distance computation over PQ codes
    (Jégou et al. 2011): corpus vectors are represented ONLY by their
    m-tuple of centroid ids; a query's distance to a doc is the sum of
    its per-subspace distances to the doc's assigned centroids. The
    corpus never rereads its floats at query time — the memory/IO model
    that makes billion-scale ANN serving possible.

    Per-subspace query→centroid distances are ROUNDED to 6 dp before
    summing (the same cross-engine fixed-point contract as the codebook
    training), so ranking is reproducible. Plan shape: codes are one
    map-only pass; the query side broadcasts; ranking is the per-query
    top-k window. Returns (query_id, neighbor_id, rnk).
    """
    sub_len = dim // m
    codebooks = pq_fit_codebooks(corpus, m, k, iters, id_col, vec_col, dim)

    code_cols = [F.col(id_col).alias("neighbor_id")]
    for j, cents in enumerate(codebooks, start=1):
        sub = F.slice(as_double(F.col(vec_col)), (j - 1) * sub_len + 1, sub_len)
        code_cols.append(assign_cluster(sub, cents).alias(f"code_{j}"))
    coded = corpus.select(*code_cols)

    def _lut(qsub: Column, cl: Column, n_cents: int) -> Column:
        # per-subspace distance table as an array indexed by centroid id.
        # NB: the lambda must take exactly ONE parameter — PySpark binds
        # lambda variables by the function's arity, so default-arg capture
        # would make this look like a 3-ary higher-order function.
        return F.transform(
            F.sequence(F.lit(1), F.lit(n_cents)),
            lambda i: F.round(_sq_dist(qsub, F.element_at(cl, i)), 6),
        )

    q_cols = [F.col(id_col).alias("query_id")]
    for j, cents in enumerate(codebooks, start=1):
        qsub = F.slice(as_double(F.col(vec_col)), (j - 1) * sub_len + 1, sub_len)
        q_cols.append(
            _lut(qsub, _centroid_lit(cents), len(cents)).alias(f"lut_{j}")
        )
    q = queries.select(*q_cols)

    dist = None
    for j in range(1, m + 1):
        term = F.element_at(F.col(f"lut_{j}"), F.col(f"code_{j}"))
        dist = term if dist is None else dist + term
    scored = (
        coded.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", dist)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= knn_k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"))
    )


def ivfpq_knn_adc(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 4,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    n_probe: int = 2,
    knn_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al., TPAMI 2011 §V — the FAISS IVF-PQ serving
    architecture): a coarse Lloyd quantizer routes every corpus vector to
    one of ``n_cells`` inverted lists; the vector's RESIDUAL against its
    cell centroid is product-quantized (m codebooks of k centroids); a
    query probes its ``n_probe`` nearest cells and scores each listed
    vector by asymmetric distance — per probed cell the query's residual
    builds one m×k lookup table and a vector costs m array lookups. This
    is the composition billion-scale ANN actually deploys: IVF bounds the
    candidates scanned, residual PQ bounds the bytes per candidate.

    Scale shape: both trainings are the bounded-collect Lloyd recipe
    (k×dim driver rows per M-step); cell routing and PQ codes are one
    map-only pass over the corpus (no shuffle — the corpus never moves);
    the exploded (query × probed cell) side broadcasts with its LUTs as
    plan literals; ranking is the per-query top-k window. Raising
    ``n_probe`` to ``n_cells`` scans every list (the recall ceiling of
    the PQ approximation); ``m``/``k`` trade bytes for fidelity.

    Cross-engine determinism: coarse probe order sorts on (round(d², 6),
    cell id); LUT entries round to 6 dp before summing; final ranking
    ties break on neighbor id — the same fixed-point contract as
    ``pq_knn_adc``, so the DuckDB oracle replays coarse training,
    residuals, PQ training, probe choice, and ADC ranking bit-for-bit —
    GIVEN no Lloyd cell empties mid-training: the Spark side carries an
    empty cell's old centroid forward while an unrolled SQL chain drops
    it (the standing caveat of every kmeans oracle in this repo; all
    three SF fixtures keep every cell populated, which the oracle runs
    themselves witness).

    Returns (query_id, neighbor_id, rnk).
    """
    from open_ftth_relational_projector_spark.functions.text import let

    sub_len = dim // m
    # Training cost must not scale with the corpus: like FAISS, both the
    # coarse quantizer and the PQ codebooks can train on a bounded
    # DETERMINISTIC sample (md5-bucket of the id — reproducible across
    # runs/partitionings, no rand()), after which the corpus pays only the
    # one map-only coding pass. None = train on everything (the catalog's
    # oracle-replayable configuration).
    train = corpus
    if train_sample_frac is not None:
        from open_ftth_relational_projector_spark.functions.sampling import (
            md5_uniform,
        )

        train = corpus.filter(
            md5_uniform(F.col(id_col), "ivfpq") <= train_sample_frac
        )
        n_train = train.count()  # scalar guard; training-time only
        if n_train < max(n_cells, k):
            raise ValueError(
                f"ivfpq_knn_adc: train_sample_frac={train_sample_frac} "
                f"left {n_train} training rows — need at least "
                f"max(n_cells, k) = {max(n_cells, k)}; raise the fraction"
            )
    coarse = kmeans_fit(train, n_cells, iters, id_col, vec_col)
    cl = _centroid_lit(coarse)

    v = as_double(F.col(vec_col))
    cell = assign_cluster(v, coarse)
    residual = F.zip_with(
        v, F.element_at(cl, cell), lambda x, c: x - c
    )
    res_train = train.select(
        F.col(id_col), residual.alias("embedding")
    )
    codebooks = pq_fit_codebooks(
        res_train, m, k, iters, id_col, "embedding", dim
    )

    code_cols = [F.col(id_col).alias("neighbor_id"), cell.alias("cell")]
    for j, cents in enumerate(codebooks, start=1):
        rsub = F.slice(residual, (j - 1) * sub_len + 1, sub_len)
        code_cols.append(assign_cluster(rsub, cents).alias(f"code_{j}"))
    coded = corpus.select(*code_cols)

    # probe list: n_probe nearest cells by (round(d², 6), cell id) — the
    # struct sort IS the deterministic tie-break the oracle replays
    qv = as_double(F.col(vec_col))
    probe_structs = F.transform(
        F.sequence(F.lit(1), F.lit(n_cells)),
        lambda i: F.struct(
            F.round(_sq_dist(qv, F.element_at(cl, i)), 6).alias("d"),
            i.cast("int").alias("cell"),
        ),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        qv.alias("qv"),
        F.explode(
            F.slice(F.array_sort(probe_structs), 1, n_probe)
        ).alias("probe"),
    ).select("query_id", "qv", F.col("probe.cell").alias("cell"))

    # per probed cell: the query's residual against THAT cell's centroid
    # feeds one LUT per subspace (k rounded squared distances each)
    q_res = F.zip_with(
        F.col("qv"),
        F.element_at(cl, F.col("cell")),
        lambda x, c: x - c,
    )
    def _lut_body(cb: Column, n: int):
        # NB: the returned lambda must take exactly ONE parameter —
        # PySpark binds lambda variables by arity, so default-arg capture
        # would make it look like a 3-ary higher-order function
        def body(s: Column) -> Column:
            return F.transform(
                F.sequence(F.lit(1), F.lit(n)),
                lambda i: F.round(_sq_dist(s, F.element_at(cb, i)), 6),
            )

        return body

    lut_cols = [F.col("query_id"), F.col("cell")]
    for j, cents in enumerate(codebooks, start=1):
        qsub = F.slice(q_res, (j - 1) * sub_len + 1, sub_len)
        lut_cols.append(
            let(qsub, _lut_body(_centroid_lit(cents), len(cents))).alias(
                f"lut_{j}"
            )
        )
    q = probed.select(*lut_cols)

    dist = None
    for j in range(1, m + 1):
        term = F.element_at(F.col(f"lut_{j}"), F.col(f"code_{j}"))
        dist = term if dist is None else dist + term
    scored = (
        coded.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", dist)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= knn_k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"))
    )


def kcenter_select(
    emb: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iter_dp: int = 6,
    out_dp: int = 4,
) -> DataFrame:
    """Greedy k-center selection (Gonzalez 1985 farthest-point traversal)
    — the diversity-maximizing coreset picker for training-data curation:
    each round selects the point FARTHEST from everything already chosen,
    so k rounds give a 2-approximation of the optimal k-center cover and
    a maximally-spread sample (the opposite bias to random sampling,
    which over-picks dense regions).

    Returns the k selected rows as (sel_order, id, dist): dist is the
    point's min squared-L2 distance to the prior selections at the moment
    it was chosen — the non-increasing coverage-radius sequence (dist of
    selection i+1 bounds the distance of EVERY unselected point to its
    nearest center after round i).

    Determinism contract (same as kmeans_fit/pagerank): each pairwise
    distance is a left-to-right fold rounded to ``iter_dp`` before the
    min/argmax, ties broken by lowest id — an unrolled SQL oracle
    hash-matches round for round. Start = lowest id.

    Scale shape: each round is ONE full map-only scan scoring every row
    against the ≤ k chosen vectors held as a broadcast literal, reduced
    by a single ORDER BY ... LIMIT 1 (TakeOrderedAndProject — partial
    top-1 per partition, no global sort materialized). Driver state is k
    vectors — bounded by construction. k full scans total; for large k
    switch to batched variants (gonzalez-with-buckets), same contract.
    """
    first = emb.orderBy(id_col).select(id_col, vec_col).first()
    if first is None:
        raise ValueError("kcenter_select: empty input")
    chosen: list[tuple[int, object, float, list[float]]] = [
        (1, first[id_col], 0.0, [float(x) for x in first[vec_col]])
    ]
    for rnd in range(2, k + 1):
        dists = [
            F.round(
                _sq_dist(
                    as_double(F.col(vec_col)),
                    # one parsed literal per chosen vector (r12): dim py4j
                    # round trips → 1 per round-vector, identical doubles
                    dlit(vec),
                ),
                iter_dp,
            )
            for _, _, _, vec in chosen
        ]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        picked_ids = [c[1] for c in chosen]
        row = (
            emb.filter(~F.col(id_col).isin(picked_ids))
            .select(F.col(id_col), F.col(vec_col), dmin.alias("d"))
            .orderBy(F.desc("d"), F.asc(id_col))
            .first()
        )
        if row is None:
            # fewer points than k: every row is already selected — return
            # the full traversal found so far rather than raising on None
            break
        chosen.append(
            (rnd, row[id_col], float(row["d"]), [float(x) for x in row[vec_col]])
        )
    spark = emb.sparkSession
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    out = spark.createDataFrame(
        [(o, i, d) for o, i, d, _ in chosen],
        StructType(
            [
                StructField("sel_order", IntegerType(), False),
                # id column keeps the INPUT's type — string/int ids work too
                StructField(id_col, emb.schema[id_col].dataType, True),
                StructField("dist", DoubleType(), True),
            ]
        ),
    )
    return out.select("sel_order", id_col, F.round("dist", out_dp).alias("dist"))
