"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact; the correctness oracle).
Scale path: random-hyperplane LSH bucketing — candidates only join within a
bucket, so the shuffle is linear in corpus size; brute force is confined to
each bucket. Both paths compute dot products with JVM higher-order
functions in double precision, left-to-right, so results are bit-identical
to a SQL oracle using the same order.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dlit(values) -> Column:
    """Driver-constant double array as ONE parsed expression (r12).

    ``F.array(*[F.lit(x) ...])`` costs one py4j round trip per element —
    a 64-dim hyperplane/centroid literal was 64 calls, and call sites
    build dozens of them (knn_lsh spent 78% of its warm wall in plan
    construction). One ``F.expr`` string is ~7× cheaper than even the
    ndarray literal path. Value-exact: Python ``repr`` prints the
    shortest round-trip decimal and Catalyst parses ``...D`` with
    correctly-rounded ``parseDouble`` — bit-identical doubles (asserted
    in tests against the per-element form).
    """
    return F.expr("array(" + ",".join(_d(v) for v in values) + ")")


def _d(v) -> str:
    """One double as exact SQL literal text. Finite doubles print via
    repr (shortest round-trip decimal, parsed correctly rounded);
    NaN/±Infinity have no SQL double-literal syntax, so they render as
    the CAST forms Spark parses to the same IEEE values — the F.lit
    forms these helpers replaced handled non-finite values, so the
    string path must too (r12 review)."""
    import math

    v = float(v)
    if math.isfinite(v):
        return repr(v) + "D"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"


def dlit2(rows) -> Column:
    """Nested driver-constant array<array<double>> in ONE parsed
    expression (see dlit): a 16×64 codebook literal drops from 1024 py4j
    round trips to one ~8 ms parse."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_d(v) for v in row) + ")" for row in rows
        )
        + ")"
    )


def ilit(values) -> Column:
    """Driver-constant int array in ONE parsed expression (see dlit).
    Values must fit INT so element type matches the per-element
    ``F.lit(int)`` form the call sites previously built."""
    vals = [int(v) for v in values]
    if not all(-(2**31) <= v < 2**31 for v in vals):
        # a hard error, not an assert: under `python -O` an assert is
        # stripped and an out-of-range value would silently parse as a
        # BIGINT literal, changing the array element type (r12 advice)
        raise ValueError(f"ilit: values out of INT range: {vals}")
    return F.expr("array(" + ",".join(str(v) for v in vals) + ")")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine(a, b) as ``dot(a, b) / (na * nb)``, with the two norms
    (``l2_norm``) supplied as columns. Precomputing the norms ONCE PER ROW
    on each join side (instead of once per joined PAIR) cuts the per-pair
    work of the n×m scored stage from three 64-element array folds to one —
    the r12 optimization for every cosine join in this module (guide §1.2:
    fix the distributed algorithm's redundant compute first)."""
    return dot(a, b) / (na * nb)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected to be small → broadcast; corpus streams past it with
    no shuffle until the final per-query top-k (rank window on query_id).
    Deterministic tie-break on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            cosine_prenormed(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side constants,
    broadcast with the plan — no RNG on executors)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane → int bucket id.

    ``vec_sql`` is the NAME of an ``array<double>`` column; the whole
    signature builds as ONE parsed expression (r12, the jl_project
    pattern). The previous Column-API form cost 64 ``F.lit`` round trips
    per plane plus ~8 ms of lambda plumbing per ``zip_with``/``aggregate``
    — with 8 planes on both join sides that was >1 s of pure plan
    construction per knn_lsh call (78% of its warm wall). Semantics are
    unchanged: per plane the identical left-to-right ``x*y`` fold against
    the identical double literals (repr round-trips exactly; Catalyst
    parses ``...D`` correctly rounded), then the same int bit-sum —
    bucket values are bit-identical (pinned in tests against the
    Column-built form)."""
    # vec_sql is interpolated into SQL text: restrict it to a plain
    # identifier (every call site passes one) so a name needing backtick
    # quoting — or arbitrary expression text — cannot slip through the
    # string seam unnoticed (r12 advice)
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", vec_sql):
        raise ValueError(
            f"lsh_bucket: vec_sql must be a simple column identifier, "
            f"got {vec_sql!r}"
        )
    terms = ["0"]
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(_d(x) for x in p) + ")"
        proj = (
            f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y),"
            " 0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << i} ELSE 0 END)")
    return F.expr(" + ".join(terms))


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """Multi-probe LSH masks: every bucket-id XOR mask flipping ≤ ``radius``
    signature bits. radius=0 → [0] (exact-bucket probe only); radius ==
    n_planes → all 2^n_planes masks, which makes a probed LSH search scan
    every bucket — i.e. EXACT. That exactness is what lets the driver
    hash-match the full LSH machinery (signature, bucket assignment, probe
    expansion, candidate join, ranking) against a brute-force SQL oracle
    (catalog ``knn_lsh_fullprobe``); partial radii are the production
    recall knob (probing r=1 covers near-dups straddling one hyperplane).
    """
    return [m for m in range(1 << n_planes) if bin(m).count("1") <= radius]


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.9,
    bucketed: bool = False,
    dim: int = 64,
    n_planes: int = 6,
    probe_radius: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine ≥ τ).

    bucketed=False — exact all-pairs baseline (the correctness oracle;
    quadratic, fine to ~10^5 vectors). bucketed=True — the scale path:
    candidates restricted to a shared random-hyperplane LSH bucket, shuffle
    keyed on bucket id, quadratic work confined inside buckets; recall < 1
    by construction (near-dups straddling a hyperplane are missed — raise
    recall with fewer planes or ``probe_radius``). probe_radius multi-probes
    side a into every bucket within r flipped signature bits (each pair
    still matches at most once — masks are distinct); radius == n_planes
    scans all buckets ⇒ exact through the bucketing machinery, which is
    the driver-oracle configuration (catalog
    ``embedding_near_dups_lsh_fullprobe``).
    """
    a = corpus.select(
        F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va")
    ).withColumn("na", l2_norm(F.col("va")))
    b = corpus.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb")
    ).withColumn("nb", l2_norm(F.col("vb")))
    if bucketed:
        planes = _hyperplanes(dim, n_planes)
        masks = probe_masks(n_planes, probe_radius)
        a = (
            a.withColumn("b0", lsh_bucket("va", planes))
            .withColumn(
                "bucket",
                # one int-array literal + transform instead of |masks|
                # xor-column builds (r12): at fullprobe radius the mask set
                # is 2^n_planes entries — pure construction latency. Same
                # int xor per element ⇒ identical bucket ids.
                F.explode(
                    F.transform(
                        ilit(masks), lambda m: F.col("b0").bitwiseXOR(m)
                    )
                ),
            )
            .drop("b0")
        )
        b = b.withColumn("bucket", lsh_bucket("vb", planes))
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            cosine_prenormed(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _spherical_kmeans(
    samples: list[list[float]], n_centroids: int, iters: int = 8, seed: int = 11
) -> list[list[float]]:
    """Driver-side spherical k-means on a bounded sample (the standard IVF
    training recipe — at 100 TB you train the coarse quantizer on a sample
    too, never the corpus). Deterministic seed; unit-norm centroids so
    nearest-centroid-by-dot == nearest-by-cosine."""
    import numpy as np

    X = np.asarray(samples, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(float(np.linalg.norm(c)), 1e-12)
    return C.tolist()


def _centroid_lit(centroids: list[list[float]]) -> Column:
    # ONE nested-array literal (r12): the per-element form cost
    # n_centroids×dim py4j round trips (1024 for a 16×64 codebook) per
    # call site — identical array<array<double>> values.
    return dlit2(centroids)


def _nearest_centroids(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """1-based ids of the ``n`` centroids nearest by cosine — computed with
    JVM higher-order functions against the broadcast centroid literal (unit
    centroids ⇒ rank by dot / |v|, and |v| is constant per row)."""
    cl = _centroid_lit(centroids)
    scored = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            (-dot(vec, F.element_at(cl, i))).alias("neg"), i.alias("cid")
        ),
    )
    return F.transform(F.slice(F.array_sort(scored), 1, n), lambda s: s["cid"])


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into coarse-quantizer
    cells, each query probes its ``n_probe`` nearest cells.

    Scale shape: one bounded sample collect trains the quantizer; corpus
    assignment is a per-row JVM expression (no shuffle); the probe join
    broadcasts the exploded query set so the corpus never moves; only the
    per-query top-k windows over candidate rows. Recall is tunable via
    n_probe (n_probe == n_centroids ⇒ exact)."""
    samples = [
        row[0]
        for row in corpus.select(as_double(F.col(vec_col)))
        .orderBy(F.col(id_col))
        .limit(sample_size)
        .collect()
    ]
    centroids = _spherical_kmeans(samples, n_centroids)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn(
        "cid", F.element_at(_nearest_centroids(F.col("cv"), centroids, 1), 1)
    ).withColumn("cn", l2_norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).select(
        "query_id",
        "qv",
        l2_norm(F.col("qv")).alias("qn"),
        F.explode(_nearest_centroids(F.col("qv"), centroids, n_probe)).alias("cid"),
    )
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            cosine_prenormed(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    probe_radius: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    multi-probed to every bucket within ``probe_radius`` flipped bits.

    Recall is tunable via n_planes (fewer planes → bigger buckets) and
    probe_radius (more probes → more buckets per query; radius == n_planes
    ⇒ exact, see probe_masks). The query side is small (like
    knn_bruteforce/knn_ivf) and only multiplies by the probe count →
    broadcast it, so the corpus never shuffles for the probe; only the
    per-query top-k window moves candidate rows. Each corpus bucket id
    matches at most one probe mask per query, so candidates never
    duplicate.
    """
    planes = _hyperplanes(dim, n_planes)
    masks = probe_masks(n_planes, probe_radius)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", lsh_bucket("cv", planes)).withColumn(
        "cn", l2_norm(F.col("cv"))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qn", l2_norm(F.col("qv")))
        .withColumn("b0", lsh_bucket("qv", planes))
        .withColumn(
            "bucket",
            # same single-literal probe expansion as embedding_near_dups
            # (r12) — identical xor values, |masks|× fewer py4j calls
            F.explode(
                F.transform(
                    ilit(masks), lambda m: F.col("b0").bitwiseXOR(m)
                )
            ),
        )
        .drop("b0")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            cosine_prenormed(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def knn_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k report for an approximate kNN result against the exact one:
    per query (n_exact, n_found, recall) plus deterministic ordering —
    the measurement loop for tuning n_planes / probe_radius / n_probe.
    Inputs are (query_id, neighbor_id[, ...]) frames as produced by
    knn_bruteforce / knn_lsh / knn_ivf."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_found"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
    )


def quantize_int8_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the standard
    4× storage/bandwidth compression for ANN indexes and embedding shards.

    Per vector: scale = max|v| / 127, q_i = floor(v_i / scale + 0.5)
    (explicit half-up, identical across engines — no reliance on a
    round() tie-break). Emitted per vector: dimension count, scale, L1
    mass of the quantized code, a position-weighted checksum that pins
    the full code array order-sensitively, and the max absolute
    reconstruction error (≤ scale/2 by construction — asserted in tests).

    All row-local JVM higher-order functions: map-only at any scale, and
    scalar outputs so the DuckDB oracle hash-matches without array
    comparison."""
    v = as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax == 0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    l1 = F.aggregate(
        q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    checksum = F.aggregate(
        F.zip_with(
            q,
            F.sequence(F.lit(1), F.size(q)),
            lambda x, i: x.cast("long") * i,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    max_err = F.array_max(
        F.zip_with(q, v, lambda qi, vi: F.abs(qi * scale - vi))
    )
    return corpus.select(
        F.col(id_col),
        F.size(v).cast("int").alias("n_dims"),
        F.round(scale, 4).alias("scale"),
        l1.alias("l1"),
        checksum.alias("checksum"),
        F.round(max_err, 4).alias("max_err"),
    )


def label_centroid_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid cohesion: (label, n_vecs, avg cosine of members
    to their label centroid) — the assignment-step/quality-audit primitive
    for embedding clusters (cluster-balance checks, mislabeled-shard
    detection before training).

    Plan shape: posexplode to (label, pos, val) rows — linear in N·dim —
    one tiny groupBy(label, pos) average builds the centroids (labels×dim
    rows), which then BROADCAST back onto the exploded rows; per-vector
    dot/norm reduce keyed by vec, then one per-label average. The corpus
    never shuffles: explode → map-side-combined aggs + a broadcast join.
    """
    pe = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "val"),
    )
    centroids = pe.groupBy("label", "pos").agg(F.avg("val").alias("cv"))
    per_vec = (
        pe.join(F.broadcast(centroids), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("cv")).alias("dot_vc"),
            F.sum(F.col("val") * F.col("val")).alias("vv"),
            F.sum(F.col("cv") * F.col("cv")).alias("cc"),
        )
    )
    cos = F.col("dot_vc") / (F.sqrt("vv") * F.sqrt("cc"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("int").alias("n_vecs"),
        F.round(F.avg(cos), 4).alias("avg_cos_to_centroid"),
    )


def embedding_outlier_stats(
    corpus: DataFrame,
    z_threshold: float = 3.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-shard QA: flag vectors that are per-dimension outliers —
    the standard screen for corrupt/degenerate embeddings (NaN bursts,
    wrong-model shards, truncated writes) before an ANN index build.

    Per dimension the corpus mean and population std come from ONE tiny
    groupBy(pos) aggregate (dim rows, broadcast back); per vector the max
    |z| across dimensions, with is_outlier = max|z| > z_threshold. std is
    computed as sqrt(avg(x²) − avg(x)²) EXPLICITLY so an oracle using the
    same formula matches (library stddevs differ in algorithm, not value
    semantics). Plan: posexplode → dim-keyed aggregate (broadcast) →
    vec-keyed reduce — the corpus never shuffles.
    """
    pe = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "val"),
    )
    dims = pe.groupBy("pos").agg(
        F.avg("val").alias("mu"),
        F.sqrt(F.avg(F.col("val") * F.col("val")) - F.avg("val") * F.avg("val")).alias("sigma"),
    )
    z = F.abs(F.col("val") - F.col("mu")) / F.col("sigma")
    return (
        pe.join(F.broadcast(dims), "pos")
        .groupBy("vec_id")
        .agg(F.max(z).alias("_mz"))
        .select(
            "vec_id",
            F.round(F.col("_mz"), 4).alias("max_abs_z"),
            (F.col("_mz") > z_threshold).alias("is_outlier"),
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k_rrf: int = 60,
    top: int = 15,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    the standard hybrid-retrieval combiner (BM25 ∪ vector ranks):
    rrf(d) = Σ_lists 1/(k + rank_d), absent list contributes 0.

    Inputs are (id_col, rank) frames (rank 1-based). Returns
    (id_col, rank_a, rank_b, rrf_score) for the ``top`` fused ids,
    deterministically ordered (score desc, id asc). The inputs are
    already top-k lists, so every join here touches k-sized frames —
    driver-scale work no matter the corpus behind the lists.
    """
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    fused = a.join(b, id_col, "full_outer").select(
        id_col,
        "rank_a",
        "rank_b",
        F.round(
            F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    ).limit(top)


def knn_label_propagation(
    corpus: DataFrame,
    unlabeled_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Weak supervision by nearest-neighbor vote: rows matching
    ``unlabeled_pred`` (a Column predicate) get a predicted label = the
    majority label among their k nearest LABELED neighbors by cosine.

    Returns (vec_id, predicted_label, vote_n, true_label, agrees): since
    the fixture labels are known, the held-out row's actual label rides
    along and `agrees` measures leave-out accuracy — the observable that
    turns this into a self-evaluating query (like the sketch invariants).

    Ties break on the SMALLER label id (deterministic). Plan shape: the
    unlabeled side is the small side → broadcast into the scored join
    (same contract as knn_bruteforce); one window top-k; one vote
    aggregate keyed by (query, label).
    """
    labeled = corpus.filter(~unlabeled_pred).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.col(label_col).alias("nb_label"),
    ).withColumn("cn", l2_norm(F.col("cv")))
    queries = corpus.filter(unlabeled_pred).select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("true_label"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    scored = labeled.join(F.broadcast(queries)).withColumn(
        "sim",
        cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = topk.groupBy("query_id", "true_label", "nb_label").agg(
        F.count(F.lit(1)).alias("vote_n")
    )
    wv = W.partitionBy("query_id").orderBy(
        F.col("vote_n").desc(), F.col("nb_label").asc()
    )
    return (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("nb_label").alias("predicted_label"),
            F.col("vote_n").cast("int").alias("vote_n"),
            "true_label",
            (F.col("nb_label") == F.col("true_label")).alias("agrees"),
        )
    )


# --- Johnson-Lindenstrauss sign random projection ---------------------------


def jl_sign_matrix(k: int, dim: int, salt: str = "jl") -> list[list[float]]:
    """Deterministic ±1 projection matrix from md5 — engine-portable.

    Entry (j, i) is +1 when the first hex nibble of md5("{salt}#{j}#{i}")
    is even, else −1 (Achlioptas 2003: ±1 entries satisfy the JL lemma with
    the same distortion bound as Gaussian entries). hashlib/Spark/DuckDB
    md5 agree on UTF-8 input, so a SQL oracle re-derives the identical
    matrix — no RNG, no state to ship.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{salt}#{j}#{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(k)
    ]


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "proj",
    k: int = 16,
    dim: int = 64,
    salt: str = "jl",
) -> DataFrame:
    """Append a k-dim sign-random-projection of ``vec_col`` (÷ √k).

    Map-only: the k×dim sign matrix embeds as literals inside ONE parsed
    expression (a single py4j round trip, the simhash string-built
    pattern), each output dim a zip_with·aggregate fold — whole-stage
    codegen, zero Python, no shuffle. At 100 TB this is the cheap
    pre-pass that shrinks every downstream pairwise/ANN shuffle by
    dim/k×.
    """
    signs = jl_sign_matrix(k, dim, salt)
    scale = float(k) ** 0.5
    dims = ", ".join(
        "aggregate(zip_with(cast(`%s` as array<double>), array(%s), "
        "(x, s) -> x * s), 0D, (a, x) -> a + x) / %rD"
        % (vec_col, ", ".join(f"{s}D" for s in row), scale)
        for row in signs
    )
    return df.withColumn(out_col, F.expr(f"array({dims})"))
