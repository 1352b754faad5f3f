"""Deterministic sampling/splitting for training-data pipelines.

A train/test split at 100 TB must be (1) reproducible across runs and
engines, (2) computable per-row with no shuffle, and (3) stable under
repartitioning — which rules out ``rand()`` and ``df.sample``. The
standing trick: hash a stable key to a uniform bucket and split on fixed
thresholds. md5 is used (not xxhash/crc32) because every engine computes
the identical digest, so the DuckDB oracle — or a downstream system doing
the same split — agrees row-for-row.

The first 8 hex chars of md5(key || salt) are compared AS STRINGS against
hex thresholds: lowercase hex sorts lexicographically in numeric order, so
the comparison is engine-portable without any hex→int conversion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HEX_SPAN = 16**8


def split_bucket(key: Column, salt: str = "") -> Column:
    """Stable 8-hex-char bucket of a key (uniform over [0, 16^8))."""
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8)


def hash_split(
    df: DataFrame,
    key: str,
    fractions: dict[str, float],
    salt: str = "",
    out: str = "split",
) -> DataFrame:
    """Assign each row a split label with the given fractions (must sum to
    ~1). Per-row expression only — no shuffle, no state, reproducible for
    a given (key, salt) everywhere."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = split_bucket(F.col(key), salt)
    cum = 0.0
    expr = None
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        threshold = format(int(cum * _HEX_SPAN), "08x")
        cond = bucket < F.lit(threshold)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    key: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic n-per-group sample: rank rows inside each group by
    their stable hash bucket (ties broken by the key itself) and keep the
    first n. Same rows come back on every run, every engine, any
    partitioning — the property `df.sample` can't give.

    Two-phase exact top-n so a giant group never rides one task: rows
    pre-rank inside (group, key-hash sub-shard) partitions — parallel,
    each keeping its own first n — and only the surviving
    n·n_subshards candidates per group enter the final per-group rank.
    Every global top-n row is its sub-shard's top-n (keys are unique), so
    the two-phase result is exactly the single-window result; the final
    window's partitions are bounded by n·n_subshards, not group size."""
    from open_ftth_relational_projector_spark.operators.hierarchical import (
        two_phase_top_n,
    )

    return two_phase_top_n(
        df,
        [F.col(group_col)],
        [split_bucket(F.col(key), salt), F.col(key)],
        n_per_group,
        F.col(key),
    ).drop("_rn")


def token_budget_chunks(
    docs: DataFrame,
    budget: int,
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contiguous token-budget chunking for training-sequence packing.

    Documents in ``order_col`` order are assigned to chunks by cumulative
    whitespace-token count: chunk_id = floor((cumsum - tokens) / budget) —
    the streaming approximation of bin packing (no per-bin remainder
    state, so it is deterministic and oracled; an exact first-fit packer
    would be a sequential fold). Output: chunk_id, n_docs, total_tokens.

    The cumulative sum is hierarchical (operators/hierarchical.py), not a
    single global window that would serialize the whole corpus through one
    task: cumsum per range-shard + broadcast shard offsets. Chunk ids
    depend only on the GLOBAL cumsum, which is invariant to where the
    shard boundaries fall, so the result is identical to the
    single-window form at any parallelism.
    """
    from ..operators.hierarchical import hierarchical_cumsum

    tokens = F.size(F.split(F.col(text_col), " "))
    chunked = hierarchical_cumsum(
        docs.select(F.col(order_col), tokens.alias("_tok")),
        [F.col(order_col)],
        "_tok",
        "_cum",
    )
    return (
        chunked.withColumn(
            "chunk_id",
            F.floor((F.col("_cum") - F.col("_tok")) / F.lit(budget)).cast("long"),
        )
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("total_tokens"),
        )
    )


def sliding_window_chunks(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (context-window preparation).

    Each document yields chunks of ``window`` whitespace tokens starting
    every ``stride`` tokens (the final chunk may be short; a doc shorter
    than one window yields exactly one chunk). Entirely row-local — split
    once, generate ``1 + ceil(max(dl-window,0)/stride)`` indices with
    `sequence`, slice per index — so the operator is map-only at any scale:
    no shuffle, no state, output size ≈ corpus × window/stride. Chunk
    identity is carried as md5(chunk text) so downstream dedup/packing can
    key on it without re-materializing the text.
    """
    toks = F.split(F.col(text_col), " ")
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .withColumn("_dl", F.size("_toks"))
        .withColumn(
            "_n",
            # 1 + ceil(max(dl-window,0)/stride) via floor((g+stride-1)/stride);
            # floor (not cast) so the DuckDB oracle mirrors exactly — CAST of
            # a double to BIGINT rounds in DuckDB but truncates in Spark.
            F.lit(1)
            + F.floor(
                (F.greatest(F.col("_dl") - window, F.lit(0)) + (stride - 1))
                / F.lit(stride)
            ),
        )
        .select(
            "doc_id",
            "_toks",
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("int").alias("start_token"),
            F.size(F.slice("_toks", F.col("chunk_idx") * stride + 1, window))
            .cast("int")
            .alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ", F.slice("_toks", F.col("chunk_idx") * stride + 1, window)
                )
            ).alias("chunk_md5"),
        )
    )


_HEX13_SPAN = 16**13  # 4.5e15 < 2^53: exact in a double


def md5_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic uniform in (0, 1]: first 13 hex chars of md5(key‖salt)
    scaled by 16^13 (exact in doubles). Same recipe as split_bucket —
    engine-portable, repartition-stable, rand()-free."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 13),
        16,
        10,
    ).cast("long")
    return (h + F.lit(1)).cast("double") / F.lit(float(_HEX13_SPAN))


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    key: str,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling without replacement, determinized — the
    data-mixing primitive (sample higher-quality/longer docs more often).

    Efraimidis–Spirakis (2006): draw u ~ U(0,1] per row, priority =
    -ln(u) / w, keep the k smallest priorities — exactly a weighted sample
    without replacement. u comes from md5_uniform(key, salt), so the
    sample is reproducible across runs, partitionings, and engines (the
    SQL oracle replays it bit-for-bit). One map-side expression + a top-k
    (k ≪ N ⇒ a TakeOrdered, no full sort shuffle at scale). Rows with
    weight ≤ 0 are excluded (their priority is undefined)."""
    pri = -F.log(md5_uniform(F.col(key), salt)) / weight
    return (
        df.filter(weight > 0)
        .withColumn("priority", F.round(pri, 4))
        .orderBy(F.col("priority").asc(), F.col(key).asc())
        .limit(k)
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023, arXiv:2302.03169):
    per-document log importance = log p_target(doc) − log p_raw(doc) under
    hashed n-gram (unigram + bigram) bag-of-features models with add-1
    smoothing.

    The target distribution here is the ``target_lang`` slice of the same
    corpus (in production it is the small high-quality target set — the
    math is identical). Returns (doc_id, n_feats, log_weight): rank by
    log_weight and keep the top slice to importance-resample the corpus
    toward the target.

    Scale shape: features hash to ``n_buckets`` cells with the md5-portable
    hash (engine-reproducible, see portable_hash64); BOTH feature
    distributions come out of ONE map-side-combined groupBy over the
    exploded features (n_buckets groups — the shuffle payload is the
    bucket table, not the corpus); the log-ratio table is n_buckets rows →
    BROADCAST back onto the exploded features; the only corpus-sized
    shuffle is the final per-doc sum, keyed on doc id. Nothing quadratic,
    nothing driver-side.
    """
    from open_ftth_relational_projector_spark.functions.dedup import (
        portable_hash64,
    )
    from open_ftth_relational_projector_spark.functions.text import let, tokens
    from pyspark.sql import Window as W

    def feats_of(text: Column) -> Column:
        # unigrams ++ bigrams, WITH multiplicity (DSIR counts occurrences,
        # unlike the dedup shingles which are distinct sets)
        def body(toks: Column) -> Column:
            cnt = F.size(toks)
            idx = F.when(cnt >= 2, F.sequence(F.lit(1), cnt - 1)).otherwise(
                F.array().cast("array<int>")
            )
            bigrams = F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
            return F.concat(toks, bigrams)

        return let(tokens(text), body)

    fb = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.explode(feats_of(F.col(text_col))).alias("f"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(portable_hash64(F.col("f"), 0), F.lit(n_buckets)).alias("b"),
    )
    counts = fb.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.lit(1)).otherwise(F.lit(0))
        ).alias("ct"),
    )
    everything = W.partitionBy()
    lw = counts.select(
        "b",
        (
            F.log((F.col("ct") + 1).cast("double"))
            - F.log(
                (F.sum("ct").over(everything) + n_buckets).cast("double")
            )
            - F.log((F.col("cr") + 1).cast("double"))
            + F.log(
                (F.sum("cr").over(everything) + n_buckets).cast("double")
            )
        ).alias("w"),
    )
    return (
        fb.join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_feats"),
            F.round(F.sum("w"), 4).alias("log_weight"),
        )
    )


def temperature_mixture_sample(
    docs: DataFrame,
    alpha: float = 0.7,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Temperature-based mixture sampling across sources (the multilingual
    /multi-source rebalancing rule, á la exponentiated sampling with
    α < 1): a group with corpus share p is sampled at rate ∝ p^α / p —
    up-sampling rare sources, down-sampling dominant ones — normalized so
    the LARGEST group's rate is 1.0 (no group over-samples).

    Per doc: (doc_id, group, keep_rate, sampled) with sampled decided by
    the md5-uniform of (id, salt) — deterministic across runs, engines,
    and partitionings (no rand()). Group shares come from one tiny
    aggregate broadcast back; the verdict is map-side.
    """
    from pyspark.sql import Window as W

    shares = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    everything = W.partitionBy()
    # rate_g ∝ p_g^(alpha-1); normalize by the max so rates ≤ 1
    raw_rate = F.pow(
        F.col("n_g") / F.sum("n_g").over(everything), F.lit(alpha - 1.0)
    )
    rates = shares.select(
        group_col,
        (raw_rate / F.max(raw_rate).over(everything)).alias("keep_rate"),
    )
    u = md5_uniform(F.col(id_col), salt)
    # compare against the ROUNDED rate: pow/division may differ in the
    # last ulp across engines, and the sampling verdict must not
    rate6 = F.round(F.col("keep_rate"), 6)
    return (
        docs.select(id_col, group_col)
        .join(F.broadcast(rates), group_col)
        .select(
            id_col,
            group_col,
            rate6.alias("keep_rate"),
            (u <= rate6).alias("sampled"),
        )
    )


def length_bucketed_batches(
    docs: DataFrame,
    bucket_edges: list[int] = (64, 128, 256),
    batch_size: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batch assignment — the padding-efficiency prep step
    (docs batched with similar lengths waste the least pad tokens).

    Buckets are [0,e1), [e1,e2), … by token count; within a bucket docs
    order deterministically by id and every ``batch_size`` of them share a
    batch_id. Returns (doc_id, n_tokens, bucket, batch_id, pad_waste)
    where pad_waste = bucket's running max length − the doc's length
    within its batch… kept simple: waste vs the batch max.

    Scale shape: buckets are FEW and huge (the giant-group regime), so
    the in-bucket rank comes from hierarchical_grouped_row_number
    (range-sharded, no single-task window); batch ids derive
    arithmetically from the rank, and the batch max comes from a
    (bucket, batch_id)-partitioned window whose partitions are bounded
    by batch_size.
    """
    from open_ftth_relational_projector_spark.functions.text import (
        token_count,
    )
    from pyspark.sql import Window as W

    edges = list(bucket_edges)
    n = token_count(F.col(text_col))
    bucket = F.lit(len(edges))
    for i, e in enumerate(reversed(edges)):
        bucket = F.when(n < e, F.lit(len(edges) - 1 - i)).otherwise(bucket)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("int").alias("n_tokens"),
        bucket.cast("int").alias("bucket"),
    )
    from open_ftth_relational_projector_spark.operators.hierarchical import (
        hierarchical_grouped_row_number,
    )

    ranked = hierarchical_grouped_row_number(
        base, ["bucket"], [F.col("doc_id")], "_rn"
    )
    # explicit floor: a bare double→int cast truncates in Spark but ROUNDS
    # in DuckDB — floor-then-cast is the portable spelling
    withbatch = ranked.withColumn(
        "batch_id",
        F.floor((F.col("_rn") - 1) / F.lit(batch_size)).cast("int"),
    ).drop("_rn")
    wb = W.partitionBy("bucket", "batch_id")
    return withbatch.select(
        "doc_id",
        "n_tokens",
        "bucket",
        "batch_id",
        (F.max("n_tokens").over(wb) - F.col("n_tokens"))
        .cast("int")
        .alias("pad_waste"),
    )


def epoch_shuffle_manifest(
    df: DataFrame,
    key_col: str = "doc_id",
    n_epochs: int = 2,
    n_shards: int = 4,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic per-epoch global shuffle manifest — the data-ordering
    contract of a reproducible training run: for each epoch, every row's
    position in the epoch's global order is md5(key‖epoch‖salt)-derived,
    so the exact sequence a trainer consumes is a pure function of
    (corpus, salt) — re-runnable across engines, partitionings, and
    restarts, with no ``rand()`` anywhere. Shards interleave round-robin
    by position, so each shard is itself an evenly-spaced subsequence of
    the epoch order (shard-local order preserves the global order) and
    shard sizes differ by at most one row.

    The per-epoch global rank is the giant-group regime (n_epochs groups,
    each corpus-sized) — computed with hierarchical_grouped_row_number's
    quantile-bound expression sharding, NOT a per-epoch single-task
    window. The md5-long sort key collides only at ~2^-60, and the key
    column itself breaks any tie, so the order is total and the oracle
    replays it exactly.

    Returns (key, epoch, position, shard) — n_epochs rows per input row.
    """
    from open_ftth_relational_projector_spark.operators.hierarchical import (
        hierarchical_grouped_row_number,
    )

    e = df.select(F.col(key_col)).withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1)))
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "#",
                    F.col(key_col).cast("string"),
                    F.col("epoch"),
                    F.lit(salt),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    ranked = hierarchical_grouped_row_number(
        e.withColumn("_u", u),
        ["epoch"],
        [F.col("_u"), F.col(key_col)],
        "position",
    )
    return ranked.select(
        key_col,
        "epoch",
        "position",
        ((F.col("position") - 1) % n_shards).cast("int").alias("shard"),
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    key: str,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Leakage-safe split assignment: near-dup CLUSTERS, not documents, are
    the unit of train/val/test assignment.

    A per-document hash split leaks whenever two near-duplicate documents
    land in different splits (the eval split then contains soft copies of
    training data — the contamination Lee et al. 2022 measure). Here every
    document inherits the split of its near-dup cluster representative
    (connected components over ``pairs``, min-id label; documents in no
    pair are their own singleton cluster), so by construction no pair ever
    straddles a split boundary.

    Scale shape: components via functions/graph.connected_components
    (per-round keyed joins); the assignment itself is one broadcast-free
    left join + the same per-row md5-threshold expression as hash_split —
    deterministic across runs, partitionings, and engines.

    Returns ``docs`` + (cluster_id, split).
    """
    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )

    cc = connected_components(pairs, out_node="_n", out_label="_cluster")
    out = (
        docs.join(cc, docs[key] == cc["_n"], "left")
        .drop("_n")
        .withColumn("cluster_id", F.coalesce(F.col("_cluster"), F.col(key)))
        .drop("_cluster")
    )
    return hash_split(out, "cluster_id", fractions, salt=salt, out="split")


# --- Poisson bootstrap: one-pass confidence intervals -----------------------

# P(Poisson(1) ≤ k) literals shared with the SQL oracle (truncated at 7 —
# P(X>7) ≈ 1e-5 — so weights are bounded ints and both engines compare the
# exact md5 uniform against the identical constants)
POISSON1_CDF = (
    "0.3678794412",
    "0.7357588823",
    "0.9196986029",
    "0.9810118431",
    "0.9963401532",
    "0.9994058151",
    "0.9999167589",
)


# the same thresholds as exact integer cutpoints in the 12-bit draw
# domain: with h uniform on 0..4095 and u = (h+1)/4096 (exact powers of
# two), u > cdf_k  ⟺  h ≥ floor(cdf_k·4096), so the Poisson draw is
# w = Σ_k [h ≥ C_k] — branch-free integer comparisons instead of an
# 8-branch CASE per draw (40 CASE chains pushed the generated code past
# Spark's method limit and the WHOLE query fell back to interpreted
# execution: 0 WholeStageCodegen spans, ~20 s for 600k rows)
from fractions import Fraction as _Fr  # noqa: E402

POISSON1_CUT4096 = tuple(
    int(_Fr(float(t)) * 4096) for t in POISSON1_CDF
)


def poisson_weight_sql(h_expr: str) -> str:
    """Engine-neutral branch-free map from a 12-bit integer draw
    (0..4095) to a Poisson(1) weight — the bootstrap resample weight
    (Poisson bootstrap: at corpus scale a with-replacement resample of n
    rows is indistinguishable from per-row independent Poisson(1)
    weights, and needs only ONE pass). Exactly equivalent to comparing
    the (h+1)/4096 uniform against POISSON1_CDF."""
    return (
        "("
        + " + ".join(
            f"CAST({h_expr} >= {c} AS INT)" for c in POISSON1_CUT4096
        )
        + ")"
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_expr: str,
    group_cols: list[str] | None = None,
    n_resamples: int = 40,
    alpha: float = 0.05,
    salt: str = "boot",
    out_dp: int = 4,
) -> DataFrame:
    """Percentile-bootstrap CI for the per-group mean in ONE scan: every
    row gets ``n_resamples`` deterministic Poisson(1) weights (md5-derived
    — no RNG, repartition-stable), a map-side-combined (group, resample)
    aggregation emits B exact integer (Σwx, Σw) pairs per group, and the
    CI reads order statistics off the sorted B resample means — O(B)
    state per group at any corpus size, the Poisson-bootstrap trick that
    makes uncertainty quantification a single scan at 100 TB.

    Physical shape (each earlier cut is documented because it LOOKED
    scale-correct and was not):
    - a B-wide column formulation (80 aggregate buffers) exceeds
      spark.sql.codegen.maxFields, silently dropping the WHOLE plan to
      interpreted execution (0 WholeStageCodegen spans, ~10× slower);
      instead each row EXPLODES into B (row, resample) pairs through a
      2-buffer aggregate — fully codegen'd, and the shuffle still carries
      only |groups|·B combined rows;
    - hashing dominates the per-row cost, so each md5 digest yields TEN
      draws (3 hex chars = 12 bits each); B=40 needs 4 digests per row,
      computed BEFORE the explode;
    - the digest is also PARSED before the explode — each digest's 30
      draw chars become two 60-bit BIGINTs (15 hex chars each), and the
      full B-weight ARRAY is built pre-explode from shiftright/AND
      field extracts, so the generator carries only ints (not 32-char
      digest strings) and the per-pair project is gone entirely. The
      r11 rework: the old per-pair element_at+substring+conv evaluated
      string ops 24M times at sf0.1 (and its 40-wide conv array tripped
      a janino compile failure in a first draft) — parse-once+shift
      halved the warm wall (~10 → ~5 s) with ZERO codegen fallbacks.
      Draw VALUES are pinned: the top 12 bits of a 15-char parse ARE
      the first 3 hex chars (char 3j+1 of the digest = chars 3jd+1 of
      word o for j = 5o+jd), so the oracle's per-3-char substr recipe
      is untouched and the B means stay bit-identical;
    - the draw→weight map is branch-free integer cutpoints
      (POISSON1_CUT4096), exactly equivalent to comparing the (h+1)/4096
      uniform against POISSON1_CDF;
    - values scale to exact integer hundredths (input contract: ≤ 2-dp
      values), so every sum is LONG arithmetic — exact and
      order-independent; the B means are bit-identical cross-engine and
      the CI rule (means ascending, lo = element ⌊α/2·B⌋+1, hi = element
      B−⌊α/2·B⌋, 1-based) cannot drift.
    """
    b = n_resamples
    k_lo = int(alpha / 2 * b) + 1
    k_hi = b - int(alpha / 2 * b)
    groups = list(group_cols or [])
    val_cents = f"CAST(ROUND(`{value_col}` * 100, 0) AS BIGINT)"
    n_blocks = (b + 9) // 10
    hashed = df.selectExpr(
        *groups,
        f"{val_cents} AS _vc",
        *[
            f"md5(concat({key_expr}, '#{salt}{m}')) AS _h{m}"
            for m in range(n_blocks)
        ],
    )
    parsed = hashed.selectExpr(
        *groups,
        "_vc",
        *[
            f"CAST(conv(substring(_h{m}, {o * 15 + 1}, 15), 16, 10)"
            f" AS BIGINT) AS _g{m}_{o}"
            for m in range(n_blocks)
            for o in range(2)
        ],
    )

    def _draw(j: int) -> str:
        m, jj = divmod(j, 10)
        o, jd = divmod(jj, 5)
        return f"(shiftright(_g{m}_{o}, {60 - 12 * (jd + 1)}) & 4095)"

    # the generator array holds the 40 DRAWS (two integer ops each),
    # NOT the weights: generator expressions evaluate outside
    # whole-stage codegen, so a weights array would run 40×7 cutpoint
    # comparisons interpreted per row (measured 3-5× slower than the
    # substring formulation it replaced) — the 7-comparison weight map
    # stays in the codegen'd project above the Generate instead
    darr = "array(" + ", ".join(_draw(j) for j in range(b)) + ")"
    per_resample = (
        parsed.selectExpr(
            *groups, "_vc", f"posexplode({darr}) AS (_j, _d)"
        )
        .selectExpr(
            *groups, "_j", "_vc", f"{poisson_weight_sql('_d')} AS _w"
        )
        .groupBy(*groups, "_j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col("_vc")).alias("_sx"),
            F.sum(F.col("_vc") * F.col("_w")).alias("_bx"),
            F.sum(F.col("_w")).cast("long").alias("_bw"),
        )
    )
    # every _j slice sees every row once, so _n/_sx are constant across _j
    final = per_resample.groupBy(*groups).agg(
        F.max("_n").alias("_n"),
        F.max("_sx").alias("_sx"),
        F.array_sort(
            F.collect_list(
                F.col("_bx").cast("double") / F.col("_bw") / F.lit(100.0)
            )
        ).alias("_means"),
    )
    return final.selectExpr(
        *groups,
        "_n AS n_rows",
        f"ROUND(CAST(_sx AS DOUBLE) / _n / 100.0, {out_dp}) AS mean",
        f"ROUND(element_at(_means, {k_lo}), {out_dp}) AS ci_lo",
        f"ROUND(element_at(_means, {k_hi}), {out_dp}) AS ci_hi",
    )


# --- many simultaneous z-tests + Benjamini-Hochberg FDR ---------------------

# standard normal CDF via Zelen-Severo / Abramowitz-Stegun 26.2.17 —
# engine-neutral SQL text shared verbatim by the Spark path and the DuckDB
# oracle so both evaluate the identical polynomial in the identical order
# (|rel err| < 7.5e-8, far inside the 6-dp rounding the consumers apply)
PHI_ABS_SQL = (
    "(1.0 - (exp(-({x}) * ({x}) / 2.0) / 2.5066282746310002) * "
    "((((1.330274429 * (1.0 / (1.0 + 0.2316419 * ({x}))) - 1.821255978) * "
    "(1.0 / (1.0 + 0.2316419 * ({x}))) + 1.781477937) * "
    "(1.0 / (1.0 + 0.2316419 * ({x}))) - 0.356563782) * "
    "(1.0 / (1.0 + 0.2316419 * ({x}))) + 0.319381530) * "
    "(1.0 / (1.0 + 0.2316419 * ({x}))))"
)


def two_sided_p_sql(z_abs_expr: str) -> str:
    """p = 2·(1 − Φ(|z|)) as shared SQL text, rounded to 6 dp so the
    downstream Benjamini-Hochberg comparisons are engine-deterministic."""
    return f"ROUND(2.0 * (1.0 - {PHI_ABS_SQL.format(x=z_abs_expr)}), 6)"


# --- static domain-mixture planning -----------------------------------------

#: temperature-smoothed weight numerator, shared verbatim with SQL oracles.
#: τ = 0.5 on purpose: p^τ is then IEEE-754 sqrt — correctly rounded, so
#: bit-identical cross-engine where a pow(p, 0.3) could differ at ulp —
#: and the 9-dp DECIMAL image makes the normalizing sum order-independent.
MIX_QD_SQL = "CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE) / nt), 9) AS DECIMAL(18,9))"


def mix_final_exprs(token_budget: int) -> list[str]:
    """Final projection of the mixture plan, shared verbatim with SQL
    oracles (q = normalized temperature weight as an exact-decimal ratio
    converted to DOUBLE at the division)."""
    q = "(CAST(qd AS DOUBLE) / CAST(qsum AS DOUBLE))"
    return [
        "ROUND(p_raw, 6) AS p_raw",
        f"ROUND({q}, 6) AS q_temp",
        f"CAST(ROUND({q} * {token_budget}, 0) AS BIGINT) AS tokens_drawn",
        f"ROUND({q} * {token_budget} / n_tokens, 4) AS epochs",
    ]


def mixture_weights(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Static domain-mixture plan (the DoReMi-lite / temperature-sampling
    recipe): per domain, the whitespace-token total, its raw corpus share
    p_g, the temperature-smoothed sampling weight q_g ∝ p_g^0.5
    (upweights small domains, the standard multilingual/multi-source
    mitigation), the planned token draw q_g·budget, and the implied
    epochs over the domain's own tokens (>1 ⇒ repetition).

    Scale shape: ONE corpus scan into a map-side-combined G-group count,
    then everything is dimension-sized — the G-row table normalizes via
    exact DECIMAL(18,9) sums (order-independent) broadcast back through
    1-row cross joins. No window, no second scan, no driver state.
    """
    from open_ftth_relational_projector_spark.functions.text import token_count

    per = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.sum(token_count(F.col(text_col))).alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("nt"))
    base = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_tokens",
        "CAST(n_tokens AS DOUBLE) / nt AS p_raw",
        f"{MIX_QD_SQL} AS qd",
    )
    den = base.agg(F.sum("qd").alias("qsum"))
    return base.crossJoin(F.broadcast(den)).selectExpr(
        "source", "n_tokens", *mix_final_exprs(token_budget)
    )
