"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
  * exact_dedup_groups — hash-groupBy, one shuffle on the content hash.
  * ngram_jaccard_pairs — EXACT similarity join via shingle inverted index
    (explode → co-occurrence join → count). Quadratic only within a shingle
    bucket; used as the oracle for the approximate paths and fine up to
    ~10^6 docs. At 100 TB use minhash_lsh_candidates first.
  * minhash_lsh_candidates — MinHash signatures (xxhash64 with k seeds, all
    JVM-side) banded into LSH buckets; candidate pairs only ever join inside
    a (band, band-signature) bucket → linear shuffle, no all-pairs.
  * simhash64 — 64-bit sign-sum fingerprint per doc; near-dups = small
    Hamming distance, found by multi-probe on rotated prefixes (buckets).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from open_ftth_relational_projector_spark.functions.text import let, tokens

#: 64-bit hash family used by the scale paths: one JVM instruction, seedable.
HashFn = Callable[[Column, int], Column]


def xxhash64_seeded(col: Column, seed: int) -> Column:
    return F.xxhash64(col, F.lit(seed))


def portable_hash64(col: Column, seed: int = 0) -> Column:
    """md5-derived 60-bit hash, computable identically in ANSI SQL.

    DuckDB twin: ``('0x' || substr(md5(x || '#' || seed), 1, 15))::BIGINT``.
    15 hex chars = 60 bits, so the value always fits a signed BIGINT on both
    engines. The ``*_md5`` catalog variants run the *same* MinHash/SimHash
    pipelines with this hash so the driver can hash-match them against a
    full SQL oracle; xxhash64 stays the production path (one JVM
    instruction vs an md5 per call).
    """
    return F.conv(
        F.substring(F.md5(F.concat_ws("#", col, F.lit(str(seed)))), 1, 15),
        16,
        10,
    ).cast("long")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the single-space-tokenized text.

    The token array is let-bound (functions.text.let), so the tokenizing
    split evaluates once per row however the expression is referenced or
    rewritten — safe to use inline, including under explode.
    """
    return let(tokens(text), lambda toks: _grams_of(toks, n))


def _grams_of(toks: Column, n: int) -> Column:
    cnt = F.size(toks)
    # guard: Spark's sequence(1, x) DESCENDS when x < 1, so short texts need
    # an explicit empty-array branch
    idx = F.when(
        cnt >= n, F.sequence(F.lit(1), cnt - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def add_shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "sh",
) -> DataFrame:
    """(id, shingle-array); the split is let-bound inside the expression,
    so downstream plan rewrites can't multiply its evaluation."""
    return docs.select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias(out)
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, n_copies, canonical_id=min id)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _shingle_index(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return add_shingles(docs, n, text_col, id_col).select(
        "doc_id", F.explode("sh").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via inverted index.

    Returns (doc_a, doc_b, jaccard) for doc_a < doc_b with J ≥ threshold.

    Plan shape (one tokenize pass, two shuffles, no self-join):
    shingle arrays are computed ONCE with the doc's shingle count carried
    alongside; the inverted index groups on a 64-bit shingle hash (long
    shuffle keys, not strings) and each posting list expands to its
    in-bucket pairs with higher-order array functions — work per shingle is
    |postings|², confined to genuinely shared shingles.

    ``max_postings`` is the 100 TB stop-shingle guard: posting lists longer
    than the cap are dropped BEFORE the quadratic expansion (a shingle
    shared by k docs contributes k² pair rows — one boilerplate phrase in
    every doc is a quadratic bomb). Candidate pairs then lose that
    shingle's intersection evidence, so with a cap the survivors are
    re-verified exactly per pair via array_intersect (work ∝ candidates);
    the result UNDER-recalls only pairs whose entire overlap is
    stop-shingles — exactly the pairs near-dup dedup must not act on
    anyway. Default None keeps the uncapped exact join (the SQL-oracle
    path).
    """
    # one exploded struct keeps the shingle array single-referenced (one
    # evaluation per row); n_sh rides along on every posting row
    entries = let(
        shingles(F.col(text_col), n),
        lambda g: F.transform(
            g, lambda s: F.struct(F.size(g).alias("n_sh"), s.alias("shingle"))
        ),
    )
    sh = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(entries).alias("e")
    ).select("doc_id", F.col("e.n_sh").alias("n_sh"), F.col("e.shingle").alias("shingle"))

    keyed = sh.select(
        F.xxhash64("shingle").alias("sh_hash"), "doc_id", "n_sh"
    )
    if max_postings is not None:
        # bound the collect_list STATE, not just its output: a stop-shingle
        # shared by k docs would otherwise buffer all k postings inside ONE
        # aggregation state before the size filter could drop the list —
        # the same single-state pattern as an uncapped exact percentile.
        # One COUNT pass (bounded state) nominates the shingles worth
        # collecting; the semi-join keeps only their rows, so every
        # collect_list state holds ≤ max_postings entries. Costs one extra
        # scan of the exploded shingles; identical output.
        keep = (
            keyed.groupBy("sh_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter((F.col("_df") > 1) & (F.col("_df") <= max_postings))
            .select("sh_hash")
        )
        keyed = keyed.join(keep, "sh_hash", "left_semi")
    postings = keyed.groupBy("sh_hash").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds")
    )
    postings = postings.filter(F.size("ds") > 1)
    pairs = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("ds"), i + F.lit(2), F.size("ds") - i - 1
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    if max_postings is not None:
        # capped index: per-pair counts would miss the dropped stop-
        # shingles, so the index only NOMINATES candidates (plain distinct,
        # no aggregation buffers); Jaccard is recomputed exactly per pair
        cands = pairs.select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
        ).distinct()
        return _verify_jaccard(
            cands, add_shingles(docs, n, text_col, id_col), threshold
        )
    inter = pairs.groupBy(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_inter"),
        F.first("p.a.n_sh").alias("size_a"),
        F.first("p.b.n_sh").alias("size_b"),
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(
    shingle_arr: Column, num_hashes: int = 32, hash_fn: HashFn | None = None
) -> Column:
    """MinHash signature: per seed, min 64-bit hash over the shingle set.

    The default xxhash64 is a JVM built-in — the whole signature is
    codegen'd, no UDF; ``hash_fn=portable_hash64`` yields the SQL-twin
    variant. Pass a MATERIALIZED shingle array column (compute shingles
    once; the per-seed passes then scan the array without re-deriving the
    grams).
    """
    hf = hash_fn or xxhash64_seeded
    mins = [
        F.array_min(F.transform(shingle_arr, lambda s: hf(s, i)))
        for i in range(num_hashes)
    ]
    return F.array(*mins)


def _minhash_sig_sql(sh_col: str, num_hashes: int, portable: bool) -> str:
    """minhash_signature rendered as ONE Spark-SQL string over an existing
    shingle-array column — same py4j-latency rationale as _simhash_sql
    (the 32-transform signature costs ~1 s of Column-API plan build)."""
    if portable:
        hash_of = (
            "CAST(conv(substring(md5(concat_ws('#', s, '{i}')), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
    else:
        hash_of = "xxhash64(s, {i})"
    mins = ", ".join(
        f"array_min(transform({sh_col}, s -> {hash_of.format(i=i)}))"
        for i in range(num_hashes)
    )
    return f"array({mins})"


def minhash_banded(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn | None = None,
    portable_bands: bool = False,
    carry_cols: tuple[str, ...] = (),
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH bucket rows — the shared banding
    core of ``minhash_lsh_candidates`` (batch) and
    ``streaming/stateful.streaming_lsh_candidates`` (keyed-state stream).
    ``carry_cols`` ride through unchanged (e.g. a stream's seq column).
    All pure built-in expressions, so the frame is streaming-safe.

    ``shingled`` (r13): a prepared ``(doc_id, sh, *carry_cols)`` frame —
    already short-doc-filtered — to band instead of deriving the
    shingles here; lets batch callers that ALSO verify candidates share
    one persisted shingle pass (see minhash_near_dups)."""
    rows = num_hashes // bands

    def band_key(i: int) -> Column:
        sl = F.slice(F.col("sig"), i * rows + 1, rows)
        if portable_bands:
            return F.concat_ws(
                ",", F.transform(sl, lambda v: v.cast("string"))
            )
        return F.hash(sl).cast("string")

    # docs shorter than n tokens have no shingles: every signature slot is
    # NULL, so ALL of them would share one band key and pair quadratically
    # (k² candidates that the later NULL-Jaccard verify only discards).
    # They cannot be near-duplicates of anything — drop them before banding.
    # r12: the drop predicate is the CHEAP token count, applied below the
    # shingle projection. Filtering on the projected sh column
    # (`.filter(F.size("sh") > 0)`) let PushDownPredicate substitute the
    # whole tokenize+gram+distinct chain into the pushed filter — the full
    # shingle expression evaluated TWICE per row (plan showed the chain in
    # both Filter and Project). size(split(text)) >= n is exactly
    # equivalent: grams are non-empty iff the token count reaches n (NULL
    # text yields NULL/-1 size on both paths and is dropped either way).
    sh = shingled if shingled is not None else docs.filter(
        F.size(tokens(F.col(text_col))) >= n
    ).select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), n).alias("sh"),
        *[F.col(c) for c in carry_cols],
    )
    if hash_fn is None or hash_fn is portable_hash64:
        sig = sh.selectExpr(
            "doc_id",
            _minhash_sig_sql("sh", num_hashes, hash_fn is portable_hash64)
            + " AS sig",
            *carry_cols,
        )
    else:
        sig = sh.select(
            "doc_id",
            minhash_signature(F.col("sh"), num_hashes, hash_fn).alias("sig"),
            *[F.col(c) for c in carry_cols],
        )
    return sig.select(
        "doc_id",
        *[F.col(c) for c in carry_cols],
        F.posexplode(F.array(*[band_key(i) for i in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn | None = None,
    portable_bands: bool = False,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 identical signature band.

    rows_per_band = num_hashes // bands. Returns distinct (doc_a, doc_b).
    Shuffle is keyed by (band_id, band_hash) — linear in corpus size; the
    quadratic blow-up is confined to true near-dup buckets.

    portable_bands=True keys each band on the comma-joined signature slice
    (a string both engines render identically) instead of F.hash, so a
    DuckDB oracle built with string_agg reproduces the exact bucketing.
    ``shingled`` passes a prepared shingle frame through to
    ``minhash_banded``.
    """
    banded = minhash_banded(
        docs, num_hashes, bands, n, text_col, id_col, hash_fn, portable_bands,
        shingled=shingled,
    )
    # r12: in-bucket pair expansion via ONE grouped pass instead of a
    # self-join of the banded frame. The join form computed the banding
    # side (tokenize + num_hashes-transform signature) TWICE — once per
    # alias (no exchange reuse: one side becomes the build side) — and
    # paid the join exchange on top. Grouping on the band key collects
    # each bucket's sorted doc ids once and expands the in-bucket pairs
    # with the same higher-order slice/transform expansion
    # ngram_jaccard_pairs uses. Identical distinct (doc_a < doc_b) set:
    # a doc appears at most once per bucket (one row per band), so the
    # ascending-sorted expansion enumerates exactly the join's pairs. A
    # degenerate bucket of k docs buffers k ids in one aggregation state —
    # strictly smaller than the k² pair rows either form must emit.
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("ds"), i + F.lit(2), F.size("ds") - i - 1
                        ),
                        lambda b: F.struct(
                            a.alias("doc_a"), b.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _verify_jaccard(
    cands: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs via array_intersect on the two
    shingle arrays — work strictly proportional to the candidate count (no
    shingle-index self-join). cands: (doc_a, doc_b); sh: (doc_id, sh)."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    hash_fn: HashFn | None = None,
    portable_bands: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard (``_verify_jaccard``).

    With ``hash_fn=portable_hash64, portable_bands=True`` the whole
    pipeline — signatures, banding, candidate join, verification — is
    reproducible in ANSI SQL, which is how the driver hash-matches it
    (catalog ``minhash_near_dups_md5``).

    Release contract: the returned frame reads a shingle frame that this
    call persists (``cache.tracked_persist``) and does not unpersist. It
    stays cached, in executor memory and disk, until the caller runs
    ``cache.release_tracked_persists(spark)`` — after the last action on
    the result. A caller that never releases keeps it for the session."""
    from open_ftth_relational_projector_spark.cache import tracked_persist

    # ONE shingle pass (r13, guide §1.2/§5): the banding side and BOTH
    # verify join sides previously each re-scanned the documents and
    # re-derived tokenize+grams (3 scans, 3 shingle chains in the plan).
    # The shared frame is persisted for the duration of the consuming
    # action (query-scoped: the caller loop releases it). Filtering the
    # verify side to ≥n-token docs is lossless: a shorter doc has no
    # shingles, so it can never appear in a banding candidate pair, and
    # the inner verify join drops it either way.
    sh = tracked_persist(
        docs.filter(F.size(tokens(F.col("text"))) >= n).select(
            F.col("doc_id"),
            shingles(F.col("text"), n).alias("sh"),
        )
    )
    cands = minhash_lsh_candidates(
        docs, num_hashes, bands, n, hash_fn=hash_fn,
        portable_bands=portable_bands, shingled=sh,
    )
    return _verify_jaccard(cands, sh, threshold)


def cross_doc_shingle_dup(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplication profile (the RefinedWeb/CCNet signal):
    for each doc, the fraction of its distinct n-gram shingles that also
    appear in at least one OTHER document.

    Plan: explode distinct shingles → one groupBy(shingle) posting count →
    join back keyed on the shingle → one per-doc aggregate. Inverted-index
    shape, linear shuffles, no pair expansion at all — this is the filter
    you run at 100 TB where even bucketed pair joins are too much. Shingle
    strings are the join key here for oracle parity; at scale key on
    xxhash64(shingle) (64-bit shuffle keys) exactly as ngram_jaccard_pairs
    does.
    """
    sh = _shingle_index(docs, text_col, id_col, n)
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
            .cast("int")
            .alias("n_shared"),
            F.round(
                F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("shared_frac"),
        )
    )


def benchmark_decontamination(
    docs: DataFrame,
    every: int = 50,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-set decontamination against a held-out benchmark: flag
    every training doc sharing any n-gram shingle with the eval set.

    The eval set here is the deterministic slice doc_id % every == 0 (in a
    real pipeline: the benchmark suites). Its distinct shingle set is
    small relative to the corpus by construction, so it BROADCASTS — the
    training corpus is scanned once, never shuffled for the probe; the
    only shuffle is the per-doc overlap count. 8-grams are the standard
    contamination unit (GPT-3/PaLM reports use 8-13).
    """
    is_eval = (F.col(id_col) % every) == 0
    eval_sh = (
        _shingle_index(docs.filter(is_eval), text_col, id_col, n)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train_sh = _shingle_index(docs.filter(~is_eval), text_col, id_col, n)
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            (F.col("n_overlap") > 0).alias("contaminated"),
        )
    )


def simhash_column(
    text: Column, n_bits: int = 64, hash_fn: HashFn | None = None
) -> Column:
    """SimHash fingerprint of a text column as ONE row-local expression.

    Per row: hash the distinct tokens, fold a ``n_bits``-element ±1 count
    vector over the hash array with ``F.aggregate``, then pack sign bits
    into a long. No explode, no groupBy — zero Exchange at any scale (the
    previous formulation exploded tokens into a 64-conditional-sum groupBy;
    this one is map-only and ~2× faster at sf0.1). Both formulations are
    pinned equal in tests/test_dedup.py.
    """
    # default matches the original formulation: unseeded xxhash64 (seed 42)
    hf = hash_fn or (lambda t, _s: F.xxhash64(t))
    hs = F.transform(
        F.array_distinct(tokens(text)), lambda t: hf(t, 0)
    )
    zero = F.array_repeat(F.lit(0), n_bits)
    counts = F.aggregate(
        hs,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                    for b in range(n_bits)
                ]
            ),
            lambda a, d: a + d,
        ),
    )
    # let-bind the fold so the n_bits packing references evaluate it once
    return let(
        counts,
        lambda c: sum(
            (
                F.when(
                    F.element_at(c, b + 1) > 0,
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
                for b in range(1, n_bits)
            ),
            start=F.when(
                F.element_at(c, 1) > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def _simhash_sql(text_col: str, n_bits: int, portable: bool) -> str:
    """The simhash_column expression rendered as ONE Spark-SQL string.

    Semantically identical to simhash_column (differential-pinned in
    tests); exists because building the 64-wide expression through the
    Column API costs thousands of py4j round trips (~1-5 s of driver time
    per plan), while parsing one SQL string is a single call. The driver
    bench runs each query once, so plan-construction time is real
    latency."""
    hash_of = (
        "CAST(conv(substring(md5(concat_ws('#', t, '0')), 1, 15), 16, 10) AS BIGINT)"
        if portable
        else "xxhash64(t)"
    )
    bits = ", ".join(
        f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END"
        for b in range(n_bits)
    )
    pack = " + ".join(
        f"CASE WHEN element_at(c, {b + 1}) > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END"
        for b in range(n_bits)
    )
    counts = (
        f"aggregate(transform(array_distinct(split({text_col}, ' ')), "
        f"t -> {hash_of}), array_repeat(0, {n_bits}), "
        f"(acc, h) -> zip_with(acc, array({bits}), (a, d) -> a + d))"
    )
    # same single-evaluation let-binding trick as functions.text.let
    return f"element_at(transform(array({counts}), c -> {pack}), 1)"


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
    hash_fn: HashFn | None = None,
) -> DataFrame:
    """SimHash per document — the row-local fold of simhash_column.

    The two supported hash families go through a generated SQL string
    (one py4j parse instead of thousands of Column-API round trips —
    ~4 s less driver latency on a cold plan); a custom ``hash_fn``
    falls back to the Column API. ``hash_fn=portable_hash64`` (with
    ``n_bits=60``) is the SQL-oracle-matchable variant; default xxhash64
    is the scale path. Returns (id_col, simhash long)."""
    if hash_fn is None or hash_fn is portable_hash64:
        return docs.selectExpr(
            id_col,
            _simhash_sql(text_col, n_bits, hash_fn is portable_hash64)
            + " AS simhash",
        )
    return docs.select(
        F.col(id_col),
        simhash_column(F.col(text_col), n_bits, hash_fn).alias("simhash"),
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 64,
    bands: int = 4,
    hash_fn: HashFn | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-duplicate pairs: (doc_a < doc_b, hamming ≤ max_hamming).

    Scale shape — pigeonhole banding, the SimHash analogue of MinHash-LSH:
    the fingerprint splits into ``bands`` contiguous bit ranges; any pair
    within Hamming distance d < bands must agree EXACTLY on at least one
    band, so candidates join keyed on (band_id, band_bits) — one linear
    shuffle, no all-pairs — and are verified with one bit_count per
    candidate. Requires ``max_hamming < bands`` (asserted) for full
    recall. The md5-portable hash family makes the entire pipeline
    SQL-reproducible (catalog ``simhash_near_dups`` oracle does the
    quadratic join DuckDB-side — affordable at oracle scale only)."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole recall needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    width = n_bits // bands
    mask = (1 << width) - 1
    fp = simhash64(docs, text_col, id_col, n_bits, hash_fn)
    banded = fp.select(
        F.col(id_col).alias("doc_id"),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band_id", "band_bits"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("fp_a"),
        "band_id",
        "band_bits",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("fp_b"),
        "band_id",
        "band_bits",
    )
    return (
        a.join(b, ["band_id", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .withColumn("hamming", F.col("hamming").cast("int"))
    )


def incremental_dedup_report(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append-only corpus ingestion dedup: each NEW document checked
    against the EXISTING corpus only — the production shape (the standing
    corpus is never re-deduplicated; a new shard is screened before
    admission).

    Returns one row per new doc: (doc_id, exact_dup_of, best_match,
    best_jaccard, verdict) where exact_dup_of = min existing id with
    identical text (null if none), best_match/best_jaccard = the highest
    n-gram-Jaccard existing doc (null / -1.0 when no shingle co-occurs),
    and verdict ∈ {'exact_dup','near_dup','unique'} (near_dup iff
    best_jaccard ≥ threshold).

    Scale shape: the exact screen is one hash-keyed left join (md5 of the
    text — at scale the existing side is a hash index, not a scan). The
    near-dup screen is the shingle inverted index joined NEW-against-OLD
    only — candidate pairs are (new, old) co-occurrences, never old×old:
    the quadratic term the full-corpus join pays on every run is paid
    only across the new/old boundary. Jaccard is verified per candidate
    pair exactly (intersection count / union by inclusion–exclusion).
    """
    new_sh = add_shingles(new_docs, n, text_col, id_col).select(
        "doc_id", F.col("sh"), F.size("sh").alias("n_new")
    )
    old_sh = add_shingles(existing_docs, n, text_col, id_col).select(
        F.col("doc_id").alias("old_id"),
        F.col("sh").alias("old_sh"),
        F.size("sh").alias("n_old"),
    )
    new_idx = new_sh.select(
        "doc_id", "n_new", F.explode("sh").alias("shingle")
    )
    old_idx = old_sh.select(
        "old_id", "n_old", F.explode("old_sh").alias("shingle")
    )
    inter = (
        new_idx.join(old_idx, "shingle")
        .groupBy("doc_id", "n_new", "old_id", "n_old")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        F.col("n_new") + F.col("n_old") - F.col("n_inter")
    ).cast("double")
    best = (
        inter.withColumn("jaccard", jac)
        .groupBy("doc_id")
        .agg(
            F.max_by(
                F.col("old_id"),
                F.struct(
                    F.col("jaccard").alias("j"),
                    (-F.col("old_id")).alias("tie"),
                ),
            ).alias("best_match"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    exact = (
        new_docs.select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.col(text_col)).alias("h"),
        )
        .join(
            existing_docs.select(
                F.md5(F.col(text_col)).alias("h"),
                F.col(id_col).alias("eid"),
            ),
            "h",
            "left",
        )
        .groupBy("doc_id")
        .agg(F.min("eid").alias("exact_dup_of"))
    )
    bj = F.coalesce(F.col("best_jaccard"), F.lit(-1.0))
    return (
        exact.join(best, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup_of",
            "best_match",
            F.round(bj, 4).alias("best_jaccard"),
            F.when(F.col("exact_dup_of").isNotNull(), "exact_dup")
            .when(bj >= threshold, "near_dup")
            .otherwise("unique")
            .alias("verdict"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-gram, then keep the
    MINIMUM hash of each sliding window of ``window`` consecutive k-gram
    hashes (rightmost on ties). Guarantees: any shared substring of length
    ≥ window + k − 1 contributes at least one shared fingerprint, while
    storing only ~2/(window+1) of the hashes — the principled sparse
    selection that plain modulo-sampling of hashes can't promise.

    Returns (doc_id, fingerprint) distinct pairs — join on fingerprint for
    local (substring-level) overlap detection, the granularity document-
    level shingle sets blur. All row-local JVM higher-order functions
    (hash array → per-window argmin → distinct) with the md5-portable
    hash, then one explode; the only shuffle is whatever the caller does
    with the pairs.
    """
    from open_ftth_relational_projector_spark.functions.text import let, tokens

    def fp_of(toks: Column) -> Column:
        cnt = F.size(toks)
        kidx = F.when(cnt >= k, F.sequence(F.lit(1), cnt - (k - 1))).otherwise(
            F.array().cast("array<int>")
        )
        grams = F.transform(
            kidx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
        hashes = F.transform(grams, lambda g: portable_hash64(g, 0))
        nh = F.size(hashes)
        widx = F.when(
            nh >= window, F.sequence(F.lit(1), nh - (window - 1))
        ).otherwise(F.when(nh > 0, F.array(F.lit(1))).otherwise(
            F.array().cast("array<int>")
        ))
        # per window: min hash; rightmost occurrence on ties is implied by
        # taking the plain min of the slice (hash ties are 2^-60 events;
        # the min VALUE is identical either way, and only values are kept)
        wmin = F.transform(
            widx,
            lambda i: F.array_min(F.slice(hashes, i, F.least(F.lit(window), nh))),
        )
        return F.array_distinct(wmin)

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(let(tokens(F.col(text_col)), fp_of)).alias("fingerprint"),
    ).distinct()


def jaccard_pairs_prefix_filtered(
    docs: DataFrame,
    threshold: float = 0.05,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard similarity join with AllPairs/PPJoin prefix filtering
    (Bayardo et al., WWW 2007; Chaudhuri et al., ICDE 2006): provably the
    same result set as ``ngram_jaccard_pairs`` with far fewer candidates.

    Principle: order every doc's shingles by GLOBAL rarity (ascending
    document frequency — one total order for the whole corpus). Two sets
    with Jaccard ≥ t MUST share an element within each one's PREFIX of
    length |x| − ⌈t·|x|⌉ + 1, so only prefix shingles enter the inverted
    index — the frequent shingles (the longest posting lists, the
    quadratic bombs) mostly sit OUTSIDE prefixes. Candidates are then
    verified exactly against the full shingle sets.

    This is the principled counterpart to the blunt ``max_postings`` cap
    on ngram_jaccard_pairs: that one trades recall for boundedness; prefix
    filtering keeps EXACTNESS and prunes because rarity-ordered prefixes
    are where matching pairs must collide (pinned equal-result in tests).
    """
    sh = add_shingles(docs, n, text_col, id_col)
    idx = sh.select("doc_id", F.explode("sh").alias("shingle"))
    df_t = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # One keyed aggregation builds the rarity-sorted prefix per doc: pack
    # each doc's (df, shingle) postings into a sorted array, keep only the
    # prefix slice, posexplode for positions. This replaces the earlier
    # row_number window + separate per-doc sizes groupBy + join — two
    # doc-keyed shuffles and a sort-based WindowExec collapse into one
    # partial-aggregated shuffle (sort_array runs per doc, bounded by doc
    # length, not per partition). Same output bit-for-bit (the equal-result
    # test vs ngram_jaccard_pairs pins losslessness).
    packed = (
        idx.join(df_t, "shingle")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "sort_array(collect_list(struct(df, shingle))) AS ordered"
            )
        )
        .selectExpr(
            "doc_id",
            "size(ordered) AS n_sh",
            f"slice(ordered, 1, size(ordered)"
            f" - CAST(ceil({threshold!r} * size(ordered)) AS INT) + 1)"
            " AS pref",
        )
    )
    prefix = packed.select(
        "doc_id",
        "n_sh",
        F.posexplode("pref").alias("pos0", "entry"),
    ).selectExpr(
        "doc_id", "entry.shingle AS shingle", "pos0 + 1 AS pos", "n_sh"
    )
    # PPJoin positional filter (Xiao et al., WWW 2008), set-based and
    # LOSSLESS: both docs' shingle lists are sorted by the SAME global
    # (df, shingle) total order, so for a shared prefix shingle at
    # positions (i, j) every other common shingle lies either before it
    # in BOTH lists (≤ min(i,j)−1 of those) or after it in both
    # (≤ min(na−i, nb−j)). overlap ≤ min(i,j) + min(na−i, nb−j), taking
    # the tightest bound over all shared prefix shingles; a pair whose
    # best-case Jaccard ub/(na+nb−ub) cannot reach the threshold is
    # pruned BEFORE the exact verification join. The 1e-9 slack keeps the
    # float boundary cases (verified exactly anyway) — J ≥ t implies
    # bound ≥ t > t−ε, so no qualifying pair is ever dropped (pinned by
    # the equal-result test vs ngram_jaccard_pairs).
    ub = F.least(F.col("a.pos"), F.col("b.pos")) + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ub.alias("ub"),
            F.col("a.n_sh").alias("pna"),
            F.col("b.n_sh").alias("pnb"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("ub").alias("ub"),
            F.max("pna").alias("pna"),
            F.max("pnb").alias("pnb"),
        )
        .filter(
            F.col("ub")
            / (F.col("pna") + F.col("pnb") - F.col("ub")).cast("double")
            >= F.lit(threshold - 1e-9)
        )
        .select("doc_a", "doc_b")
    )
    full = sh.select(
        F.col("doc_id"), F.col("sh"), F.size("sh").alias("nsz")
    )
    fa = full.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sha"),
        F.col("nsz").alias("na"),
    )
    fb = full.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("shb"),
        F.col("nsz").alias("nb"),
    )
    ni = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = ni / (F.col("na") + F.col("nb") - ni).cast("double")
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int | None = None,
) -> DataFrame:
    """Asymmetric containment join: C(A→B) = |shingles(A) ∩ shingles(B)|
    / |shingles(A)| — the quote/subset detector Jaccard structurally
    misses (a paragraph fully copied into a long document has high
    containment but low Jaccard, because the union is dominated by the
    container). The directional complement to ngram_jaccard_pairs for
    dedup policy: drop the CONTAINED side, keep the container.

    Same inverted-index shape as ngram_jaccard_pairs (one tokenize pass,
    postings on 64-bit shingle hashes, in-bucket pair expansion — work ∝
    genuinely shared shingles); each unordered candidate pair then emits
    up to two directional rows.

    ``max_postings`` is the same 100 TB stop-shingle guard as
    ngram_jaccard_pairs: hot shingles are dropped by a bounded COUNT pass
    BEFORE their postings ever enter a collect_list state or the
    quadratic pair expansion; the surviving candidate pairs lose that
    intersection evidence, so capped mode recomputes containment exactly
    per pair from the full shingle arrays (work ∝ candidates).
    Default None keeps the uncapped exact join (the SQL-oracle path).

    Returns (contained, container, containment) with containment ≥
    ``threshold``, containment rounded to 4 dp.
    """
    entries = let(
        shingles(F.col(text_col), n),
        lambda g: F.transform(
            g, lambda s: F.struct(F.size(g).alias("n_sh"), s.alias("shingle"))
        ),
    )
    sh = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(entries).alias("e")
    ).select(
        "doc_id", F.col("e.n_sh").alias("n_sh"), F.col("e.shingle").alias("shingle")
    )
    keyed = sh.select(
        F.xxhash64("shingle").alias("sh_hash"), "doc_id", "n_sh"
    )
    if max_postings is not None:
        # bounded-state stop-shingle guard (see ngram_jaccard_pairs)
        keep = (
            keyed.groupBy("sh_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter((F.col("_df") > 1) & (F.col("_df") <= max_postings))
            .select("sh_hash")
        )
        keyed = keyed.join(keep, "sh_hash", "left_semi")
    postings = (
        keyed.groupBy("sh_hash")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ds"), i + F.lit(2), F.size("ds") - i - 1),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    if max_postings is not None:
        # capped index: per-pair counts miss the dropped stop-shingles, so
        # the index only NOMINATES candidates; containment recomputes
        # exactly per pair from the full shingle arrays
        cands = pairs.select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
        ).distinct()
        sh_full = add_shingles(docs, n, text_col, id_col)
        j = cands.join(
            sh_full.select(
                F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
            ),
            "doc_a",
        ).join(
            sh_full.select(
                F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
            ),
            "doc_b",
        )
        inter = j.select(
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
        )
    else:
        inter = (
            pairs.groupBy(
                F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"),
                F.col("p.a.n_sh").alias("n_a"),
                F.col("p.b.n_sh").alias("n_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained"),
                    F.col("doc_b").alias("container"),
                    (F.col("n_inter") / F.col("n_a").cast("double")).alias("c"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained"),
                    F.col("doc_a").alias("container"),
                    (F.col("n_inter") / F.col("n_b").cast("double")).alias("c"),
                ),
            )
        ).alias("d")
    )
    return (
        directed.select(
            F.col("d.contained").alias("contained"),
            F.col("d.container").alias("container"),
            F.round(F.col("d.c"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def duplicated_spans(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: bool = False,
    repartition_to: int | None = None,
) -> DataFrame:
    """Repeated-substring span detection — the exact-substring dedup
    preprocessing of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): per document, the maximal character spans
    covered by length-``min_len`` substrings that occur MORE THAN ONCE in
    the corpus (in another document or at another position of the same
    one). The reference method builds a corpus suffix array; the
    distributed shape here reaches the same span set for the fixed
    match length L=min_len via an inverted index:

    1. explode every char position 0..len-L into its L-gram (linear in
       corpus chars — the suffix-array's lexicographic global sort
       replaced by a hash shuffle on the gram);
    2. grams with corpus frequency >= 2 mark their (doc, pos) as a
       duplicated window [pos, pos+L);
    3. per doc, overlapping-or-touching windows merge into maximal spans
       with one ordered pass (positions ascend, so the previous window's
       start is lag(pos): a new span opens when pos > lag(pos) + L) —
       a window PARTITIONED by doc, bounded by doc length, never by
       corpus size.

    Returns one row per doc: (doc_id, n_dup_spans INT, dup_chars BIGINT,
    n_chars BIGINT, dup_frac DOUBLE(4dp)) — docs with no duplicated span
    included with zeros, so the output is a full per-doc dedup budget
    (dup_frac is what the Lee et al. pipeline cuts from each doc).

    ``fingerprint=True`` is the production shuffle shape: grams hash to
    8-byte xxhash64 fingerprints BEFORE the frequency shuffle, cutting
    shuffle bytes per position from L to 8 (a 2.5x reduction at L=20 and
    growing with L — the gram explosion is the operator's whole cost at
    corpus scale). A fingerprint collision (~n²/2⁶⁴ over the corpus gram
    count) can mark a non-repeated window as duplicated; exact grams
    (the default) are the oracle path.

    ``repartition_to``: the gram explode is a narrow map, so its
    parallelism is the INPUT's partitioning — right at scale (a 100 TB
    corpus scans as thousands of splits; an extra shuffle of the raw
    text would be waste), but a small single-file input serializes on
    one core. Passing a target spreads docs by id first (shuffling 1x
    the text, ~L-times smaller than the gram shuffle it unblocks).
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("t"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    eligible = base.filter(F.col("n_chars") >= min_len)
    if repartition_to:
        eligible = eligible.repartition(repartition_to, "doc_id")
    grams = eligible.selectExpr(
        "doc_id",
        f"explode(sequence(0, n_chars - {min_len})) AS pos",
        "t",
    ).selectExpr(
        "doc_id",
        "pos",
        (
            f"xxhash64(substring(t, pos + 1, {min_len})) AS gram"
            if fingerprint
            else f"substring(t, pos + 1, {min_len}) AS gram"
        ),
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    hits = (
        grams.join(freq.filter(F.col("n") >= 2), "gram")
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            (F.col("prev").isNull() | (F.col("pos") > F.col("prev") + min_len))
            .cast("int"),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg((F.max("pos") + min_len - F.min("pos")).alias("span_chars"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dup_spans"),
            F.sum("span_chars").cast("long").alias("dup_chars"),
        )
    )
    return (
        base.select("doc_id", "n_chars")
        .join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            "n_chars",
            # n_chars=0 (empty text) divides to NULL on Spark but NaN on
            # DuckDB — pin the trivially-dup-free doc to 0.0 on both
            F.when(F.col("n_chars") > 0,
                F.round(
                    F.coalesce("dup_chars", F.lit(0))
                    / F.col("n_chars").cast("double"),
                    4,
                ),
            ).otherwise(0.0).alias("dup_frac"),
        )
    )


# --- corpus snapshot versioning ---------------------------------------------

def snapshot_diff(
    v1: DataFrame,
    v2: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-version diff by content fingerprint: one full-outer join of
    two snapshots' (id, fingerprint) sets → per-id status ∈
    added / removed / changed / unchanged. ``carry`` columns are
    coalesced across the two sides (v1 wins where both exist).

    The standard corpus-versioning primitive for incremental
    recrawl/retrain decisions: at 100 TB only (id, 32-byte fingerprint
    [, carry]) pairs ship through the ONE co-partitioned shuffle — the
    text never moves, and the output drives which documents re-enter the
    downstream pipeline.
    """
    a = v1.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp1"),
        *[F.col(c).alias(f"a_{c}") for c in carry],
    )
    b = v2.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp2"),
        *[F.col(c).alias(f"b_{c}") for c in carry],
    )
    return a.join(b, "id", "full_outer").select(
        F.col("id").alias(id_col),
        F.when(F.col("fp1").isNull(), "added")
        .when(F.col("fp2").isNull(), "removed")
        .when(F.col("fp1") == F.col("fp2"), "unchanged")
        .otherwise("changed")
        .alias("status"),
        *[F.coalesce(f"a_{c}", f"b_{c}").alias(c) for c in carry],
    )
