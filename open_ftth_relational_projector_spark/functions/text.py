"""Text analysis for document pipelines: token stats, quality scoring,
language-ID heuristic, fingerprinting.

All pure column expressions (whole-stage codegen; no UDFs). Tokenization is
single-space split so a SQL oracle can reproduce it bit-for-bit; swap in the
regex tokenizer for messier corpora.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, functions as F

#: tiny built-in stopword lists for the language heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "y", "de"],
}


def let(value: Column, body) -> Column:
    """Single-evaluation binding: evaluate ``value`` once per row, then let
    ``body`` (Column -> Column) reference it any number of times.

    Catalyst's projection collapse — especially through Generate/explode
    nodes — can inline an aliased expensive expression into EVERY reference,
    re-evaluating it per reference and per array element inside higher-order
    lambdas (a shingle explode was re-running the tokenizing split ~12× per
    row). Routing the value through a one-element-array transform turns it
    into a lambda variable, which the optimizer cannot substitute into the
    body: exactly one evaluation per row, regardless of plan rewrites.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


#: GPT-style BPE pre-tokenization classes: alphabetic runs, single digits,
#: single non-alphanumeric marks; whitespace never tokenizes. Kept to a
#: Java-regex/RE2-common subset so a DuckDB oracle runs the same pattern.
SUBWORD_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def subword_token_count(text: Column) -> Column:
    """BPE-ish token-count estimate: counts pre-tokenization pieces (the
    units BPE merges start from), a stable upper bound on the merged BPE
    count and the standard cheap budget heuristic for LLM corpora. Stays
    JVM-side (regexp_extract_all + size) — no UDF in the hot path."""
    return F.size(F.regexp_extract_all(text, F.lit(SUBWORD_TOKEN_RE), F.lit(0)))


def _count_tokens_in(text: Column, words: list[str]) -> Column:
    toks = tokens(text)
    cond = lambda t: reduce(lambda a, w: a | (t == F.lit(w)), words, F.lit(False))
    return F.size(F.filter(toks, cond))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return _count_tokens_in(text, STOPWORDS[lang]) / token_count(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased view)."""
    low = F.lower(text)
    return (
        F.length(F.regexp_replace(low, "[a-z0-9 ]", ""))
        / F.length(low)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation. Deliberately simple and SQL-mirrorable."""
    n = token_count(text)
    len_ok = F.when((n >= 20) & (n <= 10000), F.lit(0.4)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text, "en") > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    return len_ok + stop_ok + punct_ok


def lang_guess(text: Column) -> Column:
    """n-gram/stopword language heuristic: highest stopword hit count wins;
    ties broken by fixed language order (en, de, fr, es), 'und' = unknown."""
    counts = {lg: _count_tokens_in(text, ws) for lg, ws in STOPWORDS.items()}
    best = None
    for lg in ["en", "de", "fr", "es"]:
        c = counts[lg]
        if best is None:
            best = F.when(c > 0, F.lit(lg)).otherwise(F.lit("und"))
            best_count = c
        else:
            best = F.when(c > best_count, F.lit(lg)).otherwise(best)
            best_count = F.greatest(best_count, c)
    return best


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of whitespace-normalized lowercase."""
    norm = F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))
    return F.md5(norm)


def bm25_top_docs(
    docs,
    query_terms: list[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """BM25 retrieval: top-k documents for a bag of query terms.

    Okapi BM25 with the standard positive idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``. Plan shape for 100 TB: the
    exploded token stream is filtered to the query terms BEFORE any
    aggregation (the corpus-sized stream collapses to |q| terms × matching
    docs immediately), document length is a row-local expression on the
    original scan, and N/avgdl/df are tiny aggregates broadcast back — the
    corpus shuffles once, keyed by doc for the final per-doc sum. The
    global top-k is sort+limit (TakeOrderedAndProject: per-partition heaps,
    no single-partition window). Ranking compares the ROUNDED score with a
    doc_id tie-break so the cut is FP-stable across engines.
    """
    from pyspark.sql import functions as F

    q = [t for t in query_terms]
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isin(q))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("double").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.sum(contrib), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def tf_idf_top_terms(
    docs, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
):
    """Top-k TF-IDF terms per document.

    tf = term count within the doc; idf = ln(N / df) with df = number of
    docs containing the term. Plan shape: one explode → one (doc, term)
    aggregation; df comes from the same aggregate (count over docs per
    term) joined back — term-keyed shuffles only, no all-pairs anything.
    Ties break on term text so the result is a deterministic set.
    """
    from pyspark.sql import Window, functions as F

    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tf_idf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf_idf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            "term",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("tf_idf", 4).alias("tf_idf"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse-vector similarity join: document pairs whose TF-IDF vectors
    have cosine ≥ threshold — the weighted counterpart to the set-based
    n-gram Jaccard join (dedup.ngram_jaccard_pairs) and the sparse
    counterpart to the dense embedding join (similarity.
    embedding_near_dups).

    tf = term count in doc; idf = ln(N / df). Plan shape — the standard
    sparse sim-join: per-doc weights and norms from gram-keyed and
    doc-keyed aggregations; candidate pairs ONLY through the term
    inverted index (docs sharing no term never pair); per-pair dot from
    the weight products, normalized by precomputed norms. Work is
    Σ df(t)² over shared terms — bounded by the posting lists, never
    all-pairs; at 100 TB cap/drop stop-term posting lists exactly like
    ngram_jaccard_pairs' max_postings guard.
    """
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.select(F.col(id_col)).distinct().count()
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = tf.join(df_t, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    cos = F.col("dot") / (F.col("norm_a") * F.col("norm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= threshold)
        .select("doc_a", "doc_b", F.round(cos, 4).alias("cosine"))
    )


def _merge_adjacent_pair(s: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of every adjacent (left, right) symbol
    pair in array ``s`` — the BPE merge-application rule. A pure
    ``F.aggregate`` fold over the indices (JVM-side, no UDF): the
    accumulator carries (done, skip); ``skip`` marks that the current
    element was consumed as the right half of the previous merge."""
    n = F.size(s)
    init = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit(False).alias("skip"),
    )

    def step(acc, i):
        cur = F.element_at(s, i + 1)
        nxt = F.try_element_at(s, i + 2)  # NULL past the end (ANSI-safe)
        is_pair = (
            (~acc.skip)
            & nxt.isNotNull()
            & (cur == F.lit(left))
            & (nxt == F.lit(right))
        )
        done = (
            F.when(acc.skip, acc.done)
            .when(is_pair, F.concat(acc.done, F.array(F.concat(cur, nxt))))
            .otherwise(F.concat(acc.done, F.array(cur)))
        )
        skip = F.when(acc.skip, F.lit(False)).otherwise(is_pair)
        return F.struct(done.alias("done"), skip.alias("skip"))

    return F.aggregate(
        F.sequence(F.lit(0), n - 1), init, step, lambda acc: acc["done"]
    )


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    return_vocab: bool = False,
):
    """Learn the first ``n_merges`` BPE merge rules from a corpus — the
    tokenizer-TRAINING half of the BPE story (``subword_token_count`` is
    the counting half). Classic algorithm (Sennrich et al. 2016 §3.2):
    fold the corpus to a (word, count) vocabulary, split words to symbol
    arrays, then repeatedly (1) count adjacent symbol pairs weighted by
    word count, (2) pick the most frequent pair (ties broken by pair
    string ascending — deterministic across engines), (3) merge every
    greedy left-to-right occurrence. Returns one row per learned rule:
    (it, lhs, rhs, pair_count).

    Scale shape: state is the VOCABULARY (words x symbol arrays), never
    the corpus; each iteration costs one pair-count shuffle over the
    vocab plus a 1-row argmax collect (bounded — the merge rule itself);
    merge application is a map-side JVM array fold. localCheckpoint per
    iteration truncates the growing plan lineage.

    With ``return_vocab`` the fully merged (word, symbols) vocabulary is
    returned alongside the rules, so tokenizer APPLICATION
    (``bpe_tokenize_counts``) can reuse it instead of re-tokenizing and
    re-folding the vocabulary from scratch.
    """
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "w",
        "cnt",
        F.split(
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), " "
        ).alias("s"),
    ).localCheckpoint(eager=True)
    spark = docs.sparkSession
    out_rows = []
    for it in range(1, n_merges + 1):
        pairs = (
            cur.filter(F.size("s") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2), "
                        "i -> concat(s[i], ' ', s[i + 1]))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("cnt").alias("n"))
        )
        # bounded collect: exactly one row — the learned merge rule
        top = pairs.orderBy(F.desc("n"), F.asc("p")).limit(1).collect()
        if not top:
            break
        lhs, rhs = top[0]["p"].split(" ", 1)
        out_rows.append((it, lhs, rhs, int(top[0]["n"])))
        cur = cur.select(
            "w", "cnt", _merge_adjacent_pair(F.col("s"), lhs, rhs).alias("s")
        ).localCheckpoint(eager=True)
    merges_df = spark.createDataFrame(
        out_rows, "it int, lhs string, rhs string, pair_count long"
    )
    if return_vocab:
        return merges_df, cur.select("w", "s")
    return merges_df


def bpe_tokenize_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    merged_vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-document subword token counts under a learned BPE merge list —
    the APPLICATION half of ``bpe_learn`` (tokenize the corpus with the
    trained tokenizer; the budget/packing ops consume these counts).

    Scale shape: merges are applied on the VOCABULARY (each distinct word
    tokenized once via the same greedy ``F.aggregate`` fold as training),
    then joined back to the per-document word occurrences — per-doc work
    never re-tokenizes repeated words. One vocab aggregation, k map-side
    folds, one broadcast-friendly join, one per-doc sum.
    """
    occurrences = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    if merged_vocab is not None:
        merged = merged_vocab
    else:
        if merges is None:
            raise ValueError("pass either merges or merged_vocab")
        vocab = occurrences.select("w").distinct()
        sym = F.split(F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), " ")
        merged = vocab.select("w", sym.alias("s"))
        for lhs, rhs in merges:
            merged = merged.select(
                "w", _merge_adjacent_pair(F.col("s"), lhs, rhs).alias("s")
            )
    tok = merged.select("w", F.size("s").alias("n_tok"))
    return (
        occurrences.join(tok, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
    )


# --- Naive Bayes text classifier (one aggregation pass to train) ------------


def naive_bayes_confusion(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    train_hex: str = "b3333333",
    salt: str = "nb",
    ll_dp: int = 6,
) -> DataFrame:
    """Multinomial Naive Bayes with Laplace smoothing — the fastText-shaped
    quality/provenance classifier of a training-data pipeline — trained on
    an md5-deterministic ~70% split and evaluated as a confusion matrix
    ``(true_label, pred_label, n_docs)`` over the held-out rest.

    Scale/determinism shape:
    - TRAINING is one token aggregation pass: per-(class, term) counts +
      per-class totals; the model is the (vocab × classes) log-likelihood
      table — broadcast here (bounded vocab, the fastText hashing regime);
      at an unbounded vocab the scoring join shuffles on term instead.
    - Per-token log-likelihoods are ROUNDED to ``ll_dp`` and cast to
      DECIMAL, so every per-document score is an EXACT decimal sum —
      order-independent, engine-portable, and argmax ties resolve
      identically everywhere (max label among exact-equal scores). The
      only float op is the ln() itself, rounded immediately (the
      bigram-LM precedent).
    - The two driver-side values are bounded scalars (vocab size, train
      doc count) — the pagerank N pattern.
    """
    is_train = (
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        )
        < train_hex
    )
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.col(text_col).alias("_txt"),
        is_train.alias("_train"),
    )
    tok = base.select(
        "_id", "_lbl", "_train", F.explode(F.split("_txt", " ")).alias("_term")
    ).filter(F.col("_term") != "")
    train_tok = tok.filter("_train").localCheckpoint(eager=True)
    vocab_v = train_tok.select("_term").distinct().count()
    n_train = base.filter("_train").count()

    cls = train_tok.groupBy(F.col("_lbl").alias("_cls")).agg(
        F.count(F.lit(1)).alias("_tok_c")
    )
    n_docs_c = (
        base.filter("_train")
        .groupBy(F.col("_lbl").alias("_cls"))
        .agg(F.count(F.lit(1)).alias("_n_c"))
    )
    dec = f"decimal(18,{ll_dp})"
    classes = (
        cls.join(n_docs_c, "_cls")
        .select(
            "_cls",
            F.round(
                F.log(F.lit(1.0) / (F.col("_tok_c") + F.lit(vocab_v))), ll_dp
            ).cast(dec).alias("_dflt"),
            F.round(
                F.log(F.col("_n_c").cast("double") / F.lit(float(n_train))),
                ll_dp,
            ).cast(dec).alias("_prior"),
        )
    )
    cond = (
        train_tok.groupBy(F.col("_lbl").alias("_cls"), "_term")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .join(cls, "_cls")
        .select(
            "_cls",
            "_term",
            F.round(
                F.log(
                    (F.col("_cnt") + F.lit(1.0))
                    / (F.col("_tok_c") + F.lit(vocab_v))
                ),
                ll_dp,
            ).cast(dec).alias("_ll"),
        )
    )
    # per-(test doc, class) exact-decimal token score; docs whose text
    # yields zero tokens still score (priors only) via the left join below
    tok_scores = (
        tok.filter(~F.col("_train"))
        .crossJoin(F.broadcast(classes.select("_cls", "_dflt")))
        .join(F.broadcast(cond), ["_cls", "_term"], "left")
        .groupBy("_id", "_lbl", "_cls")
        .agg(F.sum(F.coalesce(F.col("_ll"), F.col("_dflt"))).alias("_s"))
    )
    scored = (
        base.filter(~F.col("_train"))
        .select("_id", "_lbl")
        .crossJoin(F.broadcast(classes.select("_cls", "_prior")))
        .join(tok_scores, ["_id", "_lbl", "_cls"], "left")
        .select(
            "_id",
            "_lbl",
            "_cls",
            (
                F.col("_prior")
                + F.coalesce(F.col("_s"), F.lit(0).cast(dec))
            ).alias("_score"),
        )
    )
    # argmax with deterministic tie-break: scores are EXACT decimals, so
    # max(struct(score, label)) = "largest label among the exactly-tied
    # max scores" — the same rule the SQL oracle applies
    pred = scored.groupBy("_id", "_lbl").agg(
        F.max(F.struct("_score", "_cls")).alias("_m")
    )
    return (
        pred.select(
            F.col("_lbl").alias("true_label"),
            F.col("_m._cls").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def sliding_token_chunks(
    docs: "DataFrame",
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Overlapping token-window chunking — the context-window preparation
    step for long documents (stride < window ⇒ window−stride tokens of
    overlap between consecutive chunks, the standard packing-with-overlap
    recipe). Deterministic chunk ids ``doc_id:idx``.

    Map-only: one split + one ``sequence``/``explode`` per document, no
    shuffle, no Python — at 100 TB this is a pure scan-side transform
    whose output feeds tokenization/packing directly. Returns
    (chunk_id, doc_id, idx, n_chunk_tokens, fp) where fp is the md5 of
    the chunk text (space-rejoined tokens — engine-portable, so a SQL
    oracle replays chunk boundaries AND content exactly).
    """
    base = docs.selectExpr(
        f"CAST({id_col} AS STRING) AS doc_id",
        f"split({text_col}, ' ') AS toks",
        f"size(split({text_col}, ' ')) AS n",
    )
    # last idx = ceil(max(n - window, 0) / stride): once a window reaches
    # the document end, no further (fully-contained, zero-new-coverage)
    # tail chunk is emitted. greatest() applies BEFORE the division so the
    # numerator is never negative (Spark `div` truncates toward zero,
    # DuckDB `//` floors — they disagree on negatives).
    return base.selectExpr(
        "doc_id",
        "toks",
        "n",
        f"explode(sequence(0,"
        f" (greatest(n - {window}, 0) + {stride} - 1) div {stride})) AS idx",
    ).selectExpr(
        "concat(doc_id, ':', CAST(idx AS STRING)) AS chunk_id",
        "doc_id",
        "CAST(idx AS INT) AS idx",
        f"CAST(least({window}, n - (idx * {stride} + 1) + 1) AS INT)"
        " AS n_chunk_tokens",
        f"md5(array_join(slice(toks, CAST(idx * {stride} + 1 AS INT),"
        f" {window}), ' ')) AS fp",
    )
