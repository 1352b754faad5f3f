"""The capstone curation composition.

Split out of the single-file catalog (round-4 verdict #6); registration
order preserved — see catalog/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W  # noqa: F401

from open_ftth_relational_projector_spark.sources.tables import load_table, scattered  # noqa: F401
from open_ftth_relational_projector_spark.cache import tracked_persist  # noqa: F401
from open_ftth_relational_projector_spark.events.reader import EventLog  # noqa: F401
from open_ftth_relational_projector_spark.operators import asof_join, latest_by_key  # noqa: F401
from open_ftth_relational_projector_spark.functions import dedup as D  # noqa: F401
from open_ftth_relational_projector_spark.functions import similarity as S  # noqa: F401
from open_ftth_relational_projector_spark.functions import text as TXT  # noqa: F401
from open_ftth_relational_projector_spark.functions.multimodal import (  # noqa: F401
    attach_binary,
    extract_features,
)
from open_ftth_relational_projector_spark.projections.core import (  # noqa: F401
    project_installation,
    project_work_task,
)

from ._registry import _q, _r4  # noqa: F401
from .clustering import _KMEANS_CTES

# --- the capstone curation composition -------------------------------------
# One declarative plan = the whole modern pretraining-curation pass:
# C4-style quality filter + SemDeDup semantic dedup (over the aligned
# embeddings, vec_id == doc_id) + DSIR target-likeness + bigram-LM
# perplexity, the latter two gated at their corpus 20th percentile
# (PERCENTILE_CONT twin: Spark's exact interpolating `percentile`).
# The oracle concatenates the four already-verified sub-oracles as CTEs.
_KM_BODY = _KMEANS_CTES.strip()[len("WITH "):]

_CURATION_SQL = (
    "\n    WITH "
    + _KM_BODY
    + """,
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ssim AS (
      SELECT y.vec_id,
             MAX(list_dot_product(ex.v, ey.v)
                 / (SQRT(list_dot_product(ex.v, ex.v))
                    * SQRT(list_dot_product(ey.v, ey.v)))) AS max_sim
      FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN emb ex ON ex.vec_id = x.vec_id
      JOIN emb ey ON ey.vec_id = y.vec_id
      GROUP BY y.vec_id
    ),
    sem AS (SELECT a3.vec_id AS doc_id,
                   COALESCE(s.max_sim, -1.0) < 0.9 AS sem_keep
            FROM a3 LEFT JOIN ssim s ON s.vec_id = a3.vec_id),
    qt AS (SELECT doc_id, string_split(text, ' ') AS toks,
                  LOWER(text) AS low
           FROM documents),
    qc AS (
      SELECT doc_id,
             LEN(toks) AS n,
             LEN(list_filter(toks, x -> list_contains(['the','a','and','of','to'], x))) AS c_en,
             LENGTH(regexp_replace(low, '[a-z0-9 ]', '', 'g'))
               / CAST(LENGTH(low) AS DOUBLE) AS pr
      FROM qt),
    qs AS (
      SELECT doc_id,
             (CASE WHEN n BETWEEN 20 AND 10000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
              + CASE WHEN c_en / CAST(n AS DOUBLE) > 0.01 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
              + CASE WHEN pr < 0.1 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
               >= 0.7 AS q_keep
      FROM qc),
    dfeats AS (
      SELECT doc_id, lang, UNNEST(toks) AS f
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
      UNION ALL
      SELECT doc_id, lang,
             UNNEST([toks[i] || ' ' || toks[i + 1]
                     FOR i IN range(1, len(toks))]) AS f
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    ),
    dfb AS (SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(f || '#0'), 1, 15)) AS BIGINT)
                     % 256 AS b
            FROM dfeats),
    dcounts AS (SELECT b, COUNT(*) AS cr,
                       SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
                FROM dfb GROUP BY b),
    dlw AS (SELECT b,
                   LN(CAST(ct + 1 AS DOUBLE))
                   - LN(CAST((SELECT SUM(ct) FROM dcounts) + 256 AS DOUBLE))
                   - LN(CAST(cr + 1 AS DOUBLE))
                   + LN(CAST((SELECT SUM(cr) FROM dcounts) + 256 AS DOUBLE))
                   AS w
            FROM dcounts),
    dw AS (SELECT dfb.doc_id, ROUND(SUM(dlw.w), 4) + 0 AS log_weight
           FROM dfb JOIN dlw USING (b) GROUP BY dfb.doc_id),
    ltok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    lmu AS (SELECT doc_id, UNNEST(toks) AS w FROM ltok),
    lmb AS (SELECT doc_id,
                   UNNEST([toks[i] FOR i IN range(1, len(toks))]) AS w1,
                   UNNEST([toks[i] || ' ' || toks[i + 1]
                           FOR i IN range(1, len(toks))]) AS bg
            FROM ltok),
    lc2 AS (SELECT bg, COUNT(*) AS c12 FROM lmb GROUP BY bg),
    lc1 AS (SELECT w, COUNT(*) AS c1 FROM lmu GROUP BY w),
    lv AS (SELECT COUNT(DISTINCT w) AS v FROM lmu),
    lms AS (SELECT lmb.doc_id,
                   ROUND(AVG(LN((lc2.c12 + 1.0) / (lc1.c1 + lv.v))), 4) + 0
                     AS avg_logprob
            FROM lmb JOIN lc2 USING (bg)
            JOIN lc1 ON lc1.w = lmb.w1
            CROSS JOIN lv
            GROUP BY lmb.doc_id),
    dthr AS (SELECT percentile_cont(0.2) WITHIN GROUP (ORDER BY log_weight)
               AS t FROM dw),
    lthr AS (SELECT percentile_cont(0.2) WITHIN GROUP (ORDER BY avg_logprob)
               AS t FROM lms)
    SELECT d.doc_id, qs.q_keep, sem.sem_keep,
           dw.log_weight >= dthr.t AS dsir_ok,
           lms.avg_logprob >= lthr.t AS lm_ok,
           qs.q_keep AND sem.sem_keep
             AND dw.log_weight >= dthr.t
             AND lms.avg_logprob >= lthr.t AS keep,
           CASE WHEN NOT qs.q_keep THEN 'quality'
                WHEN NOT sem.sem_keep THEN 'semantic_dup'
                WHEN dw.log_weight < dthr.t THEN 'off_target'
                WHEN lms.avg_logprob < lthr.t THEN 'high_perplexity'
                ELSE 'kept' END AS reason
    FROM documents d
    JOIN qs USING (doc_id)
    JOIN sem USING (doc_id)
    JOIN dw USING (doc_id)
    JOIN lms USING (doc_id)
    CROSS JOIN dthr CROSS JOIN lthr
    """
)


@_q("curation_decisions", _CURATION_SQL)
def curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pass as ONE plan: per document, quality-filter
    verdict (text.quality_score ≥ 0.7), SemDeDup keep (embeddings aligned
    by id, clustering.semantic_dedup), DSIR target-likeness and bigram-LM
    score each gated at their corpus 20th percentile, plus the combined
    keep and a first-failing-filter reason.

    Scale shape: each signal keeps its own verified plan (see its
    standalone catalog entry); the composition adds only doc-id-keyed
    joins of per-doc aggregates and two 1-row percentile aggregates
    broadcast back — no new corpus-sized state, no new quadratic work."""
    from open_ftth_relational_projector_spark.functions.clustering import (
        semantic_dedup,
    )
    from open_ftth_relational_projector_spark.functions.quality import (
        bigram_lm_scores,
    )
    from open_ftth_relational_projector_spark.functions.sampling import (
        dsir_importance_weights,
    )

    # ONE materialization of the documents scan feeds all four signal
    # sub-pipelines (quality, DSIR, bigram-LM — and DSIR/LM each walk
    # their exploded features twice); without it every branch re-reads
    # and re-decodes the text column from parquet. The persist is on a
    # derived projection of ONLY the consumed columns (guide §2.3 project
    # early — source/n_chars never feed a signal), which also keeps the
    # shared scattered()/load_table frame itself unpersisted (r12 advice:
    # persisting the session-shared memo frame covered every sibling
    # query's documents scan for the rest of the session). Tracked:
    # released by the caller loop after the consuming action.
    docs = tracked_persist(
        scattered(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "text", "lang"
        )
    )
    emb = scattered(load_table(spark, sf_dir, "embeddings"))
    q = docs.select(
        "doc_id",
        (TXT.quality_score(F.col("text")) >= 0.7).alias("q_keep"),
    )
    # r13 (guide §2.6 overlap independent jobs): semantic_dedup's
    # construction runs the kmeans fit (init + per-iteration M-step
    # collects over the embeddings) and is INDEPENDENT of the documents
    # branch below, whose exact_quantiles construction runs the
    # shard-bound sample + counts jobs over the DSIR/bigram pipelines.
    # Build the embedding branch in a worker thread so the two
    # construction-time job chains overlap instead of running serially
    # (~45% of the sf1 construction wall was the shorter chain waiting).
    # The fit itself is deterministic (first-k init, 6 dp pins), so
    # thread scheduling cannot change any result.
    from concurrent.futures import ThreadPoolExecutor

    _sem_pool = ThreadPoolExecutor(1)
    # a raise on this thread must not leak the pool's worker thread
    try:
        _sem_future = _sem_pool.submit(
            lambda: semantic_dedup(emb, threshold=0.9, k=4, iters=2).select(
                F.col("vec_id").alias("doc_id"), F.col("keep").alias("sem_keep")
            )
        )
        # dw/lms are each consumed TWICE (threshold aggregate + the final
        # join); without the persist the whole DSIR resp. bigram-LM pipeline
        # re-executes for the percentile branch. The persisted frames are
        # per-doc dimension-sized (one row per document). Tracked (r13): the
        # caller loop releases them after the consuming action (previously
        # session-lifetime, relying on LRU eviction).
        dw = tracked_persist(
            dsir_importance_weights(docs, target_lang="en", n_buckets=256)
        )
        lms = tracked_persist(bigram_lm_scores(docs))
        # corpus 20th-percentile thresholds via the hierarchical-rank exact
        # quantile: the dw/lms frames are per-doc (one row per document), so
        # the exact `percentile` aggregate would buffer the whole corpus's
        # values in ONE aggregation state at 100× — exact_quantiles is
        # bit-identical with range-sharded state (the persisted inputs
        # satisfy its value-determinism contract). The two thresholds ride
        # ONE helper invocation (tagged union, grouped by signal) so the
        # fixed per-call job overhead — shard-bound sample + per-shard counts
        # — is paid once, not twice; the 2-row result splits back into the
        # broadcast scalar frames the final join consumes.
        from open_ftth_relational_projector_spark.operators.quantiles import (
            exact_quantiles,
        )

        both = dw.select(
            F.lit("d").alias("sig"), F.col("log_weight").alias("v")
        ).unionByName(
            lms.select(F.lit("l").alias("sig"), F.col("avg_logprob").alias("v"))
        )
        thr2 = tracked_persist(
            exact_quantiles(both, "v", {"t": 0.2}, group_cols=["sig"])
        )
        dthr = thr2.filter(F.col("sig") == "d").select(F.col("t").alias("dt"))
        lthr = thr2.filter(F.col("sig") == "l").select(F.col("t").alias("lt"))
        dsir_ok = F.col("log_weight") >= F.col("dt")
        lm_ok = F.col("avg_logprob") >= F.col("lt")
        sem = _sem_future.result()
    finally:
        _sem_pool.shutdown(wait=False, cancel_futures=True)
    return (
        q.join(sem, "doc_id")
        .join(dw.select("doc_id", "log_weight"), "doc_id")
        .join(lms.select("doc_id", "avg_logprob"), "doc_id")
        .crossJoin(F.broadcast(dthr))
        .crossJoin(F.broadcast(lthr))
        .select(
            "doc_id",
            "q_keep",
            "sem_keep",
            dsir_ok.alias("dsir_ok"),
            lm_ok.alias("lm_ok"),
            (F.col("q_keep") & F.col("sem_keep") & dsir_ok & lm_ok).alias(
                "keep"
            ),
            F.when(~F.col("q_keep"), "quality")
            .when(~F.col("sem_keep"), "semantic_dup")
            .when(~dsir_ok, "off_target")
            .when(~lm_ok, "high_perplexity")
            .otherwise("kept")
            .alias("reason"),
        )
    )


