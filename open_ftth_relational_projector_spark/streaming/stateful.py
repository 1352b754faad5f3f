"""Keyed-state streaming folds via applyInPandasWithState (SURVEY §2.7 T4).

The projector keeps its state in the relational sink (foreachBatch IVM,
streaming/runner.py), because the sink IS the product. The folds here keep
keyed state in Spark's state store instead, for the catalog's ``stream_*``
simulations (catalog/streaming_sims.py): incremental dedup, LSH candidate
buckets, HLL and HDR sketches, space-saving top-k, sessions, OLS moments
and snapshot status. Each fold's drained output is tested against a batch
or sequential reference (tests/test_stateful.py).

Scale: state is partitioned by key across executors (RocksDB-backed on a
cluster), arbitrary key cardinality, no driver state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUTPUT_SCHEMA = "text_hash string, doc_id long, first_seen_seq long"
DEDUP_STATE_SCHEMA = "first_doc long, first_seq long"


def _dedup_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        # content hash already admitted by an earlier micro-batch: every
        # later copy is a duplicate — emit nothing, state unchanged
        return
    rows = pd.concat(list(pdfs)).sort_values(["seq", "doc_id"])
    first = rows.iloc[0]
    state.update((int(first.doc_id), int(first.seq)))
    yield pd.DataFrame(
        {
            "text_hash": [key[0]],
            "doc_id": [int(first.doc_id)],
            "first_seen_seq": [int(first.seq)],
        }
    )


def streaming_dedup_first(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Streaming exact dedup: admit each distinct content hash ONCE across
    the whole stream — the "dedup the new crawl increment against
    everything already ingested" operation a training-data pipeline runs
    continuously, without re-scanning the historical corpus.

    Keyed state = (first admitted doc, its seq) per content hash,
    partitioned across executors by the hash (RocksDB-backed on a
    cluster): the accumulated corpus lives in the state store, and each
    micro-batch costs one keyed shuffle of ITS OWN rows. Within a batch
    the earliest (seq, doc_id) copy wins — the same order-preserving
    first-occurrence contract as the batch ``dedup_first_occurrence``;
    across batches the state suppresses re-emission entirely (append
    output: each hash appears at most once in the lifetime of the query).

    Batch equivalence (pinned in tests/test_stateful.py): draining N
    ordered files through this operator yields exactly the batch
    first-occurrence result over their union.
    """
    keyed = docs.select(
        F.md5(F.col(text_col)).alias("text_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(seq_col).cast("long").alias("seq"),
    )
    return keyed.groupBy("text_hash").applyInPandasWithState(
        _dedup_fold,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LSH_OUTPUT_SCHEMA = "doc_a long, doc_b long, band_id int"
LSH_STATE_SCHEMA = "members array<long>, overflow array<long>"


def _make_lsh_bucket_fold(max_bucket: int, max_overflow: int):
    """Build the per-bucket fold with the caps closed over (GroupState
    folds take no extra args). ``overflow`` records doc ids that arrived
    after the member cap: they PAIRED with the capped members once, and
    remembering them stops a later re-delivery from re-emitting all those
    pairs (round-4 advice). The overflow memory is itself capped so a
    degenerate bucket's state stays bounded; re-delivery of a doc beyond
    BOTH caps (rare: >max_bucket+max_overflow distinct docs in one bucket
    AND source-level redelivery of exactly those) re-emits its pairs —
    consumers dedup per micro-batch regardless (see docstring)."""

    def _fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            members: list[int] = list(st[0])
            overflow: list[int] = list(st[1]) if st[1] is not None else []
        else:
            members, overflow = [], []
        known = set(members) | set(overflow)
        out_a: list[int] = []
        out_b: list[int] = []
        band_id = None
        rows = pd.concat(list(pdfs)).sort_values(["seq", "doc_id"])
        for r in rows.itertuples():
            d = int(r.doc_id)
            band_id = int(r.band_id)
            if d in known:
                continue  # re-delivery: already admitted/paired here
            for m in members:
                out_a.append(min(m, d))
                out_b.append(max(m, d))
            if len(members) < max_bucket:
                members.append(d)
            elif len(overflow) < max_overflow:
                overflow.append(d)
            known.add(d)  # within-batch dedup even past both caps
        state.update((members, overflow))
        if out_a:
            yield pd.DataFrame(
                {"doc_a": out_a, "doc_b": out_b, "band_id": [band_id] * len(out_a)}
            )

    return _fold


def streaming_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "seq",
    max_bucket: int = 64,
    max_overflow: int = 256,
    hash_fn=None,
    portable_bands: bool = False,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates: each arriving doc
    is paired against every doc ALREADY ADMITTED to any of its signature
    buckets — the approximate companion to ``streaming_dedup_first``
    (near-dup the new crawl increment against the accumulated corpus,
    state instead of re-scan).

    Banding reuses the batch machinery verbatim
    (``functions/dedup.minhash_banded``), so a drained stream's distinct
    (doc_a, doc_b) equals the batch ``minhash_lsh_candidates`` over the
    same union (pinned in tests). State per (band_id, band_hash) bucket =
    the insertion-ordered member list, CAPPED at ``max_bucket`` ids — the
    streaming form of the stop-shingle guard: a degenerate bucket
    (boilerplate band shared by everything) stops admitting members after
    the cap, so both state size and the per-arrival pair fan-out stay
    bounded; docs beyond the cap still PAIR with the capped members once
    (candidates lost only among cap-overflow docs of one degenerate
    bucket — the pairs near-dup dedup must not act on anyway, same
    rationale as ``ngram_jaccard_pairs(max_postings=...)``), and are
    remembered in a second, ``max_overflow``-capped id list so their
    re-delivery in a later micro-batch does not re-emit the same pairs.

    A pair can surface once per shared band (same multiplicity as the
    batch path before its distinct); consumers dedup per micro-batch.
    Verification (exact Jaccard) runs downstream on the candidate stream
    exactly as in the batch pipeline.
    """
    from open_ftth_relational_projector_spark.functions.dedup import (
        minhash_banded,
    )

    banded = minhash_banded(
        docs.withColumn("seq", F.col(seq_col).cast("long")),
        num_hashes,
        bands,
        n,
        text_col,
        id_col,
        hash_fn=hash_fn,
        portable_bands=portable_bands,
        carry_cols=("seq",),
    )
    return banded.groupBy("band_id", "band_hash").applyInPandasWithState(
        _make_lsh_bucket_fold(max_bucket, max_overflow),
        outputStructType=LSH_OUTPUT_SCHEMA,
        stateStructType=LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HLL_OUTPUT_SCHEMA = (
    "g string, n_updates long, registers_used int, sig_s long, sig_m long,"
    " hll_est double"
)
HLL_STATE_SCHEMA = "regs array<int>, n_updates long"

from open_ftth_relational_projector_spark.functions.sketches import (
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
    HLL_REM_BITS,
    hdr_bucket_expr,
)


def _hll_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import math

    if state.exists:
        regs_t, n_updates = state.get
        regs = list(regs_t)
    else:
        regs, n_updates = [0] * _HLL_M, 0
    n = 0
    for pdf in pdfs:
        n += len(pdf)
        # vectorized per-bucket max, then merge into the register vector
        for b, r in pdf.groupby("bucket")["rho"].max().items():
            b, r = int(b), int(r)
            if r > regs[b]:
                regs[b] = r
    n_updates += n
    state.update((regs, n_updates))
    nz = sum(1 for v in regs if v > 0)
    pz = sum(2.0 ** -v for v in regs if v > 0)
    est_raw = _HLL_ALPHA * _HLL_M * _HLL_M / ((_HLL_M - nz) + pz)
    if est_raw <= 2.5 * _HLL_M and nz < _HLL_M:
        est = _HLL_M * math.log(_HLL_M / (_HLL_M - nz))
    else:
        est = est_raw
    sig = [i * 64 + v for i, v in enumerate(regs) if v > 0]
    yield pd.DataFrame(
        {
            "g": [key[0]],
            "n_updates": [n_updates],
            "registers_used": [nz],
            "sig_s": [sum(sig)],
            "sig_m": [max(sig) if sig else 0],
            "hll_est": [est],
        }
    )


def streaming_hll_distinct(
    events: DataFrame,
    group_col: str,
    value_col: str,
    seed: int = 7,
) -> DataFrame:
    """Streaming per-group distinct-count via HyperLogLog registers in
    keyed state — the "how many unique users/urls/documents so far" signal
    maintained continuously without storing the identities themselves.

    State per group is the FIXED 256-int register vector of
    ``functions/sketches.hll_distinct_rollup`` (same md5-portable hash and
    integer-exact ρ, computed JVM-side before the state fold, so the
    Python fold only max-merges small ints); each micro-batch costs one
    keyed shuffle of its own rows and emits the group's post-batch
    summary (register count, exact integer register signature, estimate).
    Because register max-merge is order- and batching-independent, the
    drained stream's final state equals the batch sketch over the union
    of all batches — which is what the catalog sim's SQL oracle states.

    Unlike streaming_dedup_first (state grows with distinct keys), the
    state here is CONSTANT per group: this is the sketch-state pattern
    for cardinality monitoring over unbounded streams.
    """
    from open_ftth_relational_projector_spark.functions.dedup import (
        portable_hash64,
    )

    pow_rem = 1 << HLL_REM_BITS
    rho_max = HLL_REM_BITS + 1
    prepped = events.select(
        F.col(group_col).cast("string").alias("g"),
        portable_hash64(F.col(value_col).cast("string"), seed).alias("hv"),
    ).selectExpr(
        "g",
        f"hv DIV {pow_rem} AS bucket",
        f"CASE WHEN hv % {pow_rem} = 0 THEN {rho_max}"
        f" ELSE {rho_max} - length(bin(hv % {pow_rem})) END AS rho",
    )
    return prepped.groupBy("g").applyInPandasWithState(
        _hll_fold,
        outputStructType=HLL_OUTPUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        # append: one summary row per (group, micro-batch) accumulates in
        # the sink; consumers keep the row with the highest n_updates per
        # group (= the final state). Matches the availableNow drain sinks.
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HDR_OUTPUT_SCHEMA = (
    "g string, n_updates long, nb int, sig_s long, sig_m long,"
    " est_p50 double, est_p90 double, est_p99 double"
)
HDR_STATE_SCHEMA = "buckets array<long>, counts array<long>"

_HDR_K = 64
_HDR_QS = (0.5, 0.9, 0.99)


def _hdr_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import math

    hist: dict[int, int] = {}
    if state.exists:
        buckets, counts = state.get
        hist = dict(zip((int(b) for b in buckets), (int(c) for c in counts)))
    for pdf in pdfs:
        # vectorized bucket counting, then merge into the histogram
        for b, c in pdf["bucket"].value_counts().items():
            b = int(b)
            hist[b] = hist.get(b, 0) + int(c)
    items = sorted(hist.items())
    state.update(([b for b, _ in items], [c for _, c in items]))
    n = sum(hist.values())
    ests = []
    for q in _HDR_QS:
        rank = math.ceil(q * float(n))
        cum = 0
        est = float("nan")
        for b, c in items:
            cum += c
            if cum >= rank:
                e, sub = divmod(b, _HDR_K)
                # same exact-integer-over-double midpoint as the batch
                # sketch / SQL oracle: 2^e * (2k + 2*sub + 1) / (2k)
                est = (2.0**e) * (2 * _HDR_K + 2 * sub + 1) / (2 * _HDR_K)
                break
        ests.append(est)
    yield pd.DataFrame(
        {
            "g": [key[0]],
            "n_updates": [n],
            "nb": [len(items)],
            "sig_s": [sum(b * c for b, c in items)],
            "sig_m": [max(hist) if hist else 0],
            "est_p50": [ests[0]],
            "est_p90": [ests[1]],
            "est_p99": [ests[2]],
        }
    )


def streaming_hdr_quantiles(
    events: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming per-group quantile monitoring via the log-linear bucket
    histogram of ``functions/sketches.hdr_quantile_rollup`` held in keyed
    state — continuous p50/p90/p99 with relative error ≤ 1/(2k) over an
    unbounded stream, state bounded by the bucket count (≤ 64·k), never by
    the row count.

    The integer-exact bucket id is computed JVM-side (bin-string
    floor-log2 + linear sub-bucket division, identical to the batch
    sketch), so the Python fold only increments small-int counters.
    Histogram addition is order- and batching-independent, so the drained
    stream's final state equals the batch sketch over the union of all
    batches — what the catalog sim's SQL oracle states. Values < 1 are
    dropped before the fold (the sketch's positive-integer domain).
    """
    prepped = (
        events.selectExpr(
            f"CAST(`{group_col}` AS STRING) AS g",
            f"CAST(`{value_col}` AS BIGINT) AS v",
        )
        .filter("v >= 1")
        .selectExpr("g", f"{hdr_bucket_expr('v', _HDR_K)} AS bucket")
    )
    return prepped.groupBy("g").applyInPandasWithState(
        _hdr_fold,
        outputStructType=HDR_OUTPUT_SCHEMA,
        stateStructType=HDR_STATE_SCHEMA,
        # append: one summary row per (group, micro-batch); consumers keep
        # the row with the highest n_updates per group (the final state),
        # matching the availableNow drain sinks
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SS_OUTPUT_SCHEMA = "shard string, key string, est long, err long, n_shard long"
SS_STATE_SCHEMA = (
    "keys array<string>, counts array<long>, errs array<long>, n long"
)


def _make_space_saving_fold(m: int):
    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ctr: dict[str, tuple[int, int]] = {}
        n = 0
        if state.exists:
            keys, counts, errs, n = state.get
            ctr = {
                k: (int(c), int(e)) for k, c, e in zip(keys, counts, errs)
            }
        # one concat+sort across ALL Arrow chunks: a shard micro-batch
        # larger than arrow.maxRecordsPerBatch arrives as several pdfs in
        # arbitrary order, and per-chunk sorting would fold chunks in
        # arrival order — same global-seq contract as the sibling folds
        chunks = list(pdfs)
        rows_in = (
            pd.concat(chunks) if chunks else pd.DataFrame({"seq": [], "k": []})
        )
        if len(rows_in):
            for x in rows_in.sort_values("seq")["k"]:
                x = str(x)
                n += 1
                if x in ctr:
                    c, e = ctr[x]
                    ctr[x] = (c + 1, e)
                elif len(ctr) < m:
                    ctr[x] = (1, 0)
                else:
                    # evict the min-count counter; ties break on the
                    # smallest key so eviction is order-deterministic
                    victim = min(ctr, key=lambda k: (ctr[k][0], k))
                    c_min = ctr.pop(victim)[0]
                    ctr[x] = (c_min + 1, c_min)
        items = sorted(ctr.items())
        state.update(
            (
                [k for k, _ in items],
                [c for _, (c, _) in items],
                [e for _, (_, e) in items],
                n,
            )
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(items),
                "key": [k for k, _ in items],
                "est": [c for _, (c, _) in items],
                "err": [e for _, (_, e) in items],
                "n_shard": [n] * len(items),
            }
        )

    return fold


def streaming_space_saving(
    events: DataFrame,
    key_col: str,
    seq_col: str,
    m: int = 2,
    n_shards: int = 2,
) -> DataFrame:
    """Streaming heavy hitters via SpaceSaving (Metwally et al. 2005) in
    keyed state — the top-k/frequent-items monitor whose state is EXACTLY
    ``m`` counters per shard however many distinct keys stream past (the
    5th state pattern next to grow-with-keys dedup, capped-membership
    LSH, constant HLL registers and the bounded HDR histogram).

    Keys hash-shard with the md5-portable hash (so an ANSI-SQL oracle can
    re-derive shard membership); every occurrence of a key lands in ONE
    shard, so per shard the classic guarantees hold over its n_shard
    rows: any key with true count > n_shard/m is retained, and a retained
    key's estimate satisfies true <= est <= true + err. Emission per
    micro-batch is the shard's full counter table (<= m rows) with its
    running n_shard — consumers keep the highest-n_shard rows per shard.

    Counter evolution (unlike the other four folds' merges) is
    order-sensitive; rows fold in ``seq_col`` order within each batch so
    the drained state is deterministic and the invariants above are what
    the catalog sim's oracle checks (they are order-INDEPENDENT facts).
    """
    from open_ftth_relational_projector_spark.functions.dedup import (
        portable_hash64,
    )

    # NULL keys are dropped: a NULL would shard on md5 of the bare seed
    # (concat_ws skips NULLs) while the Python fold stringified it to
    # 'None' — no coherent count semantics either way
    prepped = events.filter(F.col(key_col).isNotNull()).select(
        F.pmod(portable_hash64(F.col(key_col).cast("string"), 0), F.lit(n_shards))
        .cast("string")
        .alias("shard"),
        F.col(key_col).cast("string").alias("k"),
        F.col(seq_col).cast("long").alias("seq"),
    )
    return prepped.groupBy("shard").applyInPandasWithState(
        _make_space_saving_fold(m),
        outputStructType=SS_OUTPUT_SCHEMA,
        stateStructType=SS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESS_OUTPUT_SCHEMA = "g string, start_us long, end_us long, n_events long"
SESS_STATE_SCHEMA = "start_us long, end_us long, n long"


def _make_session_fold(gap_us: int):
    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out = []
        if state.hasTimedOut:
            # watermark passed end + gap: the session can never extend
            start, end, n = state.get
            out.append((start, end, n))
            state.remove()
        else:
            cur = state.get if state.exists else None
            chunks = list(pdfs)
            rows_in = (
                pd.concat(chunks) if chunks else pd.DataFrame({"ts_us": []})
            )
            for ts in rows_in.sort_values("ts_us")["ts_us"]:
                ts = int(ts)
                if cur is None:
                    cur = (ts, ts, 1)
                elif ts - cur[1] <= gap_us:
                    cur = (cur[0], max(cur[1], ts), cur[2] + 1)
                else:
                    # in-stream gap: close the old session immediately
                    out.append(cur)
                    cur = (ts, ts, 1)
            if cur is not None:
                state.update(cur)
                # fires when the EVENT-TIME watermark passes this instant
                state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        yield pd.DataFrame(
            {
                "g": [key[0]] * len(out),
                "start_us": [s for s, _, _ in out],
                "end_us": [e for _, e, _ in out],
                "n_events": [n for _, _, n in out],
            }
        )

    return fold


def streaming_sessionize(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    watermark_delay: str = "1 second",
) -> DataFrame:
    """Timeout-driven sessionization — the EventTimeTimeout state pattern
    (the one state-API knob the other folds don't use): per-key session
    state emits when the event-time WATERMARK passes session_end + gap,
    i.e. when the stream itself proves no event can extend the session.
    In-stream gaps (a key's next event already past the gap) close
    eagerly without waiting for the timeout.

    ``ts_col`` must be epoch MICROS (long); the event-time watermark
    column is derived from it, and all output bounds stay integer-exact.
    Because sessions only emit when provably closed, a drain must advance
    the watermark past the last session's end + gap to flush final
    sessions — the catalog sim appends a sentinel event for exactly that,
    after which the drained output equals batch sessionization (the
    lag/island SQL the oracle runs) over the entire input.

    State per key is one (start, end, n) triple — constant — and the
    timeout eviction is what keeps the state store from accumulating
    idle keys: the idle-session cleanup a 100 TB clickstream needs.
    """
    gap_us = gap_minutes * 60_000_000
    prepped = (
        events.selectExpr(
            f"CAST(`{key_col}` AS STRING) AS g",
            f"CAST(`{ts_col}` AS BIGINT) AS ts_us",
            f"timestamp_micros(CAST(`{ts_col}` AS BIGINT)) AS _evt",
        )
        .withWatermark("_evt", watermark_delay)
    )
    return prepped.groupBy("g").applyInPandasWithState(
        _make_session_fold(gap_us),
        outputStructType=SESS_OUTPUT_SCHEMA,
        stateStructType=SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming OLS: mergeable exact-integer normal-equation moments --------

OLS_OUTPUT_SCHEMA = (
    "g string, n_updates long, s1 long, s2 long, sy long, s11 long,"
    " s12 long, s22 long, s1y long, s2y long, syy long"
)
OLS_STATE_SCHEMA = (
    "n long, s1 long, s2 long, sy long, s11 long, s12 long, s22 long,"
    " s1y long, s2y long, syy long"
)


def _ols_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    vals = [0] * 10
    if state.exists:
        vals = [int(v) for v in state.get]
    for pdf in pdfs:
        if not len(pdf):
            continue
        x1 = pdf["x1"].astype("int64")
        x2 = pdf["x2"].astype("int64")
        y = pdf["y"].astype("int64")
        # magnitude pre-check: with m = max(|value|), every product is
        # ≤ m² and every batch sum of products is ≤ len·m², so when
        # len·m² ≤ 2^62 the vectorized int64 path cannot wrap (hot path);
        # only batches that could overflow pay the object-dtype
        # arbitrary-precision fallback (round-6 advice)
        m = max(
            int(x1.max()), -int(x1.min()),
            int(x2.max()), -int(x2.min()),
            int(y.max()), -int(y.min()), 0,
        )
        if m * m * len(pdf) > 2**62:
            # object dtype → pandas sums with arbitrary-precision Python
            # ints; int64 products like (x1*x1).sum() would wrap silently
            # on overflow and the corruption would persist in keyed state
            x1 = x1.astype(object)
            x2 = x2.astype(object)
            y = y.astype(object)
        vals[0] += len(pdf)
        vals[1] += int(x1.sum())
        vals[2] += int(x2.sum())
        vals[3] += int(y.sum())
        vals[4] += int((x1 * x1).sum())
        vals[5] += int((x1 * x2).sum())
        vals[6] += int((x2 * x2).sum())
        vals[7] += int((x1 * y).sum())
        vals[8] += int((x2 * y).sum())
        vals[9] += int((y * y).sum())
    if any(not (-(2**63) <= v < 2**63) for v in vals):
        raise OverflowError(
            "OLS moment state exceeds int64; rescale the feature columns "
            f"(key={key[0]!r}, moments={vals})"
        )
    state.update(tuple(vals))
    yield pd.DataFrame(
        {
            "g": [key[0]],
            "n_updates": [vals[0]],
            "s1": [vals[1]],
            "s2": [vals[2]],
            "sy": [vals[3]],
            "s11": [vals[4]],
            "s12": [vals[5]],
            "s22": [vals[6]],
            "s1y": [vals[7]],
            "s2y": [vals[8]],
            "syy": [vals[9]],
        }
    )


def streaming_ols_moments(
    events: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Online per-group linear-model refresh: the O(d²) normal-equation
    moment sums of functions/regression held as keyed state — the model
    (betas, R²) is readable from state at ANY point in the stream via the
    closed-form solve, and the state is 10 integers per group however
    many rows stream past.

    Moments over INTEGER features are exact and addition is order- and
    batching-independent, so the drained stream's final state equals the
    batch aggregation over the union of all batches — the catalog sim's
    SQL oracle replays exactly that, then both sides apply the identical
    regression.OLS2_* solve text to the identical integer moments.
    """
    prepped = events.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(x1_col).cast("long").alias("x1"),
        F.col(x2_col).cast("long").alias("x2"),
        F.col(y_col).cast("long").alias("y"),
    )
    return prepped.groupBy("g").applyInPandasWithState(
        _ols_fold,
        outputStructType=OLS_OUTPUT_SCHEMA,
        stateStructType=OLS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- incremental snapshot status (streaming twin of dedup.snapshot_diff) ----

SNAPSHOT_OUTPUT_SCHEMA = "doc_id long, seq long, status string, fp string"
SNAPSHOT_STATE_SCHEMA = "fp string"


def _snapshot_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last = state.get[0] if state.exists else None
    rows = pd.concat(list(pdfs)).sort_values("seq")
    out_seq, out_status, out_fp = [], [], []
    for r in rows.itertuples(index=False):
        status = (
            "added"
            if last is None
            else ("unchanged" if r.fp == last else "changed")
        )
        last = r.fp
        out_seq.append(int(r.seq))
        out_status.append(status)
        out_fp.append(r.fp)
    state.update((last,))
    yield pd.DataFrame(
        {
            "doc_id": [int(key[0])] * len(out_seq),
            "seq": out_seq,
            "status": out_status,
            "fp": out_fp,
        }
    )


def streaming_snapshot_status(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Incremental corpus versioning: classify every incoming document
    version added / changed / unchanged against the last fingerprint the
    stream has seen for that id — the streaming twin of
    functions/dedup.snapshot_diff, for continuous ingestion where the
    "previous snapshot" is the keyed state store rather than a second
    table. (``removed`` needs a snapshot boundary and stays batch-side.)

    State per doc id = ONE 32-char fingerprint, partitioned by id across
    executors; each micro-batch shuffles only its own rows. Within a
    batch, versions apply in ``seq`` order, so drained output over N
    ordered files equals the batch LAG-over-versions replay — the
    catalog sim's oracle states exactly that.
    """
    keyed = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(seq_col).cast("long").alias("seq"),
        F.md5(F.col(text_col)).alias("fp"),
    )
    return keyed.groupBy("doc_id").applyInPandasWithState(
        _snapshot_fold,
        outputStructType=SNAPSHOT_OUTPUT_SCHEMA,
        stateStructType=SNAPSHOT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
