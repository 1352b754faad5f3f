"""Keyed-state streaming folds (streaming/stateful.py, streaming/joins.py)
≡ their batch or sequential references, across micro-batches and query
restarts."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

def test_streaming_dedup_first_matches_batch(spark):
    """streaming_dedup_first over ordered micro-batches ≡ batch
    first-occurrence dedup over their union: each content hash admitted
    exactly once, earliest (seq, doc_id) wins, later-batch copies
    suppressed by keyed state."""
    import json
    import os

    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_dedup_first,
    )

    # texts repeat within AND across batches; seq is globally ordered so
    # file order == arrival order
    rows = [
        (1, "alpha beta"), (2, "gamma"), (3, "alpha beta"),   # batch 0
        (4, "delta"), (5, "gamma"), (6, "epsilon"),           # batch 1
        (7, "alpha beta"), (8, "zeta"), (9, "delta"),         # batch 2
    ]
    tmp = tempfile.mkdtemp(prefix="ofrp_sdedup_")
    try:
        os.makedirs(f"{tmp}/in")
        import time as _time

        now = _time.time()
        for b in range(3):
            path = f"{tmp}/in/batch_{b:05d}.json"
            with open(path, "w") as fh:
                for seq, text in rows[b * 3 : b * 3 + 3]:
                    fh.write(json.dumps({"doc_id": seq * 10, "seq": seq, "text": text}) + "\n")
            # the file source orders same-mtime files arbitrarily; pin
            # strictly increasing mtimes so trigger order == batch order
            os.utime(path, (now + b, now + b))
        stream = spark.readStream.schema(
            "doc_id long, seq long, text string"
        ).option("maxFilesPerTrigger", "1").json(f"{tmp}/in")
        q = (
            streaming_dedup_first(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sdedup")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        got = {
            (r["doc_id"], r["first_seen_seq"])
            for r in spark.sql("SELECT * FROM sdedup").collect()
        }
        # batch oracle: first (seq, doc_id) per distinct text
        first = {}
        for seq, text in rows:
            if text not in first:
                first[text] = (seq * 10, seq)
        assert got == set(first.values())
        # each hash exactly once, ever
        n = spark.sql("SELECT count(*) c FROM sdedup").collect()[0]["c"]
        assert n == len(first)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("sdedup")


def test_streaming_lsh_candidates_match_batch(spark):
    """Drained streaming LSH candidates (distinct pairs) ≡ batch
    minhash_lsh_candidates over the union of the micro-batches; pairs
    only ever form against already-admitted bucket members, so splitting
    the corpus across batches must not lose or invent any pair."""
    import json
    import os
    import time as _time

    from open_ftth_relational_projector_spark.functions.dedup import (
        minhash_lsh_candidates,
    )
    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_lsh_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    variants = [
        base,
        base + " today",                      # near-dup of base
        base.replace("quick", "swift"),       # near-dup of base
        "completely different text about distributed query engines and state",
        base,                                  # exact dup, later batch
        "another unrelated document mentioning parquet files and shuffles",
    ]
    rows = [(i + 1, (i + 1) * 10, t) for i, t in enumerate(variants)]

    tmp = tempfile.mkdtemp(prefix="ofrp_slsh_")
    try:
        os.makedirs(f"{tmp}/in")
        now = _time.time()
        for b in range(3):
            path = f"{tmp}/in/batch_{b:05d}.json"
            with open(path, "w") as fh:
                for seq, doc_id, text in rows[b * 2 : b * 2 + 2]:
                    fh.write(json.dumps({"doc_id": doc_id, "seq": seq, "text": text}) + "\n")
            os.utime(path, (now + b, now + b))
        stream = spark.readStream.schema(
            "doc_id long, seq long, text string"
        ).option("maxFilesPerTrigger", "1").json(f"{tmp}/in")
        q = (
            streaming_lsh_candidates(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("slsh")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in spark.sql("SELECT DISTINCT doc_a, doc_b FROM slsh").collect()
        }
        batch_docs = spark.createDataFrame(
            [(d, t) for _, d, t in rows], "doc_id long, text string"
        )
        want = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(batch_docs).collect()
        }
        assert got == want and want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("slsh")


def test_lsh_bucket_fold_overflow_no_reemission():
    """Round-4 advice: a doc arriving after the member cap pairs once with
    the capped members, is remembered in the overflow list, and its
    re-delivery in a later micro-batch emits NOTHING (previously it
    re-fanned-out all max_bucket pairs every batch). Driven directly
    against the fold with a fake GroupState — no stream needed."""
    import pandas as pd

    from open_ftth_relational_projector_spark.streaming.stateful import (
        _make_lsh_bucket_fold,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    fold = _make_lsh_bucket_fold(max_bucket=2, max_overflow=4)
    state = FakeState()

    def batch(doc_ids, seqs):
        return list(
            fold(
                ("b",),
                iter(
                    [
                        pd.DataFrame(
                            {
                                "doc_id": doc_ids,
                                "seq": seqs,
                                "band_id": [0] * len(doc_ids),
                            }
                        )
                    ]
                ),
                state,
            )
        )

    # batch 1: members fill to cap (1, 2); doc 3 overflows but pairs
    out = pd.concat(batch([1, 2, 3], [10, 11, 12]))
    pairs = set(zip(out.doc_a, out.doc_b))
    assert pairs == {(1, 2), (1, 3), (2, 3)}
    assert list(state.get[0]) == [1, 2]  # members capped
    assert list(state.get[1]) == [3]  # overflow remembered

    # batch 2: re-delivery of overflow doc 3 → no re-emission
    assert batch([3], [13]) == []

    # batch 3: a NEW doc past the cap still pairs with members once
    out3 = pd.concat(batch([4], [14]))
    assert set(zip(out3.doc_a, out3.doc_b)) == {(1, 4), (2, 4)}
    assert list(state.get[1]) == [3, 4]


def test_streaming_hll_distinct_matches_batch_sketch(spark):
    """streaming_hll_distinct drained over micro-batches ends with exactly
    the batch hll_distinct_rollup registers (max-merge is batching-
    independent): exact integer register signature AND estimate agree."""
    import json
    import os
    import time as _time

    from open_ftth_relational_projector_spark.functions.sketches import (
        hll_distinct_rollup,
    )
    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_hll_distinct,
    )

    rows = [("a", v % 40) for v in range(120)] + [("b", v) for v in range(300)]
    tmp = tempfile.mkdtemp(prefix="ofrp_shll_")
    try:
        os.makedirs(f"{tmp}/in")
        now = _time.time()
        third = (len(rows) + 2) // 3
        for b in range(3):
            path = f"{tmp}/in/batch_{b:05d}.json"
            with open(path, "w") as fh:
                for g, v in rows[b * third : (b + 1) * third]:
                    fh.write(json.dumps({"g": g, "v": v}) + "\n")
            os.utime(path, (now + b, now + b))
        stream = spark.readStream.schema("g string, v long").option(
            "maxFilesPerTrigger", "1"
        ).json(f"{tmp}/in")
        q = (
            streaming_hll_distinct(stream, "g", "v", seed=7)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("shll_t")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        final = {}
        for r in spark.sql("SELECT * FROM shll_t").collect():
            if r["g"] not in final or r["n_updates"] > final[r["g"]]["n_updates"]:
                final[r["g"]] = r

        batch_df = spark.createDataFrame(rows, "g string, v long").withColumn(
            "sub", F.lit(0)
        )
        batch = {
            r["g"]: r
            for r in hll_distinct_rollup(batch_df, "g", "sub", "v", seed=7).collect()
        }
        assert set(final) == {"a", "b"} == set(batch)
        for g in ("a", "b"):
            assert final[g]["registers_used"] == batch[g]["registers_used"]
            assert round(final[g]["hll_est"], 4) == batch[g]["hll_est"]
        # the fold only fires for groups PRESENT in a micro-batch (no
        # timeout): 'a' rows all land in batch 0 (rows are a-then-b
        # ordered) so 'a' emits exactly once; 'b' spans all 3 batches and
        # its per-batch emissions are strictly monotone in n_updates
        # (state only ever accumulates)
        all_rows = spark.sql("SELECT * FROM shll_t").collect()
        a_rows = [r for r in all_rows if r["g"] == "a"]
        assert len(a_rows) == 1 and a_rows[0]["n_updates"] == 120
        b_counts = sorted(r["n_updates"] for r in all_rows if r["g"] == "b")
        assert len(b_counts) == 3 == len(set(b_counts))
        assert b_counts[-1] == 300
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("shll_t")


def test_streaming_hdr_quantiles_matches_batch_sketch(spark):
    """streaming_hdr_quantiles drained over micro-batches ends with exactly
    the batch hdr_quantile_rollup histogram (count-merge is batching-
    independent): histogram signature AND every quantile estimate agree;
    v<1 rows are dropped before the fold."""
    import json
    import os
    import time as _time

    from open_ftth_relational_projector_spark.functions.sketches import (
        hdr_quantile_rollup,
    )
    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_hdr_quantiles,
    )

    rows = [("a", (i * i * 7919) % 100_000 + 1) for i in range(400)]
    rows += [("b", 5), ("b", 5), ("b", 7), ("b", 0)]
    tmp = tempfile.mkdtemp(prefix="ofrp_shdr_")
    try:
        os.makedirs(f"{tmp}/in")
        now = _time.time()
        third = (len(rows) + 2) // 3
        for b in range(3):
            path = f"{tmp}/in/batch_{b:05d}.json"
            with open(path, "w") as fh:
                for g, v in rows[b * third : (b + 1) * third]:
                    fh.write(json.dumps({"g": g, "v": v}) + "\n")
            os.utime(path, (now + b, now + b))
        stream = spark.readStream.schema("g string, v long").option(
            "maxFilesPerTrigger", "1"
        ).json(f"{tmp}/in")
        q = (
            streaming_hdr_quantiles(stream, "g", "v")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("shdr_t")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        final = {}
        for r in spark.sql("SELECT * FROM shdr_t").collect():
            if r["g"] not in final or r["n_updates"] > final[r["g"]]["n_updates"]:
                final[r["g"]] = r

        batch_df = spark.createDataFrame(rows, "g string, v long").withColumn(
            "sub", F.lit(0)
        )
        batch = {
            r["g"]: r
            for r in hdr_quantile_rollup(
                batch_df, "g", "sub", "v", k=64, quantiles=(0.5, 0.9, 0.99)
            ).collect()
        }
        assert set(final) == {"a", "b"} == set(batch)
        for g in ("a", "b"):
            assert final[g]["n_updates"] == batch[g]["n"]
            for tag in ("p50", "p90", "p99"):
                # stream emits the raw estimate, batch rounds 4dp HALF_UP
                # (Spark ROUND); Python round() is HALF_EVEN so exact
                # re-rounding would flake on 4th-decimal ties (5.03125) —
                # compare raw vs rounded at half-ulp tolerance instead
                assert (
                    abs(final[g][f"est_{tag}"] - batch[g][f"est_{tag}"])
                    <= 5.0e-5 + 1e-12
                ), (g, tag)
        assert final["b"]["n_updates"] == 3  # the v=0 row never reached state
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("shdr_t")


def test_streaming_space_saving_matches_sequential_reference(spark):
    """streaming_space_saving drained over seq-ordered micro-batches ends
    with exactly the counters of a sequential SpaceSaving fold over the
    same rows (deterministic min-count/smallest-key eviction), and the
    Metwally guarantees hold: every key above n_shard/m retained with
    true <= est <= true + err."""
    import json
    import os
    import time as _time

    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_space_saving,
    )

    # skewed single-shard-friendly stream: key frequencies 60/25/10/5
    seq_rows = []
    pattern = ["a"] * 12 + ["b"] * 5 + ["c"] * 2 + ["d"]
    for i in range(100):
        seq_rows.append((i, pattern[i % len(pattern)]))
    tmp = tempfile.mkdtemp(prefix="ofrp_ss_")
    try:
        os.makedirs(f"{tmp}/in")
        now = _time.time()
        third = (len(seq_rows) + 2) // 3
        for b in range(3):
            path = f"{tmp}/in/batch_{b:05d}.json"
            with open(path, "w") as fh:
                for s, k in seq_rows[b * third : (b + 1) * third]:
                    fh.write(json.dumps({"seq": s, "lang": k}) + "\n")
            os.utime(path, (now + b, now + b))
        stream = spark.readStream.schema("seq long, lang string").option(
            "maxFilesPerTrigger", "1"
        ).json(f"{tmp}/in")
        m = 2
        q = (
            streaming_space_saving(stream, "lang", "seq", m=m, n_shards=1)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_t")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        rows = spark.sql("SELECT * FROM ss_t").collect()
        n_final = max(r["n_shard"] for r in rows)
        got = {
            r["key"]: (r["est"], r["err"])
            for r in rows
            if r["n_shard"] == n_final
        }

        # sequential reference fold over the same seq order
        ctr: dict = {}
        for _, x in seq_rows:
            if x in ctr:
                ctr[x] = (ctr[x][0] + 1, ctr[x][1])
            elif len(ctr) < m:
                ctr[x] = (1, 0)
            else:
                victim = min(ctr, key=lambda k: (ctr[k][0], k))
                c_min = ctr.pop(victim)[0]
                ctr[x] = (c_min + 1, c_min)
        assert got == ctr and n_final == 100

        # guarantees vs true counts
        from collections import Counter

        true = Counter(k for _, k in seq_rows)
        for k, n in true.items():
            if n * m > 100:
                assert k in got
                est, err = got[k]
                assert n <= est <= n + err
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("ss_t")


def test_stream_interval_join_matches_across_batches(spark):
    """Two-sided join state must carry across micro-batches: a purchase
    arriving a batch AFTER its matching view still joins (the view waits
    in left-side state); a purchase outside the gap window never joins."""
    import json
    import os
    import time as _time

    from open_ftth_relational_projector_spark.streaming.joins import (
        stream_interval_join,
    )

    base = 1_700_000_000_000_000  # epoch micros
    MIN = 60_000_000
    views = [(1, 10, base), (2, 20, base + 5 * MIN)]
    purchases = [
        (101, 10, base + 30 * MIN),   # batch 1: joins view 1 (same batch)
        (102, 10, base + 90 * MIN),   # batch 2: joins view 1 (CROSS batch)
        (103, 20, base + 400 * MIN),  # batch 2: outside 360-min gap of view 2
        (104, 20, base + 6 * MIN),    # batch 2: joins view 2 (cross batch)
    ]
    tmp = tempfile.mkdtemp(prefix="ofrp_sjoin_t_")
    try:
        os.makedirs(f"{tmp}/v")
        os.makedirs(f"{tmp}/p")
        now = _time.time()
        batches = {
            f"{tmp}/v/b0.json": views,
            f"{tmp}/p/b0.json": purchases[:1],
            f"{tmp}/p/b1.json": purchases[1:],
        }
        for i, (path, rows) in enumerate(batches.items()):
            with open(path, "w") as fh:
                for eid, uid, ts in rows:
                    fh.write(
                        json.dumps({"event_id": eid, "user_id": uid, "ts_us": ts})
                        + "\n"
                    )
            os.utime(path, (now + i, now + i))

        def src(d, side):
            return (
                spark.readStream.schema("event_id long, user_id long, ts_us long")
                .option("maxFilesPerTrigger", "1")
                .json(d)
                .selectExpr(
                    f"event_id AS {side}_id",
                    "user_id",
                    f"timestamp_micros(ts_us) AS {side}_ts",
                )
            )

        joined = stream_interval_join(
            src(f"{tmp}/v", "view"),
            src(f"{tmp}/p", "purchase"),
            "user_id",
            "view_ts",
            "purchase_ts",
            max_gap_minutes=360,
        ).selectExpr("l.view_id AS view_id", "r.purchase_id AS purchase_id")
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("sjoin_t")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        got = {
            (r["view_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM sjoin_t").collect()
        }
        assert got == {(1, 101), (1, 102), (2, 104)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("sjoin_t")


def test_streaming_sessionize_eager_close_and_timeout_flush(spark):
    """Two closure paths must both work: an in-stream gap closes the prior
    session eagerly (same fold call), while the LAST session of a key only
    emits once the event-time watermark passes end + gap (here advanced by
    a later batch's far-future row for another key)."""
    import json
    import os
    import time as _time

    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_sessionize,
    )

    MIN = 60_000_000
    B = 1_700_000_000_000_000  # epoch-us base: the initial watermark is
    # epoch ZERO, so a ts_us of literal 0 would be dropped as late data
    b0 = [(7, B), (7, B + 10 * MIN), (7, B + 100 * MIN)]  # gap>30min inside
    b1 = [(99, B + 400 * MIN)]  # watermark mover for user 7's open session
    tmp = tempfile.mkdtemp(prefix="ofrp_sess_t_")
    try:
        os.makedirs(f"{tmp}/in")
        now = _time.time()
        for i, rows in enumerate((b0, b1)):
            path = f"{tmp}/in/b{i}.json"
            with open(path, "w") as fh:
                for uid, ts in rows:
                    fh.write(json.dumps({"user_id": uid, "ts_us": ts}) + "\n")
            os.utime(path, (now + i, now + i))
        stream = spark.readStream.schema("user_id long, ts_us long").option(
            "maxFilesPerTrigger", "1"
        ).json(f"{tmp}/in")
        q = (
            streaming_sessionize(stream, "user_id", "ts_us", 30)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sess_t")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        got = {
            (r["g"], r["start_us"], r["end_us"], r["n_events"])
            for r in spark.sql("SELECT * FROM sess_t").collect()
        }
        # eager close: (0, 10min, 2); timeout flush: (100min, 100min, 1).
        # user 99's own session never emits (nothing advanced the
        # watermark past ITS end + gap) — exactly the open-tail semantics
        assert got == {
            ("7", B, B + 10 * MIN, 2),
            ("7", B + 100 * MIN, B + 100 * MIN, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.dropTempView("sess_t")


def test_streaming_ols_moments_match_batch_aggregation(spark):
    """streaming_ols_moments drained over 3 micro-batches ends with exactly
    the batch integer moment sums (integer addition is batching-
    independent), and the closed-form betas from the drained state equal
    a numpy lstsq fit on the same rows."""
    import json
    import os
    import time as _time

    import numpy as np

    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_ols_moments,
    )

    rng = np.random.RandomState(9)
    rows = [
        (
            "a" if i % 3 else "b",
            int(rng.randint(1, 200)),
            int(rng.randint(1, 50)),
        )
        for i in range(300)
    ]
    rows = [(g, x1, x2, 3 * x1 + 2 * x2 + int(rng.randint(0, 5))) for g, x1, x2 in rows]
    tmp = tempfile.mkdtemp(prefix="ofrp_sols_")
    try:
        os.makedirs(f"{tmp}/in")
        now = _time.time()
        third = (len(rows) + 2) // 3
        for b in range(3):
            path = f"{tmp}/in/batch_{b:05d}.json"
            with open(path, "w") as fh:
                for g, x1, x2, y in rows[b * third : (b + 1) * third]:
                    fh.write(
                        json.dumps({"g": g, "x1": x1, "x2": x2, "y": y}) + "\n"
                    )
            os.utime(path, (now + b, now + b))
        stream = spark.readStream.schema(
            "g string, x1 long, x2 long, y long"
        ).option("maxFilesPerTrigger", "1").json(f"{tmp}/in")
        q = (
            streaming_ols_moments(stream, "g", "x1", "x2", "y")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sols_t")
            .option("checkpointLocation", f"{tmp}/cp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM sols_t").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    final = {}
    for r in got:
        if r.g not in final or r.n_updates > final[r.g].n_updates:
            final[r.g] = r
    for g in ("a", "b"):
        sub = [(x1, x2, y) for gg, x1, x2, y in rows if gg == g]
        x1 = np.array([a for a, _, _ in sub], dtype=np.int64)
        x2 = np.array([a for _, a, _ in sub], dtype=np.int64)
        y = np.array([a for _, _, a in sub], dtype=np.int64)
        f = final[g]
        assert f.n_updates == len(sub)
        assert f.s1 == int(x1.sum()) and f.s2 == int(x2.sum())
        assert f.sy == int(y.sum()) and f.syy == int((y * y).sum())
        assert f.s11 == int((x1 * x1).sum())
        assert f.s12 == int((x1 * x2).sum())
        assert f.s22 == int((x2 * x2).sum())
        assert f.s1y == int((x1 * y).sum())
        assert f.s2y == int((x2 * y).sum())
        # closed-form solve from the drained moments == numpy lstsq
        A = np.array(
            [
                [f.n_updates, f.s1, f.s2],
                [f.s1, f.s11, f.s12],
                [f.s2, f.s12, f.s22],
            ],
            dtype=np.float64,
        )
        b = np.array([f.sy, f.s1y, f.s2y], dtype=np.float64)
        beta = np.linalg.solve(A, b)
        X = np.column_stack([np.ones(len(sub)), x1, x2])
        want, _, _, _ = np.linalg.lstsq(X, y.astype(np.float64), rcond=None)
        assert np.allclose(beta, want, atol=1e-6), (beta, want)


def test_streaming_snapshot_status_survives_restart(spark, tmp_path):
    """The fingerprint state must rehydrate across SEPARATE query runs:
    a version re-ingested unchanged in run 2 classifies 'unchanged' (not
    'added'), and an edit classifies 'changed' against run 1's state."""
    from open_ftth_relational_projector_spark.streaming.stateful import (
        streaming_snapshot_status,
    )

    src, cp, out = (
        str(tmp_path / "src"),
        str(tmp_path / "cp"),
        str(tmp_path / "out"),
    )

    def land(rows):
        spark.createDataFrame(
            rows, "doc_id long, seq long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    def drain(run):
        def sink(batch_df, batch_id):
            batch_df.withColumn("run", F.lit(run)).write.mode(
                "append"
            ).parquet(out)

        q = (
            streaming_snapshot_status(
                spark.readStream.schema(
                    "doc_id long, seq long, text string"
                ).parquet(src)
            )
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["doc_id"], r["seq"]): r["status"]
            for r in spark.read.parquet(out)
            .filter(F.col("run") == run)
            .collect()
        }

    land([(1, 10, "hello world"), (2, 11, "other text")])
    first = drain(1)
    assert first == {(1, 10): "added", (2, 11): "added"}

    # run 2, fresh query, same checkpoint: doc 1 unchanged, doc 2 edited,
    # doc 3 brand new
    land([(1, 20, "hello world"), (2, 21, "other text v2"), (3, 22, "new")])
    second = drain(2)
    assert second == {
        (1, 20): "unchanged",
        (2, 21): "changed",
        (3, 22): "added",
    }
