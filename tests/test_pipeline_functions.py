"""Tests for the LLM-pipeline surface: text analysis, dedup, similarity,
multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from open_ftth_relational_projector_spark.functions import dedup as D
from open_ftth_relational_projector_spark.functions import similarity as S
from open_ftth_relational_projector_spark.functions import text as TXT
from open_ftth_relational_projector_spark.functions.multimodal import (
    attach_binary,
    decode_image,
    extract_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the cat sat on the mat", "en"),          # exact dup of 1
        (3, "the cat sat on the red mat", "en"),      # near dup of 1
        (4, "der hund und die katze und das haus", "de"),
        (5, "completely different words entirely here now", "en"),
        (6, "le chat et la souris et les maisons", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_count_and_stopword_ratio(docs):
    out = {
        r["doc_id"]: (r["n"], r["sr"])
        for r in docs.select(
            "doc_id",
            TXT.token_count(F.col("text")).alias("n"),
            TXT.stopword_ratio(F.col("text"), "en").alias("sr"),
        ).collect()
    }
    assert out[1][0] == 6
    assert abs(out[1][1] - 2 / 6) < 1e-9
    assert out[5][1] == 0.0


def test_lang_guess(docs):
    out = {r["doc_id"]: r["lg"] for r in docs.select(
        "doc_id", TXT.lang_guess(F.col("text")).alias("lg")).collect()}
    assert out[1] == "en"
    assert out[4] == "de"
    assert out[6] == "fr"
    assert out[5] == "und"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "HELLO  WORLD ")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(TXT.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_shingles(docs):
    row = docs.filter("doc_id = 1").select(
        D.shingles(F.col("text"), 3).alias("sh")
    ).first()
    assert row["sh"] == [
        "the cat sat",
        "cat sat on",
        "sat on the",
        "on the mat",
    ]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    assert df.select(D.shingles(F.col("text"), 3).alias("sh")).first()["sh"] == []


def test_exact_dedup(docs):
    out = D.exact_dedup_groups(docs).collect()
    dup_groups = [r for r in out if r["n_copies"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["n_copies"] == 2
    assert dup_groups[0]["canonical_id"] == 1


def test_ngram_jaccard_exact_values(docs):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.01, n=3).collect()
    }
    assert out[(1, 2)] == 1.0
    # doc1: 4 shingles, doc3: 5 shingles, shared 3 → J = 3/(4+5-3) = 0.5
    assert abs(out[(1, 3)] - 0.5) < 1e-9
    assert (1, 5) not in out


def test_minhash_candidates_find_exact_dups(docs):
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(docs).collect()
    }
    assert (1, 2) in cands  # identical docs always collide on every band


def test_minhash_candidates_match_banded_selfjoin(docs):
    """The r12 grouped in-bucket pair expansion must emit exactly the pair
    set of the reference banded self-join it replaced (doc_a < doc_b,
    distinct across bands)."""
    from pyspark.sql import functions as F

    banded = D.minhash_banded(docs)
    a, b = banded.alias("a"), banded.alias("b")
    ref = {
        (r["doc_a"], r["doc_b"])
        for r in (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect()
        )
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(docs).collect()
    }
    assert got == ref and ref  # non-empty: the fixture has exact dups


def test_minhash_near_dups_verified(docs):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_near_dups(docs, threshold=0.2).collect()
    }
    assert out[(1, 2)] == 1.0
    # precision: every surviving pair truly exceeds the threshold
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, n=3).collect()
    }
    for pair, j in out.items():
        assert abs(exact[pair] - j) < 1e-9

def test_simhash_similar_docs_close(docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs).collect()}
    df = docs.sparkSession.createDataFrame(
        [(out[1], out[2]), (out[1], out[3]), (out[1], out[5])], "a long, b long"
    )
    d12, d13, d15 = [
        r["d"] for r in df.select(D.hamming64(F.col("a"), F.col("b")).alias("d")).collect()
    ]
    assert d12 == 0            # identical docs → identical simhash
    assert d13 < d15           # near dup closer than unrelated


def test_knn_bruteforce_exact(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    out = [
        (r["neighbor_id"], r["rank"])
        for r in S.knn_bruteforce(df, q, k=3).orderBy("rank").collect()
    ]
    assert out == [(1, 1), (2, 2), (3, 3)]


def test_knn_lsh_subset_of_bucket(spark):
    import random

    rng = random.Random(3)
    vecs = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 5")
    exact = S.knn_bruteforce(df, q, k=3)
    approx = S.knn_lsh(df, q, k=3, dim=8, n_planes=2)
    # approximate results must be a subset of legal neighbors and well-formed
    got = approx.collect()
    assert len(got) > 0
    assert all(r["rank"] >= 1 and r["query_id"] != r["neighbor_id"] for r in got)
    assert exact.count() == 15


def _png_bytes(w: int, h: int) -> bytes:
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + b"\x7f" * w for _ in range(h))  # filter 0 rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_image_real_headers(spark):
    import struct

    assert decode_image(_png_bytes(3, 2)) == (3, 2)
    gif = b"GIF89a" + struct.pack("<HH", 11, 7) + b"\x00" * 4
    assert decode_image(gif) == (11, 7)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 9, -5) + b"\x00" * 4
    assert decode_image(bmp) == (9, 5)  # negative height = top-down rows
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"  # APP0
        + b"\xff\xc0" + struct.pack(">H", 11)
        + b"\x08" + struct.pack(">HH", 7, 13) + b"\x01\x00\x00\x00"  # SOF0
        + b"\xff\xd9"
    )
    assert decode_image(jpeg) == (13, 7)
    with pytest.raises(NotImplementedError):
        decode_image(b"not an image", fake=False)
    # end-to-end through the mapInPandas path with a REAL decode
    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(4, 6))), (2, bytearray(_png_bytes(2, 2)))],
        "doc_id long, payload binary",
    )
    feats = {r["doc_id"]: r for r in extract_features(df, fake=False).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (4, 6)
    assert (feats[2]["width"], feats[2]["height"]) == (2, 2)


def test_multimodal_stub_and_features(spark, docs):
    with pytest.raises(NotImplementedError):
        decode_image(b"xx", fake=False)
    feats = {
        r["doc_id"]: r
        for r in extract_features(attach_binary(docs), fake=True).collect()
    }
    assert feats[1]["n_bytes"] == len("the cat sat on the mat".encode())
    import hashlib

    assert feats[1]["sha256"] == hashlib.sha256(b"the cat sat on the mat").hexdigest()
    assert feats[1]["width"] == feats[1]["n_bytes"] % 1920 + 1


def test_knn_ivf_recall_and_exact_at_full_probe(spark):
    import random

    rng = random.Random(9)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 5")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_bruteforce(df, q, k=3).collect()
    }
    # probing EVERY cell makes IVF exhaustive -> must equal brute force
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_ivf(
            df, q, k=3, n_centroids=8, n_probe=8, sample_size=200
        ).collect()
    }
    assert full == exact
    # partial probe: well-formed, non-trivial recall on this small corpus
    part = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_ivf(
            df, q, k=3, n_centroids=8, n_probe=4, sample_size=200
        ).collect()
    }
    assert len(part) > 0
    assert len(part & exact) / len(exact) >= 0.5


def test_connected_components_chain_triangle_pair(spark):
    """Chain needs multiple propagation rounds; triangle and isolated pair
    must each collapse to their min id; nodes absent from edges absent
    from output."""
    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_string_ids_join_compare(spark):
    """String (GUID-style) node ids must converge correctly: the scalar
    label-sum detector only applies to numeric ids (a string label cast to
    decimal is NULL, so sums would read equal after one round); non-numeric
    ids take the exact join-compare path (round-4 advice)."""
    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # chain a-b-c-d (needs >1 round), isolated pair x-y
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"),
    }


def test_connected_components_raises_past_max_iter(spark):
    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=1)


def test_hash_split_deterministic_and_proportional(spark):
    from open_ftth_relational_projector_spark.functions.sampling import hash_split

    df = spark.range(0, 20_000).withColumnRenamed("id", "k")
    out = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").count()
              .withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    # repartitioning must not change a single assignment
    again = hash_split(df.repartition(13), "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_epoch_shuffle_manifest_permutation_shards_and_invariance(spark):
    """Each epoch's positions are an exact permutation of 1..n; shards
    interleave round-robin so sizes differ by at most one and shard-local
    order equals the global order restricted to the shard; the two epochs
    order the corpus differently; and the whole manifest is invariant to
    input partitioning (the reproducible-training-run contract)."""
    from open_ftth_relational_projector_spark.functions.sampling import (
        epoch_shuffle_manifest,
    )

    n = 997  # prime: shard sizes must straddle n // n_shards
    df = spark.range(0, n).withColumnRenamed("id", "doc_id")
    out = epoch_shuffle_manifest(df, "doc_id", n_epochs=2, n_shards=4)
    rows = out.collect()
    assert len(rows) == 2 * n
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    orders = {}
    for ep, ers in by_epoch.items():
        assert sorted(r["position"] for r in ers) == list(range(1, n + 1))
        for r in ers:
            assert r["shard"] == (r["position"] - 1) % 4
        shard_sizes = {}
        for r in ers:
            shard_sizes[r["shard"]] = shard_sizes.get(r["shard"], 0) + 1
        assert max(shard_sizes.values()) - min(shard_sizes.values()) <= 1
        orders[ep] = [
            r["doc_id"] for r in sorted(ers, key=lambda r: r["position"])
        ]
    assert orders[0] != orders[1]  # epochs reshuffle
    again = epoch_shuffle_manifest(
        df.repartition(13), "doc_id", n_epochs=2, n_shards=4
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_hash_split_salt_changes_assignment(spark):
    from open_ftth_relational_projector_spark.functions.sampling import hash_split

    df = spark.range(0, 2_000).withColumnRenamed("id", "k")
    a = dict(map(tuple, hash_split(df, "k", {"x": 0.5, "y": 0.5}).collect()))
    b = dict(
        map(tuple, hash_split(df, "k", {"x": 0.5, "y": 0.5}, salt="s1").collect())
    )
    flipped = sum(1 for k in a if a[k] != b[k])
    assert 0.3 < flipped / 2_000 < 0.7


def test_sample_frames_stride_and_expansion(spark):
    """1→N expansion with overlapping stride: payload of 10 bytes, frame 4,
    hop 3 → frames at offsets 0,3,6,9 with sizes 4,4,4,1."""
    import hashlib

    from open_ftth_relational_projector_spark.functions.multimodal import (
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefghij")), (2, bytearray(b""))],
        "doc_id long, payload binary",
    )
    rows = sorted(
        (r.doc_id, r.frame_idx, r.n_bytes, r.frame_sha256)
        for r in sample_frames(df, frame_bytes=4, stride=3).collect()
    )
    payload = b"abcdefghij"
    expected = sorted(
        (1, k, len(payload[off : off + 4]),
         hashlib.sha256(payload[off : off + 4]).hexdigest())
        for k, off in enumerate(range(0, 10, 3))
    )
    assert rows == expected  # doc 2 (empty payload) contributes nothing


# ---------------------------------------------------------------------------
# corpus-quality signals (functions/quality.py + dedup cross-doc)
# ---------------------------------------------------------------------------


def test_repetition_stats_values(spark):
    from open_ftth_relational_projector_spark.functions import quality as Q

    rows = [
        (1, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 5 occ, 2 distinct
        (2, "u v w x y"),         # 4 distinct bigrams, no repeats
        (3, "solo"),              # <2 tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in Q.repetition_stats(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 5
    assert out[1]["dup_bigram_frac"] == round(1 - 2 / 5, 4)
    assert out[1]["top_bigram_frac"] == round(3 / 5, 4)  # 'a b' x3
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[2]["top_bigram_frac"] == 0.25


def test_token_entropy_values(spark):
    from open_ftth_relational_projector_spark.functions import quality as Q

    rows = [
        (1, "x x x x"),        # zero entropy
        (2, "a b c d"),        # uniform: ln(4)
        (3, "a a b b"),        # ln(2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in Q.token_entropy(df).collect()}
    assert out[1]["entropy"] == 0.0
    assert out[2]["entropy"] == round(math.log(4), 4)
    assert out[3]["entropy"] == round(math.log(2), 4)
    assert out[2]["n_tokens"] == 4


def test_pii_scan_counts_and_redaction(spark):
    from open_ftth_relational_projector_spark.functions import quality as Q

    rows = [
        (1, "mail me at bob7@host.org or sue@x.io thanks"),
        (2, "call 555-1234 from 10.0.3.44 today"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in Q.pii_scan(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (2, 0, 0)
    assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ips"]) == (0, 1, 1)
    assert (out[3]["n_emails"], out[3]["n_phones"], out[3]["n_ips"]) == (0, 0, 0)
    import hashlib

    red = "call <PHONE> from <IP> today"
    assert out[2]["redacted_md5"] == hashlib.md5(red.encode()).hexdigest()


def test_cross_doc_shingle_dup_fractions(spark):
    rows = [
        (1, "a b c d e f"),    # shares shingle 'a b c d e' + 'b c d e f'? no:
        (2, "a b c d e zz"),   # shares only 'a b c d e' with doc 1
        (3, "p q r s t u"),    # no overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.cross_doc_shingle_dup(df, n=5).collect()}
    assert out[1]["n_shingles"] == 2 and out[1]["n_shared"] == 1
    assert out[2]["n_shingles"] == 2 and out[2]["n_shared"] == 1
    assert out[3]["n_shared"] == 0
    assert out[1]["shared_frac"] == 0.5


def test_benchmark_decontamination_flags(spark):
    # doc 0 is the eval set (doc_id % 50 == 0); doc 51 copies 8 of its
    # tokens verbatim, doc 52 shares nothing
    eval_text = "one two three four five six seven eight nine ten"
    rows = [
        (0, eval_text),
        (51, "zz " + " ".join(eval_text.split()[:8]) + " yy"),
        (52, "totally disjoint words for the second training document x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.benchmark_decontamination(df).collect()}
    assert set(out) == {51, 52}
    assert out[51]["contaminated"] is True and out[51]["n_overlap"] == 1
    assert out[52]["contaminated"] is False and out[52]["n_overlap"] == 0


def test_label_centroid_stats_degenerate_and_spread(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # identical -> avg cos to centroid = 1
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 1),   # orthogonal pair -> cos(v, mean) = cos 45deg
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in S.label_centroid_stats(df).collect()}
    assert out[0]["n_vecs"] == 2 and out[0]["avg_cos_to_centroid"] == 1.0
    assert out[1]["avg_cos_to_centroid"] == round(math.cos(math.pi / 4), 4)


# --- round 3: portable-hash twins, multi-probe LSH, skew guards ------------


def test_portable_hash64_matches_hashlib(spark):
    """portable_hash64 == int(md5(f'{x}#{seed}')[:15], 16) — the contract
    the DuckDB oracles for the *_md5 catalog twins rely on."""
    import hashlib

    df = spark.createDataFrame([("hello",), ("ø12 utf8 tøkens",)], "s string")
    got = [
        (r["h0"], r["h7"])
        for r in df.select(
            D.portable_hash64(F.col("s"), 0).alias("h0"),
            D.portable_hash64(F.col("s"), 7).alias("h7"),
        ).collect()
    ]
    want = [
        (
            int(hashlib.md5(f"{s}#0".encode()).hexdigest()[:15], 16),
            int(hashlib.md5(f"{s}#7".encode()).hexdigest()[:15], 16),
        )
        for s in ("hello", "ø12 utf8 tøkens")
    ]
    assert got == want


def test_simhash_rowlocal_equals_grouped_formulation(docs):
    """The round-3 row-local aggregate fold must reproduce the original
    explode→groupBy formulation bit for bit (same unseeded xxhash64)."""
    tok = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    fp = None
    for b in range(64):
        term = F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseOR(term)
    grouped = {
        r["doc_id"]: r["s"]
        for r in sums.select("doc_id", fp.alias("s")).collect()
    }
    rowlocal = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs).collect()}
    assert rowlocal == grouped


def test_minhash_portable_pipeline_finds_dups(docs):
    """The md5-portable MinHash variant (the driver-oracled twin) behaves
    like the xxhash64 path: exact dups found, every pair exactly scored."""
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_near_dups(
            docs, threshold=0.2, hash_fn=D.portable_hash64, portable_bands=True
        ).collect()
    }
    assert out[(1, 2)] == 1.0
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, n=3).collect()
    }
    for pair, j in out.items():
        assert abs(exact[pair] - j) < 1e-9


def test_probe_masks():
    assert S.probe_masks(4, 0) == [0]
    r1 = S.probe_masks(4, 1)
    assert sorted(r1) == [0, 1, 2, 4, 8]
    assert len(S.probe_masks(4, 4)) == 16  # full probe = every bucket


def test_knn_lsh_fullprobe_equals_bruteforce(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") % 10 == 0)
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.knn_bruteforce(df, q, k=3).collect()
    )
    probed = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.knn_lsh(df, q, k=3, dim=8, n_planes=3, probe_radius=3).collect()
    )
    assert exact == probed


def test_embedding_near_dups_fullprobe_equals_exact(spark):
    rows = [(i, [float((i * 5 + j) % 7) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 6))
        for r in S.embedding_near_dups(df, threshold=0.8, dim=8).collect()
    )
    probed = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 6))
        for r in S.embedding_near_dups(
            df, threshold=0.8, bucketed=True, dim=8, n_planes=3, probe_radius=3
        ).collect()
    )
    assert exact == probed


def test_ngram_jaccard_max_postings_drops_stop_shingles(spark):
    """Adversarial skew: one boilerplate shingle in EVERY doc. Uncapped,
    that posting list expands to n² pair rows; with max_postings the list
    is dropped before expansion, genuinely-near docs are still found via
    their rare shared shingles, and their Jaccard stays exact."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"unique{i} text{i} body{i} filler{i} {boiler}") for i in range(40)]
    # docs 100/101 share real content beyond the boilerplate
    rows += [
        (100, f"alpha beta gamma delta epsilon {boiler}"),
        (101, f"alpha beta gamma delta zeta {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, threshold=0.15, n=3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, threshold=0.15, n=3, max_postings=10
        ).collect()
    }
    assert (100, 101) in capped
    # capped verification recomputes the TRUE jaccard (incl. stop shingles)
    assert abs(capped[(100, 101)] - uncapped[(100, 101)]) < 1e-9
    # pairs whose only overlap is boilerplate are capped away
    assert all(a == 100 and b == 101 for a, b in capped)


def test_connected_components_star_matches_label_and_closes_chains(spark):
    import random

    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )

    # long chain: diameter 2000 → label-prop would need 2000 rounds; the
    # large-star/small-star alternation halves paths → O(log d) rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(2000)], "doc_a long, doc_b long"
    )
    out = connected_components(chain, algorithm="star", max_iter=30).collect()
    assert len(out) == 2001
    assert {r["component_id"] for r in out} == {0}

    rng = random.Random(5)
    es = [(rng.randrange(120), rng.randrange(120)) for _ in range(100)]
    es = [(a, b) for a, b in es if a != b]
    df = spark.createDataFrame(es, "doc_a long, doc_b long")
    lab = sorted(
        (r["doc_id"], r["component_id"])
        for r in connected_components(df, algorithm="label", max_iter=50).collect()
    )
    star = sorted(
        (r["doc_id"], r["component_id"])
        for r in connected_components(df, algorithm="star").collect()
    )
    assert lab == star


# --- round 3: real PNG pixel decode / resize ------------------------------


def _filter_scanlines(pixels: bytes, w: int, h: int, ch: int, ftypes):
    """Reference PNG scanline FILTERING (the encoder direction, PNG spec
    §9) — an independent inverse of decode_png_pixels' unfiltering, used
    to craft IDAT streams with every filter type."""
    stride = w * ch
    out = bytearray()
    prev = bytes(stride)
    for y, ft in zip(range(h), ftypes):
        row = pixels[y * stride : (y + 1) * stride]
        out.append(ft)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                f = row[x]
            elif ft == 1:
                f = (row[x] - a) & 0xFF
            elif ft == 2:
                f = (row[x] - b) & 0xFF
            elif ft == 3:
                f = (row[x] - ((a + b) >> 1)) & 0xFF
            else:  # 4 = Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f = (row[x] - pred) & 0xFF
            out.append(f)
        prev = row
    return bytes(out)


def _png_with_filters(pixels: bytes, w: int, h: int, color_type: int, ftypes):
    import struct
    import zlib as z

    from open_ftth_relational_projector_spark.functions.multimodal import (
        _PNG_CHANNELS,
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", z.crc32(typ + data))
        )

    raw = _filter_scanlines(pixels, w, h, _PNG_CHANNELS[color_type], ftypes)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", z.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_pixel_roundtrip_all_color_types():
    from open_ftth_relational_projector_spark.functions.multimodal import (
        _PNG_CHANNELS,
        decode_png_pixels,
        encode_png,
    )

    for ct in (0, 2, 4, 6):
        ch = _PNG_CHANNELS[ct]
        w, h = 5, 4
        px = bytes((x * 37 + ct * 11) % 256 for x in range(w * h * ch))
        blob = encode_png(px, w, h, ct)
        gw, gh, gct, gpx = decode_png_pixels(blob)
        assert (gw, gh, gct, gpx) == (w, h, ct, px)


def test_png_unfilter_every_filter_type():
    """Decode a PNG whose five scanlines use filters 0,1,2,3,4 — built by
    an independent reference FILTERING implementation in this test."""
    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_png_pixels,
    )

    w, h, ct, ch = 4, 5, 2, 3  # RGB
    px = bytes((x * 53 + 7) % 256 for x in range(w * h * ch))
    blob = _png_with_filters(px, w, h, ct, ftypes=[0, 1, 2, 3, 4])
    assert decode_png_pixels(blob) == (w, h, ct, px)


def test_resize_nearest_picks_expected_pixels():
    from open_ftth_relational_projector_spark.functions.multimodal import (
        resize_nearest,
    )

    # 4x4 single-channel image 0..15; 2x2 nearest samples (0,0),(2,0),(0,2),(2,2)
    px = bytes(range(16))
    assert resize_nearest(px, 4, 4, 1, 2, 2) == bytes([0, 2, 8, 10])
    # identity resize
    assert resize_nearest(px, 4, 4, 1, 4, 4) == px


def test_resize_images_real_png_end_to_end(spark):
    import hashlib

    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_png_pixels,
        encode_png,
        resize_images,
        resize_nearest,
    )

    w, h, ct, ch = 6, 4, 2, 3
    px = bytes((x * 29 + 3) % 256 for x in range(w * h * ch))
    blob = encode_png(px, w, h, ct)
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id long, payload binary"
    )
    row = resize_images(df, target_w=3, target_h=2, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (w, h)
    assert (row["target_w"], row["target_h"]) == (3, 2)
    expected = encode_png(resize_nearest(px, w, h, ch, 3, 2), 3, 2, ct)
    assert row["resized_sha256"] == hashlib.sha256(expected).hexdigest()
    # the re-encoded output is itself a valid, decodable PNG of target dims
    gw, gh, gct, gpx = decode_png_pixels(expected)
    assert (gw, gh, gct) == (3, 2, ct)
    assert gpx == resize_nearest(px, w, h, ch, 3, 2)
    # non-PNG payloads hit the documented contract boundary
    bad = spark.createDataFrame(
        [(2, bytearray(b"not a png"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|not a PNG"):
        resize_images(bad, fake=False).collect()


def test_sample_frames_jvm_differential(spark):
    """The JVM frame extractor (sequence + binary substring + sha2) must
    equal the mapInPandas variant row for row — non-overlapping,
    overlapping (hop < frame), short-tail, and empty payloads."""
    from open_ftth_relational_projector_spark.functions.multimodal import (
        sample_frames,
        sample_frames_jvm,
    )

    rows = [
        (1, bytearray(bytes(range(256)) * 5)),   # 1280 B: full + tail frames
        (2, bytearray(b"tiny")),                  # single short frame
        (3, bytearray(b"")),                      # empty: no frames
        (4, bytearray(bytes(range(100)))),        # exactly < one frame
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    for kw in (
        dict(frame_bytes=512),
        dict(frame_bytes=512, stride=256),  # overlapping hop
        dict(frame_bytes=64, stride=200),   # gaps between frames
    ):
        a = sorted(map(tuple, sample_frames(df, **kw).collect()))
        b = sorted(map(tuple, sample_frames_jvm(df, **kw).collect()))
        assert a == b, (kw, a[:2], b[:2])


def test_quantize_int8_stats_properties(spark):
    import math

    rows = [
        (1, [1.0, -2.0, 3.5, -127.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),        # zero vector: scale guard
        (3, [0.003, -0.001, 0.002, 0.004]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in S.quantize_int8_stats(df).collect()}
    # reconstruction error bounded by scale/2 (+ rounding of the report)
    for vid, r in out.items():
        assert r["n_dims"] == 4
        assert r["max_err"] <= r["scale"] / 2 + 1e-4, (vid, r)
    # hand-check vector 1: amax=127 → scale=1, q=[1,-2,4,-127]
    r1 = out[1]
    assert r1["scale"] == 1.0
    assert r1["l1"] == 1 + 2 + 4 + 127
    assert r1["checksum"] == 1 * 1 + (-2) * 2 + 4 * 3 + (-127) * 4
    # zero vector: scale falls back to 1, all-zero code
    r2 = out[2]
    assert (r2["l1"], r2["checksum"], r2["max_err"]) == (0, 0, 0.0)


def test_star_components_match_union_find_oracle(spark):
    """Property test: star CC vs an independent python union-find oracle
    over hypothesis-generated graphs (self-loops, parallel edges, multiple
    components, isolated pairs)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 40), st.integers(0, 40)),
            min_size=1,
            max_size=60,
        )
    )
    def run(edges):
        real = [(a, b) for a, b in edges if a != b]
        if not real:
            return
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in real:
            union(a, b)
        want = {n: find(n) for n in parent}
        df = spark.createDataFrame(real, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(df, algorithm="star").collect()
        }
        assert got == want

    run()


def test_knn_recall_report_and_probe_radius_monotonicity(spark):
    """knn_recall measures overlap@k vs exact; widening the probe radius
    must never lose recall, and full probe must reach 1.0 — the tuning
    loop for the ANN scale paths."""
    rows = [
        (i, [float(j == (i % 8)) + 0.01 * ((i * 13 + j) % 7) for j in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") % 15 == 0)
    exact = S.knn_bruteforce(df, q, k=4)
    means = []
    for r in (0, 1, 3):
        approx = S.knn_lsh(df, q, k=4, dim=8, n_planes=3, probe_radius=r)
        rep = S.knn_recall(approx, exact)
        rows_ = rep.collect()
        assert all(row["n_exact"] == 4 for row in rows_)
        means.append(sum(row["recall"] for row in rows_) / len(rows_))
    assert means[0] <= means[1] <= means[2]
    assert means[2] == 1.0  # radius == n_planes scans every bucket


def test_corpus_filter_report_decisions(spark):
    """The composed quality-filter verdict: quality bands, language vote
    (incl. the fixed en>de>fr>es tie order), and the keep conjunction."""
    rows = [
        # 25 clean english tokens → len band + stopwords + low punct = 1.0
        (1, ("the cat and the dog of the house went to " * 3).strip()),
        (2, "short text"),                             # too short → ≤ 0.6
        (3, ("der hund und die katze " * 6).strip()),  # german, long enough
        (4, "!!! ??? ;;; ::: @@@ ###"),                # punctuation soup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import open_ftth_relational_projector_spark.catalog as C2

    # reuse the catalog query body against an in-memory docs frame
    from open_ftth_relational_projector_spark.functions import text as T

    qual = T.quality_score(F.col("text"))
    guessed = T.lang_guess(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.round(qual, 4).alias("quality"),
            guessed.alias("lang_guess"),
            ((qual >= 0.7) & (guessed == F.lit("en"))).alias("keep"),
        ).collect()
    }
    assert out[1]["lang_guess"] == "en" and out[1]["keep"]
    assert out[1]["quality"] == 1.0
    assert not out[2]["keep"]                 # fails the length band
    assert out[3]["lang_guess"] == "de" and not out[3]["keep"]
    assert not out[4]["keep"]


def test_simhash_near_dups_banding_full_recall(spark, docs):
    """Pigeonhole banding (max_hamming < bands) must equal the brute-force
    Hamming join exactly, and exact duplicate texts pair at hamming 0."""
    banded = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_near_dups(docs, max_hamming=3, bands=4).collect()
    )
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs).collect()}
    ids = sorted(fp)
    brute = sorted(
        (a, b, bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert banded == brute
    assert (1, 2, 0) in banded  # exact dup texts → identical fingerprints
    with pytest.raises(ValueError, match="max_hamming < bands"):
        D.simhash_near_dups(docs, max_hamming=4, bands=4)


def test_portable_simhash_and_minhash_triangulate_pure_python(docs):
    """Third-engine check: the md5-portable SimHash fingerprints and
    MinHash signatures must match a from-scratch hashlib implementation —
    independent of both Spark and the DuckDB oracles."""
    import hashlib

    def h64(s: str, seed: int) -> int:
        return int(hashlib.md5(f"{s}#{seed}".encode()).hexdigest()[:15], 16)

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}

    # simhash (60-bit)
    got = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash64(docs, n_bits=60, hash_fn=D.portable_hash64).collect()
    }
    for doc_id, text in rows.items():
        counts = [0] * 60
        for t in dict.fromkeys(text.split(" ")):
            hv = h64(t, 0)
            for b in range(60):
                counts[b] += 1 if (hv >> b) & 1 else -1
        want = sum(1 << b for b in range(60) if counts[b] > 0)
        assert got[doc_id] == want, doc_id

    # minhash signatures (32 seeds over 3-gram shingles)
    sig = {
        r["doc_id"]: r["sig"]
        for r in D.add_shingles(docs)
        .selectExpr("doc_id", D._minhash_sig_sql("sh", 32, True) + " AS sig")
        .collect()
    }
    for doc_id, text in rows.items():
        toks = text.split(" ")
        grams = list(
            dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )
        )
        want = [
            min((h64(g, s) for g in grams), default=None) for s in range(32)
        ]
        assert sig[doc_id] == want, doc_id


def test_bmp_pixel_roundtrip_and_resize(spark):
    import hashlib

    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
        resize_images,
        resize_nearest,
    )

    w, h = 5, 3
    px = bytes((x * 41 + 9) % 256 for x in range(w * h * 3))
    blob = encode_bmp(px, w, h)
    assert decode_bmp_pixels(blob) == (w, h, px)

    # top-down variant (negative height): same pixels, rows unflipped
    off = 54
    stride = (w * 3 + 3) & ~3
    body = blob[off:]
    rows = [body[i * stride : (i + 1) * stride] for i in range(h)]
    td = bytearray(blob[:off] + b"".join(reversed(rows)))
    td[22:26] = (-h).to_bytes(4, "little", signed=True)
    assert decode_bmp_pixels(bytes(td)) == (w, h, px)

    # Spark end-to-end through the real resize path, mixed PNG + BMP batch
    from open_ftth_relational_projector_spark.functions.multimodal import (
        encode_png,
    )

    png_px = bytes((x * 3) % 256 for x in range(4 * 4 * 3))
    df = spark.createDataFrame(
        [
            (1, bytearray(blob)),
            (2, bytearray(encode_png(png_px, 4, 4, 2))),
        ],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r
        for r in resize_images(df, target_w=2, target_h=2, fake=False).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (w, h)
    expected_bmp = encode_bmp(resize_nearest(px, w, h, 3, 2, 2), 2, 2)
    assert out[1]["resized_sha256"] == hashlib.sha256(expected_bmp).hexdigest()
    assert (out[2]["width"], out[2]["height"]) == (4, 4)


def _gif_lzw_encode(indices, min_code_size):
    """Reference GIF-LZW ENCODER for tests: emits only literal codes (no
    compression) but tracks the decoder's table growth so code widths stay
    in sync — an independent inverse of _gif_lzw_decode."""
    clear = 1 << min_code_size
    end = clear + 1
    bits = []

    def emit(code, width):
        for i in range(width):
            bits.append((code >> i) & 1)

    width = min_code_size + 1
    emit(clear, width)
    next_code = end + 1
    prev = False
    for ci in indices:
        emit(ci, width)
        if prev:
            next_code += 1  # decoder adds one entry per post-first code
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = True
    emit(end, width)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, bit in enumerate(bits[i : i + 8]):
            byte |= bit << j
        out.append(byte)
    return bytes(out)


def _gif_bytes(w, h, palette, indices):
    import struct

    gct_bits = 1  # 4-entry table (2 << 1 == 4)
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    pal += b"\x00" * (3 * 4 - len(pal))
    lzw = _gif_lzw_encode(indices, 2)
    sub = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        sub += bytes([len(chunk)]) + chunk
    sub += b"\x00"
    return (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | gct_bits, 0, 0])
        + bytes(pal)
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        + bytes([2])
        + bytes(sub)
        + b"\x3b"
    )


def test_gif_pixel_decode_and_resize_to_png(spark):
    import hashlib

    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
        encode_png,
        resize_images,
        resize_nearest,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    w, h = 4, 3
    indices = [(x + y) % 4 for y in range(h) for x in range(w)]
    blob = _gif_bytes(w, h, palette, indices)
    gw, gh, px = decode_gif_pixels(blob)
    assert (gw, gh) == (w, h)
    want = b"".join(bytes(palette[i]) for i in indices)
    assert px == want

    # long enough to force LZW code-width growth in the decoder
    w2, h2 = 16, 16
    idx2 = [(x * 7 + y * 3) % 4 for y in range(h2) for x in range(w2)]
    gw2, gh2, px2 = decode_gif_pixels(_gif_bytes(w2, h2, palette, idx2))
    assert (gw2, gh2) == (w2, h2)
    assert px2 == b"".join(bytes(palette[i]) for i in idx2)

    # Spark end-to-end: GIF in, resized PNG hash out
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id long, payload binary"
    )
    row = resize_images(df, target_w=2, target_h=2, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (w, h)
    expected = encode_png(resize_nearest(want, w, h, 3, 2, 2), 2, 2, 2)
    assert row["resized_sha256"] == hashlib.sha256(expected).hexdigest()
    pw, ph, pct, _ = decode_png_pixels(expected)
    assert (pw, ph, pct) == (2, 2, 2)


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from open_ftth_relational_projector_spark.functions.sampling import (
        weighted_sample,
    )

    # 200 light rows (w=1) + 20 heavy rows (w=50): heavies should dominate
    rows = [(i, 1) for i in range(200)] + [(1000 + i, 50) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, w int")
    heavy_hits = 0
    for salt in ("a", "b", "c"):
        got = [
            r["doc_id"]
            for r in weighted_sample(df, F.col("w"), 20, "doc_id", salt).collect()
        ]
        assert len(got) == 20 and len(set(got)) == 20
        # deterministic: same salt → identical sample
        again = [
            r["doc_id"]
            for r in weighted_sample(df, F.col("w"), 20, "doc_id", salt).collect()
        ]
        assert got == again
        heavy_hits += sum(1 for d in got if d >= 1000)
    # heavies are 9% of rows but 83% of total weight; across 60 draws they
    # must far exceed the unweighted expectation (~5.5)
    assert heavy_hits > 25, heavy_hits
    # zero/negative weights are excluded outright
    z = spark.createDataFrame([(1, 0), (2, -3), (3, 5)], "doc_id long, w int")
    assert [
        r["doc_id"] for r in weighted_sample(z, F.col("w"), 10, "doc_id").collect()
    ] == [3]


def test_review_fixes_corrupt_inputs_and_degenerate_buckets(spark):
    """Round-3 review fixes: corrupt image inputs hit the documented
    NotImplementedError boundary; self-loop-only nodes survive star CC;
    sub-n-token docs never enter the minhash bucket join."""
    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )
    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
    )

    # PNG with a signature but no IHDR
    with pytest.raises(NotImplementedError, match="IHDR"):
        decode_png_pixels(b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x00IEND" + b"\x00" * 4)

    # GIF whose stream decodes short / indexes outside the palette
    palette = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    good = _gif_bytes(3, 3, palette, [0] * 9)
    w, h, px = decode_gif_pixels(good)
    assert (w, h) == (3, 3) and px == bytes((1, 2, 3)) * 9
    truncated = _gif_bytes(3, 3, palette, [0] * 4)  # 4 of 9 pixels
    with pytest.raises(NotImplementedError, match="truncated"):
        decode_gif_pixels(truncated)

    # star CC keeps self-loop-only nodes (parity with label propagation)
    edges = spark.createDataFrame([(5, 5), (1, 2)], "doc_a long, doc_b long")
    for algo in ("label", "star"):
        got = sorted(
            (r["doc_id"], r["component_id"])
            for r in connected_components(edges, algorithm=algo).collect()
        )
        assert got == [(1, 1), (2, 1), (5, 5)], algo

    # sub-n-token docs must produce zero minhash candidates, not k² pairs
    shorts = spark.createDataFrame(
        [(i, f"tok{i} only") for i in range(6)], "doc_id long, text string"
    )
    assert D.minhash_lsh_candidates(shorts).count() == 0


def test_sliding_window_chunks_edges(spark):
    """Short doc → one chunk; exact-window doc → one chunk; window+1 →
    two chunks with the second a 17-token tail at start stride."""
    from open_ftth_relational_projector_spark.functions.sampling import (
        sliding_window_chunks,
    )

    rows = [
        (1, " ".join(f"t{i}" for i in range(5))),    # 5 tokens
        (2, " ".join(f"t{i}" for i in range(64))),   # exactly one window
        (3, " ".join(f"t{i}" for i in range(65))),   # one over
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sliding_window_chunks(docs, window=64, stride=48)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["start_token"], r["n_tokens"])
        for r in out.collect()
    }
    assert got == {
        (1, 0): (0, 5),
        (2, 0): (0, 64),
        (3, 0): (0, 64),
        (3, 1): (48, 17),
    }
    # chunk text is the slice, not the whole doc: md5 of tail must differ
    md5s = {r["chunk_idx"]: r["chunk_md5"] for r in out.filter("doc_id = 3").collect()}
    assert md5s[0] != md5s[1]


def test_bm25_ranks_matching_docs_only(spark):
    """Docs without any query term never appear; a doc with more query-term
    mass outranks a longer doc with less."""
    rows = [
        (1, "hash hash merge join join join"),
        (2, "hash " + " ".join(["filler"] * 50)),
        (3, "nothing relevant at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = TXT.bm25_top_docs(docs, ["hash", "merge"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids
    assert ids[0] == 1  # two distinct terms, high tf, short doc
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_matched"] == 2 and by_id[2]["n_matched"] == 1
    assert by_id[1]["score"] > by_id[2]["score"] > 0


# --- clustering / SemDeDup / DSIR -----------------------------------------


def test_assign_cluster_nearest_and_tie_lowest(spark):
    from open_ftth_relational_projector_spark.functions.clustering import (
        assign_cluster,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.0]), (2, [5.0, 5.1]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    cents = [[0.0, 0.0], [5.0, 5.0], [1.0, 1.0]]
    out = {
        r["vec_id"]: r["cid"]
        for r in df.select(
            "vec_id",
            assign_cluster(
                F.col("embedding").cast("array<double>"), cents
            ).alias("cid"),
        ).collect()
    }
    assert out[1] == 1 and out[2] == 2
    # (0.5, 0.5) is equidistant from (0,0) and (1,1) -> lowest cid wins
    assert out[3] == 1


def test_kmeans_separates_two_blobs(spark):
    from open_ftth_relational_projector_spark.functions.clustering import (
        kmeans_cluster_stats,
    )

    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(1, 6)] + [
        (i, [10.0 + i * 0.01, 10.0]) for i in range(6, 11)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = {
        r["cluster_id"]: (r["n_members"], r["min_vec_id"])
        for r in kmeans_cluster_stats(df, k=2, iters=2).collect()
    }
    assert stats[1] == (5, 1)
    assert stats[2] == (5, 6)


def test_semantic_dedup_keep_first_representative(spark):
    from open_ftth_relational_projector_spark.functions.clustering import (
        semantic_dedup,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),   # near-dup of 1, higher id -> dropped
        (3, [0.0, 1.0]),      # other blob, unique -> kept
        (4, [0.01, 0.999]),   # near-dup of 3 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(df, threshold=0.95, k=2, iters=2).collect()
    }
    assert out == {1: True, 2: False, 3: True, 4: False}


def test_dsir_weights_favor_target_vocabulary(spark):
    from open_ftth_relational_projector_spark.functions.sampling import (
        dsir_importance_weights,
    )

    rows = (
        [(i, "alpha beta gamma delta", "en") for i in range(1, 5)]
        + [(i, "uno dos tres cuatro", "es") for i in range(5, 9)]
        + [(9, "alpha beta gamma delta", "es")]  # es doc with en vocab
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_importance_weights(df, target_lang="en").collect()
    }
    # 4 unigrams + 3 bigrams per doc
    assert all(v[0] == 7 for v in out.values())
    # target-vocabulary docs outrank off-target vocabulary, regardless of
    # their own label (doc 9 scores like the en docs: DSIR scores CONTENT)
    assert out[1][1] > out[5][1]
    assert out[9][1] == out[1][1]


def test_pagerank_star_graph_reference_values(spark):
    from open_ftth_relational_projector_spark.functions.graph import pagerank

    # 1 -> 3, 2 -> 3 (3 dangles): classic two-fans-into-a-hub shape.
    edges = spark.createDataFrame(
        [(1, 3), (2, 3)], "src long, dst long"
    )
    out = {
        r["node"]: r["rank"]
        for r in pagerank(edges, damping=0.85, iters=3).collect()
    }
    # replay the r8 integer-state contract in plain python: state is
    # ri = round(rank·1e10); per-edge contribs round(ri/deg); update
    # (1−d)·S/n + d·(C + DM/n) with the SAME op order as pr_update_sql.
    # ROUND(x, k) is half-away-from-zero on the EXACT double value on
    # both engines — Decimal(x) reproduces that exactly (Python's
    # round() is half-to-even, so it can't be used here).
    from decimal import ROUND_HALF_UP, Decimal

    def rint(x: float) -> int:
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    def r6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    S, n, d = 1e10, 3.0, 0.85
    ri = {1: rint(S / n), 2: rint(S / n), 3: rint(S / n)}
    for _ in range(3):
        dm = ri[3]  # node 3 has no out-edges
        c3 = rint(ri[1] / 1) + rint(ri[2] / 1)
        ri = {
            1: rint((1.0 - d) * S / n + d * (0 + dm / n)),
            2: rint((1.0 - d) * S / n + d * (0 + dm / n)),
            3: rint((1.0 - d) * S / n + d * (c3 + dm / n)),
        }
    expected = {k: r6(v / S) for k, v in ri.items()}
    assert out == expected
    # ranks sum to ~1 (mass conserved through dangling redistribution)
    assert abs(sum(out.values()) - 1.0) < 1e-4


def test_semantic_dedup_cell_cap_bounds_quadratic_work(spark):
    """Adversarial skew: every vector identical -> one k-means cell
    swallows the corpus. With max_cell_size the cell salts into
    ceil(60/10)=6 md5 sub-cells, so each sub-cell keeps its own first
    representative (bounded work, reduced recall — the documented
    contract); without the cap exactly one survivor remains."""
    from open_ftth_relational_projector_spark.functions.clustering import (
        semantic_dedup,
    )

    rows = [(i, [1.0, 0.0]) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = semantic_dedup(df, threshold=0.99, k=2, iters=1)
    assert [r["vec_id"] for r in exact.filter("keep").collect()] == [1]
    capped = semantic_dedup(
        df, threshold=0.99, k=2, iters=1, max_cell_size=10
    )
    kept = sorted(r["vec_id"] for r in capped.filter("keep").collect())
    assert 2 <= len(kept) <= 6
    assert 1 in kept  # the global first representative always survives


def test_bigram_lm_scores_rank_gibberish_lowest(spark):
    from open_ftth_relational_projector_spark.functions.quality import (
        bigram_lm_scores,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "the cat sat on the mat"),
        (4, "zq xv qq zz xk vj"),  # bigrams seen nowhere else
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_lm_scores(df).collect()
    }
    assert all(v[0] == 5 for v in out.values())
    assert out[1] == out[2] == out[3]
    assert out[4][1] < out[1][1]  # the LM finds gibberish improbable
    # hand-check one probability: C("the cat")=3, C("the")=6, V=11
    import math

    assert abs(out[1][1] - round(sum([
        math.log((3 + 1) / (6 + 11)),   # the cat
        math.log((3 + 1) / (3 + 11)),   # cat sat
        math.log((3 + 1) / (3 + 11)),   # sat on
        math.log((3 + 1) / (3 + 11)),   # on the
        math.log((3 + 1) / (6 + 11)),   # the mat
    ]) / 5, 4)) < 2e-4


def test_cms_heavy_hitters_no_undercount_and_forced_collision(spark):
    from open_ftth_relational_projector_spark.functions.sketches import (
        count_min_heavy_hitters,
    )

    rows = [(1, " ".join(["common"] * 30 + ["rare" + str(i) for i in range(40)]))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # w=4 forces heavy bucket collisions -> estimates must still never
    # undercount (the CMS invariant), and the top token is found exactly
    out = {
        r["token"]: r
        for r in count_min_heavy_hitters(df, d=2, w=4, k=5).collect()
    }
    assert len(out) == 5
    assert all(r["overestimates"] for r in out.values())
    assert out["common"]["exact_n"] == 30
    assert out["common"]["cms_n"] >= 30


def test_bloom_decontamination_never_false_negative(spark):
    from open_ftth_relational_projector_spark.functions.sketches import (
        bloom_probe_decontamination,
    )

    shared = "a b c d e f g h i j"           # 3 distinct 8-gram shingles
    rows = [
        (0, shared),                          # eval doc (id % 5 == 0)
        (1, shared),                          # fully contaminated
        (2, "q r s t u v w x y z"),          # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # tiny filter (64 bits) -> false positives likely, never negatives
    out = {
        r["doc_id"]: r
        for r in bloom_probe_decontamination(
            df, eval_mod=5, n_bits=64, n_hashes=3, n_shingle=8
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_true_hits"] == 3 and out[1]["n_bloom_hits"] == 3
    assert out[2]["n_true_hits"] == 0
    assert all(r["no_false_negatives"] for r in out.values())


def test_embedding_outlier_detects_planted_corruption(spark):
    rows = [(i, [0.0, float(i % 3)]) for i in range(1, 30)] + [
        (99, [1000.0, 1.0])  # corrupt shard member
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["is_outlier"] for r in S.embedding_outlier_stats(df).collect()}
    assert out[99] is True
    assert sum(out.values()) == 1


def test_rrf_fuse_prefers_doc_in_both_lists(spark):
    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(20, 1), (40, 2)], "doc_id long, rank int")
    out = S.rrf_fuse(a, b, k_rrf=60, top=10).collect()
    assert out[0]["doc_id"] == 20  # present in both lists -> fused to top
    assert abs(out[0]["rrf_score"] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[40]["rank_a"] is None and by_id[40]["rank_b"] == 2
    assert len(out) == 4


def test_incremental_dedup_verdicts(docs):
    # existing corpus: docs 1 (cat/mat), 4 (german); new shard: 2 (exact
    # dup of 1), 3 (near dup of 1), 5 (unique)
    old = docs.filter("doc_id IN (1, 4)")
    new = docs.filter("doc_id IN (2, 3, 5)")
    out = {
        r["doc_id"]: r
        for r in D.incremental_dedup_report(new, old, threshold=0.2).collect()
    }
    assert out[2]["verdict"] == "exact_dup" and out[2]["exact_dup_of"] == 1
    assert out[3]["verdict"] == "near_dup" and out[3]["best_match"] == 1
    assert out[5]["verdict"] == "unique" and out[5]["best_match"] is None
    assert out[5]["best_jaccard"] == -1.0


def test_knn_label_propagation_votes_majority(spark):
    rows = [
        (0, [1.0, 0.0], 7),    # held out; true label 7
        (1, [0.99, 0.01], 7),
        (2, [0.98, 0.02], 7),
        (3, [0.97, 0.03], 3),
        (4, [0.0, 1.0], 5),
        (5, [0.01, 0.99], 5),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = S.knn_label_propagation(df, F.col("vec_id") == 0, k=3).collect()
    assert len(out) == 1
    r = out[0]
    # 3 nearest labeled: 1(7), 2(7), 3(3) -> majority 7, agrees with truth
    assert r["predicted_label"] == 7 and r["vote_n"] == 2
    assert r["agrees"] is True


def test_temperature_mixture_upsamples_rare_sources(spark):
    from open_ftth_relational_projector_spark.functions.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "big") for i in range(90)] + [(i, "small") for i in range(90, 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture_sample(df, alpha=0.7).collect()
    rates = {r["source"]: r["keep_rate"] for r in out}
    # rare source keeps everything; dominant source is down-sampled
    assert rates["small"] == 1.0
    assert 0 < rates["big"] < 1.0
    assert rates["big"] == round((0.9 ** -0.3) / (0.1 ** -0.3), 6)
    # verdicts deterministic: same call, same sample
    again = {r["doc_id"]: r["sampled"] for r in temperature_mixture_sample(df, alpha=0.7).collect()}
    assert all(again[r["doc_id"]] == r["sampled"] for r in out)


def test_length_bucketed_batches_bounds_and_waste(spark):
    from open_ftth_relational_projector_spark.functions.sampling import (
        length_bucketed_batches,
    )

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [10, 12, 13, 100, 100, 101, 300, 301, 302]
    )]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in length_bucketed_batches(
        df, bucket_edges=[64, 128, 256], batch_size=2
    ).collect()}
    assert [out[i]["bucket"] for i in range(9)] == [0, 0, 0, 1, 1, 1, 3, 3, 3]
    # batch ids: within bucket 0, docs 0,1 -> batch 0; doc 2 -> batch 1
    assert out[0]["batch_id"] == 0 and out[1]["batch_id"] == 0
    assert out[2]["batch_id"] == 1
    # pad waste vs batch max: doc 0 (10 tokens) padded to 12
    assert out[0]["pad_waste"] == 2 and out[1]["pad_waste"] == 0
    assert out[2]["pad_waste"] == 0  # alone in its batch


def test_winnowing_guarantee_and_sparsity(spark):
    shared = "one two three four five six seven eight"  # 8 shared tokens
    rows = [
        (1, "aa bb " + shared + " cc dd"),
        (2, "zz yy xx " + shared + " ww"),
        (3, "pp qq rr ss tt uu vv kk ll mm nn oo"),   # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = D.winnow_fingerprints(df, k=4, window=5)
    rowsets = {
        i: {r["fingerprint"] for r in fp.filter(F.col("doc_id") == i).collect()}
        for i in (1, 2, 3)
    }
    # guarantee: shared substring of len >= window + k - 1 = 8 tokens
    # contributes at least one shared fingerprint
    assert rowsets[1] & rowsets[2]
    assert not (rowsets[1] & rowsets[3]) and not (rowsets[2] & rowsets[3])
    # sparsity: far fewer fingerprints than k-grams
    n_grams_1 = len(rows[0][1].split()) - 3
    assert len(rowsets[1]) < n_grams_1


def test_pagerank_hot_hub_star_graph(spark):
    """Adversarial skew: 2000 leaves all pointing at ONE hub. The dst-keyed
    contribution aggregate is map-side combined, so the hot key reduces
    partials, not raw edges; the run completes quickly and mass stays
    conserved through the dangling hub."""
    from open_ftth_relational_projector_spark.functions.graph import pagerank

    edges = spark.range(1, 2001).selectExpr("id AS src", "0 AS dst")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert len(out) == 2001
    assert out[0] > max(v for k, v in out.items() if k != 0) * 50
    assert abs(sum(out.values()) - 1.0) < 1e-3


# --- audio modality --------------------------------------------------------


def test_wav_payloads_parse_with_stdlib_wave(spark):
    """The synthesized payloads are REAL WAV files: python's stdlib `wave`
    module (an independent RIFF parser) reads them back sample-for-sample."""
    import io
    import wave

    import numpy as np

    from open_ftth_relational_projector_spark.functions.audio import (
        _text_to_samples,
        attach_wav,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a b c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: (r["text"], bytes(r["wav"])) for r in attach_wav(df).collect()}
    for text, payload in rows.values():
        with wave.open(io.BytesIO(payload)) as w:
            assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, 8000)
            frames = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
        assert np.array_equal(frames, _text_to_samples(text))


def test_wav_features_hand_computed(spark):
    from open_ftth_relational_projector_spark.functions.audio import (
        attach_wav,
        wav_features,
        resample_wav,
    )

    # "a a" -> bytes [97, 32, 97] -> samples [8448, -8192, 8448]
    df = spark.createDataFrame([(1, "a a")], "doc_id long, text string")
    feats = wav_features(attach_wav(df)).collect()[0]
    assert feats["n_frames"] == 3 and feats["sample_rate"] == 8000
    assert feats["duration_ms"] == 0  # 3/8000 s
    assert feats["peak"] == 8448
    assert feats["zero_crossings"] == 2
    import math

    assert feats["rms"] == round(
        math.sqrt((8448**2 + 8192**2 + 8448**2) / 3), 4
    )
    res = resample_wav(attach_wav(df), factor=2).collect()[0]
    # kept samples: positions 0, 2 -> [8448, 8448]
    assert (res["n_frames_in"], res["n_frames_out"]) == (3, 2)
    assert res["sample_rate_out"] == 4000
    assert res["rms_out"] == 8448.0


def test_expectations_engine_counts_planted_violations(spark):
    from open_ftth_relational_projector_spark.functions.expectations import (
        check_expectations,
    )

    facts = spark.createDataFrame(
        [(1, 5, "A"), (1, 60, "A"), (2, None, "X"), (None, 10, "N")],
        "k long, qty long, flag string",
    )
    dims = spark.createDataFrame([(1,)], "k long")
    out = {
        (r["rule"], r["column"]): (r["n_violations"], r["passed"])
        for r in check_expectations(
            facts,
            "facts",
            [
                {"rule": "not_null", "column": "k"},
                {"rule": "accepted_range", "column": "qty", "lo": 1, "hi": 50},
                {"rule": "accepted_values", "column": "flag",
                 "values": ["A", "N"]},
                {"rule": "unique", "column": "k"},
                {"rule": "refers_to", "column": "k", "ref": dims,
                 "ref_column": "k"},
            ],
        ).collect()
    }
    assert out[("not_null", "k")] == (1, False)
    assert out[("accepted_range", "qty")] == (2, False)  # 60 + null
    assert out[("accepted_values", "flag")] == (1, False)
    assert out[("unique", "k")] == (1, False)            # k=1 twice
    assert out[("refers_to", "k")] == (1, False)         # k=2 orphaned


def test_triangle_count_known_graphs(spark):
    from open_ftth_relational_projector_spark.functions.graph import (
        triangle_count,
    )

    # triangle + pendant edge: exactly 1 triangle; chain: none
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long"
    )
    r = triangle_count(tri).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (4, 1)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    assert triangle_count(chain).collect()[0]["n_triangles"] == 0
    # K4: 4 triangles, each counted once despite 6 edges
    k4 = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "doc_a long, doc_b long",
    )
    assert triangle_count(k4).collect()[0]["n_triangles"] == 4


def test_tfidf_cosine_pairs_weighted_similarity(spark):
    rows = [
        (1, "apple banana cherry date"),
        (2, "apple banana cherry fig"),      # 3/4 terms shared with 1
        (3, "wolf xylophone yacht zebra"),   # disjoint from 1 and 2
        (4, "wolf xylophone yacht zebra"),   # identical to 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in TXT.tfidf_cosine_pairs(df, threshold=0.1).collect()
    }
    assert out[(3, 4)] == 1.0            # identical docs -> cosine 1
    assert (1, 2) in out and 0 < out[(1, 2)] < 1
    assert not any({a, b} & {3, 4} and {a, b} & {1, 2} for a, b in out)


def test_prefix_filtering_lossless_and_prunes(spark, docs):
    """AllPairs prefix filtering must return EXACTLY the full inverted
    index's result (losslessness), while indexing strictly fewer
    (doc, shingle) postings — the pruning that pays for itself at scale."""
    exact = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
        for r in D.ngram_jaccard_pairs(docs, threshold=0.2, n=3).collect()
    }
    pf = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
        for r in D.jaccard_pairs_prefix_filtered(
            docs, threshold=0.2, n=3
        ).collect()
    }
    assert pf == exact and exact  # identical non-empty result sets
    # the prefix index is strictly smaller than the full index
    sh = D.add_shingles(docs, 3)
    n_full = sh.select(F.explode("sh")).count()
    # replicate the prefix construction to count indexed postings
    idx = sh.select("doc_id", F.explode("sh").alias("shingle"))
    from pyspark.sql import Window as W

    df_t = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    n_prefix = (
        idx.join(df_t, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .join(sizes, "doc_id")
        .filter(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.lit(0.2) * F.col("n_sh")) + 1
        )
        .count()
    )
    assert n_prefix < n_full


def test_pq_codes_structure_and_exact_centroids(spark):
    from open_ftth_relational_projector_spark.functions.clustering import (
        pq_codes,
    )

    # 4 distinct vectors in 4-dim, m=2 subspaces, k=4: every vector gets
    # its own centroid per subspace after fitting -> exact reconstruction
    rows = [
        (1, [0.0, 0.0, 9.0, 9.0]),
        (2, [5.0, 5.0, 0.0, 0.0]),
        (3, [9.0, 0.0, 5.0, 5.0]),
        (4, [0.0, 9.0, 1.0, 8.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in pq_codes(df, m=2, k=4, iters=2, dim=4).collect()}
    assert len(out) == 4
    for r in out.values():
        assert 1 <= r["code_1"] <= 4 and 1 <= r["code_2"] <= 4
        assert r["recon_err"] == 0.0  # k == N -> zero quantization error
    # codes are distinct per subspace when every vector owns a centroid
    assert len({r["code_1"] for r in out.values()}) == 4


def test_pq_adc_recall_reasonable_vs_bruteforce(spark):
    """ADC over PQ codes is approximate; with m=2 subspaces of 2 dims and
    k=4 codebooks on separable blobs it must still recover the exact
    nearest neighbor for each query (recall@1 = 1 on easy structure)."""
    from open_ftth_relational_projector_spark.functions.clustering import (
        pq_knn_adc,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.1, 0.0, 0.0, 0.1]),     # nearest to 0
        (2, [9.0, 9.0, 0.0, 0.0]),
        (3, [9.1, 9.0, 0.0, 0.2]),     # nearest to 2
        (4, [0.0, 9.0, 9.0, 0.0]),
        (5, [0.0, 9.1, 9.1, 0.1]),     # nearest to 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter("vec_id IN (0, 2, 4)")
    out = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in pq_knn_adc(
            df, queries, m=2, k=6, iters=2, knn_k=1, dim=4
        ).collect()
    }
    assert out[(0, 1)] == 1 and out[(2, 1)] == 3 and out[(4, 1)] == 5


def test_pq_fused_training_identical_to_per_subspace_kmeans(spark):
    """pq_fit_codebooks fuses all m subspace trainings into one corpus
    pass per iteration; the subspaces are independent, so the result must
    be IDENTICAL (post the 6 dp contract rounding) to running kmeans_fit
    per subspace slice — the equivalence every PQ oracle relies on."""
    import random

    from open_ftth_relational_projector_spark.functions.clustering import (
        kmeans_fit,
        pq_fit_codebooks,
    )
    from open_ftth_relational_projector_spark.functions.similarity import (
        as_double,
    )

    rng = random.Random(23)
    rows = [(i, [rng.gauss(0, 3) for _ in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m, k, iters, dim = 4, 3, 3, 8
    sub_len = dim // m
    fused = pq_fit_codebooks(df, m, k, iters, "vec_id", "embedding", dim)
    loop = [
        kmeans_fit(
            df.select(
                F.col("vec_id"),
                F.slice(
                    as_double(F.col("embedding")), j * sub_len + 1, sub_len
                ).alias("embedding"),
            ),
            k,
            iters,
            "vec_id",
            "embedding",
        )
        for j in range(m)
    ]
    assert fused == loop


def test_pq_fused_training_ignores_tail_dims_like_the_slice_loop(spark):
    """dim % m tail positions belong to no subspace; the per-slice loop
    never read them and the fused trainer must not either (nor crash on
    the out-of-range subspace index under ANSI element_at)."""
    import random

    from open_ftth_relational_projector_spark.functions.clustering import (
        kmeans_fit,
        pq_fit_codebooks,
    )
    from open_ftth_relational_projector_spark.functions.similarity import (
        as_double,
    )

    rng = random.Random(29)
    rows = [(i, [rng.gauss(0, 2) for _ in range(7)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m, k, iters, dim = 3, 2, 2, 7  # sub_len = 2, position 7 is tail
    sub_len = dim // m
    fused = pq_fit_codebooks(df, m, k, iters, "vec_id", "embedding", dim)
    loop = [
        kmeans_fit(
            df.select(
                F.col("vec_id"),
                F.slice(
                    as_double(F.col("embedding")), j * sub_len + 1, sub_len
                ).alias("embedding"),
            ),
            k,
            iters,
            "vec_id",
            "embedding",
        )
        for j in range(m)
    ]
    assert fused == loop


def test_ivfpq_tiny_train_sample_raises_clearly(spark):
    from open_ftth_relational_projector_spark.functions.clustering import (
        ivfpq_knn_adc,
    )

    df = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 4), i -> CAST(id * i AS DOUBLE)) AS embedding",
    )
    with pytest.raises(ValueError, match="train_sample_frac"):
        ivfpq_knn_adc(
            df,
            df.filter("vec_id = 0"),
            n_cells=4,
            m=2,
            k=4,
            iters=1,
            dim=4,
            train_sample_frac=1e-6,
        )


def test_ivfpq_recall_structure_and_partition_invariance(spark):
    """IVFADC on separable blobs: residual PQ inside probed cells must
    recover each query's exact nearest neighbor (the blobs land in
    distinct coarse cells, so probing 1-2 cells suffices and the residual
    codebooks resolve within-cell structure); the result is exactly
    knn_k rows per query with ranks 1..k; and the whole pipeline is a
    deterministic function of the DATA — repartitioning the corpus must
    reproduce every (query, neighbor, rank) triple (the fixed-point
    training + rounded-LUT contract the DuckDB oracle relies on)."""
    import random

    from open_ftth_relational_projector_spark.functions.clustering import (
        ivfpq_knn_adc,
    )

    rng = random.Random(17)
    blobs = [
        [0.0, 0.0, 0.0, 0.0],
        [20.0, 20.0, 0.0, 0.0],
        [0.0, 20.0, 20.0, 0.0],
        [20.0, 0.0, 0.0, 20.0],
    ]
    rows = [
        (i, [c + rng.gauss(0, 0.5) for c in blobs[i % 4]])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter("vec_id < 4")

    out = ivfpq_knn_adc(
        df, queries, n_cells=4, m=2, k=4, iters=3, n_probe=2, knn_k=3, dim=4
    )
    got = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in out.collect()}
    assert len(got) == 4 * 3
    assert {rk for _, rk in got} == {1, 2, 3}
    # every returned neighbor shares the query's blob (same residue mod 4)
    for (qid, _), nid in got.items():
        assert nid % 4 == qid % 4, (qid, nid)

    again = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in ivfpq_knn_adc(
            df.repartition(7),
            queries,
            n_cells=4,
            m=2,
            k=4,
            iters=3,
            n_probe=2,
            knn_k=3,
            dim=4,
        ).collect()
    }
    assert again == got

    # sample-trained deployment path: quantizers fit on an md5-bucket
    # subset, every query still gets exactly knn_k well-formed rows, and
    # the result stays a deterministic function of the data
    sampled = ivfpq_knn_adc(
        df,
        queries,
        n_cells=4,
        m=2,
        k=4,
        iters=3,
        n_probe=2,
        knn_k=3,
        dim=4,
        train_sample_frac=0.5,
    ).collect()
    assert len(sampled) == 4 * 3
    assert {(r["query_id"], r["rnk"]) for r in sampled} == set(got)
    sampled_again = ivfpq_knn_adc(
        df.repartition(5),
        queries,
        n_cells=4,
        m=2,
        k=4,
        iters=3,
        n_probe=2,
        knn_k=3,
        dim=4,
        train_sample_frac=0.5,
    ).collect()
    assert sorted(map(tuple, sampled)) == sorted(map(tuple, sampled_again))


def test_bfs_distances_chain_fork_unreachable(spark):
    """Multi-source min distance on a chain with a fork: nearest source
    wins; nodes beyond max_hops and disconnected islands are absent; a
    seed not appearing in any edge is dropped (CTE-reachability parity);
    directed mode only follows src→dst."""
    from open_ftth_relational_projector_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (3, 30), (100, 101)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (5,), (999,)], "node long")
    got = {(r.node, r.dist) for r in bfs_distances(edges, seeds, max_hops=2).collect()}
    # dist(3) = min(2 from 1, 2 from 5) = 2; 30 is 3 hops from both seeds
    # at max_hops=2 → 30 reachable only via 3 at hop 3 → absent; island absent
    assert got == {(1, 0), (5, 0), (2, 1), (4, 1), (6, 1), (3, 2)}

    # directed: edges only flow src→dst, so 5's predecessors unreachable
    got_dir = {
        (r.node, r.dist)
        for r in bfs_distances(edges, seeds, max_hops=3, directed=True).collect()
    }
    assert got_dir == {(1, 0), (5, 0), (2, 1), (6, 1), (3, 2), (4, 3), (30, 3)}


def test_kmv_distinct_rollup_properties(spark):
    """Small group reports exact count via the <k path; large group's
    estimate lands within KMV's expected error envelope; merging per-sub
    sketches is lossless vs a direct sketch; the salted pre-reduce changes
    nothing."""
    from open_ftth_relational_projector_spark.functions.sketches import (
        kmv_distinct_rollup,
    )

    rows = [("A", d % 3, d % 10) for d in range(60)]  # 10 distinct values
    rows += [("B", v % 5, v) for v in range(500)]     # 500 distinct values
    df = spark.createDataFrame(rows, "g string, sub int, val int")
    out = {
        r["g"]: r
        for r in kmv_distinct_rollup(df, "g", "sub", "val", k=32).collect()
    }
    assert out["A"]["exact_distinct"] == 10
    assert out["A"]["kmv_est"] == 10.0
    assert out["A"]["merge_lossless"]
    assert out["B"]["exact_distinct"] == 500
    assert out["B"]["merge_lossless"]
    # k=32 → relative std error ~ 1/sqrt(k-2) ≈ 18%; allow 3 sigma
    assert abs(out["B"]["kmv_est"] - 500) / 500 < 0.55

    salted = {
        r["g"]: r
        for r in kmv_distinct_rollup(
            df, "g", "sub", "val", k=32, pre_reduce_salt=4
        ).collect()
    }
    assert {g: (r["kmv_est"], r["merge_lossless"]) for g, r in out.items()} == {
        g: (r["kmv_est"], r["merge_lossless"]) for g, r in salted.items()
    }


def test_robust_outlier_stats_mad(spark):
    """Known outlier flagged; constant-dominated group (MAD=0) excluded;
    median/MAD values exact."""
    from open_ftth_relational_projector_spark.functions.quality import (
        robust_outlier_stats,
    )

    rows = [("a", float(v)) for v in [8, 9, 10, 11, 12, 1000]]
    rows += [("const", 5.0)] * 10 + [("const", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in robust_outlier_stats(df, "g", "v").collect()}
    # group a: median 10.5, deviations [2.5,1.5,.5,.5,1.5,989.5] → MAD 1.5
    assert out["a"]["med"] == 10.5 and out["a"]["mad"] == 1.5
    assert out["a"]["n"] == 6 and out["a"]["n_anomalies"] == 1
    # MAD of const group is 0 → excluded entirely
    assert "const" not in out


def test_cms_join_size_never_underestimates(spark):
    """CMS inner-product join-size estimate ≥ exact size; with a wide
    grid it is exact, with a tiny forced-collision grid strictly above;
    disjoint key sets estimate ≥ exact 0."""
    from open_ftth_relational_projector_spark.functions.sketches import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 3]], "k long"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 4]], "k long"
    )
    # exact: 3*1 (k=1) + 1*2 (k=2) = 5
    wide = cms_join_size_estimate(a, "k", b, "k", d=4, w=512).first()
    assert wide["exact_size"] == 5 and wide["overestimates"]

    tiny = cms_join_size_estimate(a, "k", b, "k", d=2, w=2).first()
    assert tiny["exact_size"] == 5
    assert tiny["cms_est"] >= 5 and tiny["overestimates"]

    c = spark.createDataFrame([(99,), (100,)], "k long")
    disj = cms_join_size_estimate(a, "k", c, "k", d=4, w=512).first()
    assert disj["exact_size"] == 0 and disj["overestimates"]


def test_kcenter_select_farthest_point(spark):
    """On a line of 1-D points the greedy traversal picks the known
    sequence: start = lowest id, then the far end, then the midpoint gap;
    the coverage-radius sequence is non-increasing."""
    from open_ftth_relational_projector_spark.functions.clustering import (
        kcenter_select,
    )

    pts = [(0, [0.0]), (1, [1.0]), (2, [2.0]), (3, [10.0]), (4, [5.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    out = [
        (r["sel_order"], r["vec_id"], r["dist"])
        for r in kcenter_select(df, k=4).orderBy("sel_order").collect()
    ]
    # start 0 @0; farthest is 3 (d=100); then 4 (min(25, 25)=25);
    # then 2 (min(4, 9, 64)=4) beats 1 (min(1,16,81)=1)
    assert out == [(1, 0, 0.0), (2, 3, 100.0), (3, 4, 25.0), (4, 2, 4.0)]
    dists = [d for _, _, d in out[1:]]
    assert dists == sorted(dists, reverse=True)


def test_kmv_segment_overlap_identities(spark):
    """With cardinalities under k everything is exact: union/intersection
    estimates equal truth and jaccard is the true Jaccard; estimates stay
    plausible when cardinalities exceed k."""
    from open_ftth_relational_projector_spark.functions.sketches import (
        kmv_segment_overlap,
    )

    rows = [("A", v) for v in range(20)] + [("B", v) for v in range(10, 25)]
    df = spark.createDataFrame(rows, "seg string, uid int")
    r = kmv_segment_overlap(df, "seg", "A", "B", "uid", k=64).first()
    assert r["exact_union"] == 25 and r["est_union"] == 25.0
    assert r["exact_inter"] == 10 and r["est_inter"] == 10.0
    assert r["jaccard_est"] == round(10 / 25, 4)

    big = [("A", v) for v in range(300)] + [("B", v) for v in range(150, 450)]
    df2 = spark.createDataFrame(big, "seg string, uid int")
    r2 = kmv_segment_overlap(df2, "seg", "A", "B", "uid", k=32).first()
    assert r2["exact_union"] == 450 and r2["exact_inter"] == 150
    assert 0 < r2["est_inter"] and abs(r2["est_union"] - 450) / 450 < 0.8


def test_weighted_shortest_paths_bellman_ford(spark):
    """Cheap long path beats expensive short path; hop bound cuts off the
    tail; directed mode respects orientation; unreachable absent."""
    from open_ftth_relational_projector_spark.functions.graph import (
        weighted_shortest_paths,
    )

    edges = spark.createDataFrame(
        # 1→2 (10), 1→3 (1), 3→2 (1): cheapest 1→2 is 2 via 3
        # 2→4 (1); island 9→10
        [(1, 2, 10.0), (1, 3, 1.0), (3, 2, 1.0), (2, 4, 1.0), (9, 10, 1.0)],
        "src long, dst long, w double",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["cost"]
        for r in weighted_shortest_paths(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0.0, 2: 2.0, 3: 1.0, 4: 3.0}

    one_hop = {
        r["node"]: r["cost"]
        for r in weighted_shortest_paths(edges, seeds, max_hops=1).collect()
    }
    assert one_hop == {1: 0.0, 2: 10.0, 3: 1.0}


def test_kcore_peel_cascading(spark):
    """A triangle with a pendant chain: 2-core drops the chain (including
    the cascade where removing a leaf exposes its parent), keeps the
    triangle with degree 2 each; k=3 on a triangle empties it."""
    from open_ftth_relational_projector_spark.functions.graph import kcore_peel

    edges = spark.createDataFrame(
        # triangle 1-2-3, chain 3-4-5
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "src long, dst long",
    )
    core2 = {
        (r["node"], r["degree"]) for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert core2 == {(1, 2), (2, 2), (3, 2)}
    assert kcore_peel(edges, k=3, rounds=3).count() == 0


def test_containment_pairs_asymmetric(spark):
    """A short doc fully quoted inside a long doc: containment of the
    short side is 1.0 while Jaccard stays low; the reverse direction is
    below threshold; unrelated docs are absent."""
    from open_ftth_relational_projector_spark.functions.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote), (3, "completely different text here")],
        "doc_id long, text string",
    )
    got = {
        (r["contained"], r["container"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.5).collect()
    }
    assert got == {(1, 2): 1.0}
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert jac[(1, 2)] < 0.2  # Jaccard misses what containment catches


def test_ewma_matches_pandas_adjust_true(spark):
    """The catalog EWMA (α=0.3, trailing-20 window) equals pandas
    ewm(alpha=0.3, adjust=True) exactly while the series is shorter than
    the window — pinning the docstring's semantics claim against the
    reference implementation."""
    import pandas as pd

    from datetime import datetime, timedelta

    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES
    import tempfile, shutil, os

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    base = datetime(2024, 1, 1)
    tmp = tempfile.mkdtemp(prefix="ofrp_ewma_")
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(f"{tmp}/d", exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(vals)), "int64"),
                    "ts": pa.array(
                        [base + timedelta(minutes=i) for i in range(len(vals))],
                        pa.timestamp("ns"),
                    ),
                    "user_id": pa.array([1] * len(vals), "int64"),
                    "event_type": pa.array(["e"] * len(vals)),
                    "value": pa.array(vals, "float64"),
                    "props": pa.array(["{}"] * len(vals)),
                }
            ),
            f"{tmp}/d/events.parquet",
        )
        got = {
            r["event_id"]: r["ewma"]
            for r in SPARK_QUERIES["ewma_user_values"](spark, f"{tmp}/d").collect()
        }
        exp = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean()
        for i in range(len(vals)):
            assert abs(got[i] - round(float(exp[i]), 4)) < 1e-9, i
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_linear_interpolation_matches_pandas_index_method(spark):
    """The catalog interpolation (event-time linear, LOCF/NOCB edges)
    equals pandas interpolate(method='index', limit_direction='both') on
    an UNEQUALLY-spaced series — proportional-in-time interior fill and
    constant edge fill, pinned against the reference implementation."""
    import os
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES

    base = datetime(2024, 1, 1)
    # event_ids chosen so ids 0,7,14 are the nulled gaps (id % 7 == 0);
    # unequal spacing makes position-linear != time-linear
    minutes = [0, 1, 5, 6, 7, 20, 21, 22, 60, 61, 62, 90, 91, 92, 300]
    vals = [float(v) for v in [10, 20, 14, 8, 6, 40, 42, 44, 8, 6, 4, 70, 72, 74, 99]]
    tmp = tempfile.mkdtemp(prefix="ofrp_li_")
    try:
        os.makedirs(f"{tmp}/d", exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(vals)), "int64"),
                    "ts": pa.array(
                        [base + timedelta(minutes=m) for m in minutes],
                        pa.timestamp("ns"),
                    ),
                    "user_id": pa.array([1] * len(vals), "int64"),
                    "event_type": pa.array(["e"] * len(vals)),
                    "value": pa.array(vals, "float64"),
                    "props": pa.array(["{}"] * len(vals)),
                }
            ),
            f"{tmp}/d/events.parquet",
        )
        got = {
            r["event_id"]: (r["filled_value"], r["fill_kind"])
            for r in SPARK_QUERIES["linear_interpolated_values"](
                spark, f"{tmp}/d"
            ).collect()
        }
        s = pd.Series(
            [round(v, 4) if i % 7 != 0 else None for i, v in enumerate(vals)],
            index=pd.to_datetime([base + timedelta(minutes=m) for m in minutes]),
        )
        exp = s.interpolate(method="index", limit_direction="both")
        for i in range(len(vals)):
            assert abs(got[i][0] - round(float(exp.iloc[i]), 4)) < 1e-9, (i, got[i])
        # id 0 leads (NOCB), id 7 is interior (linear), id 14 trails (LOCF)
        assert got[0][1] == "nocb" and got[7][1] == "interp" and got[14][1] == "locf"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_kcore_decremental_equals_recount(spark):
    """The r4 decremental peel must match a naive recount-per-round
    reimplementation edge-for-edge on random graphs (including a graph
    where peeling cascades for several rounds and one where a node's
    degree hits 0 without being peeled)."""
    import random

    from pyspark.sql import functions as F

    from open_ftth_relational_projector_spark.functions.graph import kcore_peel

    def recount(edges, k, rounds):
        e = (
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        for _ in range(rounds):
            deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
            dead = deg.filter(F.col("n") < k).select("u")
            e = e.join(dead, "u", "left_anti").join(
                dead.withColumnRenamed("u", "v"), "v", "left_anti"
            )
        return {
            (r["u"], r["n"])
            for r in e.groupBy("u").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    rng = random.Random(11)
    for trial, (n_nodes, n_edges, k) in enumerate(
        [(30, 60, 2), (40, 70, 3), (25, 30, 2)]
    ):
        pairs = {
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        }
        edges = spark.createDataFrame(
            [(a, b) for a, b in pairs if a != b], "src long, dst long"
        )
        got = {
            (r["node"], r["degree"])
            for r in kcore_peel(edges, k=k, rounds=4).collect()
        }
        want = recount(edges, k, 4)
        assert got == want, f"trial {trial}: {got ^ want}"


def test_minhash_xxhash_and_md5_twin_same_guarantees(docs):
    """Round-4 verdict #5: pin the production minhash_near_dups (xxhash64)
    against its md5-portable driver twin. Full pair-set equality is NOT a
    theorem (a J=0.5 pair misses 8-band/4-row banding with p≈0.6, hash-
    family-dependently), so the pinned contract is what minhash-LSH
    actually guarantees, for BOTH variants identically:
    - precision 1.0: every emitted pair carries the exact n-gram Jaccard
      and truly meets the threshold;
    - deterministic recall at J=1.0: identical docs collide on EVERY band
      under any hash family, so both variants must emit exactly the same
      exact-duplicate pairs."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, n=3).collect()
    }
    dup_pairs = {p for p, j in exact.items() if j == 1.0}
    for kwargs in (
        {},
        {"hash_fn": D.portable_hash64, "portable_bands": True},
    ):
        out = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.minhash_near_dups(docs, threshold=0.2, **kwargs).collect()
        }
        for pair, j in out.items():
            assert abs(exact[pair] - j) < 1e-9, (kwargs, pair)
        assert dup_pairs <= set(out), (kwargs, dup_pairs - set(out))


def test_minhash_catalog_production_twin_guarantees_sf0001(spark):
    """Same pin at the catalog level on driver data: the rows-only
    `minhash_near_dups` entry and its driver-green `minhash_near_dups_md5`
    twin must both emit only exactly-scored true pairs (precision 1.0
    against ngram_jaccard_pairs at threshold 0) and agree on every
    exact-duplicate (J=1.0) pair at sf0.001."""
    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES
    from open_ftth_relational_projector_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    # raw (unrounded) exact scores: the catalog outputs apply Spark's
    # HALF_UP F.round(·, 4) while Python round() is HALF_EVEN, so exact
    # equality on pre-rounded values would flake on any 4th-decimal tie
    # (e.g. J = 1/32 = 0.03125) — compare raw vs rounded at half-ulp
    # tolerance instead
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            load_table(spark, sf, "documents"), threshold=0.0, n=3
        ).collect()
    }
    dup_pairs = {p for p, j in exact.items() if j == 1.0}
    outs = {}
    for name in ("minhash_near_dups", "minhash_near_dups_md5"):
        out = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in SPARK_QUERIES[name](spark, sf).collect()
        }
        for pair, j in out.items():
            assert abs(exact[pair] - j) <= 5.0001e-5, (name, pair)
        assert dup_pairs <= set(out), (name, dup_pairs - set(out))
        outs[name] = out
    common = set(outs["minhash_near_dups"]) & set(outs["minhash_near_dups_md5"])
    for pair in common:
        assert (
            outs["minhash_near_dups"][pair]
            == outs["minhash_near_dups_md5"][pair]
        )


def test_png_adam7_interlaced_decode_matches_plain():
    """Adam7-interlaced PNGs (independent test-side interlacer: split
    pixels into the 7 passes, filter each pass's rows in its own context
    — pass 1 with filter 0, later passes with filter 2/Up to pin the
    per-pass context reset — deflate, interlace=1 header) must decode to
    the same pixels as the plain encoding."""
    import zlib as _zlib

    from open_ftth_relational_projector_spark.functions.multimodal import (
        _ADAM7,
        decode_png_pixels,
        encode_png,
    )

    for w, h in ((7, 5), (8, 8), (3, 2), (1, 1), (16, 9)):
        ch = 3
        pixels = bytes(
            (x * 31 + y * 57 + c * 11) % 256
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        )
        raw = bytearray()
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            prev = bytearray(pw * ch)
            for r in range(ph):
                y = y0 + r * dy
                row = bytearray()
                for i in range(pw):
                    x = x0 + i * dx
                    row += pixels[(y * w + x) * ch : (y * w + x) * ch + ch]
                if pi == 0:
                    raw += b"\x00" + row  # None
                else:
                    # Up on EVERY row of later passes — the first row
                    # deltas against the ZEROED context, so a decoder
                    # carrying prev across passes decodes garbage here
                    raw += b"\x02" + bytes(
                        (row[j] - prev[j]) & 0xFF for j in range(len(row))
                    )
                prev = row

        def chunk(typ, data):
            crc = _zlib.crc32(typ + data) & 0xFFFFFFFF
            return (
                len(data).to_bytes(4, "big") + typ + data
                + crc.to_bytes(4, "big")
            )

        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 1])  # 8-bit RGB, Adam7
        )
        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        got = decode_png_pixels(blob)
        plain = decode_png_pixels(encode_png(pixels, w, h, 2))
        assert got == plain == (w, h, 2, pixels), (w, h)


def test_gif_interlaced_decode_matches_plain():
    """Interlaced GIFs (rows stored in the 4-pass order) must decode to
    the same pixels as the plain row-major frame."""
    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_gif_pixels,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    for w, h in ((4, 11), (5, 8), (3, 1), (6, 2)):
        indices = [(x * 3 + y * 7) % 4 for y in range(h) for x in range(w)]
        plain = decode_gif_pixels(_gif_bytes(w, h, palette, indices))
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        stored = []
        for y in order:
            stored += indices[y * w : (y + 1) * w]
        blob = bytearray(_gif_bytes(w, h, palette, stored))
        # set the interlace flag in the image descriptor (offset: after
        # 6-byte header + 7-byte LSD + 12-byte GCT, descriptor flags at +9)
        di = blob.find(b"\x2c")
        blob[di + 9] |= 0x40
        assert decode_gif_pixels(bytes(blob)) == plain, (w, h)


def test_png_palette_decode_normalizes_to_rgb():
    """Color-type-3 (8-bit palette) PNGs decode to RGB (reported ct=2,
    the GIF-style normalization), plain and Adam7-interlaced alike;
    an index beyond the PLTE raises."""
    import zlib as _zlib

    from open_ftth_relational_projector_spark.functions.multimodal import (
        decode_png_pixels,
    )

    def chunk(typ, data):
        crc = _zlib.crc32(typ + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + typ + data + crc.to_bytes(4, "big")

    palette = [(250, 1, 2), (3, 200, 5), (6, 7, 150), (20, 30, 40)]
    plte = b"".join(bytes(c) for c in palette)
    w, h = 5, 4
    idx = [(x + 2 * y) % 4 for y in range(h) for x in range(w)]

    def build(interlace, indices):
        if not interlace:
            raw = b"".join(
                b"\x00" + bytes(indices[y * w : (y + 1) * w]) for y in range(h)
            )
        else:
            from open_ftth_relational_projector_spark.functions.multimodal import (
                _ADAM7,
            )

            raw = bytearray()
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx if w > x0 else 0
                ph = (h - y0 + dy - 1) // dy if h > y0 else 0
                if pw == 0 or ph == 0:
                    continue
                for r in range(ph):
                    y = y0 + r * dy
                    raw += b"\x00" + bytes(
                        indices[y * w + x0 + i * dx] for i in range(pw)
                    )
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 3, 0, 0, 1 if interlace else 0])
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", plte)
            + chunk(b"IDAT", _zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    want = b"".join(bytes(palette[i]) for i in idx)
    for interlace in (0, 1):
        gw, gh, ct, px = decode_png_pixels(build(interlace, idx))
        assert (gw, gh, ct) == (w, h, 2), interlace
        assert px == want, interlace

    bad = idx[:]
    bad[0] = 7  # beyond the 4-entry PLTE
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="palette index"):
        decode_png_pixels(build(0, bad))


def test_bpe_learn_textbook_merges(spark):
    """The Sennrich et al. toy corpus learns the classic merge sequence:
    es(9) -> est(9) -> lo(7) -> low(7)."""
    from open_ftth_relational_projector_spark.functions.text import bpe_learn

    corpus = [
        ("low low low low low lower lower",),
        ("newest newest newest newest newest newest widest widest widest",),
    ]
    df = spark.createDataFrame(corpus, "text string")
    got = [
        (r.it, r.lhs, r.rhs, r.pair_count)
        for r in bpe_learn(df, n_merges=4).orderBy("it").collect()
    ]
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "l", "o", 7),
        (4, "lo", "w", 7),
    ]


def test_bpe_merge_greedy_left_to_right(spark):
    """Greedy application inside a run of identical symbols: 'aaaa'
    merges to [aa, aa], 'aaaaa' to [aa, aa, a] — the pair count of the
    SECOND iteration reveals which fold semantics was applied."""
    from open_ftth_relational_projector_spark.functions.text import bpe_learn

    df = spark.createDataFrame([("aaaa aaaa aaaaa",)], "text string")
    got = [
        (r.it, r.lhs, r.rhs, r.pair_count)
        for r in bpe_learn(df, n_merges=2).orderBy("it").collect()
    ]
    # it=1: 'a a' pairs: aaaa has 3 adjacent, aaaaa has 4 -> 2*3 + 4 = 10
    assert got[0] == (1, "a", "a", 10)
    # after greedy merge: aaaa -> [aa, aa]; aaaaa -> [aa, aa, a]
    # it=2 pairs: ('aa','aa') count 2 (one per 'aaaa') + 1 ('aaaaa') = 3;
    # ('aa','a') count 1 -> top is ('aa','aa')
    assert got[1] == (2, "aa", "aa", 3)


def test_bpe_learn_early_exhaustion(spark):
    """Single-character vocabulary runs out of pairs: fewer rows than
    n_merges, no error."""
    from open_ftth_relational_projector_spark.functions.text import bpe_learn

    df = spark.createDataFrame([("ab ab a b",)], "text string")
    rows = bpe_learn(df, n_merges=5).collect()
    # merge 1 fuses 'a b' inside 'ab'; after that every word is a single
    # symbol -> no pairs left
    assert [(r.it, r.lhs, r.rhs) for r in rows] == [(1, "a", "b")]


def test_bpe_oracle_survives_merge_exhaustion(spark):
    """Round-5 review repro: on a corpus whose pair supply exhausts before
    3 iterations ('ab ab a b' has one merge), the tokenize oracle's
    recursive chain previously cross-joined an EMPTY argmax CTE and
    dropped the whole vocabulary (zero rows vs Spark's real counts). The
    sentinel no-op pass must keep both sides identical."""
    import duckdb

    from open_ftth_relational_projector_spark.catalog.llm import (
        _BPE_SQL,
        _BPE_TOKENIZE_SQL,
    )
    from open_ftth_relational_projector_spark.functions.text import (
        bpe_learn,
        bpe_tokenize_counts,
    )

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT 1 AS doc_id, 'ab ab a b' AS text"
    )
    docs = spark.createDataFrame([(1, "ab ab a b")], "doc_id long, text string")

    merges_df, vocab = bpe_learn(docs, n_merges=3, return_vocab=True)
    got_merges = [(r.it, r.lhs, r.rhs, r.pair_count) for r in merges_df.collect()]
    want_merges = [tuple(r) for r in con.sql(_BPE_SQL).fetchall()]
    assert got_merges == want_merges == [(1, "a", "b", 2)]

    got_counts = [
        (r.doc_id, r.n_words, r.n_bpe_tokens)
        for r in bpe_tokenize_counts(docs, merged_vocab=vocab).collect()
    ]
    want_counts = [tuple(r) for r in con.sql(_BPE_TOKENIZE_SQL).fetchall()]
    assert got_counts == want_counts == [(1, 4, 4)]


def test_hll_distinct_rollup_properties(spark):
    """Small-cardinality group estimates via the linear-counting branch
    within a tight envelope; larger group within HLL's 3σ error for m=256
    (σ ≈ 1.04/√256 = 6.5%); the cell→group max-merge is lossless; the
    sketch is insensitive to how rows are distributed across sub cells."""
    from open_ftth_relational_projector_spark.functions.sketches import (
        hll_distinct_rollup,
    )

    rows = [("A", d % 3, d % 10) for d in range(60)]    # 10 distinct
    rows += [("B", v % 5, v) for v in range(2000)]      # 2000 distinct
    df = spark.createDataFrame(rows, "g string, sub int, val int")
    out = {
        r["g"]: r for r in hll_distinct_rollup(df, "g", "sub", "val").collect()
    }
    assert out["A"]["exact_distinct"] == 10
    assert abs(out["A"]["hll_est"] - 10) < 2  # linear counting, near-exact
    assert out["A"]["merge_lossless"]
    assert out["B"]["exact_distinct"] == 2000
    assert out["B"]["merge_lossless"]
    assert abs(out["B"]["hll_est"] - 2000) / 2000 < 0.20  # 3σ for m=256

    # register state must not depend on the sub partitioning (mergeability):
    # reshuffling every row to a different sub cell leaves the estimate fixed
    df2 = df.withColumn("sub", (F.col("val") * 7) % 13)
    out2 = {
        r["g"]: r
        for r in hll_distinct_rollup(df2, "g", "sub", "val").collect()
    }
    assert {g: r["hll_est"] for g, r in out.items()} == {
        g: r["hll_est"] for g, r in out2.items()
    }


def test_cluster_safe_split_no_leaked_pairs(spark):
    """Every near-dup pair lands entirely inside one split; cluster_id is
    the component min; singleton docs are their own cluster; fractions are
    respected in expectation (only sanity-checked: all three labels occur
    on a spread of clusters)."""
    from open_ftth_relational_projector_spark.functions.sampling import (
        cluster_safe_split,
    )

    docs = spark.createDataFrame(
        [(d,) for d in range(200)], "doc_id long"
    )
    # chain components {0..3}, {10,11}, everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = cluster_safe_split(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 200
    assert {by_id[d]["cluster_id"] for d in (0, 1, 2, 3)} == {0}
    assert {by_id[d]["cluster_id"] for d in (10, 11)} == {10}
    assert by_id[42]["cluster_id"] == 42
    # no pair straddles a split
    for a, b in [(0, 1), (1, 2), (2, 3), (10, 11)]:
        assert by_id[a]["split"] == by_id[b]["split"]
    # all members of a cluster share the representative's assignment
    assert len({by_id[d]["split"] for d in (0, 1, 2, 3)}) == 1
    labels = {r["split"] for r in out}
    assert labels == {"train", "val", "test"}


def test_hdr_quantile_rollup_properties(spark):
    """Every reported quantile honors the 1/(2k) relative-error bound on a
    heavy-tailed multi-octave distribution (the regime where a plain
    fixed-width histogram fails); the sub->group count-merge is lossless;
    the sketch is insensitive to how rows are split across sub cells; and
    values < 1 are excluded from n."""
    from open_ftth_relational_projector_spark.functions.sketches import (
        hdr_quantile_rollup,
    )

    # 1..10^6-ish lognormal-ish spread, deterministic: v = (i*i*7919) % M + 1
    rows = [("A", i % 4, (i * i * 7919) % 1_000_000 + 1) for i in range(3000)]
    rows += [("B", 0, 5), ("B", 1, 5), ("B", 2, 0)]  # ties + sub-1 value
    df = spark.createDataFrame(rows, "g string, sub int, v long")
    k = 64
    out = {
        r["g"]: r
        for r in hdr_quantile_rollup(
            df, "g", "sub", "v", k=k, quantiles=(0.5, 0.9, 0.99)
        ).collect()
    }
    assert out["A"]["n"] == 3000
    vals = sorted((i * i * 7919) % 1_000_000 + 1 for i in range(3000))
    import math

    for q, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        exact = vals[math.ceil(q * 3000) - 1]
        assert out["A"][f"exact_{tag}"] == exact
        assert out["A"][f"ok_{tag}"], (tag, out["A"])
        assert abs(out["A"][f"est_{tag}"] - exact) / exact <= 1.0 / (2 * k) + 1e-9
    assert out["A"]["merge_lossless"]
    # B: the v=0 row is dropped, both remaining rows are 5 -> every
    # quantile estimates the single bucket holding 5
    assert out["B"]["n"] == 2
    assert out["B"]["exact_p99"] == 5 and out["B"]["ok_p99"]

    # sub-split invariance: rehashing rows across sub cells must leave the
    # merged histogram (and thus every output) identical
    df2 = df.withColumn("sub", (F.col("v") * 13) % 7)
    out2 = {
        r["g"]: r
        for r in hdr_quantile_rollup(
            df2, "g", "sub", "v", k=k, quantiles=(0.5, 0.9, 0.99)
        ).collect()
    }
    for g in ("A", "B"):
        assert out[g].asDict() == out2[g].asDict()


def test_hdr_bucket_expr_no_overflow_large_octaves(spark):
    """Regression (r5 review): the naive ((v - 2^e)*k) DIV 2^e sub-bucket
    multiply overflows int64 at e >= 57 (k=64) — nanosecond-scale counters
    live there. The shift form must equal exact Python bigint arithmetic
    across every octave including the top ones, and the full sketch must
    keep its error bound on such values."""
    from open_ftth_relational_projector_spark.functions.sketches import (
        hdr_bucket_expr,
        hdr_quantile_rollup,
    )

    k = 64
    vals = [1, 2, 3, 63, 64, 65, 127, 308, 10**6 + 7]
    vals += [2**57 - 1, 2**57, 17 * 10**17, 2**62 + 987654321, 2**63 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["b"]
        for r in df.selectExpr("v", f"{hdr_bucket_expr('v', k)} AS b").collect()
    }
    for v in vals:
        e = v.bit_length() - 1
        want = e * k + (v - 2**e) * k // 2**e  # exact bigint arithmetic
        assert got[v] == want, (v, got[v], want)

    # end-to-end: sketch over huge values stays within the bound
    big = spark.createDataFrame(
        [("A", i % 2, 17 * 10**17 + i * 10**13) for i in range(200)],
        "g string, sub int, v long",
    )
    row = hdr_quantile_rollup(big, "g", "sub", "v", k=k).collect()[0]
    assert row["ok_p50"] and row["ok_p99"] and row["merge_lossless"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="power of two"):
        hdr_bucket_expr("v", 48)
    with _pytest.raises(ValueError, match="collide"):
        hdr_quantile_rollup(big, "g", "sub", "v", quantiles=(0.995, 0.999))


def test_duplicated_spans_semantics(spark):
    """Hand-built corpus pins the Lee-et-al span semantics: corpus-repeated
    L-grams mark [pos, pos+L) windows; overlapping-or-touching windows
    merge into maximal spans; within-doc repeats count; docs shorter than
    L or with no repeated gram report zeros."""
    L = 8
    # doc 1/2 share "ABCDEFGHIJ" (10 chars -> grams at pos 0,1,2 in doc 1)
    # doc 3 repeats "QRSTUVWX" twice WITHIN itself at pos 0 and 10
    # doc 4 is unique; doc 5 is shorter than L
    rows = [
        (1, "ABCDEFGHIJ" + "0123456789zz"),
        (2, "yy" + "ABCDEFGHIJ" + "kkkkkkkk"),
        (3, "QRSTUVWX" + "--" + "QRSTUVWX"),
        (4, "no repeats here at all!!"),
        (5, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from open_ftth_relational_projector_spark.functions.dedup import (
        duplicated_spans,
    )

    out = {r["doc_id"]: r for r in duplicated_spans(df, min_len=L).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1: shared grams at pos 0,1,2 -> one merged span [0, 2+8) = 10 chars
    assert (out[1]["n_dup_spans"], out[1]["dup_chars"]) == (1, 10)
    # doc 2: same 10-char block, offset by 2
    assert (out[2]["n_dup_spans"], out[2]["dup_chars"]) == (1, 10)
    # doc 3: within-doc repeat, two windows at pos 0 and 10; gap of 2 chars
    # > 0 so they do NOT merge (10 > 0 + 8): two 8-char spans
    assert (out[3]["n_dup_spans"], out[3]["dup_chars"]) == (2, 16)
    assert out[3]["dup_frac"] == round(16 / 18, 4)
    for d in (4, 5):
        assert (out[d]["n_dup_spans"], out[d]["dup_chars"]) == (0, 0)
        assert out[d]["dup_frac"] == 0.0

    # the production xxhash64-fingerprint shuffle shape must reproduce the
    # exact-gram output (collisions are ~n^2/2^64 — none on any fixture)
    fp = {
        r["doc_id"]: r
        for r in duplicated_spans(df, min_len=L, fingerprint=True).collect()
    }
    assert {d: r.asDict() for d, r in out.items()} == {
        d: r.asDict() for d, r in fp.items()
    }


# --- r5 continuation: JL projection + rank-1 power iteration ----------------


def test_jl_sign_matrix_matches_duckdb_md5_derivation():
    """The Python (hashlib) sign derivation and the DuckDB oracle's md5
    expression must produce the identical ±1 matrix — the cross-engine
    contract jl_projection_audit stands on."""
    import duckdb

    from open_ftth_relational_projector_spark.functions.similarity import (
        jl_sign_matrix,
    )

    signs = jl_sign_matrix(4, 8)
    got = duckdb.sql(
        """
        SELECT j.j, i.i,
               CASE WHEN ('0x' || substr(md5('jl#' || CAST(j.j AS VARCHAR)
                          || '#' || CAST(i.i AS VARCHAR)), 1, 1))::BIGINT
                    % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
        FROM (SELECT UNNEST(range(4)) AS j) j,
             (SELECT UNNEST(range(8)) AS i) i
        """
    ).fetchall()
    for j, i, s in got:
        assert signs[j][i] == s, (j, i, signs[j][i], s)


def test_jl_project_matches_numpy_and_preserves_cosine(spark):
    import numpy as np

    from open_ftth_relational_projector_spark.functions.similarity import (
        jl_project,
        jl_sign_matrix,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: np.array(r.proj)
        for r in jl_project(df, k=16, dim=64).collect()
    }
    S = np.array(jl_sign_matrix(16, 64))
    errs = []
    for i in range(40):
        want = (S @ vecs[i]) / 4.0
        assert np.allclose(out[i], want, atol=1e-9)
    # JL distance preservation: mean cosine error over pairs stays small
    for i in range(0, 40, 5):
        for j in range(i + 1, 40, 5):
            co = vecs[i] @ vecs[j] / (
                np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j])
            )
            cp = out[i] @ out[j] / (
                np.linalg.norm(out[i]) * np.linalg.norm(out[j])
            )
            errs.append(abs(co - cp))
    assert sum(errs) / len(errs) < 0.2, sum(errs) / len(errs)


def test_power_iteration_factors_match_numpy_replay_and_svd(spark):
    """Exact match (1e-9) against a numpy replay using the identical
    per-half-iteration rounding, and directional convergence toward the
    dominant singular pair (all values non-negative, so no sign fixups)."""
    import numpy as np

    from open_ftth_relational_projector_spark.functions.factorization import (
        power_iteration_factors,
    )

    rng = np.random.RandomState(3)
    rows = [
        (int(c), int(p), float(w))
        for c in range(12)
        for p in range(9)
        if (w := round(float(rng.randint(0, 6)), 1)) > 0
    ]
    df = spark.createDataFrame(rows, "row_id long, col_id long, rating double")
    u_df, v_df = power_iteration_factors(df, iters=3)
    u_got = {r.row_id: r.factor for r in u_df.collect()}
    v_got = {r.col_id: r.factor for r in v_df.collect()}

    row_ids = sorted({r for r, _, _ in rows})
    col_ids = sorted({c for _, c, _ in rows})
    A = np.zeros((len(row_ids), len(col_ids)))
    for r, c, w in rows:
        A[row_ids.index(r), col_ids.index(c)] = w
    u = np.ones(len(row_ids))
    for _ in range(3):
        v = A.T @ u
        v = np.round(v / np.linalg.norm(v), 10)
        u = A @ v
        u = np.round(u / np.linalg.norm(u), 10)
    for i, rid in enumerate(row_ids):
        assert abs(u_got[rid] - u[i]) < 1e-9, (rid, u_got[rid], u[i])
    for i, cid in enumerate(col_ids):
        assert abs(v_got[cid] - v[i]) < 1e-9, (cid, v_got[cid], v[i])

    # after 3 iterations the column factor points near the dominant right
    # singular vector (nonnegative matrix: Perron direction)
    _, _, vt = np.linalg.svd(A)
    v1 = np.abs(vt[0])
    cos = float(v @ v1 / (np.linalg.norm(v) * np.linalg.norm(v1)))
    assert cos > 0.99, cos
    assert min(v_got.values()) >= 0.0 and min(u_got.values()) >= 0.0


def test_power_iteration_rank2_deflation_matches_replay_and_svd(spark):
    """Component 2 must match an exact numpy replay of the implicit
    deflation (same per-half-step rounding), align with numpy SVD's second
    singular direction on a planted spectral-gap matrix, and be
    near-orthogonal to component 1."""
    import numpy as np

    from open_ftth_relational_projector_spark.functions.factorization import (
        power_iteration_rank2,
    )

    rng = np.random.RandomState(5)
    a, b = np.abs(rng.randn(12)), np.abs(rng.randn(9))
    c, d = rng.randn(12), rng.randn(9)
    A = 10 * np.outer(a / np.linalg.norm(a), b / np.linalg.norm(b)) + 3 * np.outer(
        c / np.linalg.norm(c), d / np.linalg.norm(d)
    )
    A = np.round(np.abs(A), 2)
    rows = [
        (i, j, float(A[i, j])) for i in range(12) for j in range(9) if A[i, j] > 0
    ]
    df = spark.createDataFrame(rows, "row_id long, col_id long, rating double")
    uf, vf = power_iteration_rank2(df, iters=3)
    u_got = {(r.component, r.row_id): r.factor for r in uf.collect()}
    v_got = {(r.component, r.col_id): r.factor for r in vf.collect()}

    u = np.ones(12)
    for _ in range(3):
        v = A.T @ u
        v = np.round(v / np.linalg.norm(v), 10)
        u = A @ v
        u = np.round(u / np.linalg.norm(u), 10)
    s1 = float(u @ A @ v)
    y = np.ones(12)
    for _ in range(3):
        x = A.T @ y - s1 * v * (u @ y)
        x = np.round(x / np.linalg.norm(x), 10)
        y = A @ x - s1 * u * (v @ x)
        y = np.round(y / np.linalg.norm(y), 10)
    for i in range(12):
        assert abs(u_got[(1, i)] - u[i]) < 1e-9
        assert abs(u_got[(2, i)] - y[i]) < 1e-9
    for j in range(9):
        assert abs(v_got[(1, j)] - v[j]) < 1e-9
        assert abs(v_got[(2, j)] - x[j]) < 1e-9

    _, _, vt = np.linalg.svd(A)
    assert abs(x @ vt[1]) / np.linalg.norm(x) > 0.99
    assert abs(float(x @ v)) < 1e-6  # deflation orthogonality


def test_ols2_fit_matches_numpy_lstsq(spark):
    """One-pass normal-equation fit must match numpy's lstsq solution and
    its R²/SSE on data with 2-dp values (the exact-decimal moment regime)."""
    import numpy as np

    from open_ftth_relational_projector_spark.functions.regression import (
        ols2_fit,
        ols2_residuals,
    )

    rng = np.random.RandomState(11)
    x1 = np.round(rng.uniform(1, 50, 300), 2)
    x2 = np.round(rng.uniform(900, 2000, 300), 2)
    y = np.round(3.5 * x1 + 0.25 * x2 - 40 + rng.randn(300) * 5, 2)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    fit = ols2_fit(df, "x1", "x2", "y").collect()[0]
    X = np.column_stack([np.ones(300), x1, x2])
    beta, _, _, _ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(fit.b0 - beta[0]) < 1e-6, (fit.b0, beta[0])
    assert abs(fit.b1 - beta[1]) < 1e-6
    assert abs(fit.b2 - beta[2]) < 1e-6
    sse = float(((X @ beta - y) ** 2).sum())
    sst = float(((y - y.mean()) ** 2).sum())
    assert abs(fit.sse - sse) < 1e-4 * max(sse, 1.0)
    assert abs(fit.sst - sst) < 1e-4 * max(sst, 1.0)
    assert fit.n == 300.0

    scored = ols2_residuals(
        df, "x1", "x2", "y", ols2_fit(df, "x1", "x2", "y")
    ).collect()
    for r in scored[:20]:
        want = beta[0] + beta[1] * r.x1 + beta[2] * r.x2
        assert abs(r._pred - want) < 1e-5
        assert abs(r._resid - (r.y - want)) < 1e-5


def test_naive_bayes_confusion_matches_pure_python_replay(spark):
    """Confusion matrix must equal a literal single-threaded replay of the
    md5 split, Laplace smoothing, 6-dp rounding, exact-decimal scoring,
    and max-label tie-break — and be diagonal-dominant on separable data."""
    import hashlib
    import math
    from collections import Counter
    from decimal import Decimal

    from open_ftth_relational_projector_spark.functions.text import (
        naive_bayes_confusion,
    )

    vocab = {"aa": ["red", "ruby", "rose"], "bb": ["blue", "cyan", "navy"]}
    rows = []
    for i in range(80):
        lbl = "aa" if i % 2 == 0 else "bb"
        words = [vocab[lbl][(i + k) % 3] for k in range(6)]
        if i % 10 == 0:
            words.append(vocab["bb" if lbl == "aa" else "aa"][0])
        rows.append((i, " ".join(words), lbl))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.true_label, r.pred_label): r.n_docs
        for r in naive_bayes_confusion(df).collect()
    }

    def is_train(doc_id):
        h = hashlib.md5(f"{doc_id}nb".encode()).hexdigest()[:8]
        return h < "b3333333"

    train = [(i, t.split(" "), l) for i, t, l in rows if is_train(i)]
    test = [(i, t.split(" "), l) for i, t, l in rows if not is_train(i)]
    labels = sorted({l for _, _, l in train})
    tok_c = Counter()
    cnt = Counter()
    for _, ws, l in train:
        for w in ws:
            if w:
                tok_c[l] += 1
                cnt[(l, w)] += 1
    v = len({w for _, ws, _ in train for w in ws if w})
    n_train = len(train)
    n_c = Counter(l for _, _, l in train)
    q = Decimal("0.000001")

    def r6(x):
        return Decimal(repr(round(x, 6))).quantize(q)

    want = Counter()
    for _, ws, true in test:
        best = None
        for l in labels:
            s = r6(math.log(n_c[l] / float(n_train)))
            for w in ws:
                if not w:
                    continue
                if (l, w) in cnt:
                    s += r6(math.log((cnt[(l, w)] + 1.0) / (tok_c[l] + v)))
                else:
                    s += r6(math.log(1.0 / (tok_c[l] + v)))
            if best is None or (s, l) > best:
                best = (s, l)
        want[(true, best[1])] += 1
    assert got == dict(want), (got, dict(want))
    correct = sum(n for (t, p), n in got.items() if t == p)
    assert correct / sum(got.values()) > 0.9


def test_poisson_bootstrap_ci_matches_pure_python_replay(spark):
    """CI values must equal a literal replay of the md5 uniforms, the
    Poisson(1) CDF thresholds, exact-fraction sums, and the order-statistic
    rule; the CDF literals themselves must match math.exp-derived Poisson(1)
    probabilities to 1e-9; and the CI must bracket the point estimate."""
    import hashlib
    import math
    from fractions import Fraction

    from open_ftth_relational_projector_spark.functions.sampling import (
        POISSON1_CDF,
        POISSON1_CUT4096,
        poisson_bootstrap_ci,
    )

    acc, fact = 0.0, 1.0
    for k, lit in enumerate(POISSON1_CDF):
        if k:
            fact *= k
        acc += math.exp(-1.0) / fact
        assert abs(float(lit) - acc) < 1e-9, (k, lit, acc)
    # the integer cutpoints are exactly floor(cdf*4096): [h >= C] ⟺
    # (h+1)/4096 > cdf — the branch-free weight is the CASE weight
    from fractions import Fraction as Fr

    for lit, c in zip(POISSON1_CDF, POISSON1_CUT4096):
        assert c == int(Fr(float(lit)) * 4096)

    rows = [(i, "g1" if i % 2 else "g2", round(10.0 + (i * 7 % 13) * 0.25, 2))
            for i in range(200)]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    got = {
        r.g: (r.n_rows, r.mean, r.ci_lo, r.ci_hi)
        for r in poisson_bootstrap_ci(
            df, "v", "CAST(k AS STRING)", group_cols=["g"], n_resamples=40
        ).collect()
    }

    def draw(key, j):
        m, t = divmod(j, 10)
        h = hashlib.md5(f"{key}#boot{m}".encode()).hexdigest()
        return int(h[3 * t : 3 * t + 3], 16)

    def weight(key, j):
        h = draw(key, j)
        return sum(1 for c in POISSON1_CUT4096 if h >= c)

    def r4hu(x):
        # Spark/DuckDB ROUND is half-up; Python's round is half-even — and
        # resample means CAN land exactly on a 4-dp half (they are small
        # rationals), so the replay must use the engines' mode
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                                rounding=ROUND_HALF_UP))

    def cents(v):
        # the operator's exact-integer scaling: round(v*100) in doubles
        return round(v * 100)

    for g in ("g1", "g2"):
        sub = [(k, v) for k, gg, v in rows if gg == g]
        means = []
        for j in range(40):
            sx = sum(cents(v) * weight(k, j) for k, v in sub)
            sw = sum(weight(k, j) for k, _ in sub)
            means.append(float(sx) / sw / 100.0)
        means.sort()
        n, mean, lo, hi = got[g]
        assert n == len(sub)
        assert mean == r4hu(
            float(sum(cents(v) for _, v in sub)) / len(sub) / 100.0
        )
        assert lo == r4hu(means[1]) and hi == r4hu(means[38]), g
        assert lo <= mean <= hi
        # the integer-cents sums are exactly 100x the rational-value sums
        for j in (0, 17):
            sx_frac = sum(Fraction(str(v)) * weight(k, j) for k, v in sub)
            sx_cents = sum(cents(v) * weight(k, j) for k, v in sub)
            assert Fraction(sx_cents, 100) == sx_frac


def test_two_sided_p_sql_matches_erf_and_bh_step_is_correct(spark):
    """The shared normal-CDF polynomial must track the erf-exact two-sided
    p within its documented 7.5e-8 bound (evaluated THROUGH Spark), and
    the catalog FDR query's significance flags must satisfy the
    Benjamini-Hochberg step-up definition recomputed from its own rows."""
    import math

    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES
    from open_ftth_relational_projector_spark.functions.sampling import (
        two_sided_p_sql,
    )

    zs = [0.05, 0.3, 0.7, 1.0, 1.645, 1.96, 2.33, 3.1]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {
        round(r.z, 3): r.p
        for r in df.selectExpr(
            "z", f"{two_sided_p_sql('abs(z)')} AS p"
        ).collect()
    }
    for z in zs:
        exact = 2.0 * (1.0 - 0.5 * (1 + math.erf(z / math.sqrt(2))))
        assert abs(got[round(z, 3)] - exact) < 2e-7 + 1e-6, (z, got, exact)

    rows = SPARK_QUERIES["ab_tests_fdr_nations"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    m = len(rows)
    ranked = sorted(rows, key=lambda r: (r.p, r.n_name))
    for i, r in enumerate(ranked, start=1):
        assert r.bh_rank == i, (r.n_name, r.bh_rank, i)
    k_star = max(
        (r.bh_rank for r in rows if r.p <= 0.1 * r.bh_rank / m), default=0
    )
    for r in rows:
        assert r.significant == (r.bh_rank <= k_star), r


# --- r6: mixture planning + snapshot diff -----------------------------------


def test_mixture_weights_normalize_and_upweight(spark):
    from open_ftth_relational_projector_spark.functions.sampling import (
        mixture_weights,
    )

    rows = [
        (1, "a " * 99 + "a", "big"),   # 100 tokens
        (2, "b " * 99 + "b", "big"),   # 100 tokens
        (3, "c " * 49 + "c", "small"),  # 50 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in mixture_weights(
            docs, token_budget=1000
        ).collect()
    }
    assert out["big"]["n_tokens"] == 200 and out["small"]["n_tokens"] == 50
    assert out["big"]["p_raw"] == 0.8 and out["small"]["p_raw"] == 0.2
    # temperature sampling upweights the small domain above its raw share
    assert out["small"]["q_temp"] > 0.2
    assert abs(out["big"]["q_temp"] + out["small"]["q_temp"] - 1.0) < 1e-6
    assert out["big"]["tokens_drawn"] + out["small"]["tokens_drawn"] == 1000
    # epochs = draw / own tokens; the upweighted small domain repeats more
    assert out["small"]["epochs"] > out["big"]["epochs"]


def test_snapshot_diff_statuses(spark):
    from open_ftth_relational_projector_spark.functions.dedup import (
        snapshot_diff,
    )

    v1 = spark.createDataFrame(
        [("a", "h1", "en"), ("b", "h2", "en"), ("c", "h3", "de")],
        "doc_id string, fingerprint string, lang string",
    )
    v2 = spark.createDataFrame(
        [("a", "h1", "en"), ("b", "h2x", "en"), ("d", "h4", "fr")],
        "doc_id string, fingerprint string, lang string",
    )
    got = {
        r["doc_id"]: (r["status"], r["lang"])
        for r in snapshot_diff(v1, v2, carry=("lang",)).collect()
    }
    assert got == {
        "a": ("unchanged", "en"),
        "b": ("changed", "en"),
        "c": ("removed", "de"),
        "d": ("added", "fr"),
    }


def test_ols2_kfold_recovers_exact_model(spark):
    """On exactly-linear data every fold's complement-trained betas are
    the true coefficients and the out-of-fold fit is perfect — and the
    fold partition covers the input exactly once."""
    from open_ftth_relational_projector_spark.functions.regression import (
        ols2_kfold,
    )

    n = 500
    df = spark.range(n).selectExpr(
        "CAST(id AS STRING) AS k",
        "CAST((id % 50) AS DOUBLE) AS x1",
        "CAST((id % 83) AS DOUBLE) AS x2",
        "CAST(2.0 + 3.0 * (id % 50) + 0.5 * (id % 83) AS DOUBLE) AS y",
    )
    rows = ols2_kfold(df, "x1", "x2", "y", key_expr="k", k=5).collect()
    assert len(rows) == 5
    assert sum(r["n_test"] for r in rows) == n
    for r in rows:
        assert r["n_train"] + r["n_test"] == n
        assert (r["b0"], r["b1"], r["b2"]) == (2.0, 3.0, 0.5), r
        assert r["r2_oof"] == 1.0 and r["rmse_oof"] == 0.0, r


def test_sliding_token_chunks_boundaries(spark):
    """Window/stride boundary cases: a short doc yields one clamped
    chunk; an exact-boundary doc yields fully-covered overlapping chunks;
    consecutive chunks overlap by window − stride tokens."""
    from open_ftth_relational_projector_spark.functions.text import (
        sliding_token_chunks,
    )

    rows = [
        ("a", "x y z"),                      # 3 tokens < stride → 1 chunk
        ("b", " ".join(f"t{i}" for i in range(100))),  # 100 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = sliding_token_chunks(docs, window=8, stride=4).collect()
    a = sorted(r for r in out if r["doc_id"] == "a")
    assert len(a) == 1 and a[0]["n_chunk_tokens"] == 3
    b = sorted((r["idx"], r["n_chunk_tokens"]) for r in out
               if r["doc_id"] == "b")
    # last idx = ceil((100-8)/4) = 23 → 24 chunks; chunk 23 starts at
    # token 93 and reaches the end (full window, tokens 93-100) — NO
    # zero-new-coverage tail chunk after the end is reached
    assert len(b) == 24
    assert b[0] == (0, 8) and b[-1] == (23, 8)
    # every token is covered: chunk starts advance by stride to the end
    starts = [idx * 4 + 1 for idx, _ in b]
    assert starts[-1] + 8 - 1 == 100
    # an exact-window doc yields exactly one chunk (no contained tail)
    docs2 = spark.createDataFrame(
        [("c", " ".join(f"u{i}" for i in range(8)))],
        "doc_id string, text string",
    )
    c = sliding_token_chunks(docs2, window=8, stride=4).collect()
    assert len(c) == 1 and c[0]["n_chunk_tokens"] == 8
    # chunk ids deterministic
    ids = {r["chunk_id"] for r in out}
    assert "b:23" in ids and "a:0" in ids


def test_posting_collect_state_bounded_by_prefilter(spark):
    """Round-7 scale fix: with max_postings the inverted index must DROP a
    hot shingle's rows BEFORE the collect_list aggregation (a bounded
    COUNT pass + semi-join), not buffer the whole posting list in one
    state and filter after — pinned on the optimized plan: the Aggregate
    carrying collect_list must sit above a LeftSemi join when capped, and
    the output must be unchanged."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"unique{i} text{i} body{i} filler{i} {boiler}") for i in range(30)]
    rows += [
        (100, f"alpha beta gamma delta epsilon {boiler}"),
        (101, f"alpha beta gamma delta zeta {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = D.ngram_jaccard_pairs(df, threshold=0.15, n=3, max_postings=10)
    plan = capped._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "LeftSemi" in plan, plan[:500]

    uncapped_plan = D.ngram_jaccard_pairs(
        df, threshold=0.15, n=3
    )._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "LeftSemi" not in uncapped_plan  # oracle path untouched


def test_containment_pairs_capped_matches_uncapped_scores(spark):
    """containment_pairs grows the same stop-shingle guard: without a hot
    shingle capped == uncapped exactly; with one, pairs whose only
    evidence is the boilerplate are dropped while surviving pairs carry
    the TRUE containment (recomputed per pair, stop-shingles included)."""
    calm = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(12)]
    calm += [(50, "one two three four five six"), (51, "one two three four seven")]
    cdf = spark.createDataFrame(calm, "doc_id long, text string")
    base = {
        (r["contained"], r["container"]): r["containment"]
        for r in D.containment_pairs(cdf, threshold=0.3, n=3).collect()
    }
    capped = {
        (r["contained"], r["container"]): r["containment"]
        for r in D.containment_pairs(
            cdf, threshold=0.3, n=3, max_postings=10
        ).collect()
    }
    assert capped == base and base  # no hot shingle -> identical

    boiler = "all rights reserved worldwide"
    hot = [(i, f"x{i}a x{i}b x{i}c x{i}d {boiler}") for i in range(30)]
    hot += [
        (100, f"alpha beta gamma delta epsilon {boiler}"),
        (101, f"alpha beta gamma delta {boiler}"),
    ]
    hdf = spark.createDataFrame(hot, "doc_id long, text string")
    hbase = {
        (r["contained"], r["container"]): r["containment"]
        for r in D.containment_pairs(hdf, threshold=0.3, n=3).collect()
    }
    hcapped = {
        (r["contained"], r["container"]): r["containment"]
        for r in D.containment_pairs(
            hdf, threshold=0.3, n=3, max_postings=10
        ).collect()
    }
    assert set(hcapped) <= set(hbase)
    assert (101, 100) in hcapped  # real containment found via rare shingles
    for pair, c in hcapped.items():
        assert c == hbase[pair], pair  # exact scores, stop-shingles included


def test_split_tokenization_engine_agreement(spark):
    """Pin the twin-agreement fingerprint premise (catalog/llm.py _SEP
    block): Spark F.split(text, ' ') and DuckDB string_split(text, ' ')
    tokenize IDENTICALLY — including leading / consecutive / trailing
    empty tokens and separator-adjacent control chars — so the canonical
    set fingerprints group the same documents on both engines. The
    length-prefix injectivity (a token containing chr(31) cannot alias a
    token boundary) is exercised by the chr(31) cases."""
    import duckdb

    cases = [
        "a  b", " a b", "a b ", "", " ", "  ",
        "a\x1fb c", "a \x1fb", "x  y", "a:1 b",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = {
        r["text"]: r["t"]
        for r in df.select("text", F.split("text", " ").alias("t")).collect()
    }
    con = duckdb.connect()
    for c in cases:
        duck = con.sql("SELECT string_split(?, ' ')", params=[c]).fetchone()[0]
        assert got[c] == duck, (repr(c), got[c], duck)

    # length-prefix canonical encoding is injective across these sets
    from open_ftth_relational_projector_spark.catalog.llm import (
        _canon_set_fp,
    )

    sets = [["a\x1fb"], ["a", "b"], ["a", ""], ["a"], ["", "a"], ["1:a"], ["a", "1"]]
    fdf = spark.createDataFrame([(s,) for s in sets], "s array<string>")
    fps = [r["f"] for r in fdf.select(_canon_set_fp(F.col("s")).alias("f")).collect()]
    # ["a",""] and ["","a"] are the same SET -> same fp; all others distinct
    assert fps[2] == fps[4]
    distinct = fps[:4] + fps[5:]
    assert len(set(distinct)) == len(distinct)


# --- logistic regression (IRLS) ---------------------------------------------


def _logreg_fixture_rows():
    """40 deterministic rows with overlapping classes (finite betas):
    y depends mostly on x1 with x2 as a weak confounder."""
    rows = []
    for i in range(40):
        x1 = i / 20.0
        x2 = ((i * 7) % 13) / 13.0
        y = 1 if (3.0 * x1 + 0.5 * x2 + ((i * 5) % 11) / 11.0) > 3.2 else 0
        rows.append((y, x1, x2))
    return rows


def test_logreg_matches_unpinned_irls_reference(spark):
    """The pinned integer-state IRLS agrees with a plain-float numpy IRLS
    (same 3 Newton steps from zero, same quantized features) to ~1e-5 —
    the pins (p at 1e-7, beta at 1e-8 real-basis) are resolution, not
    bias."""
    import numpy as np

    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
        logreg_summary,
    )

    rows = _logreg_fixture_rows()
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    pinned, beta = logreg_fit_irls(df, "x1", "x2", "y", iters=3)
    out = logreg_summary(pinned, beta).collect()[0]

    X = np.array(
        [
            [1.0, round(x1 * 1e4) / 1e4, round(x2 * 1e4) / 1e4]
            for _, x1, x2 in rows
        ]
    )
    yv = np.array([float(y) for y, _, _ in rows])
    b = np.zeros(3)
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(X @ b)))
        w = p * (1.0 - p)
        H = X.T @ (X * w[:, None])
        g = X.T @ (yv - p)
        b = b + np.linalg.solve(H, g)
    assert out["n_docs"] == 40
    assert out["n_pos"] == sum(y for y, _, _ in rows)
    for got, ref in zip((out["b0"], out["b1"], out["b2"]), b):
        assert abs(got - ref) < 1e-4, (got, ref)
    # accuracy replay: exact 0.5-threshold decision on the fitted model
    pred = (X @ b) > 0
    assert out["accuracy"] == pytest.approx(
        float(np.mean(pred == (yv == 1))), abs=1e-6
    )


def test_logreg_separable_data_perfect_accuracy(spark):
    """On linearly separable data the 3-step fit already classifies
    perfectly and the separating feature gets the positive weight."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
        logreg_summary,
    )

    # x2 varies (a constant column would make the Hessian singular) but
    # carries no signal; the classes are separable purely in x1
    rows = [
        (1 if i >= 20 else 0, i / 20.0, ((i * 3) % 7) / 7.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    pinned, beta = logreg_fit_irls(df, "x1", "x2", "y", iters=3)
    out = logreg_summary(pinned, beta).collect()[0]
    assert out["accuracy"] == 1.0
    assert out["b1"] > 0


def test_logreg_where_filter_and_first_step_exactness(spark):
    """From beta = 0 the probability pin is EXACT (p = 0.5 → pi = 5e6
    with no transcendental involved: EXP(0) = 1 exactly), so the first
    Newton step is fully integer-deterministic; the where clause drops
    rows before pinning."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
    )

    rows = [(1, 0.9, 0.1), (0, 0.1, 0.2), (0, 0.2, 0.3), (1, -5.0, 0.0)]
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    pinned, beta = logreg_fit_irls(
        df, "x1", "x2", "y", iters=1, where="x1 >= 0.0"
    )
    assert pinned.count() == 3
    b = beta.collect()[0]
    # state is BIGINT and nonzero after one step on signal-bearing data
    assert all(isinstance(b[c], int) for c in ("bi0", "bi1", "bi2"))
    assert any(b[c] != 0 for c in ("bi0", "bi1", "bi2"))


def test_logreg_kfold_matches_direct_complement_fit(spark):
    """Fold f's cross-validation beta is BIT-IDENTICAL to logreg_fit_irls
    run directly on fold f's complement — the k-expanded joint iteration
    is pure bookkeeping, not an approximation. Also: folds partition the
    rows and out-of-fold accuracy is a valid rate."""
    from open_ftth_relational_projector_spark.functions.regression import (
        fold_expr_spark,
        logreg_fit_irls,
        logreg_kfold,
        logreg_kfold_summary,
    )

    rows = _logreg_fixture_rows()
    df = spark.createDataFrame(
        [(i, y, x1, x2) for i, (y, x1, x2) in enumerate(rows)],
        "rid long, y int, x1 double, x2 double",
    )
    pinned, betas = logreg_kfold(
        df, "x1", "x2", "y", key_expr="CAST(rid AS STRING)", k=3, iters=2
    )
    out = logreg_kfold_summary(pinned, betas).collect()
    assert [r["fold"] for r in out] == [0, 1, 2]
    assert sum(r["n_test"] for r in out) == 40
    assert all(r["n_train"] + r["n_test"] == 40 for r in out)
    assert all(0.0 <= r["accuracy_oof"] <= 1.0 for r in out)

    bmap = {r["bfold"]: (r["bi0"], r["bi1"], r["bi2"]) for r in betas.collect()}
    fold0 = f"({fold_expr_spark('CAST(rid AS STRING)', 3)}) <> 0"
    _, beta_direct = logreg_fit_irls(
        df, "x1", "x2", "y", iters=2, where=fold0
    )
    bd = beta_direct.collect()[0]
    assert bmap[0] == (bd["bi0"], bd["bi1"], bd["bi2"])


def test_stump_perfect_split_and_counts(spark):
    """A class perfectly separated in x1 yields a zero-error rule on
    feature 1 with a threshold between the classes; count identities
    hold."""
    from open_ftth_relational_projector_spark.functions.tree import stump_fit

    rows = [(1 if i >= 25 else 0, i / 10.0, ((i * 3) % 7) / 7.0)
            for i in range(50)]
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    out = stump_fit(df, "x1", "x2", "y", n_buckets=16).collect()
    assert len(out) == 1
    r = out[0]
    assert r["feat"] == 1
    assert r["split_miscls"] == 0
    assert 2.4 <= r["threshold"] < 2.5
    assert r["n_left"] + r["n_right"] == 50
    assert r["left_np"] == 0 and r["right_nn"] == 0
    assert r["baseline_miscls"] == 25


def test_stump_constant_features(spark):
    """A constant feature contributes no candidates; both constant →
    empty result (no rule exists)."""
    from open_ftth_relational_projector_spark.functions.tree import stump_fit

    one_const = spark.createDataFrame(
        [(i % 2, 5.0, i / 10.0) for i in range(20)],
        "y int, x1 double, x2 double",
    )
    out = stump_fit(one_const, "x1", "x2", "y", n_buckets=8).collect()
    assert len(out) == 1 and out[0]["feat"] == 2

    both_const = spark.createDataFrame(
        [(i % 2, 5.0, -1.0) for i in range(20)],
        "y int, x1 double, x2 double",
    )
    assert stump_fit(both_const, "x1", "x2", "y").count() == 0


def test_tree2_refines_stump_and_conserves_counts(spark):
    """The depth-2 root equals the stump's split; children only improve
    (or match) total error; each child's side size equals the root's
    side size; a pure side yields no child row."""
    from open_ftth_relational_projector_spark.functions.tree import (
        stump_fit,
        tree_fit_depth2,
    )

    rows = [
        (1 if (i % 10) >= 4 and i < 70 else 0, i / 10.0, (i % 10) / 10.0)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    stump = stump_fit(df, "x1", "x2", "y", n_buckets=16).collect()[0]
    out = {r["node"]: r for r in
           tree_fit_depth2(df, "x1", "x2", "y", n_buckets=16).collect()}
    root = out["root"]
    assert (root["feat"], root["threshold"]) == (
        stump["feat"], stump["threshold"]
    )
    assert root["split_miscls"] == stump["split_miscls"]
    for node, n_side, side_err in (
        ("L", root["n_left"], min(root["left_np"], root["left_nn"])),
        ("R", root["n_right"], min(root["right_np"], root["right_nn"])),
    ):
        if node in out:
            c = out[node]
            assert c["n_left"] + c["n_right"] == n_side
            assert c["baseline_miscls"] == side_err
            assert c["split_miscls"] <= side_err


def test_woe_table_signs_and_counts(spark):
    """WOE sign tracks the bucket's class balance vs the corpus balance;
    per-feature counts each sum to the corpus size."""
    from open_ftth_relational_projector_spark.functions.tree import woe_table

    rows = [(1 if i >= 30 else 0, i / 10.0, ((i * 3) % 7) / 7.0)
            for i in range(60)]
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    out = woe_table(df, "x1", "x2", "y", n_buckets=8).collect()
    for feat in (1, 2):
        fr = [r for r in out if r["feat"] == feat]
        assert sum(r["np"] + r["nn"] for r in fr) == 60
    # x1 is monotone in the label: the lowest bucket is all-negative
    # (negative WOE), the highest all-positive (positive WOE)
    f1 = sorted((r for r in out if r["feat"] == 1), key=lambda r: r["b"])
    assert f1[0]["woe"] < 0 < f1[-1]["woe"]
    import math
    r0 = f1[0]
    expect = round(
        math.log(((r0["np"] + 0.5) / (30 + 1)) / ((r0["nn"] + 0.5) / (30 + 1))),
        6,
    )
    assert r0["woe"] == pytest.approx(expect, abs=2e-6)


def test_logreg_grouped_matches_per_group_direct_fits(spark):
    """Each group's jointly-trained beta is BIT-IDENTICAL to a direct
    logreg_fit_irls on that group alone — the grouped iteration is
    bookkeeping, not approximation."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
        logreg_fit_irls_grouped,
        logreg_group_summary,
    )

    rows = [
        ("a" if i % 2 == 0 else "b", y, x1, x2)
        for i, (y, x1, x2) in enumerate(_logreg_fixture_rows())
    ]
    df = spark.createDataFrame(rows, "src string, y int, x1 double, x2 double")
    pinned, betas = logreg_fit_irls_grouped(
        df, "x1", "x2", "y", group_expr="src", iters=2
    )
    bmap = {r["g"]: (r["bi0"], r["bi1"], r["bi2"]) for r in betas.collect()}
    for grp in ("a", "b"):
        _, direct = logreg_fit_irls(
            df.filter(f"src = '{grp}'"), "x1", "x2", "y", iters=2
        )
        d = direct.collect()[0]
        assert bmap[grp] == (d["bi0"], d["bi1"], d["bi2"]), grp
    out = logreg_group_summary(pinned, betas).collect()
    assert [r["g"] for r in out] == ["a", "b"]
    assert sum(r["n_docs"] for r in out) == 40


def test_logreg_grouped_degenerate_group_fails_named(spark):
    """A group whose design is singular (constant feature / collinear
    features / too few rows) must fail NAMED, not silently diverge
    cross-engine through inf/NaN CAST semantics (r8 verdict #4)."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls_grouped,
    )

    healthy = [
        ("ok", y, x1, x2) for (y, x1, x2) in _logreg_fixture_rows()
    ]
    # x1 constant within the group -> n*s11 - s1^2 == 0 exactly
    const_feat = [("flat", i % 2, 3.5, float(i)) for i in range(10)]
    # x2 = 2*x1 + 1 exactly on the pinned integer grid -> collinear
    collinear = [("line", i % 2, i * 0.25, i * 0.5 + 1.0) for i in range(10)]
    # 2 rows: rank <= 2 < 3 regardless of values
    tiny = [("tiny", 0, 1.0, 2.0), ("tiny", 1, 3.0, 4.0)]
    df = spark.createDataFrame(
        healthy + const_feat + collinear + tiny,
        "src string, y int, x1 double, x2 double",
    )
    with pytest.raises(ValueError, match="degenerate design") as ei:
        logreg_fit_irls_grouped(df, "x1", "x2", "y", group_expr="src")
    msg = str(ei.value)
    assert "'flat'" in msg and "'line'" in msg and "'tiny'" in msg
    assert "'ok'" not in msg
    # the guard is an opt-out, not a behavior change: disabling it
    # reproduces the old contract (caller guarantees non-degeneracy)
    pinned, betas = logreg_fit_irls_grouped(
        df, "x1", "x2", "y", group_expr="src", where="src = 'ok'",
    )
    assert betas.count() == 1


def test_logreg_grouped_null_group_key_fails_named(spark):
    """A NULL group key must fail NAMED: the seeded iteration-1 path
    would otherwise crash in sorted(mapping) (None vs str TypeError)
    and — worse — the null-unsafe mom.join(betas, 'g') would silently
    drop the NULL group from the fit (r10 advisory)."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls_grouped,
    )

    healthy = [
        ("ok", y, x1, x2) for (y, x1, x2) in _logreg_fixture_rows()
    ]
    nulled = [
        (None, y, x1 + 0.125, x2 - 0.25)
        for (y, x1, x2) in _logreg_fixture_rows()
    ]
    df = spark.createDataFrame(
        healthy + nulled, "src string, y int, x1 double, x2 double"
    )
    with pytest.raises(ValueError, match="NULL group key"):
        logreg_fit_irls_grouped(df, "x1", "x2", "y", group_expr="src")
    # the guard is UNCONDITIONAL — disabling the degeneracy opt-out must
    # not re-open the silent NULL-key drop (r11 review)
    with pytest.raises(ValueError, match="NULL group key"):
        logreg_fit_irls_grouped(
            df, "x1", "x2", "y", group_expr="src", check_degenerate=False
        )
    # the AdaBoost farm shares the family contract
    from open_ftth_relational_projector_spark.functions.boosting import (
        adaboost_fit_grouped,
    )

    with pytest.raises(
        ValueError, match="adaboost_fit_grouped: NULL group key"
    ):
        adaboost_fit_grouped(df, "x1", "x2", "y", group_expr="src")
    # COALESCE'ing the key (the error's own advice) fits both groups
    _, betas = logreg_fit_irls_grouped(
        df, "x1", "x2", "y", group_expr="COALESCE(src, '<null>')"
    )
    assert betas.count() == 2


def test_adaboost_grouped_weight_guard_is_per_group(spark):
    """The grouped weight-exactness guard tracks the 2^53 bound PER
    GROUP (r10 advisory): a tiny perfectly-separated group blows its
    own bound and the failure names THAT group, while the same healthy
    group trained alongside a merely-mild group passes — no cross-group
    factor chain inflating the bound."""
    from open_ftth_relational_projector_spark.functions.boosting import (
        adaboost_fit_grouped,
    )

    healthy = [
        ("ok", y, x1, x2) for (y, x1, x2) in _logreg_fixture_rows()
    ]
    # perfectly separated on x1 -> score 0, smoothed eps = 1/(W+1),
    # alpha ~ 0.5*ln(W+1): fw ~ sqrt(W)*1e6 each round, so the nested
    # bound wmax*fw crosses 2^53 by the round-2 guard check.
    sep = [
        ("sep", 1 if i < 20 else 0, float(i), (i * 7 % 13) * 0.5)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        healthy + sep, "src string, y int, x1 double, x2 double"
    )
    with pytest.raises(ValueError, match=r"adaboost_fit_grouped\[g='sep'\]"):
        adaboost_fit_grouped(
            df, "x1", "x2", "y", group_expr="src", n_rounds=3
        )
    # the healthy group alone fits fine under the identical call
    _, _, stumps = adaboost_fit_grouped(
        df, "x1", "x2", "y", group_expr="src", n_rounds=3,
        where="src = 'ok'",
    )
    assert len(stumps) == 3


def _ada_python_reference(rows, n_rounds=2, n_buckets=8):
    """Pure-Python replication of the pinned AdaBoost texts: exact
    integer weights/counts, HALF-UP rounding (SQL ROUND), transcendental
    pins replayed with math.log/exp on the same inputs."""
    import math

    def rnd(x):  # HALF_UP for the non-negative quantities used here
        return math.floor(x + 0.5)

    pin = lambda v: rnd(v * 1e4) if v >= 0 else -rnd(-v * 1e4)
    data = [(y, pin(x1), pin(x2)) for (y, x1, x2) in rows]
    lo1 = min(r[1] for r in data); hi1 = max(r[1] for r in data)
    lo2 = min(r[2] for r in data); hi2 = max(r[2] for r in data)
    w1 = math.floor((hi1 - lo1) / n_buckets) + 1
    w2 = math.floor((hi2 - lo2) / n_buckets) + 1
    buck = [
        (y, math.floor((p1 - lo1) / w1), math.floor((p2 - lo2) / w2))
        for (y, p1, p2) in data
    ]
    weights = [10**6] * len(buck)
    stumps = []
    for _ in range(n_rounds):
        cand = []
        for feat in (1, 2):
            bs = sorted({b[feat] for b in buck})
            gnp = sum(w for (r, w) in zip(buck, weights) if r[0] == 1)
            gnn = sum(w for (r, w) in zip(buck, weights) if r[0] == 0)
            for b in bs[:-1]:
                cnp = sum(
                    w for (r, w) in zip(buck, weights)
                    if r[feat] <= b and r[0] == 1
                )
                cnn = sum(
                    w for (r, w) in zip(buck, weights)
                    if r[feat] <= b and r[0] == 0
                )
                score = min(cnp, cnn) + min(gnp - cnp, gnn - cnn)
                cand.append((score, feat, b, cnp, cnn, gnp, gnn))
        score, feat, b, cnp, cnn, gnp, gnn = min(cand)
        ll = 1 if cnp > cnn else 0
        rl = 1 if gnp - cnp > gnn - cnn else 0
        ab = rnd(0.5 * math.log((gnp + gnn - score + 1) / (score + 1)) * 1e6)
        fc = rnd(math.exp(-(ab / 1e6)) * 1e6)
        fw = rnd(math.exp(ab / 1e6) * 1e6)
        stumps.append(
            dict(feat=feat, b=b, ll=ll, rl=rl, ab=ab, fc=fc, fw=fw,
                 score=score, wtot=gnp + gnn)
        )
        weights = [
            rnd(w * (fc if (ll if r[feat] <= b else rl) == r[0] else fw)
                / 1e6)
            for (r, w) in zip(buck, weights)
        ]
    return lo1, lo2, w1, w2, stumps


def test_adaboost_matches_python_reference(spark):
    """Every pinned per-round value (split, labels, α̃, factors, weighted
    error) matches an independent pure-Python replay of the shared
    texts — the boosting iteration is exact integer state end-to-end."""
    from open_ftth_relational_projector_spark.functions.boosting import (
        adaboost_fit,
    )

    rows = _logreg_fixture_rows()
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    _, st, stumps = adaboost_fit(
        df, "x1", "x2", "y", n_rounds=2, n_buckets=8
    )
    lo1, lo2, w1, w2, ref = _ada_python_reference(rows, 2, 8)
    strow = st.collect()[0]
    assert (strow["lo1"], strow["lo2"], strow["w1"], strow["w2"]) == (
        lo1, lo2, w1, w2,
    )
    for t, (s, r) in enumerate(zip(stumps, ref), 1):
        row = s.collect()[0]
        got = (
            row[f"rf_{t}"], row[f"rb_{t}"], row[f"ll_{t}"], row[f"rl_{t}"],
            row[f"ab_{t}"], row[f"fc_{t}"], row[f"fw_{t}"],
            int(row[f"score_{t}"]), int(row[f"wtot_{t}"]),
        )
        want = (
            r["feat"], r["b"], r["ll"], r["rl"], r["ab"], r["fc"], r["fw"],
            r["score"], r["wtot"],
        )
        assert got == want, f"round {t}: {got} != {want}"


def test_adaboost_reports_shape_and_invariants(spark):
    """Rounds table: ε ∈ (0, ½] and α ≥ 0 per round (majority side
    labels bound the weighted error at half); summary accuracy is the
    exact sign-test fraction and beats the majority-class baseline on
    the separable-ish fixture."""
    from open_ftth_relational_projector_spark.functions.boosting import (
        adaboost_fit,
        adaboost_rounds_table,
        adaboost_train_summary,
    )

    rows = _logreg_fixture_rows()
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    bucketed, st, stumps = adaboost_fit(
        df, "x1", "x2", "y", n_rounds=3, n_buckets=8
    )
    rt = adaboost_rounds_table(st, stumps).collect()
    assert [r["boost_round"] for r in rt] == [1, 2, 3]
    for r in rt:
        assert 0 < r["eps"] <= 0.5
        assert r["alpha"] >= 0
        assert r["left_label"] in (0, 1) and r["right_label"] in (0, 1)
    summ = adaboost_train_summary(bucketed, stumps).collect()[0]
    assert summ["n_docs"] == 40
    n_pos = summ["n_pos"]
    baseline = max(n_pos, 40 - n_pos) / 40
    assert summ["accuracy"] >= baseline - 1e-9
    assert summ["avg_margin"] is not None


def test_logreg_single_fit_degenerate_fails_named(spark):
    """The single fit shares the grouped fit's guard: constant feature /
    collinear features / too-few-rows fail named; check_degenerate=False
    restores the caller-guaranteed contract."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
    )

    df = spark.createDataFrame(
        [(i % 2, 3.5, float(i)) for i in range(10)],
        "y int, x1 double, x2 double",
    )
    with pytest.raises(ValueError, match="logreg_fit_irls: degenerate"):
        logreg_fit_irls(df, "x1", "x2", "y")
    # without the guard the failure still surfaces, but as Spark's ANSI
    # DIVIDE_BY_ZERO deep in the first beta update (and as a silent
    # inf/NaN divergence on a non-ANSI engine) — the guard's value is
    # the EARLY, NAMED version of the same condition
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        logreg_fit_irls(df, "x1", "x2", "y", check_degenerate=False)
    healthy = spark.createDataFrame(
        _logreg_fixture_rows(), "y int, x1 double, x2 double"
    )
    _, beta = logreg_fit_irls(healthy, "x1", "x2", "y", iters=1)
    assert beta.columns == ["bi0", "bi1", "bi2"]


def test_logreg_kfold_complement_degeneracy_mechanism(spark):
    """The k-fold guard certifies each COMPLEMENT design (what each fold
    actually trains on): if all variation of x1 lives inside one fold,
    every OTHER fold's complement keeps it and passes, but that fold's
    own complement sees a constant x1 and must fail named."""
    from open_ftth_relational_projector_spark.functions.regression import (
        _raise_on_degenerate_complements,
    )

    # fold 0 holds the only x1 variation -> complement of fold 0 is
    # degenerate; complements of folds 1 and 2 include fold 0 and are fine
    rows = (
        [(i % 2, float(i), float((i * 7) % 5), 0) for i in range(10)]
        + [(i % 2, 2.0, float((i * 3) % 7), 1) for i in range(10)]
        + [(i % 2, 2.0, float((i * 5) % 6), 2) for i in range(10)]
    )
    pinned = spark.createDataFrame(
        rows, "y long, xr1 double, xr2 double, fold int"
    ).selectExpr(
        "y",
        "CAST(ROUND(xr1 * 1e4, 0) AS BIGINT) AS x1",
        "CAST(ROUND(xr2 * 1e4, 0) AS BIGINT) AS x2",
        "fold",
    )
    with pytest.raises(ValueError, match=r"fold\(s\) \[0\]"):
        _raise_on_degenerate_complements(pinned)


def test_logreg_kfold_guard_passes_healthy_fixture(spark):
    """The catalog-shaped k-fold call (md5 folds over the healthy
    fixture) still fits with the default-on guard."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_kfold,
    )

    rows = [(i,) + r for i, r in enumerate(_logreg_fixture_rows())]
    df = spark.createDataFrame(rows, "id int, y int, x1 double, x2 double")
    pinned, betas = logreg_kfold(
        df, "x1", "x2", "y", key_expr="CAST(id AS STRING)", k=3, iters=2
    )
    assert betas.count() == 3


def _bitrows(df, key_cols):
    """Rows as bit-exact tuples (floats by IEEE bit pattern), sorted."""
    import struct

    def pin(v):
        return struct.pack(">d", v).hex() if isinstance(v, float) else v

    return sorted(
        tuple(pin(r[c]) for c in sorted(df.columns)) for r in df.collect()
    )


def test_logreg_guard_seeded_iter1_bit_identical(spark):
    """The degeneracy guard's amortization (iteration 1 seeded from the
    guard's raw-moment collect — at β = 0 every pi is exactly 5·10⁶) is
    BIT-IDENTICAL to the scanned iteration 1, for all three fit shapes:
    check_degenerate=True (seeded) vs False (full scan) must agree on
    every output bit."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
        logreg_fit_irls_grouped,
        logreg_group_summary,
        logreg_kfold,
        logreg_kfold_summary,
        logreg_summary,
    )

    rows = [
        (i, "s%d" % (i % 3),) + r
        for i, r in enumerate(_logreg_fixture_rows())
    ]
    df = spark.createDataFrame(
        rows, "id int, src string, y int, x1 double, x2 double"
    )
    # single fit
    a = logreg_summary(*logreg_fit_irls(df, "x1", "x2", "y", iters=3))
    b = logreg_summary(
        *logreg_fit_irls(df, "x1", "x2", "y", iters=3, check_degenerate=False)
    )
    assert _bitrows(a, []) == _bitrows(b, [])
    # k-fold fit
    a = logreg_kfold_summary(
        *logreg_kfold(df, "x1", "x2", "y", "CAST(id AS STRING)", k=3, iters=2)
    )
    b = logreg_kfold_summary(
        *logreg_kfold(
            df, "x1", "x2", "y", "CAST(id AS STRING)", k=3, iters=2,
            check_degenerate=False,
        )
    )
    assert _bitrows(a, []) == _bitrows(b, [])
    # grouped fit (string group keys — the catalog per-source shape)
    a = logreg_group_summary(
        *logreg_fit_irls_grouped(df, "x1", "x2", "y", "src", iters=2)
    )
    b = logreg_group_summary(
        *logreg_fit_irls_grouped(
            df, "x1", "x2", "y", "src", iters=2, check_degenerate=False
        )
    )
    assert _bitrows(a, []) == _bitrows(b, [])


def test_logreg_pinned_frames_drop_null_features(spark):
    """The structural PIN_NOTNULL contract extends to the logreg fits
    (r9 advisor item 2): rows with a NULL pinned feature are dropped
    from the pinned frame, so the guard's COUNT(*) and the moment SUMs
    see the same row set."""
    from open_ftth_relational_projector_spark.functions.regression import (
        logreg_fit_irls,
        logreg_summary,
    )

    rows = _logreg_fixture_rows()
    clean = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    dirty = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows]
        + [(1, None, 0.5), (0, 0.7, None), (1, None, None)],
        "y int, x1 double, x2 double",
    )
    a = logreg_summary(*logreg_fit_irls(clean, "x1", "x2", "y"))
    b = logreg_summary(*logreg_fit_irls(dirty, "x1", "x2", "y"))
    assert _bitrows(a, []) == _bitrows(b, [])


def test_naive_bayes_matches_python_reference(spark):
    """nb_fit/nb_summary equal a plain-Python Naive Bayes computed from
    the same pinned bucketing (priors, per-bucket Laplace likelihoods,
    integer log-score decision, accuracy)."""
    import math

    from open_ftth_relational_projector_spark.functions.bayes import (
        nb_fit,
        nb_summary,
    )

    rows = _logreg_fixture_rows()
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    B = 8
    bucketed, prior, lik = nb_fit(df, "x1", "x2", "y", n_buckets=B)
    got = nb_summary(bucketed, prior, lik).collect()[0]

    # python reference over the identical pinned grid
    pin = [(y, round(x1 * 1e4), round(x2 * 1e4)) for y, x1, x2 in rows]
    lo1 = min(p[1] for p in pin)
    lo2 = min(p[2] for p in pin)
    w1 = (max(p[1] for p in pin) - lo1) // B + 1
    w2 = (max(p[2] for p in pin) - lo2) // B + 1
    bk = [(y, (a - lo1) // w1, (b - lo2) // w2) for y, a, b in pin]
    n = len(bk)
    tnp = sum(y for y, *_ in bk)
    tnn = n - tnp

    def pinln(num, den):
        return round(math.log(num / den) * 1e6)

    pr = {1: pinln(tnp + 1, n + 2), 0: pinln(tnn + 1, n + 2)}
    cnt = {}
    for y, b1, b2 in bk:
        for feat, b in ((1, b1), (2, b2)):
            c = cnt.setdefault((feat, b), [0, 0])
            c[y] += 1
    ll = {
        k: {
            1: pinln(c[1] + 1, tnp + B),
            0: pinln(c[0] + 1, tnn + B),
        }
        for k, c in cnt.items()
    }
    correct = 0
    for y, b1, b2 in bk:
        s1 = pr[1] + ll[(1, b1)][1] + ll[(2, b2)][1]
        s0 = pr[0] + ll[(1, b1)][0] + ll[(2, b2)][0]
        correct += ((s1 > s0) == (y == 1))
    assert got["n_docs"] == n
    assert got["n_pos"] == tnp
    assert got["prior_pos"] == round(pr[1] / 1e6, 6)
    assert got["accuracy"] == round(correct / n, 6)
    # the likelihood table matches the reference counts/pins
    for r in lik.collect():
        k = (r["feat"], r["b"])
        assert (r["np"], r["nn"]) == (cnt[k][1], cnt[k][0]), k
        assert r["ll1"] == ll[k][1] and r["ll0"] == ll[k][0], k


def test_pav_isotonic_matches_stack_reference(spark):
    """The minimax-identity isotonic fit equals the classic
    pool-adjacent-violators stack algorithm (weighted), and is monotone
    non-decreasing."""
    from open_ftth_relational_projector_spark.functions.calibration import (
        pav_isotonic,
    )

    rows = [  # (bucket, n, n_pos) with two monotonicity violations
        (0, 10, 1), (1, 20, 9), (2, 10, 3), (3, 5, 1), (4, 8, 7),
        (5, 4, 2), (6, 12, 11),
    ]
    dec = spark.createDataFrame(
        rows, "p_decile int, n_docs long, n_pos long"
    )
    out = pav_isotonic(dec).collect()

    # weighted PAV stack reference
    pools = []  # (weight, pos, count_of_buckets)
    for (_, n, npos) in rows:
        pools.append([n, npos, 1])
        while len(pools) > 1 and (
            pools[-2][1] * pools[-1][0] >= pools[-1][1] * pools[-2][0]
        ):  # prev_rate >= cur_rate -> pool (exact fraction compare)
            b = pools.pop()
            pools[-1] = [
                pools[-1][0] + b[0], pools[-1][1] + b[1], pools[-1][2] + b[2]
            ]
    want = []
    for n, npos, cnt in pools:
        want += [round(npos / n, 6)] * cnt
    got = [r["iso_rate"] for r in out]
    assert got == pytest.approx(want, abs=1e-9)
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))
    # raw rates are reported untouched
    assert [r["raw_rate"] for r in out] == pytest.approx(
        [round(npos / n, 6) for (_, n, npos) in rows], abs=1e-9
    )


def test_adaboost_grouped_matches_per_group_direct_fits(spark):
    """Each group's jointly-trained rule list is BIT-IDENTICAL to a
    direct adaboost_fit on that group alone (grids, splits, labels,
    pinned alphas/factors) — the grouped iteration is bookkeeping, not
    approximation (the logreg model-farm property)."""
    from open_ftth_relational_projector_spark.functions.boosting import (
        adaboost_fit,
        adaboost_fit_grouped,
        adaboost_group_summary,
    )

    rows = [
        ("a" if i % 2 == 0 else "b", y, x1, x2)
        for i, (y, x1, x2) in enumerate(_logreg_fixture_rows())
    ]
    df = spark.createDataFrame(rows, "src string, y int, x1 double, x2 double")
    bucketed, st, stumps = adaboost_fit_grouped(
        df, "x1", "x2", "y", group_expr="src", n_rounds=2, n_buckets=8
    )
    cols = ("rf", "rb", "ll", "rl", "ab", "fc", "fw")
    for grp in ("a", "b"):
        _, dst, dstumps = adaboost_fit(
            df.filter(f"src = '{grp}'"), "x1", "x2", "y",
            n_rounds=2, n_buckets=8,
        )
        want_st = dst.collect()[0]
        got_st = st.filter(f"g = '{grp}'").collect()[0]
        assert tuple(got_st[c] for c in ("lo1", "lo2", "w1", "w2")) == tuple(
            want_st[c] for c in ("lo1", "lo2", "w1", "w2")
        ), grp
        for t, (gs, ds) in enumerate(zip(stumps, dstumps), 1):
            grow = gs.filter(f"g = '{grp}'").collect()[0]
            drow = ds.collect()[0]
            got = tuple(grow[f"{c}_{t}"] for c in cols)
            want = tuple(drow[f"{c}_{t}"] for c in cols)
            assert got == want, (grp, t, got, want)
    summ = {r["g"]: r for r in adaboost_group_summary(bucketed, stumps).collect()}
    assert set(summ) == {"a", "b"}
    assert sum(r["n_docs"] for r in summ.values()) == 40


def test_adaboost_weight_exactness_guard_fails_named(spark):
    """A perfectly-separable corpus big enough that round 1's smoothed
    ε = 1/(W+1) inflates f̃w past the 2⁵³ product bound must fail NAMED
    before round 2's aggregation (r9 advisor item 3) — and the same
    data with n_rounds=1 (no subsequent product) still fits."""
    from open_ftth_relational_projector_spark.functions.boosting import (
        adaboost_fit,
        adaboost_fit_grouped,
    )

    # 200 rows, y = 1 iff x1 > 0.5 — a stump separates them exactly;
    # W = 200·10⁶ → α̃ ≈ ½ln(W+1)·10⁶ ≈ 9.6·10⁶, f̃w ≈ 1.4·10¹⁰,
    # 10⁶·f̃w ≈ 1.4·10¹⁶ > 2⁵³ ≈ 9.0·10¹⁵
    rows = [
        (1 if i >= 100 else 0, float(i) / 100.0, ((i * 7) % 13) / 13.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "y int, x1 double, x2 double")
    with pytest.raises(ValueError, match="adaboost_fit: round-1 .* 2\\^53"):
        adaboost_fit(df, "x1", "x2", "y", n_rounds=2)
    _, _, stumps = adaboost_fit(df, "x1", "x2", "y", n_rounds=1)
    assert len(stumps) == 1
    gdf = df.selectExpr("'s' AS src", "*")
    with pytest.raises(
        ValueError, match="adaboost_fit_grouped\\[g='s'\\]: round-1 .* 2\\^53"
    ):
        adaboost_fit_grouped(gdf, "x1", "x2", "y", "src", n_rounds=2)


def test_pav_isotonic_bounded_axis_guard(spark):
    """pav_isotonic refuses an over-bounded bucket axis with a named
    failure (the O(B³) joins are priced for deciles/lattices only)."""
    from open_ftth_relational_projector_spark.functions.calibration import (
        PAV_MAX_BUCKETS,
        pav_isotonic,
    )

    big = spark.range(PAV_MAX_BUCKETS + 1).selectExpr(
        "CAST(id AS INT) AS p_decile",
        "CAST(10 AS BIGINT) AS n_docs",
        "CAST(id % 10 AS BIGINT) AS n_pos",
    )
    with pytest.raises(ValueError, match="pav_isotonic: bucket axis"):
        pav_isotonic(big)


def test_string_built_literals_bit_identical_to_column_form(spark):
    """r12: dlit/dlit2/lsh_bucket build driver-constant literals as ONE
    parsed expression (plan-construction latency fix). Pin bit-identity
    against the per-element Column-API forms they replaced."""
    import struct

    planes = S._hyperplanes(dim=8, n_planes=4)
    vals = planes[0]
    df = spark.createDataFrame(
        [([0.5 * i - 1.75 for i in range(8)],)], "v array<double>"
    )
    a = df.select(S.dlit(vals).alias("x")).collect()[0]["x"]
    b = df.select(F.array(*[F.lit(float(x)) for x in vals]).alias("x")).collect()[0]["x"]
    assert [struct.pack(">d", x) for x in a] == [struct.pack(">d", y) for y in b]

    n = df.select(S.dlit2(planes).alias("x")).collect()[0]["x"]
    m = df.select(
        F.array(*[F.array(*[F.lit(float(x)) for x in p]) for p in planes]).alias("x")
    ).collect()[0]["x"]
    assert [[struct.pack(">d", x) for x in row] for row in n] == [
        [struct.pack(">d", y) for y in row] for row in m
    ]

    # lsh_bucket string form vs the replaced Column-API construction
    def bucket_column_form(vec, planes):
        bucket = F.lit(0)
        for i, p in enumerate(planes):
            proj = S.dot(vec, F.array(*[F.lit(x) for x in p]))
            bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
        return bucket

    got = df.select(S.lsh_bucket("v", planes).alias("b")).collect()[0]["b"]
    ref = df.select(bucket_column_form(F.col("v"), planes).alias("b")).collect()[0]["b"]
    assert got == ref


def test_dlit_nonfinite_matches_lit_form(spark):
    """r12 review: the string-built literals must handle NaN/±Infinity
    like the F.lit forms they replaced (no SQL double-literal syntax —
    rendered as CAST forms)."""
    import math

    vals = [float("nan"), float("inf"), float("-inf"), 1.5]
    df = spark.range(1)
    got = df.select(S.dlit(vals).alias("x")).collect()[0]["x"]
    ref = df.select(
        F.array(*[F.lit(v) for v in vals]).alias("x")
    ).collect()[0]["x"]
    assert math.isnan(got[0]) and math.isnan(ref[0])
    assert got[1:] == ref[1:]
    nested = df.select(S.dlit2([vals, [0.0]]).alias("x")).collect()[0]["x"]
    assert math.isnan(nested[0][0]) and nested[0][1:] == ref[1:] and nested[1] == [0.0]
