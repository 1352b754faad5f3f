"""Unit tests for the generic operator inventory (SURVEY §2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_ftth_relational_projector_spark.operators import (
    asof_join,
    explode_with_seq,
    latest_by_key,
)
from open_ftth_relational_projector_spark.operators.lww import touched


def test_latest_by_key(spark):
    df = spark.createDataFrame(
        [("a", 1, "v1"), ("a", 3, "v3"), ("a", 2, "v2"), ("b", 5, "w")],
        "id string, seq long, val string",
    )
    out = {r["id"]: r["val"] for r in latest_by_key(df, "id").collect()}
    assert out == {"a": "v3", "b": "w"}


def test_touch_markers(spark):
    df = spark.createDataFrame([("a", 1)], "id string, seq long")
    row = df.select(
        touched(F.lit("x")).alias("t"), touched(F.lit(None)).alias("n")
    ).first()
    # a NULL write is still a touch: the marker is there, its value NULL
    assert row["t"]["v"] == "x" and row["n"] is not None and row["n"]["v"] is None


def test_asof_join_basic(spark):
    versions = spark.createDataFrame(
        [("c1", 1, "n1"), ("c1", 5, "n2"), ("c2", 2, "m1")],
        "key string, seq long, route string",
    )
    facts = spark.createDataFrame(
        [("c1", 3, "f1"), ("c1", 6, "f2"), ("c1", 1, "f0"), ("c2", 9, "f3"), ("c3", 4, "f4")],
        "key string, seq long, fact string",
    )
    out = {
        r["fact"]: r["route"]
        for r in asof_join(facts, versions, "key").collect()
    }
    # strict: fact at seq 1 sees nothing (version at seq 1 not < 1)
    assert out == {"f0": None, "f1": "n1", "f2": "n2", "f3": "m1", "f4": None}


def test_asof_join_tombstone(spark):
    # deletion modeled as a version whose fields are NULL but marker present
    versions = spark.createDataFrame(
        [("c1", 1, "n1"), ("c1", 4, None)],
        "key string, seq long, route string",
    )
    facts = spark.createDataFrame(
        [("c1", 3, "before"), ("c1", 5, "after")],
        "key string, seq long, fact string",
    )
    out = {r["fact"]: r["route"] for r in asof_join(facts, versions, "key").collect()}
    assert out == {"before": "n1", "after": None}


def test_explode_with_seq(spark):
    df = spark.createDataFrame(
        [("i1", ["a", "b", "c"]), ("i2", ["z"])], "id string, els array<string>"
    )
    out = sorted(
        (r["id"], r["el"], r["seq_no"])
        for r in explode_with_seq(df, "id", "els", "el").collect()
    )
    assert out == [("i1", "a", 1), ("i1", "b", 2), ("i1", "c", 3), ("i2", "z", 1)]


class TestSkewSalting:
    """operators/skew.py: salted two-stage aggregation ≡ plain aggregation."""

    def test_salted_count_equals_plain(self, spark):
        from pyspark.sql import functions as F
        from open_ftth_relational_projector_spark.operators.skew import (
            salted_aggregate,
        )

        # one hot key (90%), several cold ones
        rows = [("hot", i) for i in range(900)] + [
            (f"cold{i % 7}", i) for i in range(100)
        ]
        df = spark.createDataFrame(rows, "k string, v int")
        salted = salted_aggregate(
            df, ["k"], partial={"_c": F.count(F.lit(1))}, merge={"cnt": F.sum("_c")}
        )
        got = {r["k"]: r["cnt"] for r in salted.collect()}
        exp = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(
            F.count("*").alias("cnt")
        ).collect()}
        assert got == exp

    def test_salted_sum_equals_plain(self, spark):
        from pyspark.sql import functions as F
        from open_ftth_relational_projector_spark.operators.skew import (
            salted_aggregate,
        )

        rows = [("hot", i) for i in range(500)] + [("cold", i) for i in range(50)]
        df = spark.createDataFrame(rows, "k string, v int")
        salted = salted_aggregate(
            df, ["k"], partial={"_s": F.sum("v")}, merge={"sum_v": F.sum("_s")}
        )
        got = {r["k"]: r["sum_v"] for r in salted.collect()}
        exp = {
            r["k"]: r["s"]
            for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
        }
        assert got == exp


def test_asof_join_broadcast_matches_shuffle_form(spark):
    from open_ftth_relational_projector_spark.operators.asof import (
        asof_join_broadcast,
    )

    versions = spark.createDataFrame(
        [("c1", 1, "n1"), ("c1", 5, "n2"), ("c1", 4, None), ("c2", 2, "m1")],
        "key string, seq long, route string",
    )
    facts = spark.createDataFrame(
        [
            ("c1", 3, "f1"),
            ("c1", 6, "f2"),
            ("c1", 1, "f0"),
            ("c1", 5, "f5"),
            ("c2", 9, "f3"),
            ("c3", 4, "f4"),
        ],
        "key string, seq long, fact string",
    )
    for strict in (True, False):
        a = {
            (r["fact"]): (r["route"])
            for r in asof_join(facts, versions, "key", strict=strict).collect()
        }
        b = {
            (r["fact"]): (r["route"])
            for r in asof_join_broadcast(
                facts, versions, "key", strict=strict
            ).collect()
        }
        assert a == b, f"strict={strict}: {a} != {b}"
    # no-shuffle claim: the fact side of the broadcast form has no Exchange
    plan = asof_join_broadcast(facts, versions, "key")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


def test_interval_join_boundaries_and_overlap(spark):
    """Half-open [start, end): ts==start matches, ts==end does not;
    overlapping windows multiply matches; extra_keys separate users."""
    from datetime import datetime

    from open_ftth_relational_projector_spark.operators.range_join import (
        interval_join,
    )

    T = lambda s: datetime.fromisoformat(s)
    facts = spark.createDataFrame(
        [
            (1, T("2024-01-01 00:00:00")),  # == start of w1
            (1, T("2024-01-01 06:00:00")),  # inside w1 AND w2 (overlap)
            (1, T("2024-01-01 12:00:00")),  # == end of w1 → only w2
            (2, T("2024-01-01 06:00:00")),  # other user: no window
        ],
        "user_id long, ts timestamp_ntz",
    )
    ivals = spark.createDataFrame(
        [
            (1, T("2024-01-01 00:00:00"), T("2024-01-01 12:00:00")),  # w1
            (1, T("2024-01-01 04:00:00"), T("2024-01-01 16:00:00")),  # w2
        ],
        "user_id long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    out = interval_join(
        facts, ivals, "ts", "start_ts", "end_ts",
        bucket_seconds=3600, extra_keys=["user_id"],
    )
    got = sorted((r.user_id, r.ts.hour, r.start_ts.hour) for r in out.collect())
    assert got == [(1, 0, 0), (1, 6, 0), (1, 6, 4), (1, 12, 4)]

    semi = interval_join(
        facts, ivals, "ts", "start_ts", "end_ts",
        bucket_seconds=3600, extra_keys=["user_id"], how="left_semi",
    )
    assert semi.count() == 3  # each contained fact once, user 2 dropped

    from open_ftth_relational_projector_spark.plans import checks as C
    plan = C.formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_interval_join_random_equivalence(spark):
    """Randomized differential: bucketized interval_join == naive Python
    containment scan, across bucket widths (incl. widths much smaller and
    larger than the intervals)."""
    import random
    from datetime import datetime, timedelta

    from open_ftth_relational_projector_spark.operators.range_join import (
        interval_join,
    )

    rng = random.Random(77)
    base = datetime(2024, 1, 1)
    facts = [
        (rng.randrange(4), base + timedelta(minutes=rng.randrange(0, 3000)))
        for _ in range(300)
    ]
    ivals = []
    for _ in range(40):
        s = rng.randrange(0, 2800)
        ivals.append(
            (
                rng.randrange(4),
                base + timedelta(minutes=s),
                base + timedelta(minutes=s + rng.randrange(1, 400)),
            )
        )
    fdf = spark.createDataFrame(facts, "user_id long, ts timestamp_ntz")
    idf = spark.createDataFrame(
        ivals, "user_id long, start_ts timestamp_ntz, end_ts timestamp_ntz"
    )
    expected = sorted(
        (fu, ft, s, e)
        for fu, ft in facts
        for iu, s, e in ivals
        if fu == iu and s <= ft < e
    )
    for bucket in (60, 3600, 86_400):
        got = sorted(
            (r.user_id, r.ts, r.start_ts, r.end_ts)
            for r in interval_join(
                fdf, idf, "ts", "start_ts", "end_ts",
                bucket_seconds=bucket, extra_keys=["user_id"],
            ).collect()
        )
        assert got == expected, f"bucket={bucket}"


def test_connected_components_random_equivalence(spark):
    """Randomized differential: label propagation == union-find."""
    import random

    from open_ftth_relational_projector_spark.functions.graph import (
        connected_components,
    )

    rng = random.Random(13)
    edges = list({
        tuple(sorted(rng.sample(range(60), 2))) for _ in range(70)
    })

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    in_graph = {n for e in edges for n in e}
    expected = sorted(
        (n, min(m for m in in_graph if find(m) == find(n))) for n in in_graph
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = sorted(
        (r.doc_id, r.component_id) for r in connected_components(df).collect()
    )
    assert got == expected


def test_skyline_2d_matches_bruteforce(spark):
    """Sweep skyline == quadratic dominance definition, including
    duplicate points (both kept), same-axis ties (dominated side
    dropped), and a degenerate all-equal-x corner."""
    from open_ftth_relational_projector_spark.operators.skyline import skyline_2d

    pts = [
        (1, 10.0, 5), (2, 10.0, 5),       # duplicates: both on frontier
        (3, 10.0, 4),                      # tied price, smaller size → out
        (4, 12.0, 5),                      # tied size, higher price → out
        (5, 8.0, 3), (6, 20.0, 9),
        (7, 15.0, 9),                      # same size as 6, cheaper → 6 out
        (8, 7.9, 1), (9, 30.0, 2),
    ]
    df = spark.createDataFrame(pts, "pid long, price double, size int")
    got = {r.pid for r in skyline_2d(df, "price", "size").collect()}

    def dominated(p, q):
        return (
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
        )

    brute = {
        p[0] for p in pts if not any(dominated(p, q) for q in pts if q[0] != p[0])
    }
    assert got == brute and 6 not in got and {1, 2} <= got

    same_x = spark.createDataFrame(
        [(1, 5.0, 1), (2, 5.0, 9), (3, 5.0, 9)], "pid long, price double, size int"
    )
    assert {r.pid for r in skyline_2d(same_x, "price", "size").collect()} == {2, 3}

    empty = df.filter("pid < 0")
    assert skyline_2d(empty, "price", "size").count() == 0


def test_global_rank_and_sorted_neighborhood(spark):
    """global_rank equals the single-partition ROW_NUMBER ordering across
    many input partitions; neighborhood pairs are exactly the rank-window
    adjacencies (n·w − w(w+1)/2 of them)."""
    from open_ftth_relational_projector_spark.operators.sorted_neighborhood import (
        global_rank,
        sorted_neighborhood_pairs,
    )

    n = 500
    vals = [((i * 193) % n, f"k{(i * 193) % n:05d}") for i in range(n)]
    df = spark.createDataFrame(vals, "vid long, key string").repartition(16)
    ranked = {
        r["vid"]: r["_rank"]
        for r in global_rank(df, ["key", "vid"]).collect()
    }
    assert ranked == {v: v + 1 for v in range(n)}

    w = 3
    pairs = {
        (r["vid"], r["vid_b"])
        for r in sorted_neighborhood_pairs(df, ["key", "vid"], window=w).collect()
    }
    brute = {
        (a, b) for a in range(n) for b in range(a + 1, min(a + w, n - 1) + 1)
    }
    assert pairs == brute
    assert len(pairs) == n * w - w * (w + 1) // 2


def test_asof_join_directed_full_surface(spark):
    """Forward finds the first at-or-after version; nearest picks the
    closer side with ties to backward; tolerance nulls far matches but
    keeps the fact row; matched_seq surfaces the matched version seq."""
    from open_ftth_relational_projector_spark.operators.asof import (
        asof_join_directed,
    )

    versions = spark.createDataFrame(
        [(1, 10, "v10"), (1, 20, "v20"), (1, 40, "v40"), (2, 5, "w5")],
        "k long, seq long, val string",
    )
    facts = spark.createDataFrame(
        [(100, 1, 15), (101, 1, 30), (102, 1, 40), (103, 1, 3), (104, 2, 50)],
        "fid long, k long, seq long",
    )

    def by_fid(df):
        return {r["fid"]: (r["val"], r["matched_seq"]) for r in df.collect()}

    fwd = by_fid(
        asof_join_directed(
            facts, versions, "k", direction="forward", strict=False
        )
    )
    assert fwd[100] == ("v20", 20) and fwd[101] == ("v40", 40)
    assert fwd[102] == ("v40", 40)            # non-strict: at-or-after
    assert fwd[103] == ("v10", 10)
    assert fwd[104] == (None, None)           # nothing after 50 for k=2

    fwd_strict = by_fid(
        asof_join_directed(facts, versions, "k", direction="forward", strict=True)
    )
    assert fwd_strict[102] == (None, None)    # strictly-after excludes 40

    near = by_fid(
        asof_join_directed(
            facts, versions, "k",
            direction="nearest", strict=False, fact_id="fid",
        )
    )
    assert near[100] == ("v10", 10)           # tie 15-10 vs 20-15 → backward
    assert near[101] == ("v20", 20)           # gap 10 both ways: tie → backward
    assert near[103] == ("v10", 10)           # only forward exists
    assert near[104] == ("w5", 5)             # only backward exists

    tol = by_fid(
        asof_join_directed(
            facts, versions, "k",
            direction="forward", strict=False, tolerance=5,
        )
    )
    assert tol[100] == ("v20", 20)            # gap 5 ≤ 5
    assert tol[101] == (None, None)           # gap 10 > 5, row kept
    assert len(tol) == len(facts.collect())


def test_merge_intervals_stitching(spark):
    """Overlapping and touching intervals coalesce; disjoint stay apart;
    containment collapses; per-key isolation holds."""
    from open_ftth_relational_projector_spark.operators.range_join import (
        merge_intervals,
    )

    iv = spark.createDataFrame(
        [
            ("a", 0, 10), ("a", 5, 15),    # overlap → [0,15)
            ("a", 15, 20),                 # touching → extends to [0,20)
            ("a", 30, 40), ("a", 32, 35),  # containment → [30,40)
            ("a", 50, 60),                 # disjoint
            ("b", 0, 100), ("b", 200, 300),
        ],
        "k string, start long, end long",
    )
    got = {
        (r["k"], r["start"], r["end"])
        for r in merge_intervals(iv, ["k"], "start", "end").collect()
    }
    assert got == {
        ("a", 0, 20), ("a", 30, 40), ("a", 50, 60),
        ("b", 0, 100), ("b", 200, 300),
    }


def test_global_rank_deterministic_under_heavy_ties(spark):
    """Equal sort keys near range-partition boundaries still rank
    deterministically because the tiebreaker is part of the ordering —
    two independent evaluations must agree exactly."""
    from open_ftth_relational_projector_spark.operators.sorted_neighborhood import (
        global_rank,
    )

    rows = [(i, f"k{i % 5:02d}") for i in range(400)]  # 80 copies per key
    df = spark.createDataFrame(rows, "vid long, key string").repartition(32)
    a = {r["vid"]: r["_rank"] for r in global_rank(df, ["key", "vid"]).collect()}
    b = {r["vid"]: r["_rank"] for r in global_rank(df, ["key", "vid"]).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, 401))
    # ordering respects (key, vid): rank order == lexicographic order
    by_rank = sorted(a, key=lambda v: a[v])
    assert by_rank == sorted(range(400), key=lambda v: (f"k{v % 5:02d}", v))


def test_exact_median_two_pass(spark):
    """Matches the naive exact median for odd/even counts, duplicate-heavy
    and constant columns; empty raises."""
    import pytest as _pytest

    from open_ftth_relational_projector_spark.operators.median import (
        exact_median_two_pass,
    )

    def naive(vals):
        s = sorted(vals)
        m = len(s)
        return (s[(m - 1) // 2] + s[m // 2]) / 2.0

    cases = [
        [1.0, 2.0, 3.0, 4.0, 5.0],                 # odd
        [1.0, 2.0, 3.0, 4.0],                       # even, interpolated
        [7.0] * 50,                                 # constant (lo == hi)
        [1.0] * 30 + [2.0] * 30 + [100.0],          # duplicate-heavy
        [float(x * x % 97) for x in range(1, 200)], # scattered
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        n, med = exact_median_two_pass(df, "v", n_buckets=16)
        assert n == len(vals)
        assert med == naive(vals), vals[:5]

    empty = spark.createDataFrame([], "v double")
    with _pytest.raises(ValueError):
        exact_median_two_pass(empty, "v")


def test_session_operators_empty_input_contracts(spark):
    """Every new operator degrades cleanly on empty input: empty result
    frames with the right columns, or a clear ValueError where a seed row
    is structurally required."""
    import pytest as _pytest

    from open_ftth_relational_projector_spark.functions.clustering import (
        kcenter_select,
    )
    from open_ftth_relational_projector_spark.functions.graph import (
        bfs_distances,
        weighted_shortest_paths,
    )
    from open_ftth_relational_projector_spark.functions.sketches import (
        kmv_distinct_rollup,
    )
    from open_ftth_relational_projector_spark.operators.range_join import (
        merge_intervals,
    )
    from open_ftth_relational_projector_spark.operators.sorted_neighborhood import (
        sorted_neighborhood_pairs,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    wedges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    no_seeds = spark.createDataFrame([], "node long")
    assert bfs_distances(edges, no_seeds).count() == 0
    assert weighted_shortest_paths(wedges, no_seeds).count() == 0

    empty_ev = spark.createDataFrame([], "g string, s int, v int")
    assert kmv_distinct_rollup(empty_ev, "g", "s", "v").count() == 0

    empty_iv = spark.createDataFrame([], "k string, start long, end long")
    out = merge_intervals(empty_iv, ["k"], "start", "end")
    assert out.count() == 0 and set(out.columns) == {"k", "start", "end"}

    single = spark.createDataFrame([(1, "x")], "vid long, key string")
    assert sorted_neighborhood_pairs(single, ["key", "vid"], window=2).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError):
        kcenter_select(empty_emb, k=2)


def test_directed_bfs_keeps_sink_only_sources(spark):
    """ADVICE r3: in directed mode a source appearing ONLY as an edge
    destination must still get its dist-0 row (it's in the graph; it just
    has no out-edges). Same for Bellman-Ford."""
    from open_ftth_relational_projector_spark.functions.graph import (
        bfs_distances,
        weighted_shortest_paths,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(3,), (99,)], "node long")  # 3 is sink-only
    got = {(r.node, r.dist) for r in bfs_distances(edges, seeds, directed=True).collect()}
    assert got == {(3, 0)}  # 99 not in graph → dropped; 3 kept with no expansion

    wedges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    wseeds = spark.createDataFrame([(2,)], "node long")
    wgot = {(r.node, r.cost) for r in weighted_shortest_paths(wedges, wseeds, directed=True).collect()}
    assert wgot == {(2, 0.0)}


def test_kcenter_select_n_lt_k_and_string_ids(spark):
    """ADVICE r3: 1 <= n_rows < k returns the full traversal instead of
    raising on a None .first(); the id column keeps the input's type."""
    from open_ftth_relational_projector_spark.functions.clustering import (
        kcenter_select,
    )

    emb = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [3.0, 4.0])],
        "vec_id string, embedding array<float>",
    )
    out = kcenter_select(emb, k=5, id_col="vec_id")
    rows = sorted((r.sel_order, r.vec_id, r.dist) for r in out.collect())
    assert rows == [(1, "a", 0.0), (2, "b", 25.0)]
    assert dict(out.dtypes)["vec_id"] == "string"
