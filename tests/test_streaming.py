"""Batch/streaming equivalence (SURVEY §5.4) + exactly-once semantics (T5).

The invariant under test: for ANY split of one event log into dehydration
prefix + incremental micro-batches, the sink's final 8 tables equal the
all-batch fold. This pins the reference's bulk-vs-catch-up duality
(RelationalDatabaseProjection.cs:27, 226-264, 460-495) without replicating
its per-event DML.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
import uuid
from collections import Counter

import pytest

from open_ftth_relational_projector_spark.events.generator import (
    generate,
    to_envelope_rows,
)
from open_ftth_relational_projector_spark.events.oracle import FoldOracle
from open_ftth_relational_projector_spark.events.reader import EventLog
from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
from open_ftth_relational_projector_spark.projections import project_all
from open_ftth_relational_projector_spark.sinks import DuckDBSink
from open_ftth_relational_projector_spark.sinks.ddl import (
    PROJECTION_TABLES,
    SCHEMA,
    TABLE_COLUMNS,
)
from open_ftth_relational_projector_spark.streaming.runner import (
    ProjectionStream,
    apply_batch,
    dehydrate,
    write_envelope_batch,
)


def _canon(pdf, cols):
    return (
        pdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
    )


def _assert_sink_matches(sink, expected):
    for name, exp in expected.items():
        got = sink.read_table(name)
        cols = list(exp.columns)
        assert _canon(exp, cols).equals(_canon(got, cols)), (
            f"{name}: batch fold ({len(exp)} rows) != streamed sink "
            f"({len(got)} rows)"
        )


@pytest.fixture(scope="module")
def events():
    return generate(seed=11, scale=4)


@pytest.fixture(scope="module")
def envelopes(spark, events):
    rows = to_envelope_rows(events)
    df = spark.createDataFrame(rows, ENVELOPE_SCHEMA).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def expected_tables(envelopes):
    tables = project_all(EventLog.from_envelopes(envelopes))
    return {n: tables[n].toPandas() for n in PROJECTION_TABLES}


# the 11 private aux tables the driver replay maintains
AUX_TABLES = [t for t in TABLE_COLUMNS if t.startswith("_aux_")]


def _rows(sink, table):
    """A table's rows as a multiset (lists made hashable)."""
    cols = ", ".join(f'"{c}"' for c, _ in TABLE_COLUMNS[table])
    rows = sink.con.execute(f'SELECT {cols} FROM {SCHEMA}."{table}"').fetchall()
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in row) for row in rows
    )


def _spark_fold(envelopes):
    """A sink holding the Spark fold of ``envelopes`` and its watermark —
    the reference the driver fold is compared against."""
    from open_ftth_relational_projector_spark.streaming.runner import spark_fold

    tables, max_seq = spark_fold(envelopes)
    sink = DuckDBSink()
    sink.ensure_schema()
    sink.begin()
    for name, table in tables.items():
        sink.overwrite(name, table)
    sink.set_meta("watermark", str(max_seq))
    sink.commit()
    return sink


@pytest.fixture(scope="module")
def expected_aux(envelopes):
    """The aux tables the Spark fold writes for the whole log."""
    sink = _spark_fold(envelopes)
    return {t: _rows(sink, t) for t in AUX_TABLES}


def _stream_split(spark, envelopes, bounds, sink):
    dehydrate(envelopes.filter(f"seq <= {bounds[0]}"), sink)
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        batch = envelopes.filter(f"seq > {lo} AND seq <= {hi}")
        full = envelopes.filter(f"seq <= {hi}")
        apply_batch(full, batch, sink, batch_id=i)


@pytest.mark.parametrize("seed,n_cuts", [(42, 3), (7, 5), (1234, 2)])
def test_streaming_equivalence_random_split(
    spark, envelopes, expected_tables, expected_aux, seed, n_cuts
):
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    rng = random.Random(seed)
    cuts = sorted(rng.sample(range(1, max_seq), n_cuts))
    bounds = [*cuts, max_seq]
    sink = DuckDBSink()
    _stream_split(spark, envelopes, bounds, sink)
    _assert_sink_matches(sink, expected_tables)
    # every aux write of the driver replay agrees with the Spark fold
    assert len(AUX_TABLES) == 11
    for table in AUX_TABLES:
        assert _rows(sink, table) == expected_aux[table], table


def test_streaming_equivalence_per_event_tail(spark, envelopes, expected_tables):
    """Smallest batches: dehydrate all but the last 5 events, then apply
    them one at a time — the reference's steady-state shape."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    bounds = list(range(max_seq - 5, max_seq + 1))
    sink = DuckDBSink()
    _stream_split(spark, envelopes, bounds, sink)
    _assert_sink_matches(sink, expected_tables)


def test_dehydrate_only_equals_batch(spark, envelopes, expected_tables):
    sink = DuckDBSink()
    dehydrate(envelopes, sink)
    _assert_sink_matches(sink, expected_tables)


def test_sink_to_arrow_failure_propagates():
    """A Spark frame reaches the sink through ``toArrow`` only: its error
    surfaces, and the plan is never re-run through ``toPandas``."""
    import pandas as pd

    class FailingFrame:
        pandas_calls = 0

        def select(self, *cols):
            self.cols = list(cols)
            return self

        def toArrow(self):  # noqa: N802 - pyspark name
            raise RuntimeError("toArrow failed")

        def toPandas(self):  # noqa: N802 - pyspark name
            self.pandas_calls += 1
            return pd.DataFrame(columns=self.cols)

    sink = DuckDBSink()
    sink.ensure_schema()
    frame = FailingFrame()
    with pytest.raises(RuntimeError, match="toArrow failed"):
        sink.overwrite("work_task", frame)
    assert frame.pandas_calls == 0


def test_sink_replace_group_is_the_one_keyed_write():
    """``replace_group(table, keys, rows)`` deletes the rows of ``keys`` on
    the table's key column (group key, else single primary key) and
    inserts ``rows``: a key with no new row is a delete, other keys'
    rows stay, and ``merge`` replaces its rows' own keys."""
    import pyarrow as pa

    sink = DuckDBSink()
    sink.ensure_schema()

    def slack(ids, nodes, ends):
        return pa.table(
            {
                "id": ids,
                "route_node_id": nodes,
                "number_of_ends": pa.array(ends, pa.int32()),
            }
        )

    sink.append("conduit_slack", slack(["a", "b", "c"], ["n1", "n2", "n3"], [1, 2, 3]))
    # keyed on route_node_id, not id: n1 updated, n2 deleted, n3 kept
    sink.replace_group("conduit_slack", ["n1", "n2"], slack(["a2"], ["n1"], [5]))
    assert _rows(sink, "conduit_slack") == Counter(
        [("a2", "n1", 5), ("c", "n3", 3)]
    )
    sink.merge("conduit_slack", slack(["c2"], ["n3"], [4]))
    assert _rows(sink, "conduit_slack") == Counter(
        [("a2", "n1", 5), ("c2", "n3", 4)]
    )

    def rel(interests, elements):
        return pa.table(
            {
                "interest_id": interests,
                "route_network_element_id": elements,
                "seq_no": pa.array(range(1, len(elements) + 1), pa.int32()),
            }
        )

    table = "rel_interest_to_route_element"
    sink.append(table, rel(["i1", "i1", "i2", "i3"], ["e1", "e2", "e3", "e4"]))
    # i1 regrouped, i2 has no new row (deleted), i3 untouched
    sink.replace_group(table, ["i1", "i2"], rel(["i1"], ["e9"]))
    assert _rows(sink, table) == Counter([("i1", "e9", 1), ("i3", "e4", 4)])
    # no keys: a pure insert
    sink.replace_group(table, [], rel(["i4"], ["e5"]))
    assert _rows(sink, table)[("i4", "e5", 1)] == 1
    assert sink.lookup(table, ["interest_id", "seq_no"], "interest_id", ["i3", "x"]) == [
        ("i3", 4)
    ]


def test_sink_lookup_returns_null_as_none():
    """The driver replay's one read: NULL comes back as None in numeric,
    boolean and list columns, never as NaN."""
    import pyarrow as pa

    sink = DuckDBSink()
    sink.ensure_schema()
    sink.append(
        "_aux_struct_spec",
        pa.table(
            {
                "struct_spec_id": ["s1", "s2"],
                "outer_diameter": pa.array([40, None], pa.int32()),
            }
        ),
    )
    sink.append(
        "_aux_walk",
        pa.table(
            {
                "interest_id": ["i1", "i2"],
                "seq": pa.array([1, 2], pa.int64()),
                "walk": pa.array([["e1", "e2"], None], pa.list_(pa.string())),
            }
        ),
    )
    assert sorted(
        sink.lookup("_aux_struct_spec", ["struct_spec_id", "outer_diameter"],
                    "struct_spec_id", {"s1", "s2"})
    ) == [("s1", 40), ("s2", None)]
    walks = dict(
        sink.lookup("_aux_walk", ["interest_id", "walk"], "interest_id", ["i1", "i2"])
    )
    assert list(walks["i1"]) == ["e1", "e2"] and walks["i2"] is None
    assert sink.lookup("_aux_walk", ["interest_id"], "interest_id", []) == []


def test_batch_id_replay_skipped(spark, envelopes, expected_tables):
    """T5: a re-delivered (batch_id, data) pair is a no-op, and a genuine
    re-application of the same data is idempotent."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    batch = envelopes.filter(f"seq > {cut}")
    assert apply_batch(envelopes, batch, sink, batch_id=0) is True
    # same batch_id → skipped
    assert apply_batch(envelopes, batch, sink, batch_id=0) is False
    # different batch_id, same data → idempotent recompute
    assert apply_batch(envelopes, batch, sink, batch_id=1) is True
    _assert_sink_matches(sink, expected_tables)


@pytest.mark.parametrize(
    "cap,below", [(None, 0), (7, 0), (None, 3)], ids=["probe", "chunked", "overlap"]
)
def test_failed_apply_batch_leaves_sink_unchanged(
    spark, envelopes, expected_tables, monkeypatch, cap, below
):
    """T5 atomicity: a sink failure mid-batch rolls the whole micro-batch
    back — tables, aux state, and batch bookkeeping all revert, and the
    same batch then re-applies cleanly. (The reference's per-statement
    autocommit can strand a half-applied batch; PostgresWriter.cs:72-112.)
    With a small cap the batch replays in many chunks, all of which must
    roll back together; a batch starting ``below`` seqs under the
    watermark rebuilds every table, and all of them must roll back."""
    import open_ftth_relational_projector_spark.streaming.incremental as I
    from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS

    if cap is not None:
        monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", cap)
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    before = {n: sink.read_table(n) for n in TABLE_COLUMNS}
    batch = envelopes.filter(f"seq > {cut - below}")

    orig_set_meta = sink.set_meta

    def failing_set_meta(key, value):
        # fires inside the transaction, after every table mutation
        if key == "applied_batch":
            raise RuntimeError("sink failure mid-batch")
        orig_set_meta(key, value)

    sink.set_meta = failing_set_meta
    with pytest.raises(RuntimeError, match="sink failure mid-batch"):
        apply_batch(envelopes, batch, sink, batch_id=0)
    sink.set_meta = orig_set_meta

    assert sink.get_meta("applied_batch") is None
    assert sink.get_meta("watermark") == str(cut)
    for name, exp in before.items():
        got = sink.read_table(name)
        cols = list(exp.columns)
        assert _canon(exp, cols).equals(_canon(got, cols)), (
            f"{name} changed by a failed batch"
        )
    # the same batch applies cleanly after the failure
    assert apply_batch(envelopes, batch, sink, batch_id=0) is True
    assert sink.get_meta("watermark") == str(max_seq)
    _assert_sink_matches(sink, expected_tables)


def test_failed_dehydrate_leaves_sink_unchanged(spark, envelopes):
    """A sink failure partway through dehydrate rolls every overwrite
    back: re-dehydrating from a different log with the 5th table's write
    failing leaves all tables, aux included, and the watermark as the
    first dehydrate left them."""
    from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS

    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    before = {n: sink.read_table(n) for n in TABLE_COLUMNS}

    orig_overwrite = sink.overwrite
    written = []

    def failing_overwrite(table, df):
        written.append(table)
        if len(written) == 5:
            raise RuntimeError("sink failure mid-dehydrate")
        return orig_overwrite(table, df)

    sink.overwrite = failing_overwrite
    with pytest.raises(RuntimeError, match="sink failure mid-dehydrate"):
        dehydrate(envelopes, sink)
    sink.overwrite = orig_overwrite

    assert len(written) == 5
    assert sink.get_meta("watermark") == str(cut)
    for name, exp in before.items():
        got = sink.read_table(name)
        cols = list(exp.columns)
        assert _canon(exp, cols).equals(_canon(got, cols)), (
            f"{name} changed by a failed dehydrate"
        )


def test_driver_path_never_reads_accumulated_log(
    spark, envelopes, expected_tables, monkeypatch
):
    """A non-overlapping batch runs Spark jobs on the batch only: handed an
    accumulated log whose execution raises, it still applies and matches
    the batch fold — driver-sized, and oversized (replayed in chunks). An
    overlapping batch rebuilds from that log — and so raises."""
    from pyspark.sql import functions as F

    import open_ftth_relational_projector_spark.streaming.incremental as I

    poisoned = envelopes.withColumn(
        "payload",
        F.when(
            F.col("seq") > 0, F.raise_error(F.lit("accumulated log read"))
        ).otherwise(F.col("payload")).cast("string"),
    )
    # the poison survives optimisation: executing the frame raises
    with pytest.raises(Exception, match="accumulated log read"):
        poisoned.collect()

    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    batch = envelopes.filter(f"seq > {cut}")
    assert apply_batch(poisoned, batch, sink, batch_id=0) is True
    _assert_sink_matches(sink, expected_tables)

    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    overlapping = envelopes.filter(f"seq > {cut - 3}")
    with pytest.raises(Exception, match="accumulated log read"):
        apply_batch(poisoned, overlapping, sink, batch_id=0)
    assert sink.get_meta("watermark") == str(cut)

    monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", 7)
    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    assert apply_batch(poisoned, batch, sink, batch_id=0) is True
    _assert_sink_matches(sink, expected_tables)
    assert sink.get_meta("watermark") == str(max_seq)


def test_duplicated_batch_rows_apply_once(
    spark, envelopes, expected_tables, monkeypatch
):
    """A batch holding every row twice (a re-read file) applies as if
    each row came once — from the probe, where apply_batch dedups the
    collected rows, and in chunks under a small cap, where the copies of a
    row would fall into different chunks unless the chunk source dedups.
    Both must also leave the aux tables (the appended edge sets later
    batches fold) exactly as a single copy of the batch does."""
    import open_ftth_relational_projector_spark.streaming.incremental as I
    from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS

    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    tail = envelopes.filter(f"seq > {cut}")

    def applied(batch):
        sink = DuckDBSink()
        dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
        apply_batch(envelopes, batch, sink, batch_id=0)
        return sink

    sink = applied(tail.unionAll(tail))
    _assert_sink_matches(sink, expected_tables)
    once = applied(tail)
    _assert_sink_matches(sink, {n: once.read_table(n) for n in TABLE_COLUMNS})

    monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", 7)
    sink = applied(tail.unionAll(tail))
    _assert_sink_matches(sink, expected_tables)
    _assert_sink_matches(sink, {n: once.read_table(n) for n in TABLE_COLUMNS})


def test_structured_streaming_available_now(spark, envelopes, expected_tables):
    """Real readStream → foreachBatch drain over a file source (S2/T1)."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 3
    tmp = tempfile.mkdtemp(prefix="ofrp_stream_")
    events_dir, bronze, cp = f"{tmp}/in", f"{tmp}/bronze", f"{tmp}/cp"
    try:
        sink = DuckDBSink()
        prefix = envelopes.filter(f"seq <= {cut}")
        dehydrate(prefix, sink)
        prefix.write.mode("overwrite").parquet(bronze)

        third = (max_seq - cut) // 2
        write_envelope_batch(
            envelopes.filter(f"seq > {cut} AND seq <= {cut + third}"),
            events_dir,
            0,
        )
        write_envelope_batch(
            envelopes.filter(f"seq > {cut + third}"), events_dir, 1
        )

        stream = ProjectionStream(spark, events_dir, sink, bronze, cp)
        q = stream.start(available_now=True)
        assert stream.healthy() or q.isActive is False
        q.awaitTermination(240)
        _assert_sink_matches(sink, expected_tables)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_latest_before_strict():
    from open_ftth_relational_projector_spark.streaming.incremental import (
        _latest_before,
    )

    versions = [(2, "a"), (5, None), (9, "b")]
    assert _latest_before(versions, 1) is None
    assert _latest_before(versions, 2) is None  # strict: vseq < seq
    assert _latest_before(versions, 3) == (2, "a")
    assert _latest_before(versions, 6) == (5, None)  # tombstone visible
    assert _latest_before(versions, 100) == (9, "b")


def test_edge_context_resolves_against_sink_registry(spark):
    """A batch affix referencing a root segment REGISTERED IN AN EARLIER
    BATCH must resolve through the sink aux registry, and an intervening
    removal must tombstone it."""
    from open_ftth_relational_projector_spark.streaming.incremental import (
        build_edge_context,
    )

    sink = DuckDBSink()
    sink.ensure_schema()
    sink.append(
        "_aux_root_segment",
        __import__("pyarrow").table(
            {
                "root_segment_id": ["seg-p1", "seg-p2", "seg-p2"],
                "seq": [1, 2, 6],
                "parent_id": ["p1", "p2", None],  # p2 removed at seq 6
            }
        ),
    )
    parsed = [
        (10, "SpanEquipmentAffixedToParent",
         {"spanEquipmentId": "c1",
          "newUtilityHopList": [{"parentAffixes": [{"spanSegmentId": "seg-p1"}]}]}),
        (11, "SpanEquipmentAffixedToParent",
         {"spanEquipmentId": "c2",
          "newUtilityHopList": [{"parentAffixes": [{"spanSegmentId": "seg-p2"}]}]}),
    ]
    ids = {"span": ["c1", "c2"], "cable": ["c1", "c2"]}
    writes = build_edge_context(parsed, ids, sink)
    _, new_edges = writes["_aux_affix_edge"]
    resolved = sorted(
        zip(
            new_edges.column("child_id").to_pylist(),
            new_edges.column("parent_id").to_pylist(),
        )
    )
    # c1 -> p1 resolves; c2's parent was tombstoned before the affix
    assert resolved == [("c1", "p1")]
    # the fold keys (touched spans ∪ affix parents) key the slack-end write
    all_eq, _ = writes["_aux_slack_end"]
    assert set(all_eq) == {"c1", "c2", "p1"}


def test_spec_only_batch_feeds_later_placements(spark, envelopes, expected_tables):
    """A batch containing ONLY spec-add events (no span entities) must still
    land in the aux spec registry, so placements in LATER batches resolve
    spec_name/outer_diameter — the regression behind the seed-42 split."""
    from open_ftth_relational_projector_spark.streaming.replay import (
        fold_spec_registry,
    )

    parsed = [
        (2, "SpanStructureSpecificationAdded",
         {"specification": {"id": "ss1", "outerDiameter": 40}}),
        (3, "SpanEquipmentSpecificationAdded",
         {"specification": {"id": "sp1", "name": "Conduit Ø40",
                            "rootTemplate": {"spanStructureSpecificationId": "ss1"}}}),
        # same key re-added later in the batch: last one wins
        (4, "SpanEquipmentSpecificationAdded",
         {"specification": {"id": "sp1", "name": "Conduit Ø40 v2",
                            "rootTemplate": {"spanStructureSpecificationId": "ss1"}}}),
    ]
    out = fold_spec_registry(parsed)
    assert out["_aux_span_spec"].to_pylist() == [
        {"spec_id": "sp1", "name": "Conduit Ø40 v2", "struct_spec_id": "ss1",
         "is_cable": None}
    ]
    assert out["_aux_struct_spec"].to_pylist() == [
        {"struct_spec_id": "ss1", "outer_diameter": 40}
    ]
    assert fold_spec_registry([(1, "SpanEquipmentMoved", {})]) == {}

    # end-to-end: batch boundaries straddling the generator's spec block
    # (seqs 14-40 at scale=4/seed=11 are all spec adds)
    sink = DuckDBSink()
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    _stream_split(spark, envelopes, [10, 30, max_seq], sink)
    _assert_sink_matches(sink, expected_tables)


def test_fold_has_child_matches_spark_fold(spark):
    """The driver-side has-child fold must agree with the Spark
    _has_child_final over a full generated log's edge/detach sets."""
    from open_ftth_relational_projector_spark.projections.core import (
        _has_child_final,
        _parent_edges,
    )
    from open_ftth_relational_projector_spark.streaming.incremental import (
        _fold_has_child,
    )
    from pyspark.sql import functions as F

    env = spark.createDataFrame(
        to_envelope_rows(generate(seed=7, scale=15)), ENVELOPE_SCHEMA
    )
    log = EventLog.from_envelopes(env)
    edges_df = _parent_edges(log)
    edges = [
        (r.child_id, r.seq, r.parent_id)
        for r in edges_df.select("child_id", "seq", "parent_id").collect()
    ]
    detaches = [
        (r.child_id, r.seq)
        for r in log.of("SpanEquipmentDetachedFromParent")
        .select(F.col("spanEquipmentId").alias("child_id"), "seq")
        .collect()
    ]
    spark_rows = {
        (r.id, r.has_child) for r in _has_child_final(log).collect()
    }
    driver_rows = set(_fold_has_child(edges, detaches))
    assert driver_rows == spark_rows
    assert len(driver_rows) > 0


def test_apply_batch_oversized_batch_replays_in_chunks(spark, monkeypatch):
    """A batch above MAX_DRIVER_BATCH_ROWS stays on the driver path: after
    the bounded probe (cap + 1 rows) it streams in seq order, at most cap
    rows per chunk, every row exactly once; the rebuild never runs; and
    the tables match the batch fold — the bounded-catch-up
    guarantee for a post-downtime backlog batch."""
    import open_ftth_relational_projector_spark.streaming.incremental as I
    import open_ftth_relational_projector_spark.streaming.runner as R

    env = spark.createDataFrame(
        to_envelope_rows(generate(seed=21, scale=6)), ENVELOPE_SCHEMA
    ).cache()
    tables = project_all(EventLog.from_envelopes(env))
    expected = {n: tables[n].toPandas() for n in PROJECTION_TABLES}

    max_seq = env.agg({"seq": "max"}).collect()[0][0]
    cut = int(max_seq * 0.5)
    cap = 40
    monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", cap)

    real_probe, real_chunks = R._probe_collect, R._seq_chunks
    pulls, chunk_seqs = [], []

    def bounded_probe(batch_envelopes, c):
        rows = real_probe(batch_envelopes, c)
        pulls.append(len(rows))
        return rows

    def bounded_chunks(batch_envelopes, c):
        for chunk in real_chunks(batch_envelopes, c):
            pulls.append(len(chunk))
            chunk_seqs.extend(r.seq for r in chunk)
            yield chunk

    def no_recompute(*_args, **_kwargs):
        raise AssertionError("compute_deltas ran on the driver path")

    sink = DuckDBSink()
    dehydrate(env.filter(f"seq <= {cut}"), sink)
    monkeypatch.setattr(R, "_probe_collect", bounded_probe)
    monkeypatch.setattr(R, "_seq_chunks", bounded_chunks)
    monkeypatch.setattr(R, "compute_deltas", no_recompute)
    batch = env.filter(f"seq > {cut}")
    # uncoalesced, the deduped batch spans several shuffle partitions, so
    # seq order across chunks must come from the chunk source's sort
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert apply_batch(env, batch, sink, batch_id=0) is True
    finally:
        spark.conf.set(key, prev)

    assert len(pulls) > 2 and max(pulls) <= cap + 1
    assert chunk_seqs == sorted(r.seq for r in batch.select("seq").collect())
    assert sink.get_meta("watermark") == str(max_seq)
    _assert_sink_matches(sink, expected)


def test_overlapping_batch_rebuilds_from_accumulated_log(
    spark, envelopes, expected_tables, monkeypatch
):
    """A batch whose smallest seq is at or below the watermark rebuilds
    every table from the accumulated log through the driver fold,
    ``compute_deltas``; the Spark fold never runs.

    * An oversized one (partly re-delivered backlog) runs the fold once,
      pulls no chunk of the batch past the first, streams the log in
      seq-ordered chunks, and ends at the log's max seq.
    * A late event (an unapplied seq under the watermark) lands: the sink
      then equals the fold of the log it arrived into."""
    from pyspark.sql import functions as F

    import open_ftth_relational_projector_spark.streaming.incremental as I
    import open_ftth_relational_projector_spark.streaming.runner as R

    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", 7)
    real_chunks, real_fold = R._seq_chunks, R.compute_deltas
    batch = envelopes.filter(f"seq > {cut - 3}")
    batch_pulls, log_pulls, folds, spark_folds = [], [], [], []

    def counted_chunks(batch_envelopes, c):
        pulls = batch_pulls if batch_envelopes is batch else log_pulls
        for chunk in real_chunks(batch_envelopes, c):
            pulls.append(len(chunk))
            yield chunk

    def counted_fold(full, sink):
        folds.append(full)
        return real_fold(full, sink)

    sink = DuckDBSink()
    dehydrate(envelopes.filter(f"seq <= {cut}"), sink)
    monkeypatch.setattr(R, "_seq_chunks", counted_chunks)
    monkeypatch.setattr(R, "compute_deltas", counted_fold)
    monkeypatch.setattr(R, "spark_fold", lambda *a: spark_folds.append(a))
    assert apply_batch(envelopes, batch, sink, batch_id=0) is True
    assert batch_pulls == [7]
    assert len(log_pulls) >= 3 and max(log_pulls) <= 7
    assert len(folds) == 1 and folds[0] is envelopes
    assert spark_folds == []
    assert sink.get_meta("watermark") == str(max_seq)
    _assert_sink_matches(sink, expected_tables)

    # late arrival: seq k was missing when the prefix was dehydrated
    prefix = envelopes.filter(f"seq <= {cut}")
    k = prefix.filter(
        F.col("event_type").isin(list(I.AFFECTED)) & (F.col("seq") < cut)
    ).agg(F.max("seq")).collect()[0][0]
    tables = project_all(EventLog.from_envelopes(prefix))
    expected = {n: tables[n].toPandas() for n in PROJECTION_TABLES}
    sink = DuckDBSink()
    dehydrate(prefix.filter(f"seq != {k}"), sink)
    with pytest.raises(AssertionError):
        _assert_sink_matches(sink, expected)
    assert apply_batch(
        prefix, envelopes.filter(f"seq = {k}"), sink, batch_id=0
    ) is True
    assert sink.get_meta("watermark") == str(cut)
    _assert_sink_matches(sink, expected)


def test_backlog_replay_bounded_batches(spark, envelopes, expected_tables):
    """Long-downtime catch-up: many landed batch files drain under
    maxFilesPerTrigger=1, so every micro-batch holds one poll interval of
    events (bounded driver rows) instead of the whole backlog — and the
    final tables still equal the batch replay."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 3
    tmp = tempfile.mkdtemp(prefix="ofrp_backlog_")
    events_dir, bronze, cp = f"{tmp}/in", f"{tmp}/bronze", f"{tmp}/cp"
    try:
        sink = DuckDBSink()
        prefix = envelopes.filter(f"seq <= {cut}")
        dehydrate(prefix, sink)
        prefix.write.mode("overwrite").parquet(bronze)

        # the "downtime backlog": 5 poll intervals landed before restart
        n_files = 5
        step = (max_seq - cut) // n_files + 1
        for i in range(n_files):
            lo, hi = cut + i * step, min(cut + (i + 1) * step, max_seq)
            if lo >= max_seq:
                break
            write_envelope_batch(
                envelopes.filter(f"seq > {lo} AND seq <= {hi}"), events_dir, i
            )

        stream = ProjectionStream(
            spark, events_dir, sink, bronze, cp, max_files_per_trigger=1
        )
        batch_sizes = []
        orig_process = stream._process

        def counting_process(batch_df, batch_id):
            batch_sizes.append(batch_df.count())
            orig_process(batch_df, batch_id)

        stream._process = counting_process
        q = stream.start(available_now=True)
        q.awaitTermination(240)
        # one landed file per micro-batch: the backlog drained in ≥ n_files
        # bounded slices, never as one giant batch
        assert len(batch_sizes) >= n_files
        total = envelopes.filter(f"seq > {cut}").count()
        assert sum(batch_sizes) == total
        assert max(batch_sizes) < total
        _assert_sink_matches(sink, expected_tables)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cable_nonretrigger_and_walk_version_resolution(spark):
    """Hand-crafted adversarial sequence for the driver-side cable replay:

    * batch 1 re-places the equipment with a NON-cable spec AND modifies
      the walk — NOT a valid trigger, so the cable rows must stay at the
      original placement's walk resolution (the distributed path would
      rewrite identical rows; the replay must not delete them);
    * batch 2 affixes the equipment — a real trigger — so the rows must
      re-resolve against the MODIFIED walk.
    Final state is checked against the full-log batch fold at each step.
    """
    import json

    from open_ftth_relational_projector_spark.operators.arrays import EMPTY_GUID

    def seg(root):
        return [{"spanSegments": [{
            "id": root, "fromNodeOfInterestIndex": 0,
            "toNodeOfInterestIndex": 1,
            "fromTerminalId": EMPTY_GUID, "toTerminalId": EMPTY_GUID,
        }]}]

    E, I, P = "eq-1", "int-1", "parent-1"
    events = [
        (1, "SpanStructureSpecificationAdded",
         {"specification": {"id": "ss", "outerDiameter": 40}}),
        (2, "SpanEquipmentSpecificationAdded",
         {"specification": {"id": "cable-spec", "name": "Fiber", "isCable": True,
                            "rootTemplate": {"spanStructureSpecificationId": "ss"}}}),
        (3, "SpanEquipmentSpecificationAdded",
         {"specification": {"id": "plain-spec", "name": "Conduit", "isCable": False,
                            "rootTemplate": {"spanStructureSpecificationId": "ss"}}}),
        (4, "WalkOfInterestRegistered",
         {"interest": {"id": I, "routeNetworkElementRefs": ["n1", "n2", "n3"]}}),
        (5, "WalkOfInterestRegistered",
         {"interest": {"id": "int-p", "routeNetworkElementRefs": ["n1", "n9"]}}),
        (6, "SpanEquipmentPlacedInRouteNetwork",
         {"equipment": {"id": P, "name": "parent", "specificationId": "plain-spec",
                        "walkOfInterestId": "int-p", "nodesOfInterestIds": ["n1", "n9"],
                        "isCable": False, "spanStructures": seg("rs-p"),
                        "utilityNetworkHops": None, "addressInfo": None}}),
        (7, "SpanEquipmentPlacedInRouteNetwork",  # cable trigger @7
         {"equipment": {"id": E, "name": "cable", "specificationId": "cable-spec",
                        "walkOfInterestId": I, "nodesOfInterestIds": ["n1", "n3"],
                        "isCable": True, "spanStructures": seg("rs-e"),
                        "utilityNetworkHops": None, "addressInfo": None}}),
        # --- batch 1: walk modified, then NON-cable re-placement (no trigger)
        (8, "WalkOfInterestRouteNetworkElementsModified",
         {"interestId": I, "routeNetworkElementIds": ["n4", "n5"]}),
        (9, "SpanEquipmentPlacedInRouteNetwork",
         {"equipment": {"id": E, "name": "cable2", "specificationId": "plain-spec",
                        "walkOfInterestId": I, "nodesOfInterestIds": ["n4", "n5"],
                        "isCable": False, "spanStructures": seg("rs-e"),
                        "utilityNetworkHops": None, "addressInfo": None}}),
        # --- batch 2: affix = real trigger → resolves the MODIFIED walk
        (10, "SpanEquipmentAffixedToParent",
         {"spanEquipmentId": E,
          "newUtilityHopList": [{"fromNodeId": "zz", "toNodeId": "zz",
                                 "parentAffixes": [{"spanSegmentId": "rs-p"}]}]}),
    ]
    rows = [(s, t, json.dumps(p)) for s, t, p in events]
    env = spark.createDataFrame(rows, ENVELOPE_SCHEMA).cache()

    def rel_rows(sink):
        return sorted(
            map(
                tuple,
                sink.fetch_df(
                    'SELECT fiber_cable_id, route_network_element_id, seq_no '
                    'FROM utility_network."rel_fiber_cable_to_route_element"'
                ).itertuples(index=False, name=None),
            )
        )

    sink = DuckDBSink()
    dehydrate(env.filter("seq <= 7"), sink)
    assert rel_rows(sink) == [(E, "n1", 1), (E, "n2", 2), (E, "n3", 3)]

    apply_batch(env.filter("seq <= 9"), env.filter("seq IN (8, 9)"), sink, batch_id=0)
    # non-trigger batch: rows still resolve the ORIGINAL placement's walk
    assert rel_rows(sink) == [(E, "n1", 1), (E, "n2", 2), (E, "n3", 3)]

    apply_batch(env.filter("seq <= 10"), env.filter("seq = 10"), sink, batch_id=1)
    # affix trigger re-resolves against the modified walk
    assert rel_rows(sink) == [(E, "n4", 1), (E, "n5", 2)]

    # and the whole sink equals the batch fold of the full log
    tables = project_all(EventLog.from_envelopes(env))
    _assert_sink_matches(
        sink, {n: tables[n].toPandas() for n in PROJECTION_TABLES}
    )


def test_service_termination_giveup_guards_across_batches(spark):
    """The three give-up guards under batch boundaries: a terminal placed
    (a) after its container was removed in a PREVIOUS batch → dropped,
    (b) before its spec exists (spec arrives later in the SAME batch) →
    dropped (frozen-at-use as-of semantics: late specs don't resurrect),
    (c) with everything resolvable → kept, with the container's node."""
    import json

    events = [
        (1, "NodeContainerSpecificationAdded",
         {"specification": {"id": "ncs", "name": "Cab", "category": "cab"}}),
        (2, "TerminalEquipmentSpecificationAdded",
         {"specification": {"id": "ts-ok", "isCustomerTermination": True}}),
        (3, "NodeContainerPlacedInRouteNetwork",
         {"container": {"id": "c1", "routeNodeId": "rn1", "specificationId": "ncs"}}),
        (4, "NodeContainerPlacedInRouteNetwork",
         {"container": {"id": "c2", "routeNodeId": "rn2", "specificationId": "ncs"}}),
        # --- batch 1: c2 removed
        (5, "NodeContainerRemovedFromRouteNetwork", {"nodeContainerId": "c2"}),
        # --- batch 2: three placements exercising the guards
        (6, "TerminalEquipmentPlacedInNodeContainer",  # (a) container gone
         {"equipment": {"id": "t-a", "name": "A", "specificationId": "ts-ok",
                        "nodeContainerId": "c2", "addressInfo": None}}),
        (7, "TerminalEquipmentPlacedInNodeContainer",  # (b) spec not yet added
         {"equipment": {"id": "t-b", "name": "B", "specificationId": "ts-late",
                        "nodeContainerId": "c1", "addressInfo": None}}),
        (8, "TerminalEquipmentSpecificationAdded",  # arrives AFTER t-b
         {"specification": {"id": "ts-late", "isCustomerTermination": True}}),
        (9, "TerminalEquipmentPlacedInNodeContainer",  # (c) all resolvable
         {"equipment": {"id": "t-c", "name": "C", "specificationId": "ts-ok",
                        "nodeContainerId": "c1",
                        "addressInfo": {"accessAddressId": "aa",
                                        "unitAddressId": None}}}),
    ]
    rows = [(s, t, json.dumps(p)) for s, t, p in events]
    env = spark.createDataFrame(rows, ENVELOPE_SCHEMA).cache()

    sink = DuckDBSink()
    dehydrate(env.filter("seq <= 4"), sink)
    apply_batch(env.filter("seq <= 5"), env.filter("seq = 5"), sink, batch_id=0)
    apply_batch(env.filter("seq <= 9"), env.filter("seq > 5"), sink, batch_id=1)

    got = sorted(
        map(tuple, sink.fetch_df(
            'SELECT id, route_node_id, name FROM utility_network."service_termination"'
        ).itertuples(index=False, name=None))
    )
    assert got == [("t-c", "rn1", "C")]

    tables = project_all(EventLog.from_envelopes(env))
    _assert_sink_matches(
        sink, {n: tables[n].toPandas() for n in PROJECTION_TABLES}
    )


def test_projection_stream_checkpoint_restart(spark, envelopes, expected_tables):
    """T2/T5 across process generations: drain part of the backlog, STOP
    the query, land more files, start a FRESH ProjectionStream on the
    same checkpoint — the restarted query must resume from the
    checkpoint (not re-apply run 1's files) and the final tables must
    equal the batch replay."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 3
    mid = cut + (max_seq - cut) // 2
    tmp = tempfile.mkdtemp(prefix="ofrp_restart_")
    events_dir, bronze, cp = f"{tmp}/in", f"{tmp}/bronze", f"{tmp}/cp"
    try:
        sink = DuckDBSink()
        prefix = envelopes.filter(f"seq <= {cut}")
        dehydrate(prefix, sink)
        prefix.write.mode("overwrite").parquet(bronze)

        write_envelope_batch(
            envelopes.filter(f"seq > {cut} AND seq <= {mid}"), events_dir, 0
        )
        s1 = ProjectionStream(spark, events_dir, sink, bronze, cp)
        q1 = s1.start(available_now=True)
        q1.awaitTermination(240)

        # second generation: new files, fresh query object, same checkpoint
        write_envelope_batch(
            envelopes.filter(f"seq > {mid}"), events_dir, 1
        )
        applied_before = sink.get_meta("applied_batch")
        s2 = ProjectionStream(spark, events_dir, sink, bronze, cp)
        q2 = s2.start(available_now=True)
        q2.awaitTermination(240)

        # the restarted query processed only the NEW file (batch ids
        # continue, they don't reset to 0 and re-apply run 1's data)
        assert sink.get_meta("applied_batch") != applied_before
        _assert_sink_matches(sink, expected_tables)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _oracle_rows(events):
    """The 8 public tables of the Python fold oracle, as multisets."""
    oracle = FoldOracle()
    oracle.run(events)
    return {name: Counter(rows) for name, rows in oracle.tables().items()}


def _public_rows(sink, table):
    """A public table's rows in the oracle's columns (it omits
    conduit_slack's id, a hash of route_node_id)."""
    cols = ", ".join(
        f'"{c}"' for c, _ in TABLE_COLUMNS[table] if (table, c) != ("conduit_slack", "id")
    )
    return Counter(
        sink.con.execute(f'SELECT {cols} FROM {SCHEMA}."{table}"').fetchall()
    )


def _assert_sink_matches_oracle(sink, oracle):
    for table in PROJECTION_TABLES:
        assert _public_rows(sink, table) == oracle[table], table


@pytest.mark.parametrize(
    "seed,dup_every", [(3, None), (17, None), (29, None), (41, 7)],
    ids=["seed3", "seed17", "seed29", "seed41-every7th-twice"],
)
def test_dehydrate_gate_both_ways(spark, monkeypatch, seed, dup_every):
    """dehydrate sizes the log with the bounded probe and folds it on the
    driver over emptied tables either way: as the probe's one chunk when
    it fits (the cap left alone), in seq-ordered chunks when the cap is
    monkeypatched below the log size. The Spark fold never runs, and both
    leave all 19 fold tables and the watermark equal, as multisets, to the
    Spark fold, the tests' reference; the 8 public tables
    equal the Python fold oracle — also for a log holding every
    ``dup_every``-th row twice."""
    import open_ftth_relational_projector_spark.streaming.incremental as I
    import open_ftth_relational_projector_spark.streaming.runner as R

    events = generate(seed=seed, scale=3)
    rows = to_envelope_rows(events)
    if dup_every:
        rows += rows[::dup_every]
    env = spark.createDataFrame(rows, ENVELOPE_SCHEMA).cache()
    reference = _spark_fold(env)

    def no_fold(*_args, **_kwargs):
        raise AssertionError("dehydrate ran the Spark fold")

    real_chunks, chunks = R._seq_chunks, []

    def counted_chunks(batch_envelopes, c):
        for chunk in real_chunks(batch_envelopes, c):
            chunks.append(len(chunk))
            yield chunk

    monkeypatch.setattr(R, "spark_fold", no_fold)
    monkeypatch.setattr(R, "_seq_chunks", counted_chunks)
    one_chunk = DuckDBSink()
    assert dehydrate(env, one_chunk) == len(events)
    assert chunks == []
    cap = len(events) // 3
    monkeypatch.setattr(I, "MAX_DRIVER_BATCH_ROWS", cap)
    chunked = DuckDBSink()
    assert dehydrate(env, chunked) == len(events)
    assert len(chunks) >= 3 and max(chunks) <= cap and sum(chunks) == len(events)

    assert len(TABLE_COLUMNS) == 20  # the 19 fold tables + the meta table
    for table in TABLE_COLUMNS:
        assert _rows(one_chunk, table) == _rows(reference, table), table
        assert _rows(chunked, table) == _rows(reference, table), table
    oracle = _oracle_rows(events)
    _assert_sink_matches_oracle(one_chunk, oracle)
    _assert_sink_matches_oracle(chunked, oracle)
    env.unpersist()


def test_dehydrate_empty_log(spark):
    """An empty log takes the driver fold: every table is emptied and the
    watermark is 0."""
    sink = DuckDBSink()
    envelopes = spark.createDataFrame(to_envelope_rows(generate(seed=3, scale=1)), ENVELOPE_SCHEMA)
    dehydrate(envelopes, sink)
    assert dehydrate(spark.createDataFrame([], ENVELOPE_SCHEMA), sink) == 0
    assert sink.get_meta("watermark") == "0"
    for table in TABLE_COLUMNS:
        if table != "_projector_meta":
            assert sink.read_table(table).empty, table


def _jobs_run(spark, fn):
    """The number of Spark jobs ``fn`` runs, counted under a job group of
    its own."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4()}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spark_jobs_per_dehydrate_and_trigger(spark, envelopes, expected_tables):
    """A driver-sized dehydrate runs 1 Spark job (the Spark fold ran 92 on
    perfbench's log), and so does a probe-sized catch-up trigger: the
    probe. The probe reads its input as one partition, so the count holds
    for an input of the session's default partitioning and of 16
    partitions alike. The same trigger re-delivered rebuilds from bronze
    in 2 jobs, the batch's probe and the log's (the Spark fold ran 19
    under the group, its fan-out threads outside it)."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut = max_seq // 2
    tmp = tempfile.mkdtemp(prefix="ofrp_jobs_")
    try:
        prefix = envelopes.filter(f"seq <= {cut}")
        wide = spark.createDataFrame(
            spark.sparkContext.parallelize(prefix.collect(), 16), ENVELOPE_SCHEMA
        )
        assert wide.rdd.getNumPartitions() == 16
        sink = DuckDBSink()
        assert _jobs_run(spark, lambda: dehydrate(wide, sink)) == 1
        sink = DuckDBSink()
        assert _jobs_run(spark, lambda: dehydrate(prefix, sink)) == 1
        path = write_envelope_batch(envelopes.filter(f"seq > {cut}"), f"{tmp}/in", 0)
        batch = spark.read.schema(ENVELOPE_SCHEMA).json(path)
        prefix.write.parquet(f"{tmp}/bronze")
        stream = ProjectionStream(spark, f"{tmp}/in", sink, f"{tmp}/bronze", f"{tmp}/cp")
        assert _jobs_run(spark, lambda: stream._process(batch, 0)) == 1
        _assert_sink_matches(sink, expected_tables)
        assert _jobs_run(spark, lambda: stream._process(batch, 1)) == 2
        assert sink.get_meta("applied_batch") == "1"
        _assert_sink_matches(sink, expected_tables)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_driver_written_bronze(spark, envelopes, events):
    """A probe-sized trigger appends its rows to bronze from the driver:
    one parquet file that Spark reads back with ENVELOPE_SCHEMA as the
    batch, with no dot-prefixed temp file left behind; an empty trigger
    writes nothing. A sink failure at commit, after the append, leaves the
    rows in bronze and the sink unchanged, and the re-run trigger — the
    stream's retry after a crash in that window — yields the oracle
    tables. Bronze is read only by an overlapping batch's rebuild, which
    folds it (duplicates included) to the oracle tables again. A bronze
    URI is rejected: the driver writes bronze as a local path."""
    max_seq = envelopes.agg({"seq": "max"}).collect()[0][0]
    cut, mid = max_seq // 3, 2 * max_seq // 3
    oracle = _oracle_rows(events)
    tmp = tempfile.mkdtemp(prefix="ofrp_bronze_")
    landing, bronze = f"{tmp}/in", f"{tmp}/bronze"
    try:
        sink = DuckDBSink()
        prefix = envelopes.filter(f"seq <= {cut}")
        dehydrate(prefix, sink)
        prefix.write.parquet(bronze)
        with pytest.raises(ValueError, match="local path"):
            ProjectionStream(spark, landing, sink, f"file://{bronze}", f"{tmp}/cp")
        stream = ProjectionStream(spark, landing, sink, bronze, f"{tmp}/cp")
        real_bronze, bronze_reads = stream._bronze, []

        def counted_bronze():
            bronze_reads.append(1)
            return real_bronze()

        stream._bronze = counted_bronze

        def parts():
            return sorted(f for f in os.listdir(bronze) if f.endswith(".parquet"))

        def dot_files():
            return [f for f in os.listdir(bronze) if f.startswith(".")
                    and not f.endswith(".crc")]

        def landed(lo, hi, n):
            path = write_envelope_batch(
                envelopes.filter(f"seq > {lo} AND seq <= {hi}"), landing, n
            )
            return spark.read.schema(ENVELOPE_SCHEMA).json(path)

        spark_parts = parts()
        first = landed(cut, mid, 0)
        stream._process(first, 0)
        (new,) = set(parts()) - set(spark_parts)
        assert dot_files() == []
        back = spark.read.schema(ENVELOPE_SCHEMA).parquet(f"{bronze}/{new}")
        assert Counter(back.collect()) == Counter(first.collect())

        stream._process(spark.createDataFrame([], ENVELOPE_SCHEMA), 1)
        assert len(parts()) == len(spark_parts) + 1
        assert sink.get_meta("applied_batch") == "0"

        second = landed(mid, max_seq, 1)
        real_commit = sink.commit

        def failing_commit():
            raise RuntimeError("sink failure at commit")

        sink.commit = failing_commit
        with pytest.raises(RuntimeError, match="sink failure at commit"):
            stream._process(second, 2)
        sink.commit = real_commit
        assert sink.get_meta("watermark") == str(mid)
        assert len(parts()) == len(spark_parts) + 2
        everything = spark.read.schema(ENVELOPE_SCHEMA).parquet(bronze)
        assert everything.filter(f"seq > {mid}").count() == max_seq - mid

        stream._process(second, 2)
        assert sink.get_meta("watermark") == str(max_seq)
        _assert_sink_matches_oracle(sink, oracle)
        assert bronze_reads == []

        # re-delivered: overlaps the watermark, rebuilds from bronze
        stream._process(first, 3)
        assert bronze_reads == [1]
        assert sink.get_meta("watermark") == str(max_seq)
        _assert_sink_matches_oracle(sink, oracle)
        assert dot_files() == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
