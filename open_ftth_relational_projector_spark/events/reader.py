"""Event-log reader: envelope scan + type dispatch + JSON parse (S1/S3/S4).

The reference replays envelopes through a 27-way type switch
(RelationalDatabaseProjection.cs:90-221). Spark-first, dispatch is a filter
per type over one scan — Catalyst pushes ``event_type = 'X'`` into the
parquet scan, and each projection reads only the payloads it consumes.

``EventLog`` is the seam between the raw stream and the projection
expression core: projections consume *typed* per-event DataFrames, so tests
and driver queries can inject typed events directly (no JSON round-trip)
while production reads JSON envelopes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from open_ftth_relational_projector_spark.events.schemas import PAYLOAD_SCHEMAS


class EventLog:
    """Typed access to an event stream.

    ``of(event_type)`` → DataFrame of (seq, <payload fields...>) for that
    type, payload struct flattened one level.
    """

    def __init__(
        self,
        typed: dict[str, DataFrame],
        spark: SparkSession,
        raw: DataFrame | None = None,
    ):
        self._typed = typed
        self._spark = spark
        self._raw = raw

    @classmethod
    def from_envelopes(cls, raw: DataFrame) -> "EventLog":
        """raw: (seq long, event_type string, payload json-string).

        Typed streams are derived LAZILY on first ``of()`` access: a
        micro-batch touches a handful of the 27 types, and building every
        filter+parse plan upfront costs ~0.5 s of py4j round-trips per
        batch for plans that are never executed.
        """
        return cls({}, raw.sparkSession, raw=raw)

    @classmethod
    def from_typed(cls, spark: SparkSession, typed: dict[str, DataFrame]) -> "EventLog":
        return cls(dict(typed), spark)

    def of(self, event_type: str) -> DataFrame:
        if event_type in self._typed:
            return self._typed[event_type]
        if self._raw is not None and event_type in PAYLOAD_SCHEMAS:
            df = (
                self._raw.filter(F.col("event_type") == event_type)
                .select(
                    "seq",
                    F.from_json("payload", PAYLOAD_SCHEMAS[event_type]).alias("p"),
                )
                .select("seq", "p.*")
            )
            self._typed[event_type] = df
            return df
        # absent type → empty DataFrame with the right flattened schema
        return self._spark.createDataFrame([], _flat_schema(event_type))

    def persisted(self, eager: bool = True) -> "EventLog":
        """Stop consumers re-reading the envelope source.

        When the log came from envelopes, persist the RAW envelope frame and
        prime it eagerly: the ~27 typed streams then re-derive from the
        cached scan, and a type's filter+parse over a cached partition is
        microseconds — materializing 27 separate caches costs far more in
        stage scheduling than the parse it saves (measured 2× on the full
        8-table fold). For a typed-injection log there is no raw frame, so
        each typed stream persists lazily instead.

        ``eager=False`` skips the priming count: a caller that immediately
        primes a DERIVED frame in the background (project_all's span-state
        count computes through the cache and fills it as a byproduct) can
        overlap the materialization with its own driver-side plan building
        instead of blocking on a count job first (r12, guide §1.2 — the
        blocking count was ~40% of the warm domain-fold wall). First-touch
        races then duplicate at most one partition set's parse — the
        bounded, documented trade of plans/concurrency.py.
        """
        from open_ftth_relational_projector_spark.cache import tracked_persist

        # tracked (r13): callers that loop over many logs/queries (bench,
        # oracle sweeps) release these session-wide between queries;
        # single-log consumers (dehydrate) still unpersist explicitly.
        level = "MEMORY_AND_DISK"
        if self._raw is not None:
            raw = tracked_persist(self._raw, level)
            if eager:
                raw.count()
            return EventLog.from_envelopes(raw)
        return EventLog(
            {t: tracked_persist(df, level) for t, df in self._typed.items()},
            self._spark,
        )

    def unpersist(self) -> None:
        if self._raw is not None:
            self._raw.unpersist()
            return
        for df in self._typed.values():
            df.unpersist()

    @property
    def raw(self) -> DataFrame | None:
        """The (seq, event_type, payload) envelope frame this log was
        built from, or None for ``from_typed`` logs."""
        return self._raw

    @property
    def spark(self) -> SparkSession:
        return self._spark


def _flat_schema(event_type: str):
    from pyspark.sql import types as T

    schema = PAYLOAD_SCHEMAS[event_type]
    return T.StructType(
        [T.StructField("seq", T.LongType(), False), *schema.fields]
    )
