"""Skew mitigation: salting for hot keys (the manual path; AQE's skew-join
splitting — enabled in session.py — is the automatic one).

At 100 TB a handful of hot entity keys (a mega-walk interest, a stop-shingle
in dedup) can pin one reducer. Salting splits a hot key across ``n_salts``
partial groups and merges the partials — the classic two-stage aggregation.
Results are EXACTLY equal to the unsalted form for decomposable aggregates
(count/sum/min/max); the salt never leaks into the output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, n_salts: int = 32, col_name: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, n_salts): hash of the whole row.

    Deterministic (vs F.rand) so retried tasks salt identically — required
    for exactly-once sinks under task retry.
    """
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial: dict[str, Column],
    merge: dict[str, Column],
    n_salts: int = 32,
) -> DataFrame:
    """Two-stage aggregation: groupBy(keys + salt) computing ``partial``
    (name → agg expr over input columns), then groupBy(keys) computing
    ``merge`` (name → agg expr over the partial columns). Exact for any
    decomposable aggregate.
    """
    staged = (
        with_salt(df, n_salts)
        .groupBy(*keys, "_salt")
        .agg(*[expr.alias(name) for name, expr in partial.items()])
    )
    return staged.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in merge.items()]
    )
