"""Walk ⊖ hop-interval subtraction (SURVEY §2.6 X2) — the one custom operator.

Reference semantics (ProjektorState.cs:178-221, ProcessCableToRouteElement):
given a cable's walk (ordered, already-deduplicated route-element ids) and an
ordered list of utility-network hops, remove from the walk the sub-ranges
covered by the hops. Hops are consumed strictly in order from a stack:

  * scan the walk left to right;
  * when the current element equals the *next unconsumed* hop's FromNodeId,
    consume that hop and skip elements up to — but NOT including — the hop's
    ToNodeId (the ToNode element survives, and may itself start the next hop);
  * if a hop's ToNodeId never occurs later in the walk, the rest of the walk
    is skipped;
  * a hop whose FromNodeId never occurs blocks all hops behind it (stack
    discipline) — they are never consumed;
  * NULL hop list → walk unchanged (empty list behaves identically).

Because walk elements are unique (the walk is stored deduplicated,
ProjektorState.cs:101,106), this sequential stack machine is expressible as a
single left fold over the walk — implemented here with ``F.aggregate``, a
JVM-side higher-order function: whole-stage-codegen'd, zero Python, zero
extra shuffle, embarrassingly parallel per row. ``subtract_hops_py`` is the
same machine in plain Python: the driver replay
(``streaming/replay.replay_rel_batch``) runs it on every cable placement,
affix and detach, and the tests compare it with the column fold.

Accumulator: struct(kept array, hop_idx int — next unconsumed hop,
skip_to string — ToNodeId while inside a hop span, else NULL).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def subtract_hops(walk: Column, hops: Column) -> Column:
    """Column-level fold. ``hops``: array<struct<from_node_id, to_node_id>>.

    Returns the reduced walk as array<string>.
    """

    def step(acc: Column, x: Column) -> Column:
        in_skip = acc["skip_to"].isNotNull() & (x != acc["skip_to"])
        next_hop = F.element_at(hops, acc["hop_idx"] + 1)
        starts_hop = (acc["hop_idx"] < F.size(hops)) & (next_hop["from_node_id"] == x)
        return (
            F.when(in_skip, acc)
            .when(
                starts_hop,
                F.struct(
                    acc["kept"].alias("kept"),
                    (acc["hop_idx"] + 1).alias("hop_idx"),
                    next_hop["to_node_id"].alias("skip_to"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["kept"], F.array(x)).alias("kept"),
                    acc["hop_idx"].alias("hop_idx"),
                    F.lit(None).cast("string").alias("skip_to"),
                ),
            )
        )

    zero = F.struct(
        F.array().cast("array<string>").alias("kept"),
        F.lit(0).alias("hop_idx"),
        F.lit(None).cast("string").alias("skip_to"),
    )

    folded = F.aggregate(walk, zero, step, lambda acc: acc["kept"])
    # NULL hop list → identity (reference copies the walk verbatim).
    return F.when(hops.isNull(), walk).otherwise(folded)


def subtract_hops_py(walk: list[str] | None, hops: list | None) -> list[str] | None:
    """The same semantics in plain Python, one walk at a time: the driver
    replay's cable walks, and the tests' check of ``subtract_hops``.

    Literal transcription of the stack machine (ProjektorState.cs:188-215).
    ``hops`` items: anything with from_node_id / to_node_id attributes or keys.
    """
    if walk is None:
        return None
    if hops is None:
        return list(walk)

    def _get(h, name):
        return h[name] if isinstance(h, dict) else getattr(h, name)

    stack = list(reversed([(_get(h, "from_node_id"), _get(h, "to_node_id")) for h in hops]))
    result: list[str] = []
    i = 0
    n = len(walk)
    while i < n:
        elem = walk[i]
        if stack and stack[-1][0] == elem:
            _, to_node = stack.pop()
            j = i + 1
            while j < n and walk[j] != to_node:
                j += 1
                i += 1
            # loop exits with walk[j] == to_node (i advanced to j-1) or j == n
        else:
            result.append(elem)
        i += 1
    return result
