#!/usr/bin/env python3
"""Sweep of the two folds: dehydrate's driver fold against the Spark fold.

    python3 scripts/dehydrate_crossover.py [--seed 1] [--logs 8 32 128] \\
        [--scale 25]

Run from the repository root. For each size it folds
``perfbench.projector.build_log(seed, logs, scale)`` into a fresh DuckDB
sink twice per side, in a process of its own per side: the driver fold
(``runner.dehydrate``) and the Spark fold (``runner._rebuild``, the
``compute_deltas`` fold an overlapping batch's rebuild writes, in one
sink transaction). The first fold warms the JVM; the second is timed.
Each side's output is checked against the Python fold oracle. One JSON
line per (size, side) with the event count, the timed wall seconds and
the process tree's peak RSS; then one line with the driver/Spark time
ratio per size. A ratio above 1 means the Spark fold wins there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def measure(seed: int, logs: int, scale: int, side: str) -> dict:
    """Fold one log twice on ``side`` in this process; time the second."""
    sys.path[:0] = [PERFBENCH, ROOT]
    import run
    from projector import build_log, envelopes_frame, mismatched_tables, oracle_tables

    from open_ftth_relational_projector_spark.sinks import DuckDBSink
    from open_ftth_relational_projector_spark.streaming import runner

    work = tempfile.mkdtemp(prefix="dehydrate-crossover-")
    run.prepare_environment(work)
    spark = run.start_spark(work, trace=False)
    try:
        events = build_log(seed, logs, scale)
        expected, _ = oracle_tables(events)
        envelopes = envelopes_frame(spark, events)
        walls = []
        for _ in range(2):
            sink = DuckDBSink()
            t0 = time.perf_counter()
            if side == "driver":
                runner.dehydrate(envelopes, sink)
            else:
                sink.ensure_schema()
                sink.begin()
                runner._rebuild(envelopes, sink)
                sink.commit()
            walls.append(time.perf_counter() - t0)
            bad = mismatched_tables(sink, expected)
            sink.close()
            if bad:
                raise RuntimeError(f"{side} fold differs from the oracle: {bad}")
        rss = run.peak_rss_mb()
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {
        "logs": logs,
        "side": side,
        "events": len(events),
        "warm_s": walls[0],
        "wall_s": walls[1],
        "peak_rss_mb": rss,
    }


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--logs", type=int, nargs="+", default=[8, 32, 128])
    p.add_argument("--scale", type=int, default=25)
    p.add_argument("--side", choices=["driver", "spark"], help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.side:
        (logs,) = args.logs
        print(json.dumps(measure(args.seed, logs, args.scale, args.side)))
        return
    ratios = {}
    for logs in args.logs:
        walls = {}
        for side in ("driver", "spark"):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--seed", str(args.seed),
                 "--logs", str(logs), "--scale", str(args.scale), "--side", side],
                cwd=ROOT, capture_output=True, text=True, check=True,
            ).stdout.strip().splitlines()[-1]
            print(out, flush=True)
            walls[side] = json.loads(out)["wall_s"]
        ratios[logs] = walls["driver"] / walls["spark"]
    print(json.dumps({"driver_over_spark_wall": ratios}))


if __name__ == "__main__":
    main(sys.argv[1:])
