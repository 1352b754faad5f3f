#!/usr/bin/env python3
"""Projector benchmark.

    python3 perfbench/run.py --workload {dehydrate,catchup} --seed N \\
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. One single-process client drives the
projector as a closed loop on ``local[nproc]`` Spark. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. The line before it is a
``{"summary": ...}`` object with the host, the seed and the per-workload
figures; a traced run also writes its spans to
``.perfbench_out/trace-<workload>-<seed>-<pid>.jsonl``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "open_ftth_relational_projector_spark"
DRIVER_MEMORY = "2g"  # well below host RAM; the package default is 24g

END_TO_END_UNITS = {
    "op_ms_p50": "ms",
    "events_per_s": "events/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from tracing import ENGINE_COUNTERS, LAYERS

    units = {LAYER_METRIC.get(name, f"{name}_ms"): "ms" for name in LAYERS}
    units.update(
        {
            "runner.apply_batch_ms": "ms",
            "runner.stream_overhead_ms": "ms",
            "baseline.oracle_fold_ms": "ms",
            "trace.op_ms": "ms",
            "trace.overhead_ms": "ms",
            **{f"redelivery.{name}": "ms" for name in REDELIVERY_LAYERS},
        }
    )
    for name in ENGINE_COUNTERS:
        units[name] = (
            "ms" if name.endswith("_ms") else "bytes" if name.endswith("_bytes") else "count"
        )
    return units


# span names whose self time gets a more specific metric name
LAYER_METRIC = {
    "runner.dehydrate": "runner.dehydrate_self_ms",
    "runner.apply_batch": "runner.apply_batch_self_ms",
}


# re-delivered batches (traced catch-up runs only): inclusive time of the
# operation and of its fallback layers
REDELIVERY_LAYERS = {
    "op_ms": None,
    "compute_deltas_ms": "incremental.compute_deltas",
    "aux_reseed_ms": "incremental.aux_reseed",
    "fanout_ms": "concurrency.fanout",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["dehydrate", "catchup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and give Python
    workers the package on their path."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def start_spark(work: str, trace: bool):
    from open_ftth_relational_projector_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        # engine counters are read after each drain round; keep its stages
        conf["spark.ui.retainedJobs"] = "20000"
        conf["spark.ui.retainedStages"] = "20000"
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone either way
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Sum of the resident-set high-water marks (VmHWM) of this process
    and every descendant still running (the JVM and any Python worker)."""
    seen, todo, total_kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return total_kb / 1024.0


def end_to_end(result: dict, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "op_ms_p50": 1000.0 * statistics.median(result["op_s"]),
        "events_per_s": result["events_applied"] / result["busy_s"],
        "peak_rss_mb": rss_mb,
        "setup_s": setup_s,
    }


def per_layer(tracer, headline: str, result: dict, oracle_fold_s: float) -> dict[str, float]:
    """Mean per traced headline operation of every per-layer metric."""
    from tracing import ENGINE_COUNTERS, LAYERS

    ops = [op for op in tracer.ops if op["kind"] == headline]
    sums = dict.fromkeys(per_layer_units(), 0.0)
    for op in ops:
        selfs = tracer.self_times(op["id"])
        wall = op.get("trigger_s", op["wall_s"])
        apply_s = tracer.inclusive(op["id"], "runner.apply_batch")
        overhead_s = wall - apply_s if "trigger_s" in op else 0.0
        for name in LAYERS:
            sums[LAYER_METRIC.get(name, f"{name}_ms")] += 1000.0 * selfs.get(name, 0.0)
        sums["runner.apply_batch_ms"] += 1000.0 * apply_s
        sums["runner.stream_overhead_ms"] += 1000.0 * overhead_s
        sums["trace.op_ms"] += 1000.0 * wall
        for name in ENGINE_COUNTERS:
            sums[name] += op["counters"].get(name, 0.0)
    out = {k: v / len(ops) for k, v in sums.items()}
    out["baseline.oracle_fold_ms"] = 1000.0 * oracle_fold_s
    redelivered = [op for op in tracer.ops if op["kind"] == "redelivery"]
    for metric, span in REDELIVERY_LAYERS.items():
        total = sum(
            op["wall_s"] if span is None else tracer.inclusive(op["id"], span)
            for op in redelivered
        )
        out[f"redelivery.{metric}"] = 1000.0 * total / max(len(redelivered), 1)
    out["trace.overhead_ms"] = 1000.0 * tracing_overhead_s(result["sequence"])
    return out


def tracing_overhead_s(sequence: list[tuple[float, bool]]) -> float:
    """Median over traced operations of (traced time − mean of the
    untraced operations just before and after it); taking both neighbours
    cancels a steady drift such as JIT warm-up."""
    diffs = [
        t - (sequence[i - 1][0] + sequence[i + 1][0]) / 2
        for i, (t, traced) in enumerate(sequence)
        if traced
        and 0 < i < len(sequence) - 1
        and not sequence[i - 1][1]
        and not sequence[i + 1][1]
    ]
    return statistics.median(diffs)


def layer_breakdown(tracer, kind: str) -> dict[str, float]:
    """Mean self ms per span name over the traced operations of ``kind``,
    plus ``accounted_pct``: the share of the operation's wall time (the
    trigger, for a catch-up batch) that its spans' self times cover."""
    ops = [op for op in tracer.ops if op["kind"] == kind]
    totals: dict[str, float] = {}
    covered = 0.0
    for op in ops:
        selfs = tracer.self_times(op["id"])
        covered += sum(selfs.values()) / op.get("trigger_s", op["wall_s"])
        for name, s in selfs.items():
            totals[name] = totals.get(name, 0.0) + 1000.0 * s / len(ops)
    out = dict(sorted(totals.items(), key=lambda kv: -kv[1]))
    out["accounted_pct"] = 100.0 * covered / len(ops)
    return out


def summary(args, workload, result: dict, setup_s: float, rss_mb: float, load) -> dict:
    ledger = workload.ledger
    op_ms = [1000.0 * s for s in result["op_s"]]
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load,
        "loadavg_end": os.getloadavg(),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "error_rate": ledger.failed / ledger.attempted,
        "checks": ledger.checks,
        "errors": ledger.errors,
        "ops": len(op_ms),
        **workload.info,
    }
    from projector import tail_percentile

    if args.workload == "dehydrate":
        out["dehydrate_s"] = statistics.median(result["op_s"])
    else:
        out["catchup_batch_ms_p50"] = statistics.median(op_ms)
        tail = tail_percentile(op_ms)
        out["catchup_batch_ms_tail"] = (
            {"percentile": tail[0], "value": tail[1], "batches": len(op_ms)} if tail else None
        )
        out["catchup_events_per_s"] = result["events_applied"] / result["busy_s"]
        if result["redelivery_s"]:
            out["redelivery_batch_ms_p50"] = 1000.0 * statistics.median(result["redelivery_s"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    load = os.getloadavg()
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, str(os.getpid()))
    prepare_environment(work)

    import projector
    import tracing

    spark = None
    try:
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - T_START
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
        workload = projector.WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, projector.SIZES[args.size], tracer
        )
        workload.setup()
        setup_s = time.perf_counter() - T_START
        result = workload.measure()
        rss_mb = peak_rss_mb()
        if tracer is not None:
            tracer.uninstall()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}-{os.getpid()}.jsonl"
            )
            tracer.dump(spans_path)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(scratch) and not os.listdir(scratch):
            os.rmdir(scratch)

    info = summary(args, workload, result, setup_s, rss_mb, load)
    info["session_s"] = session_s
    if tracer is None:
        values = end_to_end(result, setup_s, rss_mb)
        units = END_TO_END_UNITS
    else:
        values = per_layer(tracer, workload.headline, result, workload.info["oracle_fold_s"])
        units = per_layer_units()
        info["trace_file"] = os.path.relpath(spans_path, ROOT)
        info["layers_ms"] = {
            kind: layer_breakdown(tracer, kind)
            for kind in sorted({op["kind"] for op in tracer.ops})
        }
    print(json.dumps({"summary": info}))
    ledger = workload.ledger
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0 and ledger.checks > 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
