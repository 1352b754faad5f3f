"""Tiny-size self-test of the benchmark harness.

    python3 -m pytest perfbench/test_selftest.py -q

Runs the benchmark at ``--size tiny`` and checks that every metric
``BENCHMARK.json`` lists is printed with its unit and that the output
checks ran. Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def _run(args: list[str], cwd: str = ROOT, timeout: int = 600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("workload,trace", [("dehydrate", 0), ("catchup", 1)])
def test_tiny_run_prints_every_metric(workload, trace):
    r = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--size", "tiny"])
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    summary = json.loads(lines[-2])["summary"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert summary["checks"] >= 1 and summary["error_rate"] == 0.0
    declared = _declared("per_layer" if trace else "end_to_end")
    printed = {name: m["unit"] for name, m in result["metrics"].items()}
    assert printed == declared
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace:
        path = os.path.join(ROOT, summary["trace_file"])
        assert os.path.getsize(path) > 0
        assert summary["layers_ms"]["redelivery"]["incremental.compute_deltas"] > 0
        os.remove(path)
        if not os.listdir(os.path.dirname(path)):
            os.rmdir(os.path.dirname(path))


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run(["--workload", "dehydrate", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path), timeout=120)
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def test_build_log_merges_in_order_prefixes_of_each_log():
    from projector import build_log

    from open_ftth_relational_projector_spark.events.generator import generate

    seed, logs, scale = 5, 3, 2
    merged = build_log(seed, logs, scale)
    assert [e["seq"] for e in merged] == list(range(1, len(merged) + 1))
    assert merged == build_log(seed, logs, scale)
    got = [(e["event_type"], e["payload"]) for e in merged]
    total = 0
    for i in range(logs):
        own = [(e["event_type"], e["payload"]) for e in generate(seed=seed * 1009 + i, scale=scale)]
        kept = [ev for ev in got if ev in own]
        # each log appears as an in-order prefix of itself; log 0 whole
        assert kept == own[: len(kept)]
        assert len(kept) == len(own) if i == 0 else 0 < len(kept) < len(own)
        total += len(kept)
    assert total == len(merged)


def test_merged_tail_mixes_more_event_types_than_one_log():
    from projector import build_log

    from open_ftth_relational_projector_spark.events.generator import generate

    def tail_types(events):
        return {e["event_type"] for e in events[int(len(events) * 0.8):]}

    assert len(tail_types(build_log(7, 8, 10))) > len(tail_types(generate(seed=7, scale=10)))


def test_tail_percentile():
    from projector import tail_percentile

    assert tail_percentile(list(range(10))) is None
    assert tail_percentile([float(v) for v in range(20, 0, -1)]) == (50.0, 10.0)
