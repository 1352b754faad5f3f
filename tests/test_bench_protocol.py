"""bench.py's measurement protocol, without Spark: fake thunks stand in for
the timed runs, so the pass order, the release contract and the printed
aggregates are pinned in milliseconds."""

from __future__ import annotations

import ast
import builtins
import itertools
import json
import os
import sys
import types
from unittest import mock

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

HEADLINE = bench.BENCH_QUERIES + [
    "domain_projection_8tables",
    "streaming_catchup_4batches",
]


def _fake_thunks(names, log):
    clock = itertools.count(1)

    def thunk(name):
        def run() -> float:
            log.append(name)
            return float(next(clock))

        return run

    return {name: thunk(name) for name in names}


@pytest.mark.parametrize("n", [2, 3, 5, len(HEADLINE)])
def test_each_entry_runs_passes_times_never_back_to_back(n):
    names = HEADLINE[:n]
    log: list[str] = []
    samples = bench.run_passes(_fake_thunks(names, log), lambda: log.append("release"))
    runs, releases = log[0::2], log[1::2]
    assert releases == ["release"] * len(runs)  # a release after every run
    assert len(runs) == n * bench.PASSES
    assert all(runs.count(name) == bench.PASSES for name in names)
    assert all(a != b for a, b in zip(runs, runs[1:]))
    assert {k: len(v) for k, v in samples.items()} == dict.fromkeys(names, bench.PASSES)


def test_samples_are_in_pass_order():
    log: list[str] = []
    samples = bench.run_passes(_fake_thunks(["a", "b", "c"], log), lambda: None)
    # every entry's pass-p sample was taken in pass p: clock ticks 1..3 are
    # pass 1, 4..6 pass 2, 7..9 pass 3
    for s in samples.values():
        assert [(x - 1) // 3 for x in s] == [0, 1, 2]


def test_summarize_medians_first_attempt_and_spread():
    out = bench.summarize({"x": [3.0, 1.0, 2.0], "y": [0.5, 0.7, 0.6]})
    assert out["queries"] == {"x": 2.0, "y": 0.6}
    assert out["value"] == pytest.approx(2.6)
    assert out["first_attempt_total"] == pytest.approx(3.5)
    assert out["spread"] == {"x": 2.0, "y": pytest.approx(0.2)}


def _drive_main(out_dir, monkeypatch, capsys) -> str:
    """Run ``bench.main()`` against a fake session in ``out_dir``: the
    queries, the composed benches and the release are stubs and the clock
    ticks once per read, so the printed line is deterministic."""
    out_dir.mkdir(exist_ok=True)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(out_dir / "sf0.1"))
    monkeypatch.setattr(bench, "__file__", str(out_dir / "bench.py"))
    monkeypatch.setattr(bench, "get_spark", lambda **kw: mock.MagicMock())
    monkeypatch.setattr(
        bench,
        "SPARK_QUERIES",
        dict.fromkeys(bench.BENCH_QUERIES + bench.EXTRA_QUERIES, mock.MagicMock()),
    )
    monkeypatch.setattr(bench, "bench_domain_projection", lambda s, scale=60: ("", 5.0))
    monkeypatch.setattr(bench, "bench_streaming_catchup", lambda s, scale=20: ("", 0.5))
    monkeypatch.setattr(bench, "release_tracked_persists", lambda spark: 0)
    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(perf_counter=itertools.count().__next__)
    )
    monkeypatch.setattr(bench, "_load_avg", lambda: 1.0)
    bench.main()
    return capsys.readouterr().out


def test_main_reads_no_earlier_sidecar(tmp_path, monkeypatch, capsys):
    clean = _drive_main(tmp_path / "clean", monkeypatch, capsys)
    stale = tmp_path / "stale"
    stale.mkdir()
    (stale / "BENCH_EXTRA.json").write_text("{not json")
    real_open = builtins.open

    def no_reads(file, mode="r", *a, **k):
        assert "r" not in mode or "+" in mode, f"bench read {file}"
        return real_open(file, mode, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", no_reads)
        assert _drive_main(stale, monkeypatch, capsys) == clean

    assert clean.count("\n") == 1
    line = json.loads(clean)
    assert list(line) == [
        "metric", "value", "unit", "queries", "sf", "load_avg_start",
        "load_avg_end", "retried", "first_attempt_total", "spread",
    ]
    assert list(line["queries"]) == HEADLINE
    assert line["retried"] == {}
    assert line["value"] == pytest.approx(18 * 1.0 + 5.0 + 0.5)
    # the stale sidecar was overwritten with this run's samples and extras
    sidecar = json.loads((stale / "BENCH_EXTRA.json").read_text())
    assert list(sidecar["extra_queries"]) == bench.EXTRA_QUERIES
    assert all(len(s) == bench.PASSES for s in sidecar["headline_samples"].values())


def test_bench_source_opens_no_file_for_reading():
    tree = ast.parse(open(os.path.join(REPO, "bench.py")).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "open":
            assert len(node.args) >= 2 and node.args[1].value == "w"
        if isinstance(node, ast.Attribute):
            assert node.attr not in {"load", "loads", "read_text"}
