"""The projector benchmark's tracer wraps package functions by name.

``perfbench/tracing.py`` patches module functions and ``DuckDBSink``
methods by attribute name; a renamed or removed name makes
``Tracer.install`` raise. This Spark-free check catches that in seconds,
without the minutes-long benchmark self-test.
"""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracing_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class _StubSpark:
    sparkContext = None


def test_tracer_install_finds_every_wrapped_name_and_uninstall_restores():
    tracer = _tracing_module().Tracer(_StubSpark())
    tracer.install()
    try:
        patched = list(tracer._patched)
        assert patched
        for owner, attr, original in patched:
            assert owner.__dict__[attr] is not original, attr
    finally:
        tracer.uninstall()
    for owner, attr, original in patched:
        assert owner.__dict__[attr] is original, attr
    names = {attr for _, attr, _ in patched}
    assert {"apply_batch", "build_edge_context", "replay_rel_batch",
            "replace_group", "fetch_df", "delete_keys", "overwrite",
            "set_meta", "commit"} <= names
