"""The benchmark's traced run wraps program functions by module attribute
name (perfbench/run.py ``Bench._instrument_jobs``): a rename in the
program must fail here, not only in a ``--trace 1`` benchmark run."""

import importlib.util
import os
import sys
import types

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def _load(name):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(PERFBENCH, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_instrument_jobs_hooks_resolve_and_restore(monkeypatch):
    monkeypatch.setattr(sys, "path", sys.path[:])  # run.py prepends its dir
    run, tracing = _load("run"), _load("tracing")
    from ocr_pytorch_spark.plans import lineage as L

    orig = L.run_bucketed_write
    stub = types.SimpleNamespace(tracer=tracing.Tracer())
    try:
        run.Bench._instrument_jobs(stub)
        assert L.run_bucketed_write is not orig
        assert stub.tracer._patched
    finally:
        stub.tracer.restore()
    assert L.run_bucketed_write is orig
