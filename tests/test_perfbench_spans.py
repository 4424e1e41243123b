"""The benchmark's traced pass wraps package attributes by name: the lists
are ``CdcDrain.install_spans`` and ``ReadBack.install_spans`` in
``perfbench/workloads.py``. Renaming one of those attributes in the package
would break ``perfbench/run.py --trace 1`` and nothing else, so this runs
perfbench's own lists against a tracer that only resolves each attribute;
no second copy of the names is kept here."""

from __future__ import annotations

import importlib
import os

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


class _ResolvingTracer:
    """Stands in for ``perfbench.tracing.Tracer``: resolves what it would
    wrap or patch, and changes nothing."""

    def __init__(self) -> None:
        self.resolved: list[str] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        self.patch(owner, attr, None)

    def patch(self, owner, attr: str, replacement) -> None:
        assert callable(getattr(owner, attr)), f"{owner!r}.{attr} is not callable"
        self.resolved.append(f"{getattr(owner, '__name__', owner)}.{attr}")


def test_traced_pass_wraps_attributes_that_exist(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    workloads = importlib.import_module("workloads")
    tracer = _ResolvingTracer()
    drain = workloads.CdcDrain(ctx=None)
    drain.inputs = None
    drain.install_spans(tracer)  # builds a ReadBack and installs its spans too
    assert "PipelineRun.run" in tracer.resolved
    assert "TransactionalDirSink.read_committed" in tracer.resolved  # ReadBack's
