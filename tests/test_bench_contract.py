"""The traced benchmark (perfbench/trace.py) wraps library functions
by (module, attribute) name from outside the library. A refactor that
renames or moves one of them would silently drop its spans and zero
the per-layer metrics built on them, so the names are pinned here —
import-only, no Spark session."""

from __future__ import annotations

import importlib

import pytest

from perfbench import harness, trace


@pytest.mark.parametrize("mod_name,attr", trace.WRAPPED,
                         ids=[f"{m}.{a}" for m, a in trace.WRAPPED])
def test_wrapped_function_resolves(mod_name, attr):
    fn = getattr(importlib.import_module(mod_name), attr, None)
    assert callable(fn), f"{mod_name}.{attr} no longer exists"


def test_importer_modules_import():
    for mod_name in trace._IMPORTERS:
        importlib.import_module(mod_name)


def test_layer_metric_spans_are_wrapped():
    """Every span name the per-layer metrics read is one the tracer
    emits."""
    spans = {f"{m.removeprefix('sparksimjoin.')}.{a}" for m, a in trace.WRAPPED}
    wanted = set(harness._PLANNER) | {f"joins.core.{m}" for m in harness._MODULE_SPANS}
    assert wanted <= spans, sorted(wanted - spans)
