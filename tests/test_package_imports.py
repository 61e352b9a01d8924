"""Every module of the package imports and every name in its ``__all__``
resolves — a dangling import left by a deletion fails here, by module name,
rather than as a test-collection error.  Needs no Spark session."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import page_evaluator_spark

MODULES = ["page_evaluator_spark"] + sorted(
    m.name for m in pkgutil.walk_packages(page_evaluator_spark.__path__,
                                          prefix="page_evaluator_spark."))


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    module = importlib.import_module(name)
    for public in getattr(module, "__all__", ()):
        assert hasattr(module, public), f"{name}.__all__ names missing {public!r}"
