"""Every ``scripts/*.py`` module imports cleanly and guards its ``main``,
so a helper a refactor deletes or renames fails here instead of on the
next long scale-tier run of the script that used it."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))), ids=os.path.basename
)
def test_script_imports(path, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    name = f"script_under_test_{os.path.basename(path)[:-3]}"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{path} has no main()"
