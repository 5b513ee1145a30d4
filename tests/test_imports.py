"""Every module imports: a deletion that leaves a dangling import fails
here instead of at first use. Covers the whole package plus the bench
scripts (run_rounds, scaling, submit_job), which no other test loads;
their ``__main__`` guards keep loading side-effect free."""

from __future__ import annotations

import importlib
import importlib.util
import os
import pkgutil

import pytest

import pixcrawler_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(
        pixcrawler_spark.__path__, prefix="pixcrawler_spark."
    )
)
BENCH_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench")
BENCH_SCRIPTS = ("run_rounds.py", "scaling.py", "submit_job.py")


@pytest.mark.parametrize("name", MODULES)
def test_package_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("script", BENCH_SCRIPTS)
def test_bench_script_loads(script):
    path = os.path.join(BENCH_DIR, script)
    spec = importlib.util.spec_from_file_location(
        f"bench_{script[:-3]}", path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))
