"""Every module imports: a deletion that leaves a dangling import fails
here instead of at first use. Covers the whole package plus the bench
scripts (run_rounds, scaling, submit_job), which no other test loads;
their ``__main__`` guards keep loading side-effect free. The benchmark
tracer wraps engine and store methods by name, so a deletion that
removes one of them fails here too, not inside a traced run."""

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
REPO = os.path.dirname(os.path.dirname(__file__))
BENCH_DIR = os.path.join(REPO, "bench")
BENCH_SCRIPTS = ("run_rounds.py", "scaling.py", "submit_job.py")


@pytest.mark.parametrize("name", MODULES)
def test_package_module_imports(name):
    importlib.import_module(name)


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("script", BENCH_SCRIPTS)
def test_bench_script_loads(script):
    mod = _load(f"bench_{script[:-3]}", os.path.join(BENCH_DIR, script))
    assert callable(getattr(mod, "main", None))


def test_trace_targets_exist():
    from pixcrawler_spark.plans.crawl import CrawlEngine
    from pixcrawler_spark.sources.tables import TableStore

    tracing = _load(
        "perfbench_tracing", os.path.join(REPO, "perfbench", "tracing.py")
    )
    for name in tracing.COMMIT_METHODS + tracing.READ_METHODS:
        assert callable(getattr(TableStore, name, None)), name
    for name in tracing.ENGINE_METHODS:
        assert callable(getattr(CrawlEngine, name, None)), name
