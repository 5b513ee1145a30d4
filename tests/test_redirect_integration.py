"""Redirect resolution wired into the crawl round loop, on whenever
the engine is given a redirects frame: aliases collapse to their chain
terminal before any url enters the frontier, cycle members never
enqueue, and an empty map is a proven no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pixcrawler_spark.fixtures import (
    FixtureSpec,
    generate_pages,
    seed_urls,
    write_fixtures,
)
from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from pixcrawler_spark.sources.tables import TableStore

ROWS = 800
SEED = 7


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("redirfix")
    write_fixtures(str(d), rows=ROWS, seed=SEED)
    return str(d)


@pytest.fixture(scope="module")
def seeds(fixture_dir):
    return seed_urls(generate_pages(FixtureSpec(rows=ROWS, seed=SEED)), k=6)


def _run(spark, fixture_dir, tmp_path, seeds, redirects=None, **overrides):
    kwargs = dict(seeds=seeds, max_depth=2, max_rounds=3, round_len_s=2.0)
    kwargs.update(overrides)
    eng = CrawlEngine(
        spark,
        f"{fixture_dir}/pages.parquet",
        f"{fixture_dir}/robots.parquet",
        TableStore(spark, str(tmp_path / "store")),
        CrawlConfig(**kwargs),
        redirects=redirects,
    )
    eng.run()
    return eng


def _seen_urls(eng):
    return {r["url"] for r in eng.store.read("seen").collect()}


@pytest.fixture(scope="module")
def baseline(spark, fixture_dir, tmp_path_factory, seeds):
    return _run(spark, fixture_dir, tmp_path_factory.mktemp("base"), seeds)


def test_empty_redirects_is_identity(
    spark, fixture_dir, tmp_path_factory, seeds, baseline
):
    """An empty redirect map must reproduce the baseline
    crawl exactly — the resolution stage itself is a no-op plan."""
    empty = spark.createDataFrame([], "src string, dst string")
    eng = _run(
        spark,
        fixture_dir,
        tmp_path_factory.mktemp("empty"),
        seeds,
        redirects=empty,
    )
    assert _seen_urls(eng) == _seen_urls(baseline)
    base_res = {
        r["url"]: (r["fetch_decision"], r["depth"], r["round"])
        for r in baseline.store.read("results").collect()
    }
    got_res = {
        r["url"]: (r["fetch_decision"], r["depth"], r["round"])
        for r in eng.store.read("results").collect()
    }
    assert got_res == base_res


def test_aliases_collapse_and_cycles_drop(
    spark, fixture_dir, tmp_path_factory, seeds, baseline
):
    """Redirect a discovered (non-seed) url to another page; make two
    more discovered urls a redirect 2-cycle. The alias and the cycle
    members must never appear in results/seen; the alias's target
    must."""
    discovered = sorted(_seen_urls(baseline) - set(seeds))
    assert len(discovered) >= 4, "fixture too small for the scenario"
    u_a, u_b, u_c, u_d = discovered[:4]

    redirects = spark.createDataFrame(
        [Row(src=u_a, dst=u_b), Row(src=u_c, dst=u_d), Row(src=u_d, dst=u_c)]
    )
    eng = _run(
        spark,
        fixture_dir,
        tmp_path_factory.mktemp("alias"),
        seeds,
        redirects=redirects,
    )
    seen = _seen_urls(eng)
    result_urls = {
        r["url"] for r in eng.store.read("results").collect()
    }
    # the alias resolves away; the cycle pair is dropped at the door
    for trap in (u_a, u_c, u_d):
        assert trap not in seen, trap
        assert trap not in result_urls, trap
    # the alias's terminal is still crawled (whatever link found u_a
    # now finds u_b)
    assert u_b in seen
    # frontier invariant: every url decided at most once
    assert eng.store.read("results").groupBy("url").count().where(
        F.col("count") > 1
    ).count() == 0