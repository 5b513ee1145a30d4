"""Relative-outlink resolution in the crawl round loop: the engine
resolves every href against its page url, so a corpus whose
same-domain hrefs are rewritten to root-relative form crawls EXACTLY
the seen set the pandas oracle computes on the original absolute-href
corpus. (On absolute hrefs resolution is a pass-through; the
tests/test_crawl.py oracle checks cover that.)"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pixcrawler_spark.fixtures import (
    FixtureSpec,
    generate_pages,
    seed_urls,
    write_fixtures,
)
from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from pixcrawler_spark.sources.tables import TableStore
from tests.oracle import CrawlOracle

ROWS = 600
SEED = 11


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("relfix")
    write_fixtures(str(d), rows=ROWS, seed=SEED)
    return str(d)


@pytest.fixture(scope="module")
def rel_fixture_dir(fixture_dir, tmp_path_factory):
    """Same corpus with every SAME-DOMAIN href rewritten to
    root-relative form ('https://dNNNN.example/p/X' -> '/p/X') —
    resolution against the page url must reconstruct the original."""
    d = tmp_path_factory.mktemp("relfix_rewritten")
    t = pq.read_table(f"{fixture_dir}/pages.parquet")
    urls = t["url"].to_pylist()
    htmls = t["html"].to_pylist()
    out = []
    for u, h in zip(urls, htmls):
        if h is None:
            out.append(None)
            continue
        dom = u.split("/")[2]
        s = h.decode("utf-8", errors="replace")
        out.append(
            s.replace(f'href="https://{dom}/', 'href="/').encode("utf-8")
        )
    t2 = t.set_column(
        t.schema.get_field_index("html"), "html", pa.array(out, pa.binary())
    )
    pq.write_table(t2, f"{d}/pages.parquet")
    # robots unchanged
    pq.write_table(
        pq.read_table(f"{fixture_dir}/robots.parquet"),
        f"{d}/robots.parquet",
    )
    return str(d)


@pytest.fixture(scope="module")
def seeds():
    return seed_urls(generate_pages(FixtureSpec(rows=ROWS, seed=SEED)), k=6)


CFG = dict(max_depth=2, max_rounds=3, round_len_s=2.0)


def test_relative_corpus_resolves_to_baseline_set(
    spark, fixture_dir, rel_fixture_dir, tmp_path, seeds
):
    eng = CrawlEngine(
        spark,
        f"{rel_fixture_dir}/pages.parquet",
        f"{rel_fixture_dir}/robots.parquet",
        TableStore(spark, str(tmp_path / "store")),
        CrawlConfig(seeds=seeds, **CFG),
    )
    eng.run()
    oracle = CrawlOracle(
        pages_path=f"{fixture_dir}/pages.parquet",
        robots_path=f"{fixture_dir}/robots.parquet",
        seeds=seeds,
        **CFG,
    )
    oracle.run()
    assert {r["url"] for r in eng.store.read("seen").collect()} == set(
        oracle.seen
    )
