"""Crawl-engine correctness vs the pandas oracle: fetch decisions,
crawl ordering, final URL-seen set, byte-identical extracted text,
resume-from-checkpoint equivalence, crash recovery at every commit
boundary, and a round plan free of Python evaluation."""

from __future__ import annotations

import collections
import random
import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from pixcrawler_spark.fixtures import (
    FixtureSpec,
    generate_pages,
    generate_robots,
    seed_urls,
    write_fixtures,
)
from pixcrawler_spark.functions.text import extract_outlinks_py, extract_text_py
from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from pixcrawler_spark.sources.tables import TableStore
from tests.oracle import CrawlOracle

ROWS = 2000
SEED = 42
# retry-ladder runs: failed fetches re-enqueue twice before they land
RETRY_CFG = dict(max_retries=2, max_rounds=4)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("crawlfix")
    write_fixtures(str(d), rows=ROWS, seed=SEED)
    return str(d)


@pytest.fixture(scope="module")
def seeds(fixture_dir):
    return seed_urls(generate_pages(FixtureSpec(rows=ROWS, seed=SEED)), k=6)


@pytest.fixture(scope="module")
def retry_seeds(seeds):
    """The default seeds plus the first two pages whose html is null
    and whose path robots allows: their fetches fail, so the retry
    ladder actually runs."""
    spec = FixtureSpec(rows=ROWS, seed=SEED)
    pages = generate_pages(spec).to_pydict()
    robots = generate_robots(spec).to_pydict()
    disallow = dict(zip(robots["domain"], robots["disallow_prefixes"]))
    failing = [
        u
        for u, h in zip(pages["url"], pages["html"])
        if h is None
        and not any(
            CrawlOracle._path(u).startswith(p)
            for p in disallow.get(CrawlOracle._domain(u), [])
        )
    ]
    return seeds + failing[:2]


def _mk_engine(spark, fixture_dir, tmp_path, seeds, **overrides) -> CrawlEngine:
    kwargs = dict(seeds=seeds, max_depth=2, max_rounds=3, round_len_s=2.0)
    kwargs.update(overrides)
    cfg = CrawlConfig(**kwargs)
    store = TableStore(spark, str(tmp_path / "store"))
    return CrawlEngine(
        spark, f"{fixture_dir}/pages.parquet", f"{fixture_dir}/robots.parquet",
        store, cfg,
    )


def _mk_oracle(fixture_dir, seeds, **overrides) -> CrawlOracle:
    kwargs = dict(seeds=seeds, max_depth=2, max_rounds=3, round_len_s=2.0)
    kwargs.update(overrides)
    o = CrawlOracle(
        pages_path=f"{fixture_dir}/pages.parquet",
        robots_path=f"{fixture_dir}/robots.parquet",
        **kwargs,
    )
    o.run()
    return o


@pytest.fixture(scope="module")
def oracle(fixture_dir, seeds):
    return _mk_oracle(fixture_dir, seeds)


@pytest.fixture(scope="module")
def retry_oracle(fixture_dir, retry_seeds):
    return _mk_oracle(fixture_dir, retry_seeds, **RETRY_CFG)


@pytest.fixture(scope="module")
def retry_run(spark, fixture_dir, tmp_path_factory, retry_seeds):
    eng = _mk_engine(
        spark, fixture_dir, tmp_path_factory.mktemp("store_retry"),
        retry_seeds, **RETRY_CFG,
    )
    summaries = eng.run()
    return eng, summaries


def _oracle_decisions(o: CrawlOracle) -> dict[str, tuple]:
    return {
        res.url: (res.fetch_decision, res.depth, res.round)
        for res in o.results
    }


@pytest.fixture(scope="module")
def engine_run(spark, fixture_dir, tmp_path_factory, seeds):
    eng = _mk_engine(
        spark, fixture_dir, tmp_path_factory.mktemp("store_base"), seeds
    )
    summaries = eng.run()
    return eng, summaries


def _seen_set(eng: CrawlEngine) -> set[tuple]:
    return {
        (r["url"], r["completed_round"])
        for r in eng.store.read("seen").collect()
    }


def _decisions(eng: CrawlEngine) -> dict[str, tuple]:
    return {
        r["url"]: (r["fetch_decision"], r["depth"], r["round"])
        for r in eng.store.read("results").collect()
    }


def test_seen_set_matches_oracle(engine_run, oracle):
    eng, _ = engine_run
    assert _seen_set(eng) == {(u, r) for u, r in oracle.seen.items()}


def test_decisions_match_oracle(engine_run, oracle):
    eng, _ = engine_run
    assert _decisions(eng) == _oracle_decisions(oracle)


def test_crawl_ordering_matches_oracle(engine_run, oracle):
    eng, _ = engine_run
    got = {
        (r["round"], r["domain"], r["rank_in_round"], r["url"])
        for r in eng.crawl_order().collect()
    }
    assert got == oracle.ordering()


def test_extracted_text_byte_identical(engine_run, spark, fixture_dir):
    """input_hint invariant over the whole pages_ext table: for every
    fixture url, text == pages.text, outlinks == the outlink oracle and
    html_absent == html IS NULL; and fetched results carry that text."""
    eng, _ = engine_run
    pages = {
        r["url"]: r
        for r in spark.read.parquet(f"{fixture_dir}/pages.parquet").collect()
    }
    ext = {r["url"]: r for r in eng.ensure_pages_ext().collect()}
    assert ext.keys() == pages.keys()
    for url, p in pages.items():
        e = ext[url]
        assert e["text"] == p["text"], url
        assert e["outlinks"] == extract_outlinks_py(p["html"]), url
        assert e["html_absent"] == (p["html"] is None), url
    assert any(e["outlinks"] for e in ext.values())
    assert any(e["html_absent"] for e in ext.values())

    res = eng.results_with_text().where(F.col("fetch_decision") == "fetched")
    fetched = res.select("url", "text").collect()
    assert fetched
    assert all(r["text"] == pages[r["url"]]["text"] for r in fetched)


# hand-written bodies: each kind of invalid UTF-8 (most decode
# differently under a plain cast than under errors="replace") and the
# edge cases of the extraction regexes
INVALID_UTF8_BODIES = [
    None,
    b"",
    b"<p>\xed\xa0\x80</p>",  # encoded surrogate: 3 replacements
    b'<a href="/\xed\xbf\xbf">x</a>',
    b"<p>\xe2\x82</p><title>\xf0\x9f\x98</title>",  # truncated
    b"<p>a\xe2</p><p>\xf0\x9f</p>",
    b"<p>\x80\xbf\x80</p>",  # lone continuation bytes
    b"<p>\xc0\xaf\xe0\x80\xaf\xc1\xbf</p>",  # overlong
    b"<p>\xf4\x90\x80\x80\xf5\x80\x80\x80</p>",  # above U+10FFFF
    b'<title>\xff</title><a href="x\xffy">\xfe</a>',
    b"<p>never closed \xe2\x82\xac",
    b"<title>a</title><p>b</p><title>c\xc3</title>",
    b"<p>line1\n\xe9line2</p>",
    b"<p>caf\xc3\xa9 \xf0\x9f\x98\x80</p>",
]
# bytes that start, continue or break multi-byte sequences
INVALID_UTF8_ALPHABET = bytes.fromhex("80bfc0c2e0e2edeff0f4f5ff4182a09f")


def _random_invalid_bodies(n: int, seed: int = 5) -> list[bytes]:
    rng = random.Random(seed)

    def junk() -> bytes:
        return bytes(rng.choices(INVALID_UTF8_ALPHABET, k=rng.randint(0, 6)))

    return [
        b"<title>" + junk() + b"</title>" + junk() + b"<p>" + junk()
        + b"</p>" + b'<a href="' + junk() + b'">' + junk() + b"<p>"
        + junk() + (b"</p>" if rng.random() < 0.8 else b"")
        for _ in range(n)
    ]


def test_extraction_matches_oracle_on_invalid_utf8(spark, fixture_dir, tmp_path):
    """extracted_pages equals extract_text_py/extract_outlinks_py row
    by row on invalid UTF-8 bodies, in one collect. The fixture is
    ASCII, so only this test exercises the replacement of invalid
    sequences."""
    bodies = INVALID_UTF8_BODIES + _random_invalid_bodies(2500)
    pages = spark.createDataFrame(
        [(f"http://u/{i}", None, b) for i, b in enumerate(bodies)],
        "url string, warc_ts timestamp_ntz, html binary",
    )
    eng = CrawlEngine(
        spark, pages, f"{fixture_dir}/robots.parquet",
        TableStore(spark, str(tmp_path / "store")),
        CrawlConfig(seeds=["http://u/0"], n_buckets=4),
    )
    got = {r["url"]: r for r in eng.extracted_pages().collect()}
    assert len(got) == len(bodies)
    for i, b in enumerate(bodies):
        r = got[f"http://u/{i}"]
        assert r["text"] == extract_text_py(b), b
        assert r["outlinks"] == extract_outlinks_py(b), b
        assert r["html_absent"] == (b is None), b


PYTHON_NODES = {"MapInPandas", "ArrowEvalPython", "BatchEvalPython"}


def _plan_node_names(status, execution_id) -> list[str]:
    nodes = status.planGraph(execution_id).allNodes()
    return [nodes.apply(i).name() for i in range(nodes.size())]


def test_pages_ext_write_plan(spark, fixture_dir, tmp_path, seeds):
    """The executed plan of the pages_ext write holds no Python
    evaluation node and exactly one Exchange: extraction runs after
    the url hash exchange that the bucketed write needs anyway."""
    eng = _mk_engine(spark, fixture_dir, tmp_path, seeds, n_buckets=4)
    tag = f"pages_ext_write_plan:{tmp_path}"
    spark.sparkContext.setJobDescription(tag)
    try:
        eng.ensure_pages_ext()
    finally:
        spark.sparkContext.setJobDescription(None)
    status = spark._jsparkSession.sharedState().statusStore()
    execs = status.executionsList()
    plans = [
        _plan_node_names(status, e.executionId())
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.description() == tag
    ]
    writes = [
        names for names in plans
        if "Execute InsertIntoHadoopFsRelationCommand" in names
    ]
    assert len(writes) == 1, plans
    names = writes[0]
    assert not PYTHON_NODES.intersection(names), names
    assert names.count("Exchange") == 1, names
    # the graph lists a linear plan top-down: extraction (the Project)
    # sits above the exchange, on the reducers
    projects = [i for i, n in enumerate(names) if n == "Project"]
    assert projects and max(projects) < names.index("Exchange"), names


def test_round_runs_no_python(spark, fixture_dir, tmp_path, seeds):
    """No plan that a round runs evaluates Python: not the decide
    write, not the maintain jobs, not the discovery seen-probe. Round 2
    of a max_depth=2 crawl expands depth-1 pages into new urls, so the
    whole discovery path runs. The maintain jobs run in pool threads,
    which do not inherit a job description, so the round's executions
    are selected by id range instead."""
    eng = _mk_engine(spark, fixture_dir, tmp_path, seeds, max_rounds=1)
    eng.run()
    status = spark._jsparkSession.sharedState().statusStore()

    def execution_ids() -> list[int]:
        execs = status.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    before = max(execution_ids(), default=-1)
    summary = eng.run_round(2)
    assert summary["n_discovered_new"] > 0, summary
    # the status store fills from the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ids = [i for i in execution_ids() if i > before]
    assert ids
    for i in ids:
        names = _plan_node_names(status, i)
        assert not PYTHON_NODES.intersection(names), names


def test_politeness_never_exceeds_capacity(engine_run, spark, fixture_dir):
    eng, _ = engine_run
    res = eng.store.read("results").where(F.col("fetch_decision") != "robots_denied")
    robots = spark.read.parquet(f"{fixture_dir}/robots.parquet")
    per_round = res.groupBy("round", "domain").agg(F.count(F.lit(1)).alias("n"))
    joined = per_round.join(robots, "domain", "left").withColumn(
        "cap",
        F.least(
            F.coalesce("max_per_round", F.lit(10)),
            F.floor(2.0 / F.coalesce("crawl_delay_s", F.lit(0.5))).cast("int"),
        ),
    )
    # crawl_delay 0 domains: cap = max_per_round
    joined = joined.withColumn(
        "cap",
        F.when(F.coalesce("crawl_delay_s", F.lit(0.5)) <= 0.0,
               F.coalesce("max_per_round", F.lit(10))).otherwise(F.col("cap")),
    )
    assert joined.where(F.col("n") > F.col("cap")).count() == 0


def test_metrics_recorded(engine_run):
    """One metrics row per round, whose counts are the round's counts
    in results."""
    eng, summaries = engine_run
    rows = eng.store.read("metrics").collect()
    assert sorted(r["round"] for r in rows) == [s["round"] for s in summaries]
    assert all(r["urls_per_sec"] >= 0 for r in rows)
    total_processed = sum(s["n_processed"] for s in summaries)
    res = eng.store.read("results")
    assert total_processed == res.count()
    got = {r["round"]: (r["n_fetched"], r["n_robots_denied"]) for r in rows}
    want = {
        r["round"]: (r["n_fetched"], r["n_robots_denied"])
        for r in res.groupBy("round").agg(
            F.count(F.when(F.col("fetch_decision") == "fetched", 1)).alias(
                "n_fetched"
            ),
            F.count(
                F.when(F.col("fetch_decision") == "robots_denied", 1)
            ).alias("n_robots_denied"),
        ).collect()
    }
    assert got == want


def test_round_deciding_nothing_counts_zero(
    spark, fixture_dir, tmp_path, seeds
):
    """A round whose politeness budget admits no url (round_len_s below
    every seed domain's crawl delay, no seed robots-denied) decides
    nothing: its observed counts must come back 0, not missing."""
    round_len_s = 0.1
    robots = generate_robots(FixtureSpec(rows=ROWS, seed=SEED)).to_pydict()
    rules = {
        d: (delay, disallow)
        for d, delay, disallow in zip(
            robots["domain"], robots["crawl_delay_s"],
            robots["disallow_prefixes"],
        )
    }
    slow = []
    for u in seeds:
        delay, disallow = rules.get(CrawlOracle._domain(u), (None, []))
        delay = 0.5 if delay is None else delay  # the unknown-domain default
        if delay > round_len_s and not any(
            CrawlOracle._path(u).startswith(p) for p in disallow
        ):
            slow.append(u)
    assert slow, "fixture has no slow, allowed seed domain"
    eng = _mk_engine(
        spark, fixture_dir, tmp_path, slow, max_rounds=1,
        round_len_s=round_len_s,
    )
    [summary] = eng.run()
    for k in ("n_decided", "n_robots_denied", "n_fetched", "n_retrying",
              "n_discovered_raw", "n_discovered_new"):
        assert summary[k] == 0, (k, summary)
    assert summary["n_stalled"] == summary["n_frontier"] == len(slow)
    [row] = eng.store.read("metrics").collect()
    assert (row["n_fetched"], row["n_robots_denied"]) == (0, 0)
    assert row["n_politeness_stalled"] == len(slow)


def test_resume_equivalence(spark, fixture_dir, tmp_path_factory, seeds, engine_run):
    """Run 2 rounds, stop, resume for round 3 → identical state to the
    uninterrupted 3-round run (FIXTURES.md §4)."""
    store_dir = tmp_path_factory.mktemp("store_resume")
    eng2 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=2)
    eng2.run()
    eng3 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
    eng3.run(resume=True)
    base, _ = engine_run
    assert _seen_set(eng3) == _seen_set(base)
    assert _decisions(eng3) == _decisions(base)


def test_crash_before_frontier_commit_recovers(
    spark, fixture_dir, tmp_path_factory, seeds, engine_run, monkeypatch
):
    """Commit-order contract: results/seen may land before the crash,
    but the frontier (the round's commit point) did not — re-entry must
    roll the partials back and replay round 2 to a state identical to
    the uninterrupted run."""
    base, _ = engine_run
    store_dir = tmp_path_factory.mktemp("store_crash1")
    eng = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=1)
    eng.run()

    eng2 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
    orig = eng2.store.commit_staged

    def boom(token):
        if token["table"] == "frontier_added":
            raise RuntimeError("simulated crash before frontier commit")
        return orig(token)

    monkeypatch.setattr(eng2.store, "commit_staged", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng2.run_round(2)
    monkeypatch.undo()
    # the partial state is real: round-2 results and seen rows landed
    assert int(eng2.store.column_max("seen", "completed_round")) == 2
    assert (
        eng2.store.read("results").where(F.col("round") == 2).count() > 0
    )

    eng3 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
    eng3.run(resume=True)
    assert _seen_set(eng3) == _seen_set(base)
    assert _decisions(eng3) == _decisions(base)


def test_crash_after_frontier_commit_finalizes(
    spark, fixture_dir, tmp_path_factory, seeds, engine_run, monkeypatch
):
    """Crash between the frontier commit point and the metrics commit:
    results/seen/frontier are complete by the commit order — re-entry
    must only finalize the metrics row from the counts stamped at the
    commit point, not replay the round."""
    base, base_summaries = engine_run
    store_dir = tmp_path_factory.mktemp("store_crash2")
    eng = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=1)
    eng.run()

    eng2 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before metrics commit")

    monkeypatch.setattr(eng2, "_commit_metrics", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng2.run_round(2)
    monkeypatch.undo()
    assert int(eng2.store.table_meta("frontier_added")["round"]) == 2
    assert eng2.current_round() == 1  # metrics lost in the crash

    # resume stops after round 2 first: the physical frontier layout
    # it leaves is checked before round 3 changes it
    eng3 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=2)
    [summary] = eng3.run(resume=True)
    # round 2 was finalized (wall-clock unrecoverable → 0)
    assert summary["round"] == 2
    assert summary["wall_seconds"] == 0.0
    # every count, the tombstone ratio and the compaction flag equal the
    # uninterrupted round's; only the wall-clock and the rates derived
    # from it are lost
    want = next(s for s in base_summaries if s["round"] == 2)
    timed = ("wall_seconds", "decided_per_sec", "frontier_scan_per_sec")
    keys = (summary.keys() | want.keys()) - set(timed)
    assert {k: summary.get(k) for k in keys} == {k: want.get(k) for k in keys}
    # finalizing ran the compaction check: the base was rewritten (the
    # delta retired) exactly when the uninterrupted round 2 compacted
    assert (eng3._live_delta_meta() is None) == want.get("compacted", False)
    m = eng3.store.read("metrics")
    assert m.where(F.col("round") == 2).count() == 1

    eng4 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
    assert [s["round"] for s in eng4.run(resume=True)] == [3]
    assert _seen_set(eng4) == _seen_set(base)
    assert _decisions(eng4) == _decisions(base)


def test_crash_at_last_round_metrics_finalizes(
    spark, fixture_dir, tmp_path, seeds, monkeypatch
):
    """A crawl whose frontier drains before max_rounds crashes at its
    last round's metrics commit: that round's commit point passed and
    the frontier it leaves is empty, yet resume must still run the
    round, so that re-entry finalizes it and writes its metrics row."""
    cfg = dict(max_depth=1, max_rounds=5)
    o = _mk_oracle(fixture_dir, seeds, **cfg)
    last = max(r.round for r in o.results)
    assert 1 < last < cfg["max_rounds"]  # the frontier drains early
    eng = _mk_engine(spark, fixture_dir, tmp_path, seeds, **cfg)
    orig = eng.store.append_local

    def boom(table, *args, **kwargs):
        if table == "metrics" and kwargs.get("tag") == f"round-{last}":
            raise RuntimeError("simulated crash before metrics commit")
        return orig(table, *args, **kwargs)

    monkeypatch.setattr(eng.store, "append_local", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.run()
    monkeypatch.undo()
    assert eng.current_round() == last - 1

    eng2 = _mk_engine(spark, fixture_dir, tmp_path, seeds, **cfg)
    [summary] = eng2.run(resume=True)
    assert summary["round"] == last
    assert summary["wall_seconds"] == 0.0
    want = [r for r in o.results if r.round == last]
    assert summary["n_decided"] == len(want)
    assert summary["n_fetched"] == sum(
        r.fetch_decision == "fetched" for r in want
    )
    [row] = eng2.store.read("metrics").where(F.col("round") == last).collect()
    assert row["n_fetched"] == summary["n_fetched"]
    assert eng2.run(resume=True) == []  # drained: nothing left to run
    assert _decisions(eng2) == _oracle_decisions(o)


def test_pause_cancel_resume(spark, fixture_dir, tmp_path_factory, seeds, engine_run):
    """Workflow control (job_orchestrator.py:427-527 analog): pause
    stops at the round boundary and resume_control continues to a
    state identical to the uninterrupted run; cancel blocks the loop."""
    base, _ = engine_run
    store_dir = tmp_path_factory.mktemp("store_ctrl")
    eng = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=1)
    eng.run()
    eng.pause()
    eng2 = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
    assert eng2.run(resume=True) == []  # paused → no rounds run
    eng2.cancel()
    assert eng2.run(resume=True) == []
    eng2.resume_control()
    eng2.run(resume=True)
    assert _seen_set(eng2) == _seen_set(base)
    assert _decisions(eng2) == _decisions(base)


def test_recover_from_round(spark, fixture_dir, tmp_path_factory, seeds, engine_run):
    """recover_workflow(from_step) analog: roll back rounds >= N and
    re-run — deterministic replay reaches the uninterrupted state."""
    base, _ = engine_run
    for from_round in (3, 2):
        store_dir = tmp_path_factory.mktemp(f"store_rec{from_round}")
        eng = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
        eng.run()
        eng.recover_from_round(from_round)
        assert eng.current_round() == from_round - 1
        assert eng.control()["recovery_attempts"] == 1
        eng.run(resume=True)
        assert _seen_set(eng) == _seen_set(base), from_round
        assert _decisions(eng) == _decisions(base), from_round


def test_recovery_attempts_capped(spark, fixture_dir, tmp_path_factory, seeds):
    store_dir = tmp_path_factory.mktemp("store_cap")
    eng = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=1)
    eng.run()
    for _ in range(eng.MAX_RECOVERY_ATTEMPTS):
        eng.recover_from_round(1)
        eng.run(resume=True)
    with pytest.raises(ValueError, match="cannot be recovered"):
        eng.recover_from_round(1)


def _rows(df) -> set:
    return set(df.collect())


def _assert_base_is_logical(eng: CrawlEngine, reference: CrawlEngine) -> None:
    """After a compaction the delta is retired and the base scan alone
    is the logical frontier, row for row equal to ``reference``'s
    merge-on-read view of the same crawl."""
    assert eng._live_delta_meta() is None
    base_rows = _rows(eng.store.read("frontier"))
    assert _rows(eng.logical_frontier()) == base_rows
    assert base_rows == _rows(reference.logical_frontier())


def test_compaction_equivalent(spark, fixture_dir, tmp_path_factory, seeds, engine_run):
    """Merge-on-read invariant: compacting after every round (base
    rewritten, delta retired) produces state identical to the default
    amortized schedule and to the oracle-checked baseline."""
    base, _ = engine_run
    eng_c = _mk_engine(
        spark, fixture_dir, tmp_path_factory.mktemp("store_compact"), seeds,
        compact_every=1,
    )
    eng_c.run()
    assert _seen_set(eng_c) == _seen_set(base)
    assert _decisions(eng_c) == _decisions(base)
    _assert_base_is_logical(eng_c, base)


def test_compaction_fires_on_tombstone_ratio(
    spark, fixture_dir, tmp_path_factory, seeds, engine_run
):
    """The ratio policy: with a tiny threshold every round crosses it
    (each round tombstones a politeness-bounded slice of the base), so
    compaction fires each round and retires the delta; with the
    trigger disabled it never fires and the live delta keeps every
    tombstone. State is identical either way — compaction is logically
    invisible."""
    base, base_summaries = engine_run
    eager = _mk_engine(
        spark, fixture_dir, tmp_path_factory.mktemp("store_ratio"), seeds,
        compact_ratio=0.001, compact_every=0,
    )
    eager_summaries = eager.run()
    assert all(s.get("compacted") for s in eager_summaries)
    assert all("tombstone_ratio" in s for s in eager_summaries)
    _assert_base_is_logical(eager, base)
    assert _seen_set(eager) == _seen_set(base)
    assert _decisions(eager) == _decisions(base)

    never = _mk_engine(
        spark, fixture_dir, tmp_path_factory.mktemp("store_never"), seeds,
        compact_ratio=0.0, compact_every=0,
    )
    never_summaries = never.run()
    assert not any(s.get("compacted") for s in never_summaries)
    # tombstones accumulate monotonically when nothing compacts
    ratios = [s["tombstone_ratio"] for s in never_summaries]
    assert ratios == sorted(ratios) and ratios[-1] > 0
    # one tombstone per decided url, all in the live delta
    meta = never._live_delta_meta()
    n_tombstones = never.store.read("frontier_added").where(
        F.col("tombstone_round").isNotNull()
    ).count()
    assert n_tombstones == meta["n_tombstones"] > 0
    assert n_tombstones == sum(s["n_decided"] for s in never_summaries)
    assert _rows(never.logical_frontier()) == _rows(base.logical_frontier())
    assert _seen_set(never) == _seen_set(base)
    assert _decisions(never) == _decisions(base)


def test_config_validation():
    with pytest.raises(ValueError):
        CrawlConfig(seeds=[]).validate()
    with pytest.raises(ValueError):
        CrawlConfig(seeds=["x"], engines=("nope",)).validate()
    with pytest.raises(ValueError):
        CrawlConfig(seeds=["x"], engines=()).validate()
    with pytest.raises(ValueError):
        CrawlConfig(seeds=["x"], n_buckets=0).validate()
    for round_len_s in (0.0, -1.0):
        with pytest.raises(ValueError):
            CrawlConfig(seeds=["x"], round_len_s=round_len_s).validate()


def test_retry_ladder_matches_oracle(retry_run, retry_oracle):
    """fetch_failed urls re-enqueue with rotated engine until
    max_retries, then land in results — vs the oracle."""
    o = retry_oracle
    # the ladder really ran: failures were re-enqueued, then recorded
    assert o.n_requeued >= 1
    assert any(res.fetch_decision == "fetch_failed" for res in o.results)
    eng_r, summaries = retry_run
    assert sum(s["n_retrying"] for s in summaries) == o.n_requeued
    assert _seen_set(eng_r) == {(u, r) for u, r in o.seen.items()}
    assert _decisions(eng_r) == _oracle_decisions(o)


def test_compaction_crash_keeps_retry_urls(
    spark, fixture_dir, tmp_path_factory, retry_seeds, retry_run,
    retry_oracle, monkeypatch,
):
    """A crash at compaction's one commit must not change the logical
    frontier. A retried url is tombstoned and re-added in the same
    round: with the new base not committed, its live row must stay in
    the delta that the old base still reads through."""
    store_dir = tmp_path_factory.mktemp("store_compact_crash")
    eng = _mk_engine(
        spark, fixture_dir, store_dir, retry_seeds, compact_every=1,
        **RETRY_CFG,
    )
    orig = eng.store.overwrite

    def crash_at_compaction(table, *args, **kwargs):
        # a compaction writes the base stamped with its round; the seed
        # write is round 0
        if table == "frontier" and kwargs.get("meta", {}).get("round", 0) > 0:
            raise RuntimeError("simulated crash inside compaction")
        return orig(table, *args, **kwargs)

    monkeypatch.setattr(eng.store, "overwrite", crash_at_compaction)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.run()
    monkeypatch.undo()
    assert eng.current_round() == 1  # round 1 committed, then crashed
    # round 1 re-enqueued a failed fetch, so a retry row was in flight
    assert eng.store.read("round_log").where(F.col("will_retry")).count() > 0

    eng2 = _mk_engine(
        spark, fixture_dir, store_dir, retry_seeds, compact_every=1,
        **RETRY_CFG,
    )
    eng2.run(resume=True)
    base, _ = retry_run
    assert _seen_set(eng2) == _seen_set(base)
    assert _decisions(eng2) == _decisions(base)
    assert _decisions(eng2) == _oracle_decisions(retry_oracle)


COMMIT_METHODS = ("overwrite", "append", "commit_staged", "append_local")


class _CrashAtNewCommit:
    """Wraps a TableStore's commit methods and names each outermost
    call (method, table, n-th such call in this run). Nested calls —
    ``overwrite`` → ``commit_staged``, a table's first bucketed
    ``append`` → ``overwrite`` — belong to the outer commit. The first
    commit whose name is not yet in ``done`` raises before it runs and
    is added to ``done``. Names do not depend on how the concurrent
    results/seen appends interleave."""

    def __init__(self, store: TableStore, done: set):
        self.crashed = None
        self._done = done
        self._calls: collections.Counter = collections.Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        for method in COMMIT_METHODS:
            setattr(store, method, self._wrap(method, getattr(store, method)))

    def _wrap(self, method, orig):
        def commit(*args, **kwargs):
            depth = getattr(self._local, "depth", 0)
            if depth == 0:
                table = args[0]["table"] if method == "commit_staged" else args[0]
                with self._lock:
                    name = (method, table, self._calls[method, table])
                    self._calls[method, table] += 1
                    if self.crashed is None and name not in self._done:
                        self.crashed = name
                        self._done.add(name)
                        raise RuntimeError(f"simulated crash before {name}")
            self._local.depth = depth + 1
            try:
                return orig(*args, **kwargs)
            finally:
                self._local.depth = depth

        return commit


def test_crash_at_every_commit_resumes(
    spark, fixture_dir, tmp_path_factory, retry_seeds, retry_run,
    retry_oracle,
):
    """Crash consistency at every commit boundary: each run crashes
    before the first TableStore commit no earlier run crashed at, and
    a fresh engine resumes it. The sweep ends with the first run that
    does not crash. Retry ladder on, compaction every round; four url
    buckets keep each of the ~26 crawls short (results do not depend
    on the bucket count)."""
    base, _ = retry_run
    want_seen = {(u, r) for u, r in retry_oracle.seen.items()}
    want_decisions = _oracle_decisions(retry_oracle)
    assert (_seen_set(base), _decisions(base)) == (want_seen, want_decisions)
    cfg = dict(compact_every=1, n_buckets=4, **RETRY_CFG)
    done: set = set()
    while True:
        store_dir = tmp_path_factory.mktemp("store_sweep")
        eng = _mk_engine(spark, fixture_dir, store_dir, retry_seeds, **cfg)
        crash = _CrashAtNewCommit(eng.store, done)
        try:
            eng.run()
        except RuntimeError:
            if crash.crashed is None:
                raise
        if crash.crashed is None:
            break
        resumed = _mk_engine(spark, fixture_dir, store_dir, retry_seeds, **cfg)
        resumed.run(resume=True)
        assert _seen_set(resumed) == want_seen, crash.crashed
        assert _decisions(resumed) == want_decisions, crash.crashed
    # the run that did not crash is the uninterrupted compacting crawl
    assert (_seen_set(eng), _decisions(eng)) == (want_seen, want_decisions)
    # the seed and pages_ext writes, then six commits per round:
    # round_log, results, seen, the delta flip, metrics, compaction
    n_rounds = len(eng.store.read("metrics").select("round").distinct().collect())
    assert len(done) == 2 + 6 * n_rounds, sorted(done)


def test_recover_from_round_crash_reruns(
    spark, fixture_dir, tmp_path_factory, seeds, engine_run, monkeypatch
):
    """A crash inside recover_from_round after its frontier write
    leaves the control status at "recovering", so run() refuses;
    calling recover_from_round again completes the rollback, and the
    resumed crawl equals the uninterrupted run. Crashes right after the
    frontier write and at the last step (the seen rewrite)."""
    base, _ = engine_run
    for method, table in (("drop_tagged", "results"), ("overwrite", "seen")):
        store_dir = tmp_path_factory.mktemp("store_rec_crash")
        eng = _mk_engine(spark, fixture_dir, store_dir, seeds, max_rounds=3)
        eng.run()
        orig = getattr(eng.store, method)

        def crash(t, *args, _orig=orig, _table=table, **kwargs):
            if t == _table:
                raise RuntimeError("simulated crash inside recovery")
            return _orig(t, *args, **kwargs)

        monkeypatch.setattr(eng.store, method, crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            eng.recover_from_round(2)
        monkeypatch.undo()
        assert eng.store.table_meta("frontier")["round"] == 1, method
        assert eng.control()["status"] == "recovering"
        assert eng.run(resume=True) == []
        eng.recover_from_round(2)
        eng.run(resume=True)
        assert _seen_set(eng) == _seen_set(base), method
        assert _decisions(eng) == _decisions(base), method


def test_multi_round_soak_invariants(spark, tmp_path):
    """Six full rounds over a 100k-page fixture with real discovery:
    the Mercator invariants must hold at every exit — frontier and
    seen disjoint, no duplicate frontier urls, every decided url in
    results exactly once, seen ≡ results. (An 8-round run at 1M pages
    passes the same assertions; this is the suite-sized version.)"""
    import os

    from pixcrawler_spark.fixtures import write_fixtures
    from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine
    from pixcrawler_spark.sources.tables import TableStore

    fx = str(tmp_path / "fx")
    write_fixtures(fx, rows=100_000, seed=7)
    pages = spark.read.parquet(os.path.join(fx, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(fx, "robots.parquet"))
    store = TableStore(spark, str(tmp_path / "store"))
    static_store = TableStore(spark, str(tmp_path / "static"))
    cfg = CrawlConfig(seeds=["placeholder"], max_depth=3, max_rounds=6)
    eng = CrawlEngine(spark, pages, robots, store, cfg,
                      static_store=static_store)
    eng.ensure_pages_ext()
    seeds = pages.select("url").limit(10_000)
    store.overwrite("frontier", eng.frontier_from(seeds),
                    bucket=(("url",), 16), meta={"round": 0})
    store.overwrite(
        "seen",
        spark.createDataFrame([], "url string, completed_round int"),
        bucket=(("url",), 16),
    )
    eng._set_control(status="running", recovery_attempts=0)
    summaries = eng.run(resume=True)
    assert len(summaries) >= 4, summaries
    assert sum(s["n_discovered_new"] for s in summaries) > 0

    frontier = eng.logical_frontier(len(summaries) + 1)
    seen = store.read("seen")
    results = store.read("results")
    nf, ns, nr = frontier.count(), seen.count(), results.count()
    assert frontier.join(seen.select("url"), "url", "inner").count() == 0
    assert nf == frontier.select("url").distinct().count()
    assert nr == results.select("url").distinct().count()
    assert ns == nr


@pytest.mark.parametrize("max_depth", [2, 3])
def test_round_counts_match_oracle(
    spark, fixture_dir, tmp_path_factory, retry_seeds, max_depth
):
    """Per-round n_frontier / n_decided / n_discovered_raw /
    n_discovered_new of a non-compacting retry crawl equal the oracle's
    counters, so the n_frontier chain through the delta's commit meta
    is checked across rounds. At max_depth 2 the last round decides
    only depth-2 and exhausted-retry urls: its discovery delta is
    empty, and its counts must come back 0/0. At max_depth 3 later
    rounds re-discover urls still waiting among the delta's adds,
    which must not count as new."""
    eng = _mk_engine(
        spark, fixture_dir, tmp_path_factory.mktemp("store_counts"),
        retry_seeds, max_depth=max_depth, compact_ratio=0, compact_every=0,
        **RETRY_CFG,
    )
    summaries = eng.run()
    o = _mk_oracle(fixture_dir, retry_seeds, max_depth=max_depth, **RETRY_CFG)
    keys = ("n_frontier", "n_decided", "n_discovered_raw", "n_discovered_new")
    got = [tuple(s[k] for k in keys) for s in summaries]
    want = [
        (
            r["n_frontier"],
            r["n_decided"],
            r["n_discovered_raw"],
            # the next frontier is this round's stalled rows plus the
            # new discoveries
            r["n_frontier_next"] - (r["n_frontier"] - r["n_decided"]),
        )
        for r in o.rounds
        if r["n_frontier"] > 0
    ]
    assert got == want
    assert not any(s.get("compacted") for s in summaries)
    assert any(s["n_retrying"] > 0 for s in summaries)
    if max_depth == 2:
        assert got[-1][2:] == (0, 0)


def test_observation_survives_empty_stage(spark, fixture_dir, tmp_path):
    """A count observed upstream of a shuffle stage that comes back
    empty is still reported once a CrawlEngine has configured the
    session: the raw discovery count of a round whose discoveries were
    all already seen has exactly this shape."""
    spark.conf.unset("spark.sql.adaptive.optimizer.excludedRules")
    eng = _mk_engine(spark, fixture_dir, tmp_path, ["http://unused/"])
    raw_obs, new_obs = Observation(), Observation()
    raw = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("url")
    ).observe(raw_obs, F.count(F.lit(1)).alias("n"))
    seen = spark.range(7).select(F.col("id").cast("string").alias("url"))
    new = (
        raw.dropDuplicates(["url"])
        .join(seen, "url", "left_anti")
        .repartition(5, "url")  # an empty shuffle stage
        .observe(new_obs, F.count(F.lit(1)).alias("n"))
    )
    eng.store.overwrite("observed", new, bucket=(("url",), 4))
    assert raw_obs.get == {"n": 100}
    assert new_obs.get == {"n": 0}
