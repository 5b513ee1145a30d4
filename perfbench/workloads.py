"""The benchmark's three workloads over the crawl engine's public API.

Each workload has a one-time preparation (part of ``setup_s``), an
untimed reference computed once per seed, an untimed reset before every
operation, the timed operation itself, and an output check run after
every operation. See ``perfbench/README.md`` for why each was chosen.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import subprocess
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

# Fixed table layout and parallelism, independent of the host, so that
# figures from different hosts describe the same plan.
N_BUCKETS = 4
SHUFFLE_PARTITIONS = 4

STATE_TABLES = ("frontier", "frontier_added", "frontier_removed", "seen",
                "results", "metrics", "round_log")


@dataclass
class Ctx:
    spark: object
    work: str
    pages_path: str
    robots_path: str
    seed: int
    pages: object = None
    robots: object = None
    # wall times of the top-level ensure_pages_ext calls the benchmark made
    extract_times: list = field(default_factory=list)

    def __post_init__(self):
        self.pages = self.spark.read.parquet(self.pages_path)
        self.robots = self.spark.read.parquet(self.robots_path)

    def store(self, name: str):
        from pixcrawler_spark.sources.tables import TableStore

        return TableStore(self.spark, os.path.join(self.work, name))


def _timed_extract(ctx: Ctx, engine) -> None:
    import time

    t0 = time.monotonic()
    engine.ensure_pages_ext()
    ctx.extract_times.append(time.monotonic() - t0)


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


_CHILD = ("import pickle, sys; out = sys.stdout.buffer; sys.stdout = sys.stderr; "
          "fn, args = pickle.load(sys.stdin.buffer); pickle.dump(fn(*args), out)")


def _in_child(fn, *args):
    """``fn(*args)`` in a fresh Python process that has ended when this
    returns, so that the reference crawl's memory never counts in the
    benchmark's own process. ``fn`` must be importable by name."""
    proc = subprocess.run([sys.executable, "-c", _CHILD],
                          input=pickle.dumps((fn, args)), capture_output=True)
    if proc.returncode != 0:
        raise RuntimeError("reference process failed:\n"
                           + proc.stderr.decode(errors="replace")[-4000:])
    return pickle.loads(proc.stdout)


def _oracle(pages_path: str, robots_path: str, **kwargs):
    from tests.oracle import CrawlOracle

    return CrawlOracle(pages_path=pages_path, robots_path=robots_path,
                       **kwargs)


def _midcrawl_expected(pages_path: str, robots_path: str,
                       frontier: list[str], seen: list[str]) -> dict:
    """Summary counts of one oracle round from the given mid-crawl state."""
    o = _oracle(pages_path, robots_path, seeds=[], max_depth=1, max_rounds=1)
    o._load()
    o.seen = {u: 0 for u in seen}
    rows = [{"url": u, "domain": o._domain(u), "depth": 0,
             "engine": "google", "score": 1.0, "discovered_round": 0,
             "retry_count": 0} for u in frontier]
    nxt = o.run_round(1, rows)
    dec = [r.fetch_decision for r in o.results]
    n_decided = len(dec)
    return {
        "n_frontier": len(frontier),
        "n_decided": n_decided,
        "n_fetched": dec.count("fetched"),
        "n_robots_denied": dec.count("robots_denied"),
        "n_discovered_raw": len(nxt) - (len(frontier) - n_decided),
    }


def _seeded_expected(pages_path: str, robots_path: str, seeds: list[str],
                     max_depth: int, max_rounds: int):
    """Per-round counts, seen-set digest and crawl-order digest of an
    oracle crawl."""
    o = _oracle(pages_path, robots_path, seeds=seeds, max_depth=max_depth,
                max_rounds=max_rounds)
    o.run()
    per_round = {}
    for r in o.results:
        c = per_round.setdefault(r.round, {"n_decided": 0, "n_fetched": 0,
                                           "n_robots_denied": 0})
        c["n_decided"] += 1
        if r.fetch_decision == "fetched":
            c["n_fetched"] += 1
        elif r.fetch_decision == "robots_denied":
            c["n_robots_denied"] += 1
    return ([per_round[k] for k in sorted(per_round)],
            _digest(o.seen.items()), _digest(o.ordering()))


class Workload:
    """One workload: ``prepare`` (timed into ``setup_s``), ``reference``
    (untimed, once), then per operation ``reset`` (untimed), ``op``
    (timed) and ``check`` (untimed; returns the failed checks)."""

    name = ""
    rows = 0
    # the table whose write is the operation's main data job
    main_table = "round_log"
    # work-directory stores whose files the traced run counts
    store_names: tuple[str, ...] = ()
    # untimed operations before the first timed one: the first pays for
    # codegen and Python-worker start, later ones for more of the JIT
    warmup_ops = 1

    def prepare(self, ctx: Ctx) -> None:
        pass

    def reference(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> None:
        for _ in range(self.warmup_ops):
            self.reset(ctx)
            self.op(ctx)

    def reset(self, ctx: Ctx) -> None:
        pass

    def op(self, ctx: Ctx):
        raise NotImplementedError

    def check(self, ctx: Ctx, out) -> list[str]:
        raise NotImplementedError

    def work_units(self, out) -> int:
        raise NotImplementedError

    def summaries(self, out) -> list[dict]:
        return []


class MidcrawlRound(Workload):
    """One full ``run_round(1)`` from an identical mid-crawl state: 1/3
    of the corpus already seen, the other 2/3 in the frontier."""

    name = "midcrawl_round"
    rows = 50_000
    store_names = ("store",)

    def _config(self):
        from pixcrawler_spark.plans.crawl import CrawlConfig

        # compact_every=1: whether the tombstone-ratio trigger fires
        # depends on how many urls the seed's robots rules deny, which
        # would make the round's cost bimodal across seeds
        return CrawlConfig(seeds=["unused"], max_depth=1, max_rounds=1,
                           n_buckets=N_BUCKETS, compact_every=1)

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F
        from pixcrawler_spark.plans.crawl import CrawlEngine

        self.static = ctx.store("static")
        self.template = ctx.store("template")
        self.store = ctx.store("store")
        self.engine = CrawlEngine(ctx.spark, ctx.pages, ctx.robots, self.store,
                                  self._config(), static_store=self.static)
        _timed_extract(ctx, self.engine)
        urls = ctx.pages.select("url")
        third = F.pmod(F.xxhash64("url"), F.lit(3))
        bucket = (("url",), N_BUCKETS)
        self.template.overwrite(
            "frontier", self.engine.frontier_from(urls.where(third != 0)),
            bucket=bucket,
        )
        self.template.overwrite(
            "seen",
            urls.where(third == 0).select(
                "url", F.lit(0).cast("int").alias("completed_round")),
            bucket=bucket,
        )

    def reference(self, ctx: Ctx) -> None:
        frontier = [r["url"] for r in
                    self.template.read("frontier").select("url").collect()]
        seen = [r["url"] for r in
                self.template.read("seen").select("url").collect()]
        self.expected = _in_child(_midcrawl_expected, ctx.pages_path,
                                  ctx.robots_path, frontier, seen)

    def reset(self, ctx: Ctx) -> None:
        for t in STATE_TABLES:
            self.store.drop(t)
        bucket = (("url",), N_BUCKETS)
        for t in ("frontier", "seen"):
            self.store.overwrite(t, self.template.read(t), bucket=bucket)

    def op(self, ctx: Ctx):
        return self.engine.run_round(1)

    def check(self, ctx: Ctx, out) -> list[str]:
        errs = []
        if out["n_frontier"] != out["n_decided"] + out["n_stalled"]:
            errs.append("n_frontier != n_decided + n_stalled")
        for k, v in self.expected.items():
            if out[k] != v:
                errs.append(f"{k}: engine {out[k]} != oracle {v}")
        return errs

    def work_units(self, out) -> int:
        return out["n_decided"]

    def summaries(self, out) -> list[dict]:
        return [out]


class SeededCrawl(Workload):
    """One fresh ``CrawlEngine.run()`` from 64 config seeds."""

    name = "seeded_crawl"
    rows = 20_000
    n_seeds = 64
    max_depth = 3
    max_rounds = 2
    store_names = ("store",)

    def prepare(self, ctx: Ctx) -> None:
        from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine

        pages = pq.read_table(ctx.pages_path, columns=["url", "html"])
        urls = np.array(pages.column("url").to_pylist(), dtype=object)
        has_html = np.array(pages.column("html").is_valid())
        rng = np.random.default_rng(ctx.seed)
        self.seeds = sorted(rng.choice(urls[has_html], size=self.n_seeds,
                                       replace=False).tolist())
        self.store = ctx.store("store")
        cfg = CrawlConfig(seeds=self.seeds, max_depth=self.max_depth,
                          max_rounds=self.max_rounds, n_buckets=N_BUCKETS)
        self.engine = CrawlEngine(ctx.spark, ctx.pages, ctx.robots, self.store,
                                  cfg, static_store=ctx.store("static"))
        _timed_extract(ctx, self.engine)

    def reference(self, ctx: Ctx) -> None:
        (self.expected_rounds, self.expected_seen,
         self.expected_order) = _in_child(
            _seeded_expected, ctx.pages_path, ctx.robots_path, self.seeds,
            self.max_depth, self.max_rounds)

    def op(self, ctx: Ctx):
        return self.engine.run()

    def check(self, ctx: Ctx, out) -> list[str]:
        errs = []
        if len(out) != len(self.expected_rounds):
            errs.append(f"rounds: engine {len(out)} != oracle "
                        f"{len(self.expected_rounds)}")
        for i, (got, want) in enumerate(zip(out, self.expected_rounds), 1):
            if got["n_frontier"] != got["n_decided"] + got["n_stalled"]:
                errs.append(f"round {i}: n_frontier != n_decided + n_stalled")
            for k, v in want.items():
                if got[k] != v:
                    errs.append(f"round {i} {k}: engine {got[k]} != oracle {v}")
        seen = [(r["url"], r["completed_round"])
                for r in self.store.read("seen").collect()]
        if _digest(seen) != self.expected_seen:
            errs.append("final seen set differs from the oracle")
        order = [(r["round"], r["domain"], r["rank_in_round"], r["url"])
                 for r in self.engine.crawl_order().collect()]
        if _digest(order) != self.expected_order:
            errs.append("crawl order differs from the oracle")
        return errs

    def work_units(self, out) -> int:
        return sum(s["n_decided"] for s in out)

    def summaries(self, out) -> list[dict]:
        return out


class IngestExtract(Workload):
    """The corpus run through ``ensure_pages_ext`` into an empty store."""

    name = "ingest_extract"
    rows = 100_000
    warmup_ops = 4
    main_table = "pages_ext"
    store_names = ("ingest",)

    def reset(self, ctx: Ctx) -> None:
        from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine

        ctx.store("ingest").drop("pages_ext")
        shutil.rmtree(os.path.join(ctx.work, "ingest"), ignore_errors=True)
        self.static = ctx.store("ingest")
        cfg = CrawlConfig(seeds=["unused"], n_buckets=N_BUCKETS)
        self.engine = CrawlEngine(ctx.spark, ctx.pages, ctx.robots,
                                  self.static, cfg, static_store=self.static)

    def op(self, ctx: Ctx):
        _timed_extract(ctx, self.engine)
        return self.rows

    def check(self, ctx: Ctx, out) -> list[str]:
        from pyspark.sql import functions as F

        ext = self.static.read("pages_ext")
        n = ext.count()
        errs = [] if n == self.rows else [f"pages_ext has {n} rows, "
                                          f"corpus has {self.rows}"]
        want = ctx.pages.select("url", F.col("text").alias("want"))
        bad = (ext.join(want, "url", "full_outer")
               .where(~F.col("text").eqNullSafe(F.col("want"))).count())
        if bad:
            errs.append(f"{bad} urls have extracted text != pages.text")
        return errs

    def work_units(self, out) -> int:
        return out


WORKLOADS = {w.name: w for w in (MidcrawlRound, SeededCrawl, IngestExtract)}
