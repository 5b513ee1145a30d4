"""Straight-line pandas oracle for the crawl engine.

Re-implements plans/crawl.py's documented semantics imperatively
(mirroring the reference's control flow, SURVEY.md §3.1) so the Spark
engine can be checked for exact equality of: fetch decisions, crawl
ordering, final URL-seen set, and per-url extracted text.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from pixcrawler_spark.functions.text import extract_outlinks_py, extract_text_py
from pixcrawler_spark.plans.crawl import ENGINE_SCORES

DEFAULT_CRAWL_DELAY_S = 0.5
DEFAULT_MAX_PER_ROUND = 10


@dataclass
class OracleResult:
    url: str
    domain: str
    fetch_decision: str
    depth: int
    round: int
    text: str | None = None
    outlinks: list[str] | None = None


@dataclass
class CrawlOracle:
    pages_path: str
    robots_path: str
    seeds: list[str]
    max_depth: int = 3
    max_rounds: int = 5
    round_len_s: float = 10.0
    engines: tuple[str, ...] = ("google", "bing", "baidu")
    max_retries: int = 0

    results: list[OracleResult] = field(default_factory=list)
    seen: dict[str, int] = field(default_factory=dict)  # url -> round
    n_requeued: int = 0  # fetch_failed rows re-enqueued for a retry
    # per-round counters, one dict per executed round
    rounds: list[dict] = field(default_factory=list)

    def _load(self):
        pages = pq.read_table(self.pages_path).to_pydict()
        self.page_map = {
            u: (ts, h)
            for u, ts, h in zip(pages["url"], pages["warc_ts"], pages["html"])
        }
        robots = pq.read_table(self.robots_path).to_pydict()
        self.robots_map = {
            d: (list(px), float(delay), int(mpr))
            for d, px, delay, mpr in zip(
                robots["domain"],
                robots["disallow_prefixes"],
                robots["crawl_delay_s"],
                robots["max_per_round"],
            )
        }

    @staticmethod
    def _domain(url: str) -> str:
        return url.split("://", 1)[1].split("/", 1)[0]

    @staticmethod
    def _path(url: str) -> str:
        rest = url.split("://", 1)[1]
        return rest.split("/", 1)[1] if "/" in rest else ""

    def _capacity(self, domain: str) -> int:
        _, delay, mpr = self.robots_map.get(
            domain, ([], DEFAULT_CRAWL_DELAY_S, DEFAULT_MAX_PER_ROUND)
        )
        if delay <= 0.0:
            return mpr
        return min(mpr, int(math.floor(self.round_len_s / delay)))

    def _robots_denied(self, url: str) -> bool:
        dis, _, _ = self.robots_map.get(self._domain(url), ([], 0.0, 0))
        path = self._path(url)
        return any(path.startswith(p) for p in dis)

    def _engine(self, depth: int) -> str:
        return self.engines[depth % len(self.engines)]

    def run(self) -> None:
        self._load()
        frontier = [
            {
                "url": u,
                "domain": self._domain(u),
                "depth": 0,
                "engine": self._engine(0),
                "score": ENGINE_SCORES[self._engine(0)],
                "discovered_round": 0,
                "retry_count": 0,
            }
            for u in self.seeds
        ]
        for r in range(1, self.max_rounds + 1):
            if not frontier:
                break
            frontier = self.run_round(r, frontier)

    def run_round(self, r: int, frontier: list[dict]) -> list[dict]:
        # 1. per-url dedup keeping best (depth, -score, engine, discovered)
        best: dict[str, dict] = {}
        for c in sorted(
            frontier,
            key=lambda c: (
                c["url"], c["depth"], -c["score"], c["engine"],
                c["discovered_round"], -c.get("retry_count", 0),
            ),
        ):
            best.setdefault(c["url"], c)
        # 2. seen anti-join
        unseen = [c for c in best.values() if c["url"] not in self.seen]
        # 3/4. robots + politeness admission per domain
        denied = [c for c in unseen if self._robots_denied(c["url"])]
        allowed = [c for c in unseen if not self._robots_denied(c["url"])]
        by_domain: dict[str, list[dict]] = {}
        for c in allowed:
            by_domain.setdefault(c["domain"], []).append(c)
        admitted, stalled = [], []
        for d, cands in by_domain.items():
            cands.sort(key=lambda c: (c["depth"], -c["score"], c["url"]))
            cap = self._capacity(d)
            admitted += cands[:cap]
            stalled += cands[cap:]
        # 5/6. fetch + extract
        for c in denied:
            self.results.append(
                OracleResult(c["url"], c["domain"], "robots_denied", c["depth"], r)
            )
            self.seen[c["url"]] = r
        discovered: list[dict] = []
        retries: list[dict] = []
        for c in admitted:
            url = c["url"]
            if url not in self.page_map:
                decision, text, links = "not_found", None, None
            else:
                _, html = self.page_map[url]
                if html is None:
                    decision, text, links = "fetch_failed", None, None
                else:
                    decision = "fetched"
                    text = extract_text_py(html)
                    links = extract_outlinks_py(html)
            if (
                decision == "fetch_failed"
                and c.get("retry_count", 0) < self.max_retries
            ):
                rk = c.get("retry_count", 0) + 1
                eng = self.engines[(c["depth"] + rk) % len(self.engines)]
                retries.append(
                    {
                        "url": url,
                        "domain": c["domain"],
                        "depth": c["depth"],
                        "engine": eng,
                        "score": ENGINE_SCORES[eng],
                        "discovered_round": r,
                        "retry_count": rk,
                    }
                )
                self.n_requeued += 1
                continue
            self.results.append(
                OracleResult(url, c["domain"], decision, c["depth"], r, text, links)
            )
            self.seen[url] = r
            if decision == "fetched" and c["depth"] < self.max_depth:
                nd = c["depth"] + 1
                eng = self._engine(nd)
                for link in links:
                    discovered.append(
                        {
                            "url": link,
                            "domain": self._domain(link),
                            "depth": nd,
                            "engine": eng,
                            "score": ENGINE_SCORES[eng],
                            "discovered_round": r,
                            "retry_count": 0,
                        }
                    )
        nxt = stalled + discovered + retries
        self.rounds.append(
            {
                "n_frontier": len(unseen),
                "n_decided": len(denied) + len(admitted),
                "n_discovered_raw": len(discovered) + len(retries),
                # the next round's deduped, seen-filtered frontier
                "n_frontier_next": len({c["url"] for c in nxt} - self.seen.keys()),
            }
        )
        return nxt

    # -- contract views ---------------------------------------------------
    def ordering(self) -> set[tuple]:
        """(round, domain, rank_in_round, url) over processed urls,
        rank ordered by (depth, url) per (round, domain)."""
        out = set()
        key: dict[tuple, list] = {}
        for res in self.results:
            if res.fetch_decision == "robots_denied":
                continue
            key.setdefault((res.round, res.domain), []).append(res)
        for (rnd, dom), rows in key.items():
            rows.sort(key=lambda x: (x.depth, x.url))
            for i, row in enumerate(rows, 1):
                out.add((rnd, dom, i, row.url))
        return out
