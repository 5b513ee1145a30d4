"""The crawl round loop: frontier → robots → priority admission →
fetch join → decision log → frontier/seen maintenance.

This is the Spark trace of the reference's whole lifecycle
(SURVEY.md §3.1 step list): the driver loop replaces the poll/retry
loops (builder/_generator.py:311-325), the fetch join replaces HTTP
GETs (builder/_search_engines.py:115-223), the politeness operator
replaces executor sleeps, and TableStore snapshots replace the
progress cache (builder/progress.py) — resume re-reads the last
committed round exactly.

DETERMINISM CONTRACT (SURVEY §7 hard-parts 1 & 3): crawl order is
defined by (round, domain, priority_rank) where priority_rank ranks
(depth asc, score desc, url asc) per domain — never wall-clock. The
engine assigned to a candidate is engines[depth % len(engines)]
(the reference's ALTERNATING retry strategy, builder/_generator.py:
237-260, keyed on depth instead of unseeded randomness); its score is
the engine's config score. Identical (pages, robots, config) ⇒
identical results, ordering, and seen set — the pytest oracle
(tests/oracle.py) re-implements these semantics in straight-line
pandas and must match exactly.

ARCHITECTURE (v4 — Mercator invariant + MERGE-ON-READ frontier):

The LOGICAL frontier keeps the invariant **unique urls, disjoint from
the seen set** (the reference's progress-cache skip,
builder/progress.py:84-96, enforced at enqueue time instead of per
round), but is stored as two url-bucketed tables instead of one
rewritten blob:

    logical = merge_best(base ANTI tombstones, adds)

- ``frontier`` (base): immutable between base writes. Every base write
  (seed, compaction, ``recover_from_round``) stamps a fresh
  ``base_id`` into its commit meta.
- ``frontier_added`` (delta): everything since the last base write,
  rewritten once per round. It holds the added discovery/retry rows
  (``tombstone_round`` null) and one tombstone per decided url — the
  decided row itself, with ``tombstone_round`` = the deciding round
  (the Iceberg delete-file analog). Its commit meta carries the
  ``base_id`` it was built on; a delta whose id does not match the
  current base is stale, and every reader ignores it
  (``_live_delta_meta``).

``merge_best`` distributes over per-url anti-joins, so folding each
round's discoveries into the adds and tombstoning decided urls is
EXACTLY equivalent to rewriting the whole frontier each round (the
pytest oracle + goldens pin this). Both tables share the url bucket
layout, so the logical view is exchange-free: bucketed SMJ anti +
co-bucketed full-outer merge, no shuffle.

A round is then:

1. DECIDE (the hot path, one linear plan, materialized once as
   ``round_log``): scan the logical frontier (politeness columns are
   denormalized at enqueue time — no per-round robots join; see
   FRONTIER_SCHEMA) → either record ``robots_denied`` from the stored
   flag, or rank by priority per domain and admit up to the politeness
   capacity → join admitted against the (bucketed) pages table on url
   → fetch-decision CASE. Rows the rank cuts are *politeness stalls*:
   they are simply not in the log and stay in the frontier untouched.
2. MAINTAIN (deltas only, CONCURRENT Spark jobs): results/seen
   appends = scans of the committed log; the delta is rewritten as
   previous tombstones ∪ this round's decided rows as tombstones ∪
   merge_best(adds ANTI log, deduped seen-filtered politeness-stamped
   discoveries + retry re-enqueues). NO full-frontier write, NO
   full-frontier shuffle — only scans (which parallelize) and
   delta-sized writes. No job only counts: the decision counts are an
   Observation on the round_log write, the two discovery counts (raw,
   and new = not already waiting in the remainder) Observations on the
   delta write, and the frontier size chains through commit metadata.
   The round's one metrics row is a driver-side append built from them.
3. COMPACT (when tombstones exceed ``compact_ratio`` of the base, or
   every ``compact_every`` rounds): ONE base write of the
   materialized logical view under a new ``base_id``. The same commit
   retires the delta (its id no longer matches), so a crash on either
   side of it leaves the logical view unchanged.

SCALE NOTES (10^10-URL frontier):
- **No wide shuffle of any static table.** ``seen``, ``pages_ext``
  and ``frontier`` are stored bucketed by url (TableStore → Iceberg
  ``bucket(N, url)`` in production), so the fetch join, the discovery
  anti-joins and the remainder anti-join only shuffle the per-round
  delta (politeness-bounded), never the big side.
- **Skew-proof admission.** The per-domain priority window ranks a
  Zipf-skewed key; the admission filter carries a *literal* global
  capacity bound alongside the per-domain capacity column, which lets
  Spark's WindowGroupLimit rule run a map-side partial top-K per
  domain BEFORE the exchange — the hottest domain contributes at most
  K rows per map task to the shuffle instead of its full row count.
  (Without this cut the window was measured serializing 18% of the
  corpus into one task.) Capacity is always bounded by
  ``max_per_round``, so the literal bound always exists.
- Each round commits round_log/results/seen/frontier_added/metrics
  (TableStore → Iceberg in production). COMMIT ORDER makes a crashed
  round idempotent: round_log (stamped with its round) → results/seen
  appends (computed concurrently with the delta's data write) → the
  delta manifest flip (STAGED during the concurrent phase, committed
  strictly last — the round's single commit point; it publishes the
  round's tombstones and adds together and stamps the round's counts)
  → metrics. Re-entry after a crash therefore sees exactly one of two
  states: the delta not yet advanced (roll back any partial
  results/seen commits and re-run the deterministic decide plan), or
  the delta advanced (results/seen are complete by construction; the
  round ends as an uninterrupted one does — metrics row, then the
  compaction check — from the counts stamped in the delta's commit
  meta). See ``_recover``.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from pixcrawler_spark.operators import politeness as pol
from pixcrawler_spark.operators.urlresolve import resolve_reference
from pixcrawler_spark.schemas import FRONTIER_SCHEMA, SEEN_SCHEMA
from pixcrawler_spark.session import keep_observed_branches
from pixcrawler_spark.sources.tables import TableStore

ENGINE_SCORES = {"google": 1.0, "bing": 0.8, "baidu": 0.6}

# priority/dedup ordering used everywhere a "best" frontier row is
# chosen: (depth asc, score desc, engine asc, discovered_round asc,
# retry_count desc) — the further-along retry row wins ties
def _best_order():
    return [
        F.asc("depth"),
        F.desc("score"),
        F.asc("engine"),
        F.asc("discovered_round"),
        F.desc("retry_count"),
    ]


@dataclass
class CrawlConfig:
    """The crawl "query" (reference CONFIG_SCHEMA, builder/_config.py:31-94,
    plus the frontier extensions from FIXTURES.md §3)."""

    seeds: list[str]
    max_depth: int = 3
    max_rounds: int = 5
    round_len_s: float = 10.0
    engines: tuple[str, ...] = ("google", "bing", "baidu")
    # Retry ladder (reference: Retry.retry_download + ALTERNATING
    # engine strategy, builder/_generator.py:237-341): a fetch_failed
    # url with retry_count < max_retries is re-enqueued for the next
    # round with retry_count+1 and engine rotated to
    # engines[(depth + retry_count) % n], instead of being recorded;
    # only the exhausted attempt lands in results/seen. 0 = no retries.
    max_retries: int = 0
    # url-hash bucket count for the seen/pages_ext/frontier tables
    # (Iceberg bucket(N, url) in production). Set ≈ total cores.
    n_buckets: int = 32
    # MERGE-ON-READ frontier: every round rewrites only the small
    # `frontier_added` delta (adds + tombstones for decided urls); the
    # immutable base is re-materialized (compacted) when the
    # accumulated tombstones exceed ``compact_ratio`` of the base —
    # the Iceberg delete-file/compaction pattern, triggered by the
    # quantity that actually degrades reads (tombstone anti-join
    # traffic scales with |removed|, not with wall-clock rounds).
    # Counters chain through commit metadata, so the policy costs no
    # extra Spark jobs. ``compact_every`` remains as an optional
    # periodic override (0 = off); ratio 0 disables the ratio trigger.
    compact_ratio: float = 0.25
    compact_every: int = 0

    def validate(self) -> None:
        if not self.seeds:
            raise ValueError("seeds must be non-empty")
        if self.max_depth < 0 or self.max_rounds < 1:
            raise ValueError("max_depth >= 0 and max_rounds >= 1 required")
        if self.round_len_s <= 0:
            # a crawl-delayed domain's capacity is round_len_s / delay:
            # at 0 its urls would stall every round until max_rounds
            raise ValueError("round_len_s > 0 required")
        if self.n_buckets < 1:
            raise ValueError("n_buckets >= 1 required")
        if not self.engines:
            raise ValueError("engines must be non-empty")
        unknown = [e for e in self.engines if e not in ENGINE_SCORES]
        if unknown:
            raise ValueError(f"unknown engines: {unknown}")


def _engine_expr(depth_col, engines: tuple[str, ...]):
    e = F.lit(engines[0])
    for i, name in enumerate(engines):
        e = F.when(depth_col % len(engines) == i, name).otherwise(e)
    return e


def _score_expr(engine_col):
    e = F.lit(0.0)
    for name, s in ENGINE_SCORES.items():
        e = F.when(engine_col == name, F.lit(s)).otherwise(e)
    return e


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str | DataFrame,
        robots_path: str | DataFrame,
        store: TableStore,
        config: CrawlConfig,
        static_store: TableStore | None = None,
    ):
        config.validate()
        # run_round reads its discovery counts from Observations
        keep_observed_branches(spark)
        self.spark = spark
        self.config = config
        self.store = store
        # pages_ext is immutable per corpus; an optional separate store
        # lets benchmarks/multiple crawls share one materialization
        self.static_store = static_store or store
        self._bucket = (("url",), config.n_buckets)
        self._cap_bound: int | None = None
        self.pages = (
            pages_path
            if isinstance(pages_path, DataFrame)
            else spark.read.parquet(pages_path)
        )
        self.robots = (
            robots_path
            if isinstance(robots_path, DataFrame)
            else spark.read.parquet(robots_path)
        )

    # -- state ---------------------------------------------------------------
    def frontier_from(self, urls_df: DataFrame) -> DataFrame:
        """Build a depth-0 frontier from any DataFrame with a url column
        (used by run() for config seeds and by the bench harness to seed
        the whole corpus without a driver-side list). Drops duplicate
        urls (frontier invariant)."""
        cfg = self.config
        depth = F.lit(0)
        engine = _engine_expr(depth, cfg.engines)
        rows = urls_df.select("url").dropDuplicates(["url"]).select(
            "url",
            pol.domain_expr("url").alias("domain"),
            depth.cast("int").alias("depth"),
            engine.alias("engine"),
            _score_expr(engine).alias("score"),
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(0).cast("int").alias("discovered_round"),
        )
        return self._with_politeness(rows)

    def _with_politeness(self, rows: DataFrame) -> DataFrame:
        """Enqueue-time robots/politeness stamp (see FRONTIER_SCHEMA
        note): joined per delta, never per full frontier."""
        return pol.with_robots_decision(rows, self.robots).select(
            *[f.name for f in FRONTIER_SCHEMA.fields]
        )

    def _seed_frontier(self) -> DataFrame:
        return self.frontier_from(
            self.spark.createDataFrame([(u,) for u in self.config.seeds], "url string")
        )

    def extracted_pages(self) -> DataFrame:
        """Pages with text/outlinks extracted and html dropped:
        (url, warc_ts, text, outlinks, html_absent).

        Catalyst expressions only, no Python evaluation: the same
        regexes as ``extract_text_py``/``extract_outlinks_py`` run over
        the body decoded with ``make_valid_utf8``, which replaces
        invalid UTF-8 exactly as Python's ``errors="replace"`` does (a
        plain cast does not). Extraction runs after a hash exchange on
        url, which the bucketed ``pages_ext`` write reuses, so it is
        spread over the bucket reducers instead of the input splits."""
        pages = self.pages.select("url", "warc_ts", "html").repartition(
            self.config.n_buckets, "url"
        )
        s = F.make_valid_utf8(F.col("html").cast("string"))

        def matches(pattern: str):
            return F.regexp_extract_all(s, F.lit(pattern), 1)

        return pages.select(
            "url",
            "warc_ts",
            F.array_join(
                F.concat(
                    matches(r"(?s)<title>(.*?)</title>"),
                    matches(r"(?s)<p>(.*?)</p>"),
                ),
                "\n",
            ).alias("text"),
            matches(r'<a href="([^"]*)"').alias("outlinks"),
            F.col("html").isNull().alias("html_absent"),
        )

    def ensure_pages_ext(self) -> DataFrame:
        """Materialize the one-time extraction table, bucketed by url so
        every later fetch/expansion join scans it exchange-free
        (idempotent)."""
        if not self.static_store.exists("pages_ext"):
            self.static_store.overwrite(
                "pages_ext", self.extracted_pages(), bucket=self._bucket
            )
        return self.static_store.read("pages_ext")

    # -- merge-on-read frontier view ------------------------------------------
    def _write_base(self, df: DataFrame, round_no: int) -> None:
        """Commit ``df`` as the frontier base under a fresh ``base_id``.
        The one commit also retires the delta: its stamped id no longer
        matches, so readers ignore it from here on."""
        self.store.overwrite(
            "frontier", df, bucket=self._bucket,
            meta={"round": round_no, "base_id": uuid.uuid4().hex},
        )

    def _live_delta_meta(self) -> dict | None:
        """Commit meta of ``frontier_added`` if it was built on the
        current base, else None. The one fence rule of the frontier: a
        delta left behind by a compaction or a rollback is stale."""
        if not self.store.exists("frontier_added"):
            return None
        meta = self.store.table_meta("frontier_added")
        base_id = self.store.table_meta("frontier").get("base_id")
        return meta if meta.get("base_id") == base_id else None

    def logical_frontier(self, as_of_round: int | None = None) -> DataFrame:
        """The live frontier: merge_best(base ANTI tombstones, adds).

        ``as_of_round`` keeps only tombstones with ``tombstone_round <
        as_of_round``, so ``recover_from_round`` sees the frontier as
        it was before the rolled-back rounds. Both tables are
        url-bucketed: the anti-join and the full-outer merge are
        co-partitioned SMJs with no exchange."""
        base = self.store.read("frontier", FRONTIER_SCHEMA)
        if self._live_delta_meta() is None:
            return base
        delta = self.store.read("frontier_added")
        tombstones = delta.where(F.col("tombstone_round").isNotNull())
        if as_of_round is not None:
            tombstones = tombstones.where(
                F.col("tombstone_round") < as_of_round
            )
        live = base.join(
            tombstones.select("url").hint("merge"), "url", "left_anti"
        )
        return self._merge_best(live, self._delta_adds(delta))

    @staticmethod
    def _delta_adds(delta: DataFrame) -> DataFrame:
        return delta.where(F.col("tombstone_round").isNull()).drop(
            "tombstone_round"
        )

    def current_round(self) -> int:
        """The last round with a committed metrics row, from parquet
        footer stats (no Spark job)."""
        if not self.store.exists("metrics"):
            return 0
        return int(self.store.column_max("metrics", "round") or 0)

    def _capacity_bound(self) -> int:
        """Literal global upper bound on per-domain capacity, computed
        once per crawl from the robots table (+ the unknown-domain
        default). Conjoining ``rank <= BOUND`` (literal) with the exact
        ``rank <= capacity`` (column) lets WindowGroupLimit cut the
        window map-side — the skew story of the admission operator."""
        if self._cap_bound is None:
            row = (
                self.robots.select(
                    pol.capacity_expr(self.config.round_len_s).alias("cap")
                )
                .agg(F.max("cap").alias("m"))
                .collect()[0]
            )
            default_cap = pol.DEFAULT_MAX_PER_ROUND
            if pol.DEFAULT_CRAWL_DELAY_S > 0:
                default_cap = min(
                    default_cap,
                    int(self.config.round_len_s // pol.DEFAULT_CRAWL_DELAY_S),
                )
            self._cap_bound = max(int(row["m"] or 0), default_cap, 1)
        return self._cap_bound

    # -- one micro-round ------------------------------------------------------
    def decide_plan(self, round_no: int) -> DataFrame:
        """The round's decision log as ONE lazily-built DataFrame:
        every row of the frontier that gets decided this round —
        robots_denied ∪ admitted (fetched / fetch_failed / not_found)
        — with a ``will_retry`` marker for transient failures below
        the retry budget. Politeness-stalled rows are absent by
        design (they stay in the frontier).

        No robots join here: politeness columns are denormalized into
        the frontier at enqueue time (FRONTIER_SCHEMA note), so the
        plan is linear except the denied/admitted split, whose shared
        prefix is the logical-frontier view (bucketed scans +
        exchange-free SMJs; cheap to run twice — scans parallelize,
        nothing shuffles)."""
        cfg = self.config
        ruled = self.logical_frontier(round_no)

        denied = ruled.where(F.col("robots_denied"))
        allowed = ruled.where(~F.col("robots_denied"))

        # priority admission: exact per-domain top-capacity
        w = Window.partitionBy("domain").orderBy(
            F.asc("depth"), F.desc("score"), F.asc("url")
        )
        bound = self._capacity_bound()
        admitted = (
            allowed.withColumn("_rank", F.row_number().over(w))
            .where(
                (F.col("_rank") <= F.lit(bound))  # literal → WindowGroupLimit
                & (F.col("_rank") <= pol.capacity_expr(cfg.round_len_s))
            )
            .drop("_rank")
        )

        # fetch = join admitted against the bucketed pages table on url
        # (only the admitted delta shuffles); decision CASE replaces
        # classify_http_error (builder/_exceptions.py:216-240)
        pages = self.ensure_pages_ext().select(
            "url", "warc_ts", "html_absent", F.lit(True).alias("_page_exists")
        )
        fetched = admitted.join(pages, "url", "left")
        decision = (
            F.when(F.col("_page_exists").isNull(), "not_found")
            .when(F.col("html_absent"), "fetch_failed")
            .otherwise("fetched")
        )
        decided = fetched.withColumn("fetch_decision", decision)

        log_cols = [
            "url",
            "domain",
            "depth",
            "engine",
            "score",
            "retry_count",
            "discovered_round",
            # politeness stamp carried through so retry re-enqueues
            # need no robots re-join
            "robots_denied",
            "crawl_delay_s",
            "max_per_round",
            "warc_ts",
            "fetch_decision",
            "will_retry",
            F.lit(round_no).cast("int").alias("round"),
            F.spark_partition_id().alias("partition_id"),
        ]
        decided_log = decided.withColumn(
            "will_retry",
            (F.col("fetch_decision") == "fetch_failed")
            & (F.col("retry_count") < F.lit(cfg.max_retries)),
        ).select(*log_cols)
        denied_log = (
            denied.withColumn("warc_ts", F.lit(None).cast("timestamp"))
            .withColumn("fetch_decision", F.lit("robots_denied"))
            .withColumn("will_retry", F.lit(False))
            .select(*log_cols)
        )
        return decided_log.unionByName(denied_log)

    def _retry_frontier(self, log: DataFrame, round_no: int) -> DataFrame:
        cfg = self.config
        next_retry = F.col("retry_count") + 1
        retry_engine = _engine_expr(F.col("depth") + next_retry, cfg.engines)
        return log.where(F.col("will_retry")).select(
            "url",
            "domain",
            "depth",
            retry_engine.alias("engine"),
            _score_expr(retry_engine).alias("score"),
            next_retry.cast("int").alias("retry_count"),
            F.lit(round_no).cast("int").alias("discovered_round"),
            "robots_denied",
            "crawl_delay_s",
            "max_per_round",
        )

    def _discovered_frontier(self, log: DataFrame, round_no: int) -> DataFrame:
        """Outlinks of this round's fetched pages as frontier rows
        (pre-dedup). The expansion join hits the bucketed pages table,
        so only the fetched delta shuffles."""
        cfg = self.config
        fetched_urls = log.where(
            (F.col("fetch_decision") == "fetched")
            & (F.col("depth") < cfg.max_depth)
            & (~F.col("will_retry"))
        ).select("url", "depth")
        links = self.ensure_pages_ext().select("url", "outlinks")
        next_depth = (F.col("depth") + 1).cast("int")
        # merge hint: the fetched set grows with the politeness budget —
        # a driver-built broadcast would serialize with round size; SMJ
        # scans bucketed pages_ext exchange-free, fetched urls shuffle.
        # Each href resolves against its own page url (RFC 3986 §5,
        # operators/urlresolve.py) — a narrow map after the explode.
        # An absolute href without fragment or dot segment comes back
        # unchanged; a relative one would otherwise never match pages.
        discovered = (
            links.join(fetched_urls.hint("merge"), "url")
            .select(
                next_depth.alias("depth"),
                F.col("url").alias("base_url"),
                F.explode("outlinks").alias("href"),
            )
            .select(
                "depth",
                resolve_reference(F.col("base_url"), F.col("href")).alias(
                    "url"
                ),
            )
        )
        engine = _engine_expr(F.col("depth"), cfg.engines)
        # politeness stamp happens later, on the deduped seen-filtered
        # delta (run_round.job_frontier) — the smallest possible set
        return discovered.select(
            "url",
            pol.domain_expr("url").alias("domain"),
            "depth",
            engine.alias("engine"),
            _score_expr(engine).alias("score"),
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(round_no).cast("int").alias("discovered_round"),
        )

    @staticmethod
    def _merge_best(remainder: DataFrame, delta: DataFrame) -> DataFrame:
        """Full-outer merge of two unique-url frontier sets keeping the
        best row per url by _best_order(). The remainder side is the
        bucketed frontier scan (no exchange); only the delta shuffles.
        Implemented as a struct min — (depth, -score, engine,
        discovered_round, -retry_count) is totally ordered."""
        def keyed(df: DataFrame, side: str) -> DataFrame:
            return df.select(
                "url",
                F.struct(
                    F.col("depth"),
                    (-F.col("score")).alias("_negscore"),
                    F.col("engine"),
                    F.col("discovered_round"),
                    (-F.col("retry_count")).alias("_negretry"),
                    F.col("domain"),
                    F.col("score"),
                    F.col("retry_count"),
                    F.col("robots_denied"),
                    F.col("crawl_delay_s"),
                    F.col("max_per_round"),
                ).alias(f"_k_{side}"),
            )

        merged = keyed(remainder, "a").join(keyed(delta, "b"), "url", "full_outer")
        best = F.least(F.col("_k_a"), F.col("_k_b"))  # least ignores nulls
        return merged.select(
            "url",
            best["domain"].alias("domain"),
            best["depth"].alias("depth"),
            best["engine"].alias("engine"),
            best["score"].alias("score"),
            best["retry_count"].alias("retry_count"),
            best["discovered_round"].alias("discovered_round"),
            best["robots_denied"].alias("robots_denied"),
            best["crawl_delay_s"].alias("crawl_delay_s"),
            best["max_per_round"].alias("max_per_round"),
        )

    def _delta_expr(self, log: DataFrame, round_no: int) -> DataFrame:
        """Raw (pre-dedup) frontier delta of a round: discovered
        outlinks ∪ retry re-enqueues. Deterministic given the committed
        log, so recovery can recompute it."""
        return self._discovered_frontier(log, round_no).unionByName(
            self._retry_frontier(log, round_no).drop(
                "robots_denied", "crawl_delay_s", "max_per_round"
            )
        )

    def _recover(self, round_no: int) -> dict | None:
        """Idempotent re-entry for round N (see module docstring commit
        order). Returns a reconstructed summary when the round's commit
        point already passed (only metrics was lost in the crash), else
        rolls back partial commits and returns None so the round runs
        normally. Rollback pieces:

        - tagged round-N results/metrics snapshots → dropped (manifest);
        - bucketed seen rows from a half-committed append → removed by
          ``_rollback_seen``.

        Round-N tombstones need no rollback: they land only with the
        delta flip, which is the commit point itself.
        """
        if self._committed_round() >= round_no:
            return self._finalize_round(round_no)
        self.store.drop_tagged("results", {f"round-{round_no}"})
        self.store.drop_tagged("metrics", {f"round-{round_no}"})
        self._rollback_seen(round_no)
        return None

    def _rollback_seen(self, round_no: int) -> None:
        """Remove seen rows with ``completed_round >= round_no``. They
        are detected driver-side via parquet footer stats (max
        completed_round, no scan) and removed by a filter-rewrite — the
        parquet stand-in for Iceberg's ``DELETE WHERE completed_round >=
        N`` (metadata-level there; a one-off table rewrite here, paid
        only when there is something to remove)."""
        if not self.store.exists("seen"):
            return
        mx = self.store.column_max("seen", "completed_round")
        if mx is not None and int(mx) >= round_no:
            clean = self.store.read("seen", SEEN_SCHEMA).where(
                F.col("completed_round") < round_no
            )
            self.store.overwrite("seen", clean, bucket=self._bucket)

    def _committed_round(self) -> int:
        """The last round whose frontier state is committed: the live
        delta's round (the round's commit point), else the base's (a
        fresh, compacted or rolled-back state). A stale delta must not
        count — after ``recover_from_round`` it names a rolled-back
        round."""
        meta = self._live_delta_meta() or self.store.table_meta("frontier")
        return int(meta.get("round", -1))

    def _finalize_round(self, round_no: int) -> dict:
        """Round N crashed after its frontier commit point: results,
        seen and tombstones are complete by the commit order, and the
        round's counts were stamped into the delta's commit meta, so
        it ends through ``_end_round`` like an uninterrupted round.
        Wall-clock of the crashed attempt is unrecoverable → 0."""
        meta = self._live_delta_meta()
        lmeta = self.store.table_meta("round_log")
        if meta is None or int(lmeta.get("round", -1)) != round_no:
            raise RuntimeError(
                f"recovery invariant violated: round {round_no} is not the "
                f"last round committed to the delta (round_log meta says "
                f"{lmeta.get('round')})"
            )
        return self._end_round(round_no, meta, wall=0.0)

    def _frontier_counters(self) -> tuple[int, int, int]:
        """(logical frontier size, base size, tombstones) of the
        committed frontier state, from metadata alone (no Spark job):
        chained through the live delta's commit meta (n_next = n -
        decided + new), else — fresh, compacted or rolled back — the
        base alone is the logical frontier: its parquet footer count is
        exact and it carries zero tombstones."""
        meta = self._live_delta_meta()
        if meta is not None:
            return (
                int(meta["n_frontier_next"]), int(meta["n_base"]),
                int(meta["n_tombstones"]),
            )
        n = self.store.count("frontier")
        return n, n, 0

    def run_round(self, round_no: int) -> dict:
        t0 = time.monotonic()

        # crash recovery (no-op on a clean run; see _recover)
        recovered = self._recover(round_no)
        if recovered is not None:
            return recovered

        # 1. DECIDE — the one heavy job of the round, over the
        # merge-on-read logical frontier. The round's decision counts
        # are an Observation on this write: no job of their own.
        obs_dec = Observation()
        decision = F.col("fetch_decision")
        self.store.overwrite(
            "round_log",
            self.decide_plan(round_no).observe(
                obs_dec,
                F.count(F.lit(1)).alias("n_decided"),
                F.count(F.when(decision == "robots_denied", 1)).alias(
                    "n_robots_denied"
                ),
                F.count(
                    F.when((decision == "fetched") & ~F.col("will_retry"), 1)
                ).alias("n_fetched"),
                F.count(F.when(F.col("will_retry"), 1)).alias("n_retrying"),
            ),
            meta={"round": round_no},
        )
        counts = dict(obs_dec.get)
        log = self.store.read("round_log")

        # 2-3. MAINTAIN — three independent writes from the committed
        # log (results, seen, the staged delta), submitted as CONCURRENT
        # Spark jobs (threads share the SparkSession; the scheduler
        # interleaves their tasks). All concurrent reads are guarded
        # against the concurrent writers by round predicates (seen:
        # completed_round < N) or by overwrite generations (the frontier
        # tables: the new delta is staged, not committed), so evaluation
        # order cannot change results.
        recorded = log.where(~F.col("will_retry"))
        # resolve reads before any concurrent write
        base = self.store.read("frontier", FRONTIER_SCHEMA)
        base_id = self.store.table_meta("frontier").get("base_id")
        prev_meta = self._live_delta_meta()
        delta_prev = (
            self.store.read("frontier_added") if prev_meta is not None
            else None
        )
        seen_prev = self.store.read("seen", SEEN_SCHEMA).where(
            F.col("completed_round") < round_no
        )

        def job_results() -> None:
            # discovered_round is discovery lineage: the round that first
            # enqueued the url. recover_from_round uses it to rebuild the
            # frontier exactly (urls discovered by rolled-back rounds are
            # re-discovered on replay, not restored)
            self.store.append(
                "results",
                recorded.select(
                    "url", "domain", "warc_ts", "fetch_decision", "depth",
                    "discovered_round", "round", "partition_id",
                ),
                tag=f"round-{round_no}",
            )

        def job_seen() -> None:
            self.store.append(
                "seen",
                recorded.select(
                    "url", F.lit(round_no).cast("int").alias("completed_round")
                ),
                bucket=self._bucket,
            )

        # discovery telemetry rides on the delta write: the raw
        # (pre-dedup) rows are counted as they enter the dedup window,
        # the new ones as they leave the remainder flag join below (two
        # Observations: no single plan node sees both row sets)
        obs_raw, obs_new = Observation(), Observation()
        wdup = Window.partitionBy("url").orderBy(*_best_order())
        delta_ranked = (
            self._delta_expr(log, round_no)
            .observe(obs_raw, F.count(F.lit(1)).alias("n"))
            .withColumn("_rn", F.row_number().over(wdup))
        )
        # the round's deduped, seen-filtered, not-just-decided
        # discoveries. Merge hint on seen: it is never broadcastable
        # at frontier scale (the static planner would happily build a
        # 10^10-row driver hash relation at the default threshold);
        # with seen stored bucketed by url the SMJ scans it
        # exchange-free and only the candidate delta shuffles.
        delta_new = (
            delta_ranked.where(F.col("_rn") == 1)
            .drop("_rn")
            .join(seen_prev.select("url").hint("merge"), "url", "left_anti")
            .join(recorded.select("url").hint("merge"), "url", "left_anti")
        )

        n_frontier, n_base, n_tomb_prev = self._frontier_counters()

        def job_delta_stage() -> dict:
            # the round's one frontier write: previous tombstones ∪
            # this round's decided rows as tombstones (retries included
            # — their re-enqueued row re-enters through the adds) ∪
            # merge_best(adds ANTI log, politeness-stamped delta_new).
            # merge_best distributes over per-url anti-joins, so this
            # is exactly the full-frontier rewrite.
            tombstones = log.select(
                *[f.name for f in FRONTIER_SCHEMA.fields],
                F.col("round").alias("tombstone_round"),
            )
            if delta_prev is not None:
                prev_adds = self._delta_adds(delta_prev).join(
                    log.select("url").hint("merge"), "url", "left_anti"
                )
                tombstones = delta_prev.where(
                    F.col("tombstone_round").isNotNull()
                ).unionByName(tombstones)
            # the pre-round remainder (logical frontier ANTI log) is the
            # live base urls plus the surviving previous adds; a
            # discovery is new unless its url was waiting there
            waiting = base.select("url").join(
                tombstones.select("url"), "url", "left_anti"
            )
            if delta_prev is not None:
                waiting = waiting.join(
                    prev_adds.select("url"), "url", "full_outer"
                )
            adds = self._with_politeness(
                delta_new.join(
                    waiting.withColumn("_waiting", F.lit(True)), "url", "left"
                ).observe(
                    obs_new,
                    F.count(F.when(F.col("_waiting").isNull(), 1)).alias("n"),
                )
            )
            if delta_prev is not None:
                adds = self._merge_best(prev_adds, adds)
            delta_next = adds.withColumn(
                "tombstone_round", F.lit(None).cast("int")
            ).unionByName(tombstones)
            # STAGED: the data write runs now (concurrently), but the
            # manifest flip — the round's commit point — happens only
            # after the results/seen commits have landed.
            return self.store.stage_overwrite(
                "frontier_added", delta_next, bucket=self._bucket,
                meta={"round": round_no, "base_id": base_id},
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_results = pool.submit(job_results)
            f_seen = pool.submit(job_seen)
            f_delta = pool.submit(job_delta_stage)
            delta_token = f_delta.result()
            f_results.result()
            f_seen.result()
        # the delta write has returned, so both observations are filled
        counts.update(
            n_frontier=n_frontier,
            n_disc_raw=int(obs_raw.get["n"]),
            n_disc_new=int(obs_new.get["n"]),
        )
        # commit point: everything the new frontier state supersedes is
        # durable — flip the delta (one atomic rename). Stamp the counter
        # chain for the next round (no Spark job; every decided url
        # added one tombstone this round) and the round's counts, from
        # which _end_round ends the round — here, or after a crash.
        delta_token["manifest"]["meta"].update(
            counts,
            n_frontier_next=(
                n_frontier - counts["n_decided"] + counts["n_disc_new"]
            ),
            n_base=n_base,
            n_tombstones=n_tomb_prev + counts["n_decided"],
        )
        self.store.commit_staged(delta_token)
        return self._end_round(
            round_no, delta_token["manifest"]["meta"], time.monotonic() - t0
        )

    def _end_round(self, round_no: int, meta: dict, wall: float) -> dict:
        """Everything after round N's commit point, driven by the
        delta's commit meta alone — so a round finalized after a crash
        (``_finalize_round``) ends exactly as the uninterrupted one:
        4. the metrics row and the summary; 5. compaction (idempotent;
        outside the recovery-critical path — a crash mid-compaction
        changes nothing the logical view can observe). Primary trigger:
        accumulated tombstones vs base size — read degradation tracks
        |removed|, not wall-clock rounds. compact_every is a periodic
        override."""
        cfg = self.config
        n_base = int(meta["n_base"])
        tombstone_ratio = (
            int(meta["n_tombstones"]) / n_base if n_base > 0 else 0.0
        )
        summary = self._commit_metrics(round_no, meta, wall)
        summary["tombstone_ratio"] = round(tombstone_ratio, 4)
        do_compact = (
            cfg.compact_ratio > 0 and tombstone_ratio >= cfg.compact_ratio
        ) or (cfg.compact_every > 0 and round_no % cfg.compact_every == 0)
        if do_compact:
            self.compact_frontier(round_no)
            summary["compacted"] = True
        return summary

    def compact_frontier(self, round_no: int) -> None:
        """Materialize the logical frontier into a fresh base — the
        amortized full write (Iceberg compaction analog). It is one
        commit: before it the old base and the live delta hold the
        frontier, after it the new base does, and its new ``base_id``
        retires the delta. A crash on either side changes nothing the
        logical view can observe."""
        self._write_base(self.logical_frontier(round_no + 1), round_no)

    def _commit_metrics(
        self, round_no: int, counts: dict, wall: float
    ) -> dict:
        """Commit the round's one metrics row and return its summary.
        ``counts`` holds the decision counts observed on the round_log
        write, the input frontier size and the two discovery counts —
        as run_round stamps them into the delta's commit meta."""
        n_frontier, n_decided = counts["n_frontier"], counts["n_decided"]
        n_denied, n_fetched = counts["n_robots_denied"], counts["n_fetched"]
        n_retrying = counts["n_retrying"]
        n_disc_raw, n_disc_new = counts["n_disc_raw"], counts["n_disc_new"]
        n_stalled = n_frontier - n_decided  # politeness deferrals
        # discovery dedup hit-rate: fraction of discovered rows dropped
        # as duplicate / already-seen / just-decided
        dedup_hit = (
            1.0 - (n_disc_new / n_disc_raw) if n_disc_raw > 0 else 0.0
        )
        decided_per_sec = n_decided / wall if wall > 0 else 0.0
        from pixcrawler_spark.schemas import METRICS_SCHEMA

        row = (
            round_no,
            n_frontier,
            0,  # seen-skips are impossible by the frontier invariant
            n_stalled,
            n_denied,
            n_fetched,
            n_disc_raw,
            n_disc_new,
            float(dedup_hit),
            float(wall),
            float(decided_per_sec),
        )
        # tiny telemetry commit: pyarrow write on the driver, no Spark job
        self.store.append_local(
            "metrics", [row], METRICS_SCHEMA, tag=f"round-{round_no}"
        )
        return {
            "round": round_no,
            "n_frontier": n_frontier,
            "n_seen_skipped": 0,
            "n_processed": n_decided - n_retrying,
            "n_decided": n_decided,
            "n_robots_denied": n_denied,
            "n_fetched": n_fetched,
            "n_retrying": n_retrying,
            "n_stalled": n_stalled,
            "n_discovered_raw": n_disc_raw,
            "n_discovered_new": n_disc_new,
            "dedup_hit_rate": round(dedup_hit, 4),
            "wall_seconds": round(wall, 3),
            # headline rate = DECIDED urls/sec (politeness-stalled rows
            # are untouched work, not throughput); the frontier-scan
            # rate is reported under its honest name
            "decided_per_sec": round(decided_per_sec, 1),
            "frontier_scan_per_sec": (
                round(n_frontier / wall, 1) if wall > 0 else 0.0
            ),
        }

    # -- workflow control (reference: backend/services/job_orchestrator.py
    # :427-527 — pause/cancel/recover-from-step; here workflow = crawl,
    # step = round, state = a tiny atomic control blob) -----------------------
    CONTROL_BLOB = "crawl_control"
    MAX_RECOVERY_ATTEMPTS = 3

    def control(self) -> dict:
        return self.store.get_blob(self.CONTROL_BLOB) or {
            "status": "running",
            "recovery_attempts": 0,
            "max_recovery_attempts": self.MAX_RECOVERY_ATTEMPTS,
        }

    def _set_control(self, **updates) -> dict:
        c = dict(self.control(), **updates)
        self.store.put_blob(self.CONTROL_BLOB, c)
        return c

    def pause(self) -> dict:
        """Stop the round loop at the next round boundary; state stays
        resumable (job_orchestrator.pause_workflow analog)."""
        return self._set_control(status="paused")

    def cancel(self) -> dict:
        """Permanently stop the crawl; run() refuses until a recover
        or resume_control (cancel_workflow analog)."""
        return self._set_control(status="cancelled")

    def resume_control(self) -> dict:
        return self._set_control(status="running")

    def recover_from_round(self, from_round: int) -> dict:
        """Roll the crawl back so rounds >= ``from_round`` re-run
        (recover_workflow's reset-tasks-from-step, re-expressed over
        the deterministic round state):

        - round->=from_round results/metrics snapshots dropped (tags);
        - seen rewritten to completed_round < from_round;
        - the frontier of round from_round-1 is RECONSTRUCTED: rows
          discovered by rolled-back rounds leave, and every url those
          rounds decided returns (state re-derived from the decision
          log via the determinism contract: engine = engines[depth %
          n], politeness re-stamped). Exact re-execution equivalence
          holds for max_retries=0 configs (tested); with a retry
          ladder, in-flight retry state that postdates from_round is
          re-derived from scratch (retry_count resets — the ladder
          restarts for those urls).

        Attempts are capped (can_recover gate, max_recovery_attempts).
        The frontier reset is one base write, committed first; a crash
        after it is repaired by calling this again.
        """
        c = self.control()
        if c["recovery_attempts"] >= c["max_recovery_attempts"]:
            raise ValueError(
                f"workflow cannot be recovered (attempts: "
                f"{c['recovery_attempts']}/{c['max_recovery_attempts']})"
            )
        cur = self.current_round()
        # a crashed recovery may already have dropped round >= N
        # metrics; its re-run legitimately asks for from_round = cur+1
        max_from = cur + 1 if c.get("status") == "recovering" else cur
        if not 1 <= from_round <= max_from:
            raise ValueError(
                f"from_round must be in [1, {max_from}], got {from_round}"
            )

        cfg = self.config
        res = self.store.read("results")
        # restore ONLY urls whose discovery predates the rollback
        # point: urls discovered by rolled-back rounds re-enter the
        # frontier through the replayed rounds' own expansion joins
        # (restoring them here would let them compete for admission
        # earlier than they originally could)
        dropped = res.where(
            (F.col("round") >= from_round)
            & (F.col("discovered_round") <= from_round - 1)
        )
        engine = _engine_expr(F.col("depth"), cfg.engines)
        restore = dropped.select(
            "url",
            "domain",
            "depth",
            engine.alias("engine"),
            _score_expr(engine).alias("score"),
            F.lit(0).cast("int").alias("retry_count"),
            "discovered_round",
        ).dropDuplicates(["url"])
        # the as_of view ignores tombstones from rolled-back rounds, so
        # base rows they removed come back for free; rows discovered by
        # rolled-back rounds leave via the discovered_round filter
        frontier_keep = self.logical_frontier(from_round).where(
            F.col("discovered_round") <= from_round - 1
        )
        next_frontier = self._merge_best(
            frontier_keep, self._with_politeness(restore)
        )
        # recovery is itself re-runnable: guard with a control status
        # (run() refuses while "recovering"), commit the rebuilt base
        # FIRST (it contains everything and retires the delta, so every
        # later step is idempotent against it), then roll back the
        # round-scoped tables
        self._set_control(status="recovering")
        self._write_base(next_frontier, from_round - 1)
        tags = {f"round-{r}" for r in range(from_round, cur + 1)}
        self.store.drop_tagged("results", tags)
        self.store.drop_tagged("metrics", tags)
        self._rollback_seen(from_round)
        return self._set_control(
            status="running", recovery_attempts=c["recovery_attempts"] + 1
        )

    # -- full crawl ------------------------------------------------------------
    def run(self, resume: bool = False) -> list[dict]:
        """Run rounds until the frontier drains, max_rounds is hit, or
        the control blob says pause/cancel (checked at every round
        boundary). ``resume=True`` continues from the last committed
        round — the checkpoint-equivalence contract (FIXTURES.md §4); a
        crawl whose seed write never committed starts over."""
        if not resume or not self.store.exists("frontier"):
            for t in (
                "frontier", "frontier_added", "seen", "results", "metrics",
                "round_log",
            ):
                self.store.drop(t)
            self._set_control(status="running", recovery_attempts=0)
            self._write_base(self._seed_frontier(), 0)
            start = 1
        else:
            start = self.current_round() + 1
        summaries = []
        for r in range(start, self.config.max_rounds + 1):
            if self.control()["status"] != "running":
                break
            # stop on an empty frontier (metadata only, no Spark job) —
            # unless round r already passed its commit point: then it
            # still runs, and re-entry finalizes its metrics (_recover)
            committed = self._committed_round() >= r
            if not committed and self._frontier_counters()[0] == 0:
                break
            summaries.append(self.run_round(r))
        return summaries

    # -- outputs ---------------------------------------------------------------
    def results_with_text(self) -> DataFrame:
        """Denormalized results view: decision log joined back to
        pages_ext for text/outlinks of fetched rows (the results table
        is a pure decision log; text stays normalized in pages_ext)."""
        res = self.store.read("results")
        pext = self.ensure_pages_ext().select("url", "text", "outlinks")
        joined = res.join(pext, "url", "left")
        is_fetched = F.col("fetch_decision") == "fetched"
        return joined.select(
            "url",
            "domain",
            "warc_ts",
            F.when(is_fetched, F.col("text")).alias("text"),
            F.when(is_fetched, F.col("outlinks")).alias("outlinks"),
            "fetch_decision",
            "depth",
            "round",
            "partition_id",
        )

    def crawl_order(self) -> DataFrame:
        """The ordering contract: (round, domain, priority_rank, url) of
        processed (non-denied) urls, re-derived from results ranks."""
        res = self.store.read("results").where(
            F.col("fetch_decision") != "robots_denied"
        )
        w = Window.partitionBy("round", "domain").orderBy(
            F.asc("depth"), F.asc("url")
        )
        return res.select(
            "round", "domain", F.row_number().over(w).alias("rank_in_round"), "url"
        )
