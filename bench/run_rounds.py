"""Frontier-throughput bench: repeated identical FULL micro-rounds of
the crawl engine over the sf_bench pages fixture at a given core count.

    python bench/run_rounds.py --cores 8  --rows 4000000
    python bench/run_rounds.py --cores 32 --rows 4000000

Protocol: mid-crawl state — 1/3 of the corpus is already seen, the
other 2/3 is the frontier (the engine's invariant keeps the two
disjoint). Each timed pass is ONE complete micro-round via
``CrawlEngine.run_round``: robots broadcast join → skew-proof priority
admission (WindowGroupLimit top-K per domain) → fetch join against the
url-bucketed pages table → round_log/results/seen commits → frontier
remainder-merge with deduped, seen-filtered discoveries → metrics.
Politeness is the fixture's real budget (max 10/domain/round + crawl
delays), so hot Zipf domains stall — the north-rule steady state.

Headline metric: ``decided_per_sec_best`` = urls actually DECIDED
(fetched / failed / robots_denied) per second. Politeness-stalled rows
are untouched work-in-queue, not throughput, so ``n_frontier / wall``
is reported separately under its honest name, frontier SCAN rate (the
whole frontier is scanned and ranked each round even though the
politeness budget defers most of it).

One untimed warm-up pass precedes ``--passes`` timed passes over
identical state; min/mean are reported as one JSON line — consumed by
bench/scaling.py, which interleaves both core counts and writes
BENCH/BASELINE.md with the north-rule scaling efficiency
(throughput(4N) / (4 x throughput(N))).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Shuffle to tmpfs: this sandbox has ONE shared virtio disk, which no
# core count can scale — real cluster nodes shuffle to node-local NVMe
# that scales with executor count. tmpfs is the honest stand-in (the
# 128 GiB RAM budget covers bench shuffle volumes comfortably).
os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
# local-mode executor shares the driver heap: size it for bench-scale
# sorts/joins (a real cluster gives each executor its own heap)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

from pyspark.sql import functions as F

FIXTURE_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_fixtures"
)

N_BUCKETS = 64  # fixed table layout across core counts (Iceberg bucket(N, url))


def ensure_fixtures(rows: int, seed: int) -> str:
    d = os.path.join(FIXTURE_CACHE, f"rows{rows}_seed{seed}")
    if not (
        os.path.exists(os.path.join(d, "pages.parquet"))
        and os.path.exists(os.path.join(d, "robots.parquet"))
    ):
        from pixcrawler_spark.fixtures import write_fixtures

        write_fixtures(d, rows=rows, seed=seed)
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--max-depth", type=int, default=1,
                    help="1 = rounds include outlink discovery + seen-filtered "
                    "frontier merge (the full maintenance path)")
    ap.add_argument("--no-aqe", action="store_true")
    args = ap.parse_args()

    fixture_dir = ensure_fixtures(args.rows, args.seed)

    from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine
    from pixcrawler_spark.session import get_spark
    from pixcrawler_spark.sources.tables import TableStore

    spark = get_spark(
        app_name=f"crawl_bench_c{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores * 2,
        extra_conf=(
            {"spark.sql.adaptive.enabled": "false"} if args.no_aqe else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(fixture_dir, "robots.parquet"))

    # store on tmpfs: frontier/seen scans + commits are in the timed
    # path; a real executor's table I/O scales with node count, the
    # sandbox's one virtio disk does not
    store_dir = os.path.join(
        "/dev/shm/pixcrawler_bench", f"rows{args.rows}_c{args.cores}"
    )
    shutil.rmtree(store_dir, ignore_errors=True)
    store = TableStore(spark, store_dir)
    # pages_ext is immutable per corpus: materialize once, share across
    # invocations/core-counts (the WARC→columnar prep is a one-time cost)
    static_store = TableStore(
        spark, os.path.join("/dev/shm/pixcrawler_bench", f"static_rows{args.rows}")
    )

    cfg = CrawlConfig(
        seeds=["placeholder"],  # frontier seeded directly below
        max_depth=args.max_depth,
        max_rounds=1,
        n_buckets=N_BUCKETS,
    )
    eng = CrawlEngine(spark, pages, robots, store, cfg, static_store=static_store)

    # one-time extraction materialization (the WARC→columnar prep),
    # timed separately — rounds reuse the bucketed pages_ext table
    t0 = time.monotonic()
    eng.ensure_pages_ext()
    extract_sec = time.monotonic() - t0

    # mid-crawl state: seen = 1/3 of urls, frontier = the rest
    # (disjoint — the engine's frontier invariant)
    all_urls = pages.select("url")
    seen_urls = all_urls.where(F.xxhash64("url") % 3 == 0)
    frontier_urls = all_urls.where(F.xxhash64("url") % 3 != 0)
    frontier_df = eng.frontier_from(frontier_urls)
    seen_df = seen_urls.select(
        "url", F.lit(0).cast("int").alias("completed_round")
    )

    # Mid-crawl state TEMPLATE, built once per (rows, seed) and shared
    # across invocations and core counts (the bucketed layout is
    # deterministic: repartition(N_BUCKETS, url) → one file per bucket
    # regardless of session parallelism). Rebuilding the PSL-stamped
    # 21M-row frontier from scratch for every pass tripled attempt
    # latency in the probe-gated scaling protocol (bench/scaling.py),
    # pushing the measurement ever further from the admitting probe's
    # host-weather window; a tmpfs directory copy restores identical
    # state in seconds. The TIMED job (run_round) is unchanged — this
    # only moves untimed setup out of the attempt loop.
    template_root = os.path.join(
        "/dev/shm/pixcrawler_bench",
        f"state_rows{args.rows}_seed{args.seed}_b{N_BUCKETS}_v1",
    )

    def ensure_state_template() -> None:
        if os.path.isdir(template_root):
            return
        tmp = template_root + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        tstore = TableStore(spark, tmp)
        tstore.overwrite("frontier", frontier_df, bucket=(("url",), N_BUCKETS))
        tstore.overwrite("seen", seen_df, bucket=(("url",), N_BUCKETS))
        os.rename(tmp, template_root)

    def _copy_state_table(table: str) -> None:
        src = os.path.join(template_root, table)
        dst = os.path.join(store_dir, table)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        # the manifest records the bucketed generation's ABSOLUTE
        # location (how a fresh session re-registers the catalog
        # table); point it at the copy
        mp = os.path.join(dst, "manifest.json")
        with open(mp) as f:
            m = json.load(f)
        if m.get("bucketed"):
            m["bucketed"]["location"] = os.path.join(
                dst, "data", os.path.basename(m["bucketed"]["location"])
            )
            with open(mp, "w") as f:
                json.dump(m, f)

    def reset_state() -> None:
        for t in ("frontier", "frontier_added", "seen", "results",
                  "metrics", "round_log"):
            store.drop(t)
        ensure_state_template()
        _copy_state_table("frontier")
        _copy_state_table("seen")

    # untimed warm-up: JIT + size-specific AQE codegen
    reset_state()
    eng.run_round(1)

    passes = []
    last_summary = None
    for _ in range(args.passes):
        reset_state()
        t0 = time.monotonic()
        last_summary = eng.run_round(1)
        passes.append(time.monotonic() - t0)

    shutil.rmtree(store_dir, ignore_errors=True)
    n = last_summary["n_frontier"]  # frontier rows scanned per pass
    n_decided = last_summary["n_decided"]  # urls actually decided
    best = min(passes)
    mean = sum(passes) / len(passes)
    print(
        json.dumps(
            {
                "cores": args.cores,
                "rows": args.rows,
                "urls": n,
                "decided": n_decided,
                "passes_sec": [round(p, 3) for p in passes],
                "best_sec": round(best, 3),
                "mean_sec": round(mean, 3),
                "decided_per_sec_best": round(n_decided / best, 1),
                "decided_per_sec_mean": round(n_decided / mean, 1),
                "frontier_scan_per_sec_best": round(n / best, 1),
                "extract_sec": round(extract_sec, 3),
                "extract_urls_per_sec": round(args.rows / extract_sec, 1),
                "round_summary": last_summary,
            }
        )
    )


if __name__ == "__main__":
    main()
