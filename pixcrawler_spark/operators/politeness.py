"""Per-domain politeness: robots rules + crawl-delay token buckets.

Replaces the reference's executor-side sleeps (0.5 s between keywords,
0.2 s between downloads, Celery rate_limit="10/m" —
builder/_generator.py:1280, builder/_search_engines.py:99,246-249,
builder/tasks.py:178) with defer-to-next-round semantics: no task ever
sleeps; a candidate the bucket can't admit this round stays in the
frontier and is counted as a politeness stall (the north-rule metric).

Capacity per domain per micro-round:
    capacity = min(max_per_round, floor(round_len_s / crawl_delay_s))
(crawl_delay 0 → max_per_round). Admission is a window rank per domain
ordered by priority (depth asc, score desc, url asc) — the priority
queue realized as window-ranked batches. Robots-denied urls never
consume budget; they are decided (and recorded) without fetching.

Skew: the window partitions by registrable domain; Zipf-skewed hosts
produce hot partitions. The round cuts them with a literal global
capacity bound next to the per-domain one, so Spark's WindowGroupLimit
runs a map-side top-K per domain before the exchange (SCALE NOTES in
plans/crawl.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

DEFAULT_CRAWL_DELAY_S = 0.5
DEFAULT_MAX_PER_ROUND = 10
DEFAULT_ROUND_LEN_S = 10.0

# url → registrable domain / path, JVM-side expressions (no Python).
DOMAIN_RE = r"^[a-z]+://([^/]+)"
PATH_RE = r"^[a-z]+://[^/]+/(.*)$"


def domain_expr(url_col: str = "url"):
    """Politeness / salting key: the PSL *registrable domain* (eTLD+1),
    not the raw host — ``www.example.co.uk`` and ``shop.example.co.uk``
    share one budget; ``a.blogspot.com`` and ``b.blogspot.com`` (private
    public suffix) do not. Pure JVM expressions; see operators/psl.py.
    """
    from pixcrawler_spark.operators.psl import registrable_domain_expr

    return registrable_domain_expr(url_col)


def host_expr(url_col: str = "url"):
    """Raw host (netloc) — kept for robots keying, which is per-host."""
    return F.regexp_extract(F.col(url_col), DOMAIN_RE, 1)


def path_expr(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), PATH_RE, 1)


def with_robots_decision(
    candidates: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    broadcast: bool = False,
    wildcards: bool = False,
) -> DataFrame:
    """Join robots rules; append ``robots_denied`` bool and the
    domain's politeness parameters (defaults for unknown domains).

    The prefix test is ``exists(disallow_prefixes, p -> startswith(path, p))``
    — a JVM higher-order function over a tiny array, no UDF. When the
    robots frame also carries ``allow_prefixes`` (parse_robots emits
    it), RFC 9309 §2.2.2 longest-match precedence applies instead via
    ``robots.rfc_allowed_expr``: the most specific matching record
    wins, Allow wins ties. Frames without the column (legacy fixtures,
    disallow-only stores) keep the pure disallow semantics — identical
    results when no Allow records exist.

    ``broadcast=False`` (default) uses a merge-hinted SMJ: at frontier
    scale the robots table is ~1 row per domain (10^8 at 10^10 urls) —
    too big to build on the driver, and the engine only ever joins it
    against enqueue-time deltas, which are politeness-bounded. Pass
    ``broadcast=True`` only when robots is known to be a small dim.
    """
    has_allow = "allow_prefixes" in robots.columns
    cols = [
        F.col("domain"),
        F.col("disallow_prefixes").alias("_dis"),
        F.col("crawl_delay_s").alias("_delay"),
        F.col("max_per_round").alias("_max_round"),
    ]
    if has_allow:
        cols.insert(2, F.col("allow_prefixes").alias("_allow"))
    r = robots.select(*cols)
    r = F.broadcast(r) if broadcast else r.hint("merge")
    joined = candidates.join(r, "domain", "left")
    path = path_expr(url_col)
    if has_allow:
        from pixcrawler_spark.operators.robots import (
            rfc_allowed_expr,
            rfc_allowed_glob_expr,
        )

        # wildcards=True: full RFC 9309 patterns ('*', trailing '$')
        # via the glob fold — identical to the prefix matcher on
        # wildcard-free rule sets (a rule with no '*'/'$' degrades to
        # startswith with the same specificity), so enabling it only
        # changes behavior for stores that actually carry wildcard
        # rules. Off by default: the golden/oracle fixtures are
        # prefix-only and keep the cheaper matcher.
        allowed_fn = rfc_allowed_glob_expr if wildcards else rfc_allowed_expr
        denied = F.when(
            F.col("_dis").isNotNull() & F.col(url_col).isNotNull(),
            ~allowed_fn(path, F.col("_allow"), F.col("_dis")),
        ).otherwise(F.lit(False))
    else:
        denied = F.when(
            F.col("_dis").isNotNull(),
            F.exists(
                "_dis", lambda p: F.col(url_col).isNotNull() & path.startswith(p)
            ),
        ).otherwise(F.lit(False))
    return (
        joined.withColumn("robots_denied", denied)
        .withColumn("crawl_delay_s", F.coalesce("_delay", F.lit(DEFAULT_CRAWL_DELAY_S)))
        .withColumn(
            "max_per_round", F.coalesce("_max_round", F.lit(DEFAULT_MAX_PER_ROUND))
        )
        .drop("_dis", "_allow", "_delay", "_max_round")
    )


def capacity_expr(round_len_s: float = DEFAULT_ROUND_LEN_S):
    return F.when(
        F.col("crawl_delay_s") <= 0.0, F.col("max_per_round")
    ).otherwise(
        F.least(
            F.col("max_per_round"),
            F.floor(F.lit(round_len_s) / F.col("crawl_delay_s")).cast("int"),
        )
    )


def admit(
    candidates: DataFrame,
    round_len_s: float = DEFAULT_ROUND_LEN_S,
) -> DataFrame:
    """Append ``priority_rank`` and ``admitted`` to robots-allowed
    candidates. Requires columns: domain, depth, score, url,
    crawl_delay_s, max_per_round (from with_robots_decision).

    If the frame also carries ``adaptive_delay_s`` (observed-latency
    backoff, seconds — see queries/frontiersched.crawl_adaptive_delay),
    the effective delay is ``greatest(robots, adaptive)``: robots
    crawl-delay is a FLOOR the site demanded, the adaptive delay is a
    ceiling-protecting backoff the crawler measured. robots 0 (no
    Crawl-delay directive) + a slow host correctly yields the adaptive
    delay rather than unlimited capacity."""
    if "adaptive_delay_s" in candidates.columns:
        candidates = candidates.withColumn(
            "crawl_delay_s",
            F.greatest(
                F.col("crawl_delay_s"),
                F.coalesce(F.col("adaptive_delay_s"), F.lit(0.0)),
            ),
        )
    w = Window.partitionBy("domain").orderBy(
        F.asc("depth"), F.desc("score"), F.asc("url")
    )
    return candidates.withColumn(
        "priority_rank", F.row_number().over(w)
    ).withColumn("admitted", F.col("priority_rank") <= capacity_expr(round_len_s))


def waterfill_allocate(
    demands: DataFrame,
    budget: int,
    key_col: str = "domain",
    demand_col: str = "demand",
) -> DataFrame:
    """Max-min fair (water-filling) split of a global per-round fetch
    budget across per-key queues: keys demanding less than the water
    level get their full demand; the rest share the remainder equally.

    The satisfied/level split is EXACT integer arithmetic — key i
    (sorted by demand asc) is fully satisfiable iff
    ``demand_i * (n - i + 1) + cumsum_{i-1} <= budget`` — so the
    output is deterministic across engines and cluster sizes (the
    oracle-checked query crawl_budget_waterfill runs through this).
    One window over the KEY frame (bounded by #domains, never #urls).

    Output: key, demand, satisfied, allocated (4 dp).
    """
    w = Window.orderBy(demand_col, key_col)
    ranked = demands.select(
        F.col(key_col),
        F.col(demand_col),
        F.sum(demand_col)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.row_number().over(w).alias("idx"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    flagged = ranked.withColumn(
        "satisfied",
        F.col(demand_col) * (F.col("n") - F.col("idx") + 1)
        + (F.col("cum") - F.col(demand_col))
        <= F.lit(budget),
    )
    lvl = flagged.agg(
        F.sum(F.when(F.col("satisfied"), F.col(demand_col)).otherwise(0)).alias("s"),
        F.sum(F.when(F.col("satisfied"), 1).otherwise(0)).alias("k"),
        F.max("n").alias("n_tot"),
    )
    return flagged.crossJoin(F.broadcast(lvl)).select(
        key_col,
        demand_col,
        "satisfied",
        F.round(
            F.when(
                F.col("satisfied"), F.col(demand_col).cast("double")
            ).otherwise(
                (F.lit(budget) - F.col("s")).cast("double")
                / (F.col("n_tot") - F.col("k"))
            ),
            4,
        ).alias("allocated"),
    )
