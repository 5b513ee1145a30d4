"""Frontier-scheduling queries (round-4 late candidates): Good-Turing
discovery-yield estimation and latency-adaptive politeness delays.

Two decisions a 10^10-url frontier makes BEFORE spending a fetch:

1. *Which domains still yield NEW content?* Good-Turing's missing-mass
   estimate N1/N from per-url re-discovery counts: a domain whose
   outlink observations are mostly singletons is still expanding, one
   that re-discovers the same urls is saturated. Drives the per-domain
   budget (the reference re-queries engines blind, with a fixed
   max_images cap per keyword — builder core's retry loop).
2. *How fast may we hit it?* robots crawl-delay is a floor, not a
   truth; production crawlers adapt to OBSERVED latency. Per-domain
   exact p50/p95 -> delay = clamp(2 x p95) — slow hosts get backoff
   before they start erroring, fast hosts aren't idled on a default.

Both are pure built-in-expression plans (zero Python in the hot path)
with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pixcrawler_spark.queries.registry import register
from pixcrawler_spark.sources.tables import load_table

__all__: list[str] = []


# ---------------------------------------------------------------------------
# crawl_novelty_goodturing — which domains still yield new urls?
# ---------------------------------------------------------------------------
@register(
    "crawl_novelty_goodturing",
    oracle="""
    WITH obs AS (
      SELECT 'd' || CAST(l_suppkey % 200 AS VARCHAR) AS domain,
             CAST(l_orderkey AS VARCHAR) AS url
      FROM lineitem
    ),
    per_url AS (
      SELECT domain, url, COUNT(*) AS c FROM obs GROUP BY domain, url
    )
    SELECT domain,
           CAST(SUM(c) AS BIGINT) AS observations,
           CAST(COUNT(*) AS BIGINT) AS distinct_urls,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singletons,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / SUM(c), 4)
             AS p_new_gt
    FROM per_url GROUP BY domain
    """,
    doc="Good-Turing missing-mass estimate per domain: P(next outlink "
    "observation is a NEVER-seen url) = singletons/observations. The "
    "frontier's budget allocator reads this as discovery yield — "
    "saturated domains (re-discovering the same urls) get their "
    "budget reallocated to still-expanding ones. Two cascaded "
    "map-side-combined groupBys on the SAME leading key; the second "
    "shuffle is one row per (domain,url), already tiny.",
)
def crawl_novelty_goodturing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.select(
        F.concat(F.lit("d"), (F.col("l_suppkey") % 200).cast("string")).alias(
            "domain"
        ),
        F.col("l_orderkey").cast("string").alias("url"),
    )
    per_url = obs.groupBy("domain", "url").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_url.groupBy("domain").agg(
        F.sum("c").cast("bigint").alias("observations"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_urls"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("singletons"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            * F.lit(1.0)
            / F.sum("c"),
            4,
        ).alias("p_new_gt"),
    )


# ---------------------------------------------------------------------------
# crawl_adaptive_delay — latency-adaptive politeness
# ---------------------------------------------------------------------------
@register(
    "crawl_adaptive_delay",
    oracle="""
    WITH lat AS (
      SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS domain,
             value AS latency_ms
      FROM events
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(quantile_cont(latency_ms, 0.5), 4)  AS p50_ms,
           ROUND(quantile_cont(latency_ms, 0.95), 4) AS p95_ms,
           ROUND(LEAST(10000.0, GREATEST(
             100.0, 2.0 * quantile_cont(latency_ms, 0.95))), 4)
             AS crawl_delay_ms
    FROM lat GROUP BY domain
    """,
    doc="Latency-adaptive crawl delay per domain: exact interpolated "
    "p50/p95 over observed fetch latencies, delay = clamp(2 x p95, "
    "100ms, 10s). robots crawl-delay stays the FLOOR (politeness.py "
    "admit takes the max of the two); this is the backoff-before-"
    "erroring signal the reference's fixed retry ladder lacks. At "
    "scale the exact percentile swaps for approx_percentile — same "
    "plan shape, sketch partials instead of sorted groups.",
)
def crawl_adaptive_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lat = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias(
            "domain"
        ),
        F.col("value").alias("latency_ms"),
    )
    p95 = F.expr("percentile(latency_ms, 0.95)")
    return lat.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.round(F.expr("percentile(latency_ms, 0.5)"), 4).alias("p50_ms"),
        F.round(p95, 4).alias("p95_ms"),
        F.round(
            F.least(F.lit(10000.0), F.greatest(F.lit(100.0), 2.0 * p95)), 4
        ).alias("crawl_delay_ms"),
    )


# ---------------------------------------------------------------------------
# crawl_robots_wildcards — RFC 9309 '*' / '$' pattern matching
# ---------------------------------------------------------------------------
# Paths synthesized from part (p_name words + p_type tier); rules are
# FIXED literals chosen to exercise every pattern shape: plain prefix,
# contains (*x*), star+end-anchor, pure end-anchor, and three
# longest-match precedence duels (allow beats shorter dis, dis beats
# shorter allow). The Spark side matches through the real glob fold
# (operators/robots.py robots_glob_match — no regex, no Python); the
# oracle states each rule as a HAND-TRANSLATED regex, so a fold bug
# cannot reproduce itself in the oracle.
_WC_DIS = ["/cold", "*bolt*", "/blue*economy$", "*promo$"]
_WC_ALLOW = ["/cold/widget", "*bolt*economy$", "/blue*"]
_WC_DIS_RE = ["^/cold", "^.*bolt", "^/blue.*economy$", "^.*promo$"]
_WC_ALLOW_RE = ["^/cold/widget", "^.*bolt.*economy$", "^/blue"]


def _wc_oracle() -> str:
    dis = ", ".join(
        f"CASE WHEN regexp_matches(p, '{re}') THEN {len(r)} ELSE -1 END"
        for r, re in zip(_WC_DIS, _WC_DIS_RE)
    )
    allow = ", ".join(
        f"CASE WHEN regexp_matches(p, '{re}') THEN {len(r)} ELSE -1 END"
        for r, re in zip(_WC_ALLOW, _WC_ALLOW_RE)
    )
    return f"""
    WITH paths AS (
      SELECT DISTINCT '/' || replace(p_name, ' ', '/')
             || '/' || lower(p_type) AS p
      FROM part
    ),
    scored AS (
      SELECT p, GREATEST({dis}) AS dis_len, GREATEST({allow}) AS allow_len
      FROM paths
    )
    SELECT p AS url_path,
           CAST(dis_len AS INT) AS dis_len,
           CAST(allow_len AS INT) AS allow_len,
           (dis_len = -1 OR allow_len >= dis_len) AS allowed
    FROM scored
    """


@register(
    "crawl_robots_wildcards",
    oracle=_wc_oracle(),
    doc="Full RFC 9309 path patterns ('*' any-sequence, trailing '$' "
    "end anchor) with longest-match precedence over a mixed "
    "allow/disallow rule set, computed by the pure-JVM glob fold "
    "(split-on-star + greedy in-order locate — zero regex "
    "compilation per row, zero Python). Oracle re-states every rule "
    "as a hand-translated regex; differential fuzz vs a scalar "
    "reference in tests/test_robots.py.",
)
def crawl_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pixcrawler_spark.operators.robots import robots_glob_match

    part = load_table(spark, sf_dir, "part")
    paths = part.select(
        F.concat(
            F.lit("/"),
            F.regexp_replace(F.col("p_name"), " ", "/"),
            F.lit("/"),
            F.lower(F.col("p_type")),
        ).alias("url_path")
    ).dropDuplicates(["url_path"])

    def best_len(rules: list[str]) -> F.Column:
        return F.aggregate(
            F.filter(
                F.array(*[F.lit(r) for r in rules]),
                lambda rl: robots_glob_match(F.col("url_path"), rl),
            ),
            F.lit(-1),
            lambda acc, rl: F.greatest(acc, F.length(rl).cast("int")),
        ).cast("int")

    return paths.select(
        "url_path",
        best_len(_WC_DIS).alias("dis_len"),
        best_len(_WC_ALLOW).alias("allow_len"),
    ).select(
        "url_path",
        "dis_len",
        "allow_len",
        (
            (F.col("dis_len") == -1)
            | (F.col("allow_len") >= F.col("dis_len"))
        ).alias("allowed"),
    )


# ---------------------------------------------------------------------------
# crawl_surt_keys — CDX-style Sort-friendly URI Reordering Transform
# ---------------------------------------------------------------------------
# The Common Crawl / web-archive URL-index convention: reverse the
# host's labels (uk,co,example), drop the scheme and a leading www,
# lowercase, and sort the query parameters — so one SORT/RANGE
# PARTITION of the index clusters every url of a domain (and every
# subdomain under a suffix) contiguously. At 10^10 urls this is what
# turns "all pages of example.co.uk" from a full scan into a bounded
# range scan, and it makes url-level dedup keys canonical (param order
# no longer splits identical resources). Pure JVM string/array exprs
# on both sides; the fixture urls exercise www-stripping, multi-label
# suffixes, deep subdomains, and shuffled query params.
@register(
    "crawl_surt_keys",
    oracle="""
    WITH u AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 3 = 0
                  THEN 'https://www.shop' || CAST(o_orderkey % 40 AS VARCHAR)
                       || '.co.uk/P/' || CAST(o_orderkey AS VARCHAR)
                       || '?b=' || CAST(o_orderkey % 7 AS VARCHAR) || '&a=1'
                  WHEN o_orderkey % 3 = 1
                  THEN 'http://cdn.img' || CAST(o_orderkey % 40 AS VARCHAR)
                       || '.example.com/Asset/' || CAST(o_orderkey AS VARCHAR)
                  ELSE 'https://site' || CAST(o_orderkey % 40 AS VARCHAR)
                       || '.org/x?z=9&y=8&x=7'
             END AS url
      FROM orders
    ),
    parts AS (
      SELECT url,
             lower(regexp_replace(
               regexp_extract(url, '^[a-z]+://([^/?]+)', 1),
               '^www\\.', '')) AS host,
             lower(regexp_extract(url, '^[a-z]+://[^/?]*([^?]*)', 1))
               AS path,
             regexp_extract(url, '\\?(.*)$', 1) AS q
      FROM u
    )
    SELECT url,
           list_aggr(list_reverse(string_split(host, '.')),
                     'string_agg', ',')
           || ')' || path
           || CASE WHEN q = '' THEN ''
                   ELSE '?' || list_aggr(list_sort(string_split(q, '&')),
                                         'string_agg', '&') END
             AS surt,
           list_aggr(list_reverse(string_split(host, '.')),
                     'string_agg', ',') AS host_rev
    FROM parts
    """,
    doc="SURT canonical index keys (web-archive CDX convention): "
    "host labels reversed + comma-joined, scheme and leading www "
    "dropped, lowercased, query params sorted — sorting/range-"
    "partitioning the index by this key clusters a domain's (and a "
    "suffix's) urls contiguously, turning per-domain scans into "
    "bounded range scans and making url dedup keys canonical under "
    "param reordering. Pure JVM string/array exprs.",
)
def crawl_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ks = k.cast("string")
    url = (
        F.when(
            k % 3 == 0,
            F.concat(
                F.lit("https://www.shop"), (k % 40).cast("string"),
                F.lit(".co.uk/P/"), ks,
                F.lit("?b="), (k % 7).cast("string"), F.lit("&a=1"),
            ),
        )
        .when(
            k % 3 == 1,
            F.concat(
                F.lit("http://cdn.img"), (k % 40).cast("string"),
                F.lit(".example.com/Asset/"), ks,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"), (k % 40).cast("string"),
                F.lit(".org/x?z=9&y=8&x=7"),
            )
        )
    )
    u = o.select(url.alias("url"))
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(F.col("url"), r"^[a-z]+://([^/?]+)", 1),
            r"^www\.",
            "",
        )
    )
    path = F.lower(
        F.regexp_extract(F.col("url"), r"^[a-z]+://[^/?]*([^?]*)", 1)
    )
    q = F.regexp_extract(F.col("url"), r"\?(.*)$", 1)
    host_rev = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    surt = F.concat(
        host_rev,
        F.lit(")"),
        path,
        F.when(q == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(q, "&")), "&"))
        ),
    )
    return u.select("url", surt.alias("surt"), host_rev.alias("host_rev"))


# ---------------------------------------------------------------------------
# crawl_url_resolve — RFC 3986 relative-reference resolution
# ---------------------------------------------------------------------------
# 14 deterministic ref shapes per doc covering every resolution branch:
# empty / fragment-only / query-only / sibling / ./ / ../ chains
# (including over-pop past the root) / root-relative / embedded dot
# segments / protocol-relative / absolute / trailing '..' / trailing
# slash. The oracle normalizes the merged path with a DIFFERENT
# algorithm than the engine (recursive-CTE fixpoint of leftmost regex
# reductions vs a single aggregate fold), so agreement certifies the
# semantics rather than a shared implementation.
_RESOLVE_ORACLE = r"""
WITH src AS (
  SELECT doc_id,
         'https://' || source || '.example/dir'
           || CAST(doc_id % 3 AS VARCHAR) || '/sub/page.html' AS base,
         CASE doc_id % 14
           WHEN 0 THEN ''
           WHEN 1 THEN '#sec2'
           WHEN 2 THEN '?q=1&b=2'
           WHEN 3 THEN 'other.html'
           WHEN 4 THEN './same.html'
           WHEN 5 THEN '../up.html'
           WHEN 6 THEN '../../root.html'
           WHEN 7 THEN '../../../over.html'
           WHEN 8 THEN '/abs/path.html'
           WHEN 9 THEN 'a/./b/../c.html'
           WHEN 10 THEN '//cdn.example/img.png'
           WHEN 11 THEN 'https://other.example/x?y=1'
           WHEN 12 THEN '../..'
           ELSE 'dir/'
         END AS ref
  FROM documents
), parts AS (
  SELECT doc_id, base, ref,
         regexp_extract(base, '^(https?://[^/]+)', 1) AS origin,
         regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*):', 1) AS scheme,
         regexp_extract(base, '^https?://[^/]+(/.*)$', 1) AS bpath,
         regexp_replace(ref, '#.*$', '') AS r
  FROM src
), branch AS (
  SELECT *,
         regexp_extract(r, '^[^?]*', 0) AS rpath,
         CASE WHEN contains(r, '?')
              THEN regexp_extract(r, '(\?.*)$', 1) ELSE '' END AS rquery,
         CASE
           WHEN regexp_matches(r, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN 'abs'
           WHEN r LIKE '//%' THEN 'protorel'
           WHEN r = '' THEN 'same'
           WHEN r LIKE '?%' THEN 'query'
           ELSE 'path'
         END AS kind
  FROM parts
), merged AS (
  SELECT doc_id, base, ref, origin, scheme, r, rquery, kind,
         CASE WHEN kind <> 'path' THEN NULL
              WHEN rpath LIKE '/%' THEN rpath
              WHEN bpath = '' THEN '/' || rpath
              ELSE regexp_replace(bpath, '[^/]*$', '') || rpath
         END AS mpath
  FROM branch
), norm AS (
  WITH RECURSIVE n(doc_id, p, i) AS (
    SELECT doc_id, mpath, 0 FROM merged WHERE mpath IS NOT NULL
    UNION ALL
    SELECT doc_id,
      CASE
        WHEN regexp_matches(p, '^/\.\.(/|$)')
          THEN regexp_replace(p, '^/\.\.(/|$)', '/')
        WHEN regexp_matches(p, '/\.(/|$)')
          THEN regexp_replace(p, '/\.(/|$)', '/')
        ELSE regexp_replace(p, '/[^/]*/\.\.(/|$)', '/')
      END,
      i + 1
    FROM n
    WHERE i < 64
      AND regexp_matches(p, '^/\.\.(/|$)|/\.(/|$)|/[^/]*/\.\.(/|$)')
  )
  SELECT doc_id, p FROM (
    SELECT doc_id, p, i, max(i) OVER (PARTITION BY doc_id) AS mx FROM n
  ) WHERE i = mx
)
SELECT m.doc_id AS doc_id, m.base AS base, m.ref AS ref,
       CASE m.kind
         WHEN 'abs' THEN m.r
         WHEN 'protorel' THEN m.scheme || ':' || m.r
         WHEN 'same' THEN m.base
         WHEN 'query' THEN m.base || m.r
         ELSE m.origin || n.p || m.rquery
       END AS resolved
FROM merged m LEFT JOIN norm n USING (doc_id)
"""


@register(
    "crawl_url_resolve",
    oracle=_RESOLVE_ORACLE,
    doc="RFC 3986 relative-reference resolution over 14 synthesized "
    "ref shapes per doc (operators/urlresolve.py): the step between "
    "outlink extraction and the frontier/seen-set keys. The reference "
    "consumes absolute SERP urls (backend downloader result['url']) "
    "and never resolves; here it is a zero-shuffle expression tree. "
    "Differentially fuzzed against stdlib urljoin in "
    "tests/test_urlresolve.py.",
)
def crawl_url_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pixcrawler_spark.operators.urlresolve import resolve_reference

    d = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/dir"),
        (doc_id % 3).cast("string"), F.lit("/sub/page.html"),
    )
    m = doc_id % 14
    ref = (
        F.when(m == 0, "").when(m == 1, "#sec2").when(m == 2, "?q=1&b=2")
        .when(m == 3, "other.html").when(m == 4, "./same.html")
        .when(m == 5, "../up.html").when(m == 6, "../../root.html")
        .when(m == 7, "../../../over.html").when(m == 8, "/abs/path.html")
        .when(m == 9, "a/./b/../c.html")
        .when(m == 10, "//cdn.example/img.png")
        .when(m == 11, "https://other.example/x?y=1")
        .when(m == 12, "../..").otherwise("dir/")
    )
    df = d.select("doc_id", base.alias("base"), ref.alias("ref"))
    return df.select(
        "doc_id", "base", "ref",
        resolve_reference(F.col("base"), F.col("ref")).alias("resolved"),
    )
