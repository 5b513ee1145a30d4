"""Explicit StructType schemas the engine declares up front.

The reference declares all schemas (JSON Schema for configs at
builder/_config.py:31-94, SQLAlchemy DDL, Pydantic settings). Here:
the pages input (file-source streaming needs a schema), the frontier,
``seen`` and ``metrics`` (read when a table may not exist yet, or
written row by row from the driver), and the media table. The other
engine tables — ``results``, ``round_log``, ``pages_ext`` — take their
schema from the Spark plan that writes them; no table's schema is
inferred from data.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input table (BASELINE.json input_hint): Common-Crawl-style pages.
# ---------------------------------------------------------------------------
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# The frontier: the central work table (reference analog: the
# (category, keyword, engine, variation, offset, retry) work tuple,
# backend/services/crawl_job.py:482-513). Politeness columns
# (robots_denied, crawl_delay_s, max_per_round) are DENORMALIZED into
# the frontier at enqueue time: at 10^10-URL scale the robots table is
# ~10^8 rows — joinable against the per-round discovery delta, but a
# per-round join against the whole frontier would either broadcast an
# unbroadcastable build side or re-shuffle the frontier. Real crawler
# frontiers (Mercator/Heritrix queues) carry their politeness key the
# same way; a robots refresh is a periodic frontier migration job.
# The frontier's delta table (``frontier_added``, plans/crawl.py) has
# these columns plus ``tombstone_round``: null on an added row, the
# deciding round on a tombstone.
FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("domain", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("engine", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("retry_count", IntegerType(), False),
        StructField("discovered_round", IntegerType(), False),
        StructField("robots_denied", BooleanType(), False),
        StructField("crawl_delay_s", DoubleType(), False),
        StructField("max_per_round", IntegerType(), False),
    ]
)

# URL-seen checkpoint (reference analog: ProgressCache JSON,
# builder/progress.py:37-154).
SEEN_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("completed_round", IntegerType(), False),
    ]
)

# One row per round (north rule: URLs/sec, dedup hit-rate, politeness
# stalls; reference analog: EngineStats, builder/_engine.py:83-110).
# Per-row lineage is results.partition_id.
METRICS_SCHEMA = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("n_candidates", LongType(), False),
        StructField("n_seen_skipped", LongType(), False),
        StructField("n_politeness_stalled", LongType(), False),
        StructField("n_robots_denied", LongType(), False),
        StructField("n_fetched", LongType(), False),
        # discovery dedup telemetry (north rule "dedup hit-rate"):
        # raw discovered outlinks+retries vs rows that actually entered
        # the frontier after dedup + seen-filter (per round; observed
        # on the frontier-delta write in CrawlEngine.run_round)
        StructField("n_discovered_raw", LongType(), False),
        StructField("n_discovered_new", LongType(), False),
        StructField("dedup_hit_rate", DoubleType(), False),
        StructField("wall_seconds", DoubleType(), False),
        StructField("urls_per_sec", DoubleType(), False),
    ]
)

# Multimodal media table (binary payload + typed metadata; decode is
# stubbed in-sandbox — see operators/multimodal.py).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
        StructField("is_valid", BooleanType(), True),
    ]
)

