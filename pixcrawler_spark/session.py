"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-vs-DuckDB comparison (UTC timestamps, ANSI off)
and for scale (AQE + skew-join on, Arrow on). ``shuffle_partitions``
defaults to the local core count; on a real cluster set it to
~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pixcrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults honour the sandbox env vars used by the bench driver:
    ``SPARK_GRAFT_CPUS`` (core count for local master).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions: one reducer per core, no
        # 200-partition default overhead on small data. On a cluster
        # this should be ~2-3x total cores (or leave to AQE coalesce).
        n = master[len("local[") : -1] if master.startswith("local[") else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # smaller AQE target partitions: wide binary rows (html ~1KB)
        # coalesce to too few tasks at 64MB default, starving the
        # Arrow/Python extraction stage of parallelism
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # broadcast joins for dim tables up to 64 MB (robots, engine
        # configs, tier limits are all tiny)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB input splits — the parquet-scan default, stated
        # explicitly because frontier scans at 100 TB depend on it
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune_session(spark)
    return spark


# InferFiltersFromGenerate rewrites `explode(expr)` into
# `Filter(size(expr) > 0) → explode(expr)` and pushes the filter below
# the projection that computes expr — so the generator's child (for us:
# regex-split tokenization fanned out into an n-gram transform, i.e.
# the split re-inlined once per token position) is evaluated a second
# time, interpreted, per input row. Measured at sf0.1: a shingle
# explode goes 1.2 s → 10.9 s with the rule on. The filter only
# pre-drops rows whose array is empty — work Generate does anyway —
# so excluding the rule is pure win for computed-array explodes.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# The crawl round takes its discovery counts from Observations on the
# frontier-delta write. When a shuffle stage comes back empty, this AQE
# rule replaces the plan above it with an empty relation, and an
# Observation below that point loses its metrics (Spark 4.1 then
# completes it with an empty row): e.g. every discovery was already
# seen, so the raw-count node upstream of the seen filter vanishes.
EXCLUDED_AQE_RULES = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


def _exclude_rule(spark: SparkSession, key: str, rule: str) -> None:
    """Add ``rule`` to the comma-separated exclusion list ``key``,
    MERGED with any exclusions the caller already configured —
    overwriting would silently re-enable their rules."""
    current = spark.conf.get(key, None)
    rules = [r for r in (current or "").split(",") if r]
    if rule not in rules:
        rules.append(rule)
    spark.conf.set(key, ",".join(rules))


def keep_observed_branches(spark: SparkSession) -> None:
    """Make every Observation on a plan report its metrics, even when
    an upstream stage is empty (see EXCLUDED_AQE_RULES)."""
    _exclude_rule(
        spark, "spark.sql.adaptive.optimizer.excludedRules", EXCLUDED_AQE_RULES
    )


def tune_session(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable tuning to ANY session —
    including one the correctness/bench driver built itself (the query
    registry calls this from every query fn, idempotently)."""
    try:
        # runs before every registered query fn, so it must be idempotent
        _exclude_rule(
            spark, "spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES
        )
    except Exception:
        pass  # conf locked down → queries still correct, just slower
    try:
        # Pin ANSI off on foreign sessions too (Spark 4 defaults it ON;
        # the DuckDB-comparison semantics here are documented ANSI-off).
        # Every query is still written to be ANSI-SAFE — tests run an
        # ANSI-on sweep (tests/test_ansi_sweep.py, which sets
        # PIXCRAWLER_KEEP_ANSI=1 to disable this pin so the sweep
        # actually exercises ANSI semantics) — but pinning keeps
        # null-on-overflow/cast semantics identical between the repo's
        # sessions and a driver-built one.
        if os.environ.get("PIXCRAWLER_KEEP_ANSI") != "1":
            spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass
