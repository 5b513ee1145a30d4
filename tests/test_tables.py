"""TableStore unit tests: snapshot manifest semantics, tagged
crash-recovery rollback, parquet-footer counts, driver-side local
appends, and bucketed catalog tables (incl. re-registration from the
manifest, the cross-session resume path)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pixcrawler_spark.sources.tables import TableStore


def _urls(spark, lo, hi, r):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://d.example/p/"), F.col("id")).alias("url"),
        F.lit(r).cast("int").alias("r"),
    )


def test_snapshot_append_and_count(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s1"))
    store.append("t", _urls(spark, 0, 100, 1))
    store.append("t", _urls(spark, 100, 150, 2))
    assert store.read("t").count() == 150
    assert store.count("t") == 150  # footer count, no Spark job


def test_drop_tagged_rollback(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s2"))
    store.append("t", _urls(spark, 0, 10, 1), tag="round-1")
    store.append("t", _urls(spark, 10, 30, 2), tag="round-2")
    assert store.count("t") == 30
    assert store.drop_tagged("t", {"round-2"}) == 1
    assert store.count("t") == 10
    # idempotent
    assert store.drop_tagged("t", {"round-2"}) == 0


def test_append_local_roundtrip(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s3"))
    schema = StructType(
        [
            StructField("round", IntegerType(), False),
            StructField("n", LongType(), False),
            StructField("name", StringType(), False),
        ]
    )
    store.append_local("m", [(1, 10, "a"), (2, 20, "b")], schema)
    rows = {(r["round"], r["n"], r["name"]) for r in store.read("m").collect()}
    assert rows == {(1, 10, "a"), (2, 20, "b")}


def test_bucketed_overwrite_append_read(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s4"))
    store.overwrite("seen", _urls(spark, 0, 200, 1), bucket=(("url",), 8))
    store.append("seen", _urls(spark, 200, 260, 2), bucket=(("url",), 8))
    assert store.read("seen").count() == 260
    assert store.count("seen") == 260
    # in a join the scan must use bucketing (no exchange on this side)
    probe = _urls(spark, 0, 5, 0).select("url")
    j = store.read("seen").join(probe.hint("merge"), "url", "left_semi")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan


def test_bucketed_reregistration_after_catalog_loss(spark, tmp_path):
    """Cross-session resume: the in-memory catalog dies with the
    session; the store must re-register the external bucketed table
    from its manifest and keep both reads and appends working."""
    store = TableStore(spark, str(tmp_path / "s5"))
    store.overwrite("seen", _urls(spark, 0, 100, 1), bucket=(("url",), 8))
    gen_name = store._cat_name("seen", 1)
    spark.sql(f"DROP TABLE {gen_name}")  # simulate a fresh session
    assert store.read("seen").count() == 100
    store.append("seen", _urls(spark, 100, 120, 2), bucket=(("url",), 8))
    assert store.read("seen").count() == 120


def test_bucketed_overwrite_while_reading_old_generation(spark, tmp_path):
    """Frontier-style self-overwrite: writing generation g+1 from a
    plan that reads generation g."""
    store = TableStore(spark, str(tmp_path / "s6"))
    store.overwrite("f", _urls(spark, 0, 100, 1), bucket=(("url",), 8))
    cur = store.read("f").where(F.col("r") == 1).withColumn(
        "r", F.lit(2).cast("int")
    )
    store.overwrite("f", cur, bucket=(("url",), 8))
    out = store.read("f")
    assert out.count() == 100
    assert out.where(F.col("r") == 2).count() == 100
