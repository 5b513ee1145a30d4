"""Physical-plan audits for the round-5 statistics/revisit/similarity
batches: assert the scale-critical plan features so a refactor that
silently regresses them (full sort instead of partial top-K, shuffle
instead of broadcast, duplicated exchange) fails the suite."""

from __future__ import annotations

from pixcrawler_spark.queries import REGISTRY

SF01 = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF01)
    return df._jdf.queryExecution().executedPlan().toString()


def test_containment_bottomk_plan(spark):
    """The bottom-k probe cut must be WindowGroupLimit (map-side
    partial top-K per doc), and the hot-shingle df-cap must be a
    BROADCAST anti-join — a shuffled anti-join would re-shuffle the
    whole shingle corpus against a tiny hot-key set."""
    plan = _plan(spark, "dedup_containment_bottomk")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_zipf_topn_is_sort_limit(spark):
    """The top-N term cut must be a distributed sort-limit
    (TakeOrderedAndProject, O(N) heap per task). A global rank
    window with empty partition spec does NOT compile to
    WindowGroupLimit, so it would funnel the entire vocabulary
    through one partition at corpus scale."""
    plan = _plan(spark, "text_zipf_fit")
    assert "TakeOrderedAndProject" in plan


def test_cocitation_indeg_broadcast(spark):
    """The indegree dims join back broadcast (bounded target-node
    key space); pair generation must not SMJ-shuffle the co-count
    frame against them."""
    plan = _plan(spark, "graph_cocitation_similarity")
    assert plan.count("BroadcastHashJoin") >= 2


def test_ewma_single_shuffle(spark):
    """The host-keyed window and the host groupBy must share ONE
    exchange — Catalyst reuses the window's hashpartitioning(domain)
    for the aggregate. A second exchange means the reuse broke."""
    plan = _plan(spark, "crawl_hostload_ewma")
    assert plan.count("Exchange hashpartitioning") == 1


def test_conditional_get_single_shuffle(spark):
    """Map-only decision + one map-side-combined aggregate: exactly
    one exchange, no joins, no windows."""
    plan = _plan(spark, "crawl_conditional_get")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Window" not in plan


def test_fairness_two_stage_reduction(spark):
    """Bounded-key groupBy (one hash exchange) + single-row final
    reduction (one SinglePartition exchange) — nothing else."""
    plan = _plan(spark, "crawl_fairness_jains")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan

