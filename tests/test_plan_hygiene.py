"""Global plan hygiene: rules every registered query must obey.

- No row-at-a-time Python UDFs anywhere (``BatchEvalPython``): Python
  kernels must be Arrow-batched (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas``).
- No ``CartesianProduct`` outside the explicit allow-list (a cross join
  over two bounded dims is the only legitimate use).

These are the anti-patterns that stay invisible at test scale and
dominate cost at cluster scale — pinning them here makes a regression a
test failure instead of a production incident.
"""

import pytest

from iceberg_catalog_migrator_spark.queries import all_queries

SF = "/root/testdata/sf0.001"

# No query needs a shuffled CartesianProduct: the only intentional cross
# join (cross_join_region_priorities, 5x5 bounded dims) compiles to a
# BroadcastNestedLoopJoin, which is the shape we want at any scale.
CARTESIAN_ALLOWED: set[str] = set()


@pytest.fixture(scope="module")
def built(spark):
    """Each query's DataFrame built once: its executed-plan string for
    the plan-string rules and its ``plan_audit`` for the shuffle
    ceiling."""
    from iceberg_catalog_migrator_spark.plans import plan_audit

    out = {}
    for name, qd in all_queries().items():
        df = qd.fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = (plan, plan_audit(df))
    return out


@pytest.fixture(scope="module")
def plans(built):
    return {name: plan for name, (plan, _) in built.items()}


def test_no_row_at_a_time_python_udfs(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == [], f"row-at-a-time Python UDFs in: {offenders}"


def test_no_unexpected_cartesian_products(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "CartesianProduct" in p and n not in CARTESIAN_ALLOWED
    ]
    assert offenders == [], f"unexpected CartesianProduct in: {offenders}"


def test_cross_join_is_broadcast_nlj(plans):
    # the intentional cross join must stay broadcast, never shuffled
    assert "BroadcastNestedLoopJoin" in plans["cross_join_region_priorities"]


# worst single-pipeline query today is 7 (the Jaccard/containment
# shingle re-ranks); a registered query needing more keyed shuffles
# than that almost certainly lost a broadcast or a partitioning reuse
GLOBAL_SHUFFLE_CEILING = 8

# documented exceptions with PINNED budgets (a regression past the pin
# still fails): multi-SOURCE pipelines. dedup_snapshot_commit_delta
# signature-aggregates TWO corpora (delta + prior snapshot)
# independently, band-joins them (shuffled DELIBERATELY — a nightly
# crawl delta can be arbitrarily large, so only the collision-bounded
# candidate/size frames carry broadcast hints), distincts the
# candidate set, and emits three scalar summaries; the count is
# exchange arity, not data volume.
SHUFFLE_BUDGETS = {"dedup_snapshot_commit_delta": 13}


def test_global_shuffle_ceiling(built):
    offenders = {}
    for name, (_, a) in built.items():
        if a.n_shuffles > SHUFFLE_BUDGETS.get(name, GLOBAL_SHUFFLE_CEILING):
            offenders[name] = a.n_shuffles
    assert offenders == {}, f"queries above the shuffle ceiling: {offenders}"
