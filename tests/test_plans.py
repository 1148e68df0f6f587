"""Physical-plan invariants: the properties that make these queries
survive a 100× scale-up. A regression here may not change results at
test SF but would change the shuffle/broadcast shape at cluster scale."""

from __future__ import annotations

import re

import pytest

from dfx_indicators_etl_spark.plans import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def _shuffles(plan: str) -> int:
    """Shuffle exchanges only (broadcast exchanges don't move the fact)."""
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange SinglePartition")


def test_q1_pushdown_prune_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    schema = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "l_comment" not in schema and "l_partkey" not in schema  # pruned
    assert _shuffles(plan) == 1  # partial agg -> one exchange -> final agg


@pytest.mark.parametrize(
    "name,n_broadcasts",
    [("q5_local_supplier", 5), ("q10_returned_item", 3)],
)
def test_star_joins_broadcast_only(spark, sf_dir, name, n_broadcasts):
    """Every dim join broadcasts; the fact shuffles once for the agg."""
    plan = _plan(spark, sf_dir, name)
    assert plan.count("BroadcastHashJoin") == n_broadcasts
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert _shuffles(plan) == 1


@pytest.mark.parametrize(
    "name", ["text_tokens", "text_quality", "text_langid", "mm_decode_stub"]
)
def test_narrow_ops_never_shuffle(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) == 0


def test_exact_dedup_single_shuffle(spark, sf_dir):
    assert _shuffles(_plan(spark, sf_dir, "dedup_exact")) == 1


@pytest.mark.parametrize(
    "name,shuffles,broadcasts,sort_merge",
    [
        ("dedup_ngram_jaccard", 3, 3, 0),
        ("dedup_minhash", 1, 3, 0),
        ("dedup_simhash", 1, 3, 0),
        ("dedup_shared_spans", 1, 1, 0),
        ("mm_phash_dedup_capped", 3, 5, 0),
        ("mm_video_dedup", 7, 7, 0),
    ],
)
def test_bucket_join_plan_shape(spark, sf_dir, name, shuffles, broadcasts, sort_merge):
    """The near-duplicate searches built on ``dedup._bucket_pairs``
    keep their executed-plan shape (the counts PLANS.md records): a
    change to the shared cap-and-self-join moves every one of them."""
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) == shuffles
    assert (
        plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        == broadcasts
    )
    assert plan.count("SortMergeJoin") == sort_merge


def test_observation_view_fact_never_shuffles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ind_observation_view")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) == 0


def test_star_series_fact_joins_no_dim(spark, sf_dir, tmp_path):
    """The series fact joins no dim: it looks its ids up in literals
    folded into the plan. Over landed parquet its executed plan holds
    no join and no exchange, broadcast or shuffle, and its one sort is
    local (the year-first layout is a ``sortWithinPartitions``, not a
    global sort); over the registry's events it adds no join to its
    ``observations`` input."""
    from dfx_indicators_etl_spark import database
    from dfx_indicators_etl_spark.plans.indicator_queries import observations

    obs = spark.createDataFrame(
        [("p", f"ind {i % 5}", ("FRA", "DEU")[i % 2], 2000 + i, "Total", float(i))
         for i in range(40)],
        "provider string, indicator_name string, country_code string, "
        "year int, dimension string, value double",
    )
    obs.write.parquet(str(tmp_path / "obs"))
    landed = spark.read.parquet(str(tmp_path / "obs"))
    country = spark.createDataFrame(
        [(250, "FR", "FRA", "France"), (276, "DE", "DEU", "Germany")],
        "id int, iso_2 string, iso_3 string, name string",
    )
    series = database.build_star_schema(landed, country)["series"]
    plan = series._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert re.findall(r"\bSort \[[^\]]*\], (\w+)", plan) == ["false"], plan

    def joins(plan: str) -> int:
        return len(re.findall(r"\w+Join\b", plan))

    star = joins(_plan(spark, sf_dir, "ind_star_series"))
    events = joins(
        observations(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert events == 1 and star <= events


def test_year_filter_pushdown(spark, sf_dir):
    """``filter_years`` on a *stored* column reaches the parquet scan.

    (The ind_year_filter query filters a derived year — 2000 +
    dayofmonth — which by construction can't push; this asserts the
    operator itself produces a pushdown-able range predicate.)
    """
    from dfx_indicators_etl_spark.operators import indicator as ops
    from dfx_indicators_etl_spark.sources import read_table

    df = ops.filter_years(
        read_table(spark, sf_dir, "orders"),
        "o_orderkey",  # stored bigint column: range predicate must push
        1,
        1000,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(o_orderkey,1)" in plan
    assert "LessThanOrEqual(o_orderkey,1000)" in plan
