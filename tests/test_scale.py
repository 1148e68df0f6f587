"""Skew-mitigation operators: salting must be semantically invisible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dfx_indicators_etl_spark.operators.scale import salted_agg, salted_join
from dfx_indicators_etl_spark.sources import read_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    nation = read_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "user_mod"
    )
    fact = events.withColumn("user_mod", F.col("user_id") % 25)
    plain = {
        (r.event_id, r.n_name)
        for r in fact.join(nation, "user_mod").select("event_id", "n_name").collect()
    }
    salted = {
        (r.event_id, r.n_name)
        for r in salted_join(fact, nation, "user_mod", salt_buckets=8, salt_on="event_id")
        .select("event_id", "n_name")
        .collect()
    }
    assert salted == plain


def test_global_ntile_matches_window_ntile(spark):
    """Two-phase-rank ntile == window ntile for every residue shape:
    n % k == 0, n % k != 0, n < k, and duplicate order keys broken by
    the tie-break column."""
    from pyspark.sql import Window

    from dfx_indicators_etl_spark.operators.scale import global_ntile

    for n, k in [(12, 3), (10, 3), (2, 5), (7, 7), (1, 3)]:
        rows = [(i, (i * 37) % 5) for i in range(n)]  # dup metric values
        df = spark.createDataFrame(rows, "id long, m long")
        order = [F.col("m").desc(), F.col("id")]
        want = {
            r["id"]: r["t"]
            for r in df.withColumn(
                "t", F.ntile(k).over(Window.orderBy(*order))
            ).collect()
        }
        got = {
            r["id"]: r["t"]
            for r in global_ntile(
                df.repartition(4), k, order, "t", small_rows_threshold=0
            ).collect()
        }
        assert got == want, (n, k, got, want)


def test_histogram_percentiles_single_and_dup_values(spark):
    """Histogram path == F.percentile on degenerate shapes: one-row
    groups, all-equal groups, heavy duplicates straddling the rank."""
    from dfx_indicators_etl_spark.operators.scale import (
        histogram_percentiles,
    )

    rows = (
        [("one", 7.5)]
        + [("flat", 3.0)] * 9
        + [("dup", float(v)) for v in [1, 1, 1, 1, 2, 2, 2, 9, 9, 10]]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    exact = {
        r["g"]: (r["lo"], r["hi"])
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", 0.25).alias("lo"),
            F.percentile("v", 0.75).alias("hi"),
        )
        .collect()
    }
    hist = {
        r["g"]: (r["lo"], r["hi"])
        for r in histogram_percentiles(
            df, ["g"], "v", {"lo": 0.25, "hi": 0.75}
        ).collect()
    }
    assert hist == exact


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="non-decomposable"):
        salted_agg(events, ["event_type"], {"m": ("median", "value")})


def test_global_running_sum_matches_window(spark):
    """Two-phase running sum == unpartitioned window running sum for
    ints and exact decimals, duplicate order keys broken by the
    tie-break column, and the grand total attached identically."""
    from decimal import Decimal

    from pyspark.sql import Window

    from dfx_indicators_etl_spark.operators.scale import global_running_sum

    rows = [
        (i, (i * 37) % 5, Decimal(f"{(i * 13) % 97}.{i % 100:02d}"))
        for i in range(23)
    ]
    df = spark.createDataFrame(rows, "id long, m long, d decimal(18,4)")
    order = [F.col("m").desc(), F.col("id")]
    for col in ["m", "d"]:
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        want = {
            r["id"]: (r["cum"], r["tot"])
            for r in df.withColumn("cum", F.sum(col).over(w))
            .withColumn("tot", F.sum(col).over(w_all))
            .collect()
        }
        got = {
            r["id"]: (r["cum"], r["tot"])
            for r in global_running_sum(
                df.repartition(4),
                col,
                order,
                "cum",
                total_col="tot",
                small_rows_threshold=0,
            ).collect()
        }
        assert got == want, (col, got, want)


def test_global_running_sum_single_row_and_empty(spark):
    from dfx_indicators_etl_spark.operators.scale import global_running_sum

    df = spark.createDataFrame([(1, 5)], "id long, v long")
    [r] = global_running_sum(
        df, "v", [F.col("id")], "cum", total_col="tot",
        small_rows_threshold=0,
    ).collect()
    assert (r["cum"], r["tot"]) == (5, 5)
    empty = df.filter(F.lit(False))
    assert (
        global_running_sum(
            empty, "v", [F.col("id")], "cum", small_rows_threshold=0
        ).count()
        == 0
    )
