"""Star-schema builders: dimension extraction, surrogate keys, series
fact, observation view, and conflict-aware loaders.

Re-expresses the reference's relational layer
(`/root/reference/src/dfx_etl/database/entities.py` — ``country /
indicator / dimension`` dims + ``series`` fact keyed on the three dim
ids + year, and the ``observation`` LEFT-JOIN view, entities.py:98-132;
`database/__init__.py:92-127` — upsert / insert-ignore loaders) as
DataFrame transformations: instead of loading rows into an RDBMS, the
star schema *is* a set of DataFrames a caller writes as (bucketed)
tables.

Surrogate keys are dense ranks over the natural key: deterministic
and reproducible in plain SQL, unlike ``monotonically_increasing_id``.
The rank strategy is picked from the dim's actual size (``_with_id``):
broadcast-sized dims rank in one bounded partition; larger dims
range-repartition on the key, rank *within* each partition, then add
per-partition offsets — bit-identical to a global ``DENSE_RANK() OVER
(ORDER BY key)`` without ever funneling an unbounded distinct-value
set through one task (the r2 plan-audit weak spot: the combined-
``dimension`` dim can be high-cardinality at fact scale even though
country/indicator dims stay small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators.indicator import insert_ignore, upsert

__all__ = [
    "indicator_dim",
    "dimension_dim",
    "series_fact",
    "build_star_schema",
    "observation_view",
    "upsert",
    "insert_ignore",
]


def _with_id(
    df: DataFrame,
    order_col: str,
    id_name: str = "id",
    small_dim_rows: int = 1_000_000,
) -> DataFrame:
    """Dense-rank surrogate ids without an unbounded single-task sort.

    ``DENSE_RANK() OVER (ORDER BY key)`` — the reference's deterministic
    id rule and what the DuckDB oracles compute — normally plans as an
    unpartitioned Window: every distinct dim value through one task,
    unacceptable when a dim is fact-scale. But MOST dims are broadcast
    sized, and the distributed rank's fixed costs (range-sampling pass,
    per-partition offset probe) tripled the star-build wall time at
    bench SF. So, like a broadcast-join decision, pick the strategy
    from the data: the input is checkpointed and counted once (the
    count doubles as the checkpoint materialization), and

    - ``n ≤ small_dim_rows``: rank in ONE partition (window still keyed
      by ``__pid``, which is constant) — identical execution to the
      global window, explicitly bounded by the threshold;
    - larger: the distributed plan — range-repartition by key (equal
      keys co-locate), dense-rank within each partition, then add the
      count of distinct keys in earlier partitions (a ≤-#partitions-row
      control-plane collect).

    The ids are bit-identical to the global window's for any input, so
    the SQL oracles still reproduce them.
    """
    spark = df.sparkSession
    df = df.localCheckpoint(eager=False)
    n_rows = df.count()  # materializes the checkpoint; one scalar back

    if n_rows <= small_dim_rows:
        keyed = df.repartition(1).withColumn("__pid", F.spark_partition_id())
        w = Window.partitionBy("__pid").orderBy(order_col)
        return keyed.select(
            F.dense_rank().over(w).cast("int").alias(id_name), "*"
        ).drop("__pid")

    n_parts = max(1, spark.sparkContext.defaultParallelism)
    # Materialize the partitioning: spark_partition_id() must agree
    # between the offset probe and the rank projection.
    parted = df.repartitionByRange(n_parts, F.col(order_col)).localCheckpoint(
        eager=False
    )
    keyed = parted.withColumn("__pid", F.spark_partition_id())
    counts = sorted(
        (r["__pid"], r["n"])
        for r in keyed.groupBy("__pid")
        .agg(F.count_distinct(order_col).alias("n"))
        .collect()
    )
    offsets, running = {}, 0
    for pid, n in counts:
        offsets[pid] = running
        running += n
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(order_col)
    return keyed.select(
        (F.dense_rank().over(w) + offset_expr).cast("int").alias(id_name), "*"
    ).drop("__pid")


def indicator_dim(obs: DataFrame) -> DataFrame:
    """``indicator(id, name, provider)`` (entities.py:50-60)."""
    return _with_id(
        obs.select(
            F.col("indicator_name").alias("name"), "provider"
        ).dropDuplicates(["name"]),
        "name",
    )


def dimension_dim(obs: DataFrame) -> DataFrame:
    """``dimension(id, name)`` (entities.py:63-74)."""
    return _with_id(
        obs.select(F.col("dimension").alias("name")).distinct(), "name"
    )


def series_fact(
    obs: DataFrame,
    country: DataFrame,
    indicator: DataFrame,
    dimension: DataFrame,
) -> DataFrame:
    """``series(country_id, indicator_id, dimension_id, year, value)``
    (entities.py:77-97): natural keys swapped for surrogate ids through
    three broadcast joins — the fact never shuffles.
    """
    return (
        obs.join(
            F.broadcast(country.select(F.col("id").alias("country_id"), "iso_3")),
            obs["country_code"] == F.col("iso_3"),
        )
        .join(
            F.broadcast(
                indicator.select(F.col("id").alias("indicator_id"), "name")
            ),
            obs["indicator_name"] == F.col("name"),
        )
        .drop("name")
        .join(
            F.broadcast(
                dimension.select(F.col("id").alias("dimension_id"), "name")
            ),
            obs["dimension"] == F.col("name"),
        )
        .select(
            "country_id",
            "indicator_id",
            "dimension_id",
            F.col("year").cast("int").alias("year"),
            F.col("value").cast("double").alias("value"),
        )
    )


def build_star_schema(obs: DataFrame, country: DataFrame) -> dict[str, DataFrame]:
    """Observations + country dim → the four star-schema tables.

    ``country`` carries at least ``(id, iso_3)`` (the reference seeds it
    from the UNSD M49 table, entities.py:137-160). The two derived dims
    compute once each (one distinct-shuffle over small key sets); the
    fact is broadcast-join-only.

    ``obs`` feeds three consumers (two dim builds + the fact), and each
    scans it, so it should be materialized: the landed parquet that
    ``pipelines.run_all`` returns is (the batch analogue of staging
    observations before loading a warehouse). A caller holding an
    expensive lazy lineage lands or checkpoints it first.
    """
    indicator = indicator_dim(obs)
    dimension = dimension_dim(obs)
    return {
        "country": country,
        "indicator": indicator,
        "dimension": dimension,
        "series": series_fact(obs, country, indicator, dimension),
    }


def observation_view(star: dict[str, DataFrame]) -> DataFrame:
    """The ``observation`` wide view (entities.py:98-132): series LEFT
    JOIN the three dims, every dim broadcast."""
    series, country = star["series"], star["country"]
    indicator, dimension = star["indicator"], star["dimension"]
    return (
        series.join(
            F.broadcast(country).withColumnsRenamed(
                {"id": "c_id", "name": "country_name"}
            ),
            series["country_id"] == F.col("c_id"),
            "left",
        )
        .join(
            F.broadcast(indicator).withColumnsRenamed(
                {"id": "i_id", "name": "indicator_name", "provider": "indicator_provider"}
            ),
            series["indicator_id"] == F.col("i_id"),
            "left",
        )
        .join(
            F.broadcast(dimension).withColumnsRenamed(
                {"id": "d_id", "name": "dimension_name"}
            ),
            series["dimension_id"] == F.col("d_id"),
            "left",
        )
        .select(
            "country_id",
            F.col("iso_2").alias("country_code_2"),
            F.col("iso_3").alias("country_code_3"),
            "country_name",
            F.col("indicator_id"),
            "indicator_name",
            "indicator_provider",
            "dimension_id",
            "dimension_name",
            "year",
            "value",
        )
    )
