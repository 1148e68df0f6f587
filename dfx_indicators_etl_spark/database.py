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
and reproducible in plain SQL (``DENSE_RANK() OVER (ORDER BY name)``),
unlike ``monotonically_increasing_id``. The dims are small tables kept
on the driver as one-partition local relations
(``sources.readers.local_relation``): the fact joins broadcast every
dim, so a dim must fit on the driver anyway. There the two derived
dims are numbered in plain Python from one aggregation over the
observations, with no window, shuffle or checkpoint, and the
observation view snapshots all three.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.indicator import insert_ignore, upsert
from .sources.readers import local_relation

__all__ = [
    "series_fact",
    "build_star_schema",
    "observation_view",
    "upsert",
    "insert_ignore",
]


def _dim_schema(obs: DataFrame, **columns: str) -> T.StructType:
    """``id int`` (never null), then each named dim column typed like
    the ``obs`` column it comes from."""
    return T.StructType(
        [T.StructField("id", T.IntegerType(), nullable=False)]
        + [
            T.StructField(name, obs.schema[src].dataType, obs.schema[src].nullable)
            for name, src in columns.items()
        ]
    )


def _ranked(names) -> list:
    """Distinct ``names`` in ``ORDER BY name`` order: nulls first, then
    Python's code-point order, which is Spark's UTF-8 binary order. The
    1-based position of a name is its ``DENSE_RANK()``."""
    return sorted(set(names), key=lambda n: (n is not None, n or ""))


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
    from the UNSD M49 table, entities.py:137-160). Both derived dims
    come from ONE aggregation over ``obs`` — the distinct
    ``(indicator_name, dimension)`` pairs with their least provider —
    collected to the driver, which numbers each dim's sorted distinct
    names ``1..n`` (``_ranked``). So ``indicator(id, name, provider)``
    (entities.py:50-60) takes the least provider of a name, and
    ``dimension(id, name)`` (entities.py:63-74) its ids; both return as
    local relations. The dims are eager, and bounded like any broadcast
    side: ``series_fact`` broadcasts them.

    The fact stays lazy and scans ``obs`` once more when it runs, so
    ``obs`` should be materialized: the landed parquet that
    ``pipelines.run_all`` returns is. A caller holding an expensive lazy
    lineage lands or checkpoints it first.
    """
    spark = obs.sparkSession
    pairs = (
        obs.groupBy("indicator_name", "dimension")
        .agg(F.min("provider").alias("provider"))
        .toArrow()
        .to_pylist()
    )
    providers: dict = {}
    for row in pairs:
        providers.setdefault(row["indicator_name"], set()).add(row["provider"])
    names = _ranked(providers)
    indicator = local_relation(
        spark,
        pa.table(
            {
                "id": list(range(1, len(names) + 1)),
                "name": names,
                "provider": [min(providers[n] - {None}, default=None) for n in names],
            }
        ),
        _dim_schema(obs, name="indicator_name", provider="provider"),
    )
    names = _ranked(row["dimension"] for row in pairs)
    dimension = local_relation(
        spark,
        pa.table({"id": list(range(1, len(names) + 1)), "name": names}),
        _dim_schema(obs, name="dimension"),
    )
    return {
        "country": country,
        "indicator": indicator,
        "dimension": dimension,
        "series": series_fact(obs, country, indicator, dimension),
    }


def observation_view(star: dict[str, DataFrame]) -> DataFrame:
    """The ``observation`` wide view (entities.py:98-132): series LEFT
    JOIN the three dims, every dim broadcast.

    The dims are a snapshot taken when the view is built: each is
    collected once into a local relation, so the queries over the view
    broadcast rows held in the plan instead of scanning the dim tables
    again. A dim written after that needs a new view; the series fact
    stays a lazy scan.
    """
    series = star["series"]
    country, indicator, dimension = (
        local_relation(series.sparkSession, star[name].toArrow(), star[name].schema)
        for name in ("country", "indicator", "dimension")
    )
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
