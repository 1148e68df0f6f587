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
unlike ``monotonically_increasing_id``. The dims are small tables
(bounded by M49 and the indicator catalogue) kept on the driver as
one-partition local relations (``sources.readers.local_relation``).
There the two derived dims are numbered in plain Python from one
aggregation over the observations, with no window, shuffle or
checkpoint. Neither the fact nor the view joins a dim: both look ids
and names up in literals folded into the plan (a JSON string parsed
by ``from_json``), so they run as one projection over one scan, with
no broadcast job.

The series fact is laid out for pruning: ``series_fact`` sorts each
partition by ``(year, indicator_id, dimension_id, country_id)``, so
its written files are clustered by year. Year comes first because it
is the only predicate that reaches the fact scan: a filter on a name
(``country_code_3``, ``indicator_name``) is a literal lookup over an
id, which Catalyst cannot invert, so it pushes nothing. The pruning
comes from parquet page indexes, not row groups: the fact is
typically one row group, but parquet-mr writes a column index for
pages of at most 20,000 rows, and Spark's vectorized reader skips the
pages whose ``year`` range misses a pushed ``year`` filter. A
five-year point query over the benchmark's 1,517,760-row star scans
240,000-260,000 rows instead of all of them.
"""

from __future__ import annotations

import json
from collections.abc import Mapping

import pyarrow as pa
from pyspark.sql import Column, DataFrame
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


def _id_lookup(keys: Column, ids: Mapping[str, int]) -> Column:
    """The id of each natural key in ``keys``, null where ``ids`` holds
    none: ``try_element_at`` into a ``map<string,int>`` literal parsed
    from one JSON object, which Catalyst folds once at plan time. A null
    key (or a ``None`` entry of ``ids``) never matches, as in a join."""
    entries = {k: v for k, v in ids.items() if k is not None}
    return F.try_element_at(
        F.from_json(
            F.lit(json.dumps(entries)), T.MapType(T.StringType(), T.IntegerType())
        ),
        keys,
    )


def series_fact(
    obs: DataFrame,
    country: Mapping[str, int],
    indicator: Mapping[str, int],
    dimension: Mapping[str, int],
) -> DataFrame:
    """``series(country_id, indicator_id, dimension_id, year, value)``
    (entities.py:77-97): natural keys swapped for surrogate ids.

    ``country`` maps ``iso_3``, ``indicator`` and ``dimension`` map
    names to ids, all held on the driver. Each id is a lookup into a
    map literal folded into the plan (``_id_lookup``), and a row keeps
    only when all three ids are found: the inner join's semantics, with
    no join, broadcast or shuffle — the fact is one scan.

    The ids come out of an ``inline`` generator, so the non-null filter
    stays above them: over a plain projection Catalyst would push the
    filter below it and run every lookup twice.

    The rows come sorted within each partition by ``(year,
    indicator_id, dimension_id, country_id)``: a local sort, with no
    exchange and no job of its own. Year leads because it is the only
    predicate that reaches the scan, where a pushed ``year`` range
    skips parquet pages (see the module docstring). The later keys are
    ordered to keep the file small: on the benchmark's 1.5M-row star,
    against the unsorted indicator-first fact, this order stores
    +0.3 % bytes and ``(year, country_id, indicator_id, dimension_id)``
    +4.1 %.
    """
    ids = F.struct(
        _id_lookup(obs["country_code"], country).alias("country_id"),
        _id_lookup(obs["indicator_name"], indicator).alias("indicator_id"),
        _id_lookup(obs["dimension"], dimension).alias("dimension_id"),
        F.col("year").cast("int").alias("year"),
        F.col("value").cast("double").alias("value"),
    )
    return (
        obs.select(F.inline(F.array(ids)))
        .where(
            F.col("country_id").isNotNull()
            & F.col("indicator_id").isNotNull()
            & F.col("dimension_id").isNotNull()
        )
        .sortWithinPartitions("year", "indicator_id", "dimension_id", "country_id")
    )


def _collect_by(dim: DataFrame, key: str, *columns: str) -> dict:
    """``dim``'s rows (``key`` plus ``columns``), collected once and
    keyed on ``key``. A key held twice raises ``ValueError``, since a
    join on it would duplicate fact rows; null keys are left out, as
    they never match."""
    rows: dict = {}
    for row in dim.select(key, *columns).toArrow().to_pylist():
        if row[key] is None:
            continue
        if row[key] in rows:
            raise ValueError(f"dim {key} {row[key]!r} is not unique")
        rows[row[key]] = row
    return rows


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
    local relations. ``country``'s ``(iso_3, id)`` pairs are collected
    too, and ``series_fact`` looks the ids up in the plan, so the build
    runs three jobs and every dim must fit on the driver: AQE runs the
    pair aggregate's shuffle stage as a job of its own before the
    collect's job, and the country collect is the third.

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
    indicator_names = _ranked(providers)
    indicator = local_relation(
        spark,
        pa.table(
            {
                "id": list(range(1, len(indicator_names) + 1)),
                "name": indicator_names,
                "provider": [
                    min(providers[n] - {None}, default=None) for n in indicator_names
                ],
            }
        ),
        _dim_schema(obs, name="indicator_name", provider="provider"),
    )
    dimension_names = _ranked(row["dimension"] for row in pairs)
    dimension = local_relation(
        spark,
        pa.table(
            {"id": list(range(1, len(dimension_names) + 1)), "name": dimension_names}
        ),
        _dim_schema(obs, name="dimension"),
    )
    country_ids = {k: row["id"] for k, row in _collect_by(country, "iso_3", "id").items()}
    return {
        "country": country,
        "indicator": indicator,
        "dimension": dimension,
        "series": series_fact(
            obs,
            country_ids,
            {name: i for i, name in enumerate(indicator_names, 1)},
            {name: i for i, name in enumerate(dimension_names, 1)},
        ),
    }


def _attributes(ids: Column, dim: DataFrame, **columns: str) -> list[Column]:
    """``dim``'s ``columns`` (``alias=source``) for each id in ``ids``,
    null where the dim holds no such id: a LEFT JOIN as lookups.

    ``dim`` is collected once. Each attribute becomes an array literal
    over the ids ``lo..hi`` (the dim's least and greatest id, with nulls
    in the gaps), parsed from one JSON string so Catalyst folds it once
    at plan time; one ``F.lit`` per element would cost a py4j round trip
    each. An id outside ``lo..hi`` gets a null slot. An array, not a
    map: ``element_at`` indexes an array but scans a map.
    """
    by_id = _collect_by(dim, "id", *columns.values())
    types = {f.name: f.dataType for f in dim.schema.fields}
    # An empty dim gives lo > hi: an empty array that no id reaches.
    lo, hi = min(by_id, default=1), max(by_id, default=0)
    slot = F.when(ids.between(lo, hi), ids - lo + 1)
    return [
        F.element_at(
            F.from_json(
                F.lit(
                    json.dumps(
                        [by_id[i][src] if i in by_id else None for i in range(lo, hi + 1)]
                    )
                ),
                T.ArrayType(types[src]),
            ),
            slot,
        ).alias(alias)
        for alias, src in columns.items()
    ]


def observation_view(star: dict[str, DataFrame]) -> DataFrame:
    """The ``observation`` wide view (entities.py:98-132): series LEFT
    JOIN the three dims, as one projection over the series scan.

    Each dim attribute is a lookup by id into an array literal folded
    into the plan (``_attributes``), so a query over the view runs no
    join and no broadcast job; an id missing from its dim gets null
    attributes, as the LEFT JOIN gives. The dims are a snapshot taken
    when the view is built (one job each): a dim written after that
    needs a new view. A dim holding an id twice raises ``ValueError``,
    since the join would have duplicated fact rows. The series fact
    stays a lazy scan.
    """
    series = star["series"]
    country = _attributes(
        series["country_id"],
        star["country"],
        country_code_2="iso_2",
        country_code_3="iso_3",
        country_name="name",
    )
    indicator = _attributes(
        series["indicator_id"],
        star["indicator"],
        indicator_name="name",
        indicator_provider="provider",
    )
    dimension = _attributes(series["dimension_id"], star["dimension"], dimension_name="name")
    return series.select(
        "country_id",
        *country,
        "indicator_id",
        *indicator,
        "dimension_id",
        *dimension,
        "year",
        "value",
    )
