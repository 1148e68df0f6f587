"""The star's dim lookups against plain SQL joins: ``observation_view``
must equal the series LEFT JOIN its three dims, and ``series_fact`` the
observations INNER JOIN the dims' natural keys, both computed by DuckDB
over the same rows. The dims have ids from 0, sparse M49-style ids,
names that need escaping in JSON, null names and providers, and keys
that miss."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from dfx_indicators_etl_spark import database

NAMES = ["FRA", "Éclair", "日本", "\U0001f600", 'say "hi"', "back\\slash", '\\"', "", None]

COUNTRY = pa.schema([("id", pa.int32()), ("iso_2", pa.string()), ("iso_3", pa.string()),
                     ("name", pa.string())])
INDICATOR = pa.schema([("id", pa.int32()), ("name", pa.string()), ("provider", pa.string())])
DIMENSION = pa.schema([("id", pa.int32()), ("name", pa.string())])
SERIES = pa.schema([("country_id", pa.int32()), ("indicator_id", pa.int32()),
                    ("dimension_id", pa.int32()), ("year", pa.int32()), ("value", pa.float64())])
OBS = pa.schema([("country_code", pa.string()), ("indicator_name", pa.string()),
                 ("dimension", pa.string()), ("year", pa.int32()), ("value", pa.float64())])
KEYS = pa.schema([("key", pa.string()), ("id", pa.int32())])

VIEW_SQL = """
SELECT s.country_id, c.iso_2, c.iso_3, c.name, s.indicator_id, i.name, i.provider,
       s.dimension_id, d.name, s.year, s.value
FROM series s
LEFT JOIN country c ON s.country_id = c.id
LEFT JOIN indicator i ON s.indicator_id = i.id
LEFT JOIN dimension d ON s.dimension_id = d.id
"""

FACT_SQL = """
SELECT c.id, i.id, d.id, o.year, o.value
FROM obs o
JOIN country c ON o.country_code = c.key
JOIN indicator i ON o.indicator_name = i.key
JOIN dimension d ON o.dimension = d.key
"""


def _duck(sql: str, **tables: pa.Table) -> list[tuple]:
    con = duckdb.connect()
    try:
        for name, table in tables.items():
            con.register(name, table)
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def _check_view(spark, country, indicator, dimension, series):
    tables = {
        "country": pa.Table.from_pylist(country, COUNTRY),
        "indicator": pa.Table.from_pylist(indicator, INDICATOR),
        "dimension": pa.Table.from_pylist(dimension, DIMENSION),
        "series": pa.Table.from_pylist(series, SERIES),
    }
    star = {name: spark.createDataFrame(t) for name, t in tables.items()}
    view = database.observation_view(star)
    assert view.columns == [
        "country_id", "country_code_2", "country_code_3", "country_name",
        "indicator_id", "indicator_name", "indicator_provider",
        "dimension_id", "dimension_name", "year", "value",
    ]
    got = _sorted(view.collect())
    assert got == _sorted(_duck(VIEW_SQL, **tables))
    return got


def _check_fact(spark, country, indicator, dimension, obs):
    def keys(ids):
        return pa.Table.from_pylist([{"key": k, "id": v} for k, v in ids.items()], KEYS)

    obs_table = pa.Table.from_pylist(obs, OBS)
    fact = database.series_fact(spark.createDataFrame(obs_table), country, indicator, dimension)
    assert fact.columns == ["country_id", "indicator_id", "dimension_id", "year", "value"]
    got = _sorted(fact.collect())
    want = _duck(
        FACT_SQL,
        obs=obs_table,
        country=keys(country),
        indicator=keys(indicator),
        dimension=keys(dimension),
    )
    assert got == _sorted(want)
    return got


def _series(c, i, d, year=2000, value=1.0):
    return {"country_id": c, "indicator_id": i, "dimension_id": d, "year": year, "value": value}


def test_view_matches_left_join_on_edge_dims(spark):
    """Ids from 0 and sparse up to 894; names with non-ASCII letters,
    an astral emoji, ``"`` and ``\\``; a null provider and a null
    dimension name. A series id below, inside a gap of, above or
    missing from its dim keeps its row, with null attributes."""
    country = [
        {"id": 0, "iso_2": "Éc", "iso_3": "日本", "name": "\U0001f600 land"},
        {"id": 4, "iso_2": "AF", "iso_3": "AFG", "name": 'say "hi"'},
        {"id": 894, "iso_2": "ZM", "iso_3": "ZMB", "name": "back\\slash"},
    ]
    indicator = [
        {"id": 1, "name": "gdp \\\"x\\\"", "provider": None},
        {"id": 2, "name": "\U0001f600", "provider": "wb"},
    ]
    dimension = [{"id": 1, "name": None}, {"id": 2, "name": "Total"}]
    series = [
        _series(0, 1, 1),
        _series(894, 2, 2, 2001, 2.5),
        _series(4, 2, 1, 2002, -1.0),
        _series(5, 1, 2),  # a gap between 4 and 894
        _series(900, 3, 0),  # above every dim's ids, and below one
        _series(None, None, None),
    ]
    got = _check_view(spark, country, indicator, dimension, series)
    assert (0, "Éc", "日本", "\U0001f600 land", 1, 'gdp \\"x\\"', None, 1, None,
            2000, 1.0) in got
    assert (5, None, None, None, 1, 'gdp \\"x\\"', None, 2, "Total", 2000, 1.0) in got
    assert (900, None, None, None, 3, None, None, 0, None, 2000, 1.0) in got
    assert len(got) == len(series)


def test_fact_matches_inner_join_on_edge_keys(spark):
    """An observation whose key is missing from a dim, or null, is
    dropped; a ``None`` entry of a mapping never matches; keys that
    need escaping in JSON match exactly."""
    country = {"FRA": 0, "日本": 894, 'say "hi"': 4, None: 7}
    indicator = {"\U0001f600": 1, "back\\slash": 2}
    dimension = {"Total": 1, "": 2}
    obs = [
        {"country_code": "FRA", "indicator_name": "\U0001f600", "dimension": "Total",
         "year": 2000, "value": 1.0},
        {"country_code": "日本", "indicator_name": "back\\slash", "dimension": "",
         "year": 2001, "value": 2.0},
        {"country_code": 'say "hi"', "indicator_name": "back\\slash", "dimension": "Total",
         "year": 2002, "value": 3.0},
        {"country_code": "DEU", "indicator_name": "\U0001f600", "dimension": "Total",
         "year": 2000, "value": 4.0},
        {"country_code": None, "indicator_name": "\U0001f600", "dimension": "Total",
         "year": 2000, "value": 5.0},
        {"country_code": "FRA", "indicator_name": "back\\slash", "dimension": None,
         "year": 2000, "value": 6.0},
        {"country_code": "FRA", "indicator_name": "gdp", "dimension": "Total",
         "year": 2000, "value": 7.0},
    ]
    got = _check_fact(spark, country, indicator, dimension, obs)
    assert got == [(0, 1, 1, 2000, 1.0), (4, 2, 1, 2002, 3.0), (894, 2, 2, 2001, 2.0)]


def test_fact_looks_each_id_up_once(spark, tmp_path):
    """Three ids cost three map lookups: the non-null filter must not be
    pushed below the lookups and evaluate each a second time. The input
    is a parquet scan, as in the star build (a local relation would fold
    the whole fact into a literal table)."""
    path = str(tmp_path / "obs")
    spark.createDataFrame(
        pa.Table.from_pylist(
            [{"country_code": "FRA", "indicator_name": "gdp", "dimension": "Total",
              "year": 2000, "value": 1.0}],
            OBS,
        )
    ).write.parquet(path)
    obs = spark.read.parquet(path)
    fact = database.series_fact(obs, {"FRA": 250}, {"gdp": 1}, {"Total": 1})
    plan = fact._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("element_at(") == 3, plan
    assert fact.collect() == [(250, 1, 1, 2000, 1.0)]


ID_SETS = st.sets(st.integers(0, 900), max_size=5)
NAME = st.sampled_from(NAMES)
VALUE = st.integers(-1000, 1000).map(float)


@st.composite
def _stars(draw):
    c_ids, i_ids, d_ids = (sorted(draw(ID_SETS)) for _ in range(3))

    def ref(ids):
        return st.one_of(
            st.none(), st.sampled_from(ids) if ids else st.none(), st.integers(-1, 902)
        )

    country = [{"id": i, "iso_2": draw(NAME), "iso_3": draw(NAME), "name": draw(NAME)}
               for i in c_ids]
    indicator = [{"id": i, "name": draw(NAME), "provider": draw(NAME)} for i in i_ids]
    dimension = [{"id": i, "name": draw(NAME)} for i in d_ids]
    rows = draw(
        st.lists(
            st.tuples(ref(c_ids), ref(i_ids), ref(d_ids), st.integers(1990, 2030), VALUE),
            max_size=12,
        )
    )
    return country, indicator, dimension, [_series(*r) for r in rows]


@settings(max_examples=10, deadline=None)
@given(_stars())
def test_view_matches_left_join(spark, star):
    _check_view(spark, *star)


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(NAME, st.integers(0, 900), max_size=5),
    st.dictionaries(NAME, st.integers(1, 80), max_size=5),
    st.dictionaries(NAME, st.integers(1, 3), max_size=3),
    st.lists(st.tuples(NAME, NAME, NAME, st.integers(1990, 2030), VALUE), max_size=12),
)
def test_fact_matches_inner_join(spark, country, indicator, dimension, rows):
    obs = [dict(zip(OBS.names, r)) for r in rows]
    _check_fact(spark, country, indicator, dimension, obs)


def test_view_rejects_duplicate_dim_ids(spark):
    """A dim holding an id twice would duplicate fact rows in a join."""
    star = {
        "country": spark.createDataFrame(
            pa.Table.from_pylist([{"id": 1, "iso_2": "FR", "iso_3": "FRA", "name": "France"}],
                                 COUNTRY)
        ),
        "indicator": spark.createDataFrame(
            pa.Table.from_pylist([{"id": 3, "name": "gdp", "provider": "wb"},
                                  {"id": 3, "name": "pop", "provider": "wb"}], INDICATOR)
        ),
        "dimension": spark.createDataFrame(
            pa.Table.from_pylist([{"id": 1, "name": "Total"}], DIMENSION)
        ),
        "series": spark.createDataFrame(pa.Table.from_pylist([_series(1, 3, 1)], SERIES)),
    }
    with pytest.raises(ValueError, match="id 3"):
        database.observation_view(star)


def test_star_rejects_duplicate_country_codes(spark):
    """Two countries sharing an ``iso_3`` would duplicate fact rows."""
    obs = spark.createDataFrame(
        [("p", "gdp", "FRA", 2000, "Total", 1.0)],
        "provider string, indicator_name string, country_code string, "
        "year int, dimension string, value double",
    )
    country = spark.createDataFrame(
        [(250, "FR", "FRA", "France"), (251, "FR", "FRA", "France again")],
        "id int, iso_2 string, iso_3 string, name string",
    )
    with pytest.raises(ValueError, match="'FRA'"):
        database.build_star_schema(obs, country)
