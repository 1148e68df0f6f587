"""Pipeline framework + per-source transformer parity tests on raw
frames shaped like each reference source's payload."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dfx_indicators_etl_spark import validation
from dfx_indicators_etl_spark.pipelines import (
    SOURCES,
    Pipeline,
    sipri_milex,
    unstats_sdg_api,
    who_gho_api,
    world_bank_api,
    world_bank_wdi,
)

CANON = [f.name for f in validation.DATA_SCHEMA.fields]


@pytest.fixture(scope="module")
def country_mapping(spark):
    return spark.createDataFrame(
        [
            ("Albania", "8", "ALB"),
            ("France", "250", "FRA"),
            ("Germany", "276", "DEU"),
        ],
        ["name", "m49", "iso_alpha_3"],
    )


def run(transformer, raw, provider, country_mapping):
    return transformer(
        raw,
        provider=provider,
        countries=country_mapping,
    )


def test_sipri_milex(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("Albania", "Milex [SIPRI_X]", 1.5, 2.5),
            ("France", "Milex [SIPRI_X]", None, 7.0),
            ("Atlantis", "Milex [SIPRI_X]", 9.0, 9.0),  # unmappable name
        ],
        ["Country", "indicator_name", "2019", "2020"],
    )
    out = run(sipri_milex.Transformer(country_mapping), raw, "sipri_milex", country_mapping)
    assert out.columns == CANON
    rows = {(r.country_code, r.year): r.value for r in out.collect()}
    assert rows == {("ALB", 2019): 1.5, ("ALB", 2020): 2.5, ("FRA", 2020): 7.0}
    assert out.select("dimension").distinct().collect() == [Row(dimension="Total")]


def test_world_bank_wdi(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("France", "FRA", "GDP", "NY.GDP", 1.0, 2.0, 3.0),
            ("Germany", "DEU", "GDP", "NY.GDP", None, None, 4.0),
        ],
        ["Country Name", "Country Code", "Indicator Name", "Indicator Code",
         "2014", "2015", "2016"],
    )
    out = run(world_bank_wdi.Transformer(), raw, "world_bank_wdi", country_mapping)
    rows = {(r.country_code, r.year): (r.value, r.indicator_name) for r in out.collect()}
    # 2014 cut by year_floor; nulls dropped by melt
    assert rows == {
        ("FRA", 2015): (2.0, "GDP [NY.GDP]"),
        ("FRA", 2016): (3.0, "GDP [NY.GDP]"),
        ("DEU", 2016): (4.0, "GDP [NY.GDP]"),
    }


def test_world_bank_api(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            Row(indicator=Row(id="SP.POP", value="Population"),
                country=Row(id="FR", value="France"),
                countryiso3code="FRA", date="2020", value=67.0),
            Row(indicator=Row(id="SP.POP", value="Population"),
                country=Row(id="", value="Germany"),
                countryiso3code="", date="2021", value=83.0),  # falls back to name
            Row(indicator=Row(id="SP.POP", value="Population"),
                country=Row(id="XX", value="Euro area"),
                countryiso3code="", date="2021", value=1.0),  # aggregate: dropped by M49
            Row(indicator=Row(id="SP.POP", value="Population"),
                country=Row(id="FR", value="France"),
                countryiso3code="FRA", date="2020Q1", value=9.9),  # not yearly
        ]
    )
    out = run(
        world_bank_api.Transformer(country_mapping), raw, "world_bank_api", country_mapping
    )
    rows = {(r.country_code, r.year): r.value for r in out.collect()}
    assert rows == {("FRA", 2020): 67.0, ("DEU", 2021): 83.0}
    names = {r.indicator_name for r in out.collect()}
    assert names == {"Population [SP.POP]"}


def test_who_gho_api(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            # duplicate series key differing in source → deterministic keep
            ("Life expectancy", "FRA", 2020, "SEX", "SEX_FMLE", None, None,
             "DATASOURCE_B", 85.1),
            ("Life expectancy", "FRA", 2020, "SEX", "SEX_FMLE", None, None,
             "DATASOURCE_A", 85.3),
            ("Life expectancy", "DEU", 2020, "SEX", "SEX_TOTAL", "AGEGROUP",
             "AGEGROUP_YEARS15-24", "DATASOURCE_A", 80.9),
            ("Life expectancy", "ALB", 2020, None, None, None, None,
             "DATASOURCE_A", 78.0),
        ],
        ["indicator_name", "SpatialDim", "TimeDim", "Dim1Type", "Dim1",
         "Dim2Type", "Dim2", "DataSourceDim", "NumericValue"],
    )
    out = run(who_gho_api.Transformer(), raw, "who_gho_api", country_mapping)
    rows = {(r.country_code, r.dimension): (r.value, r.source) for r in out.collect()}
    # the source is part of the dimension (who_gho_api.py:166-168 adds
    # it "to avoid duplicates") so per-source rows stay distinct series
    assert rows == {
        ("FRA", "FMLE; A"): (85.3, "A"),
        ("FRA", "FMLE; B"): (85.1, "B"),
        # Total → "All sex"; value prefix "AGEGROUP_" stripped
        ("DEU", "All sex; YEARS15-24; A"): (80.9, "A"),
        # no dims at all → only the source pseudo-dimension
        ("ALB", "A"): (78.0, "A"),
    }


def test_unstats_sdg_api(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            Row(geoAreaCode="250", timePeriodStart="2019", value="12.5",
                seriesDescription="Poverty rate", series="SI_POV",
                attributes={"Units": "PERCENT"}, dimensions={"Sex": "FEMALE"}),
            Row(geoAreaCode="250", timePeriodStart="2020", value="NaN",
                seriesDescription="Poverty rate", series="SI_POV",
                attributes={"Units": "PERCENT"}, dimensions={"Sex": "TOTAL"}),
            Row(geoAreaCode="999", timePeriodStart="2019", value="1.0",
                seriesDescription="Poverty rate", series="SI_POV",
                attributes={"Units": "PERCENT"}, dimensions={}),
        ]
    )
    out = run(
        unstats_sdg_api.Transformer(country_mapping), raw, "unstats_sdg_api", country_mapping
    )
    rows = [(r.country_code, r.year, r.value, r.dimension, r.indicator_name)
            for r in out.collect()]
    assert rows == [
        ("FRA", 2019, 12.5, "FEMALE", "Poverty rate, PERCENT [SI_POV]")
    ]


def test_pipeline_end_to_end(spark, country_mapping, tmp_path):
    """retrieve → transform → year cut → versioned load, reading the
    loaded dataset back."""
    raw = spark.createDataFrame(
        [("France", "Milex [SIPRI_X]", 3.0, 4.0), ("Germany", "Milex [SIPRI_X]", 1.0, None)],
        ["Country", "indicator_name", "2004", "2019"],
    )
    pipe = Pipeline(
        retriever=sipri_milex.Retriever(),
        transformer=sipri_milex.Transformer(country_mapping),
        storage_root=str(tmp_path),
        countries=country_mapping,
    )
    result = pipe.run(spark, payload=raw)
    assert result.columns == CANON
    # 2004 row cut by settings.year_min
    assert {(r.country_code, r.year) for r in result.collect()} == {("FRA", 2019)}
    landed = str(next(tmp_path.glob("v*/sipri_milex.parquet")))
    loaded = spark.read.parquet(landed)
    assert loaded.count() == 1
    assert {r.provider for r in loaded.collect()} == {"sipri_milex"}
    # the result is the landed dataset, not the transform's lineage
    files = result.inputFiles()
    assert files and all(f.startswith(f"file://{landed}/") for f in files)
    assert sorted(result.collect()) == sorted(loaded.collect())


def test_retrievers_guarded(spark):
    from dfx_indicators_etl_spark.pipelines import (
        healthdata_ghdx,
        unaids_kpatlas,
        unstats_sdg_database,
    )

    # unaids_kpatlas reads a storage CSV like the reference
    # (unaids_kpatlas.py:18-48), so it joins the file-based set.
    file_based = {
        world_bank_wdi,
        healthdata_ghdx,
        unstats_sdg_database,
        unaids_kpatlas,
    }
    for module in SOURCES.values():
        if module in file_based:
            continue
        with pytest.raises(NotImplementedError):
            module.Retriever()(spark)


def test_validate_split(spark):
    df = spark.createDataFrame(
        [
            ("events", "ind one", "FRA", 2020, "Total", 1.0, None),
            ("events", "ind one", "fr", 2020, "Total", 1.0, None),  # bad code
            ("events", "ind one", "DEU", 1800, "Total", 1.0, None),  # bad year
            ("events", "x", "DEU", 2020, "Total", None, None),  # short name + null value
            ("events", "ind one", None, 2020, "Total", 1.0, None),  # null code
        ],
        "provider string, indicator_name string, country_code string, "
        "year int, dimension string, value double, source string",
    )
    valid, quarantine = validation.validate_split(df)
    assert valid.count() == 1
    failures = sorted(
        ((r.country_code, tuple(sorted(r.failed_rules))) for r in quarantine.collect()),
        key=str,
    )
    assert failures == [
        ("DEU", ("indicator_name", "value")),
        ("DEU", ("year",)),
        ("fr", ("country_code",)),
        (None, ("country_code",)),
    ]
    assert quarantine.columns == df.columns + ["failed_rules"]


def test_conform_adds_and_coerces(spark):
    df = spark.createDataFrame(
        [(" events ", "ind", "FRA", "2020", "Total", "1.5", "extra")],
        ["provider", "indicator_name", "country_code", "year", "dimension",
         "value", "junk_column"],
    )
    out = validation.conform(df)
    assert out.columns == CANON
    row = out.collect()[0]
    assert row.provider == "events" and row.year == 2020 and row.value == 1.5
    assert row.source is None
