"""Per-source transformer tests for the remaining seven reference
sources, on raw frames shaped like each source's payload."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dfx_indicators_etl_spark.pipelines import (
    energydata_info,
    healthdata_ghdx,
    ilo_sdmx_api,
    imf_datamapper_api,
    unaids_kpatlas,
    unicef_sdmx_api,
    unstats_sdg_database,
)

from .test_pipelines import CANON, run


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


def test_energydata_info(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            (0, "France", "Solar", "On-grid", 2019, 5.0),
            (1, None, None, "Off-grid", 2019, 2.0),   # merged cells → ffill
            (2, "Ruritania", "Wind", "On-grid", 2019, 1.0),  # unmappable
            (3, "Germany", "Wind", "On-grid", 2019, None),   # no value
            (4, "Germany", "Wind", "On-grid", 2019, 7.0),
            (5, "Germany", "Wind", "On-grid", 2019, 7.0),    # full duplicate
        ],
        ["_row_id", "c", "tech", "grid", "y", "v"],
    )
    out = run(
        energydata_info.Transformer(country_mapping), raw, "energydata_info",
        country_mapping,
    )
    assert out.columns == CANON
    rows = {(r.country_code, r.dimension, r.value) for r in out.collect()}
    # ffill fills every column (reference df.ffill()), value included:
    # row 1 inherits France/Solar, row 3's null value inherits row 2's 1.0,
    # and the full duplicate of row 4 collapses.
    assert rows == {
        ("FRA", "Solar; On-grid", 5.0),
        ("FRA", "Solar; Off-grid", 2.0),
        ("DEU", "Wind; On-grid", 1.0),
        ("DEU", "Wind; On-grid", 7.0),
    }


def test_healthdata_ghdx(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("France", "Deaths", "Rate", "Both sexes", "15-49 years",
             "All causes", 2020, 3.2),
            ("Narnia", "Deaths", "Rate", "Male", "All ages",
             "All causes", 2020, 1.0),  # unmappable name → NULL code → conform drops? no: M49 filter
        ],
        ["location_name", "measure_name", "metric_name", "sex_name",
         "age_name", "cause_name", "year", "val"],
    )
    out = run(
        healthdata_ghdx.Transformer(country_mapping), raw, "healthdata_ghdx",
        country_mapping,
    )
    rows = {(r.country_code): (r.indicator_name, r.dimension, r.value)
            for r in out.collect()}
    assert rows == {
        "FRA": ("Rate of Deaths", "Both; 15-49 years; All causes", 3.2),
    }


def test_imf_datamapper(spark, country_mapping):
    nested = spark.createDataFrame(
        [
            Row(indicator_name="NGDP_RPCH", country_code="FRA",
                values={"2019": "1.8", "2020": "-7.9"}),
            Row(indicator_name="NGDP_RPCH", country_code="XXX",
                values={"2019": "2.0"}),  # not in M49 dim
        ]
    )
    raw = imf_datamapper_api.Retriever()(spark, payload=nested)
    out = run(imf_datamapper_api.Transformer(), raw, "imf_datamapper_api", country_mapping)
    rows = {(r.country_code, r.year): r.value for r in out.collect()}
    assert rows == {("FRA", 2019): 1.8, ("FRA", 2020): -7.9}


def test_unaids_kpatlas(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("HIV prevalence", "FRA", 2020, 0.3, "Report", "Total", "pct"),
            ("HIV prevalence", "DEU", 2020, 0.2, "Report", "Total", "pct"),
            # second subgroup → indicator has 2 subgroups; non-Total dropped
            ("HIV prevalence", "FRA", 2020, 0.5, "Report", "Sex workers", "pct"),
            # Category subgroups removed up front
            ("Condom use", "FRA", 2020, 0.9, "Report", "Category A", "pct"),
            # single-subgroup indicator kept even when not Total
            ("ART coverage", "ALB", 2019, 0.7, "Report", "Adults", "pct"),
            # duplicated key → keep=False removes both
            ("Tests done", "FRA", 2020, 1.0, "Report", "Total", "n"),
            ("Tests done", "FRA", 2020, 2.0, "Report", "Total", "n"),
        ],
        ["Indicator", "Area ID", "Time Period", "Data value", "Source",
         "Subgroup", "Unit"],
    )
    out = run(unaids_kpatlas.Transformer(), raw, "unaids_kpatlas", country_mapping)
    rows = {(r.indicator_name, r.country_code): r.value for r in out.collect()}
    assert rows == {
        ("HIV prevalence, pct", "FRA"): 0.3,
        ("HIV prevalence, pct", "DEU"): 0.2,
        ("ART coverage, pct", "ALB"): 0.7,
    }


def test_ilo_sdmx(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("A", "FRA", "Employment [EMP]", "SEX_F", "AGE_AGGREGATE_Y25-54",
             "2020", 12.5, "S1", "NB"),
            ("M", "FRA", "Employment [EMP]", "SEX_F", "AGE_AGGREGATE_Y25-54",
             "2020", 1.0, "S1", "NB"),  # monthly dropped
            ("A", "DEU", "Employment [EMP]", "SEX_M", "AGE_5YRBANDS_Y25-29",
             "2020", 3.0, "S1", "NB"),  # non-aggregate band dropped
        ],
        ["FREQ", "REF_AREA", "indicator_name", "SEX", "AGE", "TIME_PERIOD",
         "OBS_VALUE", "SOURCE", "UNIT_MEASURE_TYPE"],
    )
    codelists = {
        "SEX": {"SEX_F": "Female", "SEX_M": "Male"},
        "AGE": {"AGE_AGGREGATE_Y25-54": "25-54"},
        "UNIT_MEASURE": {"NB": "Number"},
    }
    out = run(
        ilo_sdmx_api.Transformer(codelists), raw, "ilo_sdmx_api", country_mapping
    )
    rows = [(r.country_code, r.dimension, r.value) for r in out.collect()]
    assert rows == [("FRA", "Female; 25-54", 12.5)]


def test_unicef_sdmx(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("FRA", "Immunization", "percent", "IMM", "Female", "Under 5",
             "2020", "<95", "Admin", None),
            ("DEU", "Immunization", "percent", "IMM", "Total", "Under 5",
             "2020-Q3", "90", "Admin", None),  # not yearly
            ("ALB", "Immunization", "percent", "IMM", "Male", "Under 5",
             "2019", "n/a", None, "http://x"),  # coerce fails → dropped
        ],
        ["REF_AREA", "Indicator", "Unit of measure", "INDICATOR", "Sex",
         "Current age", "TIME_PERIOD", "OBS_VALUE", "DATA_SOURCE", "SOURCE_LINK"],
    )
    out = run(unicef_sdmx_api.Transformer(), raw, "unicef_sdmx_api", country_mapping)
    rows = [(r.country_code, r.year, r.value, r.dimension, r.indicator_name)
            for r in out.collect()]
    assert rows == [
        ("FRA", 2020, 95.0, "Female; Under 5", "Immunization, percent [IMM]")
    ]


def test_unstats_sdg_database(spark, country_mapping):
    raw = spark.createDataFrame(
        [
            ("1", "1.1", "1.1.1", "SI_POV_DAY1", "Poverty headcount", 250,
             "France", 2019, "<2.5", "WB", "PERCENT", "Female", "ALLAGE"),
            ("1", "1.2", "1.1.1", "SI_POV_DAY1", "Poverty headcount", 250,
             "France", 2019, "<2.5", "WB", "PERCENT", "Female", "ALLAGE"),  # dup Goal
            ("1", "1.1", "1.1.1", "SI_POV_DAY1", "Poverty headcount", 999,
             "World", 2019, "9.4", "WB", "PERCENT", "Total", "ALLAGE"),  # no ISO3
        ],
        ["Goal", "Target", "Indicator", "SeriesCode", "SeriesDescription",
         "GeoAreaCode", "GeoAreaName", "TimePeriod", "Value", "Source",
         "Units", "Sex", "Age"],
    )
    out = run(
        unstats_sdg_database.Transformer(country_mapping), raw,
        "unstats_sdg_database", country_mapping,
    )
    rows = [(r.country_code, r.year, r.value, r.dimension, r.indicator_name)
            for r in out.collect()]
    # Goal/Target dropped → the two FRA rows collapse to one
    assert rows == [
        ("FRA", 2019, 2.5, "Female; ALLAGE",
         "Poverty headcount [SI_POV_DAY1]")
    ]


def test_pipeline_settings_from_env(monkeypatch):
    from dfx_indicators_etl_spark.pipelines.base import PipelineSettings

    assert PipelineSettings.from_env() == PipelineSettings()
    monkeypatch.setenv("PIPELINE_YEAR_MIN", "1990")
    got = PipelineSettings.from_env()
    assert got.year_min == 1990 and got.year_max == 2030


def test_union_all_balanced_tree(spark):
    """union_all keeps plan depth logarithmic and fills missing columns
    with nulls like the reference's pd.concat."""
    from pyspark.sql import functions as F

    from dfx_indicators_etl_spark.pipelines import union_all

    frames = [
        spark.createDataFrame([(i,)], "a int").withColumn(
            "b" if i % 2 else "c", F.lit(i)
        )
        for i in range(33)
    ]
    out = union_all(frames)
    assert out.count() == 33
    assert set(out.columns) == {"a", "b", "c"}
    # depth ~ log2(33) unions, not 32: the plan string stays shallow
    plan = out._jdf.queryExecution().logical().toString()
    max_indent = max(
        (len(l) - len(l.lstrip())) for l in plan.splitlines() if l.strip()
    )
    assert max_indent < 33  # a left-deep chain would indent ~32 levels

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no frames"):
        union_all([])
