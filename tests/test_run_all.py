"""The reference's etl.ipynb orchestration over ALL 12 sources:
``run_all`` drives retrieve → transform (+M49 filter, year cut) →
versioned load per pipeline, each on a raw payload shaped like its
source. Asserts every source lands a canonical-schema versioned
dataset, then rebuilds the star schema over the union and checks the
observation view reconstructs the loaded relation losslessly (the
12-source analogue of ind_pipeline_e2e)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dfx_indicators_etl_spark import validation
from dfx_indicators_etl_spark.pipelines import (
    PipelineSettings,
    get_pipeline,
    imf_datamapper_api,
    list_pipelines,
    run_all,
    who_gho_api,
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


def _all_inputs(spark, tmp, country_mapping):
    """Retriever kwargs per source: pre-staged payload frames for the
    API sources, staged CSV files for the bulk-download sources."""
    wdi_csv = tmp / "wdi.csv"
    wdi_csv.write_text(
        "Country Name,Country Code,Indicator Name,Indicator Code,2015,2016\n"
        "France,FRA,GDP,NY.GDP,2.0,3.0\n"
    )
    ghdx_csv = tmp / "ghdx.csv"
    ghdx_csv.write_text(
        "location_name,measure_name,metric_name,sex_name,age_name,"
        "cause_name,year,val\n"
        "France,Deaths,Rate,Both sexes,15-49 years,All causes,2020,3.2\n"
    )
    sdgdb_csv = tmp / "sdgdb.csv"
    sdgdb_csv.write_text(
        "Goal,Target,Indicator,SeriesCode,SeriesDescription,GeoAreaCode,"
        "GeoAreaName,TimePeriod,Value,Source,Units,Sex,Age\n"
        "1,1.1,1.1.1,SI_POV_DAY1,Poverty headcount,250,France,2019,2.5,"
        "WB,PERCENT,Female,ALLAGE\n"
    )
    return {
        "sipri_milex": {
            "payload": spark.createDataFrame(
                [("France", "Milex [SIPRI_X]", 7.0)],
                ["Country", "indicator_name", "2020"],
            )
        },
        "world_bank_wdi": {"path": str(wdi_csv)},
        "world_bank_api": {
            "payload": spark.createDataFrame(
                [
                    Row(
                        indicator=Row(id="SP.POP", value="Population"),
                        country=Row(id="FR", value="France"),
                        countryiso3code="FRA",
                        date="2020",
                        value=67.0,
                    )
                ]
            )
        },
        "who_gho_api": {
            "payload": spark.createDataFrame(
                [
                    ("Life expectancy", "FRA", 2020, "SEX", "SEX_FMLE",
                     None, None, None, None, "DATASOURCE_A", 85.3)
                ],
                # the retriever's explicit raw schema (all 3 dim slots)
                who_gho_api.RAW_SCHEMA,
            )
        },
        "unstats_sdg_api": {
            "payload": spark.createDataFrame(
                [
                    Row(geoAreaCode="250", timePeriodStart="2019",
                        value="12.5", seriesDescription="Poverty rate",
                        series="SI_POV", attributes={"Units": "PERCENT"},
                        dimensions={"Sex": "FEMALE"})
                ]
            )
        },
        "unstats_sdg_database": {"path": str(sdgdb_csv)},
        "unicef_sdmx_api": {
            "payload": spark.createDataFrame(
                [
                    ("FRA", "Immunization", "percent", "IMM", "Female",
                     "Under 5", "2020", "<95", "Admin", None)
                ],
                "`REF_AREA` string, `Indicator` string, "
                "`Unit of measure` string, `INDICATOR` string, `Sex` string, "
                "`Current age` string, `TIME_PERIOD` string, "
                "`OBS_VALUE` string, `DATA_SOURCE` string, "
                "`SOURCE_LINK` string",
            )
        },
        "ilo_sdmx_api": {
            "payload": spark.createDataFrame(
                [
                    ("A", "FRA", "Employment [EMP]", "SEX_F",
                     "AGE_AGGREGATE_Y25-54", "2020", 12.5, "S1", "NB")
                ],
                ["FREQ", "REF_AREA", "indicator_name", "SEX", "AGE",
                 "TIME_PERIOD", "OBS_VALUE", "SOURCE", "UNIT_MEASURE_TYPE"],
            )
        },
        "imf_datamapper_api": {
            "payload": spark.createDataFrame(
                [
                    Row(indicator_name="Real GDP growth [NGDP_RPCH]",
                        country_code="FRA",
                        values={"2019": "1.8", "2020": "-7.9"})
                ]
            )
        },
        "unaids_kpatlas": {
            "payload": spark.createDataFrame(
                [
                    ("HIV prevalence", "FRA", 2020, 0.3, "Report",
                     "Total", "pct")
                ],
                ["Indicator", "Area ID", "Time Period", "Data value",
                 "Source", "Subgroup", "Unit"],
            )
        },
        "healthdata_ghdx": {"path": str(ghdx_csv)},
        "energydata_info": {
            "payload": spark.createDataFrame(
                [(0, "France", "Solar", "On-grid", 2019, 5.0)],
                ["_row_id", "c", "tech", "grid", "y", "v"],
            )
        },
    }


def test_run_all_sweeps_every_source(spark, tmp_path, country_mapping):
    inputs = _all_inputs(spark, tmp_path, country_mapping)
    assert sorted(inputs) == list_pipelines()  # nothing skipped

    root = str(tmp_path / "store")
    results = run_all(
        spark,
        inputs,
        storage_root=root,
        country_mapping=country_mapping,
        countries=country_mapping,
        settings=PipelineSettings(year_min=2005, year_max=2030),
    )
    assert sorted(results) == list_pipelines()

    import glob

    for name, df in results.items():
        assert df.columns == CANON, name
        assert df.count() > 0, name
        landed = glob.glob(f"{root}/v*/{name}.parquet")
        assert len(landed) == 1, name
        assert all(
            f.startswith(f"file://{landed[0]}/") for f in df.inputFiles()
        ), name
        back = spark.read.parquet(landed[0])
        assert back.count() == df.count(), name
        assert {r["provider"] for r in back.select("provider").collect()} == {
            name
        }

    # Star build over the union of every landed source: the series fact
    # joined back through its dims must reconstruct the union losslessly
    # (the 12-source analogue of ind_pipeline_e2e's oracle equality).
    from functools import reduce

    from pyspark.sql import functions as F

    from dfx_indicators_etl_spark import database

    union = reduce(
        lambda a, b: a.unionByName(b), (df for df in results.values())
    )
    country = country_mapping.select(
        F.col("m49").cast("int").alias("id"),
        F.substring("iso_alpha_3", 1, 2).alias("iso_2"),
        F.col("iso_alpha_3").alias("iso_3"),
        "name",
    )
    star = database.build_star_schema(union, country)
    series, ind_d, dim_d = star["series"], star["indicator"], star["dimension"]
    recon = (
        series.join(
            F.broadcast(country.select(F.col("id").alias("country_id"), "iso_3")),
            "country_id",
        )
        .join(
            F.broadcast(
                ind_d.select(F.col("id").alias("indicator_id"), "name", "provider")
            ),
            "indicator_id",
        )
        .join(
            F.broadcast(
                dim_d.select(
                    F.col("id").alias("dimension_id"),
                    F.col("name").alias("dimension"),
                )
            ),
            "dimension_id",
        )
        .select(
            "provider",
            F.col("name").alias("indicator_name"),
            F.col("iso_3").alias("country_code"),
            F.col("year").cast("int").alias("year"),
            "dimension",
            F.col("value").cast("double").alias("value"),
        )
    )
    cols = ["provider", "indicator_name", "country_code", "year",
            "dimension", "value"]
    expected = union.select(*cols)
    assert recon.count() == expected.count()
    assert recon.exceptAll(expected).count() == 0
    assert expected.exceptAll(recon).count() == 0


def test_get_pipeline_unknown_name_raises():
    with pytest.raises(ValueError, match="does not exist"):
        get_pipeline("narnia_stats")


def test_get_pipeline_wires_country_mapping(spark, country_mapping):
    p = get_pipeline("sipri_milex", country_mapping=country_mapping)
    assert p.transformer.country_mapping is country_mapping
    # identity-transformer sources take no mapping
    p2 = get_pipeline("imf_datamapper_api")
    assert isinstance(p2.transformer, imf_datamapper_api.Transformer)


def _two_sources(spark, tmp):
    inputs = _all_inputs(spark, tmp, None)
    return {n: inputs[n] for n in ("sipri_milex", "imf_datamapper_api")}


def test_run_all_raises_a_failing_source(spark, tmp_path, country_mapping, monkeypatch):
    def boom(self, spark, **kwargs):
        raise RuntimeError("imf retriever down")

    monkeypatch.setattr(imf_datamapper_api.Retriever, "__call__", boom)
    root = tmp_path / "store"
    with pytest.raises(RuntimeError, match="imf retriever down"):
        run_all(
            spark,
            _two_sources(spark, tmp_path),
            storage_root=str(root),
            country_mapping=country_mapping,
            countries=country_mapping,
        )
    # the other source still landed; the failing one did not
    assert len(list(root.glob("v*/sipri_milex.parquet"))) == 1
    assert not list(root.glob("v*/imf_datamapper_api.parquet"))


def _jobs_in(sc, group: str) -> list[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_run_all_jobs_run_under_the_callers_job_group(spark, tmp_path, country_mapping):
    """Every job between two marker jobs belongs to the caller's group,
    including the jobs of the worker threads."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("run-all-before", "marker")
        spark.range(1).count()
        sc.setJobGroup("run-all-caller", "run_all")
        run_all(
            spark,
            _two_sources(spark, tmp_path),
            storage_root=str(tmp_path / "store"),
            country_mapping=country_mapping,
            countries=country_mapping,
        )
        sc.setJobGroup("run-all-after", "marker")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    first = _jobs_in(sc, "run-all-before")[-1] + 1
    end = _jobs_in(sc, "run-all-after")[0]
    grouped = _jobs_in(sc, "run-all-caller")
    assert grouped and grouped == list(range(first, end))


def _leaves(df) -> list[str]:
    """Class names of the leaves of ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.length())]


def test_star_build_and_write_job_budget(spark, tmp_path):
    """Building the star from a landed frame and writing its four
    tables stays within 7 Spark jobs: one aggregation for both dims,
    one collect of the country dim, one job per small-table write and
    the series write; the fact looks its ids up in the plan, with no
    broadcast. Each small table lands as one file; M49 is a local
    relation, and the view over the written star is one projection
    over the series scan."""
    import os

    from dfx_indicators_etl_spark import database
    from dfx_indicators_etl_spark.sources import sinks
    from dfx_indicators_etl_spark.sources.m49 import load_m49, m49_country_dim

    rows = [
        (f"p{i % 3}", f"ind {i % 7}", code, 2000 + i % 20, ("Total", "Female")[i % 2],
         float(i), None)
        for i, code in enumerate(["FRA", "DEU", "ALB", "USA"] * 50)
    ]
    obs = spark.createDataFrame(rows, validation.DATA_SCHEMA)
    path = sinks.write_dataset(obs, str(tmp_path), "obs", version="v00-01-01")
    landed = spark.read.schema(validation.DATA_SCHEMA).parquet(path)
    m49 = load_m49(spark)
    assert _leaves(m49) == ["LocalRelation"]
    country = m49_country_dim(m49)

    sc = spark.sparkContext
    root = str(tmp_path / "star")
    try:
        sc.setJobGroup("star-build-write", "build and write the star")
        star = database.build_star_schema(landed, country)
        for name, table in star.items():
            sinks.write_dataset(table, root, name, folder="star", version="v00-01-01")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(_jobs_in(sc, "star-build-write")) <= 7

    for name in ("country", "indicator", "dimension"):
        files = os.listdir(f"{root}/v00-01-01/star/{name}.parquet")
        parts = [f for f in files if f.startswith("part-")]
        assert len(parts) == 1, (name, parts)

    written = {
        name: spark.read.parquet(f"{root}/v00-01-01/star/{name}.parquet")
        for name in star
    }
    view = database.observation_view(written)
    assert _leaves(view) == ["LogicalRelation"]
    assert view.count() == len(rows)


def test_observation_view_query_job_budget(spark, tmp_path):
    """Over a written star, a point query on the view runs one Spark
    job and a ``groupBy("year")`` scan at most two: the view holds its
    dims as literals in the plan, so no query broadcasts them."""
    from pyspark.sql import functions as F

    from dfx_indicators_etl_spark import database
    from dfx_indicators_etl_spark.sources import sinks

    rows = [
        (f"p{i % 3}", f"ind {i % 7}", code, 2000 + i % 20, ("Total", "Female")[i % 2],
         float(i), None)
        for i, code in enumerate(["FRA", "DEU", "ALB", "USA"] * 50)
    ]
    obs = spark.createDataFrame(rows, validation.DATA_SCHEMA)
    country = spark.createDataFrame(
        [(8, "AL", "ALB", "Albania"), (250, "FR", "FRA", "France"),
         (276, "DE", "DEU", "Germany"), (840, "US", "USA", "United States")],
        "id int, iso_2 string, iso_3 string, name string",
    )
    root = str(tmp_path / "star")
    for name, table in database.build_star_schema(obs, country).items():
        sinks.write_dataset(table, root, name, folder="star", version="v00-01-01")
    view = database.observation_view(
        {
            name: spark.read.parquet(f"{root}/v00-01-01/star/{name}.parquet")
            for name in ("country", "indicator", "dimension", "series")
        }
    )

    def jobs(group, query):
        sc = spark.sparkContext
        try:
            sc.setJobGroup(group, group)
            result = query()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(_jobs_in(sc, group)), result

    n, point = jobs(
        "view-point",
        lambda: view.filter(
            (F.col("country_code_3") == "FRA") & F.col("year").between(2004, 2008)
        )
        .select("indicator_name", "dimension_name", "year", "value")
        .collect(),
    )
    assert n == 1
    assert len(point) == sum(r[2] == "FRA" and 2004 <= r[3] <= 2008 for r in rows)
    n, scan = jobs(
        "view-scan",
        lambda: view.filter(F.col("indicator_name") == "ind 3")
        .groupBy("year")
        .agg(F.count("value").alias("n"))
        .collect(),
    )
    assert n <= 2
    assert sum(r["n"] for r in scan) == sum(r[1] == "ind 3" for r in rows)
