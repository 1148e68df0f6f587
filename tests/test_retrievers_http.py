"""Retrieval-path tests for the six sources whose reference retrievers
were previously stub-guarded: UNICEF + ILO (SDMX-CSV modality), UN
Stats SDG (paged JSON), IMF DataMapper (nested JSON), UNAIDS (storage
CSV), energydata.info (xlsx-over-URL).

Offline legs mock ``fetch_json`` / ``fetch_bytes`` / ``fetch_text``
with reference-shaped payloads and assert the full retrieve→transform
chain; live legs run only under ``SPARK_GRAFT_LIVE_HTTP=1`` with httpx
importable (no network in the harness).
"""

from __future__ import annotations

import os

import pytest

from dfx_indicators_etl_spark.pipelines import (
    base,
    energydata_info,
    ilo_sdmx_api,
    imf_datamapper_api,
    unaids_kpatlas,
    unicef_sdmx_api,
    unstats_sdg_api,
)


@pytest.fixture()
def country_mapping(spark):
    return spark.createDataFrame(
        [("France", 250, "FRA"), ("United States", 840, "USA")],
        "name string, m49 int, iso_alpha_3 string",
    )


# --- UNICEF SDMX-CSV ----------------------------------------------------

UNICEF_DATAFLOW = {
    "structure": {
        "dimensions": {
            "observation": [
                {"id": "REF_AREA", "values": []},
                {
                    "id": "INDICATOR",
                    "values": [
                        {"id": "DM_POP_TOT", "name": "Population", "inDataset": True},
                        {"id": "DM_GONE", "name": "Retired", "inDataset": False},
                        {"id": "CME_MRY0T4", "name": "Under-5 mortality", "inDataset": True},
                    ],
                },
                {"id": "SEX", "values": []},
                {"id": "AGE", "values": []},
            ]
        }
    }
}

UNICEF_CSV = (
    b"REF_AREA,Geographic area,INDICATOR,Indicator,Sex,Current age,"
    b"TIME_PERIOD,OBS_VALUE,Unit of measure,DATA_SOURCE,SOURCE_LINK\n"
    b'FRA,France,DM_POP_TOT,"Population, total",Female,Total,'
    b"2020,<95,Persons,Census,https://x\n"
    b'FRA,France,DM_POP_TOT,"Population, total",Male,Total,'
    b"2020-Q3,12,Persons,Census,https://x\n"
    b'USA,United States,DM_POP_TOT,"Population, total",Total,Total,'
    b"2021,not-a-number,Persons,,https://y\n"
)


def _unicef_retriever(monkeypatch, calls):
    r = unicef_sdmx_api.Retriever()

    def fake_json(url, params=None):
        assert "data/UNICEF,GLOBAL_DATAFLOW,1.0" in url
        assert params["format"] == "fusion-json"
        return UNICEF_DATAFLOW

    def fake_bytes(url, params=None):
        calls.append((url, params))
        return UNICEF_CSV

    monkeypatch.setattr(r, "fetch_json", fake_json)
    monkeypatch.setattr(r, "fetch_bytes", fake_bytes)
    return r


def test_unicef_query_options_assembly():
    fields = ["ref_area", "indicator", "sex", "age"]
    opts = unicef_sdmx_api.Retriever._set_query_options(
        fields, indicator="DM_POP_TOT", time_period=["2020", "2021"]
    )
    # one dot-slot per dimension in key order, empty where unpinned
    assert opts == ".DM_POP_TOT.."
    assert unicef_sdmx_api.Retriever._set_query_options(fields) == "all"


def test_unicef_retriever_drains_indicator_loop(spark, monkeypatch):
    calls: list = []
    r = _unicef_retriever(monkeypatch, calls)
    raw = r(spark)
    # one CSV GET per inDataset indicator (DM_GONE skipped)
    assert len(calls) == 2
    assert all(p == {"format": "csv", "labels": "both"} for _, p in calls)
    assert calls[0][0].endswith("/.DM_POP_TOT..")
    assert calls[1][0].endswith("/.CME_MRY0T4..")
    assert raw.count() == 6  # 3 CSV rows × 2 indicators

    out = unicef_sdmx_api.Transformer().transform(raw)
    rows = {(x["country_code"], x["value"]) for x in out.collect()}
    # "<95" strips its bound marker; non-yearly + non-numeric rows drop
    assert rows == {("FRA", 95.0)}
    one = out.collect()[0]
    assert one["indicator_name"] == "Population, total, Persons [DM_POP_TOT]"
    assert one["source"] == "Census"


def test_unicef_metadata_respects_indataset(spark, monkeypatch):
    r = _unicef_retriever(monkeypatch, [])
    meta = r.get_metadata(spark)
    assert {x["code"] for x in meta.collect()} == {"DM_POP_TOT", "CME_MRY0T4"}


# --- ILO SDMX-CSV -------------------------------------------------------

ILO_CODELIST_XML = """<?xml version="1.0" encoding="UTF-8"?>
<message:Structure xmlns:message="http://www.sdmx.org/resources/sdmxml/schemas/v2_1/message"
  xmlns:structure="http://www.sdmx.org/resources/sdmxml/schemas/v2_1/structure"
  xmlns:common="http://www.sdmx.org/resources/sdmxml/schemas/v2_1/common">
  <message:Structures><structure:Codelists>
    <structure:Codelist id="CL_{name}">
      {codes}
    </structure:Codelist>
  </structure:Codelists></message:Structures>
</message:Structure>"""

ILO_CODE = (
    '<structure:Code id="{id}">'
    '<common:Name xml:lang="en">{label}</common:Name>'
    "</structure:Code>"
)

ILO_CODELISTS = {
    "INDICATOR": {
        "SDG_0852_SEX_AGE_RT": "Unemployment rate by sex and age",
        "EMP_TEMP_NOC_NB": "Employment by classification",
        "POP_XWAP_SEX_EDU_NB": "Working-age population by sex and education",
    },
    "SEX": {"SEX_F": "Female", "SEX_M": "Male", "SEX_T": "Total"},
    "AGE": {"AGE_AGGREGATE_Y25-54": "25-54", "AGE_AGGREGATE_TOTAL": "Total"},
    "GEO": {},
    "EDU": {},
    "NOC": {},
    "UNIT_MEASURE": {"NB": "Number"},
}

ILO_CSV = (
    b"REF_AREA,FREQ,SEX,AGE,TIME_PERIOD,OBS_VALUE,OBS_STATUS,"
    b"UNIT_MEASURE_TYPE,SOURCE\n"
    b"FRA,A,SEX_F,AGE_AGGREGATE_Y25-54,2020,7.5,A,NB,LFS\n"
    b"FRA,M,SEX_F,AGE_AGGREGATE_Y25-54,2020-06,7.6,A,NB,LFS\n"
    b"FRA,A,SEX_M,AGE_5YRBANDS_Y25-29,2020,6.1,A,NB,LFS\n"
)


def _ilo_retriever(monkeypatch, calls):
    r = ilo_sdmx_api.Retriever()

    def fake_text(url, params=None):
        name = url.rsplit("CL_", 1)[1]
        codes = "".join(
            ILO_CODE.format(id=k, label=v)
            for k, v in ILO_CODELISTS[name].items()
        )
        return ILO_CODELIST_XML.replace("{name}", name).replace("{codes}", codes)

    def fake_bytes(url, params=None):
        calls.append((url, params))
        return ILO_CSV

    monkeypatch.setattr(r, "fetch_text", fake_text)
    monkeypatch.setattr(r, "fetch_bytes", fake_bytes)
    return r


def test_ilo_disaggregation_mask():
    ok = ilo_sdmx_api.Retriever._supported_disaggregation
    assert ok("SDG_0852_SEX_AGE_RT")  # SEX, AGE ⊆ mask
    assert ok("EMP_TEMP_NOC_NB")  # NOC is in the reference mask set
    assert ok("POP_XWAP_SEX_EDU_NB")
    assert not ok("EMP_TEMP_SEX_MIG_NB")  # MIG is not


def test_ilo_codelist_xml_parses(monkeypatch):
    r = _ilo_retriever(monkeypatch, [])
    mapping = r._get_codelist_mapping("SEX")
    assert mapping == ILO_CODELISTS["SEX"]


def test_ilo_retriever_stamps_indicator_and_decodes(spark, monkeypatch):
    calls: list = []
    r = _ilo_retriever(monkeypatch, calls)
    raw = r(spark)
    # all 3 indicators pass the mask (NOC included) → 3 data GETs
    assert len(calls) == 3
    assert "data/ILO,SDG_0852_SEX_AGE_RT/" in calls[0][0]
    assert calls[0][1]["format"] == "csvfile"
    names = {x["indicator_name"] for x in raw.select("indicator_name").collect()}
    assert names == {
        "Unemployment rate by sex and age [SDG_0852_SEX_AGE_RT]",
        "Employment by classification [EMP_TEMP_NOC_NB]",
        "Working-age population by sex and education [POP_XWAP_SEX_EDU_NB]",
    }

    out = ilo_sdmx_api.Transformer(r.fetch_codelists()).transform(raw)
    rows = out.collect()
    # annual + AGGREGATE-band rows only; codes decoded to labels
    assert {x["dimension_sex"] for x in rows} == {"Female"}
    assert {x["dimension_age"] for x in rows} == {"25-54"}
    assert {x["unit"] for x in rows} == {"Number"}
    assert {x["value"] for x in rows} == {7.5}


# --- UN Stats SDG paged JSON -------------------------------------------

def _sdg_fetch(n_pages, rows_per_page):
    def fetch(url, params=None):
        if url.endswith("series/list"):
            return [
                {"code": "SI_POV_DAY1", "description": "Poverty rate"},
            ]
        page = params["page"]
        rows = [
            {
                "series": params["seriesCode"],
                "seriesDescription": "Poverty rate",
                "geoAreaCode": 250,
                "timePeriodStart": 2000 + (page - 1) * rows_per_page + i,
                "value": "1.5",
                "attributes": {"Units": "PERCENT"},
                "dimensions": {"Sex": "FEMALE"},
            }
            for i in range(rows_per_page)
        ]
        return {"totalPages": n_pages, "data": rows}

    return fetch


def test_unstats_sdg_retriever_pages(spark, monkeypatch):
    r = unstats_sdg_api.Retriever()
    monkeypatch.setattr(r, "fetch_json", _sdg_fetch(3, 4))
    raw = r(spark)
    assert raw.count() == 12
    assert dict(raw.dtypes)["dimensions"] == "map<string,string>"


def test_unstats_sdg_retriever_bounds_pages(spark, monkeypatch):
    r = unstats_sdg_api.Retriever()
    monkeypatch.setattr(r, "fetch_json", _sdg_fetch(1000, 2))
    raw = r(spark, max_pages=5)
    assert raw.count() == 10


def test_unstats_sdg_mocked_flow_through_transformer(spark, monkeypatch, country_mapping):
    r = unstats_sdg_api.Retriever()
    monkeypatch.setattr(r, "fetch_json", _sdg_fetch(1, 2))
    out = unstats_sdg_api.Transformer(country_mapping).transform(r(spark))
    rows = out.collect()
    assert {x["country_code"] for x in rows} == {"FRA"}
    assert rows[0]["indicator_name"] == "Poverty rate, PERCENT [SI_POV_DAY1]"
    assert rows[0]["dimension"] == "FEMALE"


# --- IMF DataMapper JSON ------------------------------------------------

def _imf_fetch(url, params=None):
    if url.endswith("indicators"):
        return {
            "indicators": {
                "NGDP_RPCH": {"label": "Real GDP growth", "unit": "Annual percent change"},
                "": {"label": "bogus"},  # dropped like the reference
            }
        }
    assert url.endswith("NGDP_RPCH")
    assert "periods" in params
    return {
        "values": {
            "NGDP_RPCH": {
                "FRA": {"2020": -7.9, "2021": 6.8},
                "USA": {"2020": -2.2},
            }
        }
    }


def test_imf_retriever_flattens_nested_values(spark, monkeypatch):
    r = imf_datamapper_api.Retriever()
    monkeypatch.setattr(r, "fetch_json", _imf_fetch)
    raw = r(spark)
    rows = {(x["country_code"], x["year"], x["value"]) for x in raw.collect()}
    assert rows == {("FRA", 2020, -7.9), ("FRA", 2021, 6.8), ("USA", 2020, -2.2)}
    name = raw.select("indicator_name").first()[0]
    assert name == "Real GDP growth, Annual percent change [NGDP_RPCH]"


def test_imf_metadata_drops_empty_series_id(spark, monkeypatch):
    r = imf_datamapper_api.Retriever()
    monkeypatch.setattr(r, "fetch_json", _imf_fetch)
    assert [x["code"] for x in r.get_metadata(spark).collect()] == ["NGDP_RPCH"]


# --- UNAIDS storage CSV -------------------------------------------------

def test_unaids_retriever_reads_storage_csv(spark, tmp_path, monkeypatch):
    csv = tmp_path / "inputs" / "KPAtlasDB_2025_en.csv"
    csv.parent.mkdir()
    csv.write_text(
        "Indicator,Unit,Subgroup,Area ID,Time Period,Data value,Source\n"
        "HIV prevalence,Percent,Total,FRA,2021,0.3,UNAIDS\n"
        "HIV prevalence,Percent,Category X,FRA,2021,0.4,UNAIDS\n"
    )
    monkeypatch.setenv("LOCAL_STORAGE_PATH", str(tmp_path))
    raw = unaids_kpatlas.Retriever()(spark)
    assert raw.count() == 2
    out = unaids_kpatlas.Transformer().transform(raw)
    rows = out.collect()
    assert len(rows) == 1  # Category subgroup dropped
    assert rows[0]["indicator_name"] == "HIV prevalence, Percent"


# --- energydata.info xlsx-over-URL -------------------------------------

def _eleccap_workbook_bytes(tmp_path):
    from dfx_indicators_etl_spark.sources.xlsx import write_xlsx

    path = tmp_path / "eleccap.xlsx"
    write_xlsx(
        str(path),
        {
            "Sheet1": [
                ["Installed electricity capacity", None, None, None, None],
                ["Country", "Technology", "Grid connection", "Year", "Value"],
                ["France", "Solar", "On-grid", 2020, 12.5],
                [None, None, None, 2021, ".."],
                [None, "Wind", None, 2020, 7.0],
            ]
        },
    )
    return path.read_bytes()


def test_energydata_retriever_parses_workbook_bytes(spark, tmp_path, monkeypatch, country_mapping):
    r = energydata_info.Retriever()
    payload = _eleccap_workbook_bytes(tmp_path)
    monkeypatch.setattr(r, "fetch_bytes", lambda url, params=None: payload)
    raw = r(spark)
    assert raw.columns[0] == "_row_id"
    assert raw.count() == 3  # data rows below header=1

    out = energydata_info.Transformer(country_mapping).transform(raw)
    rows = {
        (x["country_code"], x["dimension_energy_technology"], x["year"], x["value"])
        for x in out.collect()
    }
    # merged-cell ffill runs over EVERY column (reference
    # energydata_info.py:74 `df.ffill()`), so the ".."-null value on the
    # 2021 row inherits 12.5 rather than dropping
    assert rows == {
        ("FRA", "Solar", 2020, 12.5),
        ("FRA", "Solar", 2021, 12.5),
        ("FRA", "Wind", 2020, 7.0),
    }


# --- fetch_csv plumbing -------------------------------------------------

def test_fetch_csv_stages_bytes_for_spark(spark, monkeypatch):
    r = unicef_sdmx_api.Retriever()
    monkeypatch.setattr(
        r, "fetch_bytes", lambda url, params=None: b"a,b\n1,x\n2,y\n"
    )
    df = r.fetch_csv(spark, "https://example/data.csv")
    assert [(x["a"], x["b"]) for x in df.orderBy("a").collect()] == [
        ("1", "x"),
        ("2", "y"),
    ]


def test_fetch_csv_http_error_returns_none(spark, monkeypatch, capsys, caplog):
    r = unicef_sdmx_api.Retriever()

    def boom(url, params=None):
        raise RuntimeError("HTTP 404")

    monkeypatch.setattr(r, "fetch_bytes", boom)
    url = "https://example/missing.csv"
    with caplog.at_level("WARNING", logger=base.__name__):
        assert r.fetch_csv(spark, url) is None
    # the failure is recorded and logged, not printed
    assert r.failed_fetches == [url]
    assert any(url in rec.getMessage() and "HTTP 404" in rec.getMessage() for rec in caplog.records)
    assert capsys.readouterr().out == ""
    assert unicef_sdmx_api.Retriever().failed_fetches == []


def test_fetch_csv_without_httpx_raises_not_implemented(spark):
    if base.httpx is not None:
        pytest.skip("httpx present; guard not reachable")
    r = unicef_sdmx_api.Retriever()
    with pytest.raises(NotImplementedError):
        r.fetch_csv(spark, "https://example/data.csv")


# --- live legs (opt-in) -------------------------------------------------

live = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_LIVE_HTTP") != "1" or base.httpx is None,
    reason="live HTTP is opt-in: SPARK_GRAFT_LIVE_HTTP=1 with httpx + network",
)


@live
def test_unicef_live_one_indicator(spark):
    raw = unicef_sdmx_api.Retriever()(spark, max_indicators=1)
    assert raw.count() > 0
    assert "OBS_VALUE" in raw.columns


@live
def test_ilo_live_one_indicator(spark):
    raw = ilo_sdmx_api.Retriever()(spark, max_indicators=1)
    assert raw.count() > 0
    assert "indicator_name" in raw.columns


@live
def test_unstats_live_one_series(spark):
    raw = unstats_sdg_api.Retriever()(spark, max_series=1, max_pages=2)
    assert raw.count() > 0


@live
def test_imf_live_one_indicator(spark):
    raw = imf_datamapper_api.Retriever()(spark, max_indicators=1)
    assert raw.count() > 0


@live
def test_energydata_live_workbook(spark):
    raw = energydata_info.Retriever()(spark)
    assert raw.count() > 0


def test_ilo_metadata_frame(spark, monkeypatch):
    r = _ilo_retriever(monkeypatch, [])
    meta = {x["code"]: x["name"] for x in r.get_metadata(spark).collect()}
    assert meta == ILO_CODELISTS["INDICATOR"]


def test_fetch_csv_honors_staging_dir_env(spark, tmp_path, monkeypatch):
    """On a cluster the staging root must be an executor-visible URI;
    SPARK_GRAFT_STAGING_DIR routes the Hadoop-FS staging write there."""
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    r = unicef_sdmx_api.Retriever()
    monkeypatch.setattr(r, "fetch_bytes", lambda url, params=None: b"a,b\n1,x\n")
    df = r.fetch_csv(spark, "https://example/data.csv")
    assert [(x["a"], x["b"]) for x in df.collect()] == [("1", "x")]
    staged = list(tmp_path.glob("dfx_fetch_*/*.csv"))
    assert len(staged) == 1


def test_retriever_metadata_conforms_to_metadata_schema(spark, monkeypatch):
    """The reference validates every get_metadata through
    MetadataSchema (@pa.check_output, _base.py:117-129); the Spark
    twins must conform the same way: canonical (code, name, unit)
    columns, stripped, unique."""
    from dfx_indicators_etl_spark import validation

    frames = []
    r_unicef = _unicef_retriever(monkeypatch, [])
    frames.append(r_unicef.get_metadata(spark))
    r_ilo = _ilo_retriever(monkeypatch, [])
    frames.append(r_ilo.get_metadata(spark))
    r_sdg = unstats_sdg_api.Retriever()
    monkeypatch.setattr(r_sdg, "fetch_json", _sdg_fetch(1, 1))
    frames.append(r_sdg.get_metadata(spark))
    r_imf = imf_datamapper_api.Retriever()
    monkeypatch.setattr(r_imf, "fetch_json", _imf_fetch)
    frames.append(r_imf.get_metadata(spark))

    for raw in frames:
        meta = validation.conform_metadata(raw)
        assert meta.columns == [
            f.name for f in validation.METADATA_SCHEMA.fields
        ]
        assert meta.count() > 0
        assert meta.count() == meta.dropDuplicates(["code"]).count()
