"""XLSX ingestion tests: OOXML round-trip, schema typing, header
inference, and the SIPRI workbook path end-to-end (reference
``storage/_base.py:84-96``, ``pipelines/sipri_milex.py:73-93``)."""

from __future__ import annotations

import pytest

from dfx_indicators_etl_spark.pipelines import sipri_milex
from dfx_indicators_etl_spark.sources import xlsx


@pytest.fixture()
def workbook(tmp_path):
    path = str(tmp_path / "book.xlsx")
    xlsx.write_xlsx(
        path,
        {
            "Data": [
                ["name", "count", "score", "mixed", "flag"],
                ["alpha", 1, 1.5, "text", True],
                ["beta", 2, None, 3, False],
                [None, 3, 2.25, None, None],
            ],
        },
    )
    return path


def test_roundtrip_rows(workbook):
    rows = xlsx.read_xlsx(workbook, "Data")
    assert rows[0] == ["name", "count", "score", "mixed", "flag"]
    assert rows[1] == ["alpha", 1, 1.5, "text", True]
    assert rows[3][0] is None and rows[3][2] == 2.25


def test_list_sheets(workbook):
    assert xlsx.list_sheets(workbook) == ["Data"]


def test_to_spark_schema_typing(spark, workbook):
    df = xlsx.xlsx_to_spark(spark, workbook, "Data")
    dtypes = dict(df.dtypes)
    assert dtypes == {
        "name": "string",
        "count": "bigint",
        "score": "double",
        "mixed": "string",  # mixed str+int degrades to string
        "flag": "boolean",
    }
    rows = {r["count"]: r for r in df.collect()}
    assert rows[2]["mixed"] == "3"  # stringified like a pandas object col
    assert rows[3]["name"] is None


def test_na_values_nulled_before_typing(spark, tmp_path):
    path = str(tmp_path / "na.xlsx")
    xlsx.write_xlsx(
        path, {"S": [["k", "v"], ["a", 1.0], ["b", "xxx"], ["c", "..."]]}
    )
    df = xlsx.xlsx_to_spark(spark, path, "S", na_values=("xxx", "..."))
    assert dict(df.dtypes)["v"] == "double"
    assert {r["k"]: r["v"] for r in df.collect()} == {"a": 1.0, "b": None, "c": None}


def test_infer_header_row():
    rows = [["SIPRI preamble"], [None, "junk"], ["Country", "2019"], ["France", 1.0]]
    assert xlsx.infer_header_row(rows, "Country") == 2
    with pytest.raises(ValueError):
        xlsx.infer_header_row(rows, "Nope")


@pytest.fixture()
def sipri_workbook(tmp_path):
    """A SIPRI-shaped workbook: per-indicator sheets, preamble rows
    before the header, ``xxx``/``...`` missing-value sentinels."""
    path = str(tmp_path / "sipri.xlsx")
    preamble = [["SIPRI Military Expenditure Database"], ["© SIPRI 2025"]]
    sheets = {}
    for i, sheet in enumerate(sipri_milex.METADATA):
        sheets[sheet] = preamble + [
            ["Country", "Notes", "2019", "2020"],
            ["France", None, 100.0 + i, "xxx"],
            ["Germany", "note", "...", 200.0 + i],
            ["Atlantis", None, 1.0, 2.0],  # unmappable country name
        ]
    xlsx.write_xlsx(path, sheets)
    return path


def test_sipri_retriever_from_xlsx(spark, sipri_workbook):
    raw = sipri_milex.Retriever()(spark, path=sipri_workbook)
    assert raw.columns == ["Country", "indicator_name", "2019", "2020"]
    assert raw.count() == 3 * len(sipri_milex.METADATA)
    assert set(
        r["indicator_name"] for r in raw.select("indicator_name").distinct().collect()
    ) == set(sipri_milex.METADATA.values())
    # sentinels nulled
    fr = raw.filter("Country = 'France'").collect()
    assert all(r["2020"] is None for r in fr)


def test_sdg_database_goal_workbooks(spark, tmp_path):
    from dfx_indicators_etl_spark.pipelines import unstats_sdg_database as sdg

    header = ["SeriesCode", "SeriesDescription", "GeoAreaCode", "TimePeriod",
              "Value", "Sex"]
    xlsx.write_xlsx(
        str(tmp_path / "Goal1.xlsx"),
        {"data": [header, ["SI_POV", "Poverty", 250, 2019, 1.5, "F"]]},
    )
    xlsx.write_xlsx(
        str(tmp_path / "Goal2.xlsx"),
        # no Sex column: union must null-fill it
        {"data": [header[:-1], ["SN_HUN", "Hunger", 276, 2020, 2.5]]},
    )
    raw = sdg.Retriever()(spark, path=str(tmp_path))
    assert raw.count() == 2
    rows = {r["SeriesCode"]: r for r in raw.collect()}
    assert rows["SI_POV"]["Sex"] == "F"
    assert rows["SN_HUN"]["Sex"] is None

    mapping = spark.createDataFrame(
        [("France", "250", "FRA"), ("Germany", "276", "DEU")],
        ["name", "m49", "iso_alpha_3"],
    )
    out = sdg.Transformer(mapping)(
        raw, provider="unstats_sdg_database", countries=mapping
    )
    got = {(r.country_code, r.year): r.value for r in out.collect()}
    assert got == {("FRA", 2019): 1.5, ("DEU", 2020): 2.5}


def test_sipri_xlsx_end_to_end(spark, sipri_workbook):
    mapping = spark.createDataFrame(
        [("France", "250", "FRA"), ("Germany", "276", "DEU")],
        ["name", "m49", "iso_alpha_3"],
    )
    raw = sipri_milex.Retriever()(spark, path=sipri_workbook)
    out = sipri_milex.Transformer(mapping)(
        raw,
        provider="sipri_milex",
        countries=mapping,
    )
    rows = out.collect()
    # 4 sheets × (France 2019 + Germany 2020); Atlantis + sentinels drop
    assert len(rows) == 2 * len(sipri_milex.METADATA)
    assert {r.country_code for r in rows} == {"FRA", "DEU"}
    by_key = {(r.country_code, r.year, r.indicator_name): r.value for r in rows}
    first = sipri_milex.METADATA["Current US$"]
    assert by_key[("FRA", 2019, first)] == 100.0
    assert by_key[("DEU", 2020, first)] == 200.0
