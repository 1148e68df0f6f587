"""Global SDG Database bulk pipeline (reference
`/root/reference/src/dfx_etl/pipelines/unstats_sdg_database.py`).

The bulk extract is a wide CSV where any column not in the known set
is a disaggregation; those become ``dimension_*`` columns (resolved by
the shared combine step). Column names are known at plan time, so the
"dynamic" dimension inference is still a pure projection.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import indicator as ops
from ..sources import read_csv
from ..sources.xlsx import xlsx_to_spark
from .base import BaseRetriever, BaseTransformer, union_all

__all__ = ["Retriever", "Transformer", "KNOWN_COLUMNS"]

# unstats_sdg_database.py:83-104 — non-dimension columns (None = drop).
KNOWN_COLUMNS: dict[str, str | None] = {
    "Goal": None,
    "Target": None,
    "Indicator": None,
    "SeriesCode": "indicator_code",
    "SeriesDescription": "indicator_name",
    "GeoAreaCode": "country_code",
    "GeoAreaName": None,
    "TimePeriod": "year",
    "Value": "value",
    "Time_Detail": None,
    "TimeCoverage": None,
    "UpperBound": None,
    "LowerBound": None,
    "BasePeriod": None,
    "Source": "source",
    "GeoInfoUrl": None,
    "FootNote": None,
    "Nature": None,
    "Reporting Type": None,
    "Units": None,
}


def _snake(name: str) -> str:
    return re.sub(r"\s+", "_", name.strip().lower())


class Retriever(BaseRetriever):
    """Bulk-extract loader: the reference reads one ``Goal{n}.xlsx``
    per SDG goal and concatenates (unstats_sdg_database.py:52-66);
    here a directory of ``Goal*.xlsx`` parses through the OOXML bridge
    and unions with ``union_all`` (missing columns null-filled, like
    ``pd.concat``). A ``.csv`` path loads the same extract in CSV form
    (distributed scan — prefer it when the extract is large)."""

    uri = "inputs/SDG"

    def __call__(self, spark: SparkSession, path: str | None = None, **kwargs) -> DataFrame:
        import glob as _glob
        import os as _os

        path = path or self.uri
        if path.endswith(".csv") or "*" in path:
            return read_csv(spark, path, **kwargs)
        if path.endswith(".xlsx"):
            return xlsx_to_spark(spark, path)
        workbooks = sorted(_glob.glob(_os.path.join(path, "Goal*.xlsx")))
        if not workbooks:
            raise FileNotFoundError(f"no Goal*.xlsx under {path!r}")
        return union_all([xlsx_to_spark(spark, wb) for wb in workbooks])


class Transformer(BaseTransformer):
    """unstats_sdg_database.py:68-128 as a projection + dedup."""

    def __init__(self, country_mapping: DataFrame):
        self.country_mapping = country_mapping

    def transform(self, df: DataFrame, **kwargs) -> DataFrame:
        selected = [
            F.col(src).alias(dst)
            for src, dst in KNOWN_COLUMNS.items()
            if dst is not None and src in df.columns
        ]
        selected += [
            F.col(c).alias(f"dimension_{_snake(c)}")
            for c in df.columns
            if c not in KNOWN_COLUMNS
        ]
        shaped = df.select(*selected)
        shaped = shaped.withColumn(
            "indicator_name",
            ops.format_indicator_name("indicator_name", "indicator_code"),
        ).drop("indicator_code")
        mapped = ops.map_country_metadata(
            shaped.withColumn("country_code", F.col("country_code").cast("string")),
            self.country_mapping, "country_code", "m49", "iso_alpha_3",
        )
        # '<2.5' / '>99' → numeric part; failed casts coerce to NULL
        value = F.regexp_replace(F.col("value").cast("string"), r"^[<>]+", "").cast("double")
        return (
            mapped.withColumn("value", value)
            .withColumn("year", F.col("year").cast("int"))
            .filter(F.col("value").isNotNull() & F.col("country_code").isNotNull())
            .dropDuplicates()
        )
