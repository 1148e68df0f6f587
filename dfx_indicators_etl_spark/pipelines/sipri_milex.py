"""SIPRI Military Expenditure pipeline (reference
`/root/reference/src/dfx_etl/pipelines/sipri_milex.py`).

The source is a multi-sheet XLSX keyed by country *name* with one
column per year; the transform is wide→long melt + name→ISO3 mapping
(sipri_milex.py:99-147). The retriever takes either a pre-staged raw
frame (``payload=``) or a local .xlsx file (``path=``) parsed with the
engine's dependency-free OOXML reader — the same header inference
(first row whose column 0 is "Country", sipri_milex.py:90-91) and
``na_values=["xxx", "..."]`` as the reference. Only the network fetch
itself is unavailable in this harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import indicator as ops
from ..sources.xlsx import infer_header_row, read_xlsx, xlsx_to_spark
from .base import BaseRetriever, BaseTransformer, union_all

__all__ = ["Retriever", "Transformer", "METADATA"]

# Sheet → indicator display name, verbatim from the reference
# (sipri_milex.py:55-72): indicator_name is part of the series
# uniqueness key, so output parity requires the exact strings.
METADATA = {
    "Current US$": "Military expenditure by country in $current US m., presented according to calendar year [SIPRI_MILEXT_CURRENT_USD]",
    "Share of GDP": "Military expenditure by country as a share of gross domestic product (GDP), presented according to calendar year [SIPRI_MILEXT_SHARE_OF_GDP]",
    "Per capita": "Military expenditure per capita, in current US$, presented according to calendar year, 1988-2024 only, [SIPRI_MILEXT_PER_CAPITA]",
    "Share of Govt. spending": "Military expenditure as a percentage of general government expenditure, 1988-2024 only [SIPRI_MILEXT_SHARE_OF_GOV_SPENDING]",
}


class Retriever(BaseRetriever):
    uri = "https://www.sipri.org/sites/default/files/SIPRI-Milex-data-1949-2024_2.xlsx"

    def __call__(
        self,
        spark: SparkSession,
        payload: DataFrame | None = None,
        path: str | None = None,
        **kwargs,
    ) -> DataFrame:
        if payload is not None:
            return payload
        if path is not None:
            return read_sipri_xlsx(spark, path)
        # Live path (reference sipri_milex.py:40-53): download the
        # workbook bytes driver-side (guarded fetch), stage to a temp
        # file, and parse with the engine's OOXML reader.
        import os
        import tempfile

        data = self.fetch_bytes(self.uri)
        fd, tmp = tempfile.mkstemp(suffix=".xlsx")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            return read_sipri_xlsx(spark, tmp)
        finally:
            os.unlink(tmp)


def read_sipri_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """Parse the SIPRI multi-sheet workbook into one wide frame.

    Mirrors the reference's ``_get_data`` + sheet loop
    (sipri_milex.py:40-53, 73-93): per METADATA sheet, infer the header
    row (first row whose column 0 is "Country"), null the ``xxx``/
    ``...`` sentinels, stamp ``indicator_name``, and stack sheets —
    ``union_all`` (a balanced ``unionByName(allowMissingColumns)``)
    fills year columns a sheet lacks with nulls, like the reference's
    ``pd.concat``, and keeps columns in first-appearance order.
    """
    frames = []
    for sheet, indicator_name in METADATA.items():
        rows = read_xlsx(path, sheet)
        header = infer_header_row(rows, "Country")
        df = xlsx_to_spark(
            spark, path, sheet, header_row=header, na_values=("xxx", "...")
        )
        year_cols = [c for c in df.columns if c.isdigit()]
        df = df.select(
            F.col("Country").cast("string"),
            F.lit(indicator_name).alias("indicator_name"),
            *[F.col(c).cast("double").alias(c) for c in year_cols],
        )
        frames.append(df)
    return union_all(frames)


class Transformer(BaseTransformer):
    """Wide year columns → canonical long rows (sipri_milex.py:99-147)."""

    def __init__(self, country_mapping: DataFrame):
        # name → ISO3 lookup standing in for `country_converter`.
        self.country_mapping = country_mapping

    def transform(self, df: DataFrame, **kwargs) -> DataFrame:
        id_cols = ["Country", "indicator_name"]
        year_cols = [c for c in df.columns if c.isdigit()]
        long = ops.melt(
            df.select(*id_cols, *year_cols),
            id_cols,
            year_cols,
            var_name="year",
            value_name="value",
        )
        long = ops.map_country_metadata(
            long, self.country_mapping, "Country", "name", "iso_alpha_3",
            output="country_code",
        ).filter(F.col("country_code").isNotNull())
        return long.withColumn("year", F.col("year").cast("int"))
