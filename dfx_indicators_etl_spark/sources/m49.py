"""UNSD M49 country-metadata loader.

The reference packages the public UNSD M49 table (semicolon-delimited
CSV, one row per country/area) and exposes dict lookups over it
(`/root/reference/src/dfx_etl/utils.py:28-155` — ``read_data_csv`` /
``get_country_metadata`` / ``replace_country_metadata``; the same table
seeds the ``country`` dim, `database/entities.py:137-160`). The same
public file (https://unstats.un.org/unsd/methodology/m49/overview) is
vendored at ``dfx_indicators_etl_spark/data/unsd-m49.csv``, so
``load_m49`` works with no arguments and every pipeline's
``country_mapping`` / ``countries`` input and the star schema's
country dim come out of it out of the box; pass ``path`` to use a
newer download.
"""

from __future__ import annotations

import csv
import io
from pathlib import Path
from typing import Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .readers import local_relation, read_csv

__all__ = [
    "M49_RAW_SCHEMA",
    "PACKAGED_M49_PATH",
    "get_country_metadata",
    "load_m49",
    "m49_country_dim",
    "replace_country_metadata",
]

# The vendored public UNSD table (same provenance as the reference's
# packaged copy — see data/__init__.py).
PACKAGED_M49_PATH = str(
    Path(__file__).resolve().parent.parent / "data" / "unsd-m49.csv"
)

CountryField = Literal["name", "m49", "iso-alpha-2", "iso-alpha-3"]

_FIELD_COLUMNS: dict[str, str] = {
    "name": "Country or Area",
    "m49": "M49 Code",
    "iso-alpha-2": "ISO-alpha2 Code",
    "iso-alpha-3": "ISO-alpha3 Code",
}

# Column layout of the published UNSD CSV (semicolon-delimited).
M49_RAW_SCHEMA = (
    "`Global Code` string, `Global Name` string, `Region Code` string, "
    "`Region Name` string, `Sub-region Code` string, `Sub-region Name` string, "
    "`Intermediate Region Code` string, `Intermediate Region Name` string, "
    "`Country or Area` string, `M49 Code` string, `ISO-alpha2 Code` string, "
    "`ISO-alpha3 Code` string, "
    "`Least Developed Countries (LDC)` string, "
    "`Land Locked Developing Countries (LLDC)` string, "
    "`Small Island Developing States (SIDS)` string"
)


def get_country_metadata(
    field: CountryField = "iso-alpha-3", sort: bool = True
) -> list[str]:
    """Driver-side list of one M49 metadata field — the parity twin of
    the reference's ``utils.get_country_metadata`` (utils.py:84-115),
    including its gotchas: Namibia's ISO-alpha-2 code ``"NA"`` stays a
    string (never a missing value), and ``m49`` values are numeric
    strings with the CSV's zero-padding stripped (``"012"`` → ``"12"``,
    matching pandas' int round-trip in the reference).

    Control-plane only (the vendored table is a few hundred rows) —
    use ``load_m49`` for the Spark frame.
    """
    column = _FIELD_COLUMNS[field]
    # utf-8-sig: the published file leads with a BOM
    text = Path(PACKAGED_M49_PATH).read_text(encoding="utf-8-sig")
    rows = list(csv.DictReader(io.StringIO(text), delimiter=";"))
    values = [r[column] for r in rows]
    if field == "m49":
        values = [str(int(v)) for v in values]
    if sort:
        values.sort()
    return values


def replace_country_metadata(
    values: list[str | None],
    source: CountryField,
    target: CountryField,
) -> list[str | None]:
    """Map country metadata values between fields (ISO-2 → ISO-3,
    ISO-3 → name, …) — parity with ``utils.replace_country_metadata``
    (utils.py:117-155): case-sensitive, non-matching values map to
    ``None``."""
    mapping = dict(
        zip(
            get_country_metadata(source, sort=False),
            get_country_metadata(target, sort=False),
        )
    )
    return [mapping.get(value) for value in values]


def load_m49(spark: SparkSession, path: str | None = None) -> DataFrame:
    """Read the UNSD M49 CSV into the canonical mapping frame.

    ``path`` defaults to the vendored public table
    (``PACKAGED_M49_PATH``), so country standardization works with no
    setup — pass a path only to use a newer UNSD download. Output
    columns match what the pipelines and ``database`` expect:
    ``name / m49 / iso_alpha_2 / iso_alpha_3 / region / subregion /
    ldc / lldc / sids``. The x-marks-membership flag columns become
    booleans (utils.py:84-115 reads them the same way).

    Spark reads the CSV, so any path or URI the session can open works,
    and the rows come back as a one-partition local relation, read once
    when this is called. Every pipeline's country filter, the country
    dim and its write then use those rows instead of parsing the CSV
    again.
    """
    raw = read_csv(
        spark, path or PACKAGED_M49_PATH, schema=M49_RAW_SCHEMA, sep=";"
    )
    flag = lambda c: F.col(c).isNotNull() & (F.trim(F.col(c)) != "")  # noqa: E731
    m49 = raw.select(
        F.col("Country or Area").alias("name"),
        F.col("M49 Code").cast("int").cast("string").alias("m49"),
        F.col("ISO-alpha2 Code").alias("iso_alpha_2"),
        F.col("ISO-alpha3 Code").alias("iso_alpha_3"),
        F.col("Region Name").alias("region"),
        F.col("Sub-region Name").alias("subregion"),
        flag("Least Developed Countries (LDC)").alias("ldc"),
        flag("Land Locked Developing Countries (LLDC)").alias("lldc"),
        flag("Small Island Developing States (SIDS)").alias("sids"),
    ).filter(F.col("iso_alpha_3").isNotNull())
    return local_relation(spark, m49.toArrow(), m49.schema)


def m49_country_dim(m49: DataFrame) -> DataFrame:
    """The ``country`` dim table (entities.py:30-47): m49 code as the
    natural primary key, ready for ``database.build_star_schema``."""
    return m49.select(
        F.col("m49").cast("int").alias("id"),
        F.col("iso_alpha_2").alias("iso_2"),
        F.col("iso_alpha_3").alias("iso_3"),
        "name",
        "subregion",
        "region",
        "ldc",
        "lldc",
        "sids",
    )
