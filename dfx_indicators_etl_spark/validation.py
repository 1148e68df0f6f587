"""Canonical observation / metadata schemas and validation.

Re-expresses the reference's pandera models
(`/root/reference/src/dfx_etl/validation.py:33-112` — ``DataSchema``:
strict column filtering, coercion, auto-added missing columns,
per-column rules, uniqueness on the series key; ``MetadataSchema``:
strip + unique) as Spark-native schema conformance plus predicate-based
validation that *splits* rather than raises: at 100 TB a bad row must
land in a quarantine output, not abort the job.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "DATA_SCHEMA",
    "METADATA_SCHEMA",
    "conform",
    "conform_metadata",
    "validation_failures",
    "validate_split",
]

# validation.py:64-112 — canonical long-format observation row.
DATA_SCHEMA = T.StructType(
    [
        T.StructField("provider", T.StringType(), nullable=False),
        T.StructField("indicator_name", T.StringType(), nullable=False),
        T.StructField("country_code", T.StringType(), nullable=False),
        T.StructField("year", T.IntegerType(), nullable=False),
        T.StructField("dimension", T.StringType(), nullable=False),
        T.StructField("value", T.DoubleType(), nullable=False),
        T.StructField("source", T.StringType(), nullable=True),
    ]
)

# validation.py:33-61 — indicator metadata row.
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("code", T.StringType(), nullable=False),
        T.StructField("name", T.StringType(), nullable=False),
        T.StructField("unit", T.StringType(), nullable=True),
    ]
)

# Series uniqueness key (DataSchema Config.unique).
SERIES_KEY = ("indicator_name", "country_code", "year", "dimension")


def conform(df: DataFrame, schema: T.StructType = DATA_SCHEMA) -> DataFrame:
    """Project onto the canonical schema: drop extras, add missing
    columns as nulls, coerce types, trim strings.

    Mirrors pandera's ``strict="filter" / coerce / add_missing_columns``
    (validation.py:100-106). Pure column expressions — no shuffle.
    """
    out = []
    for field in schema.fields:
        if field.name in df.columns:
            col = F.col(field.name).cast(field.dataType)
            if isinstance(field.dataType, T.StringType):
                col = F.trim(col)
        else:
            col = F.lit(None).cast(field.dataType)
        out.append(col.alias(field.name))
    return df.select(*out)


def conform_metadata(df: DataFrame) -> DataFrame:
    """MetadataSchema parity (validation.py:33-61): conform + strip +
    unique rows."""
    return conform(df, METADATA_SCHEMA).dropDuplicates()


def data_rules() -> dict[str, Column]:
    """DataSchema field rules (validation.py:64-97) as named predicates.

    Every rule is true or false, never null, on any row: a null rule
    result would count as neither passed nor failed. Built lazily —
    Column expressions need an active session.
    """
    return {
        "provider": F.col("provider").isNotNull()
        & F.length("provider").between(2, 1024),
        "indicator_name": F.col("indicator_name").isNotNull()
        & F.length("indicator_name").between(2, 512),
        "country_code": F.col("country_code").isNotNull()
        & F.col("country_code").rlike(r"^[A-Z]{3}$"),
        "year": F.col("year").isNotNull() & F.col("year").between(1900, 2100),
        "dimension": F.col("dimension").isNotNull(),
        "value": F.col("value").isNotNull(),
        "source": F.col("source").isNull() | F.length("source").between(2, 2048),
    }


def validation_failures(df: DataFrame) -> Column:
    """Array of names of failed rules for a row (empty = valid)."""
    pairs = [F.when(~rule, F.lit(name)) for name, rule in data_rules().items()]
    return F.array_compact(F.array(*pairs)).alias("failed_rules")


def validate_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a conformed frame into (valid, quarantine).

    Quarantine rows carry ``failed_rules`` so a pipeline can load the
    clean rows and report the rest — the distributed analogue of the
    reference's raise-on-invalid ``pa.check_output``. The valid side
    is a plain conjunction of the rules (whole-stage codegen); the
    rule names are only built for quarantined rows.
    """
    passed = reduce(and_, data_rules().values())
    valid = df.filter(passed)
    quarantine = df.filter(~passed).withColumn("failed_rules", validation_failures(df))
    return valid, quarantine
