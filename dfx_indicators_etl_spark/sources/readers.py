"""Table readers for the engine's parquet/CSV/JSON sources.

Reads are declarative ``spark.read`` scans so Catalyst applies column
pruning and predicate pushdown into the parquet reader — at 100 TB the
scan cost is dominated by what reaches the footer-level filters, so
every query goes through these readers rather than materialized
intermediates.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_session_confs

if TYPE_CHECKING:
    import pyarrow as pa

__all__ = [
    "TABLES",
    "normalize_timestamps",
    "read_table",
    "read_tables",
    "register_views",
    "read_csv",
    "read_jsonl",
    "local_relation",
]

# Canonical test/bench tables (TPC-H-ish star schema + events stream +
# LLM-data tables). One parquet file per table under a sf dir.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns that may arrive as parquet TIMESTAMP(NANOS); with
# spark.sql.legacy.parquet.nanosAsLong they scan as nano-epoch longs
# and are converted to µs timestamps (floor division — the same
# truncation DuckDB applies when reading ns parquet as TIMESTAMP).
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def normalize_timestamps(df: DataFrame, nano_long_cols: tuple[str, ...] = ()) -> DataFrame:
    """Normalize every timestamp flavor to session-TZ ``timestamp``.

    The physical timestamp type of the source parquet is a generator
    detail the engine must not depend on — the same table has shipped
    as TIMESTAMP(NANOS) (scans as a nano-epoch long under nanosAsLong)
    and as timestamp[us] without isAdjustedToUTC (scans as
    TIMESTAMP_NTZ). Downstream plans assume one surface type, so:

    - named ``nano_long_cols`` that scanned as bigint → µs timestamp,
    - any TIMESTAMP_NTZ column → TIMESTAMP (identical wall-clock under
      the engine's pinned UTC session zone, and unlocks epoch functions
      like ``unix_micros`` / long casts that NTZ refuses).
    """
    dtypes = dict(df.dtypes)
    for column in nano_long_cols:
        if dtypes.get(column) == "bigint":
            df = df.withColumn(
                column, F.timestamp_micros(F.expr(f"`{column}` div 1000"))
            )
            dtypes[column] = "timestamp"
    ntz = [c for c, t in dtypes.items() if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named table from a scale-factor directory.

    Pins the engine's runtime confs first (nanos-as-long, ANSI off,
    UTC) so the scan succeeds on any session — the driver's default
    session has ANSI on and no nanosAsLong, which would otherwise fail
    every TIMESTAMP(NANOS) read with PARQUET_TYPE_ILLEGAL — then
    normalizes whatever physical timestamp type the file carries to
    session-TZ ``timestamp`` (see ``normalize_timestamps``).
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_timestamps(df, NANO_TS_COLUMNS.get(name, ()))


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several tables at once: ``li, o = read_tables(s, d, 'lineitem', 'orders')``."""
    return tuple(read_table(spark, sf_dir, name) for name in names)


def parquet_row_count(sf_dir: str, name: str) -> int:
    """EXACT row count of an (unfiltered) named table from parquet
    footer metadata — no Spark job (VERDICT r11 #5: the adaptive
    pickers' ``df.count()`` probes cost +0.13–0.21 s per key at sf0.1
    in pure job-scheduling overhead; footers are free).

    Only valid for a bare scan of the whole table: the count is the
    file metadata's, so any filter/limit upstream of the operator
    makes it an over-count — callers pass it as ``n_rows`` ONLY when
    the operator input is the unfiltered ``read_table`` frame, and an
    over-count merely routes to the scale path early (safe direction).
    Falls back to -1 when the path is not local parquet (callers then
    let the operator run its own count probe).
    """
    import glob as _glob
    import os as _os

    try:
        import pyarrow.parquet as pq

        path = f"{sf_dir}/{name}.parquet"
        if _os.path.isdir(path):
            files = _glob.glob(f"{path}/*.parquet")
        elif _os.path.isfile(path):
            files = [path]
        else:
            return -1
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:  # noqa: BLE001 — metadata probe is best-effort
        return -1


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the named tables as temp views — the ``spark.sql``
    entry path. Views are lazy scans (same pushdown/pruning as the
    DataFrame readers); SQL and DataFrame forms produce identical
    Catalyst plans."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """CSV reader with an explicit schema by default.

    Schema inference triggers an extra full scan — never acceptable on a
    large input — so callers pass a schema; ``inferSchema`` is opt-in.
    """
    ensure_session_confs(spark)
    reader = spark.read.options(header="true", **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines reader; explicit schema avoids the inference scan."""
    ensure_session_confs(spark)
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def local_relation(spark: SparkSession, rows: pa.Table, schema: T.StructType) -> DataFrame:
    """A one-partition local relation over driver-side ``rows`` (an
    Arrow table; ``df.toArrow()`` snapshots a small frame).

    For tables bounded like a broadcast side (the M49 areas, the star's
    dims): every later broadcast, join or write of the result reads the
    rows held in the plan instead of running a lineage again.
    ``createDataFrame`` over Arrow plans as a ``LocalRelation``, where a
    list of Rows would become a ``LogicalRDD`` that scans several times
    slower. One partition keeps a written copy at one file.
    """
    return spark.createDataFrame(rows, schema).coalesce(1)
