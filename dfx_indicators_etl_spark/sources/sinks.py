"""Dataset sinks: versioned parquet layout, partitioned and bucketed writes.

Re-expresses the reference storage layer
(`/root/reference/src/dfx_etl/storage/_base.py:46-112` —
``write_dataset`` writes ``<root>/vYY-MM-DD/<folder>/<name>.parquet``,
``read_dataset`` dispatches on extension; `storage/__init__.py:20-45`
picks local vs Azure from the environment) as Spark writers:

- a *dataset* here is a parquet **directory** (many part-files), the
  scalable layout — writers run distributed, readers parallelize over
  files, and partition columns prune at the scan.
- the Azure backend needs the ``hadoop-azure`` jars + account config;
  like the reference it is selected by environment, and it is stubbed
  out with a clear error when the ABFS connector isn't on the
  classpath.
- the relational load layer (reference `database/__init__.py:60-127`)
  is ``write_jdbc`` plus one upsert, ``jdbc_upsert``: a staging-table
  bulk load and ONE ``INSERT … ON CONFLICT`` / ``MERGE`` statement
  (``upsert_sql``), so the database resolves conflicts and the target
  table is never dropped or rewritten.
"""

from __future__ import annotations

import os
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "dataset_version",
    "resolve_storage_root",
    "write_dataset",
    "read_dataset",
    "write_partitioned",
    "write_bucketed_table",
    "write_jdbc",
    "read_jdbc",
    "jdbc_table_exists",
    "jdbc_upsert",
    "jdbc_execute",
    "jdbc_dialect",
    "upsert_sql",
    "abfss_uri",
]


def dataset_version(as_of: date | None = None) -> str:
    """Version tag ``vYY-MM-DD`` (reference `storage/_base.py:29-38`)."""
    as_of = as_of or datetime.now(timezone.utc).date()
    return as_of.strftime("v%y-%m-%d")


def abfss_uri(account: str, container: str, path: str = "") -> str:
    """Azure Data Lake Gen2 container URI for Spark's Hadoop ABFS
    connector — the exact root shape the reference's Azure backend
    addresses (`storage/azure.py` + `settings.py:13-32`)."""
    root = f"abfss://{container}@{account}.dfs.core.windows.net"
    return f"{root}/{path.lstrip('/')}" if path else root


def _abfs_connector_available() -> bool:
    """True when hadoop-azure is on the active session's classpath."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.azurebfs.AzureBlobFileSystem"
        )
        return True
    except Exception:
        return False


def resolve_storage_root() -> str:
    """Pick the storage root from the environment.

    Mirrors `storage/__init__.py:20-45`: explicit local path wins, else
    the Azure container URI (``abfss://…``) that Spark's Hadoop ABFS
    connector reads natively — every downstream path composition
    (``write_dataset``/``read_dataset``) treats the root as an opaque
    URI prefix, so abfss:// flows through the same code path as a
    local directory. When Azure is configured but hadoop-azure is NOT
    on the classpath, the resolved URI surfaces in an explicit
    NotImplementedError instead of a first-task failure; error when
    neither backend is configured.
    """
    local = os.environ.get("LOCAL_STORAGE_PATH")
    if local:
        return local
    account = os.environ.get("AZURE_STORAGE_ACCOUNT")
    container = os.environ.get("AZURE_STORAGE_CONTAINER")
    if account and container:
        uri = abfss_uri(account, container)
        if _abfs_connector_available():
            return uri
        raise NotImplementedError(
            f"Azure ABFS backend requires the hadoop-azure connector ({uri})"
        )
    raise KeyError(
        "Neither LOCAL_STORAGE_PATH nor AZURE_STORAGE_ACCOUNT/CONTAINER is set."
    )


def write_dataset(
    df: DataFrame,
    root: str,
    name: str,
    folder: str = "",
    version: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Write a versioned parquet dataset; returns its full path.

    Layout matches the reference (`storage/_base.py:46-69`):
    ``<root>/<version>/<folder>/<name>.parquet`` — but as a parquet
    directory. For a hive-partitioned write use ``write_partitioned``.
    """
    version = version or dataset_version()
    path = "/".join(p for p in (root, version, folder, f"{name}.parquet") if p)
    df.write.mode(mode).parquet(path)
    return path


def latest_version(root: str) -> str | None:
    """Most recent ``vYY-MM-DD`` directory under ``root`` (lexical max
    — the format sorts chronologically), or None when none exist. The
    read-side pairing of ``write_dataset``'s versioned layout."""
    import re

    if not os.path.isdir(root):
        return None
    versions = [
        d for d in os.listdir(root) if re.fullmatch(r"v\d{2}-\d{2}-\d{2}", d)
    ]
    return max(versions) if versions else None


def read_dataset(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """Read a dataset back, dispatching on extension.

    Parity with `storage/_base.py:71-112`: ``.parquet`` / bare
    directories / ``.csv`` supported; ``.xlsx`` needs a spreadsheet
    datasource the harness doesn't ship, so it raises like the
    reference's unsupported-extension branch.
    """
    lower = path.lower()
    if lower.endswith((".parquet", "/")) or "." not in os.path.basename(path):
        return spark.read.options(**options).parquet(path)
    if lower.endswith(".csv"):
        return spark.read.options(header="true", **options).csv(path)
    if lower.endswith(".xlsx"):
        # Control-plane sized by contract (the reference reads Excel
        # into pandas on one node, `storage/_base.py:94-96`); parsed
        # driver-side by the dependency-free OOXML reader.
        from .xlsx import xlsx_to_spark

        return xlsx_to_spark(spark, path, **options)  # type: ignore[arg-type]
    raise ValueError(f"Unsupported extension for {path!r}")


def write_partitioned(
    df: DataFrame, path: str, partition_cols: tuple[str, ...], mode: str = "overwrite"
) -> None:
    """Hive-partitioned parquet write (directory per partition value).

    The scale path for time/category-sliced facts: queries filtering on
    a partition column read only matching directories (partition
    pruning shows as ``PartitionFilters`` in the scan node).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_dataset(
    spark: SparkSession, path: str, target_partitions: int
) -> int:
    """Compact a parquet dataset's small files into ``target_partitions``.

    The maintenance half of streaming/incremental writes: many small
    files destroy scan parallelism economics (one task per tiny file,
    footer overhead dominating). Rewrites via a staging directory then
    swaps — a real deployment gets this atomically from a table format
    (Delta/Iceberg ``OPTIMIZE``); the rewrite plan is identical.
    The swap moves the live copy aside, renames the staging copy in and
    only then deletes the old copy; if renaming the staging copy in
    fails, the old copy is renamed back, so ``path`` always holds a
    complete dataset. Returns the file count after compaction.
    """
    import shutil

    staging = f"{path}__compacting"
    retired = f"{path}__retired"
    spark.read.parquet(path).repartition(target_partitions).write.mode(
        "overwrite"
    ).parquet(staging)
    shutil.rmtree(retired, ignore_errors=True)  # left by an interrupted swap
    os.rename(path, retired)
    try:
        os.rename(staging, path)
    except BaseException:
        os.rename(retired, path)
        raise
    shutil.rmtree(retired)
    return len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    **options: str,
) -> None:
    """Relational-database load path (reference loads via SQLAlchemy,
    `database/__init__.py:60-90`; Spark's writer runs one batched
    INSERT stream per partition — the distributed equivalent).

    ``num_partitions`` caps concurrent DB connections (a 1000-executor
    cluster would otherwise open 1000 sessions against one database —
    coalesce, don't repartition: no shuffle, just fewer writers).
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
    )
    if driver:
        writer = writer.option("driver", driver)
    writer.mode(mode).save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC table/query read; pass ``partition_column`` + bounds to
    split the scan into ``num_partitions`` parallel range queries
    (without them a JDBC read is a single-connection, single-task
    scan — never acceptable for a large table)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**options)
    )
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def _jdbc_connection(spark: SparkSession, url: str, **options: str):
    """Driver-side ``java.sql.Connection``; ``options`` (``user``,
    ``password``, vendor properties) travel as a ``Properties`` object
    so databases needing out-of-URL credentials work too (ADVICE r6).
    """
    jvm = spark._jvm
    if not options:
        return jvm.java.sql.DriverManager.getConnection(url)
    props = jvm.java.util.Properties()
    for k, v in options.items():
        props.setProperty(k, str(v))
    return jvm.java.sql.DriverManager.getConnection(url, props)


def jdbc_table_exists(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    **options: str,
) -> bool:
    """Probe for a JDBC table via ``DatabaseMetaData.getTables`` — a
    driver-side control-plane call, engine-portable (no vendor SQLState
    parsing), and crucially *distinct from a failed read*: a transient
    connection error raises instead of reporting "absent".

    Tries the name as written plus upper/lower foldings (engines fold
    unquoted identifiers differently — Derby/Oracle up, Postgres down).
    """
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    schema, _, bare = table.rpartition(".")
    conn = _jdbc_connection(spark, url, **options)
    try:
        meta = conn.getMetaData()
        for cand in dict.fromkeys((bare, bare.upper(), bare.lower())):
            for sch in dict.fromkeys(
                (schema or None, schema.upper() or None, schema.lower() or None)
            ):
                rs = meta.getTables(None, sch, cand, None)
                try:
                    if rs.next():
                        return True
                finally:
                    rs.close()
        return False
    finally:
        conn.close()


def jdbc_dialect(url: str) -> str:
    """Dialect tag from a JDBC URL (``jdbc:postgresql://…`` →
    ``postgresql``)."""
    parts = url.split(":")
    return parts[1].lower() if len(parts) > 1 else ""


def upsert_sql(
    url: str,
    table: str,
    columns: tuple[str, ...],
    key_cols: tuple[str, ...],
    insert_only: bool = False,
    staging: str | None = None,
) -> str:
    """Dialect-correct set-based upsert statement from a staging table.

    The reference's conflict handlers are Postgres ``ON CONFLICT``
    statements (`/root/reference/src/dfx_etl/database/__init__.py:92-127`:
    ``on_conflict_do_update`` on the primary key, ``on_conflict_do_nothing``);
    this emits the set-based form of the same statements —
    ``INSERT … SELECT … FROM staging ON CONFLICT (keys) DO
    UPDATE SET c = EXCLUDED.c / DO NOTHING`` — for ``postgresql`` URLs,
    and an ANSI/Derby ``MERGE INTO … USING staging`` otherwise. One
    statement against a bulk-loaded staging table instead of row-wise
    VALUES batches: at scale the executors stream the staging load in
    parallel and the database resolves conflicts once, set-wise.
    """
    staging = staging or f"{table}__stage"
    # Column identifiers are double-quoted: Spark's JDBC writer creates
    # tables with quoted (case-preserved) column names, and an unquoted
    # reference would fold (up on Derby, down on Postgres) and miss.
    q = '"{}"'.format
    non_keys = [c for c in columns if c not in key_cols]
    col_list = ", ".join(q(c) for c in columns)
    if jdbc_dialect(url) == "postgresql":
        stmt = (
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {staging} "
            f"ON CONFLICT ({', '.join(q(c) for c in key_cols)}) DO "
        )
        if insert_only or not non_keys:
            return stmt + "NOTHING"
        sets = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in non_keys)
        return stmt + f"UPDATE SET {sets}"
    on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in key_cols)
    stmt = f"MERGE INTO {table} t USING {staging} s ON {on}"
    if non_keys and not insert_only:
        # SET targets are unqualified per the MERGE grammar (they can
        # only name target columns; Derby rejects a t. prefix).
        sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
        stmt += f" WHEN MATCHED THEN UPDATE SET {sets}"
    src_vals = ", ".join(f"s.{q(c)}" for c in columns)
    return stmt + (
        f" WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({src_vals})"
    )


def jdbc_execute(
    spark: SparkSession,
    url: str,
    sql: str,
    driver: str | None = None,
    **options: str,
) -> int:
    """Run one DDL/DML statement over a driver-side JDBC connection
    (py4j ``java.sql`` — control-plane calls like the MERGE/ON CONFLICT
    statements, never data movement). Connection properties (``user``,
    ``password``, …) pass through ``options``."""
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = _jdbc_connection(spark, url, **options)
    try:
        stmt = conn.createStatement()
        try:
            return stmt.executeUpdate(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: tuple[str, ...],
    driver: str | None = None,
    insert_only: bool = False,
    **options: str,
) -> None:
    """Upsert/insert-ignore into a JDBC table (reference
    ``update_on_conflict`` / ``ignore_on_conflict``,
    `database/__init__.py:92-127`): bulk-load a staging table, run ONE
    dialect-correct conflict statement (``upsert_sql``), drop the
    staging table.

    The target is never read back or rewritten: executors stream only
    the incoming rows, and the database applies the merge set-wise in
    one statement. So the target keeps its DDL (keys, constraints,
    grants), and a load that fails (in the staging write or in the
    statement) leaves its rows as they were; the staging table is
    dropped either way. Derby-tested; the postgresql branch emits the
    reference's ON CONFLICT dialect, every other URL a MERGE (which
    MySQL and SQLite do not accept). Column identifiers are quoted, so
    the target's columns must carry the incoming frame's names exactly
    (as the tables Spark's JDBC writer creates do). Key columns must be
    comparable in the database: Spark's writer types Derby strings as
    CLOB, so a string key there needs ``createTableColumnTypes`` (e.g.
    ``"code VARCHAR(64)"``) among ``options``.

    The staging load is key-deduped first (per key, the first row in
    ascending order of the non-key columns): both conflict dialects
    require the source to be key-unique — Postgres aborts with "ON
    CONFLICT DO UPDATE command cannot affect row a second time", MERGE
    with a cardinality violation. ``options`` are connection/writer
    properties (``user``, ``password``, …) forwarded to every leg.

    Table absence is decided by an explicit metadata probe
    (``jdbc_table_exists``), never by catching a failed call, so a
    transient connection error against an existing table raises.
    """
    from ..operators.indicator import dedup_first

    staging = f"{table}__stage"
    spark = df.sparkSession
    non_keys = [c for c in df.columns if c not in key_cols]
    if non_keys:
        # deterministic keep-first: total order over the value columns
        df = dedup_first(df, list(key_cols), non_keys)
    else:
        df = df.dropDuplicates(list(key_cols))  # key-only rows: all equal
    if not jdbc_table_exists(spark, url, table, driver=driver, **options):
        write_jdbc(df, url, table, mode="overwrite", driver=driver, **options)
        return
    try:
        write_jdbc(df, url, staging, mode="overwrite", driver=driver, **options)
        jdbc_execute(
            spark,
            url,
            upsert_sql(
                url,
                table,
                tuple(df.columns),
                tuple(key_cols),
                insert_only=insert_only,
                staging=staging,
            ),
            driver=driver,
            **options,
        )
    finally:
        # A staging write that failed before creating the table leaves
        # nothing to drop; probing first keeps its error the one raised.
        if jdbc_table_exists(spark, url, staging, driver=driver, **options):
            jdbc_execute(
                spark, url, f"DROP TABLE {staging}", driver=driver, **options
            )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted managed table (`saveAsTable`).

    Bucketing is the 100 TB lever for fact–fact joins: two tables
    bucketed on the same key into the same bucket count join with NO
    shuffle (and no sort, when also sorted). Requires the metastore
    catalog, hence ``saveAsTable`` rather than a path write.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)
