"""JDBC load-path tests against embedded Derby (bundled with Spark —
no external database needed). Models the reference's relational load
layer: plain load, parallel partitioned read, upsert and insert-ignore
merges (`database/__init__.py:60-127`)."""

from __future__ import annotations

import pytest

from dfx_indicators_etl_spark.sources import sinks

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


@pytest.fixture()
def base_rows(spark):
    return spark.createDataFrame(
        [(1, "alpha", 10.0), (2, "beta", 20.0), (3, "gamma", 30.0)],
        "id bigint, name string, value double",
    )


def test_jdbc_roundtrip(spark, derby_url, base_rows):
    sinks.write_jdbc(base_rows, derby_url, "obs", mode="overwrite", driver=DRIVER)
    back = sinks.read_jdbc(spark, derby_url, "obs", driver=DRIVER)
    assert sorted((r.id, r.name, r.value) for r in back.collect()) == [
        (1, "alpha", 10.0),
        (2, "beta", 20.0),
        (3, "gamma", 30.0),
    ]


def test_jdbc_partitioned_read(spark, derby_url, base_rows):
    sinks.write_jdbc(base_rows, derby_url, "obs2", mode="overwrite", driver=DRIVER)
    back = sinks.read_jdbc(
        spark,
        derby_url,
        "obs2",
        driver=DRIVER,
        partition_column="id",
        lower_bound=1,
        upper_bound=4,
        num_partitions=3,
    )
    assert back.rdd.getNumPartitions() == 3
    assert back.count() == 3


def test_jdbc_table_exists_probe(spark, derby_url, base_rows):
    # Metadata probe distinguishes "absent" from "read failed" — the
    # upsert must never treat a connection error as an empty table.
    assert not sinks.jdbc_table_exists(spark, derby_url, "nope", driver=DRIVER)
    sinks.write_jdbc(base_rows, derby_url, "probed", mode="overwrite", driver=DRIVER)
    assert sinks.jdbc_table_exists(spark, derby_url, "probed", driver=DRIVER)
    # Case foldings resolve to the same physical table.
    assert sinks.jdbc_table_exists(spark, derby_url, "PROBED", driver=DRIVER)


def test_jdbc_upsert_propagates_connection_errors(spark, base_rows):
    # A dead database must raise, not fall through to a destructive
    # first-load overwrite.
    with pytest.raises(Exception, match="(?i)derby|connect|database"):
        sinks.jdbc_upsert(
            base_rows,
            "jdbc:derby:/nonexistent/denied/db",  # no ;create=true
            "merged",
            ("id",),
            driver=DRIVER,
        )


def test_jdbc_upsert_incoming_wins(spark, derby_url, base_rows):
    sinks.jdbc_upsert(base_rows, derby_url, "merged", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "beta2", 99.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    )
    sinks.jdbc_upsert(incoming, derby_url, "merged", ("id",), driver=DRIVER)
    back = sinks.read_jdbc(spark, derby_url, "merged", driver=DRIVER)
    rows = {r.id: (r.name, r.value) for r in back.collect()}
    assert rows == {
        1: ("alpha", 10.0),
        2: ("beta2", 99.0),  # conflict: incoming wins
        3: ("gamma", 30.0),
        4: ("delta", 40.0),
    }


def test_jdbc_insert_ignore_existing_wins(spark, derby_url, base_rows):
    sinks.jdbc_upsert(base_rows, derby_url, "kept", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "beta2", 99.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    )
    sinks.jdbc_upsert(
        incoming, derby_url, "kept", ("id",), driver=DRIVER, insert_only=True
    )
    back = sinks.read_jdbc(spark, derby_url, "kept", driver=DRIVER)
    rows = {r.id: (r.name, r.value) for r in back.collect()}
    assert rows == {
        1: ("alpha", 10.0),
        2: ("beta", 20.0),  # conflict: existing wins
        3: ("gamma", 30.0),
        4: ("delta", 40.0),
    }


def test_streaming_foreachbatch_jdbc_upsert(spark, derby_url, tmp_path):
    """Streaming → relational serving table: an update-mode windowed
    aggregate upserts into Derby per micro-batch via foreachBatch +
    jdbc_upsert — the production path from the event stream to the
    reference's relational load layer. The final table must equal the
    batch aggregate (update-mode re-emissions are full per-key values,
    so key-wise upsert converges to the batch answer)."""
    from pyspark.sql import functions as F

    from dfx_indicators_etl_spark import streaming

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        ("click", "2024-01-01 10:05:00", 1.0),
        ("click", "2024-01-01 10:25:00", 2.0),
        ("view", "2024-01-01 10:40:00", 5.0),
        ("click", "2024-01-01 11:15:00", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(str(tmp_path / "stage"))
    import shutil as sh

    part = next(
        p for p in (tmp_path / "stage").iterdir() if p.suffix == ".parquet"
    )
    sh.copy(part, src / "f1.parquet")

    stream = (
        spark.readStream.schema("event_type string, ts timestamp, value double")
        .format("parquet")
        .load(str(src))
    )
    agg = streaming.windowed_event_counts(stream, window="1 hour", watermark="2 hours")

    def land(batch_df, batch_id):
        # Spark creates Derby string columns as CLOB, which Derby cannot
        # compare; the MERGE's ON clause needs a comparable key type.
        sinks.jdbc_upsert(
            batch_df,
            derby_url,
            "served",
            key_cols=("window_start", "event_type"),
            driver=DRIVER,
            createTableColumnTypes="event_type VARCHAR(64)",
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()

    back = sinks.read_jdbc(spark, derby_url, "served", driver=DRIVER)
    back = back.select(
        *[back[c].alias(c.lower()) for c in back.columns]
    )  # Derby folds identifier case
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in back.collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "click"): (2, 3.0),
        ("2024-01-01 10:00:00", "view"): (1, 5.0),
        ("2024-01-01 11:00:00", "click"): (1, 4.0),
    }


# --- dialect-correct upsert SQL (VERDICT r5 directive 6) -----------------


def test_upsert_sql_postgres_dialect():
    stmt = sinks.upsert_sql(
        "jdbc:postgresql://db:5432/etl",
        "observation",
        ("id", "name", "value"),
        ("id",),
    )
    assert stmt == (
        'INSERT INTO observation ("id", "name", "value") '
        'SELECT "id", "name", "value" FROM observation__stage '
        'ON CONFLICT ("id") DO UPDATE SET '
        '"name" = EXCLUDED."name", "value" = EXCLUDED."value"'
    )


def test_upsert_sql_postgres_insert_only():
    stmt = sinks.upsert_sql(
        "jdbc:postgresql://db/etl",
        "indicator",
        ("code", "name"),
        ("code",),
        insert_only=True,
    )
    assert stmt == (
        'INSERT INTO indicator ("code", "name") '
        'SELECT "code", "name" FROM indicator__stage '
        'ON CONFLICT ("code") DO NOTHING'
    )


def test_upsert_sql_merge_dialect():
    stmt = sinks.upsert_sql(
        "jdbc:derby:/tmp/db",
        "obs",
        ("id", "name", "value"),
        ("id",),
    )
    assert stmt == (
        'MERGE INTO obs t USING obs__stage s ON t."id" = s."id" '
        'WHEN MATCHED THEN UPDATE SET "name" = s."name", "value" = s."value" '
        'WHEN NOT MATCHED THEN INSERT ("id", "name", "value") '
        'VALUES (s."id", s."name", s."value")'
    )


def test_upsert_sql_merge_insert_only_has_no_update_clause():
    stmt = sinks.upsert_sql(
        "jdbc:derby:/tmp/db", "obs", ("id", "name"), ("id",), insert_only=True
    )
    assert "WHEN MATCHED" not in stmt and "WHEN NOT MATCHED" in stmt


def test_jdbc_upsert_statement_merges_on_derby(spark, derby_url, base_rows):
    """The staging-statement upsert executes end-to-end on Derby: the
    target is never read back or rewritten, the MERGE resolves
    conflicts set-wise in the database."""
    sinks.jdbc_upsert(base_rows, derby_url, "mobs", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "BETA", 99.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    )
    sinks.jdbc_upsert(incoming, derby_url, "mobs", ("id",), driver=DRIVER)
    back = sinks.read_jdbc(spark, derby_url, "mobs", driver=DRIVER)
    assert sorted((r.id, r.name, r.value) for r in back.collect()) == [
        (1, "alpha", 10.0),
        (2, "BETA", 99.0),
        (3, "gamma", 30.0),
        (4, "delta", 40.0),
    ]
    # staging table cleaned up
    assert not sinks.jdbc_table_exists(spark, derby_url, "mobs__stage", driver=DRIVER)


def test_jdbc_upsert_statement_insert_only_on_derby(spark, derby_url, base_rows):
    sinks.jdbc_upsert(base_rows, derby_url, "iobs", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "BETA", 99.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    )
    sinks.jdbc_upsert(
        incoming, derby_url, "iobs", ("id",), driver=DRIVER, insert_only=True
    )
    back = sinks.read_jdbc(spark, derby_url, "iobs", driver=DRIVER)
    assert sorted((r.id, r.name) for r in back.collect()) == [
        (1, "alpha"),
        (2, "beta"),  # existing wins
        (3, "gamma"),
        (4, "delta"),  # new key inserted
    ]
    assert not sinks.jdbc_table_exists(spark, derby_url, "iobs__stage", driver=DRIVER)


def test_jdbc_upsert_dedupes_staging(spark, derby_url, base_rows):
    """Duplicate keys in the incoming frame must not abort the MERGE
    (cardinality violation) / ON CONFLICT (affect-row-twice): the
    staging load is key-deduped deterministically first."""
    sinks.jdbc_upsert(base_rows, derby_url, "dobs", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "BETA", 99.0), (2, "ZETA", 1.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    )
    sinks.jdbc_upsert(incoming, derby_url, "dobs", ("id",), driver=DRIVER)
    back = sinks.read_jdbc(spark, derby_url, "dobs", driver=DRIVER)
    assert sorted((r.id, r.name, r.value) for r in back.collect()) == [
        (1, "alpha", 10.0),
        (2, "BETA", 99.0),  # keep-first under (name, value) order
        (3, "gamma", 30.0),
        (4, "delta", 40.0),
    ]


def test_jdbc_upsert_failure_leaves_target_unchanged(spark, derby_url, base_rows):
    """An incoming frame that raises mid-load must not touch the target:
    the staging write fails before the conflict statement runs, so no
    row is updated or lost, and the staging table is dropped."""
    from pyspark.sql import functions as F

    sinks.jdbc_upsert(base_rows, derby_url, "fobs", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "BETA", 99.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    ).withColumn(
        "name",
        F.when(F.col("id") == 4, F.raise_error(F.lit("bad row"))).otherwise(
            F.col("name")
        ),
    )
    with pytest.raises(Exception, match="bad row"):
        sinks.jdbc_upsert(incoming, derby_url, "fobs", ("id",), driver=DRIVER)
    back = sinks.read_jdbc(spark, derby_url, "fobs", driver=DRIVER)
    assert sorted((r.id, r.name, r.value) for r in back.collect()) == [
        (1, "alpha", 10.0),
        (2, "beta", 20.0),
        (3, "gamma", 30.0),
    ]
    assert not sinks.jdbc_table_exists(spark, derby_url, "fobs__stage", driver=DRIVER)


def test_jdbc_upsert_keeps_target_primary_key(spark, derby_url, base_rows):
    """A target created by DDL keeps its primary key across upserts: the
    table is merged into, never dropped and re-created."""
    sinks.jdbc_execute(
        spark,
        derby_url,
        'CREATE TABLE pobs ("id" BIGINT NOT NULL PRIMARY KEY, '
        '"name" VARCHAR(32), "value" DOUBLE)',
        driver=DRIVER,
    )
    sinks.jdbc_upsert(base_rows, derby_url, "pobs", ("id",), driver=DRIVER)
    incoming = spark.createDataFrame(
        [(2, "BETA", 99.0), (4, "delta", 40.0)],
        "id bigint, name string, value double",
    )
    sinks.jdbc_upsert(incoming, derby_url, "pobs", ("id",), driver=DRIVER)
    back = sinks.read_jdbc(spark, derby_url, "pobs", driver=DRIVER)
    assert sorted((r.id, r.name, r.value) for r in back.collect()) == [
        (1, "alpha", 10.0),
        (2, "BETA", 99.0),
        (3, "gamma", 30.0),
        (4, "delta", 40.0),
    ]
    conn = sinks._jdbc_connection(spark, derby_url)
    try:
        rs = conn.getMetaData().getPrimaryKeys(None, None, "POBS")
        keys = []
        while rs.next():
            keys.append(rs.getString("COLUMN_NAME"))
        rs.close()
    finally:
        conn.close()
    assert keys == ["id"]


def test_jdbc_connection_options_travel_as_properties(spark, derby_url, base_rows):
    """user/password reach DriverManager as a Properties object (not
    silently dropped): Derby without auth accepts and ignores them, so
    the whole options-forwarding path runs end-to-end (ADVICE r6)."""
    creds = {"user": "app", "password": "secret"}
    sinks.jdbc_upsert(
        base_rows, derby_url, "cobs", ("id",), driver=DRIVER, **creds
    )
    assert sinks.jdbc_table_exists(
        spark, derby_url, "cobs", driver=DRIVER, **creds
    )
    assert (
        sinks.jdbc_execute(
            spark,
            derby_url,
            "UPDATE cobs SET \"value\" = 0 WHERE \"id\" = 1",
            driver=DRIVER,
            **creds,
        )
        == 1
    )
