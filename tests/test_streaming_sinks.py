"""Batch D/E: streaming queries vs oracles, sink round trips, bucketed
join shuffle-elimination, and storage-root resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dfx_indicators_etl_spark.plans import ORACLES, QUERIES
from dfx_indicators_etl_spark.sources import read_table, sinks

from .test_analytics import _normalize

STREAM_SINK_KEYS = [k for k in QUERIES if k.startswith(("stream_", "sink_"))]


@pytest.mark.parametrize("name", STREAM_SINK_KEYS)
def test_matches_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in df.collect()]
    if name not in ORACLES:
        assert len(spark_rows) >= 0
        return
    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(df.columns) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows)
    assert _normalize(spark_rows, df.columns) == _normalize(duck_rows, duck_cols)


def test_stream_dedup_equals_distinct_keys(spark, sf_dir):
    """Surviving key set must equal batch DISTINCT regardless of which
    duplicate row won."""
    got = {tuple(r) for r in QUERIES["stream_dedup"](spark, sf_dir).collect()}
    want = {
        tuple(r)
        for r in read_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_stream_minhash_dedup_matches_batch_signatures(spark, sf_dir):
    """The streaming survivors' signature-key set must equal the batch
    MinHash signature key set (same shingle ids, same per-permutation
    hashing), and the surviving-row count must equal the number of
    distinct keys — whichever doc of a duplicate group won."""
    from dfx_indicators_etl_spark.operators.dedup import (
        NUM_PERMS,
        hashed_gram_ids,
        minhash_signatures_portable,
        token_hashes,
    )

    out = QUERIES["stream_minhash_dedup"](spark, sf_dir).collect()
    got_keys = {(r["sig_kind"], r["sig_key"]) for r in out}
    assert len(out) == len(got_keys)  # one survivor per key

    docs = read_table(spark, sf_dir, "documents")
    # Batch equivalent of the streaming key (the registered query runs
    # the PORTABLE family since r7): the comma-joined 64-perm K–M
    # signature for shingle-able docs, md5 of the text otherwise.
    sigs = minhash_signatures_portable(docs, n=3)
    assert NUM_PERMS == 64
    minhash_keys = {
        ("minhash", r["k"])
        for r in sigs.select(
            F.array_join("signature", ",").alias("k")
        ).collect()
    }
    short = docs.select(
        "doc_id", "text", token_hashes("text").alias("__th")
    ).select("text", hashed_gram_ids(F.col("__th"), 3).alias("__g"))
    exact_keys = {
        ("exact", r["k"])
        for r in short.filter(F.size("__g") == 0)
        .select(F.md5("text").alias("k"))
        .collect()
    }
    assert got_keys == minhash_keys | exact_keys


def test_dataset_version_format():
    from datetime import date

    assert sinks.dataset_version(date(2026, 8, 13)) == "v26-08-13"


def test_resolve_storage_root(monkeypatch):
    monkeypatch.setenv("LOCAL_STORAGE_PATH", "/data/root")
    assert sinks.resolve_storage_root() == "/data/root"
    monkeypatch.delenv("LOCAL_STORAGE_PATH")
    monkeypatch.setenv("AZURE_STORAGE_ACCOUNT", "acct")
    monkeypatch.setenv("AZURE_STORAGE_CONTAINER", "c")
    # jar-less harness: the constructed URI must surface in the error
    with pytest.raises(NotImplementedError, match="abfss://c@acct"):
        sinks.resolve_storage_root()
    monkeypatch.delenv("AZURE_STORAGE_ACCOUNT")
    with pytest.raises(KeyError):
        sinks.resolve_storage_root()


def test_resolve_storage_root_returns_abfss_when_connector_present(monkeypatch):
    """With hadoop-azure on the classpath the Azure configuration
    resolves to the container URI and flows through the same
    path-composition code as a local root."""
    monkeypatch.delenv("LOCAL_STORAGE_PATH", raising=False)
    monkeypatch.setenv("AZURE_STORAGE_ACCOUNT", "acct")
    monkeypatch.setenv("AZURE_STORAGE_CONTAINER", "c")
    monkeypatch.setattr(sinks, "_abfs_connector_available", lambda: True)
    root = sinks.resolve_storage_root()
    assert root == "abfss://c@acct.dfs.core.windows.net"


def test_abfss_uri_shape():
    assert (
        sinks.abfss_uri("myacct", "data", "inputs/raw.csv")
        == "abfss://data@myacct.dfs.core.windows.net/inputs/raw.csv"
    )
    assert (
        sinks.abfss_uri("a", "c") == "abfss://c@a.dfs.core.windows.net"
    )


def test_dataset_path_composition_is_backend_agnostic(spark, tmp_path):
    """write_dataset composes <root>/<version>/<folder>/<name>.parquet
    by string join — identical for file paths and abfss:// roots. The
    local leg writes for real; the abfss leg checks the composed target
    (the write itself needs the connector)."""
    df = spark.range(3).withColumnRenamed("id", "v")
    local = sinks.write_dataset(df, str(tmp_path), "obs", version="v26-08-14")
    assert local == f"{tmp_path}/v26-08-14/obs.parquet"
    assert spark.read.parquet(local).count() == 3

    root = sinks.abfss_uri("acct", "c")
    version = sinks.dataset_version()
    expected = f"{root}/{version}/raw/obs.parquet"
    composed = "/".join(
        p for p in (root, version, "raw", "obs.parquet") if p
    )
    assert composed == expected


def test_read_dataset_rejects_unknown_extension(spark):
    with pytest.raises(ValueError):
        sinks.read_dataset(spark, "/x/file.zip")


def test_read_dataset_dispatches_xlsx(spark, tmp_path):
    from dfx_indicators_etl_spark.sources import xlsx

    path = str(tmp_path / "d.xlsx")
    xlsx.write_xlsx(path, {"S": [["k", "v"], ["a", 1.0]]})
    df = sinks.read_dataset(spark, path)
    assert [(r.k, r.v) for r in df.collect()] == [("a", 1.0)]


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key must sort-merge join with no
    Exchange — the fact–fact join strategy at 100 TB."""
    # saveAsTable lands in the default warehouse dir (gitignored).
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    sinks.write_bucketed_table(orders, "t_orders_b", ("o_orderkey",), num_buckets=4)
    sinks.write_bucketed_table(
        lineitem, "t_lineitem_b", ("l_orderkey",), num_buckets=4
    )
    # At test SF the planner would broadcast; disable it so the plan
    # shows the at-scale strategy (fact sides too big to broadcast).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # Bucket-local join: neither side shuffles.
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_stream_sessionize_matches_batch_model(spark, sf_dir):
    """Every closed session emitted by the stateful operator must match
    the batch gaps-and-islands sessionization computed in plain Python;
    only each user's final (still-open) session may be withheld."""
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["stream_sessionize"](spark, sf_dir).collect()
    }
    events = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .collect()
    )
    per_user: dict[int, list] = {}
    for r in events:
        per_user.setdefault(r.user_id, []).append(r.ts)
    want = set()
    gap_us = 30 * 60 * 1_000_000
    to_us = lambda t: int(t.timestamp() * 1_000_000)  # noqa: E731
    open_sessions = set()
    for uid, stamps in per_user.items():
        stamps.sort()
        start = last = stamps[0]
        n = 1
        for t in stamps[1:]:
            if to_us(t) - to_us(last) > gap_us:
                want.add((uid, to_us(start), to_us(last), n))
                start, n = t, 0
            n += 1
            last = t
        open_sessions.add((uid, to_us(start), to_us(last), n))  # final session
    assert got <= want | open_sessions  # nothing invented
    assert got >= want - open_sessions or len(got) >= len(want) - len(per_user)


def test_load_m49(spark, tmp_path):
    """UNSD-format CSV → canonical mapping frame → country dim."""
    from dfx_indicators_etl_spark.sources.m49 import load_m49, m49_country_dim

    csv = tmp_path / "m49.csv"
    header = (
        "Global Code;Global Name;Region Code;Region Name;Sub-region Code;"
        "Sub-region Name;Intermediate Region Code;Intermediate Region Name;"
        "Country or Area;M49 Code;ISO-alpha2 Code;ISO-alpha3 Code;"
        "Least Developed Countries (LDC);"
        "Land Locked Developing Countries (LLDC);"
        "Small Island Developing States (SIDS)"
    )
    csv.write_text(
        header + "\n"
        "001;World;002;Africa;015;Northern Africa;;;Algeria;012;DZ;DZA;;;\n"
        "001;World;002;Africa;202;Sub-Saharan Africa;014;Eastern Africa;"
        "Somalia;706;SO;SOM;x;;\n"
        "001;World;;;;;;;Antarctica;010;AQ;;;;\n"  # no ISO3 -> dropped
    )
    m49 = load_m49(spark, str(csv))
    rows = {r.iso_alpha_3: r for r in m49.collect()}
    assert set(rows) == {"DZA", "SOM"}
    assert rows["DZA"].m49 == "12" and rows["DZA"].ldc is False
    assert rows["SOM"].ldc is True and rows["SOM"].subregion == "Sub-Saharan Africa"

    dim = {r.iso_3: r for r in m49_country_dim(m49).collect()}
    assert dim["SOM"].id == 706 and dim["DZA"].iso_2 == "DZ"


def test_vendored_m49_parity(spark):
    """The vendored public UNSD table (VERDICT r7 #4): ``load_m49()``
    works with NO path, and the driver-side helpers honor the
    reference's ``get_country_metadata`` column contract
    (utils.py:84-155) — name ↔ m49 ↔ iso-alpha-2 ↔ iso-alpha-3,
    Namibia's 'NA' kept as a string, zero-padded m49 codes stripped."""
    from dfx_indicators_etl_spark.sources.m49 import (
        get_country_metadata,
        load_m49,
        replace_country_metadata,
    )

    names = get_country_metadata("name", sort=False)
    m49s = get_country_metadata("m49", sort=False)
    iso2 = get_country_metadata("iso-alpha-2", sort=False)
    iso3 = get_country_metadata("iso-alpha-3", sort=False)
    # one value per row in every field, rows aligned across fields
    assert len(names) == len(m49s) == len(iso2) == len(iso3) >= 240
    by_iso3 = dict(zip(iso3, names))
    assert by_iso3["DZA"] == "Algeria" and by_iso3["NAM"] == "Namibia"
    assert "NA" in iso2  # Namibia survives pandas-style NaN parsing
    assert dict(zip(iso3, m49s))["DZA"] == "12"  # '012' → '12'
    assert all(m.isdigit() and not m.startswith("0") for m in m49s if m)
    # the reference's own doctest for replace_country_metadata
    assert replace_country_metadata(
        ["DZA", None, "AUT", "usa"], "iso-alpha-3", "name"
    ) == ["Algeria", None, "Austria", None]
    # default sort=True mirrors the reference
    assert get_country_metadata("iso-alpha-3") == sorted(iso3)

    # the no-arg Spark frame agrees with the driver-side lists
    frame = load_m49(spark)
    rows = {r.iso_alpha_3: r for r in frame.collect()}
    with_iso3 = [i for i in iso3 if i]
    assert set(rows) == set(with_iso3) and len(rows) == len(with_iso3)
    assert rows["NAM"].iso_alpha_2 == "NA"
    assert rows["DZA"].m49 == "12" and rows["DZA"].region == "Africa"
    assert rows["SOM"].ldc is True and rows["DEU"].ldc is False


def test_hll_sketch_accuracy(spark, sf_dir):
    """Merged daily sketches estimate exact per-type user counts ±5%."""
    got = {
        r.event_type: r.approx_users
        for r in QUERIES["q_hll_sketch"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n
        for r in read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert abs(got[k] - n) <= max(1, 0.05 * n), (k, got[k], n)


def test_compact_dataset(spark, sf_dir, tmp_path):
    """Many small files → target_partitions files, data intact."""
    path = str(tmp_path / "frag")
    src = read_table(spark, sf_dir, "events")
    n_rows = src.count()
    src.repartition(16).write.parquet(path)
    n_files = sinks.compact_dataset(spark, path, target_partitions=2)
    assert n_files == 2
    assert spark.read.parquet(path).count() == n_rows


def test_compact_dataset_failed_swap_keeps_live_copy(spark, tmp_path, monkeypatch):
    """A swap that fails to rename the compacted copy in must leave the
    live dataset readable at its path, with every row."""
    import os

    path = str(tmp_path / "frag")
    spark.range(100).repartition(8).write.parquet(path)
    rename = os.rename

    def failing_rename(src, dst):
        if str(src).endswith("__compacting"):
            raise OSError("rename failed")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="rename failed"):
        sinks.compact_dataset(spark, path, target_partitions=2)
    monkeypatch.setattr(os, "rename", rename)
    assert spark.read.parquet(path).count() == 100


def test_windowed_agg_invariant_across_micro_batches(spark, sf_dir, tmp_path):
    """The same windowed plan must produce identical results whether the
    backlog drains in ONE batch or file-by-file (maxFilesPerTrigger=1) —
    the state/watermark machinery, not batch boundaries, defines the
    answer. Stages the events table as several time-ordered files and
    compares against the single-batch result."""
    from dfx_indicators_etl_spark import streaming

    events = read_table(spark, sf_dir, "events").orderBy("ts")
    staged = str(tmp_path / "staged_events")
    # Time-ordered ranges so micro-batches arrive roughly in event order
    # (file source processes files in discovery order).
    events.withColumn(
        "part", F.ntile(4).over(__import__("pyspark").sql.Window.orderBy("ts"))
    ).write.partitionBy("part").parquet(staged)

    def run(landing: str, max_files: int | None) -> list[tuple]:
        reader = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        stream = reader.load(landing)
        windowed = streaming.windowed_event_counts(
            stream, window="1 hour", watermark="2 hours"
        )
        out = streaming.run_available_now(windowed, output_mode="complete")
        return sorted(tuple(r) for r in out.collect())

    one_batch = run(f"{staged}/part=1", None)  # smoke: subset drains
    assert len(one_batch) > 0
    all_at_once = run(staged, None)
    file_by_file = run(staged, 1)
    assert file_by_file == all_at_once


def test_foreachbatch_versioned_dataset_load(spark, sf_dir, tmp_path):
    """foreachBatch bridges streaming into the batch writers: each
    micro-batch appends into a versioned dataset via write_dataset —
    the streaming path to the reference's storage layout."""
    from dfx_indicators_etl_spark import streaming

    stream = streaming.read_events_stream(spark, sf_dir)
    root = str(tmp_path / "store")

    def land(batch_df, batch_id: int) -> None:
        sinks.write_dataset(
            batch_df, root, "events", folder="landed",
            version="v26-08-13", mode="append",
        )

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "drain timed out"
    q.stop()
    landed = spark.read.parquet(f"{root}/v26-08-13/landed/events.parquet")
    assert landed.count() == read_table(spark, sf_dir, "events").count()


def test_latest_version(tmp_path):
    assert sinks.latest_version(str(tmp_path)) is None
    for v in ("v25-12-31", "v26-08-01", "v26-08-13", "not-a-version"):
        (tmp_path / v).mkdir()
    assert sinks.latest_version(str(tmp_path)) == "v26-08-13"


def test_stream_upsert_sink_incremental_restart(spark, tmp_path):
    """The CDC-merge property: a second drain from the SAME checkpoint
    processes only the newly landed file, its update-mode emissions
    carry the cumulative aggregate (state persists across restarts),
    and latest-wins resolution equals a batch recompute over ALL data."""
    from dfx_indicators_etl_spark import streaming

    src = tmp_path / "src"
    src.mkdir()
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "event_type string, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        import shutil as sh

        stage = tmp_path / "stage" / name
        part = next(p for p in stage.iterdir() if p.suffix == ".parquet")
        sh.copy(part, src / f"{name}.parquet")

    write_file("f1", [
        ("click", "2024-01-01 10:05:00", 1.0),
        ("click", "2024-01-01 10:25:00", 2.0),
        ("view", "2024-01-01 11:10:00", 5.0),
    ])

    def drain():
        stream = (
            spark.readStream.schema("event_type string, ts timestamp, value double")
            .format("parquet")
            .load(str(src))
        )
        q = streaming.stream_upsert_aggregate(stream, table, ckpt)
        assert q.awaitTermination(120)
        q.stop()

    drain()
    # second file lands: one update to an EXISTING window, one new window
    write_file("f2", [
        ("click", "2024-01-01 10:45:00", 4.0),
        ("purchase", "2024-01-01 11:30:00", 7.0),
    ])
    drain()

    resolved = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streaming.read_latest_wins(
            spark, table, ("window_start", "event_type")
        ).collect()
    }
    assert resolved[("2024-01-01 10:00:00", "click")] == (3, 7.0)  # cumulative
    assert resolved[("2024-01-01 11:00:00", "view")] == (1, 5.0)
    assert resolved[("2024-01-01 11:00:00", "purchase")] == (1, 7.0)
    assert len(resolved) == 3


def test_stream_anomaly_matches_python_model(spark, sf_dir):
    """The EWMA anomaly stream must equal the pure-Python recurrence
    over (ts, event_id)-ordered events per user."""
    from dfx_indicators_etl_spark.plans import QUERIES

    got = {
        (r["user_id"], r["event_id"]): (r["value"], r["zscore"])
        for r in QUERIES["stream_anomaly"](spark, sf_dir).collect()
    }
    rows = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    import math

    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    want = {}
    alpha, threshold, warmup = 0.3, 3.0, 5
    for uid, evs in per_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        mean, var, n = 0.0, 0.0, 0
        for r in evs:
            v = float(r["value"])
            if n >= warmup:
                std = math.sqrt(var)
                if std > 0 and abs(v - mean) > threshold * std:
                    want[(uid, r["event_id"])] = (v, round((v - mean) / std, 4))
            if n == 0:
                mean, var = v, 0.0
            else:
                d = v - mean
                mean = mean + alpha * d
                var = (1.0 - alpha) * (var + alpha * d * d)
            n += 1
    assert got == want
    assert len(got) > 0  # the synthetic data does contain outliers


def test_interval_ms_parses_spark_style_strings():
    from dfx_indicators_etl_spark.streaming.ops import interval_ms

    assert interval_ms("2 hours") == 2 * 3600 * 1000
    assert interval_ms("30 seconds") == 30_000
    assert interval_ms("1 minute") == 60_000
    assert interval_ms("500 milliseconds") == 500
    assert interval_ms("1 day") == 86_400_000
    with pytest.raises(ValueError):
        interval_ms("2 fortnights")


def test_read_latest_wins_rejects_compacted_partitions(spark, tmp_path):
    """A batch=<token>-c<hex> partition has no update-order position;
    the merge-on-read must fail loudly, not pick a nondeterministic
    'latest' (ADVICE r5)."""
    from dfx_indicators_etl_spark import streaming

    table = str(tmp_path / "upsert")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    df.write.parquet(f"{table}/batch=abc123-0")
    df.write.parquet(f"{table}/batch=abc123-c9f2e1d4")
    with pytest.raises(Exception, match="non-numeric batch sequence"):
        streaming.read_latest_wins(spark, table, ("k",)).collect()


def test_late_data_audit_restart_and_idempotence(spark, sf_dir, tmp_path):
    """The watermark audit survives a mid-backlog restart: draining 3
    of 6 staged arrival batches, then resuming with the same
    checkpoint over the full landing dir, yields exactly the one-shot
    accounting — and a re-drain with no new files records nothing."""
    from pathlib import Path

    from dfx_indicators_etl_spark import streaming
    from dfx_indicators_etl_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")

    def run(root: str, hold_back: int = 0):
        landing = f"{root}/landing"
        streaming.stage_arrival_batches(events, landing, n_batches=6)
        held = []
        if hold_back:
            for f in sorted(Path(landing).glob("batch-*.parquet"))[
                -hold_back:
            ]:
                dst = Path(root) / f.name
                stat = f.stat()
                f.rename(dst)
                held.append((dst, stat.st_mtime))
        streaming.run_late_data_audit(
            spark, landing, f"{root}/audit", f"{root}/ckpt",
            delay_minutes=30,
        )
        return landing, held

    # one-shot reference
    ref_root = str(tmp_path / "oneshot")
    run(ref_root)
    ref = sorted(
        map(tuple, spark.read.parquet(f"{ref_root}/audit").collect())
    )
    assert len(ref) == 6
    assert any(r[3] > 0 for r in ref)  # lateness actually exercised

    # restart: drain 3, re-add the held files, resume with same ckpt
    rs_root = str(tmp_path / "restart")
    landing, held = run(rs_root, hold_back=3)
    partial = spark.read.parquet(f"{rs_root}/audit").collect()
    assert len(partial) == 3
    import os

    for f, mtime in held:
        dst = Path(landing) / f.name
        f.rename(dst)
        os.utime(dst, (mtime, mtime))
    streaming.run_late_data_audit(
        spark, landing, f"{rs_root}/audit", f"{rs_root}/ckpt",
        delay_minutes=30,
    )
    resumed = sorted(
        map(tuple, spark.read.parquet(f"{rs_root}/audit").collect())
    )
    assert resumed == ref

    # idempotence: nothing new to drain -> nothing recorded
    streaming.run_late_data_audit(
        spark, landing, f"{rs_root}/audit", f"{rs_root}/ckpt",
        delay_minutes=30,
    )
    again = sorted(
        map(tuple, spark.read.parquet(f"{rs_root}/audit").collect())
    )
    assert again == ref


def test_bitmap_distinct_stream_restart_and_double_append(spark, sf_dir):
    """The bitmap-partial log is exactly-once WITHOUT transactions:
    (a) a drain interrupted after k batches and resumed from the same
    checkpoint converges to the batch answer; (b) appending one
    batch's words TWICE (simulated checkpoint replay) changes nothing
    — OR is idempotent."""
    import shutil as _sh

    from pyspark.sql import functions as F2

    from dfx_indicators_etl_spark import streaming
    from dfx_indicators_etl_spark.plans.streaming_queries import _scratch
    from dfx_indicators_etl_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    want = {
        (r["week"], r["d"])
        for r in events.select(
            F2.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
        )
        .groupBy("week")
        .agg(F2.countDistinct("user_id").alias("d"))
        .collect()
    }
    root = _scratch("dfx_bmp_restart_")
    try:
        landing, state, ckpt = (
            f"{root}/landing",
            f"{root}/state",
            f"{root}/ckpt",
        )
        for b in range(6):
            events.filter(F2.pmod(F2.col("event_id"), F2.lit(6)) == b).coalesce(
                1
            ).write.mode("append").parquet(landing)

        # (a) interrupted drain: first pass sees only 3 landed batches
        # (move 3 files out), then they "arrive" and the drain resumes
        # from the same checkpoint.
        import glob as _glob
        import os as _os

        files = sorted(_glob.glob(f"{landing}/part-*.parquet"))
        held = files[3:]
        for f in held:
            _os.rename(f, f + ".held")
        streaming.incremental_bitmap_distinct(spark, landing, state, ckpt)
        for f in held:
            _os.rename(f + ".held", f)
        streaming.incremental_bitmap_distinct(spark, landing, state, ckpt)
        got = {
            (r["week"], r["weekly_distinct"])
            for r in streaming.read_bitmap_distinct(spark, state).collect()
        }
        assert got == want

        # (b) double-append one batch's words: counts must not move
        one = spark.read.parquet(files[0])
        words = (
            one.select(
                F2.date_trunc("week", "ts").cast("date").alias("week"),
                "user_id",
            )
            .groupBy("week", F2.shiftright("user_id", 6).alias("bkt"))
            .agg(
                F2.expr(
                    "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
                ).alias("word")
            )
        )
        words.write.mode("append").parquet(state)
        again = {
            (r["week"], r["weekly_distinct"])
            for r in streaming.read_bitmap_distinct(spark, state).collect()
        }
        assert again == want
    finally:
        _sh.rmtree(root, ignore_errors=True)


def test_stream_attribution_restart_and_expiry(spark, tmp_path):
    """Last-touch attribution survives a mid-backlog restart (two
    drains from the SAME checkpoint == one uninterrupted drain) and
    the state-eviction semantics are the lookback itself: an 8-day-old
    touch attributes 'direct', a live touch carries across batches."""
    from dfx_indicators_etl_spark import streaming

    schema = (
        "user_id bigint, event_id bigint, event_type string, "
        "ts timestamp, value double"
    )
    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        import shutil as sh

        stage = tmp_path / "stage" / name
        spark.createDataFrame(
            rows,
            "user_id bigint, event_id bigint, event_type string, "
            "ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.suffix == ".parquet")
        sh.copy(part, src / f"{name}.parquet")

    write_file("f1", [
        (1, 10, "click", "2024-01-01 10:00:00", 0.0),
        (1, 11, "purchase", "2024-01-01 10:30:00", 5.0),  # -> click
        (2, 20, "view", "2024-01-01 09:00:00", 0.0),
        (3, 30, "purchase", "2024-01-01 12:00:00", 7.0),  # -> direct
    ])

    def drain(out, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(str(src))
        )
        q = (
            streaming.stream_last_touch_attribution(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "drain timed out"
        q.stop()

    drain("out", "ckpt")
    write_file("f2", [
        (1, 12, "view", "2024-01-01 13:00:00", 0.0),
        (1, 13, "purchase", "2024-01-01 13:30:00", 9.0),  # -> view
        # 8 days after user 2's view: beyond the 7-day lookback
        (2, 21, "purchase", "2024-01-09 09:30:00", 3.0),  # -> direct
    ])
    drain("out", "ckpt")  # SAME checkpoint: resumes, processes only f2

    expect = {
        11: ("click", 5.0),
        13: ("view", 9.0),
        21: ("direct", 3.0),
        30: ("direct", 7.0),
    }
    got = {
        r["event_id"]: (r["touch"], r["value"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expect
    # one uninterrupted drain over the full backlog agrees exactly
    drain("out_oneshot", "ckpt_oneshot")
    oneshot = {
        r["event_id"]: (r["touch"], r["value"])
        for r in spark.read.parquet(str(tmp_path / "out_oneshot")).collect()
    }
    assert oneshot == expect


def test_psi_drift_stream_restart_and_replay_overwrite(spark, sf_dir):
    """The PSI count log is exactly-once via batch-keyed OVERWRITE
    partitions: (a) a drain interrupted after 3 of 6 batches and
    resumed from the same checkpoint converges to the one-shot batch
    report; (b) re-writing one batch's partition (simulated checkpoint
    replay) changes nothing — the directory is overwritten, never
    appended, so counts cannot double."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F2

    from dfx_indicators_etl_spark import streaming
    from dfx_indicators_etl_spark.plans import QUERIES
    from dfx_indicators_etl_spark.plans.streaming_queries import _scratch
    from dfx_indicators_etl_spark.sources import read_table

    want = tuple(QUERIES["q_psi_drift"](spark, sf_dir).collect()[0])
    events = read_table(spark, sf_dir, "events")
    root = _scratch("dfx_psi_restart_")
    try:
        landing, state, ckpt = (
            f"{root}/landing",
            f"{root}/state",
            f"{root}/ckpt",
        )
        for b in range(6):
            events.filter(F2.pmod(F2.col("event_id"), F2.lit(6)) == b).coalesce(
                1
            ).write.mode("append").parquet(landing)

        files = sorted(_glob.glob(f"{landing}/part-*.parquet"))
        held = files[3:]
        # move held files OUT of the landing dir entirely: unlike the
        # bitmap test's in-place rename (harmless there — OR absorbs a
        # double read), additive counts must never see a file twice
        # under two names
        for f in held:
            _os.rename(f, f"{root}/{_os.path.basename(f)}")
        streaming.incremental_psi_drift(spark, landing, state, ckpt)
        mid = streaming.read_psi_drift(spark, state).collect()[0]
        assert mid["n_ref"] + mid["n_cur"] > 0  # partial but readable
        for f in held:
            _os.rename(f"{root}/{_os.path.basename(f)}", f)
        streaming.incremental_psi_drift(spark, landing, state, ckpt)
        got = tuple(streaming.read_psi_drift(spark, state).collect()[0])
        assert got == want

        # (b) replay batch 0: overwrite its partition with the same
        # counts — report must not move
        batch0 = spark.read.parquet(f"{state}/batch_id=0")
        batch0.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            f"{state}/batch_id=0"
        )
        again = tuple(streaming.read_psi_drift(spark, state).collect()[0])
        assert again == want
    finally:
        import shutil as _sh

        _sh.rmtree(root, ignore_errors=True)


def test_weighted_histogram_stream_restart(spark, sf_dir, tmp_path):
    """The weighted-histogram log follows the additive-state replay
    discipline: a drain interrupted after 3 of 6 batches and resumed
    from the same checkpoint converges to the one-shot batch report
    bit-for-bit (decimal partials add exactly)."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F2

    from dfx_indicators_etl_spark import streaming
    from dfx_indicators_etl_spark.plans import QUERIES
    from dfx_indicators_etl_spark.sources import read_table

    want = sorted(
        map(tuple, QUERIES["q_weighted_percentile"](spark, sf_dir).collect()),
        key=repr,
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey"
    )
    landing = str(tmp_path / "landing")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    for b in range(6):
        li.filter(F2.pmod(F2.col("l_orderkey"), F2.lit(6)) == b).coalesce(
            1
        ).write.mode("append").parquet(landing)
    files = sorted(_glob.glob(f"{landing}/part-*.parquet"))
    held = files[3:]
    for f in held:  # move OUT of the dir (additive state — see psi test)
        _os.rename(f, str(tmp_path / _os.path.basename(f)))
    streaming.incremental_weighted_histogram(spark, landing, state, ckpt)
    for f in held:
        _os.rename(str(tmp_path / _os.path.basename(f)), f)
    streaming.incremental_weighted_histogram(spark, landing, state, ckpt)
    got = sorted(
        map(
            tuple,
            streaming.read_weighted_percentiles(
                spark, state, {"wp50": (1, 2), "wp90": (9, 10)}
            ).collect(),
        ),
        key=repr,
    )
    assert got == want


def test_scd2_stream_restart_and_replay_overwrite(spark, sf_dir):
    """The SCD2 change log follows the DERIVED-state replay
    discipline: (a) a drain interrupted after 3 of 6 time slices and
    resumed from the same checkpoint converges to the one-shot batch
    derivation; (b) replaying one batch's partition (simulated
    checkpoint replay) changes nothing — per-batch content is a pure
    function of its slice, and the partition is overwritten, never
    appended."""
    import glob as _glob
    import os as _os

    from dfx_indicators_etl_spark import streaming
    from dfx_indicators_etl_spark.plans.streaming_queries import _scratch
    from dfx_indicators_etl_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    root = _scratch("dfx_scd2_restart_")
    try:
        landing, state, ckpt = (
            f"{root}/landing",
            f"{root}/state",
            f"{root}/ckpt",
        )
        streaming.stage_time_slices(events, landing, n_batches=6)
        # one-shot reference from a separate drain
        streaming.incremental_scd2(
            spark, landing, f"{root}/state_ref", f"{root}/ckpt_ref"
        )
        want = sorted(
            map(tuple, streaming.read_scd2(spark, f"{root}/state_ref").collect()),
            key=repr,
        )

        files = sorted(_glob.glob(f"{landing}/slice-*.parquet"))
        held = files[3:]
        for f in held:  # move OUT of the landing dir (staged-file rule)
            _os.rename(f, f"{root}/{_os.path.basename(f)}")
        streaming.incremental_scd2(spark, landing, state, ckpt)
        mid = streaming.read_scd2(spark, state)
        assert mid.count() > 0  # partial but readable
        for f in held:
            _os.rename(f"{root}/{_os.path.basename(f)}", f)
        streaming.incremental_scd2(spark, landing, state, ckpt)
        got = sorted(
            map(tuple, streaming.read_scd2(spark, state).collect()), key=repr
        )
        assert got == want

        # (b) replay slice 0's partition with identical content
        batch0 = spark.read.parquet(f"{state}/batch_id=0")
        batch0.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            f"{state}/batch_id=0"
        )
        again = sorted(
            map(tuple, streaming.read_scd2(spark, state).collect()), key=repr
        )
        assert again == want
    finally:
        import shutil as _sh

        _sh.rmtree(root, ignore_errors=True)


def test_stream_first_touch_restart_and_write_once(spark, tmp_path):
    """First-touch attribution survives a mid-backlog restart (two
    drains from the SAME checkpoint == one uninterrupted drain) and
    the state is WRITE-ONCE: a later touch never displaces the first
    one, and a purchase before any touch is 'direct' forever-after
    the touch only for later purchases."""
    from dfx_indicators_etl_spark import streaming

    schema = (
        "user_id bigint, event_id bigint, event_type string, "
        "ts timestamp, value double"
    )
    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        import shutil as sh

        stage = tmp_path / "stage" / name
        spark.createDataFrame(
            rows,
            "user_id bigint, event_id bigint, event_type string, "
            "ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.suffix == ".parquet")
        sh.copy(part, src / f"{name}.parquet")

    write_file("f1", [
        (1, 10, "purchase", "2024-01-01 09:00:00", 2.0),  # -> direct (no touch yet)
        (1, 11, "click", "2024-01-01 10:00:00", 0.0),     # FIRST touch
        (1, 12, "purchase", "2024-01-01 10:30:00", 5.0),  # -> click
        (2, 20, "purchase", "2024-01-01 12:00:00", 7.0),  # -> direct
    ])

    def drain(out, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(str(src))
        )
        q = (
            streaming.stream_first_touch_attribution(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "drain timed out"
        q.stop()

    drain("out", "ckpt")
    write_file("f2", [
        (1, 13, "view", "2024-01-02 13:00:00", 0.0),      # later touch: ignored
        (1, 14, "purchase", "2024-01-02 13:30:00", 9.0),  # -> click (STILL)
        (2, 21, "view", "2024-01-02 08:00:00", 0.0),
        (2, 22, "purchase", "2024-01-09 09:30:00", 3.0),  # -> view (no expiry)
    ])
    drain("out", "ckpt")  # SAME checkpoint: resumes, processes only f2

    expect = {
        10: ("direct", 2.0),
        12: ("click", 5.0),
        14: ("click", 9.0),
        20: ("direct", 7.0),
        22: ("view", 3.0),
    }
    got = {
        r["event_id"]: (r["touch"], r["value"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expect
    drain("out_oneshot", "ckpt_oneshot")
    oneshot = {
        r["event_id"]: (r["touch"], r["value"])
        for r in spark.read.parquet(str(tmp_path / "out_oneshot")).collect()
    }
    assert oneshot == expect
