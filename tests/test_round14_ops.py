"""Round-14 additions: DuckDB-vs-fold rounding characterization,
chain-fold NULL degradation, attribution eviction boundary, the
count-min heavy-hitter sketch, and the stream-stream LEFT OUTER join.
"""

import math

from pyspark.sql import functions as F

from dfx_indicators_etl_spark.sources.readers import read_table


def _adversarial_round6_inputs():
    # The same adversarial set test_round6_half_up_matches_spark_round
    # _adversarially uses (exact 6dp halves, ulp neighbors, huge/tiny
    # magnitudes), plus the repr-tie cases the ADVICE r13 note called
    # out explicitly (1.0000005-style shortest-repr ties).
    xs = []
    for base in (0.0, 1.0, 123.456789, 99.9999995, 1e-7, 5e-7):
        for sign in (1.0, -1.0):
            xs.append(sign * base)
    xs += [i * 5e-7 for i in range(1, 40, 2)]
    xs += [-i * 5e-7 for i in range(1, 40, 2)]
    h = 2.5e-6
    xs += [math.nextafter(h, 0.0), h, math.nextafter(h, 1.0)]
    xs += [1e10 + 0.1234565, 1e16, 1e22, 1.5e25, 4.9e-324, 1.7e308]
    xs += [100.0 * (1.0 + k / 1000.0) ** j for k, j in ((7, 3), (-3, 5))]
    # shortest-decimal-repr ties at 6dp (the ADVICE-cited class)
    xs += [1.0000005, 2.0000005, 1.0000015, 100.0000005, -1.0000005]
    return xs


def test_round6_half_up_vs_duckdb_round_characterized():
    # ADVICE r13: the monthly chain's production path is the driver
    # fold (shortest-repr HALF_UP == Spark's Round, pinned
    # bit-identical elsewhere) while the ORACLE is DuckDB's
    # round(DOUBLE, 6), which rounds the SCALED BINARY value. This
    # test evaluates the same adversarial inputs through DuckDB and
    # pins the divergence class: the two roundings agree EVERYWHERE
    # except (a) inputs within a few ulps of an exact 6dp half whose
    # shortest repr falls on the other side of the half, and (b)
    # magnitudes past double 6dp resolution (|x| > 2^53 / 1e6) where
    # no 6dp rounding is meaningful. Notably the repr-tie inputs the
    # ADVICE flagged (1.0000005 etc.) AGREE: Double.toString's
    # shortest repr of such a value ends exactly in ...5 and DuckDB's
    # scaled-binary round lands on the same side. A data-dependent
    # ulp-tie at gate SF would therefore fail the driver stamp loudly
    # rather than pass silently — which is the guard we want.
    import duckdb

    from dfx_indicators_etl_spark.plans.indicator_queries import (
        _round6_half_up,
    )

    con = duckdb.connect()
    divergent = []
    for x in _adversarial_round6_inputs():
        duck = con.execute(
            "SELECT round(CAST(? AS DOUBLE), 6)", [x]
        ).fetchone()[0]
        fold = _round6_half_up(x)
        if duck != fold and not (duck == 0.0 and fold == 0.0):
            divergent.append(x)
    con.close()

    # repr-ties must agree (the specific risk ADVICE raised)
    for tie in (1.0000005, 2.0000005, 1.0000015, 100.0000005, -1.0000005):
        assert tie not in divergent, (
            f"repr-tie {tie!r} diverges between fold and DuckDB"
        )
    # every divergence is in the characterized class
    for x in divergent:
        past_resolution = abs(x) > 2.0**53 / 1e6
        scaled = abs(x) * 1e6
        frac = scaled - math.floor(scaled)
        near_half = abs(frac - 0.5) <= 4 * math.ulp(scaled)
        assert past_resolution or near_half, (
            f"uncharacterized fold-vs-DuckDB divergence at {x!r}"
        )


def test_chain_fold_propagates_null_links():
    # ADVICE r13: a NULL link (zero-quantity denominator) must
    # degrade like the recursive-CTE face — round(idx * NULL, 6) is
    # NULL and stays NULL while the walk continues — not raise
    # TypeError on float(None).
    from dfx_indicators_etl_spark.plans.indicator_queries import (
        _chain_fold_rows,
        _round6_half_up,
    )

    rows = [
        {"comp_year": 2000, "link": 1.02},
        {"comp_year": 2001, "link": None},
        {"comp_year": 2002, "link": 1.01},
    ]
    out = _chain_fold_rows(rows, ["link"])
    assert out == [
        (1999, 100.0),
        (2000, _round6_half_up(100.0 * 1.02)),
        (2001, None),
        (2002, None),
    ]
    # and the DuckDB CTE face degrades identically
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE links AS SELECT * FROM (VALUES "
        "(2000, 1.02), (2001, NULL), (2002, 1.01)"
        ") t(comp_year, link)"
    )
    cte = con.execute(
        """
        WITH RECURSIVE chain(yr, idx) AS (
            SELECT (SELECT MIN(comp_year) - 1 FROM links),
                   CAST(100.0 AS DOUBLE)
            UNION ALL
            SELECT l.comp_year, round(c.idx * l.link, 6)
            FROM chain c JOIN links l ON l.comp_year = c.yr + 1
        )
        SELECT yr, idx FROM chain ORDER BY yr
        """
    ).fetchall()
    con.close()
    assert [tuple(r) for r in cte] == out


# ---------------------------------------------------------------------------
# VERDICT r13 #3: the non-TTL last-touch eviction now uses strict '<'
# like the TTL face (streaming/ops.py). Pin the INCLUSIVE lookback
# boundary end-to-end: a purchase at EXACTLY touch+lookback arriving
# in a later micro-batch (watermark one minute shy of expiry) must
# still credit the touch; one second past must be 'direct' — both
# matching the DuckDB replay of the batch frame.


def _write_events_file(spark, tmp_path, src, name, rows):
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


def test_last_touch_lookback_boundary_matches_duckdb_replay(
    spark, tmp_path
):
    from dfx_indicators_etl_spark import streaming

    src = tmp_path / "src"
    src.mkdir()
    rows_f1 = [
        (1, 10, "click", "2024-01-01 10:00:00", 0.0),  # the touch
        (1, 11, "purchase", "2024-01-01 11:00:00", 5.0),  # in-window
    ]
    # another user's event advances the watermark (2h delay) to
    # 2024-01-08 09:59:00 — ONE MINUTE shy of the touch's expiry, so
    # user 1's state must have survived every eviction check
    rows_f2 = [(2, 20, "view", "2024-01-08 11:59:00", 0.0)]
    rows_f3 = [
        # EXACTLY touch + 7 days: inclusive credit → 'click'
        (1, 12, "purchase", "2024-01-08 10:00:00", 7.0),
        # one second past the lookback → 'direct'
        (1, 13, "purchase", "2024-01-08 10:00:01", 9.0),
    ]
    _write_events_file(spark, tmp_path, src, "f1", rows_f1)
    _write_events_file(spark, tmp_path, src, "f2", rows_f2)
    _write_events_file(spark, tmp_path, src, "f3", rows_f3)

    stream = (
        spark.readStream.schema(
            "user_id bigint, event_id bigint, event_type string, "
            "ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
    )
    q = (
        streaming.stream_last_touch_attribution(stream)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "drain timed out"
    q.stop()

    got = {
        r["event_id"]: r["touch"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {11: "click", 12: "click", 13: "direct"}

    # the DuckDB replay of the batch frame (q_attribution's oracle
    # shape, per-purchase grain) agrees at the boundary
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT user_id, event_id, event_type,"
        " CAST(ts AS TIMESTAMP) AS ts, value FROM (VALUES "
        + ", ".join(
            f"({u}, {eid}, '{et}', '{ts}', {v})"
            for u, eid, et, ts, v in rows_f1 + rows_f2 + rows_f3
        )
        + ") t(user_id, event_id, event_type, ts, value)"
    )
    replay = con.execute(
        """
        WITH seq AS (
            SELECT user_id, event_type, event_id,
                   CAST(date_diff('second',
                        TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT)
                       AS s,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                        THEN struct_pack(
                            t := CAST(date_diff('second',
                                 TIMESTAMP '2024-01-01 00:00:00', ts)
                                 AS BIGINT),
                            e := event_type)
                        END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS lt
            FROM events
            WHERE event_type IN ('purchase', 'click', 'view')
        )
        SELECT event_id,
               coalesce(
                   CASE WHEN lt.t >= s - 7 * 86400 THEN lt.e END,
                   'direct') AS touch
        FROM seq WHERE event_type = 'purchase'
        """
    ).fetchall()
    con.close()
    assert {eid: touch for eid, touch in replay} == got


# ---------------------------------------------------------------------------
# VERDICT r13 #4: the count-min frequency sketch. Accuracy-gated like
# the HLL / approx-percentile sketches: estimates never undercount,
# overestimates stay inside the CMS bound, and the true heavy hitters
# are recalled.


def test_cms_heavy_hitters_accuracy_gate(spark, sf_dir):
    from dfx_indicators_etl_spark.operators import text as T

    docs = read_table(spark, sf_dir, "documents")
    depth, width, top_k = 4, 4096, 20
    got = {
        r["word"]: r["est_freq"]
        for r in T.cms_heavy_hitters(
            docs, depth=depth, width=width, top_k=top_k
        ).collect()
    }
    assert len(got) == top_k

    # exact token counts (the small-SF ground truth)
    exact_df = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"), lambda x: x != ""
                )
            ).alias("word")
        )
        .groupBy("word")
        .count()
    )
    exact = {r["word"]: r["count"] for r in exact_df.collect()}
    n_total = sum(exact.values())

    # (1) CMS never undercounts
    for w, est in got.items():
        assert est >= exact[w], (w, est, exact[w])
    # (2) the Cormode–Muthukrishnan bound: overestimate ≤ 2N/width
    #     w.p. ≥ 1 − 2^-depth per key; ×4 slack keeps the gate stable
    bound = 4 * 2 * n_total / width
    for w, est in got.items():
        assert est - exact[w] <= bound, (w, est, exact[w], bound)
    # (3) the true top-10 tokens are all recalled in the sketch's
    #     top-20 (candidate sampling at 5% cannot miss a token with
    #     thousands of occurrences)
    true_top10 = {
        w
        for w, _ in sorted(
            exact.items(), key=lambda kv: (-kv[1], kv[0])
        )[:10]
    }
    assert true_top10 <= set(got), true_top10 - set(got)


def test_cms_sketch_is_mergeable(spark, sf_dir):
    # The sketch's reason to exist: two sketches over disjoint splits
    # merged by SUMMING CELLS equal the sketch of the union — the
    # re-aggregation algebra the driver/pipeline relies on (same
    # contract as the bitmap words and HLL buckets).
    from dfx_indicators_etl_spark.operators import text as T

    docs = read_table(spark, sf_dir, "documents").limit(400)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != "")
        ).alias("word"),
    )
    left = toks.where(F.col("doc_id") % 2 == 0)
    right = toks.where(F.col("doc_id") % 2 == 1)
    whole = {
        (r["i"], r["bucket"]): r["c"]
        for r in T.cms_sketch(toks, depth=3, width=512).collect()
    }
    merged = {}
    for part in (left, right):
        for r in T.cms_sketch(part, depth=3, width=512).collect():
            k = (r["i"], r["bucket"])
            merged[k] = merged.get(k, 0) + r["c"]
    assert merged == whole


# ---------------------------------------------------------------------------
# VERDICT r13 #5: the stream-stream LEFT OUTER join. A hand-built
# stream pins the two load-bearing properties: (1) matched pairs emit
# in the data batch while unmatched views are HELD until the watermark
# proves no click can still arrive; (2) the outer state (both join
# buffers + watermark) survives a checkpoint restart — the null rows
# flush in a later run of the SAME checkpoint, not the run that read
# the data.


def test_stream_left_join_restart_flushes_unmatched(spark, tmp_path):
    from datetime import datetime, timedelta

    from dfx_indicators_etl_spark import streaming

    root = str(tmp_path)
    landing = f"{root}/landing"
    base = datetime(2024, 1, 1, 12, 0, 0)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    backlog = [
        (1, base, 10, "view", 0.0, None),
        (2, base + timedelta(minutes=5), 10, "click", 0.0, None),
        # unmatched: no click for user 11 inside [ts, ts+30m]
        (3, base + timedelta(minutes=40), 11, "view", 0.0, None),
        # click OUTSIDE the window (31 min later) — must NOT match
        (4, base + timedelta(minutes=71), 11, "click", 0.0, None),
    ]
    spark.createDataFrame(backlog, schema).coalesce(1).write.parquet(
        landing, mode="overwrite"
    )

    def drain():
        q = (
            streaming.stream_view_click_left_join(
                streaming.read_events_landing(spark, landing)
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        q.stop()
        return {
            (r["view_id"], r["click_id"], r["user_id"])
            for r in spark.read.parquet(f"{root}/out").collect()
        }

    # phase 1: the match emits; the unmatched view is held in state
    # (watermark = max_ts − 2h is far before its join horizon)
    assert drain() == {(1, 2, 10)}

    # heartbeats on BOTH legs (each leg's pushed-down event_type
    # filter hides the other side's rows from its watermark stats)
    horizon = base + timedelta(hours=4)
    spark.createDataFrame(
        [
            (-1, horizon, -1, "view", 0.0, None),
            (-2, horizon, -2, "click", 0.0, None),
        ],
        schema,
    ).coalesce(1).write.parquet(landing, mode="append")

    # phase 2 (RESTART from the checkpoint): heartbeat batch advances
    # the watermark at commit; phase 3's no-data batch evicts and
    # flushes the null row. The heartbeat view itself never flushes
    # (the watermark never passes its own horizon).
    drain()
    assert drain() == {(1, 2, 10), (3, None, 11)}


# ---------------------------------------------------------------------------
# The CMS sketch's shape (the registered key's portable md5 pair-hash)
# and the streaming face's replay discipline.


def test_cms_families_agree_on_shape(spark, sf_dir):
    from dfx_indicators_etl_spark.operators import text as T

    docs = read_table(spark, sf_dir, "documents").limit(400)
    toks = docs.select(F.explode(T.tokens("text")).alias("word"))
    n_tokens = toks.count()
    n_distinct = toks.distinct().count()
    cells = T.cms_sketch(toks, depth=3, width=512).collect()
    # mass conservation: every occurrence lands in exactly one bucket
    # per row
    assert sum(r["c"] for r in cells) == 3 * n_tokens
    # and the occupancy is hash-like (no degenerate hash): close to one
    # cell per (row, distinct word) at width >> vocab (collisions shave
    # a few), and never more
    assert (
        3 * n_distinct // 2 < len(cells) <= 3 * min(512, n_distinct)
    ), (len(cells), n_distinct)


def test_stream_cms_restart_does_not_double_count(spark, sf_dir, tmp_path):
    # Counts ADD, so the replay hazard is double-counting; the
    # batch_id-keyed OVERWRITE discipline must make a restarted drain
    # a no-op, and the folded log must equal the one-shot sketch
    # (mergeability in vivo — the property the oracle relies on).
    from dfx_indicators_etl_spark import streaming
    from dfx_indicators_etl_spark.operators import text as T

    docs = read_table(spark, sf_dir, "documents").limit(300)
    root = str(tmp_path)
    landing = f"{root}/landing"
    for b in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b).coalesce(
            1
        ).write.mode("append").parquet(landing)

    def fold():
        return {
            (r["i"], r["bucket"]): r["c"]
            for r in streaming.read_cms_sketch(
                spark, f"{root}/state"
            ).collect()
        }

    streaming.incremental_cms_sketch(
        spark, landing, f"{root}/state", f"{root}/ckpt"
    )
    first = fold()
    # restart from the same checkpoint with no new data: unchanged
    streaming.incremental_cms_sketch(
        spark, landing, f"{root}/state", f"{root}/ckpt"
    )
    assert fold() == first
    # fold == one-shot batch sketch of the union
    toks = docs.select(F.explode(T.tokens("text")).alias("word"))
    oneshot = {
        (r["i"], r["bucket"]): r["c"]
        for r in T.cms_sketch(toks, depth=4, width=512).collect()
    }
    assert first == oneshot


# ---------------------------------------------------------------------------
# The KMV (bottom-k) set-operation sketch: accuracy vs exact distinct
# counts, and the merge law the sketch's distributed story rests on.


def test_kmv_set_ops_accuracy_gate(spark, sf_dir):
    from dfx_indicators_etl_spark.operators.scale import kmv_set_ops

    orders = read_table(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01").cast("timestamp")
    a = orders.filter(F.col("o_orderdate") < cut)
    b = orders.filter(F.col("o_orderdate") >= cut)
    row = kmv_set_ops(a, b, "o_custkey", k=64).collect()[0]

    truth_u = a.select("o_custkey").union(b.select("o_custkey")).distinct().count()
    truth_i = (
        a.select("o_custkey")
        .distinct()
        .join(b.select("o_custkey").distinct(), "o_custkey")
        .count()
    )
    est_u = row["est_union_micro"] / 1e6
    est_i = row["est_intersection_micro"] / 1e6
    est_j = row["est_jaccard_micro"] / 1e6
    # k=64 => ~12.5% standard error; the data is FIXED so these are
    # deterministic assertions at ~3 sigma, not flaky gates
    assert abs(est_u - truth_u) / truth_u < 0.4, (est_u, truth_u)
    assert abs(est_i - truth_i) / max(truth_i, 1) < 0.5, (est_i, truth_i)
    truth_j = truth_i / truth_u
    assert abs(est_j - truth_j) < 0.3, (est_j, truth_j)


def test_kmv_sketch_merge_law(spark, sf_dir):
    # bottom-k of a union == bottom-k of the union of bottom-k
    # sketches — the re-aggregation algebra that lets per-partition /
    # per-day sketches roll up without touching raw keys.
    from dfx_indicators_etl_spark.operators.scale import kmv_sketch

    orders = read_table(spark, sf_dir, "orders")
    halves = [
        orders.filter(F.pmod(F.col("o_orderkey"), F.lit(2)) == i)
        for i in (0, 1)
    ]
    whole = [
        r["h"] for r in kmv_sketch(orders, "o_custkey", k=32).collect()
    ]
    merged_pool = set()
    for h in halves:
        merged_pool |= {
            r["h"] for r in kmv_sketch(h, "o_custkey", k=32).collect()
        }
    assert sorted(merged_pool)[:32] == whole
