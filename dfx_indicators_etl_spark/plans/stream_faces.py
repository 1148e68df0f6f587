"""Batch faces of every registered streaming / sink key — the plans
the registry-wide exact-path guard sweeps (VERDICT r10 #2).

The streaming and sink keys execute eagerly (drains + round trips)
and return checkpointed results, so their registered callables expose
only a file/memory scan to plan inspection. What actually runs per
micro-batch — the drain transformations, the foreachBatch folds, and
the reader folds over the state logs — is a set of ordinary DataFrame
expressions, and THOSE are where an exact-path hazard (an
unpartitioned window, an exact-percentile aggregate) could hide from
the batch sweep. ``BATCH_FACES`` maps every stream_*/sink_* key (plus
``dedup_incremental``, which shares the claims-table machine) to a
builder returning the LAZY batch-equivalent plans, built on the batch
tables wherever the streaming path shares a pure DataFrame → DataFrame
function (``windowed_event_counts``, ``banded_minhash_rows``,
``psi_from_bins``, ``weighted_percentiles_from_hist``, the
latest-wins window) so the swept expressions ARE the shipped ones,
not re-derivations.

The three ``applyInPandasWithState`` keys (sessionize / anomaly /
attribution) keep their per-key fold in Python state code — no
Catalyst plan exists for the fold itself; their faces sweep the
DataFrame-expressible frame the state machine consumes plus (for
sessionize/attribution) the batch-window twin expression their
oracles replay, and their row-level semantics are pinned by the
dedicated batch/stream parity tests instead.

``tests/test_plan_quality.py`` enforces the two-direction discipline:
every stream_*/sink_* key MUST have a face here, and the hazard sweep
over all face plans must equal the documented allowlist exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_table
from .numeric import dec

FaceFn = Callable[[SparkSession, str], list[DataFrame]]

BATCH_FACES: dict[str, FaceFn] = {}


def face(name: str) -> Callable[[FaceFn], FaceFn]:
    def decorate(fn: FaceFn) -> FaceFn:
        BATCH_FACES[name] = fn
        return fn

    return decorate


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


def _windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ops import windowed_event_counts

    # withWatermark is a no-op on a batch frame (analyzer
    # EliminateEventTimeWatermark) — the SAME function the drain runs
    return windowed_event_counts(_events(spark, sf_dir))


@face("stream_events_windowed")
def _f_events_windowed(spark, sf_dir):
    return [_windowed(spark, sf_dir)]


@face("stream_topk")
def _f_topk(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return [
        _windowed(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    ]


@face("stream_sessionize")
def _f_sessionize(spark, sf_dir):
    # the state machine's fold is Python (applyInPandasWithState); the
    # batch twin its oracle replays is the gaps-and-islands expression
    # — every window partitioned by user_id
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return [
        sess.groupBy("user_id", "session_id").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    ]


@face("stream_dedup")
def _f_dedup(spark, sf_dir):
    keys = ["user_id", "event_type"]
    return [_events(spark, sf_dir).dropDuplicates(keys).select(*keys)]


def _banded_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ops import banded_minhash_rows

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_micros(
            F.lit(1_600_000_000_000_000) + F.col("doc_id") * 1_000_000
        ).alias("ts"),
    )
    return banded_minhash_rows(docs, family="portable")


@face("stream_minhash_dedup")
def _f_minhash(spark, sf_dir):
    # full-signature dedup: the per-row signature map is the same
    # narrow computation banded_minhash_rows runs; the drained
    # discipline is a distinct over computed keys
    return [_banded_rows(spark, sf_dir).select("band_idx", "band_hash").distinct()]


def _banded_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    rows = _banded_rows(spark, sf_dir)
    w = Window.partitionBy("band_idx", "band_hash").orderBy("ts", "doc_id")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            (F.max(F.when(F.col("rn") > 1, 1).otherwise(0)) == 1).alias(
                "is_dup"
            ),
            F.count(F.lit(1)).cast("int").alias("n_bands"),
        )
    )


@face("stream_minhash_dedup_banded")
def _f_banded(spark, sf_dir):
    return [_banded_verdicts(spark, sf_dir)]


@face("dedup_incremental")
def _f_incremental(spark, sf_dir):
    # shares the claims-table machine with the banded stream op; the
    # per-batch fold is the same banded rank discipline
    return [_banded_verdicts(spark, sf_dir)]


@face("stream_anomaly")
def _f_anomaly(spark, sf_dir):
    # EWMA recurrence is per-user Python state; the frame the state
    # machine consumes is the per-user (ts, event_id)-ordered stream
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return [
        _events(spark, sf_dir).withColumn(
            "rn", F.row_number().over(w)
        )
    ]


@face("stream_attribution")
def _f_attribution(spark, sf_dir):
    # the batch twin its oracle replays: last_value over a
    # user-partitioned frame + the drained groupBy(touch) aggregate
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click", "view")
    )
    s = (
        F.unix_micros("ts") / 1_000_000
        - F.lit(1_704_067_200)
    ).cast("bigint")
    touch_struct = F.when(
        F.col("event_type").isin("click", "view"),
        F.struct(s.alias("t"), F.col("event_type").alias("e")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(s, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.withColumn("s", s).withColumn(
        "lt", F.last(touch_struct, ignorenulls=True).over(w)
    )
    credited = seq.filter(F.col("event_type") == "purchase").withColumn(
        "touch",
        F.coalesce(
            F.when(
                F.col("lt.t") >= F.col("s") - 7 * 86400, F.col("lt.e")
            ),
            F.lit("direct"),
        ),
    )
    return [
        credited.groupBy("touch").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(dec("value")).cast("double").alias("attributed_value"),
        )
    ]


@face("stream_first_touch")
def _f_first_touch(spark, sf_dir):
    # the batch twin its oracle replays: first non-null over a
    # user-partitioned frame + the drained groupBy(touch) aggregate
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click", "view")
    )
    s = (
        F.unix_micros("ts") / 1_000_000
        - F.lit(1_704_067_200)
    ).cast("bigint")
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(s, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.withColumn("ft", F.first(touch, ignorenulls=True).over(w))
    credited = seq.filter(F.col("event_type") == "purchase").withColumn(
        "touch", F.coalesce(F.col("ft"), F.lit("direct"))
    )
    return [
        credited.groupBy("touch").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(dec("value")).cast("double").alias("attributed_value"),
        )
    ]


@face("stream_first_touch_ttl")
def _f_first_touch_ttl(spark, sf_dir):
    # the TTL twin: same first-touch frame, plus the touch's own
    # origin-seconds so the 7-day freshness test is a plain column
    # expression (credit only while s − ft_s ≤ TTL)
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click", "view")
    )
    s = (
        F.unix_micros("ts") / 1_000_000
        - F.lit(1_704_067_200)
    ).cast("bigint")
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    touch_s = F.when(
        F.col("event_type").isin("click", "view"), s
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(s, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.withColumn("__s", s).withColumn(
        "ft", F.first(touch, ignorenulls=True).over(w)
    ).withColumn("ft_s", F.first(touch_s, ignorenulls=True).over(w))
    credited = seq.filter(F.col("event_type") == "purchase").withColumn(
        "touch",
        F.when(
            F.col("ft").isNotNull()
            & (F.col("__s") - F.col("ft_s") <= 7 * 86400),
            F.col("ft"),
        ).otherwise(F.lit("direct")),
    )
    return [
        credited.groupBy("touch").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(dec("value")).cast("double").alias("attributed_value"),
        )
    ]


@face("stream_static_enrich")
def _f_static_enrich(spark, sf_dir):
    ev = _events(spark, sf_dir)
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    dims = F.broadcast(
        nation.join(
            region, nation["n_regionkey"] == region["r_regionkey"]
        ).select("n_nationkey", F.col("r_name").alias("region_name"))
    )
    enriched = ev.join(dims, ev["user_id"] % 25 == dims["n_nationkey"])
    return [
        enriched.groupBy(
            F.window("ts", "1 hour").alias("w"), "region_name"
        ).agg(F.count("*").alias("n_events"))
    ]


@face("stream_stream_join")
def _f_stream_join(spark, sf_dir):
    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return [
        views.join(
            clicks,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (
                F.col("click_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        ).select("view_id", "click_id", "user_id")
    ]


@face("stream_stream_left_join")
def _f_stream_left_join(spark, sf_dir):
    # The outer face is the inner face's join with "leftOuter" — the
    # emitted union (matches + eviction-flushed nulls) over the whole
    # horizon IS the batch LEFT JOIN; only emission TIMING differs
    # (the watermark decides when null rows flush, pinned by the
    # restart pytest, not by this plan-shape face).
    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return [
        views.join(
            clicks,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (
                F.col("click_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "leftOuter",
        ).select("view_id", "click_id", "user_id")
    ]


@face("stream_incremental_sink")
def _f_incremental_sink(spark, sf_dir):
    return [
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    ]


@face("stream_late_data")
def _f_late_data(spark, sf_dir):
    # the STAGING harness sorts the simulated arrival order through a
    # global ntile — a deliberate, test-scale-only unpartitioned
    # window (a real deployment's arrival order is the ingest stream
    # itself); it appears in the allowlist with that justification.
    # The audited accounting fold is the per-batch aggregate.
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    arrival_us = F.unix_micros(F.col("ts")) + (
        F.pmod(h, F.lit(7201)) - F.lit(3600)
    ) * F.lit(1_000_000)
    w = Window.orderBy("__arrival_us", "event_id")
    staged = ev.withColumn("__arrival_us", arrival_us).withColumn(
        "__batch", F.ntile(6).over(w) - 1
    )
    audit = staged.groupBy("__batch").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("batch_max_us"),
    )
    return [staged, audit]


@face("stream_upsert_sink")
def _f_upsert(spark, sf_dir):
    # drain = windowed_event_counts; read-back = the latest-wins
    # window PARTITIONED by the upsert key (read_latest_wins's shape)
    from pyspark.sql import Window

    agg = _windowed(spark, sf_dir).withColumn("seq", F.lit(0).cast("long"))
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("seq").desc()
    )
    return [
        agg.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "seq")
    ]


@face("stream_weighted_percentile")
def _f_weighted_pct(spark, sf_dir):
    # the reader fold verbatim: Σweight histogram →
    # weighted_percentiles_from_hist (shared with q_weighted_percentile)
    from ..operators.scale import weighted_percentiles_from_hist

    li = read_table(spark, sf_dir, "lineitem")
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(dec("l_quantity")).alias("__w")
    )
    return [
        weighted_percentiles_from_hist(
            hist,
            ["l_returnflag"],
            "l_extendedprice",
            {"wp50": (1, 2), "wp90": (9, 10)},
            "total_weight",
        )
    ]


@face("stream_cms_sketch")
def _f_cms_sketch(spark, sf_dir):
    # per-batch fold AND reader fold are the same shipped operator:
    # cms_sketch's combinable cell groupBy (bounded at d*w rows) —
    # the reader's SUM over batch partials has the identical shape.
    from ..operators import text as text_ops

    toks = read_table(spark, sf_dir, "documents").select(
        F.explode(text_ops.tokens("text")).alias("word")
    )
    return [text_ops.cms_sketch(toks, "word", depth=4, width=512)]


@face("stream_psi_drift")
def _f_psi(spark, sf_dir):
    # per-batch fold = spine counts on the shared psi_bin grid;
    # reader fold = psi_from_bins — both shipped functions
    from ..operators.scale import psi_bin, psi_from_bins

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    binned = ev.select(
        psi_bin("value").alias("bin"), "event_type"
    ).groupBy("bin").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("na"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("nb"),
    )
    spine = spark.range(0, 20).select(F.col("id").alias("bin"))
    b = (
        spine.join(binned, "bin", "left")
        .fillna(0, ["na", "nb"])
        .select("bin", "na", "nb")
    )
    return [psi_from_bins(b, 20)]


@face("stream_scd2")
def _f_scd2(spark, sf_dir):
    # per-batch fold AND reader fold share _scd2_changes (a
    # user-partitioned window); the reader adds the lead() interval
    # derivation — swept here over the batch feed directly
    from ..streaming.ops import _scd2_changes
    from pyspark.sql import Window

    rows = _events(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    changes = _scd2_changes(rows)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return [
        changes.select(
            "user_id",
            "attr",
            F.col("us").cast("bigint").alias("valid_from_us"),
            F.lead("us").over(w).cast("bigint").alias("valid_to_us"),
        )
    ]


@face("stream_bitmap_distinct")
def _f_bitmap(spark, sf_dir):
    # per-batch fold (per-(week, bucket) bit_or words) + reader fold
    # (OR-merge + popcount) — the same expressions the drain lands
    words = (
        _events(spark, sf_dir)
        .select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            "user_id",
        )
        .groupBy("week", F.shiftright(F.col("user_id"), 6).alias("bkt"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
            ).alias("word")
        )
    )
    folded = (
        words.groupBy("week", "bkt")
        .agg(F.expr("bit_or(word)").alias("word"))
        .groupBy("week")
        .agg(
            F.sum(F.bit_count("word"))
            .cast("bigint")
            .alias("weekly_distinct")
        )
    )
    return [folded]


@face("stream_rolling_reach")
def _f_rolling_reach(spark, sf_dir):
    # per-batch fold (day-grain bit_or words) + reader fold (w-day
    # word explosion, OR-merge, popcount) — the shipped expressions
    words = (
        _events(spark, sf_dir)
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day", F.shiftright(F.col("user_id"), 6).alias("bkt"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
            ).alias("word")
        )
    )
    folded = words.groupBy("day", "bkt").agg(
        F.expr("bit_or(word)").alias("word")
    )
    bounds = folded.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = folded.select(
        "bkt",
        "word",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), 13),
                F.expr("interval 1 day"),
            )
        ).alias("report_day"),
    )
    reach = (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("report_day") <= F.col("hi"))
            & (F.col("report_day") >= F.date_add(F.col("lo"), 13))
        )
        .groupBy("report_day", "bkt")
        .agg(F.expr("bit_or(word)").alias("word"))
        .groupBy("report_day")
        .agg(F.sum(F.bit_count("word")).cast("bigint").alias("reach"))
    )
    return [reach]


def _nation(spark, sf_dir):
    return read_table(spark, sf_dir, "nation")


@face("sink_versioned_roundtrip")
def _f_versioned(spark, sf_dir):
    return [_nation(spark, sf_dir)]


@face("sink_csv_roundtrip")
def _f_csv(spark, sf_dir):
    return [_nation(spark, sf_dir)]


@face("sink_jsonl_roundtrip")
def _f_jsonl(spark, sf_dir):
    return [_nation(spark, sf_dir)]


@face("sink_orc_roundtrip")
def _f_orc(spark, sf_dir):
    return [_nation(spark, sf_dir)]


@face("sink_compact_roundtrip")
def _f_compact(spark, sf_dir):
    # compaction = a coalesce rewrite of the listed files
    return [_nation(spark, sf_dir).coalesce(2)]


@face("sink_schema_evolution")
def _f_evolve(spark, sf_dir):
    n = _nation(spark, sf_dir)
    v1 = n.withColumn("name_len", F.lit(None).cast("bigint"))
    v2 = n.withColumn("name_len", F.length("n_name").cast("bigint"))
    return [v1.unionByName(v2)]


@face("sink_partitioned_roundtrip")
def _f_partitioned(spark, sf_dir):
    return [
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    ]


@face("sink_bucketed_join")
def _f_bucketed(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return [
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    ]


@face("sink_zorder_layout")
def _f_zorder(spark, sf_dir):
    from ..operators.scale import zorder_scaled

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    z = zorder_scaled(li, "l_partkey", "l_suppkey")
    layout = z.repartitionByRange(16, F.col("z")).sortWithinPartitions("z")
    rect = (
        li.filter(
            F.col("l_partkey").between(500, 700)
            & F.col("l_suppkey").between(20, 35)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum("l_partkey").cast("bigint").alias("sum_partkey"),
        )
    )
    return [layout, rect]
