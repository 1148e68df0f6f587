"""Streaming + sink queries (SURVEY §2.D/§2.E).

Streaming plans run with ``Trigger.AvailableNow`` against the events
parquet so the driver gets a terminating batch result; the identical
plan runs unbounded with a continuous trigger. Sink queries exercise
the versioned/partitioned writers end-to-end (write, then read back)
so the oracle checks round-trip fidelity, not just the write call.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import streaming
from ..sources import read_csv, read_jsonl, read_table, sinks
from .llmdata import _MH_BANDS, _MH_MINS, _PORTABLE_HASHES_SQL
from .numeric import dec
from .registry import query


@query(
    "stream_events_windowed",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           round(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window agg over the event stream, drained available-now.

    ``complete`` output emits every window, so the batch ``time_bucket``
    oracle reproduces it exactly; the watermark is still declared —
    it's what bounds state when the same plan runs unbounded.
    """
    stream = streaming.read_events_stream(spark, sf_dir)
    windowed = streaming.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    return streaming.run_available_now(windowed, output_mode="complete")


@query(
    "stream_topk",
    oracle="""
    WITH counts AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rank FROM (
        SELECT window_start, event_type, n_events,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type
               ) AS INTEGER) AS rank
        FROM counts
    ) WHERE rank <= 3
    """,
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-items: top-3 event types per tumbling hour.

    The windowed count is the streaming stateful operator (same
    watermarked aggregate as stream_events_windowed); the rank is a
    per-window window function over the DRAINED result — ranking
    happens on the complete-mode output because a global rank isn't
    incrementally maintainable, and at scale it runs on the aggregate
    (windows × types), never the raw stream.
    """
    from pyspark.sql import Window

    stream = streaming.read_events_stream(spark, sf_dir)
    windowed = streaming.windowed_event_counts(
        stream, window="1 hour", watermark="2 hours"
    )
    drained = streaming.run_available_now(windowed, output_mode="complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        drained.select("window_start", "event_type", "n_events")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


@query(
    "stream_sessionize",
    # The emitted-session set is fully expressible in batch SQL: a
    # session emits iff it closed by the GAP rule (a later event from
    # the same user opened the next session — i.e. it is not the
    # user's last session) or by EVENT-TIME TIMEOUT (final watermark =
    # max(ts) - 2h passed strictly beyond session_end + 30min gap).
    # Everything else stays in state by design.
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    ),
    agg AS (
        SELECT user_id, session_id,
               epoch_us(MIN(ts)) AS session_start,
               epoch_us(MAX(ts)) AS session_end,
               MAX(ts) AS end_ts,
               CAST(COUNT(*) AS INT) AS n_events,
               round(SUM(value), 4) AS sum_value
        FROM sess GROUP BY 1, 2
    ),
    marked AS (
        SELECT *,
               MAX(session_id) OVER (PARTITION BY user_id) AS last_sid
        FROM agg
    ),
    mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM marked, mx
    WHERE session_id < last_sid
       OR end_ts + INTERVAL 150 MINUTE < m
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (applyInPandasWithState):
    per-user 30-min-gap sessions, event-time timeouts flushing idle
    users past the watermark. Value-oracled: the emitted set is
    exactly the gap-closed sessions plus the timeout-flushed final
    sessions, both expressible as batch gaps-and-islands SQL."""
    stream = streaming.read_events_stream(spark, sf_dir)
    sessions = streaming.stream_sessionize_events(stream, gap_minutes=30)
    drained = streaming.run_available_now(sessions, output_mode="append")
    return drained.withColumn("sum_value", F.round("sum_value", 4))


@query(
    "stream_dedup",
    # WHICH physical row survives per key is arrival-order dependent,
    # but the operator projects the KEY COLUMNS ONLY, so the emitted
    # set is exactly the distinct key set: the backlog drains as one
    # availableNow batch (single-file source), during which the
    # watermark is still at its initial value — no state eviction, no
    # late drops — and dropDuplicatesWithinWatermark emits one row per
    # first-seen key.
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream dedup on (user_id, event_type) within a 1h
    watermark, projected to the key columns (value-oracled: the
    surviving key set equals SELECT DISTINCT)."""
    stream = streaming.read_events_stream(spark, sf_dir)
    deduped = streaming.stream_dedup_events(stream, keys=("user_id", "event_type"))
    return streaming.run_available_now(deduped, output_mode="append")


@query(
    "stream_minhash_dedup",
    # the emitted set = the distinct portable-signature keys: minhash
    # kind for shingleable docs (comma-joined 64-perm K–M signature),
    # exact-md5 kind for sub-shingle docs.
    oracle=f"""
    WITH {_PORTABLE_HASHES_SQL},
    sigs AS (
        SELECT doc_id, {_MH_MINS}
        FROM hashes GROUP BY doc_id
    )
    SELECT DISTINCT 'minhash' AS sig_kind,
           concat({", ',', ".join(f"m{p}" for p in range(64))}) AS sig_key
    FROM sigs
    UNION
    SELECT DISTINCT 'exact' AS sig_kind, md5(text) AS sig_key
    FROM toks WHERE len(t) < 3
    """,
)
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash dedup over the document corpus: row-local
    64-perm signatures, state keyed on the signature within a 1h
    ingest-clock watermark (see streaming/ops.py for the full design).
    Registered with the PORTABLE md5 family and projected to the
    emitted (sig_kind, sig_key) set (r7 graduation — the stream_dedup
    pattern): the surviving doc_id per group is arrival-order
    dependent, but the distinct-signature SET is deterministic and has
    an exact SQL twin. Batch-equivalence of the signature scheme is
    additionally pytest-verified."""
    docs = streaming.read_documents_stream(spark, sf_dir)
    deduped = streaming.stream_minhash_dedup_docs(docs, family="portable")
    return streaming.run_available_now(deduped, output_mode="append").select(
        "sig_kind", "sig_key"
    )


# FULL value oracle (round-7 graduation): with the portable md5 band
# family, a single-drain verdict is pure SQL — a doc is a dup iff ANY
# of its band buckets (16 signature-slice keys, or the md5(text)
# pseudo-band for sub-shingle docs) holds an earlier contender. The
# ingest clock is one doc per second in doc_id order, so the
# (ts, doc_id) claim ranking reduces to ORDER BY doc_id.
_BANDED_VERDICT_SQL = f"""
    WITH {_PORTABLE_HASHES_SQL},
    sigs AS (
        SELECT doc_id, {_MH_MINS}
        FROM hashes GROUP BY doc_id
    ),
    bands AS (
    {_MH_BANDS}
    ),
    short AS (
        SELECT doc_id, -1 AS band_idx, md5(text) AS band_key
        FROM toks WHERE len(t) < 3
    ),
    allb AS (SELECT * FROM bands UNION ALL SELECT * FROM short),
    ranked AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            PARTITION BY band_idx, band_key ORDER BY doc_id) AS rn
        FROM allb
    )
    SELECT doc_id,
           CAST(MAX(CASE WHEN rn > 1 THEN 1 ELSE 0 END) = 1 AS BOOLEAN)
               AS is_dup,
           CAST(COUNT(*) AS INTEGER) AS n_bands
    FROM ranked GROUP BY doc_id
"""


@query("stream_minhash_dedup_banded", oracle=_BANDED_VERDICT_SQL)
def stream_minhash_dedup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-level (any-of-k) streaming LSH dedup: a doc is a near-dup
    if ANY of its 16 MinHash band buckets was claimed by an earlier
    doc, and a kept doc claims all its buckets atomically — the
    check-then-claim semantics built-in stateful operators can't
    express (see streaming/ops.py for the design and why foreachBatch
    + a persisted claims table is the vehicle). Deterministic: claims
    are ordered by event time, not arrival. Registered with the
    PORTABLE md5 band family (r7), so the single-drain verdicts carry
    a FULL value oracle: dup ⟺ some band bucket has an earlier
    (ts, doc_id) contender — and the ingest clock is doc_id-ordered,
    so the oracle ranks buckets by doc_id. Returns one verdict row
    per document."""
    root = _scratch("dfx_banded_")
    try:
        docs = streaming.read_documents_stream(spark, sf_dir)
        q = streaming.stream_minhash_dedup_banded(
            docs, f"{root}/claims", f"{root}/verdicts", family="portable"
        )
        streaming.await_drain(q, 300, "banded dedup drain")
        return (
            spark.read.parquet(f"{root}/verdicts")
            .select("doc_id", "is_dup", "n_bands")  # drop batch_id bookkeeping
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "dedup_incremental",
    # FULL value oracle (round-7 graduation, portable band family): an
    # incoming (odd-id) doc is a dup iff some band bucket holds ANY
    # history (even-id) doc — history claims every nonempty bucket —
    # or an earlier incoming doc (the doc_id-ordered ingest clock).
    oracle=f"""
    WITH {_PORTABLE_HASHES_SQL},
    sigs AS (
        SELECT doc_id, {_MH_MINS}
        FROM hashes GROUP BY doc_id
    ),
    bands AS (
    {_MH_BANDS}
    ),
    short AS (
        SELECT doc_id, -1 AS band_idx, md5(text) AS band_key
        FROM toks WHERE len(t) < 3
    ),
    allb AS (SELECT * FROM bands UNION ALL SELECT * FROM short),
    stats AS (
        SELECT band_idx, band_key,
               MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS has_hist,
               MIN(CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS min_odd
        FROM allb GROUP BY band_idx, band_key
    )
    SELECT o.doc_id,
           CAST(MAX(CASE WHEN s.has_hist = 1 OR s.min_odd < o.doc_id
                         THEN 1 ELSE 0 END) = 1 AS BOOLEAN) AS is_dup,
           CAST(COUNT(*) AS INTEGER) AS n_bands
    FROM allb o JOIN stats s USING (band_idx, band_key)
    WHERE o.doc_id % 2 = 1
    GROUP BY o.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental near-dup dedup — the daily-ingest production
    pattern: documents split into a history half and a "new crawl"
    half (odd doc_ids), history claims its band buckets first, then
    the new batch is flagged against the WHOLE accumulated claims
    table without recomputing history. Shares the claims-table state
    machine (and its idempotent-retry contract) with
    ``stream_minhash_dedup_banded``; per batch the cost is batch ×
    bands, never corpus². Registered with the PORTABLE md5 band family
    (r7 graduation) so both phases carry a value oracle; determinism,
    history-catching, and retry idempotence are pytest-pinned
    (tests/test_streaming_banded.py)."""
    root = _scratch("dfx_incr_")
    try:
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            F.timestamp_micros(
                F.lit(1_600_000_000_000_000) + F.col("doc_id") * 1_000_000
            ).alias("ts"),
        )
        history = docs.filter(F.col("doc_id") % 2 == 0)
        incoming = docs.filter(F.col("doc_id") % 2 == 1)
        state = f"{root}/claims"
        streaming.incremental_minhash_dedup(
            history, state, "b-hist", family="portable"
        ).collect()
        out = streaming.incremental_minhash_dedup(
            incoming, state, "b-new", family="portable"
        )
        return (
            out.select("doc_id", "is_dup", "n_bands")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Scratch space stays inside the repo (gitignored) — the harness must
# not write outside it.
_SCRATCH_ROOT = Path(__file__).resolve().parents[2] / ".scratch"


def _scratch(prefix: str) -> str:
    _SCRATCH_ROOT.mkdir(exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


@query("sink_versioned_roundtrip", oracle="SELECT * FROM nation")
def sink_versioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-dataset layout round trip (`storage/_base.py:46-69` parity).

    Writes ``<root>/vYY-MM-DD/dims/nation.parquet`` and reads it back —
    the oracle equality proves the layout loses nothing.
    """
    root = _scratch("dfx_versioned_")
    try:
        path = sinks.write_dataset(
            read_table(spark, sf_dir, "nation"), root, "nation", folder="dims"
        )
        return spark.read.parquet(path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"


@query("sink_csv_roundtrip", oracle="SELECT * FROM nation")
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write + explicit-schema read (no inference scan, §E)."""
    root = _scratch("dfx_csv_")
    try:
        path = f"{root}/nation.csv"
        read_table(spark, sf_dir, "nation").write.option("header", "true").csv(path)
        return read_csv(spark, path, schema=NATION_SCHEMA).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("sink_jsonl_roundtrip", oracle="SELECT * FROM nation")
def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write + explicit-schema read (§E)."""
    root = _scratch("dfx_jsonl_")
    try:
        path = f"{root}/nation.jsonl"
        read_table(spark, sf_dir, "nation").write.json(path)
        return read_jsonl(spark, path, schema=NATION_SCHEMA).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_anomaly",
    # FULL value oracle (round-7 graduation): the EWMA recurrence IS
    # SQL-expressible as a recursive CTE advancing every user one
    # (ts, event_id)-ordered row per iteration. Arithmetic is written
    # in the operator's exact shape — ``(1.0 - 0.3)``, NOT the literal
    # 0.7 (different doubles!), and the same left-associated products —
    # so mean/var/z are bit-identical to the streaming state updates.
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    st AS (
        SELECT user_id, event_id, rn, v,
               v AS mean, CAST(0 AS DOUBLE) AS var,
               CAST(NULL AS DOUBLE) AS pmean, CAST(NULL AS DOUBLE) AS pvar
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.rn, e.v,
               s.mean + CAST(0.3 AS DOUBLE) * (e.v - s.mean) AS mean,
               (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                   * (s.var + CAST(0.3 AS DOUBLE) * (e.v - s.mean)
                      * (e.v - s.mean)) AS var,
               s.mean AS pmean, s.var AS pvar
        FROM st s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
    )
    SELECT user_id, event_id, v AS value,
           round((v - pmean) / sqrt(pvar), 4) AS zscore
    FROM st
    WHERE rn > 5 AND sqrt(pvar) > 0
          AND abs(v - pmean) > CAST(3.0 AS DOUBLE) * sqrt(pvar)
    """,
)
def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user streaming anomaly detection (EWMA mean/variance state,
    z-score > 3 after warmup) — the second custom-state operator next
    to sessionization. Deterministic ((ts, event_id)-ordered state
    updates), and now hash-checked against a recursive-CTE oracle that
    replays the identical recurrence."""
    stream = streaming.read_events_stream(spark, sf_dir)
    out = streaming.stream_ewma_anomalies(stream)
    return streaming.run_available_now(out, output_mode="append")


@query(
    "stream_attribution",
    # Same oracle as q_attribution: the streaming face must reproduce
    # the batch last-touch frame exactly (portable origin-seconds,
    # (ts, event_id) order, 7-day lookback, 'direct' fallback).
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value,
               CAST(date_diff('second',
                    TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS s,
               event_id,
               last_value(CASE WHEN event_type IN ('click', 'view')
                    THEN struct_pack(
                        t := CAST(date_diff('second',
                             TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT),
                        e := event_type)
                    END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS lt
        FROM events WHERE event_type IN ('purchase', 'click', 'view')
    )
    SELECT coalesce(
               CASE WHEN lt.t >= s - 7 * 86400 THEN lt.e END,
               'direct') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution (VERDICT r9 #4): per-user
    (touch-seconds, touch-type) state in ``applyInPandasWithState``,
    one emitted row per purchase, aggregated by credited touch — the
    batch/stream parity face of ``q_attribution``, value-oracled
    against the identical DuckDB window replay. State evicts at the
    lookback horizon (an expired touch is 'direct' either way), so
    live-touch cardinality, not user history, bounds the state store;
    the restart test pins checkpoint recovery."""
    stream = streaming.read_events_stream(spark, sf_dir)
    out = streaming.stream_last_touch_attribution(stream)
    drained = streaming.run_available_now(out, output_mode="append")
    return drained.groupBy("touch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(dec("value")).cast("double").alias("attributed_value"),
    )


@query(
    "stream_first_touch",
    # Same oracle as q_first_touch: the streaming face must reproduce
    # the batch first-touch frame exactly (portable origin-seconds,
    # (s, event_id) order, 'direct' fallback).
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value,
               CAST(date_diff('second',
                    TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS s,
               event_id,
               first_value(CASE WHEN event_type IN ('click', 'view')
                    THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS ft
        FROM events WHERE event_type IN ('purchase', 'click', 'view')
    )
    SELECT coalesce(ft, 'direct') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def stream_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-touch attribution: WRITE-ONCE per-user state in
    ``applyInPandasWithState`` (a monotone register — set at the first
    click/view, never updated; replay is trivially idempotent), one
    emitted row per purchase, aggregated by credited touch — the
    batch/stream parity face of ``q_first_touch``, value-oracled
    against the identical DuckDB FIRST_VALUE replay. No timeout by
    design: first-touch semantics require remembering the touch for
    as long as purchases can arrive (state = 2 scalars per touched
    user, a per-entity dimension); the restart test pins checkpoint
    recovery."""
    stream = streaming.read_events_stream(spark, sf_dir)
    out = streaming.stream_first_touch_attribution(stream)
    drained = streaming.run_available_now(out, output_mode="append")
    return drained.groupBy("touch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(dec("value")).cast("double").alias("attributed_value"),
    )


@query(
    "stream_first_touch_ttl",
    # The TTL semantic replayed in SQL: the first touch in the
    # 1-PRECEDING frame credits only while purchase_s − touch_s ≤ TTL
    # (7 days); stale first touches are 'direct'. Pure event time, so
    # the oracle is exact regardless of when state eviction fires.
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value,
               CAST(date_diff('second',
                    TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS s,
               event_id,
               first_value(CASE WHEN event_type IN ('click', 'view')
                    THEN event_type END IGNORE NULLS)
                   OVER w AS ft,
               first_value(CASE WHEN event_type IN ('click', 'view')
                    THEN CAST(date_diff('second',
                         TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT)
                    END IGNORE NULLS)
                   OVER w AS ft_s
        FROM events WHERE event_type IN ('purchase', 'click', 'view')
        WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN ft IS NOT NULL AND s - ft_s <= 7 * 86400
                THEN ft ELSE 'direct' END AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def stream_first_touch_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution with a 7-day TTL — the BOUNDED-STATE
    variant of ``stream_first_touch`` (VERDICT r11 #7): purchases more
    than 7 days after the user's first touch credit 'direct', and the
    state store evicts at ``touch + TTL`` (live-touch-bounded, the
    ``stream_last_touch`` eviction argument) instead of growing with
    users ever seen. The credit test is pure event time, so the DuckDB
    frame replay is an exact value oracle."""
    stream = streaming.read_events_stream(spark, sf_dir)
    out = streaming.stream_first_touch_attribution_ttl(stream)
    drained = streaming.run_available_now(out, output_mode="append")
    return drained.groupBy("touch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(dec("value")).cast("double").alias("attributed_value"),
    )


@query("sink_compact_roundtrip", oracle="SELECT * FROM nation")
def sink_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round trip (§E maintenance op): a
    deliberately fragmented 16-file write is compacted to ≤2 files via
    the staging-then-swap rewrite, and the oracle proves the content
    survived bit-for-bit. The lakehouse OPTIMIZE shape — at 100 TB the
    same plan runs per partition directory off the file listing."""
    root = _scratch("dfx_compact_")
    try:
        path = f"{root}/nation.parquet"
        read_table(spark, sf_dir, "nation").repartition(16).write.parquet(
            path
        )
        n_files = sinks.compact_dataset(spark, path, target_partitions=2)
        if n_files > 2:
            raise AssertionError(f"compaction left {n_files} files")
        return spark.read.parquet(path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("sink_orc_roundtrip", oracle="SELECT * FROM nation")
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read round trip (§E source-format breadth): Spark's
    second first-class columnar format, with the same predicate
    pushdown / column-pruning story as parquet."""
    root = _scratch("dfx_orc_")
    try:
        path = f"{root}/nation.orc"
        read_table(spark, sf_dir, "nation").write.orc(path)
        return spark.read.orc(path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "sink_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS BIGINT) AS name_len
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, CAST(length(n_name) AS BIGINT)
    FROM nation
    """,
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round trip: a dataset written under schema v1
    receives an appended batch carrying a NEW column, and a
    ``mergeSchema`` read resolves the union schema with nulls
    back-filled on the old files — the lakehouse column-add path every
    long-lived landing dataset eventually needs. The oracle reproduces
    the exact merged relation."""
    root = _scratch("dfx_evolve_")
    try:
        nation = read_table(spark, sf_dir, "nation")
        path = f"{root}/nation"
        nation.write.parquet(path)
        nation.withColumn(
            "name_len", F.length("n_name").cast("bigint")
        ).write.mode("append").parquet(path)
        return (
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, round(SUM(value), 4) AS sum_value
    FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + pruned read-back.

    Writes events partitioned by ``event_type`` and aggregates two
    partitions: the scan of the read-back only lists matching
    directories (PartitionFilters), the 100 TB pruning path.
    """
    root = _scratch("dfx_partitioned_")
    try:
        sinks.write_partitioned(
            read_table(spark, sf_dir, "events"), root, ("event_type",)
        )
        back = sinks.read_dataset(spark, root)
        return (
            back.filter(F.col("event_type").isin("click", "purchase"))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_incremental_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def stream_incremental_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental landing: the event stream appends micro-batches to a
    parquet dataset through Spark's file sink — checkpoint + the sink's
    metadata log give exactly-once landed files across restarts (the
    streaming analogue of the reference's full-extract load). The
    result aggregates the *landed* dataset, so the oracle equality
    proves no batch was lost or doubled.
    """
    root = _scratch("dfx_stream_land_")
    try:
        stream = streaming.read_events_stream(spark, sf_dir)
        out, ckpt = f"{root}/landed", f"{root}/ckpt"
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        streaming.await_drain(q, 120, "incremental landing drain")
        return (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_late_data",
    # The oracle replays the full watermark rule over the event log:
    # the jittered arrival clock and ntile batch assignment (both
    # engine-portable), then horizon_k = max(event time over batches
    # < k) − 30 min and late iff strictly below it.
    oracle="""
    WITH e AS (
        SELECT event_id, epoch_us(ts) AS us,
               epoch_us(ts)
               + ((CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 7201) - 3600) * 1000000
                   AS arrival_us
        FROM events
    ),
    b AS (
        SELECT *, ntile(6) OVER (ORDER BY arrival_us, event_id) - 1
                   AS batch_seq
        FROM e
    ),
    mx AS (SELECT batch_seq, max(us) AS bmax FROM b GROUP BY batch_seq),
    wm AS (
        SELECT batch_seq,
               max(bmax) OVER (ORDER BY batch_seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - 1800000000 AS wm_us
        FROM mx
    )
    SELECT CAST(b.batch_seq AS INT) AS batch_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN wm_us IS NULL OR us >= wm_us THEN 1 END)
               AS BIGINT) AS n_on_time,
           CAST(COUNT(CASE WHEN us < wm_us THEN 1 END) AS BIGINT)
               AS n_late,
           CAST(MAX(us) AS BIGINT) AS batch_max_us,
           wm_us AS watermark_us
    FROM b JOIN wm USING (batch_seq)
    GROUP BY b.batch_seq, wm_us
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting (VERDICT r8 #5 — the one
    streaming semantic previously without first-class driver
    evidence): events replay through a file-source stream in a
    deterministic out-of-order arrival order (jittered arrival clock,
    6 one-file micro-batches), and a foreachBatch audit records, per
    batch, how many rows a 30-minute watermark admits vs drops —
    Spark's exact rule (horizon = monotone max event time of prior
    batches − delay; strictly-below is late; batch 0 admits all),
    made visible instead of silently dropping. Restart-safe: the
    horizon state is the accounting table itself and replayed batches
    are detected idempotently (tests restart the drain mid-backlog
    and pin the result to the one-shot run). FULL value oracle.
    """
    root = _scratch("dfx_late_")
    try:
        events = read_table(spark, sf_dir, "events")
        landing, acct, ckpt = (
            f"{root}/landing", f"{root}/audit", f"{root}/ckpt",
        )
        streaming.stage_arrival_batches(events, landing, n_batches=6)
        streaming.run_late_data_audit(
            spark, landing, acct, ckpt, delay_minutes=30
        )
        return (
            spark.read.parquet(acct)
            .select(
                "batch_seq", "n_events", "n_on_time", "n_late",
                "batch_max_us", "watermark_us",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_upsert_sink",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           round(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-CDC sink: update-mode windowed aggregate upserted into
    a merge-on-read parquet table (per-batch partitions, latest-wins
    read). The resolved read-back must equal the batch aggregate — the
    oracle proves no update was lost, doubled, or resolved stale."""
    root = _scratch("dfx_upsert_")
    try:
        stream = streaming.read_events_stream(spark, sf_dir)
        with streaming.stream_drain_conf(spark):
            q = streaming.stream_upsert_aggregate(
                stream, f"{root}/table", f"{root}/ckpt"
            )
            streaming.await_drain(q, 120, "upsert drain")
        return streaming.read_latest_wins(
            spark, f"{root}/table", ("window_start", "event_type")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_static_enrich",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
           r.r_name AS region_name,
           COUNT(*) AS n_events
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the static
    nation/region dims (broadcast per micro-batch) before a windowed
    count — the standard streaming-fact/slowly-changing-dim pattern."""
    from pyspark.sql import functions as F2

    stream = streaming.read_events_stream(spark, sf_dir)
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    dims = F2.broadcast(
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", F2.col("r_name").alias("region_name"))
    )
    enriched = stream.join(dims, stream["user_id"] % 25 == dims["n_nationkey"])
    windowed = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F2.window("ts", "1 hour").alias("w"), "region_name")
        .agg(F2.count("*").alias("n_events"))
        .select(F2.col("w.start").alias("window_start"), "region_name", "n_events")
    )
    return streaming.run_available_now(windowed, output_mode="complete")


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS click_id, a.user_id
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'click'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks within 30 minutes of a view by
    the same user. Both sides carry watermarks and the join has an
    event-time range bound, so Spark keeps only a bounded window of
    each stream in state — the canonical funnel/attribution join. The
    backlog fits one availableNow batch here, so the matched-pair set
    equals the batch oracle exactly."""
    from pyspark.sql import functions as F2

    events = streaming.read_events_stream(spark, sf_dir)
    views = (
        events.filter(F2.col("event_type") == "view")
        .select(
            F2.col("event_id").alias("view_id"),
            F2.col("user_id"),
            F2.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        events.filter(F2.col("event_type") == "click")
        .select(
            F2.col("event_id").alias("click_id"),
            F2.col("user_id").alias("click_user"),
            F2.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F2.col("user_id") == F2.col("click_user"))
        & (F2.col("click_ts") >= F2.col("view_ts"))
        & (F2.col("click_ts") <= F2.col("view_ts") + F2.expr("INTERVAL 30 MINUTES")),
    ).select("view_id", "click_id", "user_id")
    # Stream-stream joins drain ~4× slower than the windowed aggs (two
    # state stores per partition) — give the AvailableNow drain extra
    # headroom so a loaded machine doesn't flip a correct plan to a
    # spurious TimeoutError.
    return streaming.run_available_now(joined, output_mode="append", timeout_sec=300)


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS click_id, a.user_id
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'click'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'view'
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (VERDICT r13 #5): every
    view pairs with its clicks within 30 minutes OR emits one
    null-click row once state eviction proves no match can arrive —
    the hard outer-join case where the WATERMARK decides emission,
    not the data.

    Harness shape: phase 1 drains the event backlog (matched pairs
    emit; unmatched views sit in state because the watermark has not
    passed their join horizon), then far-future heartbeat rows land
    and phase 2 RESTARTS from the same checkpoint — the advanced
    watermark evicts the remaining view state and phase 3's no-data
    batch flushes the null rows. The emitted union therefore equals
    the batch LEFT JOIN over the whole horizon, which is exactly the
    oracle. TWO heartbeats, one per join side: the self-join plans the
    landing dir as two INDEPENDENT file sources, and Catalyst pushes
    each leg's ``event_type`` filter through the EventTimeWatermark
    node into its scan, so a row of a type outside a leg's filter
    never reaches that leg's event-time stats; under the default
    ``multipleWatermarkPolicy=min`` the global watermark is the min
    over both legs — exactly the production contract (every input
    stream needs its own liveness signal). The view-typed heartbeat
    (user −1) can itself never flush (the watermark never passes its
    own horizon) and is filtered from the result; the click-typed one
    (user −2) matches no view, and an unmatched RIGHT row emits
    nothing in a left join. The restart is load-bearing: it proves
    the outer state (both join buffers + watermark) survives a
    checkpoint round-trip, and tests/test_round14_ops.py pins the
    same property on a hand-built stream.
    """
    events = read_table(spark, sf_dir, "events")
    root = _scratch("dfx_ssleft_")
    try:
        landing = f"{root}/landing"
        # stage the full backlog as phase-1 files
        events.write.parquet(landing, mode="overwrite")
        horizon = events.select(
            (
                F.unix_timestamp(F.max("ts"))
                + 2 * 3600  # watermark delay
                + 30 * 60  # join window
                + 3600  # margin
            ).alias("s")
        ).collect()[0]["s"]

        def drain() -> None:
            stream = streaming.stream_view_click_left_join(
                streaming.read_events_landing(spark, landing)
            )
            with streaming.stream_drain_conf(spark):
                q = (
                    stream.writeStream.format("parquet")
                    .option("path", f"{root}/out")
                    .option("checkpointLocation", f"{root}/ckpt")
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                streaming.await_drain(q, 300, "left-join drain")

        drain()
        # The heartbeats: one row PER JOIN SIDE (each leg's pushed-down
        # event_type filter prunes the other side's rows before its
        # watermark stats — see the plan docstring), ts past every
        # view's (window + delay) horizon. Sentinel users −1/−2 can
        # match nothing real and not each other. coalesce(1): a tiny
        # df otherwise appends one file per default-parallelism
        # partition, most of them empty.
        spark.createDataFrame(
            [(-1, -1, "view", 0.0, None), (-2, -2, "click", 0.0, None)],
            "event_id bigint, user_id bigint, event_type string, "
            "value double, props string",
        ).withColumn(
            "ts", F.timestamp_seconds(F.lit(horizon))
        ).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.parquet(landing, mode="append")
        drain()  # restart: heartbeats process, watermark advances
        # The watermark advances at the heartbeat batch's COMMIT, so
        # eviction needs one more batch to observe it; a third restart
        # runs that (no-data) batch and flushes the last null rows.
        drain()
        return (
            spark.read.parquet(f"{root}/out")
            .where(F.col("view_id") >= 0)  # drop the view heartbeat
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "sink_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §4 fact–fact join strategy, demonstrated end-to-end: both
    fact tables land as bucketed managed tables
    (``sinks.write_bucketed_table``, same key, same bucket count), and
    the revenue join over the READ-BACK runs bucket-local — broadcast
    disabled to force the at-scale regime, and the executed plan is
    asserted Exchange-free on both join inputs (the assertion a 100 TB
    job lives or dies by; tests/test_streaming_sinks.py pins the same
    property independently). The oracle joins the raw parquet, so the
    equality also proves the bucketed round-trip lost nothing.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    sinks.write_bucketed_table(
        orders, "t_bj_orders", ("o_orderkey",), num_buckets=8
    )
    sinks.write_bucketed_table(
        lineitem, "t_bj_lineitem", ("l_orderkey",), num_buckets=8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bj_lineitem").join(
            spark.table("t_bj_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        revenue = (
            dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
        ).cast("decimal(18,4)")
        out = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("SortMergeJoin", 1)[-1]
        if "Exchange" in join_part:
            raise AssertionError(
                "bucketed fact-fact join gained a shuffle Exchange"
            )
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bj_orders")
        spark.sql("DROP TABLE IF EXISTS t_bj_lineitem")


@query(
    "stream_weighted_percentile",
    # Same oracle as q_weighted_percentile: the folded histogram log
    # must produce the identical integer×decimal rank picks.
    oracle="""
    WITH h AS (
        SELECT l_returnflag, l_extendedprice AS v,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, v, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM h
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN cw * 2 >= tw * 1 THEN v END) AS DOUBLE)
               AS wp50,
           CAST(MIN(CASE WHEN cw * 10 >= tw * 9 THEN v END) AS DOUBLE)
               AS wp90,
           CAST(MAX(tw) AS DOUBLE) AS total_weight
    FROM c GROUP BY 1
    """,
)
def stream_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact weighted percentiles
    (``streaming.incremental_weighted_histogram``) — the incremental
    face of ``q_weighted_percentile``: each micro-batch lands its
    (group, value) → Σweight decimal partial under a batch_id-keyed
    OVERWRITE partition (weights ADD — the PSI replay discipline, not
    the bitmap OR's), the reader folds the log with one combinable
    decimal SUM and hands it to ``weighted_percentiles_from_hist``,
    which cannot tell a folded log from a one-shot scan. Lineitem
    lands in 6 micro-batches; equality with the one-shot SQL oracle
    proves no batch was lost, doubled, or mis-summed."""
    root = _scratch("dfx_stream_wpct_")
    try:
        li = read_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey"
        )
        landing = f"{root}/landing"
        streaming.stage_hash_slices(li, landing, "l_orderkey")
        streaming.incremental_weighted_histogram(
            spark, landing, f"{root}/state", f"{root}/ckpt"
        )
        return streaming.read_weighted_percentiles(
            spark,
            f"{root}/state",
            {"wp50": (1, 2), "wp90": (9, 10)},
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_psi_drift",
    # Same oracle as q_psi_drift: the folded streaming count log must
    # produce the identical exact-decimal PSI fold.
    oracle="""
    WITH v AS (
        SELECT event_type,
               LEAST(GREATEST(CAST(floor(value / 50) AS BIGINT), 0), 19)
                   AS bin
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    spine AS (SELECT UNNEST(range(0, 20)) AS bin),
    b AS (
        SELECT s.bin,
               COUNT(CASE WHEN v.event_type = 'click' THEN 1 END) AS na,
               COUNT(CASE WHEN v.event_type = 'purchase' THEN 1 END) AS nb
        FROM spine s LEFT JOIN v ON v.bin = s.bin
        GROUP BY s.bin
    ),
    t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM b),
    terms AS (
        SELECT CAST(round(
                 (CAST(na + 1 AS DOUBLE) / (ta + 20)
                  - CAST(nb + 1 AS DOUBLE) / (tb + 20))
                 * ln((CAST(na + 1 AS DOUBLE) / (ta + 20))
                      / (CAST(nb + 1 AS DOUBLE) / (tb + 20))), 12)
               AS DECIMAL(28,12)) AS term,
               ta, tb
        FROM b, t
    )
    SELECT CAST(MAX(ta) AS BIGINT) AS n_ref,
           CAST(MAX(tb) AS BIGINT) AS n_cur,
           round(CAST(SUM(term) AS DOUBLE), 6) AS psi
    FROM terms
    """,
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor (``streaming.incremental_psi_drift``)
    — the incremental face of ``q_psi_drift``: per-batch (bin, side)
    counts on the shared fixed spine land under batch-keyed OVERWRITE
    partitions (counts add, so replay safety is the batch-id
    discipline, not the bitmap log's idempotent OR); the reader folds
    #batches × ≤20 rows and runs the identical exact-decimal term
    fold. Events land in 6 micro-batches; equality with the one-shot
    SQL oracle proves no batch was lost, doubled, or binned
    differently. Restart pinned in tests/test_streaming_sinks.py."""
    root = _scratch("dfx_stream_psi_")
    try:
        events = read_table(spark, sf_dir, "events")
        landing = f"{root}/landing"
        streaming.stage_hash_slices(events, landing, "event_id")
        streaming.incremental_psi_drift(
            spark, landing, f"{root}/state", f"{root}/ckpt"
        )
        return streaming.read_psi_drift(
            spark, f"{root}/state"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_scd2",
    # One-shot SCD2 derivation over the raw change feed: keep a row
    # iff its attribute differs from the user's previous row in
    # (ts, event_id) order, then lead() closes each run's interval.
    # The streaming face must reproduce this exactly from its
    # per-batch compacted change log.
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        FROM events
    ),
    c AS (
        SELECT *,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY us, event_id) AS prev
        FROM e
    ),
    ch AS (
        SELECT * FROM c WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id,
           event_type AS attr,
           CAST(us AS BIGINT) AS valid_from_us,
           CAST(LEAD(us) OVER (
               PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)
               AS valid_to_us,
           LEAD(us) OVER (
               PARTITION BY user_id ORDER BY us, event_id) IS NULL
               AS is_current
    FROM ch
    """,
)
def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension-history maintenance
    (``streaming.incremental_scd2``): the event feed updates each
    user's current ``event_type`` attribute; per micro-batch the
    change-capture compaction lands ONLY change rows under
    batch_id-keyed OVERWRITE partitions, and the reader re-compacts
    across batch boundaries before deriving ``valid_from/valid_to``
    intervals — the third replay-state algebra beside the bitmap OR
    log (idempotent) and the PSI/weight logs (additive): a DERIVED
    change log whose per-batch content is a pure function of its
    time-sliced batch. Events land in 6 event-time slices
    (``stage_time_slices``); equality with the one-shot SQL
    derivation proves no change row was lost, doubled, or attributed
    to the wrong interval across slice boundaries."""
    root = _scratch("dfx_stream_scd2_")
    try:
        events = read_table(spark, sf_dir, "events")
        landing = f"{root}/landing"
        streaming.stage_time_slices(events, landing, n_batches=6)
        streaming.incremental_scd2(
            spark, landing, f"{root}/state", f"{root}/ckpt"
        )
        return streaming.read_scd2(
            spark, f"{root}/state"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_bitmap_distinct",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS weekly_distinct
    FROM events GROUP BY 1
    """,
)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact distinct users per week via an append-only
    bitmap-partial log (``streaming.incremental_bitmap_distinct``) —
    the incremental face of ``q_bitmap_distinct``.

    Events land in 6 micro-batches (maxFilesPerTrigger=1); each batch
    appends its per-(week, bucket) OR-words and NOTHING is ever
    rewritten: bitmap OR is idempotent and commutative, so checkpoint
    replays and out-of-order batches converge to the same bits — the
    CRDT merge-only state design (restart + double-append pinned in
    tests/test_streaming_sinks.py). The oracle recomputes weekly
    COUNT(DISTINCT) from the raw table: equality proves no batch was
    lost, doubled, or miscounted.
    """
    root = _scratch("dfx_stream_bmp_")
    try:
        events = read_table(spark, sf_dir, "events")
        landing = f"{root}/landing"
        streaming.stage_hash_slices(events, landing, "event_id")
        streaming.incremental_bitmap_distinct(
            spark, landing, f"{root}/state", f"{root}/ckpt"
        )
        return streaming.read_bitmap_distinct(
            spark, f"{root}/state"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_cms_sketch",
    oracle="""
    WITH base AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    toks AS (SELECT unnest(t) AS word FROM base),
    wh AS (
        SELECT CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(word), 9, 8)) AS BIGINT) AS h2
        FROM toks
    )
    SELECT CAST(r.i AS INT) AS i,
           CAST(((h1 + r.i * h2) % 2147483647) % 512 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM wh CROSS JOIN (SELECT unnest(range(4)) AS i) r
    GROUP BY 1, 2
    """,
)
def stream_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch over documents arriving in 6
    micro-batches — the incremental face of ``q_cms_heavy_hitters``'s
    cell table, and the sketch family's streaming-state story made
    executable: exact streaming heavy-hitters keep one state row per
    DISTINCT key (unbounded at n-gram/URL grain), the CMS keeps
    ≤ depth×width cells regardless (state bound is a CONSTANT of the
    sketch, not a function of the data).

    Each batch lands its bounded cell partial under a
    ``batch_id=<n>/`` OVERWRITE partition (counts ADD, so replay
    safety is the batch-keyed-overwrite discipline — the PSI log's,
    not the bitmap OR-log's); the reader folds with one combinable
    SUM. CMS mergeability (sum of split sketches == sketch of the
    union, pinned in tests/test_round14_ops.py) means the folded log
    EQUALS the one-shot sketch, so the FULL batch SQL oracle — the
    portable md5 family replayed in DuckDB — covers the stream at
    any point in the backlog. Restart/no-double-count pinned in
    tests/test_round14_ops.py.
    """
    root = _scratch("dfx_stream_cms_")
    try:
        docs = read_table(spark, sf_dir, "documents")
        landing = f"{root}/landing"
        streaming.stage_hash_slices(docs, landing, "doc_id")
        streaming.incremental_cms_sketch(
            spark, landing, f"{root}/state", f"{root}/ckpt"
        )
        return streaming.read_cms_sketch(
            spark, f"{root}/state"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "stream_rolling_reach",
    # Same independent-method oracle as q_rolling_reach_bitmap: a
    # literal sliding COUNT(DISTINCT) replay — equality proves the
    # incremental OR-log lost/doubled/miscounted nothing across the
    # 6-batch drain AND that the read-time window fold is exact.
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
    contrib AS (
        SELECT d.user_id,
               CAST(unnest(generate_series(d.day, d.day + 13,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS report_day
        FROM d
    )
    SELECT report_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS reach
    FROM contrib, bounds
    WHERE report_day <= bounds.hi AND report_day >= bounds.lo + 13
    GROUP BY report_day
    """,
)
def stream_rolling_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling 14-day reach off an append-only day-grain
    bitmap word log — the incremental face of
    ``q_rolling_reach_bitmap`` (r12). Each of the 6 micro-batches
    appends its per-(day, bucket) OR-words (idempotent + commutative —
    the CRDT merge-only contract shared with ``stream_bitmap_distinct``,
    restart/double-append safe by algebra); the reader folds the log
    once and answers ANY window width without re-ingesting (the state
    is day-grain by design). The oracle recomputes the sliding
    COUNT(DISTINCT) from the raw table — an independent method."""
    root = _scratch("dfx_stream_reach_")
    try:
        events = read_table(spark, sf_dir, "events")
        landing = f"{root}/landing"
        streaming.stage_hash_slices(events, landing, "event_id")
        streaming.incremental_rolling_reach(
            spark, landing, f"{root}/state", f"{root}/ckpt"
        )
        return streaming.read_rolling_reach(
            spark, f"{root}/state", window_days=14
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
