"""Structured Streaming operators over the ``events`` table.

The reference is a batch ETL (its pipelines re-pull full API extracts,
`/root/reference/src/dfx_etl/pipelines/_pipeline.py:22-121`); the
streaming surface here is the Spark-native generalization: the same
event-shaped observations arriving continuously.  Streams use the file
source with an explicit schema (no inference pass), event-time
watermarks for bounded state, and ``Trigger.AvailableNow`` so a test /
driver run drains the backlog and terminates — the identical plan runs
unbounded on a real cluster by swapping the trigger.

Scale notes: a windowed aggregation shuffles once on (window, key) and
keeps only in-flight windows in state (watermark evicts); stateful
dedup keys state by the dedup columns, so the watermark horizon bounds
state size regardless of total stream length.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import ensure_session_confs

__all__ = [
    "stream_state_partitions",
    "stream_drain_conf",
    "drain_timeout_sec",
    "await_drain",
    "read_events_stream",
    "read_events_landing",
    "read_documents_stream",
    "run_available_now",
    "windowed_event_counts",
    "stream_dedup_events",
    "stream_minhash_dedup_docs",
    "stream_minhash_dedup_banded",
    "stream_sessionize_events",
    "stream_view_click_left_join",
    "incremental_cms_sketch",
    "read_cms_sketch",
    "stream_ewma_anomalies",
    "stream_upsert_aggregate",
    "read_latest_wins",
]

# Claims-table compaction lease staleness horizon: a lease older than
# this is presumed orphaned by a dead driver and may be stolen. Real
# compactions hold the lease for seconds, so minutes of slack is ample.
_LEASE_TTL_SECONDS = 600.0


def stream_state_partitions(spark: SparkSession) -> int:
    """Streaming STATE partition count for this engine's drains.

    ``spark.sql.shuffle.partitions`` plays a different role in a
    stateful streaming query than in a batch job: it fixes the number
    of state-store INSTANCES (per stateful operator, per partition —
    a stream-stream join keeps four stores per partition), it is baked
    into the checkpoint at first start, and every micro-batch pays a
    fixed per-store filesystem commit (delta file + CRC + rename)
    regardless of how many rows that store holds. Measured here
    (guide §1/§2, r14): the stream-stream left-join drain spends
    35–126 *summed* seconds per batch in ``commitTimeMs`` at 32
    partitions — for ≤40k rows of state — and the whole 3-drain
    harness drops 29.4 s → 11–12 s when state runs at 8 partitions,
    with the emitted row set identical. State partitioning is sized to
    STATE VOLUME, not to the host's core count, which is why this is a
    first-class knob and not the session shuffle default: at bench SF
    the state is a few MB, so the floor (8) is right on any core
    count; a production deployment with GBs of hot state raises
    ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` (and gets a new
    checkpoint) — the same explicit re-shard a real pipeline performs,
    because the value is frozen into the checkpoint either way.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    if env:
        return max(1, int(env))
    return max(2, min(spark.sparkContext.defaultParallelism, 8))


def drain_timeout_sec(base: int) -> int:
    """Effective drain timeout: ``base`` scaled by the env knob
    ``SPARK_GRAFT_DRAIN_TIMEOUT_SCALE`` (default 1.0).

    The per-drain base values are sized for a quiet host; a loaded one
    (2.5–3.5× whole-host slowdowns were measured in round 14) could
    push a 3 s drain past a fixed 120 s ceiling and turn slowness into
    an error (stream_minhash_dedup did, on a contended round-15 run).
    The scale knob lets a loaded or slower environment degrade to
    slow-but-correct instead — the same parameterisation contract as
    SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS. Every drain waits through
    ``await_drain``, which reports the scaled value it waited; both are
    pytest-pinned (tests/test_round15_opt.py).
    """
    scale = float(os.environ.get("SPARK_GRAFT_DRAIN_TIMEOUT_SCALE", "1") or "1")
    return max(1, int(base * scale))


def await_drain(query: StreamingQuery, timeout_sec: int, what: str) -> None:
    """Wait for an AvailableNow ``query`` to drain its backlog, then stop it.

    Waits ``drain_timeout_sec(timeout_sec)`` and raises ``TimeoutError``
    naming that same effective wait when the backlog was only partly
    processed (``awaitTermination`` returned ``False``).
    """
    timeout = drain_timeout_sec(timeout_sec)
    try:
        if not query.awaitTermination(timeout):
            raise TimeoutError(f"{what} exceeded {timeout}s")
    finally:
        query.stop()


@contextmanager
def stream_drain_conf(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to a streaming drain.

    Set for the whole start→awaitTermination window (the value is read
    at query start for the state layout AND by every foreachBatch
    inner job), restored afterwards so batch plans in the same session
    keep the session default.

    Single-threaded assumption (ADVICE r14): this mutates the
    session-global conf, which is safe because the engine's drains run
    one at a time from a single driver thread (bench, oracle gate and
    pytest all serialize queries). A future concurrent-query harness
    must either scope confs per thread (``SparkSession.newSession()``)
    or hold a lock around the drain window.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(stream_state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)

# Streaming file sources need an explicit schema (no inference pass on
# an unbounded directory) — but hard-coding one bakes in the upstream
# writer's physical timestamp choice, which has already changed once
# (TIMESTAMP(NANOS) → timestamp[us]/NTZ between testdata generations).
# Instead, probe the batch footer of the landing dir ONCE at stream
# construction (a footer-only read, no data scan) and declare exactly
# what the files contain; event-time columns are then normalized to
# session-TZ ``timestamp`` the same way the batch readers do.


def _probed_stream(
    spark: SparkSession, landing: str, event_time_col: str | None = None
) -> DataFrame:
    """readStream with the landing dir's own footer schema; the
    ``event_time_col`` (if named) is normalized to ``timestamp``
    whether the files carry ns-longs, TIMESTAMP_NTZ, or TIMESTAMP."""
    schema = spark.read.parquet(landing).schema
    raw = spark.readStream.schema(schema).format("parquet").load(landing)
    if event_time_col is None:
        return raw
    dtype = dict(raw.dtypes)[event_time_col]
    if dtype == "bigint":  # TIMESTAMP(NANOS) scanned under nanosAsLong
        return raw.withColumn(
            event_time_col,
            F.timestamp_micros(F.expr(f"`{event_time_col}` div 1000")),
        )
    if dtype == "timestamp_ntz":  # same wall-clock under the UTC session
        return raw.withColumn(
            event_time_col, F.col(event_time_col).cast("timestamp")
        )
    return raw


# File-source streams watch a *directory* (files land, the source picks
# them up). The testdata ships single-file tables, so stage a symlink
# into a per-sf landing directory under the repo's gitignored .scratch —
# idempotent, and exactly the layout a production ingest dir has.
_SCRATCH = Path(__file__).resolve().parents[2] / ".scratch"


def _landing_dir(sf_dir: str, name: str) -> str:
    src = Path(sf_dir) / f"{name}.parquet"
    if src.is_dir():  # already a directory dataset — stream it directly
        return str(src)
    land = _SCRATCH / "stream_landing" / Path(sf_dir).name / name
    land.mkdir(parents=True, exist_ok=True)
    link = land / src.name
    # is_symlink(), not exists(): exists() follows the link, so a
    # dangling symlink (its target dir was purged) or one pointing at a
    # DIFFERENT sf_dir that happens to share a basename would either
    # crash the re-create or silently stream stale data. Re-point it.
    if link.is_symlink():
        if os.readlink(link) != str(src):
            link.unlink()
            os.symlink(src, link)
    elif not link.exists():
        os.symlink(src, link)
    return str(land)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with event-time ``ts``."""
    ensure_session_confs(spark)
    return _probed_stream(spark, _landing_dir(sf_dir, "events"), "ts")


def read_events_landing(spark: SparkSession, landing: str) -> DataFrame:
    """Events stream over an EXPLICIT landing directory (multi-phase
    arrival harnesses that stage their own files), with the same
    footer-probed schema + ``ts`` normalization as
    ``read_events_stream``."""
    ensure_session_confs(spark)
    return _probed_stream(spark, landing, "ts")


# Fixed epoch for the synthetic document arrival clock (2020-09-13).
_DOC_ARRIVAL_EPOCH_US = 1_600_000_000_000_000


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet.

    The corpus has no event time, so ingestion assigns a synthetic
    arrival timestamp (one doc per second from a fixed epoch, in
    ``doc_id`` order) — deterministic, and exactly the "ingest clock"
    a crawl-landing pipeline stamps on arrival. The watermark over it
    bounds dedup state the same way it would over a real clock.
    """
    ensure_session_confs(spark)
    raw = _probed_stream(spark, _landing_dir(sf_dir, "documents"))
    return raw.withColumn(
        "ts",
        F.timestamp_micros(
            F.lit(_DOC_ARRIVAL_EPOCH_US) + F.col("doc_id") * F.lit(1_000_000)
        ),
    )


def stream_minhash_dedup_docs(
    docs: DataFrame,
    n: int = 3,
    num_perms: int = 64,
    watermark: str = "1 hour",
    family: str = "xxhash64",
) -> DataFrame:
    """Streaming near-duplicate dedup on the MinHash signature.

    Each document's 64-permutation MinHash signature is computed
    row-locally with higher-order array functions (no explode/groupBy —
    the batch path's explode+agg trick needs a blocking aggregate,
    which a streaming dedup can't sit behind), then
    ``dropDuplicatesWithinWatermark`` keys state on the signature hash:
    a doc whose full signature matches any doc seen within the
    watermark horizon is dropped. Full-signature equality means
    "identical shingle set to sketch resolution" — the bounded-state
    streaming analogue of exact+near-exact dedup; band-level
    any-of-k matching needs cross-row state beyond dropDuplicates
    semantics — see ``stream_minhash_dedup_banded`` for that operator.

    Documents too short to shingle (< n tokens) fall back to exact
    text-hash dedup under a separate key kind, so they never collide
    with each other through an all-null signature.

    State per live key is one hash + timestamp, evicted at the
    watermark — constant memory per distinct doc within the horizon
    regardless of stream length. The signature hashes are identical to
    ``operators.dedup.minhash_signatures`` (same shingle ids, same
    per-permutation xxhash64 chaining), tested batch-vs-stream.
    """
    from ..operators.dedup import (
        PORTABLE_PRIME,
        hashed_gram_ids,
        shingles_from_tokens,
        token_hashes,
        tokens,
    )

    if family == "portable":
        # md5 K–M family (the oracle-able mode): the dedup key is the
        # comma-joined signature STRING — engine-reproducible, so the
        # emitted (kind, key) set has a SQL twin. Same repartition
        # barrier as below (materialize the digests once per row).
        grams = docs.select(
            "doc_id",
            "ts",
            "text",
            F.transform(
                F.array_distinct(
                    shingles_from_tokens(tokens(F.col("text")), n)
                ),
                lambda s: F.md5(s),
            ).alias("__dg"),
        ).repartition(
            max(2, docs.sparkSession.sparkContext.defaultParallelism)
        )
        h1 = lambda dg: F.conv(F.substring(dg, 1, 8), 16, 10).cast("long")  # noqa: E731
        h2 = lambda dg: F.conv(F.substring(dg, 9, 8), 16, 10).cast("long")  # noqa: E731
        signature = F.transform(
            F.sequence(F.lit(0), F.lit(num_perms - 1)),
            lambda p: F.array_min(
                F.transform(
                    F.col("__dg"),
                    lambda dg: (h1(dg) + p * h2(dg)) % F.lit(PORTABLE_PRIME),
                )
            ),
        )
        keyed = grams.select(
            "doc_id",
            "ts",
            F.when(F.size("__dg") > 0, F.lit("minhash"))
            .otherwise(F.lit("exact"))
            .alias("sig_kind"),
            F.when(F.size("__dg") > 0, F.array_join(signature, ","))
            .otherwise(F.md5(F.col("text")))
            .alias("sig_key"),
        )
        return (
            keyed.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["sig_kind", "sig_key"])
            .select("doc_id", "sig_kind", "sig_key")
        )

    hashed = docs.select(
        "doc_id", "ts", "text", token_hashes("text").alias("__th")
    )
    # The repartition is a physical barrier (streams can't
    # localCheckpoint): without it CollapseProject inlines the shingle
    # expression into the 64 per-permutation lambdas below and the
    # document re-tokenizes 64× per row; with it ``__g`` materializes
    # once per row. It also spreads the CPU-bound sketch work across
    # every core — the same double duty as the batch operators'
    # ``_spread``.
    grams = hashed.select(
        "doc_id", "ts", "text", hashed_gram_ids(F.col("__th"), n).alias("__g")
    ).repartition(
        max(2, docs.sparkSession.sparkContext.defaultParallelism)
    )
    signature = F.transform(
        F.sequence(F.lit(0), F.lit(num_perms - 1)),
        lambda i: F.array_min(
            F.transform(F.col("__g"), lambda h: F.xxhash64(h, i))
        ),
    )
    keyed = grams.select(
        "doc_id",
        "ts",
        F.when(F.size("__g") > 0, F.lit("minhash"))
        .otherwise(F.lit("exact"))
        .alias("sig_kind"),
        F.when(F.size("__g") > 0, F.xxhash64(signature))
        .otherwise(F.xxhash64(F.col("text")))
        .alias("sig_key"),
    )
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["sig_kind", "sig_key"])
        .select("doc_id", "sig_kind", "sig_key")
    )


def banded_minhash_rows(
    docs: DataFrame,
    n: int = 3,
    num_perms: int = 64,
    bands: int = 16,
    family: str = "xxhash64",
) -> DataFrame:
    """Explode documents into LSH band rows
    ``(doc_id, ts, expected, band_idx, band_hash)``.

    Per-row computation via higher-order array functions (the only
    shuffle is ``_spread``'s work-distribution repartition); identical
    band hashing to ``operators.dedup.minhash_lsh_pairs`` (same shingle
    ids, same per-permutation xxhash64 chaining, same band grouping).
    Batch-context only (foreachBatch / batch plans): the lineage
    barrier uses ``localCheckpoint``, which streaming frames reject.
    Docs too short to shingle get one exact-text pseudo-band
    (``band_idx = -1``) so they dedup among themselves exactly;
    ``expected`` carries each doc's band count for the any-of-k
    verdict downstream.

    ``family="portable"`` switches to the md5 Kirsch–Mitzenmacher
    signature family of ``dedup.minhash_lsh_pairs_portable`` —
    ``band_hash`` becomes the comma-joined signature-slice STRING
    (engine-reproducible), which is what lets the banded dedup's
    single-drain verdicts carry a DuckDB value oracle. One family per
    ``state_dir``: the claims parquet inherits the band_hash type.
    """
    from ..operators.dedup import (
        PORTABLE_PRIME,
        _spread,
        hashed_gram_ids,
        shingles_from_tokens,
        token_hashes,
        tokens,
    )

    rows_per_band = num_perms // bands
    if family == "portable":
        # Materialize the per-shingle md5 digests ONCE behind the
        # localCheckpoint barrier (the same CollapseProject trap as the
        # xxhash64 branch: inlined, the md5 would re-evaluate per perm).
        digests = F.transform(
            F.array_distinct(
                shingles_from_tokens(tokens(F.col("text")), n)
            ),
            lambda s: F.md5(s),
        )
        grams = (
            _spread(docs)
            .select("doc_id", "ts", "text", digests.alias("__dg"))
            .localCheckpoint(eager=False)
        )
        h1 = lambda dg: F.conv(F.substring(dg, 1, 8), 16, 10).cast("long")  # noqa: E731
        h2 = lambda dg: F.conv(F.substring(dg, 9, 8), 16, 10).cast("long")  # noqa: E731
        band_keys = F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.array_join(
                F.transform(
                    F.sequence(
                        b * rows_per_band, (b + 1) * rows_per_band - 1
                    ),
                    lambda p: F.array_min(
                        F.transform(
                            F.col("__dg"),
                            lambda dg: (h1(dg) + p * h2(dg))
                            % F.lit(PORTABLE_PRIME),
                        )
                    ),
                ),
                ",",
            ),
        )
        return (
            grams.select(
                "doc_id",
                "ts",
                (F.size("__dg") == 0).alias("__short"),
                F.when(F.size("__dg") > 0, band_keys)
                .otherwise(F.array(F.md5(F.col("text"))))
                .alias("__bands"),
            )
            .select(
                "doc_id",
                "ts",
                "__short",
                F.size("__bands").alias("expected"),
                F.posexplode("__bands").alias("band_idx", "band_hash"),
            )
            .withColumn(
                "band_idx",
                F.when(F.col("__short"), F.lit(-1)).otherwise(
                    F.col("band_idx")
                ),
            )
            .drop("__short")
        )
    # _spread's repartition is a physical barrier doing double duty
    # (exactly as in the batch dedup operators): it spreads the
    # CPU-bound minhash work across every core, and it stops
    # CollapseProject from inlining the shingle expression ``__g`` into
    # the 64 per-permutation lambdas below (which would re-tokenize the
    # document 64× per row).
    grams = _spread(docs).select(
        "doc_id",
        "ts",
        "text",
        hashed_gram_ids(token_hashes("text"), n).alias("__g"),
    ).localCheckpoint(eager=False)
    # Build each band's permutation-min array DIRECTLY (nested
    # transforms, 64 array_min passes total) instead of slicing a
    # shared 64-perm signature expression per band: CollapseProject
    # inlines a referenced expression into every use site, so the
    # slice formulation evaluates the full signature 16× per row
    # (measured 231 s vs 2 s for the whole corpus at sf0.01). Hash
    # values are identical to ``minhash_lsh_pairs``'s
    # xxhash64(slice(signature, …)) — same per-band 4-long array, same
    # xxhash64 chaining.
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.transform(
                F.sequence(
                    b * rows_per_band, (b + 1) * rows_per_band - 1
                ),
                lambda i: F.array_min(
                    F.transform(F.col("__g"), lambda h: F.xxhash64(h, i))
                ),
            )
        ),
    )
    # The exact-text pseudo-band is flagged EXPLICITLY (``__short``)
    # rather than inferred from ``expected == 1``: the inference would
    # conflate "too short to shingle" with "has exactly one band" and,
    # under ``bands=1``, remap real minhash band rows into the
    # xxhash64(text) hash space (ADVICE r4).
    return (
        grams.select(
            "doc_id",
            "ts",
            (F.size("__g") == 0).alias("__short"),
            F.when(F.size("__g") > 0, band_hashes)
            .otherwise(F.array(F.xxhash64("text")))
            .alias("__bands"),
        )
        .select(
            "doc_id",
            "ts",
            "__short",
            F.size("__bands").alias("expected"),
            F.posexplode("__bands").alias("band_idx", "band_hash"),
        )
        .withColumn(
            "band_idx",
            F.when(F.col("__short"), F.lit(-1)).otherwise(F.col("band_idx")),
        )
        .drop("__short")
    )


def _claim_round(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    own: str,
    n: int = 3,
    num_perms: int = 64,
    bands: int = 16,
    family: str = "xxhash64",
) -> DataFrame:
    """One check-then-claim round against the persisted bucket-claims
    table: band the batch, rank contenders by event time, exclude the
    round's OWN partition from the pre-claimed read (retry safety —
    ADVICE r4), flag dups, and atomically overwrite this round's claims
    under ``batch=<own>``. Returns the flagged band rows (checkpointed:
    the claims append must not re-rank). Shared by the streaming
    ``foreachBatch`` and the batch ``incremental_minhash_dedup``.
    """
    from pyspark.sql import Window

    banded = banded_minhash_rows(
        batch_df, n=n, num_perms=num_perms, bands=bands, family=family
    ).localCheckpoint(eager=False)  # feeds rank, claims, verdicts
    try:
        claimed = (
            spark.read.parquet(state_dir)
            .filter(F.col("batch") != own)
            .select("band_idx", "band_hash")
        )
    except Exception:  # first round: no claims yet
        claimed = None
    w = Window.partitionBy("band_idx", "band_hash").orderBy("ts", "doc_id")
    ranked = banded.withColumn("__rk", F.row_number().over(w))
    if claimed is not None:
        hit = ranked.join(
            claimed.withColumn("__claimed", F.lit(True)),
            ["band_idx", "band_hash"],
            "left",
        )
    else:
        hit = ranked.withColumn("__claimed", F.lit(None).cast("boolean"))
    flagged = hit.withColumn(
        "__dup",
        F.col("__claimed").isNotNull() | (F.col("__rk") > 1),
    ).localCheckpoint(eager=True)
    # The claims land in a per-round subdirectory (partition-style
    # ``batch=<own>`` naming, auto-discovered by the root read) under
    # plain OVERWRITE: rounds are at-least-once, and a retried round
    # must replace exactly its own directory, never append a second
    # copy. Same idempotency as dynamic partition overwrite without
    # its commit-protocol cost.
    (
        flagged.filter(~F.col("__dup"))
        .select("band_idx", "band_hash", "ts")
        .write.mode("overwrite")
        .parquet(f"{state_dir}/batch={own}")
    )
    return flagged


def _verdicts(flagged: DataFrame) -> DataFrame:
    """Per-doc any-of-k verdicts from flagged band rows."""
    return (
        flagged.groupBy("doc_id", "expected")
        .agg(F.max(F.col("__dup")).alias("is_dup"))
        .select("doc_id", "is_dup", F.col("expected").alias("n_bands"))
    )


def incremental_minhash_dedup(
    docs: DataFrame,
    state_dir: str,
    batch_tag: str,
    n: int = 3,
    num_perms: int = 64,
    bands: int = 16,
    family: str = "xxhash64",
) -> DataFrame:
    """Batch-incremental near-dup dedup: flag one NEW batch of
    documents against everything the claims table has already seen —
    the daily-ingest production pattern (dedup today's crawl against
    the whole corpus WITHOUT recomputing history).

    Same state machine as ``stream_minhash_dedup_banded``'s per-batch
    round (shared ``_claim_round``): a doc is a duplicate iff any of
    its LSH bands hits a bucket claimed by an earlier batch or loses
    the within-batch event-time rank race; kept docs claim all their
    buckets atomically under ``batch=<batch_tag>``. Re-running the
    same ``batch_tag`` is idempotent (own-partition exclusion + per-tag
    overwrite), so a failed ingest job can simply retry. Per batch the
    cost is one window rank over the batch's band rows and one join
    against claims — batch × bands, never corpus².

    Returns ``(doc_id, is_dup, n_bands)`` verdicts for this batch.
    """
    flagged = _claim_round(
        docs.sparkSession,
        docs,
        state_dir,
        batch_tag,
        n=n,
        num_perms=num_perms,
        bands=bands,
        family=family,
    )
    return _verdicts(flagged)


def stream_minhash_dedup_banded(
    docs: DataFrame,
    state_dir: str,
    out_dir: str,
    n: int = 3,
    num_perms: int = 64,
    bands: int = 16,
    checkpoint_dir: str | None = None,
    compact_every: int | None = 16,
    expire_seconds: float | None = None,
    family: str = "xxhash64",
):
    """Band-level (any-of-k) streaming near-dup dedup via
    ``foreachBatch`` + a persisted bucket-claims table.

    ``stream_minhash_dedup_docs`` matches on FULL-signature equality —
    the strongest rule ``dropDuplicatesWithinWatermark`` can express.
    LSH's actual rule is recall-ier: a doc is a near-dup if ANY of its
    k=16 band buckets was already claimed by an earlier doc, and a
    *kept* doc must claim ALL its buckets atomically (otherwise two
    identical docs racing within a batch can eliminate each other and
    the cluster loses its representative). That check-then-claim needs
    cross-row state no single built-in stateful operator provides, and
    the two natural keyed-state formulations are unavailable: chaining
    two ``applyInPandasWithState`` stages (bucket-claim → doc-verdict)
    is rejected by the analyzer ("Multiple applyInPandasWithStates are
    not supported"), and ``transformWithStateInPandas`` — the Spark 4
    operator designed for exactly this — cannot start its Python state
    server in this build (requires the ``google.protobuf`` package,
    absent here). So the operator uses Structured Streaming's general
    escape hatch for transactional per-batch logic, ``foreachBatch``:

    per micro-batch (all plain JVM DataFrame ops, deterministic):
      1. explode the batch into band rows (``banded_minhash_rows``);
      2. rank bucket rows by ``(ts, doc_id)`` — the earliest EVENT, not
         arrival order, wins a free bucket, making results independent
         of partition/arrival interleaving;
      3. anti-join rank-1 rows against the persisted claims parquet to
         find newly claimed buckets, append them to the claims table;
      4. a doc is a dup iff any of its bands hit a pre-claimed bucket
         or lost its within-batch rank race; append per-doc verdicts
         ``(doc_id, is_dup, n_bands)`` to ``out_dir``.

    The claims table is the operator's state store: per-batch
    ``batch=<token>-<id>`` parquet partitions that every
    ``compact_every`` batches are merged into one compacted partition
    (min claim ``ts`` per bucket) and, when ``expire_seconds`` is set,
    aged out past the dedup horizon — so the directory count and table
    size stay bounded on a long-running stream instead of growing one
    partition per micro-batch. Compaction is crash-safe by
    construction: the merged partition is fully committed BEFORE the
    inputs are deleted, and any crash window leaves a superset of the
    claims (duplicate claim rows only multiply the probe join's
    matches; the per-doc verdict is a ``max`` over them, so verdicts
    never change). Per batch the operator costs one window rank over
    the batch's band rows and one join against claims — at 100 TB both
    are bounded by batch size × bands, never corpus².

    Returns the started ``StreamingQuery`` (AvailableNow trigger);
    callers await it and read ``out_dir`` back. ``checkpoint_dir``
    defaults to a sibling of the claims table — a restarted query
    resumes source progress; a NEW source feeding the same claims
    table (backfill from another directory) passes its own.

    **Concurrency contract**: compaction deletes claims partitions
    after merging them, so with ``compact_every`` set the claims table
    is SINGLE-WRITER — drains sharing one ``state_dir`` must run
    strictly sequentially (the availableNow pattern here), or every
    concurrent drain must pass ``compact_every=None`` and leave
    compaction to an offline owner. A best-effort lease file
    (atomic HDFS ``createNewFile``) additionally serializes two
    compactors racing on the same table: the loser skips its turn
    (safe — the interval fires again) rather than double-deleting.
    The lease does NOT protect a concurrent drain's *read* from seeing
    a mid-compaction table; that is what the sequential-drain
    requirement is for.
    """
    import hashlib

    from pyspark.sql import Window

    # Partition token: batch ids restart at 0 for every new streaming
    # query, so two drains sharing one claims table would clobber each
    # other's batch_id=0 partition. The token is derived from the
    # CHECKPOINT location (stable identity of a streaming query), not
    # a per-call uuid: a query restarted from its checkpoint re-runs
    # batch N under the SAME ``batch=<token>-N`` partition and the
    # overwrite replaces the crashed attempt instead of stranding it
    # under a fresh token (ADVICE r4). Distinct drains pass distinct
    # checkpoints, so cross-run collisions still can't happen.
    ckpt = checkpoint_dir or f"{state_dir}_ckpt"
    run_token = hashlib.sha256(os.path.abspath(ckpt).encode()).hexdigest()[:12]

    def _compact(spark: SparkSession, own: str, now_ts) -> None:
        # Merge every claims partition EXCEPT the current batch's own
        # into one compacted partition, then delete the inputs. The
        # current batch is excluded so that a retried batch (crash
        # after compaction, before the checkpoint commit) still finds
        # its own claims absent from the table it reads — the same
        # invariant the per-batch read relies on.
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(state_dir)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return
        # Compactor lease: atomic create loses ⇒ another compactor owns
        # the table right now; skip this turn (the interval re-fires).
        # A lease is only honored while YOUNG: a driver that died
        # between createNewFile and the finally-delete would otherwise
        # orphan the lease and block every future compaction forever
        # (ADVICE r6). Past the TTL (generous — a real compaction runs
        # for seconds) the lease is presumed dead, stolen, and re-taken.
        #
        # The steal (delete+create) is NOT atomic as a pair, so two
        # stealers can interleave (ADVICE r7: B ages a stale lease, A
        # steals and starts compacting, B deletes A's fresh lease). An
        # OWNER TOKEN arbitrates: every acquirer stamps its uuid into
        # the lease and re-reads it (a) right after stamping and
        # (b) again inside _compact_locked immediately before the
        # destructive delete phase — at most one compactor can pass
        # both reads, so concurrent claim-partition deletion is
        # impossible. The worst surviving overlap is two compactors
        # WRITING compacted partitions; the loser's orphan duplicates
        # claim rows, which is semantically idempotent (claims are a
        # presence set — the per-batch read's groupBy/max absorbs
        # duplicates) and the next compaction merges it away.
        lease = jvm.org.apache.hadoop.fs.Path(f"{state_dir}/_compact.lease")
        own_token = uuid.uuid4().hex

        def _read_token() -> str | None:
            try:
                stm = fs.open(lease)
                try:
                    n = fs.getFileStatus(lease).getLen()
                    buf = bytearray()
                    for _ in range(int(n)):
                        b = stm.read()
                        if b < 0:
                            break
                        buf.append(b)
                    return buf.decode("utf-8", errors="replace")
                finally:
                    stm.close()
            except Exception:  # noqa: BLE001 — racer deleted it mid-read
                return None

        def _owns() -> bool:
            return _read_token() == own_token

        try:
            if not fs.createNewFile(lease):
                import time

                age_ms = time.time() * 1000.0 - fs.getFileStatus(
                    lease
                ).getModificationTime()
                if age_ms <= _LEASE_TTL_SECONDS * 1000.0:
                    return  # live compactor owns the table; skip this turn
                fs.delete(lease, False)  # stale — steal it
                if not fs.createNewFile(lease):
                    return  # lost the steal race to another compactor
            out = fs.create(lease, True)
            out.write(bytearray(own_token.encode("utf-8")))
            out.close()
            if not _owns():
                return  # a racer re-stamped between our write and read
        except Exception:
            return
        try:
            _compact_locked(spark, fs, root, own, now_ts, _owns)
        finally:
            try:
                # Release only OUR lease — a racer's fresh lease (which
                # beat us at the token read) must survive our cleanup.
                if _owns():
                    fs.delete(lease, False)
            except Exception:  # noqa: BLE001
                pass

    def _compact_locked(
        spark: SparkSession, fs, root, own: str, now_ts, confirm_owner
    ) -> None:
        old = [
            s.getPath()
            for s in fs.listStatus(root)
            if s.getPath().getName().startswith("batch=")
            and s.getPath().getName() != f"batch={own}"
        ]
        if not old or (len(old) == 1 and expire_seconds is None):
            return  # nothing to merge (and no horizon to apply)
        claims = spark.read.parquet(state_dir).filter(F.col("batch") != own)
        if expire_seconds is not None and now_ts is not None:
            # "now" is the current batch's max EVENT time (the stream's
            # clock), never the claims' own max — a quiet claims table
            # must still age out as the stream advances.
            import datetime as _dt

            cutoff = now_ts - _dt.timedelta(seconds=expire_seconds)
            claims = claims.filter(F.col("ts") >= F.lit(cutoff))
        # Fresh suffix per attempt: the previous compacted partition is
        # among the inputs, and parquet cannot overwrite a path it is
        # reading — the old one is deleted right after the new commit.
        gen = f"batch={run_token}-c{uuid.uuid4().hex[:8]}"
        (
            claims.groupBy("band_idx", "band_hash")
            .agg(F.min("ts").alias("ts"))
            .write.mode("overwrite")
            .parquet(f"{state_dir}/{gen}")
        )
        if not confirm_owner():
            # Lost the lease after the (idempotent) merge write but
            # before the destructive phase: leave the inputs alone —
            # the winner is reading them — and retract our orphan.
            try:
                fs.delete(
                    spark._jvm.org.apache.hadoop.fs.Path(
                        f"{state_dir}/{gen}"
                    ),
                    True,
                )
            except Exception:  # noqa: BLE001
                pass
            return
        for p in old:
            fs.delete(p, True)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        own = f"{run_token}-{batch_id}"
        flagged = _claim_round(
            spark, batch_df, state_dir, own, n=n, num_perms=num_perms,
            bands=bands, family=family,
        )
        (
            _verdicts(flagged)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={own}")
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            # batch max event time off the already-materialized
            # checkpoint — one scalar job, only on compaction batches
            now_ts = (
                flagged.agg(F.max("ts").alias("m")).collect()[0]["m"]
                if expire_seconds is not None
                else None
            )
            _compact(spark, own, now_ts)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir or f"{state_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_aggregate(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Update-mode windowed aggregate upserted into a merge-on-read
    parquet table — the streaming-CDC sink pattern.

    ``update`` output emits only the windows CHANGED by each
    micro-batch; ``foreachBatch`` lands every batch's updates in its
    own ``batch=<token>-<seq>`` partition (checkpoint-derived token +
    per-batch overwrite = the same retry-idempotent scheme as the
    banded-dedup claims table). The table is resolved LATEST-WINS on
    read (``read_latest_wins``): the newest update per
    (window_start, event_type) key is, by update-mode semantics, the
    complete aggregate for that key — so the merged read-back equals
    the batch aggregate exactly, which the oracle checks. Periodic
    compaction of such a table is the claims-table code path; here the
    partition count is bounded by batch count (one drain = one).
    """
    import hashlib

    run_token = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    agg = windowed_event_counts(events, window=window, watermark=watermark)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{out_dir}/batch={run_token}-{batch_id}")
        )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_latest_wins(
    spark: SparkSession, out_dir: str, keys: tuple[str, ...]
) -> DataFrame:
    """Merge-on-read resolution of an upsert table: one row per key,
    from the highest batch sequence (partition discovery exposes the
    ``batch=<token>-<seq>`` column). One shuffle on the key — the
    standard CDC merge-on-read plan.

    Latest-wins is only well-defined over *numeric* batch sequences;
    a compacted partition (``batch=<token>-c<hex>``, the claims-table
    compactor's naming) has no position in the update order, so its
    presence makes "latest" nondeterministic. Upsert tables must never
    be compacted with the claims-table compactor — and rather than
    silently ranking such rows NULL-last, the read fails loudly on the
    first non-numeric sequence it touches."""
    from pyspark.sql import Window

    df = spark.read.parquet(out_dir)
    seq_str = F.split(F.col("batch"), "-").getItem(1)
    seq = F.when(seq_str.rlike(r"^\d+$"), seq_str.cast("long")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "read_latest_wins: non-numeric batch sequence (was this "
                    "table compacted with the claims-table compactor?): "
                ),
                F.col("batch"),
            )
        )
    )
    w = Window.partitionBy(*keys).orderBy(seq.desc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "batch")
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window per-type aggregate with an event-time watermark.

    The watermark bounds state on an unbounded stream; output flattens
    the window struct to a sortable ``window_start`` column so batch
    SQL (``time_bucket``/``date_trunc``) can reproduce it exactly.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_events(
    events: DataFrame, keys: tuple[str, ...] = ("user_id", "event_type"), watermark: str = "1 hour"
) -> DataFrame:
    """Stateful stream dedup: first event per key within the watermark.

    ``dropDuplicatesWithinWatermark`` keys state by ``keys`` and evicts
    entries once the watermark passes — constant state per live key.
    Projects to the key columns only: *which* row of a duplicate set
    survives depends on arrival order, but the surviving key set is
    deterministic.
    """
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
    return deduped.select(*keys)


def stream_sessionize_events(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator: per-user session windows via
    ``applyInPandasWithState``.

    Spark's built-in session windows cover gap-based aggregation, but
    this is the *custom state* path the reference-free operators need
    (arbitrary per-key state machines). State per user holds the open
    session (start, last_ts, n, sum); a batch's events sort by event
    time, extend or close sessions on the gap rule, and closed sessions
    emit. The watermark bounds state: users silent past the horizon
    time out and flush. Dangling open sessions at end-of-stream remain
    in state by design (exactly what a continuous deployment wants).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            # raw total: rounding happens in the PLAN (F.round, HALF_UP)
            # so it matches SQL-engine semantics — Python's round is
            # banker's and would disagree on exact .5 ulps
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [n],
                    "sum_value": [total],
                }
            )
            return
        # skip empty chunks: concatenating them is deprecated in pandas
        # (dtype inference from all-NA frames) and adds nothing; with
        # no data at all, existing state (and its timeout) stand
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values("ts")
        # Arrow hands ts over as datetime64 whose unit (ns vs µs) and
        # tz-awareness track the source's physical type — normalize to
        # a µs UTC epoch explicitly rather than assuming ns int64.
        ts_us = (
            pd.to_datetime(rows["ts"], utc=True)
            .dt.tz_localize(None)
            .astype("datetime64[us]")
            .astype("int64")
        )
        out = []
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for t, v in zip(ts_us, rows["value"]):
            if start is None:
                start, last, n, total = int(t), int(t), 1, float(v)
            elif t - last > gap_us:
                out.append((start, last, n, total))
                start, last, n, total = int(t), int(t), 1, float(v)
            else:
                last, n, total = int(t), n + 1, total + float(v)
        state.update((start, last, n, total))
        state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [o[0] for o in out],
                    "session_end": [o[1] for o in out],
                    "n_events": [o[2] for o in out],
                    "sum_value": [o[3] for o in out],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, session_start long, session_end long, "
                "n_events int, sum_value double"
            ),
            stateStructType="start long, last long, n int, total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_ms(interval: str) -> int:
    """Parse a Spark-style interval string (``"2 hours"``, ``"30
    seconds"``) to milliseconds — for deriving state-timeout offsets
    from the same string the watermark uses, so the two clocks can't
    drift apart."""
    import re

    m = re.fullmatch(
        r"\s*(\d+)\s*(millisecond|second|minute|hour|day|week)s?\s*",
        interval.lower(),
    )
    if not m:
        raise ValueError(f"Unsupported interval string: {interval!r}")
    unit_ms = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
        "week": 7 * 86_400_000,
    }[m.group(2)]
    return int(m.group(1)) * unit_ms


def stream_ewma_anomalies(
    events: DataFrame,
    alpha: float = 0.3,
    threshold: float = 3.0,
    min_warmup: int = 5,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user streaming anomaly detection via ``applyInPandasWithState``:
    an exponentially weighted mean/variance per key, flagging events
    whose z-score against the PRIOR state exceeds ``threshold`` after
    ``min_warmup`` observations.

    The second custom-state shape next to sessionization: a numeric
    recurrence (EWMA/EWVar) that no built-in windowed aggregate
    expresses. State per user is three scalars — constant memory per
    live key, evicted at the watermark like every stateful operator
    here. Batch rows process in (ts, event_id) order, so results are
    deterministic under any partition/arrival interleaving; the
    z-score uses the state BEFORE absorbing the event (an anomaly must
    not dilute its own baseline, and detection is unaffected by
    whether its batch boundary splits the stream).

    State is evicted one ``watermark`` past a key's last event — the
    timeout offset derives from the watermark argument itself, keeping
    the documented "evicted at the watermark" contract for any caller-
    supplied horizon.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_offset_ms = interval_ms(watermark)

    def fn(key, pdfs, state):
        import math

        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values(["ts", "event_id"])
        if state.exists:
            mean, var, n = state.get
        else:
            mean, var, n = 0.0, 0.0, 0
        out_ids, out_vals, out_z = [], [], []
        last_ms = None
        for _, r in rows.iterrows():
            v = float(r["value"])
            if n >= min_warmup:
                std = math.sqrt(var)
                if std > 0 and abs(v - mean) > threshold * std:
                    out_ids.append(int(r["event_id"]))
                    out_vals.append(v)
                    out_z.append(round((v - mean) / std, 4))
            if n == 0:
                mean, var = v, 0.0
            else:
                d = v - mean
                mean = mean + alpha * d
                var = (1.0 - alpha) * (var + alpha * d * d)
            n += 1
            last_ms = (
                pd.to_datetime(r["ts"], utc=True)
                .tz_localize(None)
                .to_datetime64()
                .astype("datetime64[ms]")
                .astype("int64")
            )
        state.update((mean, var, n))
        if last_ms is not None:
            state.setTimeoutTimestamp(int(last_ms) + timeout_offset_ms)
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_id": out_ids,
                    "value": out_vals,
                    "zscore": out_z,
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, event_id long, value double, zscore double"
            ),
            stateStructType="mean double, var double, n int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_last_touch_attribution(
    events: DataFrame,
    lookback_days: int = 7,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming last-touch attribution — the stateful face of
    ``q_attribution``'s ``last(struct, ignorenulls)`` frame: per user,
    carry the latest click/view as (origin-seconds, type) state and
    emit one row per purchase crediting that touch when it falls
    inside the lookback window, else ``'direct'``.

    The third custom-state shape next to sessionization and the EWMA
    recurrence (VERDICT r9 #4 — the last batch/stream parity gap).
    State per user is THREE scalars (touch origin-seconds, touch type,
    touch epoch-ms), and eviction IS the semantics: the timeout fires
    exactly ``lookback_days`` past the touch, at which point dropping
    the state is indistinguishable from keeping it (an expired touch
    attributes as 'direct' either way) — so state is bounded by LIVE
    touches, not users ever seen. Batch rows process in
    (ts, event_id) order (the batch oracle's exact frame order), so
    results are deterministic under any partition interleaving and
    identical to the batch window for in-order arrival.

    Timestamps reduce to epoch seconds against the fixed 2024-01-01
    origin (the portable-timestamp convention shared with
    q_attribution), so one SQL oracle covers both faces.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    lookback_s = lookback_days * 86400
    origin_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            # expired touch == no touch: purchases after this instant
            # would attribute 'direct' with or without the state row
            state.remove()
            return
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks)
        ts_ms = (
            pd.to_datetime(rows["ts"], utc=True)
            .dt.tz_localize(None)
            .astype("datetime64[ms]")
            .astype("int64")
        )
        # Sort by the TRUNCATED epoch-seconds column + event_id — the
        # batch oracle's exact frame order. Sorting by raw ms-precision
        # ts would let same-second events whose event_id order
        # contradicts sub-second ts order replay in a different order
        # than the oracle, flipping which touch a purchase credits.
        rows = rows.assign(
            __ms=ts_ms, __s=(ts_ms - origin_ms) // 1000
        ).sort_values(["__s", "event_id"])
        t, e, tms = state.get if state.exists else (None, None, None)
        out_ids, out_touch, out_vals = [], [], []
        for _, r in rows.iterrows():
            etype = r["event_type"]
            if etype == "purchase":
                if t is not None and t >= int(r["__s"]) - lookback_s:
                    out_touch.append(e)
                else:
                    out_touch.append("direct")
                out_ids.append(int(r["event_id"]))
                v = r["value"]
                out_vals.append(None if pd.isna(v) else float(v))
            else:  # click / view — the new last touch
                t, e, tms = int(r["__s"]), etype, int(r["__ms"])
        if t is not None:
            expiry_ms = tms + lookback_s * 1000
            # Strict '<' (reconciled with the TTL face, VERDICT r13
            # #3): the credit test is INCLUSIVE (s − t ≤ lookback), so
            # a purchase at exactly touch+lookback arriving in a later
            # batch whose watermark equals expiry must still find the
            # touch. Unreachable in the single-batch harness drain,
            # but the two faces must agree at the boundary.
            if expiry_ms < state.getCurrentWatermarkMs():
                state.remove()  # already beyond lookback — keep tight
            else:
                state.update((t, e, tms))
                state.setTimeoutTimestamp(expiry_ms)
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_id": out_ids,
                    "touch": out_touch,
                    "value": out_vals,
                }
            )

    return (
        events.filter(F.col("event_type").isin("purchase", "click", "view"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, event_id long, touch string, value double"
            ),
            stateStructType="t bigint, e string, tms bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_first_touch_attribution(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming FIRST-touch attribution — the stateful face of
    ``q_first_touch``: per user, remember the earliest click/view ever
    seen and emit one row per purchase crediting it (else
    ``'direct'``).

    The MONOTONE-REGISTER state shape: state is the (origin-seconds,
    event_id, type) triple of the EARLIEST touch seen so far, folded
    downward by (s, event_id) — replay is idempotent (re-processing
    any batch re-folds to the same minimum; the simplest of the
    engine's replay algebras next to idempotent-OR, additive-
    OVERWRITE, and the derived change log). A purchase credits the
    stored touch only when (t, tid) < (s, event_id) — the batch
    oracle's exact 1-PRECEDING frame — so a purchase arriving in a
    LATER micro-batch with event time before the touch is 'direct',
    matching the DuckDB replay (ADVICE r11). No timeout: first-touch
    semantics REQUIRE remembering the first touch for as long as
    purchases can arrive, so state is user-cardinality-bounded (3
    scalars per user with a touch — a per-entity dimension,
    RocksDB-store-sized at cluster scale; evicting would silently
    turn late purchases into 'direct', so any TTL is a knowing
    semantics change — see ``stream_first_touch_attribution_ttl``).
    Batch rows process in the oracle's (origin-seconds, event_id)
    frame order. One cross-batch arrival-order caveat remains: a
    purchase EMITS its credit in the batch where it arrives, so a
    true-first touch arriving in a later batch than a purchase with
    later event time cannot retro-credit that already-emitted row
    (it corrects all future purchases); under in-event-time-order
    arrival (what the staging harness guarantees) emitted rows equal
    the batch oracle exactly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    origin_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks)
        ts_ms = (
            pd.to_datetime(rows["ts"], utc=True)
            .dt.tz_localize(None)
            .astype("datetime64[ms]")
            .astype("int64")
        )
        # the batch oracle's exact frame order (truncated seconds +
        # event_id — see stream_last_touch_attribution's note)
        rows = rows.assign(__s=(ts_ms - origin_ms) // 1000).sort_values(
            ["__s", "event_id"]
        )
        t, tid, e = state.get if state.exists else (None, None, None)
        stored = (t, tid, e)
        out_ids, out_touch, out_vals = [], [], []
        for _, r in rows.iterrows():
            etype = r["event_type"]
            if etype == "purchase":
                s, eid = int(r["__s"]), int(r["event_id"])
                # credit only touches strictly inside the oracle's
                # 1-PRECEDING frame: (t, tid) < (s, event_id)
                credited = t is not None and (t, tid) < (s, eid)
                out_touch.append(e if credited else "direct")
                out_ids.append(eid)
                v = r["value"]
                out_vals.append(None if pd.isna(v) else float(v))
            else:  # click / view — fold the earliest-touch register
                s, eid = int(r["__s"]), int(r["event_id"])
                if t is None or (s, eid) < (t, tid):
                    t, tid, e = s, eid, etype
        if t is not None and (t, tid, e) != stored:
            state.update((t, tid, e))
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_id": out_ids,
                    "touch": out_touch,
                    "value": out_vals,
                }
            )

    return (
        events.filter(F.col("event_type").isin("purchase", "click", "view"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, event_id long, touch string, value double"
            ),
            stateStructType="t bigint, tid bigint, e string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_first_touch_attribution_ttl(
    events: DataFrame,
    ttl_days: int = 7,
    watermark: str = "2 hours",
) -> DataFrame:
    """First-touch attribution with a BOUNDED-STATE TTL — the second,
    deliberately-different semantic next to
    ``stream_first_touch_attribution`` (VERDICT r11 #7: never silently
    change the NoTimeout key; register the TTL as its own face).

    Semantics: a purchase credits the user's earliest touch only while
    it is FRESH — ``purchase_s − touch_s ≤ ttl_days·86400`` (and the
    touch precedes the purchase in the oracle's (s, event_id) frame
    order). Beyond the TTL the purchase is ``'direct'``. The credit
    test is pure EVENT TIME, so the result is deterministic and
    SQL-oracle-expressible regardless of when the timeout actually
    fires; the ``EventTimeTimeout`` is CLEANUP, not semantics — state
    evicts once the watermark passes ``touch + ttl``, at which point
    any in-watermark purchase would be beyond the TTL anyway (an
    expired touch attributes 'direct' either way, the
    ``stream_last_touch_attribution`` eviction argument). State is
    therefore bounded by LIVE touches, not users ever seen — the
    bounded-state trade the NoTimeout key refuses.

    Arrival-order assumption (same divergence the non-TTL variant
    documents): with ``withWatermark`` + ``EventTimeTimeout``,
    ``applyInPandasWithState`` DROPS input rows whose event time is
    older than the current watermark, so a touch or purchase arriving
    more than ``watermark`` out of event-time order across micro-batch
    boundaries is silently lost (touch → later purchases read
    'direct'; purchase → no output row). The oracle's frame-ordered
    SQL sees every row, so exactness holds only for arrival within the
    watermark horizon — the standard Structured Streaming late-data
    contract, audited end-to-end by ``stream_late_data``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ttl_s = ttl_days * 86400
    origin_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            state.remove()  # stale touch == 'direct' either way
            return
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks)
        ts_ms = (
            pd.to_datetime(rows["ts"], utc=True)
            .dt.tz_localize(None)
            .astype("datetime64[ms]")
            .astype("int64")
        )
        rows = rows.assign(__s=(ts_ms - origin_ms) // 1000).sort_values(
            ["__s", "event_id"]
        )
        t, tid, e = state.get if state.exists else (None, None, None)
        stored = (t, tid, e)
        out_ids, out_touch, out_vals = [], [], []
        for _, r in rows.iterrows():
            etype = r["event_type"]
            if etype == "purchase":
                s, eid = int(r["__s"]), int(r["event_id"])
                credited = (
                    t is not None
                    and (t, tid) < (s, eid)
                    and s - t <= ttl_s
                )
                out_touch.append(e if credited else "direct")
                out_ids.append(eid)
                v = r["value"]
                out_vals.append(None if pd.isna(v) else float(v))
            else:  # click / view — fold the earliest-touch register
                s, eid = int(r["__s"]), int(r["event_id"])
                if t is None or (s, eid) < (t, tid):
                    t, tid, e = s, eid, etype
        if t is not None:
            expiry_ms = (t * 1000 + origin_ms) + ttl_s * 1000
            # Strict '<': the credit test is INCLUSIVE (s − t ≤ ttl), so
            # a purchase at exactly touch+TTL arriving in a later batch
            # whose watermark equals expiry must still find the touch.
            if expiry_ms < state.getCurrentWatermarkMs():
                state.remove()  # already beyond TTL — keep state tight
            else:
                if (t, tid, e) != stored:
                    state.update((t, tid, e))
                state.setTimeoutTimestamp(expiry_ms)
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_id": out_ids,
                    "touch": out_touch,
                    "value": out_vals,
                }
            )

    return (
        events.filter(F.col("event_type").isin("purchase", "click", "view"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, event_id long, touch string, value double"
            ),
            stateStructType="t bigint, tid bigint, e string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_view_click_left_join(
    events: DataFrame,
    window_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view emits either
    its matching clicks (within ``window_minutes``, same user) or —
    once the watermark proves no match can still arrive — exactly one
    null-click row. The classic hard case next to the inner join
    (``stream_stream_join``): state EVICTION decides when unmatched
    rows emit, so the emitted set is only complete once the global
    watermark passes ``view_ts + window + delay`` (VERDICT r13 #5).

    The watermark is declared once, upstream of the view/click
    filters — but that does NOT make one watermark node see both
    sides: the self-join plans the source twice (one FileStreamSource
    per leg) and Catalyst pushes each leg's deterministic
    ``event_type`` predicate through the EventTimeWatermark node into
    the scan, so each leg's event-time stats observe only its own
    side's rows and the global watermark is the MIN over the two legs
    (``spark.sql.streaming.multipleWatermarkPolicy=min``, the
    default). Operationally that is the honest contract: a quiet
    click stream holds the global watermark back and unmatched views
    wait — liveness needs a heartbeat on EACH side (the plan harness
    sends one view-typed and one click-typed sentinel). State is
    bounded exactly as in the inner join: each side keeps only the
    interval-condition window of rows.
    """
    wm = events.withWatermark("ts", watermark)
    views = wm.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts")
            + F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "leftOuter",
    ).select("view_id", "click_id", "user_id")


def stage_arrival_batches(
    events: DataFrame, landing: str, n_batches: int = 6
) -> None:
    """Deterministic out-of-order arrival simulation for the late-data
    audit: each event gets a jittered ARRIVAL clock (its event time ±
    up to 1 h, from the engine-portable md5 hash of event_id — so the
    oracle reproduces it), events are split into ``n_batches`` equal
    arrival-order batches (``ntile`` fill rule — also portable), and
    each batch lands as one parquet file with strictly increasing
    mtimes, which is the order the file stream source replays them.

    This is the SIMULATION HARNESS: a real deployment's arrival order
    is the ingest stream itself. The global ntile sort is staging-only
    and test-scale; the audited operator below never sorts the stream.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    arrival_us = F.unix_micros(F.col("ts")) + (
        F.pmod(h, F.lit(7201)) - F.lit(3600)
    ) * F.lit(1_000_000)
    w = Window.orderBy("__arrival_us", "event_id")
    # One pass: the jitter + global ntile sort runs ONCE and all slices
    # land in a single partitionBy job (the previous form re-ran the
    # scan + global sort once per slice — 6× the dominant staging cost,
    # measured r14; guide §1.2 "don't compute things you throw away").
    staged = (
        events.withColumn("__arrival_us", arrival_us)
        .withColumn("__batch", F.ntile(n_batches).over(w) - 1)
        .drop("__arrival_us")
    )
    _land_slice_files(staged, "__batch", landing, n_batches, prefix="batch")


_AUDIT_SCHEMA = (
    "batch_seq int, n_events bigint, n_on_time bigint, n_late bigint, "
    "batch_max_us bigint, watermark_us bigint"
)


def run_late_data_audit(
    spark: SparkSession,
    landing: str,
    acct_dir: str,
    ckpt_dir: str,
    delay_minutes: int = 30,
    timeout_sec: int = 180,
) -> None:
    """Watermark late-data ACCOUNTING over a file-source stream: drain
    ``landing`` one file per micro-batch and record, per batch, how
    many rows a ``delay_minutes`` watermark admits vs drops — the
    dead-letter audit a production pipeline runs beside its watermarked
    aggregates, where Spark's own operators drop late rows silently.

    The audit replays Spark's exact watermark rule: the horizon
    entering batch k is ``max(event time over batches < k) −  delay``
    (monotone, advances at batch commit), and a row is LATE iff its
    event time is strictly below that horizon; batch 0 admits
    everything. The horizon state is derived from the accounting table
    itself (monotone max over recorded ``batch_max_us``), which makes
    restart handling exact: a replayed batch after a checkpoint
    restart finds its own row already present and re-emits nothing
    (the standard idempotent-foreachBatch pattern), and a resumed
    drain continues from the recorded horizon. Per batch the audit
    appends ONE control-plane row; the classification itself is one
    distributed aggregate over the micro-batch.
    """
    ensure_session_confs(spark)
    delay_us = delay_minutes * 60 * 1_000_000

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        wm_base = None
        try:
            # ONE control-plane job for both the replay check and the
            # horizon (r15, §1.2 — was a count job + a max job; the
            # accounting table is a handful of rows, so each extra
            # job was pure scheduling latency).
            prev = sp.read.parquet(acct_dir).agg(
                F.max("batch_max_us").alias("__mx"),
                F.max(
                    F.when(F.col("batch_seq") == batch_id, F.lit(1))
                ).alias("__seen"),
            ).collect()[0]
            if prev["__seen"] is not None:
                return  # checkpoint replay of an already-recorded batch
            wm_base = prev["__mx"]
        except Exception:
            pass  # first batch: no accounting table yet
        wm_us = None if wm_base is None else int(wm_base) - delay_us
        us = F.unix_micros(F.col("ts"))
        # on-time is counted EXPLICITLY (not n − late): a NULL event
        # time is neither late nor on-time once a horizon exists —
        # the same three-valued arithmetic the SQL oracle uses
        if wm_us is None:
            late, on_time = F.lit(False), F.lit(True)
        else:
            late, on_time = us < F.lit(wm_us), us >= F.lit(wm_us)
        stats = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(us).alias("mx"),
            F.count(F.when(late, 1)).alias("late"),
            F.count(F.when(on_time, 1)).alias("on_time"),
        ).collect()[0]
        # ONE control-plane accounting row per batch. Written directly
        # with pyarrow on the driver (r15, guide §5: this IS
        # control-plane data — one row — and a Spark job existed only
        # to serialize it; the directory of bare parquet part files
        # reads back identically via spark.read.parquet). Types mirror
        # _AUDIT_SCHEMA exactly so the read-back schema is unchanged.
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "batch_seq": pa.array([int(batch_id)], pa.int32()),
                "n_events": pa.array([int(stats["n"])], pa.int64()),
                "n_on_time": pa.array(
                    [int(stats["on_time"] or 0)], pa.int64()
                ),
                "n_late": pa.array([int(stats["late"] or 0)], pa.int64()),
                "batch_max_us": pa.array(
                    [None if stats["mx"] is None else int(stats["mx"])],
                    pa.int64(),
                ),
                "watermark_us": pa.array([wm_us], pa.int64()),
            }
        )
        os.makedirs(acct_dir, exist_ok=True)
        pq.write_table(
            table, os.path.join(acct_dir, f"audit-{int(batch_id):05d}.parquet")
        )

    schema = spark.read.parquet(landing).schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )
    dtype = dict(raw.dtypes).get("ts")
    if dtype == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("`ts` div 1000"))
        )
    elif dtype == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    query = (
        raw.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(query, timeout_sec, "late-data audit drain")


def run_available_now(
    stream_df: DataFrame, output_mode: str = "complete", timeout_sec: int = 120
) -> DataFrame:
    """Drain a stream into a memory sink and return the batch result.

    ``Trigger.AvailableNow`` processes the existing backlog (possibly in
    several rate-limited batches, each advancing the watermark) and
    stops — the harness path for verifying streaming plans.  ``complete``
    mode emits every window so results match a batch oracle; ``append``
    exercises finalized-only emission.
    """
    spark = stream_df.sparkSession
    sink = f"stream_sink_{uuid.uuid4().hex[:12]}"
    try:
        with stream_drain_conf(spark):
            query = (
                stream_df.writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            # A timed-out drain leaves the memory sink incomplete; returning
            # it would be silently wrong results under load.
            await_drain(query, timeout_sec, "AvailableNow drain")
        # Materialize before dropping the sink registration.
        return spark.table(sink).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(sink)


def incremental_bitmap_distinct(
    spark: SparkSession,
    landing: str,
    state_dir: str,
    ckpt_dir: str,
    timeout_sec: int = 180,
) -> None:
    """Streaming exact distinct-user accounting via an append-only
    bitmap-partial log — the incremental face of ``q_bitmap_distinct``.

    Each micro-batch reduces to per-(week, user_id>>6) int64 words
    (one combinable ``bit_or``) and APPENDS them to ``state_dir``.
    That is the whole state contract, and it is crash/replay-proof
    with no transactional swap at all, because bitmap OR is
    idempotent AND commutative: a batch appended twice (checkpoint
    replay after a mid-drain restart), or batches landing in any
    order, OR together to the same bits. Readers fold the log with
    ``bit_or`` per (week, bucket) and pop ``bit_count`` — exact
    distinct counts at any moment, no raw-event rescan. The log grows
    by #buckets rows per batch; ``sinks.compact_dataset`` is the
    maintenance hook (folding the log is itself an OR, so compaction
    is safe at any time). This is the CRDT-shaped state design a
    100 TB streaming pipeline wants: merge-only, no read-modify-write
    race, no watermark needed for a monotone aggregate.
    """
    ensure_session_confs(spark)
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        words = (
            batch_df.select(
                F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
                F.col("user_id"),
            )
            .groupBy(
                "week", F.shiftright(F.col("user_id"), 6).alias("bkt")
            )
            .agg(
                F.expr(
                    "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
                ).alias("word")
            )
        )
        words.write.mode("append").parquet(state_dir)

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout_sec, "bitmap-distinct drain")


def incremental_psi_drift(
    spark: SparkSession,
    landing: str,
    state_dir: str,
    ckpt_dir: str,
    timeout_sec: int = 180,
) -> None:
    """Streaming PSI drift monitor — the incremental face of
    ``q_psi_drift``: each micro-batch reduces to per-(bin, side)
    counts on the SHARED fixed spine (``operators.scale.psi_bin``) and
    lands them under a ``batch_id=<n>/`` partition with OVERWRITE.

    Counts add — they are NOT an idempotent merge like the bitmap
    log's OR — so replay safety comes from the batch-keyed partition
    instead: a checkpoint replay after a mid-drain restart rewrites
    the same directory rather than appending a duplicate (the
    stream_upsert_sink discipline, not stream_bitmap_distinct's).
    Readers fold the log with one combinable SUM per (bin, side) —
    input size #batches × ≤#bins rows, never #events — and compute
    the identical exact-decimal PSI fold, so the one-shot batch
    oracle covers the monitor at any point in the backlog.
    """
    ensure_session_confs(spark)
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    from ..operators.scale import psi_bin

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.filter(
                F.col("event_type").isin("click", "purchase")
                & F.col("value").isNotNull()
            )
            .select(
                psi_bin("value").alias("bin"),
                F.when(F.col("event_type") == "click", F.lit(1))
                .otherwise(F.lit(0))
                .alias("is_ref"),
            )
            .groupBy("bin")
            .agg(
                F.sum("is_ref").alias("na"),
                F.sum(1 - F.col("is_ref")).alias("nb"),
            )
        )
        counts.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout_sec, "psi drain")


def read_psi_drift(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the PSI count log into the 1-row drift report (identical
    arithmetic to q_psi_drift via operators.scale.psi_from_bins)."""
    ensure_session_confs(spark)
    from ..operators.scale import psi_from_bins

    log = spark.read.parquet(state_dir)
    folded = log.groupBy("bin").agg(
        F.sum("na").alias("na"), F.sum("nb").alias("nb")
    )
    spine = spark.range(0, 20).select(F.col("id").alias("bin"))
    b = (
        spine.join(folded, "bin", "left")
        .fillna(0, ["na", "nb"])
        .select("bin", "na", "nb")
    )
    return psi_from_bins(b, 20)


def incremental_cms_sketch(
    spark: SparkSession,
    landing: str,
    state_dir: str,
    ckpt_dir: str,
    depth: int = 4,
    width: int = 512,
    timeout_sec: int = 180,
) -> None:
    """Streaming count-min sketch over a documents landing dir — the
    incremental face of ``q_cms_heavy_hitters``'s cell table, and the
    reason the sketch exists at all: an EXACT streaming heavy-hitter
    count keeps one state row per distinct key (unbounded for
    n-gram/URL-grain domains at 100 TB), while the CMS keeps ≤
    depth × width cells no matter how many distinct tokens arrive.

    Each micro-batch reduces its token stream to per-(i, bucket) cell
    partials (``operators.text.cms_sketch``, portable md5 family —
    replayable in ANSI SQL) and lands them under a ``batch_id=<n>/``
    partition with OVERWRITE. Cell counts ADD — not an idempotent
    merge like the bitmap OR-log — so replay safety is the
    batch-keyed-overwrite discipline (the PSI/weighted-histogram
    pattern): a checkpoint replay rewrites its own directory instead
    of double-counting. The log is #batches × ≤ d·w rows, never
    #tokens; readers fold it with one combinable SUM per cell, and
    CMS mergeability (sum of split sketches == sketch of the union,
    pytest-pinned) makes the fold EQUAL the one-shot batch sketch —
    which is why the batch SQL oracle covers the stream at any point
    in the backlog.
    """
    ensure_session_confs(spark)
    from ..operators import text as text_ops

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.explode(text_ops.tokens("text")).alias("word")
        )
        cells = text_ops.cms_sketch(toks, "word", depth=depth, width=width)
        cells.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout_sec, "cms drain")


def read_cms_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the CMS cell-partial log into the merged ``(i, bucket,
    c)`` sketch — one combinable SUM over #batches × ≤ d·w rows."""
    ensure_session_confs(spark)
    return (
        spark.read.parquet(state_dir)
        .groupBy("i", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def incremental_weighted_histogram(
    spark: SparkSession,
    landing: str,
    state_dir: str,
    ckpt_dir: str,
    group_col: str = "l_returnflag",
    value_col: str = "l_extendedprice",
    weight_expr: str = "CAST(l_quantity AS DECIMAL(18,4))",
    timeout_sec: int = 180,
) -> None:
    """Streaming (group, value) → Σweight histogram log — the
    incremental face of ``q_weighted_percentile``'s first stage.

    Histogram weights ADD across micro-batches (decimal sums are
    associative and exact), so — like the PSI count log and unlike the
    bitmap OR log — replay safety is the batch-keyed OVERWRITE
    discipline: each batch's partial lands under ``batch_id=<n>/`` and
    a checkpoint replay rewrites the directory instead of re-adding.
    The log grows by ≤ distinct-(group, value)-per-batch rows; readers
    fold it with one combinable decimal SUM and hand the result to
    ``operators.scale.weighted_percentiles_from_hist`` — which cannot
    tell a folded log from a one-shot scan, so the batch SQL oracle
    covers the monitor at any point in the backlog.
    """
    ensure_session_confs(spark)
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        hist = batch_df.groupBy(group_col, value_col).agg(
            F.sum(F.expr(weight_expr)).alias("w")
        )
        hist.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout_sec, "weighted-histogram drain")


def read_weighted_percentiles(
    spark: SparkSession,
    state_dir: str,
    probs: dict[str, tuple[int, int]],
    group_col: str = "l_returnflag",
    value_col: str = "l_extendedprice",
    total_col: str | None = "total_weight",
) -> DataFrame:
    """Fold the weighted-histogram log and compute exact lower
    weighted percentiles (identical rank arithmetic to
    q_weighted_percentile via weighted_percentiles_from_hist)."""
    ensure_session_confs(spark)
    from ..operators.scale import weighted_percentiles_from_hist

    log = spark.read.parquet(state_dir)
    hist = log.groupBy(group_col, value_col).agg(F.sum("w").alias("__w"))
    return weighted_percentiles_from_hist(
        hist, [group_col], value_col, probs, total_col
    )


def read_bitmap_distinct(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the bitmap-partial log into exact weekly distinct counts."""
    ensure_session_confs(spark)
    words = spark.read.parquet(state_dir)
    return (
        words.groupBy("week", "bkt")
        .agg(F.expr("bit_or(word)").alias("word"))
        .groupBy("week")
        .agg(
            F.sum(F.bit_count("word")).cast("bigint").alias("weekly_distinct")
        )
    )


def incremental_rolling_reach(
    spark: SparkSession,
    landing: str,
    state_dir: str,
    ckpt_dir: str,
    timeout_sec: int = 180,
) -> None:
    """Streaming rolling-reach state maintenance — the incremental
    face of ``q_rolling_reach_bitmap`` (r12), same CRDT-shaped
    append-only OR-log contract as ``incremental_bitmap_distinct``
    but at DAY grain: each micro-batch appends its per-(day,
    user_id>>6) ``bit_or`` words and nothing is ever rewritten
    (idempotent + commutative merge — checkpoint replays and
    out-of-order batches converge to the same bits). The window width
    is a READ-time choice: the same day-grain log answers any w
    without re-ingesting, which is why the state is kept at day grain
    rather than pre-windowed."""
    ensure_session_confs(spark)
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        words = (
            batch_df.select(
                F.col("ts").cast("date").alias("day"), F.col("user_id")
            )
            .groupBy("day", F.shiftright(F.col("user_id"), 6).alias("bkt"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
                ).alias("word")
            )
        )
        words.write.mode("append").parquet(state_dir)

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout_sec, "rolling-reach drain")


def read_rolling_reach(
    spark: SparkSession, state_dir: str, window_days: int = 14
) -> DataFrame:
    """Fold the day-grain word log into exact rolling
    ``window_days``-day reach per report day — the
    ``q_rolling_reach_bitmap`` read shape off the incremental state:
    OR-fold per (day, bkt), explode each day's word into the w report
    days it supports (w× of day×bucket words, never the user-day
    frame), OR-merge per (report_day, bkt), popcount. Report days
    clip to full windows."""
    ensure_session_confs(spark)
    w = window_days
    words = (
        spark.read.parquet(state_dir)
        .groupBy("day", "bkt")
        .agg(F.expr("bit_or(word)").alias("word"))
        .localCheckpoint(eager=False)  # feeds bounds AND the explosion
    )
    bounds = words.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = words.select(
        "bkt",
        "word",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), w - 1),
                F.expr("interval 1 day"),
            )
        ).alias("report_day"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("report_day") <= F.col("hi"))
            & (F.col("report_day") >= F.date_add(F.col("lo"), w - 1))
        )
        .groupBy("report_day", "bkt")
        .agg(F.expr("bit_or(word)").alias("word"))
        .groupBy("report_day")
        .agg(F.sum(F.bit_count("word")).cast("bigint").alias("reach"))
    )


def _scd2_changes(batch_df: DataFrame) -> DataFrame:
    """Per-user attribute-CHANGE rows of one frame: keep a row iff its
    event_type differs from the user's previous row in (ts, event_id)
    order — the SCD2 change-capture compaction. Shared by the
    per-batch fold and the read-time re-compaction so the two stages
    cannot disagree on what a change is."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("attr").over(w)
    return (
        batch_df.withColumn("__prev", prev)
        .filter(F.col("__prev").isNull() | (F.col("attr") != F.col("__prev")))
        .drop("__prev")
    )


def incremental_scd2(
    spark: SparkSession,
    landing: str,
    state_dir: str,
    ckpt_dir: str,
    timeout_sec: int = 180,
) -> None:
    """Streaming SCD2 change capture — dimension-history maintenance
    off a change feed (each event updates its user's current
    ``event_type`` attribute; history keeps every run as an interval).

    The THIRD replay-state algebra next to the bitmap log (idempotent
    OR — append freely) and the PSI/weight logs (ADDITIVE — batch-keyed
    OVERWRITE): SCD2 state is a DERIVED change log. Each micro-batch
    compacts to its per-user change rows (``_scd2_changes`` — a
    batch-local partitioned window) and lands them under
    ``batch_id=<n>/`` OVERWRITE partitions: per-batch content is a
    pure function of the batch, so a checkpoint replay rewrites the
    identical rows instead of doubling them. Batches must be
    TIME-SLICED (the stager below cuts on event time), which makes a
    row's within-batch predecessor its global predecessor except at
    slice boundaries — and boundary-crossing runs are healed at read
    time, where ``read_scd2`` re-runs the SAME compaction over the
    folded log before deriving intervals. The retained set provably
    contains every true change row (a batch-first row is always kept),
    and re-compaction over any order-preserving superset of the change
    set yields exactly the change set, so the read equals the one-shot
    batch derivation — which is what the SQL oracle checks.

    Time-contiguity is a CONTRACT, not an optimization: interleaved
    batches can compact true changes away irrecoverably, so each
    batch's raw time range lands with its rows and ``read_scd2``
    refuses interleaved logs (see its docstring for the counterexample
    and the executable check).
    """
    ensure_session_confs(spark)
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            "user_id",
            F.col("event_type").alias("attr"),
            F.unix_micros("ts").alias("us"),
            "event_id",
        ).localCheckpoint(eager=False)
        # Land the RAW batch's time range beside its change rows (two
        # per-partition-constant columns — RLE-compressed to nothing):
        # the healing argument is only valid for time-contiguous
        # batches, and the landed CHANGE rows alone can't witness the
        # raw range (a batch's last rows may compact away), so the
        # range rides along and read_scd2 verifies the contract.
        span = rows.agg(
            F.min("us").alias("lo"), F.max("us").alias("hi")
        ).collect()[0]
        _scd2_changes(rows).withColumn(
            "__batch_min_us", F.lit(span["lo"]).cast("long")
        ).withColumn(
            "__batch_max_us", F.lit(span["hi"]).cast("long")
        ).write.mode("overwrite").parquet(f"{state_dir}/batch_id={batch_id}")

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout_sec, "SCD2 drain")


def read_scd2(spark: SparkSession, state_dir: str) -> DataFrame:
    """Resolve the SCD2 change log into dimension-history intervals:
    re-compact across batch boundaries (same ``_scd2_changes``
    definition), then one lead window per user closes each run —
    ``valid_to_us`` NULL marks the current row. The log is
    change-sized, not event-sized, so both windows run over the
    compacted frame.

    ENFORCES the time-contiguity contract the healing argument rests
    on: batches whose raw event-time ranges INTERLEAVE can silently
    drop true change rows at fold time (rows A@t1, A@t3 in one batch
    and B@t2 in another — A@t3's within-batch predecessor shares its
    attribute, so the A@t3 change compacts away and no read-time pass
    can recover it). The per-batch raw ranges land beside the change
    rows; this reader sorts batches by range start and raises
    ``ValueError`` unless each batch's max is strictly below the
    next's min — a #batches-row control-plane check
    (tests/test_round11b_ops.py pins both the raise on a round-robin
    split and the clean pass on the time-sliced stager)."""
    from pyspark.sql import Window

    ensure_session_confs(spark)
    raw = spark.read.parquet(state_dir)
    if "__batch_min_us" in raw.columns:
        # Batches landed before the range columns existed read their
        # lo/hi as NULL when the merged schema carries the columns —
        # they predate the executable contract and cannot be checked
        # (their raw range was never recorded), so they are excluded
        # from the pairwise check rather than crashing the sort.
        spans = sorted(
            (
                r
                for r in raw.groupBy("batch_id")
                .agg(
                    F.min("__batch_min_us").alias("lo"),
                    F.max("__batch_max_us").alias("hi"),
                )
                .collect()
                if r["lo"] is not None and r["hi"] is not None
            ),
            key=lambda r: (r["lo"], r["hi"]),
        )
        for prev, nxt in zip(spans, spans[1:]):
            if prev["hi"] >= nxt["lo"]:
                raise ValueError(
                    "SCD2 change log violates the time-contiguity "
                    f"contract: batch {prev['batch_id']} spans "
                    f"[{prev['lo']}, {prev['hi']}] and batch "
                    f"{nxt['batch_id']} spans [{nxt['lo']}, "
                    f"{nxt['hi']}] — interleaved batches can drop "
                    "change rows at fold time and cannot be healed "
                    "at read time. Land time-sliced batches "
                    "(streaming.stage_time_slices)."
                )
    log = raw.select("user_id", "attr", "us", "event_id")
    changes = _scd2_changes(log)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return changes.select(
        "user_id",
        "attr",
        F.col("us").cast("bigint").alias("valid_from_us"),
        F.lead("us").over(w).cast("bigint").alias("valid_to_us"),
    ).withColumn("is_current", F.col("valid_to_us").isNull())


def _land_slice_files(
    staged: DataFrame,
    slice_col: str,
    landing: str,
    n_batches: int,
    prefix: str = "slice",
) -> None:
    """Write every slice of ``staged`` in ONE job and land them as flat
    one-file-per-slice parquet with mtimes increasing in slice order
    (the order the file stream source replays). ``repartition(n,
    slice_col)`` puts each slice value wholly inside one task, so
    ``partitionBy`` emits exactly one file per non-empty slice;
    ``partitionBy`` also drops the slice column from the files, so the
    landed schema equals ``staged`` minus ``slice_col``. Replaces
    per-slice filter+write loops that re-ran the upstream plan once
    per slice (guide §1.2)."""
    import shutil as _shutil
    import tempfile as _tempfile

    Path(landing).parent.mkdir(parents=True, exist_ok=True)
    tmp = _tempfile.mkdtemp(
        prefix="__slices_", dir=str(Path(landing).parent)
    )
    (
        staged.repartition(n_batches, F.col(slice_col))
        .write.mode("overwrite")
        .partitionBy(slice_col)
        .parquet(tmp)
    )
    Path(landing).mkdir(parents=True, exist_ok=True)
    base = 1_600_000_000  # fixed mtime epoch: replay order is content-
    # determined, never wall-clock-determined
    for k in range(n_batches):
        src_dir = Path(tmp) / f"{slice_col}={k}"
        if not src_dir.is_dir():
            # Empty slice: land an empty one-row-group file anyway so
            # the landed file count (and micro-batch count) matches
            # the previous per-slice-write behavior exactly.
            (
                staged.limit(0)
                .drop(slice_col)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(src_dir))
            )
        parts = sorted(Path(src_dir).glob("part-*.parquet"))
        # One file per slice is a CONTRACT of the repartition(n, key)
        # write above; if a conf (e.g. maxRecordsPerFile) or a write-
        # path change ever splits a slice, fail loudly — silently
        # moving only parts[0] would truncate the landed slice
        # (ADVICE r14).
        if len(parts) != 1:
            raise RuntimeError(
                f"_land_slice_files: slice {slice_col}={k} produced "
                f"{len(parts)} part files (expected exactly 1); check "
                "spark.sql.files.maxRecordsPerFile / write-path confs"
            )
        dst = Path(landing) / f"{prefix}-{k:03d}.parquet"
        _shutil.move(str(parts[0]), str(dst))
        os.utime(dst, (base + 60 * k, base + 60 * k))
    # All rows must have landed: a NULL or out-of-range slice value
    # would sit in an unmoved partition dir (e.g.
    # __HIVE_DEFAULT_PARTITION__) and vanish with the rmtree below.
    # Callers derive the slice from a non-null key by construction
    # (pmod/ntile/bucket), so any leftover dir is a bug, not data to
    # drop silently (ADVICE r14).
    leftover = [
        p.name
        for p in Path(tmp).iterdir()
        if p.is_dir() and any(p.glob("part-*.parquet"))
    ]
    if leftover:
        raise RuntimeError(
            f"_land_slice_files: rows landed outside range(0, {n_batches}) "
            f"of {slice_col}: {leftover} — slice derivation must be "
            "total and non-null"
        )
    _shutil.rmtree(tmp, ignore_errors=True)


def stage_hash_slices(
    df: DataFrame, landing: str, id_col: str, n_batches: int = 6
) -> None:
    """Stage ``df`` into ``n_batches`` one-file parquet slices keyed
    by ``pmod(id_col, n_batches)`` — the shared staging harness for
    the additive-log streaming keys (weighted histogram / PSI / bitmap
    / CMS / rolling reach). ONE pass over the source (the per-key
    inline loops re-scanned the source parquet per slice — 6× the
    staging cost, measured r14). Batch composition is identical to the
    previous per-slice filters: a pure function of ``id_col``; these
    keys' folds are batch-order-insensitive by algebra."""
    staged = df.withColumn(
        "__b", F.pmod(F.col(id_col), F.lit(n_batches))
    )
    _land_slice_files(staged, "__b", landing, n_batches)


def stage_time_slices(
    events: DataFrame, landing: str, n_batches: int = 6
) -> None:
    """Split a frame into ``n_batches`` event-time-CONTIGUOUS parquet
    files (equal-width ts slices, file k = slice k) — the staging
    harness for operators whose per-batch folds assume time-ordered
    micro-batches (SCD2 change capture). Slice assignment is a pure
    function of min/max event time, so the oracle can reproduce it;
    mtimes increase with k, which is the order the file source
    replays."""
    bounds = events.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    width = max((hi - lo) // n_batches + 1, 1)
    # One pass over the source: the slice id is computed once and all
    # slices land in a single partitionBy job (the previous form re-ran
    # the scan once per slice — 6× the staging cost, measured r14).
    sl = (F.unix_micros("ts") - F.lit(lo)) / F.lit(width)
    staged = events.withColumn("__slice", sl.cast("long"))
    _land_slice_files(staged, "__slice", landing, n_batches)
