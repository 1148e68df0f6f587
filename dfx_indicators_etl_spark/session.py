"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness-reproducibility (UTC session time
zone, ANSI off for permissive coercion like the reference's pandas
coercion) and for scale behavior that also holds on a real cluster:
AQE with skew-join handling, Arrow for any pandas exchange, and a
shuffle partition count that AQE coalesces at small SF but that spreads
on large inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "ensure_session_confs", "RUNTIME_CONFS"]


# Confs every plan in this engine assumes, all runtime-settable.  Set at
# query entry (plans/registry.py wraps each registered query) and again
# in the readers, so results are correct on ANY session the caller hands
# us — including a stock ``SparkSession.builder.getOrCreate()`` with
# Spark 4 defaults (ANSI on, no nanosAsLong), which is exactly what the
# verification driver uses.
RUNTIME_CONFS: dict[str, str] = {
    # Testdata timestamps are parquet TIMESTAMP(NANOS); scan them as
    # nano-epoch longs (readers convert to µs, DuckDB-style truncation)
    # instead of failing with PARQUET_TYPE_ILLEGAL.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Wrap-around 64-bit arithmetic (MinHash permutations rely on it) +
    # permissive coercions (the reference's pandas semantics); Spark 4
    # defaults ANSI on.
    "spark.sql.ansi.enabled": "false",
    # Oracle parity: DuckDB hashes timestamps in UTC.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # Arrow for every mapInPandas / pandas_udf exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set the engine's required runtime confs on an arbitrary session.

    Idempotent and cheap (a handful of conf RPCs); every registered
    query calls this first so plans never depend on how the session was
    built.
    """
    for key, value in RUNTIME_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "dfx-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
        when no master is configured. On a real cluster the deploy
        environment provides the master and these settings still apply.
    shuffle_partitions:
        Post-shuffle parallelism. Defaults to the CPU budget; AQE
        coalesces down when partitions are tiny.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # The confs every plan assumes (ANSI off, UTC, rebase, nanos,
        # Arrow), as ``ensure_session_confs`` sets them on any session.
        .config(map=RUNTIME_CONFS)
        # Case-sensitive resolution: source payloads legitimately carry
        # e.g. both `Indicator` and `INDICATOR` (UNICEF SDMX), which the
        # reference's pandas handles case-sensitively.
        .config("spark.sql.caseSensitive", "true")
        # Adaptive execution: runtime coalesce, skew-join splitting,
        # runtime broadcast conversion — the main lever that lets the
        # same plan run at sf0.001 and at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small join sides broadcast (the analytic queries' dimension
        # tables, the dedup operators' per-doc size tables); 64 MB stays
        # executor-memory-safe on a cluster. The indicator star joins no
        # dim: its dims are literals folded into the plan.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make the engine importable on EXECUTOR Python workers.

    ``local[n]`` hides a real deployment gap: driver == executor, so
    the repo checkout on the driver's sys.path is enough. On any
    multi-process master (``local-cluster[...]``, standalone, YARN,
    K8s) the executors spawn their own Python workers, and a
    cloudpickled Arrow closure that references a module-level helper
    (``operators.similarity._local_topk``, the multimodal codecs, …)
    dies with ``ModuleNotFoundError`` at task start — found by the
    round-13 full-registry sweep on ``local-cluster[4,8,4096]``, where
    exactly the six keys whose closures name module globals failed.
    The idiomatic fix is to ship the package with the job: zip the
    source tree once per process and ``addPyFile`` it (executors
    prepend shipped files to their worker's sys.path). A cluster
    deploy that already ships the package via ``--py-files`` just
    re-adds the same content — harmless.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dfx_pkg_shipped", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    if not pkg_dir.is_dir():  # installed from a wheel/zip: importable
        sc._dfx_pkg_shipped = True
        return
# A predictable world-shared path (keyed only by PID) is both a
    # hijack vector on multi-user hosts (another user pre-creates the
    # file and their code ships to every executor) and a staleness
    # bug (PID reuse / long-lived processes reuse an old zip after
    # source edits). mkdtemp gives a fresh 0700 private directory, and
    # the zip is always rebuilt from the current source tree.
    zip_path = Path(
        tempfile.mkdtemp(prefix="dfx_indicators_etl_spark_pyfiles_")
    ) / "dfx_indicators_etl_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(pkg_dir.rglob("*")):
            if f.is_file() and "__pycache__" not in f.parts:
                zf.write(
                    f, str(Path(pkg_dir.name) / f.relative_to(pkg_dir))
                )
    sc.addPyFile(str(zip_path))
    sc._dfx_pkg_shipped = True


def stop_spark() -> None:
    """Stop the active session if one exists (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
