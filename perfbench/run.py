"""Benchmark entry point for the indicator-ETL engine.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It starts one ``local[nproc]`` Spark
session, generates the workload's inputs from the seed, repeats the
program's own set-up (``setup_s`` is the session start plus the median
set-up round plus the warm-up: one operation, or the query loop for
``workloads.WARM_SECONDS``), runs the operation for
``--seconds`` (a batch operation at least ``MIN_BATCH_OPS`` times),
checks the outputs, and prints one JSON object as the last line of
standard output:

- ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json``;
- ``--trace 1``: the per-layer metrics, with one client. Every
  operation runs twice, untraced and traced in alternating order, and
  ``trace.overhead_ratio`` is the median of the traced-to-untraced time
  ratios. A workload's ``traced_guests`` (unlisted workloads) each add
  one warmed-up, traced operation, so their layers are measured too.
  Spans are written to ``.perfbench_out/`` when the run ends.

The line before it is an ``info`` object: the host-drift anchors, the
per-run sample counts, the untraced operation times and the CPU time of
the measured phase. Everything the run writes besides that goes to a
private directory under ``.perfbench_tmp/``, removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
SETUP_ROUNDS = 3
# layers every traced run reports counters for (0 where it calls none)
LAYERS = (
    "pipelines", "validation", "readers", "sinks", "database", "indicator", "text", "dedup",
)
# a batch workload (refresh, dedup pass) repeats its operation at least
# this often in an untraced run, so its timings are medians
MIN_BATCH_OPS = 2
# The session's JVM compiles with C1 only. With the default tiered JIT,
# C2 kept compiling Spark's planner for minutes: one JVM's refreshes
# took 10.2, 9.6, 8.3, 7.9, 7.4, 7.2 and 6.5 s, and its compiler
# threads held most of a 4-CPU host. A run's few measured operations
# then sat on that slope, wherever a host's speed put them. With C1
# only, the warm-up reaches the level the measured operations keep.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
# closed-loop query clients: two keep the driver and the JVM at about
# 3.2 of a 4-CPU host's CPUs (four kept them at 3.7-3.8, so the run's
# speed followed whatever CPU the host had spare)
QUERY_CLIENTS = 2


def named_layer_metrics(refresh_sources) -> tuple[str, ...]:
    """Names of the per-layer metrics besides the layer counters."""
    return (
        "session.start_s",
        "session.jobs_per_query",
        *(f"pipelines.{n}.s" for n in refresh_sources),
        "pipelines.rows_in",
        "pipelines.rows_out",
        "pipelines.keep_ratio",
        "validation.split_s",
        "validation.quarantine_ratio",
        "sinks.write_s",
        "sinks.bytes_written",
        "sinks.files_written",
        "readers.input_bytes_per_result_row",
        "readers.scan_s",
        "database.star_build_s",
        "database.star_input_bytes",
        "database.upsert_s",
        "database.view_s",
        "indicator.series_ops_s",
        "text.quality_s",
        "text.kept_ratio",
        "dedup.exact_s",
        "dedup.minhash_s",
        "dedup.components_s",
        "dedup.candidate_pairs",
        "dedup.pair_precision",
        "dedup.recall",
        "trace.overhead_ratio",
        "trace.spans",
    )


LAYER_COUNTERS = (
    "s",
    "self_s",
    "jobs",
    "tasks",
    "task_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
)


def metric_units(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last.startswith("bytes_per") or last.endswith("per_result_row"):
        return "B/row"
    if "bytes" in last:
        return "B"
    if "ratio" in last or last in ("pair_precision", "recall"):
        return "ratio"
    return "count"


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_seconds(jvm_pid: int | None) -> float:
    """User plus system CPU time of this process and the JVM."""
    total = sum(os.times()[:2])
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def anchors(spark, work: Path) -> dict:
    """Host-drift anchors carried over from the repository's bench.py
    (CPU: xxhash64 chain + two-level aggregate; scan: every column of a
    fixed parquet file; job: one-task jobs), shrunk to fit a run.
    Their inputs never depend on the seed, so they move only with the
    host. Informational: they gate nothing."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    def cpu(n):
        h = F.col("id")
        for i in range(8):
            h = F.xxhash64(h, F.lit(i))
        t0 = time.perf_counter()
        (
            spark.range(0, n, 1, 8)
            .select((F.col("id") % 9973).alias("k"), h.alias("h"))
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.abs(F.col("s")) % 1000003), F.sum("n"))
            .collect()
        )
        return time.perf_counter() - t0

    cpu(10_000)
    cpu_s = cpu(100_000)

    rng = np.random.default_rng(0)
    path = str(work / "anchor_scan.parquet")
    n = 10_000
    pq.write_table(
        pa.table(
            {
                "a": rng.integers(0, 1 << 40, n),
                "b": rng.random(n),
                "c": rng.integers(0, 1000, n).astype(np.int32),
                "d": pa.array(rng.integers(0, 5000, n).astype(str)),
            }
        ),
        path,
    )
    df = spark.read.parquet(path)
    aggs = [F.sum("a"), F.sum("b"), F.sum("c"), F.max("d")]
    df.agg(*aggs).collect()
    t0 = time.perf_counter()
    spark.read.parquet(path).agg(*aggs).collect()
    scan_s = time.perf_counter() - t0

    spark.range(1).count()
    t0 = time.perf_counter()
    for _ in range(5):
        spark.range(1).count()
    job_s = time.perf_counter() - t0
    return {"cpu_anchor_s": cpu_s, "scan_anchor_s": scan_s, "job5_anchor_s": job_s}


def start_spark(work: Path, cpus: int):
    from dfx_indicators_etl_spark.session import get_spark

    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.host": "localhost",
            "spark.driver.bindAddress": "127.0.0.1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "dfx_indicators_etl_spark").is_dir():
        print("run from the root of a checkout holding dfx_indicators_etl_spark/",
              file=sys.stderr)
        return 1
    sys.path.insert(0, str(root))
    # needs the package in the checkout
    from perfbench.workloads import REFRESH_SOURCES, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    clients = min(QUERY_CLIENTS, cpus)
    work = root / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench.trace import Tracer

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus)
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        jvm_pid = getattr(SparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None
        timeline = {"session": time.perf_counter() - T_START}

        wl = WORKLOADS[args.workload](spark, args.seed)
        (work / "input").mkdir()
        wl.generate(str(work / "input"))
        timeline["generate"] = time.perf_counter() - T_START
        # only untraced runs report setup_s, so a traced run opens once
        rounds = []
        for _ in range(1 if args.trace else SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.setup_round()
            rounds.append(time.perf_counter() - t0)
        if args.trace:
            clients = 1
        t0 = time.perf_counter()
        wl.warm_up(clients)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(rounds) + warm_s
        timeline["setup"] = time.perf_counter() - T_START

        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        cpu0 = cpu_seconds(jvm_pid)
        res = wl.measure(args.seconds, tracer, clients, 1 if args.trace else MIN_BATCH_OPS)
        measure_cpu_s = cpu_seconds(jvm_pid) - cpu0
        attempted, failed = res["attempted"], res["failed"]
        timeline["measure"] = time.perf_counter() - T_START
        problems = wl.check()
        guests = []
        for name in wl.traced_guests if args.trace else ():
            guest = WORKLOADS[name](spark, args.seed)
            (work / name).mkdir()
            guest.generate(str(work / name))
            guest.setup_round()
            guest.warm_up(1)
            g = guest.measure(0, tracer, 1, 1)
            attempted, failed = attempted + g["attempted"], failed + g["failed"]
            problems += guest.check()
            guests.append(guest)
        timeline["guests"] = time.perf_counter() - T_START
        stored = wl.stored_bytes_per_obs()
        rss = peak_rss_mb(jvm_pid)
        timeline["check"] = time.perf_counter() - T_START
        info = anchors(spark, work / "tmp")
        timeline["anchors"] = time.perf_counter() - T_START

        lat = res["latencies"]
        elapsed = res["elapsed"]
        info.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "cpus": cpus,
                "clients": clients,
                "ops": len(lat),
                "latencies_s": lat,
                "items": res["items"],
                "failed_frac": failed / attempted,
                "peak_rss_mb": rss,
                "session_start_s": session_s,
                "setup_rounds_s": rounds,
                "warm_up_s": warm_s,
                "timeline_s": timeline,
                "problems": problems[:20],
                "measure_cpu_s": measure_cpu_s,
            }
        )
        if args.trace:
            layers = tracer.layer_totals(LAYERS)
            named = dict.fromkeys(named_layer_metrics(REFRESH_SOURCES), 0.0)
            named.update(wl.layer_metrics(tracer))
            for guest in guests:
                named.update(guest.layer_metrics(tracer))
            named["session.start_s"] = session_s
            named["sinks.write_s"] = layers["sinks"]["s"] / len(res["pairs"])
            named["trace.overhead_ratio"] = statistics.median(t / u for u, t in res["pairs"])
            named["trace.spans"] = len(tracer.spans)
            metrics = {k: {"value": v, "unit": metric_units(k)} for k, v in named.items()}
            for layer, vals in layers.items():
                for c in LAYER_COUNTERS:
                    name = f"{layer}.{c}"
                    metrics[name] = {"value": vals[c], "unit": metric_units(name)}
            out_dir = root / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(
                str(out_dir / f"trace-{args.workload}-{args.seed}.json"),
                {"info": info, "metrics": metrics},
            )
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "items_per_s": {"value": res["items"] / elapsed, "unit": "1/s"},
                "op_p50_ms": {"value": 1000 * statistics.median(lat), "unit": "ms"},
                "op_p90_ms": {"value": 1000 * percentile(lat, 0.9), "unit": "ms"},
                "stored_bytes_per_obs": {"value": stored, "unit": "B/row"},
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / ".perfbench_tmp").rmdir()
        except OSError:
            pass

    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    info["timeline_s"]["stopped"] = time.perf_counter() - T_START
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
