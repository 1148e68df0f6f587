"""The three benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``generate(work)``: build the seeded inputs and stage them as files
  under ``work``; ``observation_queries`` also lands the star it reads
  (not part of ``setup_s``: landing a star is what ``etl_refresh``
  measures);
- ``setup_round()``: the program's own set-up work, opening what the
  workload reads (repeated; ``setup_s`` takes the median);
- ``warm_up(clients)``: operations outside the measurement (JIT and
  codegen warm-up belong to set-up);
- ``measure(seconds, tracer, clients, min_ops)``: repeat the
  workload's operation until ``seconds`` have passed (a batch operation
  at least ``min_ops`` times); returns the operation latencies and how
  many items they processed. With the tracer on, every operation runs
  twice, untraced and traced (``Workload._run_op``);
- ``check()``: compare the outputs of the measured operations with
  what the generator planted; returns the failed checks;
- ``layer_metrics(tracer)``: the workload's named per-layer numbers.

The timed regions call only the package's public functions.
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import shutil
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dfx_indicators_etl_spark import database, validation
from dfx_indicators_etl_spark.operators import dedup, text
from dfx_indicators_etl_spark.operators.indicator import interpolate_years, rebase_index
from dfx_indicators_etl_spark.pipelines import (
    PipelineSettings,
    get_pipeline,
    run_all,
    union_all,
)
from dfx_indicators_etl_spark.sources import read_table, sinks
from dfx_indicators_etl_spark.sources.m49 import load_m49, m49_country_dim

from . import gen
from .trace import Tracer, force

STAR_TABLES = ("country", "indicator", "dimension", "series")
CANON = ["provider", "indicator_name", "country_code", "year", "dimension", "value"]
PRIOR_TYPES = (pa.string(), pa.string(), pa.string(), pa.int32(), pa.string(), pa.float64())
LANDED_VERSION = "v00-01-01"
# The sources one refresh lands. A refresh costs about 2.5 s per source
# on a 4-CPU host whatever the input size (per-job planning, codegen and
# JIT), so the twelve of ``pipelines.SOURCES`` would leave room for one
# refresh per run and no warm-up; three leave room for a warm-up refresh
# and two measured ones within the run budget.
# They cover a wide staged CSV, a map payload whose null values land (so
# the quarantine is not empty) and the drop-every-conflicting-key rule.
REFRESH_SOURCES = ("world_bank_wdi", "imf_datamapper_api", "unaids_kpatlas")
# tracer for untimed calls (warm-up)
_NO_TRACE = Tracer(None, enabled=False)


def _files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, names in os.walk(root)
        for f in names
        if f.startswith("part-")
    ]


def _bytes(root: str) -> int:
    return sum(os.path.getsize(f) for f in _files(root))


def _write_star(star: dict, root: str, version: str) -> None:
    for name in STAR_TABLES:
        sinks.write_dataset(star[name], root, name, folder="star", version=version)


def _read_star(spark, star_dir: str) -> dict:
    return {name: read_table(spark, star_dir, name) for name in STAR_TABLES}


class Tally:
    """Operation times and counts of one measured loop."""

    def __init__(self):
        self.latencies: list[float] = []  # untraced operations
        self.pairs: list[tuple[float, float]] = []  # (untraced, traced)
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def add(self, secs: dict, failed: int) -> None:
        with self._lock:
            self.latencies.append(secs[False])
            if True in secs:
                self.pairs.append((secs[False], secs[True]))
            self.attempted += len(secs)
            self.failed += failed

    def result(self, items_per_op: int, elapsed: float | None = None) -> dict:
        return {
            "latencies": self.latencies,
            "pairs": self.pairs,
            "items": items_per_op * len(self.latencies),
            "elapsed": sum(self.latencies) if elapsed is None else elapsed,
            "attempted": self.attempted,
            "failed": self.failed,
        }


def _canonical(view):
    """Observation view back to the canonical observation columns."""
    return view.select(
        F.col("indicator_provider").alias("provider"),
        "indicator_name",
        F.col("country_code_3").alias("country_code"),
        "year",
        F.col("dimension_name").alias("dimension"),
        "value",
    )


class Workload:
    """Shared plumbing; subclasses implement the steps."""

    # unlisted workloads whose layers this workload's traced run also
    # measures, with one traced operation of each
    traced_guests: tuple[str, ...] = ()

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.m49 = load_m49(spark)
        self.country = m49_country_dim(self.m49)
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def _run_op(self, op, tracer, k: int, tally: Tally):
        """Run ``op(tracer)`` once and add its time to ``tally``.

        With the tracer on, the operation runs twice, untraced and
        traced, and ``k`` alternates which goes first: both runs see the
        same warm-up state, so their ratio is the tracing overhead. A
        failure is recorded and the run goes on. Returns the result, or
        ``None`` if a run failed."""
        runs = [tracer]
        if tracer.enabled:
            runs = [_NO_TRACE, tracer] if k % 2 == 0 else [tracer, _NO_TRACE]
        secs, result, failed = {}, None, 0
        for tr in runs:
            t0 = time.perf_counter()
            try:
                result = op(tr)
            except Exception as e:  # counted, reported, run goes on
                failed += 1
                with self._lock:
                    self.failures.append(f"operation failed: {e!r}"[:300])
            secs[tr.enabled] = time.perf_counter() - t0
        tally.add(secs, failed)
        return None if failed else result

    def _batch_loop(self, seconds, op, tracer, min_ops) -> Tally:
        """Run ``op`` back to back for ``seconds``: at least
        ``min_ops`` times, and no further operation once the last one's
        time would overrun the budget."""
        tally = Tally()
        deadline = time.perf_counter() + seconds
        for k in itertools.count():
            t0 = time.perf_counter()
            self._run_op(op, tracer, k, tally)
            if k + 1 >= min_ops and 2 * time.perf_counter() - t0 > deadline:
                return tally


# --- etl_refresh --------------------------------------------------------


class EtlRefresh(Workload):
    """Refresh of ``REFRESH_SOURCES`` into the star, one caller."""

    traced_guests = ("corpus_dedup",)

    def generate(self, staged: str) -> None:
        """Stage the sources' inputs and land the prior release as the
        existing star (not part of ``setup_s``: landing a star is what
        the refresh itself measures)."""
        self.work = staged
        self.sources = gen.etl_sources(self.seed, REFRESH_SOURCES)
        self.inputs = {}
        for name, src in sorted(self.sources.items()):
            if src.kind == "csv":
                path = os.path.join(staged, f"{name}.csv")
                with open(path, "w", encoding="utf-8") as f:
                    f.write(src.table)
                self.inputs[name] = {"path": path}
            else:
                path = os.path.join(staged, f"{name}.parquet")
                pq.write_table(src.table, path)
                self.inputs[name] = {"payload": self.spark.read.parquet(path)}
        prior = gen.prior_release(self.seed, self.sources)
        self.prior_keys = {r[1:5] for r in prior}
        prior_path = os.path.join(staged, "prior_release.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(CANON, r)) for r in prior],
                pa.schema([(c, t) for c, t in zip(CANON, PRIOR_TYPES)]),
            ),
            prior_path,
        )
        prior_root = os.path.join(staged, "prior")
        star = database.build_star_schema(self.spark.read.parquet(prior_path), self.country)
        _write_star(star, prior_root, LANDED_VERSION)
        self.prior_star_dir = f"{prior_root}/{LANDED_VERSION}/star"
        self.iteration = 0
        self.last = None  # (root, version) of the last refresh

    def setup_round(self) -> None:
        """Open the existing star as the observations a refresh
        upserts into."""
        self.existing = _canonical(
            database.observation_view(_read_star(self.spark, self.prior_star_dir))
        )

    def warm_up(self, clients) -> None:
        """One refresh, so the measured ones reuse its plans, generated
        code and JIT state."""
        self._refresh(_NO_TRACE)

    def _refresh(self, tr) -> None:
        """``run_all``, the star and the upsert, all written; the
        previous refresh's output is removed."""
        self.iteration += 1
        root = os.path.join(self.work, f"refresh-{self.iteration}")
        version = sinks.dataset_version()
        settings = PipelineSettings(year_min=gen.YEAR_MIN, year_max=gen.YEAR_MAX)
        if not tr.enabled:
            results = run_all(
                self.spark,
                self.inputs,
                storage_root=root,
                country_mapping=self.m49,
                countries=self.m49,
                settings=settings,
            )
        else:  # run_all's loop, one span per step
            results = {}
            for name, kwargs in self.inputs.items():
                p = get_pipeline(
                    name,
                    country_mapping=self.m49,
                    storage_root=root,
                    countries=self.m49,
                    settings=settings,
                )
                with tr.span(f"pipelines.{name}", "pipelines"):
                    with tr.span("retrieve", "readers"):
                        p.retrieve(self.spark, **kwargs)
                        force(p.df_raw)
                    with tr.span("transform", "pipelines"):
                        p.transform()
                        force(p.df_transformed)
                    with tr.span("load", "sinks"):
                        p.load()
                results[name] = p.df_transformed
        union = union_all(list(results.values()))
        with tr.span("validate_split", "validation"):
            valid, quarantine = validation.validate_split(union)
            if tr.enabled:
                force(valid)
        with tr.span("write_quarantine", "sinks"):
            sinks.write_dataset(quarantine, root, "quarantine", version=version)
        with tr.span("build_star_schema", "database"):
            star = database.build_star_schema(valid, self.country)
            if tr.enabled:
                for t in star.values():
                    force(t)
        with tr.span("write_star", "sinks"):
            _write_star(star, root, version)
        with tr.span("upsert", "database"):
            merged = database.upsert(
                self.existing,
                valid.select(*CANON),
                validation.SERIES_KEY,
                order_cols=["provider", "value"],
            )
            if tr.enabled:
                force(merged)
        with tr.span("write_observation", "sinks"):
            sinks.write_dataset(merged, root, "observation", version=version)
        if self.last is not None:
            shutil.rmtree(self.last[0])
        self.last = (root, version)

    def measure(self, seconds, tracer, clients, min_ops):
        tally = self._batch_loop(seconds, self._refresh, tracer, min_ops)
        return tally.result(sum(s.expected_rows for s in self.sources.values()))

    def stored_bytes_per_obs(self) -> float:
        """Parquet bytes one refresh writes (landed sources, quarantine,
        star, upserted observations) per canonical row landed."""
        return _bytes(self.last[0]) / sum(s.expected_rows for s in self.sources.values())

    def check(self) -> list[str]:
        """Checks on the last measured refresh, read back with pyarrow
        so they schedule no Spark jobs."""
        (root, version), bad = self.last, list(self.failures)
        landed = {}
        for name, src in sorted(self.sources.items()):
            paths = glob.glob(f"{root}/v*/{name}.parquet")
            if len(paths) != 1:
                bad.append(f"{name}: {len(paths)} landed datasets")
                continue
            landed[name] = pq.read_table(paths[0]).to_pandas()
            if len(landed[name]) != src.expected_rows:
                bad.append(
                    f"{name}: landed {len(landed[name])} rows, expected {src.expected_rows}"
                )
        if bad:
            return bad
        base = f"{root}/{version}"
        n_null = sum(s.expected_null_values for s in self.sources.values())
        quarantined = pq.read_table(f"{base}/quarantine.parquet").num_rows
        if quarantined != n_null:
            bad.append(f"quarantine holds {quarantined} rows, expected {n_null}")
        # star round trip: series joined back through its dims is the
        # valid union as a multiset (null values are the only planted
        # rule violation)
        union = pd.concat(landed.values())[CANON]
        want = sorted(union[union["value"].notna()].itertuples(index=False, name=None))
        t = {n: pq.read_table(f"{base}/star/{n}.parquet").to_pandas() for n in STAR_TABLES}
        recon = (
            t["series"]
            .merge(t["country"][["id", "iso_3"]], left_on="country_id", right_on="id")
            .merge(t["indicator"][["id", "name", "provider"]], left_on="indicator_id", right_on="id")
            .merge(
                t["dimension"][["id", "name"]].rename(columns={"name": "dimension"}),
                left_on="dimension_id", right_on="id",
            )
            .rename(columns={"name": "indicator_name", "iso_3": "country_code"})
        )
        got = sorted(recon[CANON].itertuples(index=False, name=None))
        if len(got) != len(t["series"]) or got != want:
            bad.append(
                f"star does not round-trip the valid union "
                f"({len(t['series'])} series rows, {len(want)} valid rows)"
            )
        # upsert: exactly one row per key of (prior keys | new keys)
        new_keys = set().union(*(s.valid_keys for s in self.sources.values()))
        merged = pq.read_table(f"{base}/observation.parquet").to_pandas()
        keys = set(merged[list(validation.SERIES_KEY)].itertuples(index=False, name=None))
        if len(merged) != len(keys) or keys != self.prior_keys | new_keys:
            bad.append(
                f"upsert holds {len(merged)} rows / {len(keys)} keys, expected "
                f"{len(self.prior_keys | new_keys)}"
            )
        return bad

    def layer_metrics(self, tr) -> dict:
        spans = tr.spans
        rows_in = sum(s.rows_in for s in self.sources.values())
        rows_out = sum(s.expected_rows for s in self.sources.values())
        n_null = sum(s.expected_null_values for s in self.sources.values())
        files = _files(self.last[0])
        n_iter = max(1, sum(1 for s in spans if s["name"] == "validate_split"))

        def per_iter(name, key="dur"):
            xs = [s for s in spans if s["name"] == name]
            if key == "dur":
                return sum(s["end"] - s["start"] for s in xs) / n_iter
            return sum(s["incl"][key] for s in xs) / n_iter

        out = {f"pipelines.{n}.s": per_iter(f"pipelines.{n}") for n in self.sources}
        out.update(
            {
                "pipelines.rows_in": rows_in,
                "pipelines.rows_out": rows_out,
                "pipelines.keep_ratio": rows_out / rows_in,
                "validation.split_s": per_iter("validate_split"),
                "validation.quarantine_ratio": n_null / rows_out,
                "sinks.bytes_written": _bytes(self.last[0]),
                "sinks.files_written": len(files),
                "database.star_build_s": per_iter("build_star_schema"),
                "database.star_input_bytes": per_iter("build_star_schema", "input_bytes"),
                "database.upsert_s": per_iter("upsert"),
            }
        )
        return out


# --- observation_queries ------------------------------------------------

# The traffic is an assumption, not taken from a query log: each client
# cycles through this fixed 60/25/15 point/scan/analytic mix, starting
# at its own offset (a random mix would move the median between shapes
# from run to run), and draws countries and indicators from a Zipf mix
# over a seeded ranking.
QUERY_CYCLE = tuple(
    {"P": "point", "S": "scan", "A": "analytic"}[c] for c in "PSPAPPSPSPAPPSPPSPAP"
)
ZIPF_S = 1.1
# every CHECK_EVERY-th query of a client is kept for the DuckDB check
CHECK_EVERY, CHECK_MAX = 10, 40
# the clients run this long before the measurement starts (JIT and code
# generation warm-up)
WARM_SECONDS = 10.0


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


class ObservationQueries(Workload):
    """Closed-loop point / scan / analytic queries over a landed star."""

    def generate(self, staged: str) -> None:
        """Stage the panel and land it as the star the queries serve;
        landing is the refresh's work (measured by ``etl_refresh``), so
        it is done once here and not counted in ``setup_s``."""
        obs_path = os.path.join(staged, "observations.parquet")
        obs = gen.query_observations(self.seed)
        self.n_obs = obs.num_rows
        pq.write_table(obs, obs_path)
        star = database.build_star_schema(self.spark.read.parquet(obs_path), self.country)
        _write_star(star, staged, LANDED_VERSION)
        self.star_dir = f"{staged}/{LANDED_VERSION}/star"
        rng = np.random.default_rng([self.seed, 5])
        self.countries = list(rng.permutation([a[2] for a in gen.m49_areas()]))
        self.indicators = list(rng.permutation(gen.q_indicator_names()))
        self.p_country = _zipf_p(len(self.countries))
        self.p_indicator = _zipf_p(len(self.indicators))
        self.kept: list = []

    def setup_round(self) -> None:
        """Open the landed star: read its tables and build the view
        every query filters, as a query service does when it starts."""
        self.view = database.observation_view(_read_star(self.spark, self.star_dir))

    def warm_up(self, clients) -> None:
        """Start the clients and let them run for ``WARM_SECONDS``.

        They keep running into the measurement, so it starts on a warm,
        desynchronised loop: when clients started together after a
        pause, the first query of each took up to twice the median."""
        self._window = (None, _NO_TRACE)  # (tally, tracer) of the measurement
        self._stop = threading.Event()
        self._threads = [
            threading.Thread(target=self._client, args=(i,)) for i in range(clients)
        ]
        for t in self._threads:
            t.start()
        time.sleep(WARM_SECONDS)

    def _params(self, shape, rng):
        if shape == "point":
            y0 = int(rng.integers(gen.Q_YEARS[0], gen.Q_YEARS[-1] - 4))
            c = self.countries[rng.choice(len(self.countries), p=self.p_country)]
            return (c, y0, y0 + 4)
        ind = self.indicators[rng.choice(len(self.indicators), p=self.p_indicator)]
        if shape == "scan":
            return (ind,)
        c = self.countries[rng.choice(len(self.countries), p=self.p_country)]
        return (ind, c)

    def _query(self, shape, params, tr) -> list:
        view = self.view
        with tr.span(f"query.{shape}") as rec:
            with tr.span("observation_view", "database"):
                if shape == "point":
                    c, y0, y1 = params
                    rows = (
                        view.filter((F.col("country_code_3") == c) & F.col("year").between(y0, y1))
                        .select("indicator_name", "dimension_name", "year", "value")
                        .collect()
                    )
                elif shape == "scan":
                    rows = (
                        view.filter(F.col("indicator_name") == params[0])
                        .groupBy("year")
                        .agg(
                            F.count("value").alias("n"),
                            F.sum("value").alias("total"),
                            F.min("value").alias("lo"),
                            F.max("value").alias("hi"),
                        )
                        .collect()
                    )
                else:
                    ind, c = params
                    series = view.filter(
                        (F.col("indicator_name") == ind) & (F.col("country_code_3") == c)
                    ).select(F.col("dimension_name").alias("dimension"), "year", "value")
                    if tr.enabled:
                        force(series)
            if shape == "analytic":
                with tr.span("series_ops", "indicator"):
                    filled = interpolate_years(series, ["dimension"])
                    rows = rebase_index(filled, ["dimension"]).collect()
            if rec is not None:
                rec["attrs"]["rows"] = len(rows)
        return rows

    def measure(self, seconds, tracer, clients, min_ops):
        """Count the queries the running clients start in the next
        ``seconds``, then stop them."""
        tally = Tally()
        t0 = time.perf_counter()
        self._window = (tally, tracer)
        time.sleep(seconds)
        self._stop.set()
        for t in self._threads:
            t.join()
        elapsed = time.perf_counter() - t0
        if tracer.enabled:  # the readers' share: one full scan of the star
            with tracer.span("read_table", "readers"):
                for t in _read_star(self.spark, self.star_dir).values():
                    force(t)
        return tally.result(1, elapsed=elapsed)

    def _client(self, i):
        """One client: its next query when the last one returns. A query
        counts when the measurement had started when it was sent."""
        rng = np.random.default_rng([self.seed, 100 + i])
        measured = 0
        for n in itertools.count():
            if self._stop.is_set():
                return
            tally, tracer = self._window
            shape = QUERY_CYCLE[(n + 5 * i) % len(QUERY_CYCLE)]
            params = self._params(shape, rng)
            rows = self._run_op(
                lambda tr: self._query(shape, params, tr),
                tracer,
                measured,
                tally or Tally(),
            )
            if tally is None:
                continue
            if rows is not None and measured % CHECK_EVERY == 0:
                with self._lock:
                    if len(self.kept) < CHECK_MAX:
                        self.kept.append((shape, params, rows))
            measured += 1

    def stored_bytes_per_obs(self) -> float:
        """Parquet bytes of the star the queries read, per observation."""
        return _bytes(self.star_dir) / self.n_obs

    def check(self) -> list[str]:
        import duckdb

        bad = list(self.failures)
        if not self.kept:
            return bad + ["no query results kept for checking"]
        con = duckdb.connect()
        try:
            for name in STAR_TABLES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{self.star_dir}/{name}.parquet/*.parquet')"
                )
            view = (
                "FROM series s LEFT JOIN country c ON s.country_id = c.id "
                "LEFT JOIN indicator i ON s.indicator_id = i.id "
                "LEFT JOIN dimension d ON s.dimension_id = d.id "
            )
            for shape, params, rows in self.kept:
                got = sorted(tuple(r) for r in rows)
                if shape == "point":
                    want = sorted(con.execute(
                        "SELECT i.name, d.name, s.year, s.value " + view
                        + "WHERE c.iso_3 = ? AND s.year BETWEEN ? AND ?", list(params)
                    ).fetchall())
                    ok = got == want
                elif shape == "scan":
                    want = sorted(con.execute(
                        "SELECT s.year, count(s.value), sum(s.value), min(s.value), "
                        "max(s.value) " + view + "WHERE i.name = ? GROUP BY s.year",
                        list(params),
                    ).fetchall())
                    ok = len(got) == len(want) and all(
                        g[0] == w[0] and g[1] == w[1] and g[3:] == w[3:]
                        and math.isclose(g[2], w[2], rel_tol=1e-9)
                        for g, w in zip(got, want)
                    )
                else:
                    raw = con.execute(
                        "SELECT d.name, s.year, s.value " + view
                        + "WHERE i.name = ? AND c.iso_3 = ?", list(params)
                    ).fetchall()
                    want = _fill_and_rebase(raw)
                    ok = len(got) == len(want) and all(
                        g[:2] == w[:2]
                        and math.isclose(g[2], w[2], rel_tol=1e-9, abs_tol=2e-6)
                        and math.isclose(g[3], w[3], rel_tol=1e-9, abs_tol=2e-6)
                        for g, w in zip(got, want)
                    )
                if not ok:
                    bad.append(f"{shape}{params}: Spark and DuckDB disagree")
        finally:
            con.close()
        return bad

    def layer_metrics(self, tr) -> dict:
        spans = tr.spans
        queries = [s for s in spans if s["name"].startswith("query.")]
        n = max(1, len(queries))
        by_parent: dict = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def jobs_under(s):
            return s["jobs"] + sum(jobs_under(k) for k in by_parent.get(s["id"], []))

        view_input = sum(
            s["incl"]["input_bytes"] for s in spans if s["name"] == "observation_view"
        ) + sum(s["incl"]["input_bytes"] for s in spans if s["name"] == "series_ops")
        result_rows = sum(s["attrs"].get("rows", 0) for s in queries)
        return {
            "session.jobs_per_query": sum(jobs_under(q) for q in queries) / n,
            "readers.scan_s": total("read_table"),
            "readers.input_bytes_per_result_row": view_input / max(1, result_rows),
            "database.view_s": total("observation_view") / n,
            "indicator.series_ops_s": total("series_ops")
            / max(1, sum(1 for q in queries if q["name"] == "query.analytic")),
        }


def _fill_and_rebase(raw):
    """Python reference of ``interpolate_years`` then ``rebase_index``
    keyed on the dimension: (dimension, year, value, idx) rows."""
    out = []
    series: dict = {}
    for dim, year, value in raw:
        if value is not None:
            series.setdefault(dim, []).append((year, value))
    for dim, pts in series.items():
        pts.sort()
        filled = []
        for (y1, v1), nxt in zip(pts, pts[1:] + [None]):
            filled.append((y1, v1))
            if nxt is not None:
                y2, v2 = nxt
                for y in range(y1 + 1, y2):
                    filled.append((y, round(v1 + (v2 - v1) * (y - y1) / (y2 - y1), 6)))
        base = filled[0][1]
        for y, v in filled:
            out.append((dim, y, v, round(100.0 * v / base, 6) if base else None))
    return sorted(out)


# --- corpus_dedup -------------------------------------------------------

RECALL_FLOOR = 0.95
CORPUS_FILES = 8


class CorpusDedup(Workload):
    """Quality filter, exact dedup, MinHash LSH and clustering, one caller."""

    def generate(self, staged: str) -> None:
        self.corpus = gen.corpus(self.seed)
        self.corpus_path = os.path.join(staged, "corpus")
        os.makedirs(self.corpus_path)
        t = self.corpus.table
        step = math.ceil(t.num_rows / CORPUS_FILES)
        for i in range(CORPUS_FILES):
            pq.write_table(
                t.slice(i * step, step), os.path.join(self.corpus_path, f"part-{i}.parquet")
            )

    def setup_round(self) -> None:
        self.docs = self.spark.read.parquet(self.corpus_path)

    def warm_up(self, clients) -> None:
        self._pass(_NO_TRACE)

    def _pass(self, tr) -> None:
        with tr.span("quality_filter", "text"):
            filtered = text.quality_filter(self.docs)
            if tr.enabled:
                force(filtered)
        with tr.span("exact_dedup", "dedup"):
            groups = dedup.exact_dedup(filtered)
            stats = groups.agg(
                F.sum("n_copies").alias("kept"),
                F.count(F.when(F.col("n_copies") > 1, 1)).alias("clusters"),
                F.sum(F.when(F.col("n_copies") > 1, F.col("n_copies"))).alias("docs"),
            ).first()
            survivors = filtered.join(
                groups.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi"
            )
            if tr.enabled:
                force(survivors)
        with tr.span("minhash_lsh_pairs", "dedup"):
            pairs = dedup.minhash_lsh_pairs(survivors, threshold=0.5).localCheckpoint()
            pair_rows = pairs.select("doc_a", "doc_b").collect()
        with tr.span("connected_components", "dedup"):
            clusters = dedup.connected_components(pairs).collect()
        self.result = (stats, pair_rows, clusters)

    def measure(self, seconds, tracer, clients, min_ops):
        tally = self._batch_loop(seconds, self._pass, tracer, min_ops)
        return tally.result(self.corpus.n_docs)

    def stored_bytes_per_obs(self) -> float:
        """Parquet bytes of the staged corpus, per document."""
        return _bytes(self.corpus_path) / self.corpus.n_docs

    def _quality(self):
        stats, pair_rows, clusters = self.result
        planted = self.corpus.near_pairs
        found = {(r[0], r[1]) for r in pair_rows}
        label = {r[0]: r[1] for r in clusters}
        joined = sum(
            1 for a, b in planted if a in label and label.get(a) == label.get(b)
        )
        return {
            "kept": stats["kept"],
            "candidate_pairs": len(found),
            "pair_precision": len(found & planted) / max(1, len(found)),
            "recall": joined / len(planted),
        }

    def check(self) -> list[str]:
        bad = list(self.failures)
        stats = self.result[0]
        c = self.corpus
        if stats["kept"] != c.expected_kept:
            bad.append(f"quality_filter kept {stats['kept']}, expected {c.expected_kept}")
        if (stats["clusters"], stats["docs"]) != (c.exact_clusters, c.exact_docs):
            bad.append(
                f"exact_dedup found {stats['clusters']} clusters / {stats['docs']} docs, "
                f"expected {c.exact_clusters} / {c.exact_docs}"
            )
        q = self._quality()
        if q["recall"] < RECALL_FLOOR:
            bad.append(f"near-duplicate recall {q['recall']:.4f} < {RECALL_FLOOR}")
        return bad

    def layer_metrics(self, tr) -> dict:
        spans = tr.spans
        n = max(1, sum(1 for s in spans if s["name"] == "quality_filter"))

        def per_pass(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

        q = self._quality()
        return {
            "text.quality_s": per_pass("quality_filter"),
            "text.kept_ratio": q["kept"] / self.corpus.n_docs,
            "dedup.exact_s": per_pass("exact_dedup"),
            "dedup.minhash_s": per_pass("minhash_lsh_pairs"),
            "dedup.components_s": per_pass("connected_components"),
            "dedup.candidate_pairs": q["candidate_pairs"],
            "dedup.pair_precision": q["pair_precision"],
            "dedup.recall": q["recall"],
        }


WORKLOADS = {
    "etl_refresh": EtlRefresh,
    "observation_queries": ObservationQueries,
    "corpus_dedup": CorpusDedup,
}
