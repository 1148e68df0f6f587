"""The series fact's layout: ``series_fact`` sorts each partition by
``(year, indicator_id, dimension_id, country_id)``, so a star written
by ``build_star_schema`` and ``sinks.write_dataset`` is clustered by
year, and a year-range filter on the view skips the parquet pages whose
``year`` range misses it. The panel comes in the generator's
indicator-first order, in which every page holds every year."""

from __future__ import annotations

import glob

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dfx_indicators_etl_spark import database
from dfx_indicators_etl_spark.sources import sinks

YEARS = list(range(1980, 2020))
COUNTRIES = [f"C{i:02d}" for i in range(50)]
INDICATORS = [f"ind {i:02d}" for i in range(50)]
DIMENSIONS = ["Female", "Total"]
N_ROWS = len(YEARS) * len(COUNTRIES) * len(INDICATORS) * len(DIMENSIONS)  # 200,000
LAYOUT = ["year", "indicator_id", "dimension_id", "country_id"]


@pytest.fixture(scope="module")
def star_dir(spark, tmp_path_factory):
    """The directory of the panel landed as a star: its four tables."""
    root = tmp_path_factory.mktemp("series_layout")
    i, c, d, y = (
        a.ravel()
        for a in np.meshgrid(
            np.arange(len(INDICATORS)),
            np.arange(len(COUNTRIES)),
            np.arange(len(DIMENSIONS)),
            np.arange(len(YEARS)),
            indexing="ij",
        )
    )
    pq.write_table(
        pa.table(
            {
                "provider": pa.array(["panel"] * N_ROWS),
                "indicator_name": pa.array(np.array(INDICATORS)[i]),
                "country_code": pa.array(np.array(COUNTRIES)[c]),
                "year": pa.array(np.array(YEARS, dtype=np.int32)[y]),
                "dimension": pa.array(np.array(DIMENSIONS)[d]),
                "value": pa.array(np.arange(N_ROWS, dtype=np.float64)),
            }
        ),
        str(root / "obs.parquet"),
    )
    country = spark.createDataFrame(
        [(k, code[:2], code, f"Country {code}") for k, code in enumerate(COUNTRIES, 1)],
        "id int, iso_2 string, iso_3 string, name string",
    )
    star = database.build_star_schema(spark.read.parquet(str(root / "obs.parquet")), country)
    for name, df in star.items():
        sinks.write_dataset(df, str(root), name, version="v1")
    return root / "v1"


def _scan_rows(df) -> int:
    """``numOutputRows`` of the one parquet scan in ``df``'s executed
    plan, read after it ran (from the final plan when AQE wraps it)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    (scan,) = (leaves.apply(i) for i in range(leaves.size()))
    assert scan.nodeName().startswith("Scan parquet"), scan.nodeName()
    return scan.metrics().apply("numOutputRows").value()


def test_series_files_sorted_by_year_first(star_dir):
    """Each part file of the written fact is non-decreasing in
    ``(year, indicator_id, dimension_id, country_id)``."""
    parts = glob.glob(str(star_dir / "series.parquet" / "part-*.parquet"))
    assert parts
    rows = 0
    for part in parts:
        t = pq.read_table(part, columns=LAYOUT)
        keys = list(zip(*(t[c].to_pylist() for c in LAYOUT)))
        assert all(a <= b for a, b in zip(keys, keys[1:])), part
        rows += t.num_rows
    assert rows == N_ROWS


def test_point_query_skips_pages_of_other_years(spark, star_dir, tmp_path):
    """A point query's ``year`` range reaches the scan, which on the
    year-clustered fact reads at most a third of the rows; over a copy
    of the fact rewritten indicator-first, the same query reads them
    all. Both give the same rows."""

    def point(series):
        view = database.observation_view({**tables, "series": series})
        return view.filter(
            (F.col("country_code_3") == "C07") & F.col("year").between(2000, 2004)
        ).select("indicator_name", "dimension_name", "year", "value")

    tables = {
        name: spark.read.parquet(str(star_dir / f"{name}.parquet"))
        for name in ("country", "indicator", "dimension", "series")
    }
    q = point(tables["series"])
    got = sorted(q.collect())
    assert len(got) == len(INDICATORS) * len(DIMENSIONS) * 5
    assert _scan_rows(q) <= N_ROWS // 3, _scan_rows(q)

    unsorted_path = str(tmp_path / "series.parquet")
    tables["series"].sortWithinPartitions(
        "indicator_id", "country_id", "dimension_id", "year"
    ).write.parquet(unsorted_path)
    unsorted = point(spark.read.parquet(unsorted_path))
    assert sorted(unsorted.collect()) == got
    assert _scan_rows(unsorted) == N_ROWS
