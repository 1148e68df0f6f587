"""Local mirror of the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the same
parquet tables, then compares row count, column names/order-insensitive
values. Used while iterating (``python tools/compare.py [sf_dir] [keys...]``).

``--default`` runs on a stock ``SparkSession.builder.getOrCreate()``
session and strips the engine's runtime confs before every query —
exactly the driver's environment (ANSI on, no nanosAsLong).
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from dfx_indicators_etl_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Sort columns by name, then rows, with NaN/None canonicalized."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return v
        return v

    out = [tuple(canon(row[i]) for i in order) for row in rows]
    return sorted(out, key=repr)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--default"]
    default_session = "--default" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if default_session:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("compare").getOrCreate()
    else:
        # SPARK_GRAFT_MASTER=local-cluster[4,8,4096] re-runs the gate
        # on a multi-JVM profile (serialized shuffle fetch between
        # executor processes — the cost/correctness component local[n]
        # hides).
        import os

        spark = get_spark(
            "compare", master=os.environ.get("SPARK_GRAFT_MASTER")
        )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = queries(), oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if default_session:
            from dfx_indicators_etl_spark.session import RUNTIME_CONFS

            for key in RUNTIME_CONFS:
                try:
                    spark.conf.unset(key)
                except Exception:  # noqa: BLE001
                    pass
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows, "
                  f"{time.time() - t0:.1f}s)")
            continue
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"columns {sorted(spark_cols)} != {sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} != {len(duck_rows)}")
        if not problems:
            a = normalize(spark_rows, spark_cols)
            b = normalize(duck_rows, duck_cols)
            if a != b:
                diff = next(
                    (i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y
                )
                problems.append(f"values differ, first at {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"ok   {name}: {len(spark_rows)} rows match "
                  f"({time.time() - t0:.1f}s)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
