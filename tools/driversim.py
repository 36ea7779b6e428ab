"""Driver-contract simulator: runs every __spark_entry__ query at
sf0.01 under a default (ANSI, host-TZ) session and compares against
the DuckDB oracle with tests/conftest.py's type-strict comparison
(values and column type classes).
Usage: TZ=America/New_York python tools/driversim.py [only_prefix...|@firstN]"""
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import duckdb

import __spark_entry__ as e
from aces_nifi_processors_bundle_spark.sources.registry import TABLES
from tests.conftest import assert_matches_oracle

con = duckdb.connect()
for t in TABLES:
    p = f"/root/testdata/sf0.01/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


qs, osql = e.queries(), e.oracle_sql()
names = list(qs)
if len(sys.argv) > 1:
    sel = []
    for a in sys.argv[1:]:
        if a.startswith("@first"):
            sel += names[: int(a[6:])]
        else:
            sel += [n for n in names if n == a or n.startswith(a.rstrip("*"))]
    names = list(dict.fromkeys(sel))
bad = 0
for name in names:
    try:
        sdf = qs[name](spark, "/root/testdata/sf0.01")
        rows = sdf.collect()
        if name not in osql:
            print(name, "rows-only:", len(rows), flush=True)
            continue
        # collect once: the compare reads the rows through this stand-in
        collected = SimpleNamespace(
            schema=sdf.schema, columns=sdf.columns, collect=lambda: rows
        )
        try:
            assert_matches_oracle(collected, con, osql[name])
        except AssertionError as mismatch:
            bad += 1
            print(name, "rows", len(rows), "MISMATCH\n ", mismatch, flush=True)
        else:
            print(name, "rows", len(rows), "match: True", flush=True)
    except Exception as ex:  # noqa: BLE001
        bad += 1
        print(name, "ERROR", f"{type(ex).__name__}: {ex}"[:300], flush=True)
print("TOTAL", len(names), "BAD", bad)
print("entry rows:", e.entry(spark).count())
spark.stop()
