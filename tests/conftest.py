"""Shared fixtures: one SparkSession per test session, a DuckDB
connection with the synthetic tables registered, and an oracle-compare
helper mirroring the driver's check (row count + schema width +
order-insensitive value comparison)."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aces_nifi_processors_bundle_spark.session import get_spark  # noqa: E402
from aces_nifi_processors_bundle_spark.sources.registry import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="aces-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def _norm(v):
    """(type-class, canonical string) per value — STRICTER than Python
    `==`. The driver's external gate hashes rendered values, so
    Decimal(5), 5, and 5.0 must NOT unify (Decimal(5)==5 is True in
    Python — exactly how five type-mismatched oracles shipped red in
    CORRECTNESS_r07 while the local gate stayed green). Floats compare
    by full repr, unrounded: every oracle in this repo claims exact
    (bit-identical fold order / integer-cents) semantics."""
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ("bool", str(v))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _norm(x)) for k, x in v.items())))
    if isinstance(v, datetime.datetime):  # before date: subclass
        return ("timestamp", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("binary", bytes(v).hex())
    return (type(v).__name__, str(v))


def _duck_type_class(t: str) -> str:
    """Collapse a DuckDB DESCRIBE column_type to the class the
    driver's renderer distinguishes: HUGEINT and DECIMAL surface as
    float64/Decimal (rendering '5.0'), BIGINT as int ('5') — the
    Python fetchall() unifies them (HUGEINT -> int), which is how
    CORRECTNESS_r07's five uncast-HUGEINT oracles passed locally
    while failing the driver hash."""
    t = t.upper()
    if t.startswith("DECIMAL") or t in ("HUGEINT", "UHUGEINT"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BLOB":
        return "binary"
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "list"
    if t.startswith("MAP"):
        return "map"
    if t.startswith("STRUCT"):
        return "struct"
    return "str"  # VARCHAR, UUID, ENUM, ...


def _spark_type_class(dt) -> str:
    s = dt.simpleString()
    if s.startswith("decimal"):
        return "decimal"
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s == "boolean":
        return "bool"
    if s in ("date",):
        return "date"
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "binary":
        return "binary"
    if s.startswith("array"):
        return "list"
    if s.startswith("map"):
        return "map"
    if s.startswith("struct"):
        return "struct"
    return "str"


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str):
    """Order-insensitive, column-name-sorted, TYPE-STRICT value
    comparison (see _norm) PLUS a declared-type class check: the
    DuckDB DESCRIBE type class of every output column must match the
    Spark schema's (int vs decimal vs float must not unify — the
    external gate renders them differently even when Python values
    compare ==). Rows sort by repr because normalized values are
    heterogeneous tuples/None — equal multisets still produce equal
    sorted lists."""
    duck_types = {
        row[0]: row[1]
        for row in duck_con.execute("DESCRIBE " + oracle_sql).fetchall()
    }
    for f in spark_df.schema.fields:
        sc = _spark_type_class(f.dataType)
        dc = _duck_type_class(duck_types.get(f.name, "?MISSING?"))
        assert sc == dc, (
            f"column {f.name!r}: Spark type class {sc} "
            f"({f.dataType.simpleString()}) vs oracle {dc} "
            f"({duck_types.get(f.name)}) — the external hash gate "
            "renders these differently"
        )
    cols = sorted(spark_df.columns)
    spark_rows = sorted(
        (tuple(_norm(r[c]) for c in cols) for r in spark_df.collect()),
        key=repr,
    )
    cur = duck_con.execute(oracle_sql)
    duck_cols = [d[0] for d in cur.description]
    assert sorted(duck_cols) == cols, f"columns differ: {sorted(duck_cols)} vs {cols}"
    idx = [duck_cols.index(c) for c in cols]
    duck_rows = sorted(
        (tuple(_norm(row[i]) for i in idx) for row in cur.fetchall()),
        key=repr,
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    for i, (a, b) in enumerate(zip(spark_rows, duck_rows)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  oracle: {b}"


def pytest_collection_modifyitems(session, config, items):
    """Run the oracle gate (test_queries_vs_oracle.py) first, keeping
    the relative order of everything else, so a suite-level timeout on
    a loaded machine cuts the least critical tests rather than it."""
    def _is_oracle(item) -> bool:
        return os.path.basename(str(item.fspath)) == "test_queries_vs_oracle.py"

    items[:] = sorted(items, key=lambda item: not _is_oracle(item))
