"""Parquet source registry for the synthetic star schema.

The reference reads FlowFile content as raw bytes and parses JSON per
record (PartialUpdateMongo.java:186-205, DataBinningProcessor.java:241-249).
Here, sources are columnar parquet scans: Catalyst pushes filters and
prunes columns into the scan itself, so a downstream ``select``/
``filter`` never materializes unread columns — the scale-critical
difference from record-at-a-time ingest.

Schemas are declared explicitly (the reference is config-driven, never
schema-inferred — SURVEY.md §1.3); we still let parquet supply its own
footer schema (exact) but validate against the declared one. Resolving
that schema runs one Spark job per read, so `load_table` resolves each
file's schema once and reads it again with `.schema(...)`, which
submits no job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver-generated parquet uses INT64 TIMESTAMP(NANOS) physical
# type, which Spark's vectorized reader rejects outright. We read the
# nanos as longs (legacy conf, runtime-settable) and rebuild proper
# timestamps with integer `div` (a double division would lose precision
# at ~1.7e18 ns). DuckDB truncates the same values to micros, so both
# engines see identical timestamps.
_NANOS_TS_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

# Declared schemas for the driver-provided tables (FIXTURES.md).
TABLES: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp",
    "events": "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


# path -> (file state, resolved schema): one entry per path, replaced
# when the file or the nanosAsLong setting changes. A rewrite that keeps
# the file's length within one mtime tick (1 ms locally) goes unseen.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_state(spark: SparkSession, path: str) -> tuple:
    """What the resolved schema of `path` depends on: the file's length
    and modification time — for a directory, every file's (relative
    name, length, mtime) — and the nanosAsLong setting. Read through
    the Hadoop FileSystem, so hdfs:// and s3a:// paths work too. ()
    when nothing is at `path`."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return ()
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    st = fs.getFileStatus(jpath)
    if not st.isDirectory():
        return (nanos, st.getLen(), st.getModificationTime())
    files, root = [], st.getPath().toString()
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().toString()[len(root):]
        files.append((name, f.getLen(), f.getModificationTime()))
    return (nanos, *sorted(files))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The reference renders all dates in GMT-0 (BetterAttributesToJSON
    # .java:59-60) and the DuckDB oracle does timezone-naive (UTC) math;
    # pin the session so results don't depend on the host timezone even
    # when the caller (e.g. the verify driver) built a default session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    state = _file_state(spark, path)
    cached = _SCHEMAS.get(path)
    if state and cached and cached[0] == state:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)  # a missing file fails here, naming it
        _SCHEMAS[path] = (state, df.schema)
    # Validate column NAMES against the declared schema (types are
    # normalized below — the fixtures have legitimately shipped nanos
    # longs and NTZ for the same logical timestamp). A missing column
    # should fail HERE with the table name, not three operators later.
    declared = {f.split()[0] for f in TABLES[name].split(", ")}
    missing = declared - set(df.columns)
    if missing:
        raise ValueError(
            f"table {name!r} at {sf_dir}: missing declared columns {sorted(missing)}; "
            f"found {df.columns}"
        )
    for c in _NANOS_TS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Fixture parquet has also shipped as timestamp[us] without a
    # timezone, which Spark reads as TIMESTAMP_NTZ — a type unix_millis
    # and withWatermark both reject. The reference's semantics are GMT-0
    # wall-clock (BetterAttributesToJSON.java:59-60) and the session zone
    # is pinned UTC above, so an NTZ→TIMESTAMP cast is value-preserving
    # and matches the DuckDB oracle's timezone-naive math.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def ensure_fanout_parallelism(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for compute-fan-out stages
    (input skew: one huge unsplittable file → repartition immediately
    after the read).

    Spark sizes scan splits by input BYTES (maxPartitionBytes /
    openCostInBytes), which is right for scan-bound work but wrong
    for operators whose work is a large multiple of their input —
    shingle/trigram explodes (~100-300 output rows per doc), vector
    matmuls, per-value hashing. A small input (one file, one parquet
    row group — row groups are the split floor, so file-split confs
    cannot help) then runs the whole fan-out stage on ONE core.

    The floor: round-robin repartition to the session's default
    parallelism IFF the frame currently plans to fewer partitions.
    The condition makes it scale-adaptive rather than a local tuning
    constant: at production scale scan partitions far exceed core
    count, the branch never fires, and no extra exchange exists; when
    it does fire, the input is by definition at most
    cores x maxPartitionBytes — a bounded shuffle that unlocks every
    core for a stage doing 100x its input bytes of work. Streaming
    frames (no .rdd) pass through untouched; all engine operators are
    partitioning-agnostic (order-proof aggregates discipline), so
    results are identical either way."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if n == 0 or n >= target:
        return df
    return df.repartition(target)
