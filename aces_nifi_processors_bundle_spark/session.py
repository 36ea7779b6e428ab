"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set cluster-side: AQE on
(runtime shuffle coalescing + skew-join handling), shuffle partitions
sized to the parallelism at hand rather than the 200 default, UTC
session timezone (the reference renders all dates in GMT-0 —
BetterAttributesToJSON.java:59-60), and Arrow enabled for the few
Pandas-UDF paths (multimodal plumbing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "aces-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # If the process already has a session (an embedding notebook or
    # server), return it UNTOUCHED: builder.getOrCreate() would apply
    # every .config() below to the existing session's RuntimeConfig —
    # silently flipping the embedder's timezone/shuffle tuning and log
    # level. Engine correctness does not depend on session confs here:
    # sources/registry.load_table pins UTC and the nanos handling per
    # read. (getActiveSession is thread-local; also consult the
    # process-wide default.)
    pre = (
        SparkSession.getActiveSession()
        or getattr(SparkSession, "_instantiatedSession", None)
    )
    if pre is not None:
        # A caller who asked for specific tuning should LEARN it was
        # not applied (the embedder's settings win) instead of silently
        # debugging the wrong configuration.
        import warnings

        requested = {
            "app_name": None if app_name == "aces-spark-engine" else app_name,
            "master": master,
            "shuffle_partitions": shuffle_partitions,
            "extra_conf": extra_conf,
        }
        ignored = {k: v for k, v in requested.items() if v is not None}
        if ignored:
            warnings.warn(
                "get_spark: returning the pre-existing SparkSession; "
                f"requested settings NOT applied: {sorted(ignored)}",
                RuntimeWarning,
                stacklevel=2,
            )
        return pre
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Compiled-class cache (static: one per JVM). At the default
        # 100 entries, queries run in a cycle evict every class before
        # its reuse, so each repeat recompiles. One cold sweep of the
        # 241 registry queries at sf0.001 compiles ~3890 distinct
        # classes (sampled mean 2.5-3.6 KB of bytecode each; ~42 MB
        # more committed Metaspace than at 100 entries), so 4096
        # entries hold the working set.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
