"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}. The full per-query map also goes to
bench_logs/sweep_<UTC start>_p<pid>_c<SPARK_GRAFT_CPUS>.json, with
the janino compiles of each query's first run ("compiles").

Each query is fully materialized through the built-in `noop` sink —
unlike count(), noop cannot let Catalyst prune the projected columns
away, so projection-only queries are timed honestly."""

from __future__ import annotations

import json
import os
import time

import pandas as pd

from aces_nifi_processors_bundle_spark.plans.registry import QUERIES
from aces_nifi_processors_bundle_spark.session import get_spark


def main() -> None:
    t_start = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        # derived fixture dirs carry suffixes (".scale/sf1-skew"):
        # take the leading numeric part, -1.0 when there is none.
        import re

        m = re.search(r"sf([0-9.]+)", sf_dir.rstrip("/").rsplit("/", 1)[-1])
        sf = float(m.group(1).rstrip(".")) if m else -1.0
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="aces-spark-bench")

    # SPARK_GRAFT_ONLY=q_a,q_b runs a subset (scale/skew probes time a
    # handful of queries against a derived dataset without paying for
    # the whole registry); unset = full registry, the driver contract.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    selected = dict(QUERIES)
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_ONLY: unknown queries {unknown}")
        selected = {n: QUERIES[n] for n in names}
    warm_up(spark, sf_dir, selected)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Janino compiles per query (pass 1), read from the JVM counter
    # before and after it: two reads, no Spark job.
    compiles: dict[str, int] = {}
    jvm_metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compile_count = jvm_metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount

    def _run_once(name: str, fn) -> float | None:
        # Timer wraps the query FUNCTION too, not just the final write:
        # the storage-backed queries (q_store_*) run their merge jobs
        # eagerly inside fn, and excluding that would under-report them.
        # One failing query must not abort the run — record the error
        # and keep timing the rest (BENCH_r02 died on a single query).
        n0 = compile_count()
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 - isolate per-query failures
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            return None
        finally:
            compiles.setdefault(name, compile_count() - n0)
            # Per-query cache isolation: queries that persist
            # intermediates (the near-dup family, store queries) would
            # otherwise leave their frames pinned in the block manager
            # for the REST of the run — 190 queries in, storage steals
            # enough unified memory that q_dedup_ngram_prefix measured
            # 142.7 s inside the full sweep vs 42.9 s in a fresh
            # session (sf1, same code). Clearing between queries makes
            # each timing a fresh-session-equivalent measurement.
            spark.catalog.clearCache()

    # Pass 1: every query once. Pass 2 (min-merge): the q_stream_*
    # family again, keeping the per-query MIN — the micro-batch
    # machinery (query start/stop, state-store init, file listing) is
    # the dominant cost there and the noisiest thing on this container
    # (BENCH_r07→r08 drifted ~15-30% on streams with zero code changes
    # behind it). min-of-2 is the SCALE.md paired-probe protocol;
    # non-stream queries stay single-run to keep the wall-clock of the
    # full 190+-query registry bounded.
    rerun_passes = int(os.environ.get("SPARK_GRAFT_STREAM_RUNS", "2"))
    # Hard wall-clock budget for the OPTIONAL rerun pass: the sweep
    # must never outgrow the driver's process timeout just to de-noise
    # stream timings. Reruns run noisiest-first and stop (recording
    # rerun_truncated) once the budget is spent; pass-1 coverage is
    # never sacrificed.
    rerun_budget_s = float(os.environ.get("SPARK_GRAFT_RERUN_BUDGET", "420"))
    for name, fn in sorted(selected.items()):
        t = _run_once(name, fn)
        if t is not None:
            timings[name] = t
    # The rerun budget is charged from the END of pass 1, not the start
    # of the sweep: BENCH_r11's pass 1 alone took 451 s on a
    # 222-query registry, so a start-of-sweep clock burned the entire
    # 420 s budget before a single rerun and every stream timing stayed
    # single-run (the "phantom streaming regression" of round 11). The
    # stream block itself is ~60 s at sf0.1, so a post-pass-1 clock
    # covers all of it with room to spare.
    t_rerun_start = time.perf_counter()
    rerun_truncated = False
    stream_names = [
        n for n in sorted(selected, key=lambda n: -timings.get(n, 0.0))
        if n.startswith("q_stream_") and n not in errors
    ]
    for name in stream_names:
        for _ in range(rerun_passes - 1):
            if time.perf_counter() - t_rerun_start > rerun_budget_s:
                rerun_truncated = True
                break
            t = _run_once(name, selected[name])
            if t is not None and t < timings.get(name, float("inf")):
                timings[name] = t
        if rerun_truncated:
            break
    total = round(sum(timings.values()), 3)
    # The driver keeps only the LAST ~2000 chars of output, and the
    # full per-query map outgrew that around round 2 (BENCH_r02..r07
    # all have "parsed": null). Print the full map first for humans /
    # logs, then a compact summary — guaranteed to fit the tail — as
    # the FINAL line, which is what the driver parses.
    full_record = {
        "metric": "headline_queries_total_time_full",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "sf": sf,
        "runs": rerun_passes,
        "rerun_truncated": rerun_truncated,
    }
    print(json.dumps(full_record))
    # Also persist the COMPLETE per-query map as a file artifact: the
    # summary line below keeps only the 10 slowest queries. Each run
    # writes its own file under bench_logs/ (next to bench.py, not
    # CWD), tagged with start time, pid and core count, so runs never
    # overwrite each other. Best-effort: a read-only checkout must not
    # fail the bench.
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    full_record["cpus"] = cpus
    full_record["compiles"] = compiles
    try:
        log_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_logs"
        )
        os.makedirs(log_dir, exist_ok=True)
        sweep_path = os.path.join(
            log_dir,
            f"sweep_{time.strftime('%Y%m%dT%H%M%S', time.gmtime(t_start))}"
            f"_p{os.getpid()}_c{cpus or 'na'}.json",
        )
        with open(sweep_path, "w") as fh:
            json.dump(full_record, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass
    summary = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # q_stream_* timings are min-of-`runs` (micro-batch machinery
        # noise dominates there); everything else is single-run.
        "runs": rerun_passes,
        "rerun_truncated": rerun_truncated,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": sorted(errors)[:5],
        # driver-schema "queries" key, trimmed to the 10 slowest so the
        # line stays well under the tail window
        "queries": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:10]
        ),
    }
    line = json.dumps(summary)
    if len(line) > 1800:  # never outgrow the driver's 2000-char tail
        summary["queries"] = {}
        line = json.dumps(summary)
    print(line)
    spark.stop()


def warm_up(spark, sf_dir: str, names) -> None:
    """Untimed jobs that warm the session before timing: the first job
    pays executor-pool spin-up, shuffle-service init, whole-stage-codegen
    JIT, and Arrow Python-worker spawn — one-time costs that would
    otherwise all land on whichever query sorts first (~8s observed on
    q_ann_topk). Steady-state per-query cost is the signal that scales.
    `names` are the queries about to be timed: the stream sources are
    staged only when one of them is a q_stream_* query."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def _warm_udf(v: pd.Series) -> pd.Series:
        return v * 1.0

    (
        spark.range(100_000)
        .select((F.col("id") * 1.0).alias("x"))
        .repartition(32)
        .select(_warm_udf(F.col("x")).alias("y"))
        .groupBy((F.col("y") % 7).cast("long"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # ...and the join/agg machinery the similarity queries hit first:
    # BroadcastExchange + ObjectHashAggregate (collect_list/array_sort).
    small = spark.range(100).select(F.col("id").alias("k"))
    (
        spark.range(100_000)
        .select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
        .join(F.broadcast(small), "k")
        .groupBy("k")
        .agg(F.slice(F.array_sort(F.collect_list(F.struct("v"))), 1, 5).alias("t"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # Stage the streaming sources: _table_stream copies a table to a
    # local staging dir once per (process, sf_dir) — shared test
    # plumbing, not operator cost. Without this the one-time copy
    # lands on whichever q_stream_* sorts first (~1.5s of parquet
    # rewrite billed to q_stream_bin_flagship in BENCH_r03).
    if any(n.startswith("q_stream_") for n in names):
        from aces_nifi_processors_bundle_spark.plans.queries import (  # noqa: PLC0415
            _table_stream,
        )

        for tbl in ("events", "documents", "embeddings"):
            _table_stream(spark, sf_dir, tbl)


if __name__ == "__main__":
    main()
