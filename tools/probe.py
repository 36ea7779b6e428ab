"""Paired per-query probe for optimization work (round 14).

Runs the named registry queries N times each in ONE warmed session
(bench.py's warm_up jobs first), interleaved round-robin so container
drift hits every query equally, and reports per-query min — the
SCALE.md paired-probe protocol. Optionally dumps `explain("formatted")`
for each query to a directory (the plans/r14 evidence files).

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/probe.py \
      [--runs N] [--explain DIR] [--tag NAME] q_a q_b ...

Prints one JSON line {"tag":..., "runs":N, "queries":{name: min_sec},
"all": {name: [t1..tN]}} and appends it to bench_logs/probes.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aces_nifi_processors_bundle_spark.plans.registry import QUERIES
from aces_nifi_processors_bundle_spark.session import get_spark
from bench import warm_up


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="dir to write <query>.txt explain('formatted')")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for explain files (_before/_after)")
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra k=v Spark conf (repeatable)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="aces-probe", extra_conf=extra or None)
    warm_up(spark, sf_dir, args.names)

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in args.names:
            df = QUERIES[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(
                args.explain, f"{name}{args.suffix}.txt"
            ), "w") as f:
                f.write(txt)
            spark.catalog.clearCache()

    times: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(args.runs):
        for name in args.names:
            spark.sparkContext.setJobDescription(f"{args.tag}:{name}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times[name].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    out = {
        "tag": args.tag,
        "sf_dir": sf_dir,
        "runs": args.runs,
        "queries": {n: min(ts) for n, ts in times.items()},
        "all": times,
    }
    line = json.dumps(out)
    print(line)
    os.makedirs("bench_logs", exist_ok=True)
    with open("bench_logs/probes.jsonl", "a") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
