"""Seeded, oracle-checked benchmark for the engine's workloads.

    python3 perfbench/run.py --workload flow_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs
from --seed, starts one SparkSession on local[<cores>], runs an untimed
warm-up pass whose outputs it checks against the DuckDB oracles, then
runs measured passes until --seconds have elapsed. The last line of
stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 passes
alternate untraced and traced, and the metrics are the per-layer ones
read from the traced passes. Everything it writes stays under
.perfbench/ in the checkout: scratch data (removed at exit) and run
artifacts tagged with workload, seed, core count and run id.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aces_nifi_processors_bundle_spark"
WORKLOADS = ["flow_batch", "llm_curation"]
# The engine's get_spark() defaults to an 8g driver heap. At 8g the heap
# keeps growing through the measured pass: on a 4-core machine five
# seeds gave quartile spreads of 0.28 (wall_s) and 0.27 (peak_rss_mb),
# against 0.06 and 0.11 at 1g, and runs took ~10% longer. The inputs
# are a few MB, so 1g never spills. See perfbench/design.json.
DRIVER_MEMORY = "1g"


def _pids(spark) -> list:
    return ["self", spark.sparkContext._gateway.proc.pid]


def reset_peak_rss(spark) -> None:
    """Collect garbage in both processes, then restart their peak-RSS
    counters at the current RSS, so set-up, warm-up and checks drop
    out."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(spark) -> list[float]:
    """Peak resident memory of this process and of the Spark JVM since
    the last `reset_peak_rss`."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return [hwm(pid) for pid in _pids(spark)]


def make_workload(name: str):
    from perfbench import workloads as w

    queries = w.FLOW_QUERIES if name == "flow_batch" else w.CORPUS_QUERIES
    return w.QueryWorkload(name, queries)


def start_spark(scratch: str, cores: int):
    """A session at the engine's own settings (get_spark) except for
    the driver heap, with every file it writes kept under `scratch`."""
    from aces_nifi_processors_bundle_spark.session import get_spark

    jtmp = os.path.join(scratch, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # no hsperfdata file (it would land in /tmp, outside the checkout)
    # from either the launcher JVM or the driver JVM; the launcher reads
    # SPARK_LAUNCHER_OPTS only while the gateway starts
    jvm_opts = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    saved = os.environ.get("SPARK_LAUNCHER_OPTS")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    try:
        return get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(scratch, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                "spark.driver.extraJavaOptions": jvm_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
    finally:
        if saved is None:
            del os.environ["SPARK_LAUNCHER_OPTS"]
        else:
            os.environ["SPARK_LAUNCHER_OPTS"] = saved


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class ProgressLog:
    """Run ids and micro-batch durations of every stream (installed
    for traced runs)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        runs = self.runs = set()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.add(str(event.runId))

            def onQueryProgress(self, event):
                events.append(event.progress.durationMs.get("triggerExecution", 0) / 1e3)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)


def layer_metrics(spans, jobs, execs, progress, main_thread: int) -> dict:
    """One traced pass's per-layer numbers."""
    from perfbench.trace import COMMON, LAYERS, MB, self_seconds

    by_id = {s.id: s for s in spans}
    self_s = self_seconds(spans)
    m = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in COMMON}
    for s in spans:
        m[f"{s.layer}.calls"] += 1
        m[f"{s.layer}.self_s"] += self_s[s.id]
    span_jobs: dict[int, list] = {}
    scan_b = scan_r = 0
    for j in jobs:
        scan_b += sum(st.input_bytes for st in j.stages)
        scan_r += sum(st.input_rows for st in j.stages)
        if j.span is not None and not j.stream:
            span_jobs.setdefault(j.span, []).append(j)
        if j.stream:
            layer = "streaming"
        elif j.span is not None:
            layer = by_id[j.span].layer
        else:
            continue
        m[f"{layer}.jobs"] += 1
        for st in j.stages:
            m[f"{layer}.executor_run_s"] += st.run_s
            m[f"{layer}.executor_cpu_s"] += st.cpu_s
            m[f"{layer}.shuffle_write_mb"] += st.shuffle_write / MB
            m[f"{layer}.spill_mb"] += st.spill / MB
    m["sources.scan_mb"] = scan_b / MB
    m["sources.scan_rows"] = float(scan_r)

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    # action extras
    pre = tasks = gc = shuf_r = 0.0
    for s in spans:
        if s.layer != "action":
            continue
        own = [j for sid in [s.id, *_descendants(s, by_id)] for j in span_jobs.get(sid, [])]
        if own:
            pre += max(0.0, min(j.submitted for j in own) - s.start)
        else:
            pre += s.end - s.start
        for j in own:
            for st in j.stages:
                tasks += st.tasks
                gc += st.gc_s
                shuf_r += st.shuffle_read
    m["action.pre_job_s"] = pre
    m["action.tasks"] = tasks
    m["action.gc_s"] = gc
    m["action.shuffle_read_mb"] = shuf_r / MB
    # SQL operators: Python UDF time under actions, join output rows of
    # queries that call into pipeline.dedup
    job_span = {j.id: j.span for j in jobs}
    dedup_queries = {root(s).name for s in spans if s.layer == "pipeline.dedup"}
    py = join_rows = 0.0
    for e in execs:
        sids = [job_span[j] for j in e["jobs"] if job_span.get(j) is not None]
        if not sids:
            continue
        top = root(by_id[sids[0]])
        e["span"], e["query"] = sids[0], top.name
        for op in e["ops"]:
            if top.layer == "action" and "Python" in op["op"]:
                py += op["time_s"]
            if "Join" in op["op"] and top.name in dedup_queries:
                join_rows += op["rows"]
    m["action.python_udf_s"] = py
    m["pipeline.dedup.join_rows"] = join_rows
    # streaming
    batch_s = sum(progress)
    callback_s = sum(s.end - s.start for s in spans
                     if s.thread != main_thread and s.parent is not None
                     and by_id[s.parent].thread == main_thread)
    m["streaming.batches"] = float(len(progress))
    m["streaming.batch_s"] = batch_s
    m["streaming.machinery_s"] = max(0.0, batch_s - callback_s) if progress else 0.0
    commit_s = sum(s.end - s.start for s in spans
                   if s.layer == "stores" and s.name in ("merge", "put_if_absent"))
    m["stores.commit_s"] = commit_s
    return m


def _descendants(s, by_id) -> list[int]:
    out = []
    stack = list(s.children)
    while stack:
        c = stack.pop()
        out.append(c)
        stack.extend(by_id[c].children)
    return out


def per_layer_names() -> list[str]:
    from perfbench.trace import COMMON, LAYERS

    names = [f"{layer}.{k}" for layer in LAYERS for k in COMMON]
    names += ["sources.scan_mb", "sources.scan_rows",
              "streaming.batches", "streaming.batch_s", "streaming.machinery_s",
              "stores.commit_s",
              "pipeline.dedup.join_rows", "pipeline.dedup.pairs_out", "pipeline.dedup.pair_yield",
              "action.pre_job_s", "action.tasks", "action.gc_s", "action.shuffle_read_mb",
              "action.python_udf_s", "tracing.overhead_frac"]
    return names


UNITS = {"calls": "count", "jobs": "count", "tasks": "count", "batches": "count",
         "scan_rows": "rows", "join_rows": "rows", "pairs_out": "rows"}


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf in UNITS:
        return UNITS[leaf]
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_s"):
        return "s"
    return "ratio"


def run(args, scratch: str, tag: str, cores: int, runs_dir: str) -> dict:
    from perfbench.gen import describe
    from perfbench.trace import Tracer

    wl = make_workload(args.workload)
    t0 = time.perf_counter()
    t_start = time.time()
    spark = start_spark(scratch, cores)
    session_s = time.perf_counter() - t0
    try:
        t = time.perf_counter()
        wl.generate(os.path.join(scratch, "input"), args.seed)
        generate_s = time.perf_counter() - t
        warm_s = wl.warm_up(spark)
        setup_s = session_s + generate_s + warm_s
        reset_peak_rss(spark)

        tracer = Tracer(spark) if args.trace else None
        progress = ProgressLog(spark) if args.trace else None
        if tracer:
            tracer.mark()
        main_thread = threading.get_ident()
        passes, layer_rows, pass_execs = [], [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            res, lm = measured_pass(spark, wl, tracer, progress, traced, main_thread)
            passes.append(res)
            if lm is not None:
                layer_rows.append(lm)
                pass_execs.append(res.trace)
            # traced runs go untraced, traced, ...: tracing.overhead_frac
            # needs at least one of each
            if time.perf_counter() >= deadline and len(passes) >= 1 + args.trace:
                break

        rss_mb = peak_rss_mb(spark)
        ops = [op for p in passes for op in p.ops]
        failed = sum(1 for op in ops if not op.ok)
        attempted = len(ops)
        errors = sorted({op.error for op in ops if op.error} | set(wl.failed_checks.values()))
        correct = failed == 0 and not wl.failed_checks
        untraced = [p.seconds for p in passes if not p.traced]
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(untraced), "s"),
            "peak_rss_mb": (sum(rss_mb), "MB"),
        }
        summary = {
            "run": tag, "workload": args.workload, "seed": args.seed, "cores": cores,
            "trace": args.trace, "passes": len(passes), "ops": len(ops),
            "session_s": session_s, "generate_s": generate_s,
            "peak_rss_python_jvm_mb": rss_mb,
            "warm_up_s": warm_s, "failed_frac": failed / max(attempted, 1),
            "errors": errors[:10], "inputs": json.loads(describe(wl.props)),
            "op_seconds": [[op.kind, op.name, op.seconds] for op in ops],
            "run_s": time.time() - t_start,
        }
        if args.trace:
            metrics = per_layer(wl, layer_rows, passes)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        summary["metrics"] = {k: v["value"] for k, v in metrics.items()}
        if args.trace:
            _write_spans(os.path.join(runs_dir, f"{tag}.spans.jsonl"), pass_execs)
        with open(os.path.join(runs_dir, f"{tag}.json"), "w") as f:
            json.dump(summary, f, indent=1, default=str)
        for k, (v, u) in e2e.items():
            print(f"{args.workload} {k} = {v:.4f} {u}", file=sys.stderr)
        print(f"{args.workload} failed_frac = {summary['failed_frac']:.4f}", file=sys.stderr)
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        wl.close()
        stop_spark(spark)


def measured_pass(spark, wl, tracer, progress, traced: bool, main_thread: int):
    """One pass; traced passes also return their per-layer numbers."""
    first_span = len(tracer.spans) if tracer else 0
    n_prog = len(progress.events) if progress else 0
    if traced:
        tracer.install()
    try:
        res = wl.run_pass(spark, tracer if traced else None)
    finally:
        if traced:
            tracer.uninstall()
    res.traced = traced
    if tracer is None:
        return res, None
    spans = tracer.spans[first_span:] if traced else []
    jobs = tracer.jobs_since_mark(spans, frozenset(progress.runs))
    execs = tracer.executions_since_mark()
    if not traced:
        return res, None
    res.trace = (spans, execs)
    lm = layer_metrics(spans, jobs, execs, progress.events[n_prog:], main_thread)
    return res, lm


def per_layer(wl, rows: list[dict], passes) -> dict:
    """Means over traced passes, plus the dedup pair counts."""
    names = per_layer_names()
    n = max(len(rows), 1)
    out = {k: sum(r.get(k, 0.0) for r in rows) / n for k in names}
    pairs, jr = float(wl.pairs_out()), out["pipeline.dedup.join_rows"]
    out["pipeline.dedup.pairs_out"] = pairs
    out["pipeline.dedup.pair_yield"] = pairs / jr if jr else 0.0
    traced = [p.seconds for p in passes if p.traced]
    untraced = [p.seconds for p in passes if not p.traced]
    out["tracing.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1.0
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def _write_spans(path: str, pass_execs) -> None:
    with open(path, "w") as f:
        for i, (spans, execs) in enumerate(pass_execs):
            for s in spans:
                f.write(json.dumps({"pass": i, "span": s.id, "parent": s.parent,
                                    "layer": s.layer, "name": s.name, "start": s.start,
                                    "end": s.end, "thread": s.thread}) + "\n")
            for e in execs:
                top = sorted(e["ops"], key=lambda o: -o["time_s"])[:5]
                f.write(json.dumps({"pass": i, "execution": e["execution"],
                                    "span": e.get("span"), "query": e.get("query"),
                                    "top_ops": top}) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "conftest.py")
    ):
        print(f"error: {ROOT} holds no {PKG} package and tests/conftest.py; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-c{cores}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, "tmp", tag)
    runs_dir = os.path.join(base, "runs")
    os.makedirs(scratch)
    os.makedirs(runs_dir, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    try:
        result = run(args, scratch, tag, cores, runs_dir)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
