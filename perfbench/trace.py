"""Per-layer tracing installed from outside the engine package.

Spans are opened around calls into each layer's public functions by
swapping the module attributes for thin wrappers (and restoring them
afterwards); no engine file changes. Each span sets a Spark job group
on entry, so the jobs it submits carry its id. Jobs the streaming
engine submits from its own threads carry the stream's run id instead;
those count toward the `streaming` layer (and, for span-level figures,
toward the innermost span open when they were submitted). Stage and
SQL-operator metrics come from Spark's status stores, read after the
pass.

The benchmark is one closed-loop client: while the main thread waits
on a stream, only the stream's foreachBatch callback runs, so one span
stack serves both threads.
"""

from __future__ import annotations

import importlib
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "aces_nifi_processors_bundle_spark"

# layer -> (module, public functions timed). `plans` (registry query
# functions) and `action` (the write or collect that runs a plan) are
# opened by the benchmark itself around its own calls.
LAYER_FUNCS: dict[str, list[tuple[str, list[str]]]] = {
    "sources": [
        ("sources.registry", ["load_table"]),
        ("sources.flowfile", ["read_jsonl", "parse_content", "parse_content_auto",
                              "attributes_to_columns"]),
    ],
    "operators": [
        ("operators.attributes_to_json", ["attributes_to_json"]),
        ("operators.security_marking", ["convert_security_marking"]),
        ("operators.binning", ["bin_count", "bin_records", "bin_json_flowfiles"]),
        ("operators.partial_update", ["partial_update"]),
        ("operators.put_if_absent", ["put_if_absent"]),
        ("operators.routing", ["route_by"]),
    ],
    "flows": [("flows", ["build_flow"])],
    "streaming": [
        ("streaming.binning_stream", ["foreach_batch_merge", "stream_bin_count",
                                      "stream_bin_count_global"]),
    ],
    "pipeline.dedup": [
        ("pipeline.dedup", ["dedup_exact", "exact_dup_groups", "near_dup_pairs_ngram",
                            "near_dup_pairs_minhash", "near_dup_clusters",
                            "dedup_recall_report"]),
    ],
    "pipeline.text": [
        ("pipeline.text", ["shingle_rows", "bpe_train_collected", "bpe_token_counts",
                           "bpe_encode"]),
    ],
}
STORE_METHODS = ["init", "merge", "put_if_absent", "read", "diff", "history", "compact"]
LAYERS = ["plans", "sources", "operators", "flows", "streaming", "stores",
          "pipeline.dedup", "pipeline.text", "action"]
COMMON = ["calls", "self_s", "jobs", "executor_run_s", "executor_cpu_s",
          "shuffle_write_mb", "spill_mb"]
MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    depth: int
    thread: int
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


@dataclass
class StageRow:
    tasks: int
    run_s: float
    cpu_s: float
    input_bytes: int
    input_rows: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    gc_s: float


@dataclass
class JobRow:
    id: int
    span: int | None
    submitted: float
    stages: list[StageRow]
    stream: bool = False  # a micro-batch job of a streaming query


class Tracer:
    """Span stack plus status-store readers for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._last_job = -1
        self._last_exec = -1

    # --- spans ---------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(len(self.spans), parent.id if parent else None, layer, name,
                     len(self._stack), threading.get_ident(), time.time())
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s.id)
            self._stack.append(s)
        self.sc.setJobGroup(f"pb{s.id}", f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s)
            if parent is not None:
                self.sc.setJobGroup(f"pb{parent.id}", f"{parent.layer}:{parent.name}")
            else:
                self.sc._jsc.clearJobGroup()

    def _wrap(self, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced

    def install(self) -> None:
        """Swap every reference to a timed function inside the package
        (including names other modules imported) for a span wrapper."""
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for layer, entries in LAYER_FUNCS.items():
            for mod_name, names in entries:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for name in names:
                    orig = getattr(mod, name)
                    wrapped = self._wrap(layer, orig)
                    for m in mods:
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                self._patches.append((m, attr, orig))
                                setattr(m, attr, wrapped)
        from aces_nifi_processors_bundle_spark.stores.keyed_table import KeyedParquetStore
        for name in STORE_METHODS:
            orig = getattr(KeyedParquetStore, name)
            self._patches.append((KeyedParquetStore, name, orig))
            setattr(KeyedParquetStore, name, self._wrap("stores", orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    # --- status stores ---------------------------------------------------

    def drain(self) -> None:
        """Wait until every listener (status stores, stream progress)
        has seen the events posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _innermost_at(self, t: float, spans: list[Span]) -> Span | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.depth > best.depth):
                best = s
        return best

    def jobs_since_mark(self, spans: list[Span], stream_runs=frozenset()) -> list[JobRow]:
        """Jobs submitted since the last call, each with its span and
        its stages' metrics. `stream_runs` holds the run ids of the
        streaming queries started meanwhile."""
        self.drain()
        store = self._jsc.statusStore()
        stage_seq = store.stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0),
                                    self._gw.jvm.java.util.ArrayList())
        stages: dict[int, StageRow] = {}
        for i in range(stage_seq.size()):
            sd = stage_seq.apply(i)
            stages[sd.stageId()] = StageRow(
                tasks=sd.numTasks(), run_s=sd.executorRunTime() / 1e3,
                cpu_s=sd.executorCpuTime() / 1e9, input_bytes=sd.inputBytes(),
                input_rows=sd.inputRecords(), shuffle_write=sd.shuffleWriteBytes(),
                shuffle_read=sd.shuffleReadBytes(), spill=sd.diskBytesSpilled(),
                gc_s=sd.jvmGcTime() / 1e3,
            ) if str(sd.status().toString()) != "SKIPPED" else StageRow(0, 0, 0, 0, 0, 0, 0, 0, 0)
        by_id = {s.id: s for s in spans}
        out = []
        seq = store.jobsList(None)
        newest = self._last_job
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            sub = j.submissionTime()
            t = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            grp = j.jobGroup()
            grp = grp.get() if grp.isDefined() else ""
            span = None
            if re.fullmatch(r"pb\d+", grp):
                span = by_id.get(int(grp[2:]))
            if span is None:
                span = self._innermost_at(t, spans)
            ids = j.stageIds()
            out.append(JobRow(jid, span.id if span else None, t,
                              [stages[ids.apply(k)] for k in range(ids.size())
                               if ids.apply(k) in stages],
                              stream=grp in stream_runs))
        self._last_job = newest
        return out

    def executions_since_mark(self) -> list[dict]:
        """SQL executions since the last call: their job ids and, per
        physical operator, summed timing metrics and output rows."""
        self.drain()
        sq = self.spark._jsparkSession.sharedState().statusStore()
        seq = sq.executionsList()
        out = []
        newest = self._last_exec
        for i in range(seq.size()):
            e = seq.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            jobs_map = e.jobs()
            job_ids = [int(k) for k in re.findall(r"(\d+) ->", jobs_map.toString())]
            values = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes()
            ops = []
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                time_s, rows = 0.0, 0
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.metricType() in ("timing", "nsTiming"):
                        time_s += _total_seconds(v.get())
                    elif m.name() == "number of output rows":
                        rows += _total_count(v.get())
                ops.append({"op": node.name(), "time_s": round(time_s, 4), "rows": rows})
            out.append({"execution": eid, "jobs": job_ids, "ops": ops})
        self._last_exec = newest
        return out

    def mark(self) -> None:
        """Forget everything submitted so far."""
        self.jobs_since_mark([])
        self.executions_since_mark()


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _total_seconds(text: str) -> float:
    """First value of a rendered SQL timing metric ('total (...)\\n1.2 s
    (...)' or a bare '35 ms')."""
    m = re.search(r"([\d.,]+) (ns|ms|s|m|h)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _total_count(text: str) -> int:
    m = re.search(r"[\d,]+", text.split("\n")[-1])
    return int(m.group(0).replace(",", "")) if m else 0


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover."""
    by_id = {s.id: s for s in spans}
    return {s.id: (s.end - s.start) - sum(by_id[c].end - by_id[c].start for c in s.children)
            for s in spans}
