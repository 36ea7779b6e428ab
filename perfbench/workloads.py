"""The workloads: inputs, one measured pass, and output checks.

A pass is one closed-loop sweep by a single client (this process):
each operation starts after the previous one returned. Operations are
timed with `time.perf_counter`; checks run outside the timed region.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb

from . import gen

FLOW_QUERIES = [
    "q_attrs_typed", "q_security_marking", "q_flow_flagship", "q_bin_geotile",
    "q_bin_failure_routing", "q_partial_update", "q_put_if_absent", "q_flow_routed",
    "q_stream_bin_flagship", "q_stream_store_merge",
]
CORPUS_QUERIES = [
    "q_dedup_exact", "q_dedup_ngram_jaccard", "q_dedup_near_clusters", "q_dedup_recall",
    "q_token_count_trained",
]
# Sizes are chosen so that set-up, a warm-up pass and the measured
# window fit the per-run time budget on a 4-core machine; see
# perfbench/design.json for the measured pass times.
FLOW_SIZES = gen.FlowSizes(events=25_000, orders=37_500, customers=3_750)
CORPUS_SIZES = gen.CorpusSizes(documents=300, boilerplate_docs=25)


def _span(tracer, layer: str, name: str):
    return tracer.span(layer, name) if tracer is not None else nullcontext()


@dataclass
class Op:
    kind: str
    name: str
    seconds: float
    ok: bool = True
    error: str | None = None


@dataclass
class PassResult:
    seconds: float
    ops: list[Op] = field(default_factory=list)
    traced: bool = False
    trace: tuple = ()  # (spans, SQL executions) of a traced pass


class _Collected:
    """Rows already collected from a frame, shaped for
    `tests.conftest.assert_matches_oracle` (schema, columns, collect)."""

    def __init__(self, df, rows):
        self.schema = df.schema
        self.columns = df.columns
        self._rows = rows

    def collect(self):
        return self._rows


class QueryWorkload:
    """Runs registry queries; the action is a noop write."""

    def __init__(self, name: str, queries: list[str]):
        self.name = name
        self.queries = queries
        self.props: dict = {}
        self.data_dir = ""
        self.duck = None
        self.failed_checks: dict[str, str] = {}
        self.result_rows: dict[str, list] = {}

    def generate(self, out_dir: str, seed: int) -> None:
        if self.name == "flow_batch":
            self.props = gen.gen_flow(out_dir, seed, FLOW_SIZES)
        else:
            self.props = gen.gen_corpus(out_dir, seed, CORPUS_SIZES)
        self.data_dir = out_dir

    def _oracle_db(self):
        from aces_nifi_processors_bundle_spark.sources.registry import TABLES

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con

    def check(self, spark, name: str, df, rows) -> str | None:
        """Compare collected rows with the DuckDB oracle, type-strict.
        Returns the mismatch message, or None when they agree."""
        from aces_nifi_processors_bundle_spark.plans.oracles import ORACLES
        from tests.conftest import assert_matches_oracle

        if self.duck is None:
            self.duck = self._oracle_db()
        try:
            assert_matches_oracle(_Collected(df, rows), self.duck, ORACLES[name])
        except AssertionError as e:
            return str(e)[:500]
        return None

    def warm_up(self, spark) -> float:
        """First pass: each query collected and checked against its
        oracle. Returns the program's time (checks excluded)."""
        from aces_nifi_processors_bundle_spark.plans.registry import QUERIES

        prog = 0.0
        for name in self.queries:
            spark.catalog.clearCache()
            t = time.perf_counter()
            try:
                df = QUERIES[name](spark, self.data_dir)
                rows = df.collect()
            except Exception as e:  # a failing query is a failed check
                self.failed_checks[name] = f"{type(e).__name__}: {e}"[:500]
                prog += time.perf_counter() - t
                continue
            prog += time.perf_counter() - t
            self.result_rows[name] = rows
            err = self.check(spark, name, df, rows)
            if err is not None:
                self.failed_checks[name] = err
        return prog

    def run_pass(self, spark, tracer) -> PassResult:
        from aces_nifi_processors_bundle_spark.plans.registry import QUERIES

        res = PassResult(0.0)
        for name in self.queries:
            spark.catalog.clearCache()
            t = time.perf_counter()
            op = Op("query", name, 0.0)
            try:
                with _span(tracer, "plans", name):
                    df = QUERIES[name](spark, self.data_dir)
                with _span(tracer, "action", name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted, and the pass goes on
                op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
            op.seconds = time.perf_counter() - t
            if name in self.failed_checks:
                op.ok, op.error = False, self.failed_checks[name]
            res.ops.append(op)
        res.seconds = sum(op.seconds for op in res.ops)
        return res

    def pairs_out(self) -> int:
        """Pairs the pair-producing queries emitted (from the checked
        warm-up results)."""
        n = len(self.result_rows.get("q_dedup_ngram_jaccard", []))
        for r in self.result_rows.get("q_dedup_recall", []):
            n += int(r["n_exact"]) + int(r["n_approx"])
        return n

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
