"""The benchmark's own tests: seeded inputs, output checks, and the
traced run's accounting. Run with

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload runs at reduced sizes on one shared SparkSession.
"""

from __future__ import annotations

import os
import threading

import pytest

from perfbench import gen, run, workloads
from perfbench.trace import Tracer

SMALL = {
    "FLOW_SIZES": gen.FlowSizes(events=3_000, orders=3_000, customers=500),
    "CORPUS_SIZES": gen.CorpusSizes(documents=200, vocab=500),
}


@pytest.mark.parametrize("fn,sizes", [
    (gen.gen_flow, SMALL["FLOW_SIZES"]),
    (gen.gen_corpus, SMALL["CORPUS_SIZES"]),
])
def test_same_seed_same_content_other_seed_other_content(tmp_path, fn, sizes):
    fn(str(tmp_path / "a"), 7, sizes)
    fn(str(tmp_path / "b"), 7, sizes)
    fn(str(tmp_path / "c"), 8, sizes)
    a, b, c = (gen.content_hash(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_boilerplate_shingles_are_the_hot_ones(tmp_path, seed):
    # each template family outgrows q_dedup_ngram_jaccard's max_df=20,
    # so the df prune drops its shingles and most of the pruned
    # sum(df^2) comes from the boilerplate, not the Zipf vocabulary
    sizes = workloads.CORPUS_SIZES
    plain = gen.gen_corpus(str(tmp_path / "a"), seed, gen.CorpusSizes(
        documents=sizes.documents, boilerplate_templates=0))["shingle_df"]
    hot = gen.gen_corpus(str(tmp_path / "b"), seed, sizes)["shingle_df"]
    assert hot["max"] > 20
    assert hot["over_max_df"] >= 10 * max(plain["over_max_df"], 1)
    assert hot["sum_df2_over_max_df"] >= 5 * plain["sum_df2_over_max_df"]


def test_exits_nonzero_without_the_engine(tmp_path):
    import shutil
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(here), "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "flow_batch",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("spark"))
    s = run.start_spark(scratch, len(os.sched_getaffinity(0)))
    yield s
    run.stop_spark(s)


@pytest.fixture
def small(monkeypatch):
    for k, v in SMALL.items():
        monkeypatch.setattr(workloads, k, v)


def _ready(name, spark, tmp_path):
    wl = run.make_workload(name)
    wl.generate(str(tmp_path / "in"), 3)
    wl.warm_up(spark)
    assert not wl.failed_checks, wl.failed_checks
    return wl


def test_perturbed_result_is_counted_failed(spark, small, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from aces_nifi_processors_bundle_spark.plans import registry

    real = registry.QUERIES["q_flow_flagship"]
    monkeypatch.setitem(registry.QUERIES, "q_flow_flagship",
                        lambda s, d: real(s, d).withColumn("total", F.col("total") + 1))
    wl = run.make_workload("flow_batch")
    wl.queries = ["q_flow_flagship", "q_flow_routed"]
    wl.generate(str(tmp_path / "in"), 3)
    wl.warm_up(spark)
    assert set(wl.failed_checks) == {"q_flow_flagship"}
    res = wl.run_pass(spark, None)
    assert [op.ok for op in res.ops] == [False, True]


def _traced(name, spark, tmp_path):
    wl = _ready(name, spark, tmp_path)
    tracer = Tracer(spark)
    progress = run.ProgressLog(spark)
    tracer.mark()
    try:
        res, lm = run.measured_pass(spark, wl, tracer, progress, True,
                                    threading.get_ident())
    finally:
        spark.streams.removeListener(progress.listener)
        wl.close()
    assert all(op.ok for op in res.ops), [op.error for op in res.ops]
    return res, lm


WORKLOADS = run.WORKLOADS


@pytest.fixture(scope="module")
def traced(spark, tmp_path_factory):
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        for k, v in SMALL.items():
            mp.setattr(workloads, k, v)
        for name in WORKLOADS:
            out[name] = _traced(name, spark, tmp_path_factory.mktemp(name))
    return out


@pytest.mark.parametrize("name", WORKLOADS)
def test_layer_self_times_sum_to_the_pass_wall(traced, name):
    res, lm = traced[name]
    from perfbench.trace import LAYERS

    total = sum(lm[f"{layer}.self_s"] for layer in LAYERS)
    # the pass wall also holds the benchmark's glue between spans
    # (clearCache, the registry lookup)
    assert total <= res.seconds
    assert total >= 0.9 * res.seconds - 0.05 * len(res.ops)


@pytest.mark.parametrize("name", WORKLOADS)
def test_every_per_layer_metric_is_reported(traced, name):
    _res, lm = traced[name]
    names = set(run.per_layer_names()) - {
        "pipeline.dedup.pairs_out", "pipeline.dedup.pair_yield", "tracing.overhead_frac",
    }  # filled from whole-run facts by per_layer()
    assert names <= set(lm)


def test_bypass_predictions(traced):
    _res, lm = traced["flow_batch"]
    touched = {k: v for k, v in lm.items()
               if k.startswith(("pipeline.dedup.", "pipeline.text.")) and v}
    assert not touched, touched
    assert lm["flows.calls"] > 0 and lm["stores.commit_s"] > 0
    _res, lm = traced["llm_curation"]
    stores = {k: v for k, v in lm.items() if k.startswith("stores.") and v}
    assert not stores, stores
    assert lm["pipeline.dedup.join_rows"] > 0 and lm["pipeline.text.calls"] > 0


def test_micro_batch_jobs_count_toward_streaming(traced):
    _res, lm = traced["flow_batch"]
    assert lm["streaming.batches"] > 0
    assert lm["streaming.jobs"] > 0
    assert lm["streaming.executor_run_s"] > 0
