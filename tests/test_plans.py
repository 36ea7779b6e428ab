"""Physical-plan audits: the properties the 100 TB story depends on.

Correctness says the result is right at sf0.01; these tests pin the
SHAPE of the plan — filter/column pushdown reaching the parquet scan,
broadcasts where a small side exists, exchange reuse on self-joins, and
the absence of the two scale-killers (CartesianProduct between large
sides, row-at-a-time Python UDFs). A regression here can stay green on
every value check and still be 100x slower at scale.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aces_nifi_processors_bundle_spark.sources.registry import load_table

from .conftest import plan_of


def _scan_lines(plan: str, token: str) -> list[str]:
    return [ln for ln in plan.splitlines() if token in ln]


def test_filter_and_column_pushdown_reach_scan(spark, sf_dir):
    """A filtered 2-column projection must push both the predicate and
    the schema into the parquet scan itself."""
    df = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "label")
    )
    plan = plan_of(df)
    pushed = _scan_lines(plan, "PushedFilters")
    assert pushed and "LessThan(vec_id" in pushed[0]
    schema = _scan_lines(plan, "ReadSchema")
    assert schema and "embedding" not in schema[0]  # 64-float col pruned


def test_lang_id_scan_prunes_unused_document_columns(spark, sf_dir):
    """q_lang_id only needs doc_id+text(+lang label col it outputs) —
    the scan must not read source/n_chars."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_lang_id

    plan = plan_of(q_lang_id(spark, sf_dir))
    schema = _scan_lines(plan, "ReadSchema")
    assert schema
    assert "n_chars" not in schema[0] and "source" not in schema[0]


def test_brute_force_broadcasts_queries_never_shuffles_corpus(spark, sf_dir):
    """The cross join must be broadcast-nested-loop with the SMALL
    (query) side broadcast; the corpus never moves."""
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5))
    assert "BroadcastNestedLoopJoin" in plan and "BuildLeft" in plan
    assert "CartesianProduct" not in plan


def test_embedding_near_dups_reuses_sketch_exchange(spark, sf_dir):
    """Both sides of the band self-join come from one sketch plan; the
    exchange must be computed once and reused, not duplicated (the
    Arrow sketch pass is the expensive stage)."""
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        embedding_near_dups,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    df = embedding_near_dups(emb, dim=64, threshold=0.8)
    # AQE resolves exchange reuse at runtime: collect() executes THIS
    # DataFrame's own QueryExecution (a write would make a new one),
    # after which the final adaptive plan is readable.
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan


def test_partial_update_broadcasts_small_source(spark, sf_dir):
    """A small update batch against a large target should broadcast the
    source side of the merge join (AQE or static), never shuffle the
    target for nothing. With both sides unsized statically we at least
    pin that the plan is an equi-join, not nested-loop."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_partial_update

    plan = plan_of(q_partial_update(spark, sf_dir))
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan
    assert "NestedLoop" not in plan


@pytest.mark.parametrize("gran", ["DAY"])
def test_bin_count_has_partial_aggregation(spark, sf_dir, gran):
    """The downstream counter must partial-aggregate map-side
    (HashAggregate appears twice: partial then final) — the NiFi
    emit-count-1-records pattern replaced by Spark's two-phase agg."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_bin_flagship

    plan = plan_of(q_bin_flagship(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_ngram_inverted_index_is_equi_join(spark, sf_dir):
    """The n-gram candidate self-join must be an equi-join on the
    shingle (hash/sort-merge), never a nested loop. The df prune takes
    each index row's df from a count window over its shingle, with no
    join: the pairing keeps rows at _df <= max_df, and the per-doc
    size aggregate collects the hashes of the pruned ("hot") ones."""
    import re

    from aces_nifi_processors_bundle_spark.plans.queries import (
        q_dedup_ngram_jaccard,
    )

    plan = plan_of(q_dedup_ngram_jaccard(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "LeftSemi" not in plan
    assert re.search(
        r"count\(1\) windowspecdefinition\(shingle#\d+, .*\) AS _df#", plan
    )
    assert re.search(r"Condition : \(_df#\d+L <= 20\)", plan)
    assert re.search(
        r"collect_set\(CASE WHEN _hot#\d+ THEN xxhash64\(shingle#\d+, 42\)"
        r" END", plan
    )


def test_counted_ngram_and_recall_verify_nothing(spark, sf_dir):
    """Unpruned n-gram Jaccard takes |A∩B| from the index join's row
    count: its optimized plan has no array_intersect verify and no
    cached frame. The recall report verifies its banded candidates by
    a semi-join to those exact pairs, so it has no verify either."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        near_dup_pairs_ngram,
    )
    from aces_nifi_processors_bundle_spark.plans.queries import q_dedup_recall

    docs = load_table(spark, sf_dir, "documents")
    for df in (near_dup_pairs_ngram(docs, k=3, threshold=0.5),
               q_dedup_recall(spark, sf_dir)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "array_intersect" not in plan
        assert "InMemoryRelation" not in plan


def test_profile_approx_sketch_merges_map_side(spark, sf_dir):
    """percentile_approx must run as a two-phase (partial + final)
    aggregate — the sketch merges map-side, which is the whole point
    of the huge-group variant."""
    from aces_nifi_processors_bundle_spark.plans.queries import (
        q_profile_values_approx,
    )

    plan = plan_of(q_profile_values_approx(spark, sf_dir))
    assert plan.count("ObjectHashAggregate") >= 2


def test_equidepth_methods_agree_on_distinct_values(spark):
    """On all-distinct values with group sizes divisible by the bucket
    count, the exact (ntile) and approx (boundary-assignment)
    strategies produce identical histograms below the sketch's exact
    threshold (with a remainder they allocate it differently — ntile
    front-loads, rank boundaries interleave); auto picks exact under
    the row threshold and approx above it."""
    from pyspark.sql import functions as F

    from aces_nifi_processors_bundle_spark.pipeline.reports import (
        equidepth_histogram,
    )

    df = spark.range(900).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 7 % 1009).cast("double").alias("v"),
        F.col("id").alias("rid"),
    )
    exact = sorted(
        map(tuple, equidepth_histogram(df, "g", "v", 10, "rid", "exact").collect())
    )
    approx = sorted(
        map(tuple, equidepth_histogram(df, "g", "v", 10, method="approx").collect())
    )
    assert exact == approx

    # auto: threshold above group size → exact path; below → approx
    lo = sorted(map(tuple, equidepth_histogram(
        df, "g", "v", 10, "rid", "auto", exact_max_group_rows=10_000).collect()))
    hi = sorted(map(tuple, equidepth_histogram(
        df, "g", "v", 10, "rid", "auto", exact_max_group_rows=10).collect()))
    assert lo == exact and hi == approx


def test_sessionize_is_single_shuffle(spark, sf_dir):
    """Both sessionize windows (lag + running sum) must share ONE
    user partitioning — exactly one hash exchange in the plan."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_sessionize

    plan = plan_of(q_sessionize(spark, sf_dir), mode="simple")
    # both windows AND the final agg reuse ONE user partitioning
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_funnel_plan_no_per_row_reexecution(spark, sf_dir):
    """The per-step report must come from ONE counts row exploded —
    not a union of N selects that re-executes the funnel chain N
    times; and per-step aggregations group on the bare user key so
    they share a partitioning."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_funnel

    plan = plan_of(q_funnel(spark, sf_dir), mode="simple")
    # one global aggregate, not one per step
    assert plan.count("Exchange SinglePartition") == 1
    # 3 steps -> at most one user-key exchange per step
    assert plan.count("Exchange hashpartitioning") <= 3


def test_explicit_broadcasts_survive_threshold_change(spark, sf_dir):
    """CLUSTER.md contract: every intended broadcast is an explicit
    F.broadcast() hint, so re-tuning spark.sql.autoBroadcastJoinThreshold
    on a real cluster (including -1) must NOT flip these plans to
    shuffle joins. Checks the three broadcast-by-design operators:
    brute-force top-k's query side, salted_join's hot-key set, and
    ivf_topk's probe frame."""
    from aces_nifi_processors_bundle_spark.operators.joins import salted_join
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    dim = events.groupBy("user_id").agg(F.count("*").alias("n"))
    queries = emb.filter(F.col("vec_id") < 3)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for df in (
            brute_force_topk(emb, queries, k=3),
            salted_join(events, dim, on="user_id",
                        hot_keys=list(range(5)), n_salts=4),
            ivf_topk(emb, queries, dim=64, k=3, n_centroids=16, n_probe=4),
        ):
            plan = plan_of(df, mode="simple")
            assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_frequent_keys_reuses_counts_exchange(spark, sf_dir):
    """frequent_keys computes per-key counts AND their one-row total
    from the same aggregation subtree; at runtime AQE must reuse the
    counts exchange instead of scanning the input twice (one pass over
    the events at 100 TB, not two)."""
    from aces_nifi_processors_bundle_spark.pipeline.reports import frequent_keys

    df = frequent_keys(
        load_table(spark, sf_dir, "events"), "user_id", min_count=1
    )
    df.collect()  # AQE resolves reuse at runtime
    plan = plan_of(df, mode="simple")
    assert "ReusedExchange" in plan


def test_sessionize_chunked_summary_scan_is_narrow(spark, sf_dir):
    """The chunked-sessionize summary branch re-executes the source,
    but column pruning must cut its scan to the session-boundary
    columns (user + timestamp) — a narrow columnar re-scan, never a
    second full-width pass."""
    from aces_nifi_processors_bundle_spark.pipeline.reports import sessionize

    events = load_table(spark, sf_dir, "events")  # 6 columns wide
    df = sessionize(events, chunk_sec=86400, tie_col="event_id")
    plan = plan_of(df)
    schemas = _scan_lines(plan, "ReadSchema")
    assert len(schemas) >= 2  # event branch + summary branch
    narrow = [s for s in schemas if "ts" in s and "props" not in s
              and "event_type" not in s and "value" not in s]
    assert narrow, schemas  # at least one branch pruned to the bare columns


def test_rolling_aggregates_single_exchange_single_sort(spark, sf_dir):
    """All four trailing-window aggregates must ride ONE window spec:
    one hash exchange on the key, one sort, one Window node — not one
    pass per aggregate."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        rolling_aggregates,
    )

    events = load_table(spark, sf_dir, "events")
    # simple mode: formatted repeats each node in its details section,
    # which would double-count the Window line.
    plan = plan_of(
        rolling_aggregates(events, "user_id", "ts", "value", 3600), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert len(_scan_lines(plan, "+- Window")) == 1


def test_anomaly_stats_broadcast_not_windowed(spark, sf_dir):
    """Group stats must come back via a broadcast join of the tiny
    (n, S1, S2) frame — a window over event_type would put each whole
    group in one task at scale."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        anomaly_flags,
    )

    events = load_table(spark, sf_dir, "events")
    plan = plan_of(anomaly_flags(events, "event_type", "value", k=3))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_resample_grid_adds_no_extra_exchange(spark, sf_dir):
    """The sequence()+explode grid and the observed-bucket aggregate
    both key on user_id; the grid join must not introduce a third
    hash exchange beyond the aggregate's and the join's."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        resample_gapfill,
    )

    events = load_table(spark, sf_dir, "events")
    plan = plan_of(
        resample_gapfill(events, "user_id", "ts", "value", 21600, "ffill")
    )
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_validate_row_checks_share_one_aggregate(spark, sf_dir):
    """Eight constraints, but row/unique checks ride ONE aggregate
    over ONE scan of orders; the FK adds a second orders scan
    (anti-join probe) and min_group_size a third (its own
    group-cardinality-sized aggregate). More scans than that means
    the suite degenerated into per-constraint jobs."""
    from aces_nifi_processors_bundle_spark.plans.queries import (
        q_validate_orders,
    )

    plan = plan_of(q_validate_orders(spark, sf_dir))
    n_orders = sum(
        "orders.parquet" in ln for ln in _scan_lines(plan, "Location:")
    )
    assert n_orders == 3, (
        f"expected 3 orders scans (shared agg + FK + group), got {n_orders}"
    )
    assert "BroadcastHashJoin" in plan  # FK anti-join builds customer side


def test_corr_matrix_single_scan_single_aggregate(spark, sf_dir):
    """The whole k-column matrix must be ONE scan + one partial/final
    aggregate pair — not a job per pair like df.stat.corr."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_corr_matrix

    plan = plan_of(q_corr_matrix(spark, sf_dir))
    n_scans = sum(
        "lineitem.parquet" in ln for ln in _scan_lines(plan, "Location:")
    )
    assert n_scans == 1
    # simple mode: formatted repeats each node in its details section
    simple = plan_of(q_corr_matrix(spark, sf_dir), "simple")
    assert simple.count("HashAggregate") == 2  # partial + final


def test_classifier_no_window_one_hash_exchange(spark, sf_dir):
    """Feature extraction is regex-only: no Window, no sort; the one
    hash exchange is the per-doc logit aggregate, and the weight
    vector arrives as a broadcast."""
    from aces_nifi_processors_bundle_spark.pipeline.classify import (
        hash_weights,
        linear_text_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(
        linear_text_classifier(docs, hash_weights(spark, 4096), n_buckets=4096),
        "simple",
    )
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan


def test_mad_medians_broadcast_not_windowed_over_rows(spark, sf_dir):
    """Both median stats frames come back via broadcast joins; the
    only Window operators run over HISTOGRAM rows (value counts), and
    their partition keys are the group alone — never a whole-group
    window over the raw events."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import mad_flags

    events = load_table(spark, sf_dir, "events")
    plan = plan_of(mad_flags(events, "event_type", "value", k=3))
    assert plan.count("BroadcastHashJoin") >= 2
    # windows exist (rank walk) but only downstream of the value
    # histograms — those aggregates precede every Window node
    first_window = plan.find("Window")
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1 and first_window != -1


def test_cusum_sequential_single_exchange(spark, sf_dir):
    """The whole chart (cumsum + running min + threshold) must ride
    ONE key exchange of the scoring rows with ONE sort shared by both
    windows; the only other hash exchange is the group-cardinality
    training aggregate, which broadcasts. The train/score date bounds
    must push to the scan."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        cusum_flags,
    )

    events = load_table(spark, sf_dir, "events")
    plan = plan_of(
        cusum_flags(events, "event_type", "ts", "value", "2024-01-10",
                    h_cents=25000, slack_cents=2500),
        "simple",
    )
    assert plan.count("Exchange hashpartitioning") == 2  # rows + train agg
    assert plan.count("+- Sort") == 1  # both windows share it
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(ts," in plan  # score bound at the scan


def test_pq_adc_broadcast_tables_no_window(spark, sf_dir):
    """The ADC scan must join the broadcast distance tables and rank
    via the salted two-phase aggregate — no per-query window sort of
    the scored rows."""
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        pq_topk,
        pq_train,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, dim=64, m=8, ksub=16, n_iter=1)
    plan = plan_of(
        pq_topk(emb, emb.filter(F.col("vec_id") < 4), dim=64, codebooks=cb)
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_join_side_exchange(spark, sf_dir):
    """write_bucketed pays the shuffle at write time; the join of two
    co-bucketed tables must then plan WITHOUT a join-side exchange
    even when broadcast is impossible. Only the tiny post-join
    groupBy(status) may shuffle."""
    import uuid

    from aces_nifi_processors_bundle_spark.pipeline.layout import write_bucketed

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sfx = uuid.uuid4().hex[:8]
    root = tempfile.mkdtemp(prefix="bucketed_plan_")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(o, f"bjt_o_{sfx}", f"{root}/o", "o_orderkey")
        write_bucketed(li, f"bjt_l_{sfx}", f"{root}/l", "l_orderkey")
        ot, lt = spark.table(f"bjt_o_{sfx}"), spark.table(f"bjt_l_{sfx}")
        j = lt.join(ot, lt.l_orderkey == ot.o_orderkey).select(
            "o_orderstatus", "l_extendedprice"
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # bucket pruning metadata actually reached the scan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan or "bucket" in plan.lower()
        # the same join on the unbucketed frames does shuffle
        unbucketed = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "o_orderstatus", "l_extendedprice"
        )
        assert "Exchange" in plan_of(unbucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS bjt_o_{sfx}")
        spark.sql(f"DROP TABLE IF EXISTS bjt_l_{sfx}")
        shutil.rmtree(root, ignore_errors=True)


def test_hll_sketch_single_exchange_on_register_key(spark, sf_dir):
    """The ONLY data shuffle in an HLL sketch+estimate is keyed by
    (groups, reg) — i.e. the state, never the raw keys; both hash
    aggregates show map-side partials."""
    from aces_nifi_processors_bundle_spark.pipeline.sketches import hll_distinct

    events = load_table(spark, sf_dir, "events")
    plan = plan_of(hll_distinct(events, "user_id", ["event_type"]))
    ex = _scan_lines(plan, "Exchange")
    # one exchange for (event_type, reg), one for the estimate's
    # groupBy(event_type) over <=64*5 state rows
    assert len([l for l in ex if "hashpartitioning" in l]) <= 2, plan
    assert "partial_max" in plan or "partial" in plan.lower(), plan


def test_zscore_broadcasts_stats_fact_never_shuffles(spark, sf_dir):
    from aces_nifi_processors_bundle_spark.pipeline.stats import zscore_normalize

    events = load_table(spark, sf_dir, "events")
    plan = plan_of(zscore_normalize(events, "event_type", "value", "event_id"))
    assert "BroadcastHashJoin" in plan, plan
    # the fact side reaches the join scan-direct: no hashpartitioning
    # exchange other than the tiny stats aggregate's
    fact_ex = [
        l for l in _scan_lines(plan, "Exchange hashpartitioning")
        if "event_id" in l
    ]
    assert not fact_ex, plan


def test_cms_estimate_broadcasts_sketch(spark, sf_dir):
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        cms_build,
        cms_estimate,
    )

    events = load_table(spark, sf_dir, "events")
    sk = cms_build(events, "user_id")
    keys = events.select("user_id").distinct().limit(10)
    plan = plan_of(cms_estimate(sk, keys, "user_id"))
    assert "BroadcastHashJoin" in plan, plan


def test_semantic_decontaminate_broadcasts_evals_not_corpus(spark, sf_dir):
    """The eval side must broadcast (BuildRight of the nested-loop);
    the corpus side streams — broadcasting the corpus would be the
    100 TB anti-pattern."""
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        semantic_decontaminate,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.where(F.col("vec_id") < 4)
    plan = plan_of(semantic_decontaminate(emb, evals, 0.5))
    assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan, plan
    assert "CartesianProduct" not in plan
    # best-of runs as the salted two-phase agg, not a row_number window
    assert "Window" not in plan, plan


def test_quality_buckets_no_fact_row_window_sort(spark, sf_dir):
    """The round-7 verdict's scale defect: ntile over
    Window.partitionBy(lang) sorted an entire language's corpus in one
    task. The threshold re-plan must show NO ntile anywhere, and every
    Window node must consume an aggregated (histogram / threshold)
    frame, never the raw per-doc rows — asserted here by requiring the
    plan's only Window inputs to sit above a HashAggregate."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_quality_buckets

    df = q_quality_buckets(spark, sf_dir)
    plan = plan_of(df)
    assert "ntile" not in plan.lower(), plan
    # the histogram walk's window runs over per-(lang, micro-score)
    # aggregate rows; a simple-string plan of the whole query must
    # still contain aggregates feeding any window
    simple = plan_of(df, mode="simple")
    if "Window" in simple:
        # every Window must have an Aggregate somewhere beneath it:
        # cheap structural check — the LAST Window occurrence is the
        # deepest; an Aggregate must appear after it in the plan text
        # (child nodes print below their parents in simple mode)
        tail = simple[simple.rindex("Window"):]
        assert "HashAggregate" in tail or "Aggregate" in tail, simple


def test_threshold_buckets_semantics(spark):
    """threshold_buckets: ntile boundary ranks, boundary ties take the
    better bucket, NULL values land in the worst bucket."""
    from pyspark.sql import Row

    from aces_nifi_processors_bundle_spark.pipeline.stats import (
        threshold_buckets,
    )

    # group g: values 6,5,4,3,2,1 -> n=6, boundaries ceil(6/3)=2nd
    # largest (5) and ceil(12/3)=4th largest (3): head={6,5},
    # middle={4,3}, tail={2,1}
    rows = [Row(g="g", v=i) for i in (6, 5, 4, 3, 2, 1)]
    out = threshold_buckets(
        spark.createDataFrame(rows), "g", "v", ("head", "middle", "tail")
    )
    got = {r["v"]: r["bucket"] for r in out.collect()}
    assert got == {6: "head", 5: "head", 4: "middle", 3: "middle",
                   2: "tail", 1: "tail"}

    # ties at the boundary all take the better bucket: 4,4,4,1,1,1 ->
    # s1 = 2nd largest = 4, s2 = 4th largest = 1; every 4 is head,
    # every 1 is middle, tail empty
    rows = [Row(g="t", v=x) for x in (4, 4, 4, 1, 1, 1)]
    out = threshold_buckets(
        spark.createDataFrame(rows), "g", "v", ("head", "middle", "tail")
    )
    got = sorted((r["v"], r["bucket"]) for r in out.collect())
    assert got == [(1, "middle")] * 3 + [(4, "head")] * 3

    # NULL values: excluded from rank math, land in the last bucket
    rows = [Row(g="n", v=x) for x in (3, 2, 1, None)]
    out = threshold_buckets(
        spark.createDataFrame(rows, "g string, v bigint"),
        "g", "v", ("head", "middle", "tail"),
    )
    got = {r["v"]: r["bucket"] for r in out.collect()}
    assert got[3] == "head" and got[2] == "middle" and got[1] == "tail"
    assert got[None] == "tail"


def test_kmv_sketch_window_is_pretrimmed(spark, sf_dir):
    """The KMV rank window must carry a WindowGroupLimit below the
    final exchange: each map task pre-trims to k rows, so the
    bottom-k gather is k-bounded however many distinct hashes exist."""
    from aces_nifi_processors_bundle_spark.pipeline.sketches import kmv_sketch

    sk = kmv_sketch(
        load_table(spark, sf_dir, "events"), "user_id", ["event_type"], k=64
    )
    plan = plan_of(sk)
    assert "WindowGroupLimit" in plan
    # the dedup stage must shuffle hashes, not raw keys: the exchange
    # carries the 60-bit h column
    assert "conv(substring(md5" in plan or "conv(substr" in plan


def test_seasonal_anomalies_broadcasts_slot_stats_no_window(spark, sf_dir):
    """Slot stats must come back as a broadcast join — never a window
    over the fact rows (a slot partition is unbounded at 100 TB)."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import (
        seasonal_anomalies,
    )

    df = seasonal_anomalies(
        load_table(spark, sf_dir, "events"), "ts", "value", "event_type", k=3
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_linear_trend_no_window_no_sort_of_rows(spark, sf_dir):
    """Trend = two hash aggregates; there must be no window and no
    per-row sort anywhere in the plan."""
    from aces_nifi_processors_bundle_spark.pipeline.timeseries import linear_trend

    df = linear_trend(
        load_table(spark, sf_dir, "events"), "ts", "value", "event_type"
    )
    plan = plan_of(df)
    assert "Window" not in plan
    # no orderBy is declared inside linear_trend itself (the registry
    # query adds its own .orderBy separately), so ANY Sort here is a
    # reintroduced per-row sort
    assert "Sort" not in plan
    assert "HashAggregate" in plan


def test_bm25_broadcasts_stats_and_prunes_nonmatching_docs(spark, sf_dir):
    """df/corpus stats must broadcast; the global top-k must be a
    per-task partial TakeOrdered, never a whole-frame single-partition
    window; nothing may go cartesian."""
    from aces_nifi_processors_bundle_spark.pipeline.text import bm25_topk

    df = bm25_topk(
        load_table(spark, sf_dir, "documents"), ["spark", "join"], k=5
    )
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # global top-k must be TakeOrderedAndProject (per-task partial
    # top-k) — the rank window then sees only k rows
    assert "TakeOrderedAndProject" in plan


def test_dpp_join_plans_runtime_partition_pruning(spark, sf_dir):
    """q_dpp_join's fact scan must carry a dynamicpruning subquery on
    the partition column: the Monday list is only known at runtime
    (it lives in the dim), so static pushdown cannot prune — DPP
    must."""
    from aces_nifi_processors_bundle_spark.plans.queries import q_dpp_join

    plan = plan_of(q_dpp_join(spark, sf_dir))
    assert "dynamicpruning" in plan
    assert "PartitionFilters" in plan


def test_fact_joins_are_runtime_bloom_filter_compatible(spark, sf_dir):
    """At 100 TB Spark injects a runtime bloom filter on the fact side
    of a selective shuffle join (default thresholds: 10 MB creation /
    10 GB application — far above local fixtures, so we force them).
    This pins that our canonical fact-join shape keeps the BARE join
    key on the fact side: wrapping it in any expression would silently
    disqualify the join from runtime filtering forever."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(j)
        assert "might_contain" in plan.lower(), (
            "runtime bloom filter not injected — the fact join key is "
            "no longer a bare column"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_temperature_mix_fact_side_never_shuffles(spark, sf_dir):
    """temperature_mix's scale contract: the doc-side work is a
    zero-shuffle broadcast-join + filter — the ONLY exchanges in the
    plan belong to the source-count-sized mass aggregate (and its
    one-row total). Asserted by requiring the rates side to arrive
    via BroadcastExchange and the fact side to carry no Sort at all."""
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        temperature_mix,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import word_count
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    out = temperature_mix(
        docs, "lang", word_count(F.col("text")), budget_tokens=3000
    )
    plan = plan_of(out, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Sort " not in plan, plan  # no sort anywhere: agg is hash-based


def test_tdigest_build_window_is_chunk_partitioned(spark, sf_dir):
    """The digest build's rank window must partition by the FULL
    (group, day) chunk key — a window partitioned by event_type alone
    would sort each type's entire fact history in one task (the
    round-7 ntile defect shape). Asserted on the window spec in the
    formatted plan."""
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        cluster_digest,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    cent = cluster_digest(
        events, "value", ["event_type", "day"], m=16, tie_col="event_id"
    )
    plan = plan_of(cent)
    win_lines = _scan_lines(plan, "row_number()")
    assert win_lines, plan
    for ln in win_lines:
        assert "event_type" in ln and "day" in ln, ln


def test_dedup_cap_rank_window_partitions_by_cluster(spark, sf_dir):
    """cap_duplicates' rank window partitions by cluster label (group
    sizes = near-dup family sizes, never corpus-sized) and its sort
    keys are the md5 draw + id — no full-corpus ordering anywhere."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        cap_duplicates,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], ["node", "cluster"]
    )
    out = cap_duplicates(docs, clusters, max_copies=2)
    plan = plan_of(out)
    lines = _scan_lines(plan, "row_number()")
    assert lines, plan
    for ln in lines:
        assert "cluster" in ln, ln


def test_dedup_cap_rank_window_is_pretrimmed(spark, sf_dir):
    """cap_duplicates' rank<=k filter must plan with WindowGroupLimit
    BOTH below and above the exchange (partial + final): a web-scale
    boilerplate family (10^8 near-identical docs in ONE cluster) then
    ships at most ~max_copies rows per map task instead of the whole
    family into a single window sort — the same pre-trim the KMV
    bottom-k relies on."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        cap_duplicates,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    clusters = spark.createDataFrame([(1, 1), (2, 1)], ["node", "cluster"])
    plan = plan_of(cap_duplicates(docs, clusters, max_copies=2))
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_substring_matches_run_window_is_pair_partitioned(spark, sf_dir):
    """substring_matches' islands-and-gaps window must partition by
    (pair, diagonal) — group sizes are one pair's shared anchors,
    never corpus-sized — and the plan must carry no single-partition
    exchange anywhere (no fact-row global sort: the scale contract of
    the anchor-join design vs the paper's suffix array)."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        substring_matches,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = substring_matches(docs, k=8, min_tokens=12)
    plan = plan_of(out)
    lines = _scan_lines(plan, "row_number()")
    assert lines, plan
    for ln in lines:
        assert "id_a" in ln and "id_b" in ln, ln
    simple = plan_of(out, mode="simple")
    assert "Exchange SinglePartition" not in simple, simple


def test_remove_duplicate_spans_windows_are_doc_partitioned(spark, sf_dir):
    """The repair's interval-merge windows partition by the doc id
    (group sizes = one doc's spans, never corpus-sized) and the plan
    carries no single-partition exchange — the repair inherits the
    matcher's scale contract."""
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        remove_duplicate_spans,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = remove_duplicate_spans(docs, k=8, min_tokens=12)
    plan = plan_of(out)
    # every window in the plan (matcher's run window + the interval
    # merge's running-max/island windows) must carry a partition spec
    assert "Window" in plan, plan
    simple = plan_of(out, mode="simple")
    assert "Exchange SinglePartition" not in simple, simple


def test_dsir_and_trained_bpe_count_plans_stay_jvm(spark, sf_dir):
    """The selection/tokenizer hot paths are pure column ops: no
    Python evaluation of any kind in either plan, and dsir's
    bucket-lambda table (1024 rows) joins as a broadcast."""
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        dsir_weights,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        bpe_token_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(dsir_weights(docs, docs.where("doc_id % 50 = 0")))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    plan2 = plan_of(
        bpe_token_counts(docs, merges=[("t", "h"), ("th", "e")])
    )
    assert "EvalPython" not in plan2
    # end-to-end selection inherits the same shape: the logistic
    # squash + hash membership are one codegen projection on top of
    # the weights plan — no new shuffle, no Python, still broadcast
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        dsir_select,
    )

    plan3 = plan_of(dsir_select(docs, docs.where("doc_id % 50 = 0")))
    assert "EvalPython" not in plan3
    assert "BroadcastHashJoin" in plan3
    # the id-level encode: still zero Python, and the vocabulary join
    # (alphabet + merges rows) rides a broadcast, never a shuffle
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        bpe_encode_ids,
    )

    plan4 = plan_of(
        bpe_encode_ids(docs, merges=[("t", "h"), ("th", "e")])
    )
    assert "EvalPython" not in plan4
    assert "BroadcastHashJoin" in plan4


def test_hash_topn_sample_is_take_ordered_not_global_sort(spark, sf_dir):
    """The absolute-budget sample (round 13) compiles to
    TakeOrderedAndProject — per-partition top-n heaps + one n-row
    driver merge — never a global sort shuffle; and the round-13
    materialize path stays JVM-side with no window/sort beyond the
    pack plan's own sharded prefix sum."""
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        hash_topn_sample,
        pack_materialize,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    df = hash_topn_sample(docs, "doc_id", 7, "s")
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # materialize: join + projection only — no Python, no new sort
    tokens = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 11)], "doc_id long, pos long, token_id long"
    )
    counts = spark.createDataFrame([(1, 2)], "doc_id long, _nt long")
    mat = pack_materialize(
        tokens,
        pack_sequences(counts, "_nt", 5, id_cols=["doc_id"], n_shards=2),
        5,
    )
    mplan = plan_of(mat)
    assert "EvalPython" not in mplan
    assert "TakeOrderedAndProject" not in mplan  # no driver funnel


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's CodegenMetrics)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_run_compiles_no_new_classes(spark, sf_dir):
    """The batch flow_batch queries, run again in the same session,
    reuse every compiled class: the compiled-class cache holds their
    working set (at Spark's default of 100 entries the cycle evicts
    each class before its reuse, so every repeat recompiles). Run 1
    only fills the cache, so earlier tests do not matter."""
    from aces_nifi_processors_bundle_spark.plans.registry import QUERIES
    from perfbench.workloads import FLOW_QUERIES

    names = [n for n in FLOW_QUERIES if not n.startswith("q_stream_")]
    compiled = []
    for _ in range(3):
        before = _compiles(spark)
        for name in names:
            spark.catalog.clearCache()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled.append(_compiles(spark) - before)
    assert compiled[1:] == [0, 0], compiled
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
