"""Declarative flow assembly: a config-defined stage list must produce
the same plan/results as hand-composed operators — the NiFi
flow-definition analog (flows are wired by config on the canvas, not
by code)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from aces_nifi_processors_bundle_spark import flows
from aces_nifi_processors_bundle_spark.flows import build_flow
from aces_nifi_processors_bundle_spark.plans.queries import FLAGSHIP_BINNERS
from aces_nifi_processors_bundle_spark.operators import joins
from aces_nifi_processors_bundle_spark.operators.binning import bin_count
from aces_nifi_processors_bundle_spark.pipeline import (
    classify,
    dedup,
    reports,
    similarity,
    sketches,
    splits,
    stats,
    strings,
    text,
)
from aces_nifi_processors_bundle_spark.sources.registry import load_table

FLAGSHIP_FLOW = [
    {"op": "load", "table": "events"},
    {
        "op": "bin_count",
        "binners": [
            {"kind": "date", "bin_name": "byDay", "data_field": "ts", "granularity": "DAY"},
            {"kind": "literal", "bin_name": "byType", "data_field": "event_type"},
            {"kind": "merged", "bin_name": "dayType", "components": ["byDay", "byType"]},
        ],
    },
]


def test_flow_matches_hand_composed_flagship(spark, sf_dir):
    flow_df = build_flow(spark, FLAGSHIP_FLOW, sf_dir)
    direct = bin_count(load_table(spark, sf_dir, "events"), FLAGSHIP_BINNERS)
    assert sorted(map(tuple, flow_df.collect())) == sorted(map(tuple, direct.collect()))


def test_flow_is_json_roundtrippable(spark, sf_dir):
    """The flow IS configuration: survives JSON serialization (the
    flow.json analog) and still builds."""
    flow = json.loads(json.dumps(FLAGSHIP_FLOW))
    assert build_flow(spark, flow, sf_dir).count() > 0


def test_flow_stage_chain_with_filter_select_sql(spark, sf_dir):
    flow = [
        {"op": "load", "table": "events"},
        {"op": "filter", "condition": "event_id % 10 != 0"},
        {"op": "select", "columns": ["event_id", "event_type"]},
        {"op": "sql", "query": "SELECT event_type, count(*) AS n FROM __this__ GROUP BY event_type"},
    ]
    out = {r["event_type"]: r["n"] for r in build_flow(spark, flow, sf_dir).collect()}
    expect = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .filter("event_id % 10 != 0")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert out == expect


def test_flow_routed_operator_selects_relationship(spark, sf_dir):
    """A routed op continues down the named relationship, like wiring a
    downstream processor to one port."""
    flow = [
        {"op": "load", "table": "events"},
        {
            "op": "attrs_to_json",
            "relationship": "success",
            "string_attrs": ["event_type"],
            "int_attrs": ["event_id"],
        },
    ]
    n_success = build_flow(spark, flow, sf_dir).count()
    n_all = load_table(spark, sf_dir, "events").count()
    assert 0 < n_success <= n_all


def test_sql_stage_does_not_leak_temp_views(spark, sf_dir):
    """A long-lived session driving many flows must not accumulate
    catalog entries: the sql stage drops its per-invocation view once
    the returned plan is resolved."""
    before = {t.name for t in spark.catalog.listTables()}
    flow = [{"op": "load", "table": "events"}] + [
        {"op": "sql", "query": f"SELECT * FROM __this__ WHERE event_id % {k} = 0"}
        for k in range(2, 102)  # 100 sql stages
    ]
    df = build_flow(spark, flow, sf_dir)
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before  # no __this_* residue
    assert df.count() >= 0  # the folded plan still executes post-drop


def test_flow_store_sink_roundtrip(spark, sf_dir, tmp_path):
    """source → transform → store_init → store_put_if_absent as one
    flow document: the store stages execute and hand the post-state
    downstream."""
    path = str(tmp_path / "flow_store")
    flow = [
        {"op": "load", "table": "nation"},
        {"op": "select", "columns": ["n_nationkey", "n_name"]},
        {"op": "store_init", "path": path, "keys": ["n_nationkey"], "n_buckets": 4},
        {"op": "load", "table": "nation"},
        {"op": "sql", "query": """
            SELECT n_nationkey, n_name FROM __this__
            UNION ALL
            SELECT n_nationkey + 100 AS n_nationkey, 'NEW-' || n_name AS n_name
            FROM __this__ WHERE n_nationkey < 5"""},
        {"op": "store_put_if_absent", "path": path, "keys": ["n_nationkey"],
         "n_buckets": 4},
        {"op": "sql", "query": "SELECT count(*) AS n FROM __this__"},
    ]
    n_nations = load_table(spark, sf_dir, "nation").count()
    assert build_flow(spark, flow, sf_dir).collect()[0]["n"] == n_nations + 5


def test_flow_socketio_sink_passthrough(spark, sf_dir):
    """socketio is a pass-through ACTION: rows are pushed (counted by
    the sink's accumulator) and the unchanged frame continues."""
    from aces_nifi_processors_bundle_spark.sinks.socketio import CollectingClient

    flow = [
        {"op": "load", "table": "region"},
        {"op": "sql",
         "query": "SELECT to_json(struct(r_regionkey, r_name)) AS payload FROM __this__"},
        {"op": "socketio", "url": "http://example.test", "static_event": "region",
         "client_factory": CollectingClient},
        {"op": "select", "columns": ["payload"]},
    ]
    out = build_flow(spark, flow, sf_dir)
    assert out.count() == load_table(spark, sf_dir, "region").count()


def test_socketio_tls_knobs_passed_to_aware_factory(spark, sf_dir, tmp_path):
    """The SSL-context-service analog: a factory declaring `tls`
    receives the sink's config (recorded executor-side to a file, as
    the factory runs inside foreachPartition); factories without the
    parameter (the test collector) are called bare — knobs accepted
    but inert."""
    from aces_nifi_processors_bundle_spark.sinks.socketio import (
        CollectingClient,
        SocketIOSink,
    )

    rec = str(tmp_path / "tls_seen.jsonl")

    def tls_aware_factory(tls=None, _out=rec):
        with open(_out, "a") as f:
            f.write(json.dumps(tls, sort_keys=True) + "\n")
        return CollectingClient()

    df = load_table(spark, sf_dir, "region").selectExpr("r_name AS payload")
    sink = SocketIOSink(
        url="http://example.test",
        static_event="e",
        client_factory=tls_aware_factory,
        ssl_verify="/etc/ssl/ca.pem",
        ssl_client_cert=("/c.pem", "/k.pem"),
    )
    n = sink.write_batch(df.coalesce(1))
    assert n == df.count()
    seen = [json.loads(line) for line in open(rec).read().splitlines()]
    assert seen == [
        {"client_cert": ["/c.pem", "/k.pem"], "verify": "/etc/ssl/ca.pem"}
    ]
    # unaware factory + TLS knobs: still works, knobs inert
    inert = SocketIOSink(
        url="http://example.test",
        static_event="e",
        client_factory=CollectingClient,
        ssl_verify=False,
    )
    assert inert.write_batch(df.coalesce(1)) == df.count()


def test_flow_errors_are_actionable(spark, sf_dir):
    import pytest

    with pytest.raises(KeyError, match="unknown op"):
        build_flow(spark, [{"op": "load", "table": "events"}, {"op": "nope"}], sf_dir)
    with pytest.raises(ValueError, match="must start with a 'load'"):
        build_flow(spark, [{"op": "filter", "condition": "1=1"}], sf_dir)


def test_llm_pipeline_flow_matches_hand_composed(spark, sf_dir):
    """The full training-data flow (dedup → repetition filter →
    quality-weighted sample → split → mix → chunk) equals composing
    the pipeline functions directly, and every transform stage stays
    in ONE lazy plan."""
    from pyspark.sql import functions as F

    from aces_nifi_processors_bundle_spark.pipeline.dedup import dedup_exact
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        hash_split,
        token_budget_mix,
        weighted_sample,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        chunk_documents,
        quality_score,
        repetition_ratio,
        word_count,
    )

    flow = [
        {"op": "load", "table": "documents"},
        {"op": "select", "columns": ["doc_id", "lang", "text"]},
        {"op": "dedup_exact"},
        {"op": "repetition_filter", "max_ratio": 0.8},
        {"op": "weighted_sample_quality"},
        {"op": "hash_split"},
        {"op": "filter", "condition": "split = 'train'"},
        {"op": "token_budget_mix", "group_col": "lang",
         "budgets": {"en": 3000, "de": 1000}},
        {"op": "chunk", "chunk_tokens": 30, "overlap": 5},
    ]
    flow_df = build_flow(spark, json.loads(json.dumps(flow)), sf_dir)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d = dedup_exact(d)
    keep = (
        repetition_ratio(d)
        .filter(F.col("rep_ratio") <= 0.8)
        .select("doc_id")
    )
    d = d.join(keep, "doc_id", "left_semi")
    d = weighted_sample(d, quality_score(F.col("text")))
    d = hash_split(d).filter("split = 'train'")
    d = token_budget_mix(
        d, "lang", {"en": 3000, "de": 1000}, word_count(F.col("text"))
    )
    direct = chunk_documents(d, chunk_tokens=30, overlap=5)

    got = sorted(map(tuple, flow_df.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got and got == want


def test_dag_flow_tag_and_joins(spark, sf_dir):
    """tag + two-input stages: range_join in a flow == direct call;
    bad wiring errors are actionable."""
    import pytest

    from aces_nifi_processors_bundle_spark.operators.joins import range_join

    flow = [
        {"op": "load", "table": "events"},
        {"op": "select",
         "columns": ["user_id", "event_id AS id_b", "unix_micros(ts) AS us_b"]},
        {"op": "tag", "name": "b"},
        {"op": "load", "table": "events"},
        {"op": "select",
         "columns": ["user_id", "event_id AS id_a", "unix_micros(ts) AS us_a"]},
        {"op": "range_join", "right": "b", "on": ["user_id"],
         "left_val": "us_a", "right_val": "us_b", "band": 600e6},
        {"op": "filter", "condition": "id_a < id_b"},
    ]
    got = sorted(
        (r["id_a"], r["id_b"]) for r in build_flow(spark, flow, sf_dir).collect()
    )
    ev = load_table(spark, sf_dir, "events")
    a = ev.selectExpr("user_id", "event_id AS id_a", "unix_micros(ts) AS us_a")
    b = ev.selectExpr("user_id", "event_id AS id_b", "unix_micros(ts) AS us_b")
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in range_join(a, b, "user_id", "us_a", "us_b", 600e6)
        .filter("id_a < id_b").collect()
    )
    assert got and got == want

    with pytest.raises(KeyError, match="untagged frame"):
        build_flow(
            spark,
            [{"op": "load", "table": "events"},
             {"op": "join", "right": "nope", "on": ["user_id"]}],
            sf_dir,
        )
    with pytest.raises(ValueError, match="'tag' before any frame"):
        build_flow(spark, [{"op": "tag", "name": "x"}], sf_dir)


def test_semantic_dedup_stage_keeps_survivors_only(spark, sf_dir):
    flow = [
        {"op": "load", "table": "embeddings"},
        {"op": "select", "columns": ["vec_id", "embedding"]},
        {"op": "semantic_dedup", "dim": 64, "n_centroids": 8,
         "threshold": 0.999},
    ]
    out = build_flow(spark, flow, sf_dir)
    n_all = load_table(spark, sf_dir, "embeddings").count()
    # no planted dups in the raw corpus at 0.999 → everything survives,
    # with the original columns intact
    assert sorted(out.columns) == ["embedding", "vec_id"]
    assert out.count() == n_all


def test_every_example_flow_builds_and_returns_rows(spark, sf_dir):
    import glob
    import json as _json
    import os

    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(__file__), "..", "examples", "*.flow.json"))
    )
    assert paths, "examples/ must ship runnable flow documents"
    for p in paths:
        flow = _json.load(open(p))
        # write_dataset needs a scratch path: redirect into /tmp
        for st in flow:
            if st.get("op") == "write_dataset":
                import tempfile

                st["path"] = tempfile.mkdtemp(prefix="aces_flow_example_")
        assert build_flow(spark, flow, sf_dir).count() > 0, p


def test_route_use_union_fan_out(spark, sf_dir, tmp_path):
    """`route` exposes every requested relationship as a tagged branch,
    `use` resumes one as the mainline, `union` recombines — the NiFi
    canvas shape where success and failure wire to different
    downstreams."""
    import pytest

    from aces_nifi_processors_bundle_spark.flows import build_flow

    flow = [
        {"op": "load", "table": "orders"},
        {"op": "sql", "query": "SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 "
                               "THEN '' ELSE 'SECRET' END AS m FROM __this__"},
        {
            "op": "route", "using": "security_marking", "marking_col": "m",
            "tags": {"failure": "bad", "success": "ok"}, "continue": "success",
            "levels_to_convert_to": ["SECRET"], "levels_can_receive": ["SECRET"],
            "level_abbrevs_can_receive": ["S"], "compartments": [],
            "dissemination_controls": [], "releasabilities": [], "delimiter": "//",
        },
        {"op": "sql", "query": "SELECT 'ok' AS b, COUNT(*) AS n FROM __this__"},
        {"op": "tag", "name": "okn"},
        {"op": "use", "tag": "bad"},
        {"op": "sql", "query": "SELECT 'bad' AS b, COUNT(*) AS n FROM __this__"},
        {"op": "union", "right": "okn"},
    ]
    got = {r["b"]: r["n"] for r in build_flow(spark, flow, sf_dir).collect()}
    total = got["ok"] + got["bad"]
    assert got["bad"] > 0 and got["ok"] > 0
    # every third key is blank → failure
    assert got["bad"] == (total + 2) // 3 or got["bad"] == total // 3 + (1 if total % 3 else 0)

    # error paths are actionable
    with pytest.raises(KeyError, match="untagged"):
        build_flow(spark, [{"op": "load", "table": "orders"},
                           {"op": "use", "tag": "nope"}], sf_dir)
    with pytest.raises(KeyError, match="route has no operator"):
        build_flow(spark, [{"op": "load", "table": "orders"},
                           {"op": "route", "using": "nope"}], sf_dir)
    # a typo'd relationship (in tags OR continue) carries the stage
    # index and the operator's real ports, not a bare KeyError
    base = flow[:2]
    route_stage = dict(flow[2])
    route_stage["tags"] = {"faliure": "bad"}  # sic
    with pytest.raises(KeyError, match=r"stage 2: .*no relationship 'faliure'"):
        build_flow(spark, base + [route_stage], sf_dir)
    route_stage2 = dict(flow[2])
    route_stage2["continue"] = "sucess"  # sic
    with pytest.raises(KeyError, match=r"stage 2: .*no relationship 'sucess'"):
        build_flow(spark, base + [route_stage2], sf_dir)


def test_sessionize_and_funnel_flow_stages(spark, sf_dir):
    from aces_nifi_processors_bundle_spark.flows import build_flow

    sess = build_flow(spark, [
        {"op": "load", "table": "events"},
        {"op": "sessionize", "gap_sec": 1800, "tie_col": "event_id"},
        {"op": "sql", "query": "SELECT count(*) AS n, max(session_seq) AS mx "
                               "FROM __this__"},
    ], sf_dir).collect()[0]
    assert sess["n"] > 0 and sess["mx"] >= 1

    fun = build_flow(spark, [
        {"op": "load", "table": "events"},
        {"op": "funnel", "steps": ["view", "click", "purchase"]},
    ], sf_dir)
    rows = {r["step"]: r["n_users"] for r in fun.collect()}
    assert set(rows) == {1, 2, 3} and rows[1] >= rows[2] >= rows[3]


def test_flow_round6_stages_match_direct_calls(spark, sf_dir):
    """validate with a tagged FK parent: every check passes on the
    fixtures. (rolling, anomaly and transitions are oracle-graded as
    flow stages by q_rolling_hourly, q_anomaly_values and
    q_event_transitions.)"""
    from aces_nifi_processors_bundle_spark.flows import build_flow

    got = build_flow(spark, [
        {"op": "load", "table": "customer"},
        {"op": "tag", "name": "customer"},
        {"op": "load", "table": "orders"},
        {"op": "validate", "checks": [
            {"kind": "not_null", "col": "o_custkey"},
            {"kind": "unique", "col": "o_orderkey"},
            {"kind": "foreign_key", "col": "o_custkey",
             "parent": "customer", "parent_col": "c_custkey"},
        ]},
    ], sf_dir).collect()
    assert len(got) == 3 and all(r["passed"] for r in got)


def test_flow_validate_errors_are_actionable(spark, sf_dir):
    from aces_nifi_processors_bundle_spark.flows import build_flow

    with pytest.raises(KeyError, match="not a tagged frame"):
        build_flow(spark, [
            {"op": "load", "table": "orders"},
            {"op": "validate", "checks": [
                {"kind": "foreign_key", "col": "o_custkey",
                 "parent": "customer", "parent_col": "c_custkey"}]},
        ], sf_dir)

    with pytest.raises(KeyError, match="unknown check kind"):
        build_flow(spark, [
            {"op": "load", "table": "orders"},
            {"op": "validate", "checks": [{"kind": "run_checks"}]},
        ], sf_dir)


def test_flow_corr_and_triangle_stages(spark, sf_dir):
    from aces_nifi_processors_bundle_spark.flows import build_flow

    got = build_flow(spark, [
        {"op": "load", "table": "lineitem"},
        {"op": "corr_matrix",
         "cols": ["l_quantity", "l_extendedprice", "l_discount"]},
    ], sf_dir).collect()
    assert len(got) == 3  # C(3,2) pairs
    assert all(r["n"] > 0 for r in got)

    got = build_flow(spark, [
        {"op": "load", "table": "lineitem"},
        {"op": "sql", "query": (
            "SELECT a.l_suppkey AS src, b.l_suppkey AS dst "
            "FROM __this__ a JOIN __this__ b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_suppkey < b.l_suppkey GROUP BY 1, 2 HAVING count(*) >= 2"
        )},
        {"op": "triangle_count"},
    ], sf_dir)
    rows = got.collect()
    assert rows and all(r["degree"] >= 1 for r in rows)


def test_flow_round7_stages_match_direct_calls(spark, sf_dir):
    """gopher_quality emits its verdict columns; shortest_paths runs
    BFS from a tagged seed frame. (hll_distinct is oracle-graded as a
    flow stage by q_hll_distinct.)"""
    from aces_nifi_processors_bundle_spark.flows import build_flow

    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "gopher_quality", "min_words": 30},
    ], sf_dir)
    rows = got.collect()
    assert rows and {"keep", "fail_reasons"} <= set(got.columns)

    # two-input BFS: seeds tagged, edges current
    got = build_flow(spark, [
        {"op": "load", "table": "customer"},
        {"op": "sql", "query": "SELECT c_custkey * 2 AS v FROM __this__ WHERE c_custkey <= 3"},
        {"op": "tag", "name": "seeds"},
        {"op": "load", "table": "lineitem"},
        {"op": "sql", "query": "SELECT l_orderkey AS o_orderkey, l_suppkey FROM __this__"},
        {"op": "tag", "name": "li"},
        {"op": "load", "table": "orders"},
        {"op": "join", "right": "li", "on": "o_orderkey"},
        {"op": "sql", "query": (
            "SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM __this__ "
            "UNION ALL "
            "SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst FROM __this__"
        )},
        {"op": "shortest_paths", "right": "seeds", "n_hops": 2},
    ], sf_dir)
    dists = {r["dist"] for r in got.collect()}
    assert dists == {0, 1, 2}


def test_flow_unpivot_and_topk_stages(spark, sf_dir):
    from aces_nifi_processors_bundle_spark.flows import build_flow

    got = build_flow(spark, [
        {"op": "load", "table": "part"},
        {"op": "topk", "group": "p_brand", "order_by": "p_retailprice",
         "k": 2, "tiebreak": "p_partkey"},
    ], sf_dir)
    rows = got.collect()
    brands = {}
    for r in rows:
        brands.setdefault(r["p_brand"], []).append(r["p_retailprice"])
    assert all(len(v) <= 2 for v in brands.values())

    melted = build_flow(spark, [
        {"op": "load", "table": "lineitem"},
        {"op": "unpivot", "ids": ["l_orderkey"],
         "values": ["l_quantity", "l_tax"]},
    ], sf_dir)
    assert set(melted.columns) == {"l_orderkey", "measure", "value"}
    assert melted.select("measure").distinct().count() == 2


def test_flow_error_paths_carry_context_and_classify_weights_work(
    spark, sf_dir, tmp_path
):
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.classify import hash_weights

    # classify with a weights_path parquet (the production path —
    # previously crashed with NameError on the F import)
    wpath = str(tmp_path / "weights")
    hash_weights(spark, 64, 7).write.parquet(wpath)
    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "classify", "n_buckets": 64, "weights_path": wpath},
    ], sf_dir)
    assert out.count() > 0

    # out-of-range weight bucket raises LAZILY with a clear message
    bad = str(tmp_path / "bad_weights")
    hash_weights(spark, 4096, 7).write.parquet(bad)
    lazy = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "classify", "n_buckets": 64, "weights_path": bad},
    ], sf_dir)
    with pytest.raises(Exception, match="out of range|USER_RAISED"):
        lazy.collect()

    # typo'd relationship names get actionable errors
    with pytest.raises(KeyError, match="no relationship 'succes'"):
        build_flow(spark, [
            {"op": "load", "table": "events"},
            {"op": "attrs_to_json", "relationship": "succes",
             "string_attrs": ["event_type"]},
        ], sf_dir)
    # tag/use missing keys carry stage context
    with pytest.raises(KeyError, match="stage 1: 'tag' needs"):
        build_flow(spark, [{"op": "load", "table": "events"},
                           {"op": "tag"}], sf_dir)
    # validate rejects namespace attrs that aren't check kinds
    with pytest.raises(KeyError, match="unknown check kind 'field'"):
        build_flow(spark, [
            {"op": "load", "table": "orders"},
            {"op": "validate", "checks": [{"kind": "field"}]},
        ], sf_dir)
    # topk never clobbers a user __rk column
    got = build_flow(spark, [
        {"op": "load", "table": "part"},
        {"op": "sql", "query": "SELECT p_brand, p_partkey, p_retailprice, 1 AS __rk FROM __this__"},
        {"op": "topk", "group": "p_brand", "order_by": "p_retailprice",
         "k": 1, "tiebreak": "p_partkey"},
    ], sf_dir)
    assert "__rk" in got.columns and got.count() > 0


def test_round8_stages_equal_direct_calls(spark, sf_dir):
    """The round-8 flow stages must produce exactly what the direct
    pipeline calls produce — flows are wiring, never semantics."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.similarity import (
        hard_negatives,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import bm25_topk
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct = sorted(map(tuple, bm25_topk(docs, ["spark", "join"], k=5).collect()))
    flowed = sorted(map(tuple, build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "bm25", "query_terms": ["spark", "join"], "k": 5},
    ], sf_dir).collect()))
    assert direct == flowed

    emb = load_table(spark, sf_dir, "embeddings")
    direct_hn = sorted(map(tuple, hard_negatives(
        emb, emb.filter("vec_id < 4"), k=3).collect()))
    flowed_hn = sorted(map(tuple, build_flow(spark, [
        {"op": "load", "table": "embeddings"},
        {"op": "filter", "condition": "vec_id < 4"},
        {"op": "tag", "name": "q"},
        {"op": "load", "table": "embeddings"},
        {"op": "hard_negatives", "right": "q", "k": 3},
    ], sf_dir).collect()))
    assert direct_hn == flowed_hn


def test_flow_quantile_digest_stages_match_direct_calls(spark, sf_dir):
    """round 9: build daily digests + fold + quantile read through the
    flow canvas must equal the direct sketch calls."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        cluster_digest,
        digest_merge,
        digest_quantiles,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    got = build_flow(spark, [
        {"op": "load", "table": "events"},
        {"op": "sql", "query": (
            "SELECT event_type, CAST(ts AS DATE) AS day, value, event_id "
            "FROM __this__"
        )},
        {"op": "quantile_digest", "value_col": "value",
         "groups": ["event_type", "day"], "m": 8, "tie_col": "event_id"},
        {"op": "digest_fold", "groups": ["event_type"], "m": 8,
         "order_cols": ["day", "c"], "qs": [0.5, 0.9]},
    ], sf_dir).collect()
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = cluster_digest(events, "value", ["event_type", "day"], m=8,
                           tie_col="event_id")
    merged = digest_merge(daily, ["event_type"], m=8, order_cols=["day", "c"])
    want = digest_quantiles(merged, ["event_type"], qs=(0.5, 0.9)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_flow_cap_and_temperature_stages_match_direct_calls(spark, sf_dir):
    """round 9: soft-dedup cap + temperature mix through the canvas
    equal the direct pipeline calls."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        cap_duplicates,
        near_dup_clusters,
        near_dup_pairs_minhash,
    )
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        temperature_mix,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import word_count
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "cap_duplicates", "max_copies": 2},
        {"op": "sql", "query": "SELECT doc_id, cluster, copy_rank FROM __this__"},
    ], sf_dir).collect()
    pairs = near_dup_pairs_minhash(docs, num_hashes=8, band_size=2, k=3,
                                   threshold=0.5)
    want = cap_duplicates(docs, near_dup_clusters(pairs), 2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "temperature_mix", "group_col": "lang",
         "budget_tokens": 3000, "alpha": 0.3},
    ], sf_dir).collect()
    want = temperature_mix(docs, "lang", word_count(F.col("text")),
                           3000, 0.3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_flow_digest_register_two_run_lifecycle(spark, sf_dir, tmp_path):
    """round 10 (examples/digest_register.flow.json): the daily
    quantile-register lifecycle across TWO ingest runs — each run
    builds (event_type, day) digests for ITS slice of days and
    put-if-absents them into the keyed store (a day's digest is
    deterministic and immutable, so replays are no-ops), then folds
    the store's ENTIRE accumulated state. Run 2's quantiles must equal
    the one-shot batch computation over all events — the proof that
    the register accumulates correctly instead of just echoing the
    current batch."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        cluster_digest,
        digest_merge,
        digest_quantiles,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    store = str(tmp_path / "digest_register")
    cut = "2024-01-15"

    def run(day_filter: str):
        return build_flow(spark, [
            {"op": "load", "table": "events"},
            {"op": "sql", "query": (
                "SELECT event_type, CAST(ts AS DATE) AS day, value, "
                "event_id FROM __this__ WHERE value IS NOT NULL"
            )},
            {"op": "filter", "condition": day_filter},
            {"op": "quantile_digest", "value_col": "value",
             "groups": ["event_type", "day"], "m": 16,
             "tie_col": "event_id"},
            {"op": "store_put_if_absent", "path": store,
             "keys": ["event_type", "day", "c"], "n_buckets": 8,
             "init_if_absent": True},
            {"op": "digest_fold", "groups": ["event_type"], "m": 16,
             "order_cols": ["day", "c"], "qs": [0.5, 0.9, 0.99]},
        ], sf_dir).collect()

    run(f"day < DATE'{cut}'")                    # ingest 1: early days
    got = run(f"day >= DATE'{cut}'")             # ingest 2: the rest
    # replaying ingest 2 must change nothing (immutable day digests)
    replay = run(f"day >= DATE'{cut}'")
    assert sorted(map(tuple, replay)) == sorted(map(tuple, got))

    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .withColumn("day", F.to_date("ts"))
    )
    daily = cluster_digest(
        events, "value", ["event_type", "day"], m=16, tie_col="event_id"
    )
    merged = digest_merge(daily, ["event_type"], m=16, order_cols=["day", "c"])
    want = digest_quantiles(
        merged, ["event_type"], qs=(0.5, 0.9, 0.99)
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_flow_round10_stages_match_direct_calls(spark, sf_dir):
    """trim_repetitions and source_overlap through the flow canvas
    equal the direct pipeline calls; the repair stage must REWRITE
    text in place and keep every other column so downstream text
    consumers still work. (substring_dedup is oracle-graded as a flow
    stage by q_substring_dedup.)"""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.sketches import (
        kmv_overlap_matrix,
        kmv_sketch,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        trim_repeated_lines,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")

    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "trim_repetitions"},
        {"op": "sql", "query": (
            "SELECT doc_id, text, lang, kept_lines, dropped_lines "
            "FROM __this__"
        )},
    ], sf_dir).collect()
    trimmed = trim_repeated_lines(docs)
    want = (
        docs.select("doc_id", "lang")
        .join(trimmed, "doc_id")
        .selectExpr(
            "doc_id", "new_text AS text", "lang", "kept_lines",
            "dropped_lines",
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "source_overlap", "k": 64},
    ], sf_dir).collect()
    want = kmv_overlap_matrix(
        kmv_sketch(docs, "text", ["source"], 64), "source", 64
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_flow_repair_substrings_stage(spark, sf_dir):
    """round 10: the cross-doc substring repair stage rewrites text in
    place, keeps other columns, and equals the direct call."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        remove_duplicate_spans,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "repair_substrings", "k": 8, "min_tokens": 12},
        {"op": "sql", "query": (
            "SELECT doc_id, text, source, removed_tokens FROM __this__"
        )},
    ], sf_dir).collect()
    rep = remove_duplicate_spans(docs, k=8, min_tokens=12)
    want = (
        docs.select("doc_id", "source")
        .join(rep, "doc_id")
        .selectExpr("doc_id", "new_text AS text", "source", "removed_tokens")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_flow_incremental_substring_stage_accumulates(spark, sf_dir, tmp_path):
    """round 10: the anchor-store stage creates the store on first
    use and catches a second flow run's span against the FIRST run's
    kept docs."""
    from aces_nifi_processors_bundle_spark.flows import build_flow

    store = str(tmp_path / "anchorstore")

    def run(lo, hi):
        return build_flow(spark, [
            {"op": "load", "table": "documents"},
            {"op": "select", "columns": ["doc_id", "text"]},
            {"op": "filter", "condition": f"doc_id >= {lo} AND doc_id < {hi}"},
            {"op": "incremental_substring_dedup", "path": store,
             "k": 8, "min_tokens": 12, "n_buckets": 4},
        ], sf_dir).collect()

    first = run(0, 250)
    assert all(r["route"] in ("duplicate_batch", "unique") for r in first)
    second = run(0, 250)  # replay: every kept doc now matches ITSELF
    kept = {r["doc_id"] for r in first if r["route"] == "unique"}
    for r in second:
        if r["doc_id"] in kept and r["store_match_tokens"] is not None:
            assert r["route"] == "duplicate_store"


def test_flow_intra_repeat_stages(spark, sf_dir):
    """round 10: the intra-doc report and repair stages equal the
    direct calls; the repair rewrites text in place with columns
    preserved."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.dedup import (
        trim_intra_doc_repeats,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "trim_intra_repeats", "k": 8, "min_tokens": 12},
        {"op": "sql", "query": (
            "SELECT doc_id, text, lang, removed_tokens FROM __this__"
        )},
    ], sf_dir).collect()
    rep = trim_intra_doc_repeats(docs.select("doc_id", "text"), k=8,
                                 min_tokens=12)
    want = (
        docs.select("doc_id", "lang")
        .join(rep, "doc_id")
        .selectExpr("doc_id", "new_text AS text", "lang", "removed_tokens")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_repair_stages_keep_null_text_docs(spark, tmp_path):
    """round-10 review regression: every repair stage must pass a
    NULL-text doc through (original text, zeroed evidence) instead of
    silently dropping it — trim_repetitions' underlying op emits no
    row for NULL docs, so the shared stage tail LEFT-joins."""
    from aces_nifi_processors_bundle_spark.flows import STAGES

    df = spark.createDataFrame(
        [(1, "x\nx\ny", "s1"), (2, None, "s2")],
        "doc_id long, text string, source string",
    )
    out = STAGES["trim_repetitions"](spark, df).collect()
    got = {r["doc_id"]: r for r in out}
    assert set(got) == {1, 2}
    assert got[2]["text"] is None
    assert got[2]["kept_lines"] == 0 and got[2]["dropped_lines"] == 0
    assert got[1]["text"] == "x\ny" and got[1]["dropped_lines"] == 1


def test_repair_stage_chains_after_evidence_emitting_stage(spark, sf_dir):
    """round-11 ADVICE regression: a repair stage must be chainable
    AFTER a stage that already emitted a same-named evidence column
    (temperature_mix emits n_tokens; repair_substrings also emits
    n_tokens) without AMBIGUOUS_REFERENCE — the fresh evidence
    overwrites the stale column, and re-applying the SAME repair
    (trim_repetitions twice) is likewise legal and idempotent."""
    from aces_nifi_processors_bundle_spark.flows import build_flow

    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "temperature_mix", "group_col": "source",
         "budget_tokens": 20000},
        {"op": "repair_substrings", "k": 8, "min_tokens": 12},
    ], sf_dir)
    rows = out.collect()
    assert rows, "chained flow produced no rows"
    assert out.columns.count("n_tokens") == 1
    assert "removed_tokens" in out.columns

    twice = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "trim_repetitions"},
        {"op": "trim_repetitions"},
    ], sf_dir)
    once = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "trim_repetitions"},
    ], sf_dir)
    assert twice.columns == once.columns
    t = {r["doc_id"]: r["text"] for r in twice.collect()}
    o = {r["doc_id"]: r["text"] for r in once.collect()}
    assert t == o, "re-applying the line trim must be a fixpoint"
    # second pass finds nothing left to drop
    assert all(r["dropped_lines"] == 0 for r in twice.collect())


def test_bpe_flow_trains_persists_and_replays(spark, sf_dir, tmp_path):
    """The tokenizer lifecycle on the canvas: bpe_train persists the
    merge table as store state; token_count_trained and bpe_encode in
    SEPARATE flows replay it from the store, matching direct calls."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        bpe_token_counts,
        bpe_train,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    store = str(tmp_path / "merges")
    table = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "bpe_train", "path": store, "num_merges": 8},
    ], sf_dir).collect()
    want_merges = bpe_train(
        load_table(spark, sf_dir, "documents"), num_merges=8
    )
    assert [(r["lhs"], r["rhs"]) for r in table] == want_merges
    assert [r["rank"] for r in table] == list(range(8))

    counted = build_flow(spark, [
        {"op": "load", "table": "documents"},
        # run the count stage TWICE: re-counting after a retrain must
        # OVERWRITE the stale column, not duplicate it ambiguously
        {"op": "token_count_trained", "path": store},
        {"op": "token_count_trained", "path": store},
        {"op": "sql", "query":
            "SELECT doc_id, source, n_tokens_trained FROM __this__"},
    ], sf_dir)
    assert counted.columns.count("n_tokens_trained") == 1
    assert "n_tokens_trained" in counted.columns
    got = {r["doc_id"]: r["n_tokens_trained"] for r in counted.collect()}
    docs = load_table(spark, sf_dir, "documents")
    want = {
        r["doc_id"]: r["nt"]
        for r in bpe_token_counts(
            docs, merges=want_merges, out_col="nt"
        ).collect()
    }
    assert got == want

    enc = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "filter", "condition": "doc_id < 3"},
        {"op": "bpe_encode", "path": store},
    ], sf_dir)
    rows = enc.collect()
    assert rows and set(enc.columns) == {"doc_id", "pos", "token"}
    # count consistency: encode stream length == trained counts
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    for d, n in per_doc.items():
        assert n == want[d]


def test_dsir_weights_stage_joins_onto_input(spark, sf_dir):
    """The canvas form scores against an in-frame target condition and
    keeps every input column; equals the direct call."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        dsir_weights,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_weights", "target_condition": "doc_id % 50 = 0"},
    ], sf_dir)
    assert {"doc_id", "text", "lang", "source", "importance",
            "n_features"} <= set(out.columns)
    docs = load_table(spark, sf_dir, "documents")
    want = {
        r["doc_id"]: r["importance"]
        for r in dsir_weights(
            docs.select("doc_id", "text"),
            docs.select("doc_id", "text").where("doc_id % 50 = 0"),
        ).collect()
    }
    got = {r["doc_id"]: r["importance"] for r in out.collect()}
    assert got == want


def test_dsir_select_stage_filters_to_kept(spark, sf_dir):
    """The canvas selection stage: default keep_only routes exactly
    the kept membership downstream (input columns preserved, audit
    columns joined on); keep_only=False hands the full annotated
    frame on, matching the direct dsir_select call."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.splits import dsir_select
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct = dsir_select(
        docs.select("doc_id", "text"),
        docs.select("doc_id", "text").where("doc_id % 50 = 0"),
    ).collect()
    want_kept = {r["doc_id"] for r in direct if r["kept"]}
    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_select", "target_condition": "doc_id % 50 = 0"},
    ], sf_dir)
    assert {"doc_id", "text", "lang", "keep_prob"} <= set(out.columns)
    assert "kept" not in out.columns
    assert {r["doc_id"] for r in out.collect()} == want_kept
    full = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_select", "target_condition": "doc_id % 50 = 0",
         "keep_only": False},
    ], sf_dir)
    got = {r["doc_id"]: r["kept"] for r in full.collect()}
    assert got == {r["doc_id"]: r["kept"] for r in direct}


def test_bpe_train_stage_passes_min_count(spark, sf_dir, tmp_path):
    """The canvas trainer forwards min_count: the persisted table
    equals a direct bpe_train call with the same pruning (through the
    store round-trip). The removed collect_vocab knob is rejected."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        bpe_train,
        bpe_train_collected,
    )

    docs = load_table(spark, sf_dir, "documents")
    # just above the rarest piece's count: pruning drops a word
    mc = min(c for _, c in bpe_train_collected(docs, num_merges=1)[1]) + 1
    want = bpe_train(docs, num_merges=30, min_count=mc)
    assert want != bpe_train(docs, num_merges=30)  # min_count matters
    got = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "bpe_train", "path": str(tmp_path / "m"),
         "num_merges": 30, "min_count": mc},
    ], sf_dir).collect()
    assert [(r["rank"], r["lhs"], r["rhs"]) for r in got] == [
        (i, a, b) for i, (a, b) in enumerate(want)
    ]
    with pytest.raises(TypeError, match="collect_vocab"):
        build_flow(spark, [
            {"op": "load", "table": "documents"},
            {"op": "bpe_train", "path": str(tmp_path / "m2"),
             "num_merges": 8, "collect_vocab": True},
        ], sf_dir)


def test_dsir_fit_score_registered_lifecycle(spark, sf_dir, tmp_path):
    """The registered-selection-model lifecycle (round 12, the
    tokenizer-register shape): dsir_fit persists the lambda table as
    store state; a SEPARATE flow's dsir_score replays it and must
    reproduce the direct dsir_weights output exactly (featureless
    docs included, per the batch contract); an n_buckets mismatch
    fails loudly."""
    import pytest

    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        dsir_weights,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    path = str(tmp_path / "dsir_model")
    fitted = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_fit", "path": path,
         "target_condition": "doc_id % 50 = 0"},
    ], sf_dir)
    assert fitted.count() > 0
    assert set(fitted.columns) == {
        "bucket", "log_ratio", "fit_n_buckets", "raw_count"
    }
    assert {r["fit_n_buckets"] for r in fitted.collect()} == {1024}
    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_score", "path": path},
    ], sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = {
        r["doc_id"]: (r["n_features"], r["importance"])
        for r in dsir_weights(
            docs, docs.where("doc_id % 50 = 0")
        ).collect()
    }
    got = {
        r["doc_id"]: (r["n_features"], r["importance"])
        for r in out.collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="n_buckets"):
        build_flow(spark, [
            {"op": "load", "table": "documents"},
            {"op": "dsir_score", "path": path, "n_buckets": 16},
        ], sf_dir)
    # round 13: the previously-SILENT direction — fit small, score
    # with a LARGER n_buckets (e.g. the default) — must also raise.
    # Pre-r13 the row-count guard (n_stored > n_buckets) passed this
    # and scored against the wrong bucket hash.
    small = str(tmp_path / "dsir_model_small")
    build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_fit", "path": small,
         "target_condition": "doc_id % 50 = 0", "n_buckets": 16},
    ], sf_dir).collect()
    with pytest.raises(ValueError, match="fitted with"):
        build_flow(spark, [
            {"op": "load", "table": "documents"},
            {"op": "dsir_score", "path": small},
        ], sf_dir)
    # and scoring with the matching n_buckets works
    ok = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_score", "path": small, "n_buckets": 16},
    ], sf_dir)
    assert ok.count() == docs.count()


def test_dsir_drift_stage_lifecycle(spark, sf_dir, tmp_path):
    """Round-13 drift lifecycle: dsir_fit persists the raw bucket
    distribution (raw_count); a dsir_drift stage scoring the SAME
    corpus the model was fitted on reads jsd_bits = 0.0 (identity); a
    drifted slice reads > 0; n_buckets mismatch and a pre-r13 store
    (no raw_count) fail loudly."""
    import pytest

    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.stores import KeyedParquetStore

    path = str(tmp_path / "dsir_model")
    fitted = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_fit", "path": path,
         "target_condition": "doc_id % 50 = 0"},
    ], sf_dir)
    assert "raw_count" in fitted.columns
    same = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "dsir_drift", "path": path},
    ], sf_dir).collect()
    assert len(same) == 1
    assert same[0]["jsd_bits"] == 0.0
    assert same[0]["n_raw_features"] == same[0]["n_batch_features"]
    drifted = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "filter", "condition": "doc_id % 7 = 0"},
        {"op": "dsir_drift", "path": path},
    ], sf_dir).collect()[0]
    assert 0.0 < drifted["jsd_bits"] <= 1.0
    assert drifted["n_batch_features"] < drifted["n_raw_features"]
    with pytest.raises(ValueError, match="n_buckets"):
        build_flow(spark, [
            {"op": "load", "table": "documents"},
            {"op": "dsir_drift", "path": path, "n_buckets": 16},
        ], sf_dir)
    # legacy store without raw_count: loud, actionable
    legacy = str(tmp_path / "legacy_model")
    store = KeyedParquetStore(spark=spark, path=legacy, keys=["bucket"])
    store.init(spark.createDataFrame(
        [(0, 0.1)], "bucket long, log_ratio double"
    ))
    with pytest.raises(ValueError, match="raw_count"):
        build_flow(spark, [
            {"op": "load", "table": "documents"},
            {"op": "dsir_drift", "path": legacy},
        ], sf_dir)


def test_pack_chunked_trained_flow_parity(spark, sf_dir, tmp_path):
    """The chunk → trained-count → pack composition assembled from
    CANVAS stages (register flow + serving flow) reproduces
    q_pack_chunked_trained exactly — the three stages agree end-to-end
    through the store-registered tokenizer."""
    from pyspark.sql import functions as F

    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.plans.queries import (
        q_pack_chunked_trained,
    )

    path = str(tmp_path / "tok")
    build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "bpe_train", "path": path, "num_merges": 20},
    ], sf_dir).collect()
    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "chunk", "chunk_tokens": 40, "overlap": 10},
        {"op": "sql", "query": (
            "SELECT doc_id, chunk_id, chunk_text, "
            "concat(cast(doc_id AS string), '#', "
            "cast(chunk_id AS string)) AS _ck FROM __this__"
        )},
        {"op": "token_count_trained", "path": path,
         "text_col": "chunk_text", "id_col": "_ck", "out_col": "_nt"},
        {"op": "pack_sequences", "token_col": "_nt",
         "seq_tokens": 512, "n_shards": 8},
    ], sf_dir)
    got = sorted(map(tuple, out.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    ).collect()))
    want = sorted(map(tuple, q_pack_chunked_trained(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_calibration_and_kappa_stages(spark, sf_dir):
    """Round-13 classifier-QA stages compose on the canvas: classify →
    join reference label → calibration / kappa equal the direct
    calls."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.classify import (
        calibration_report,
        cohens_kappa,
        hash_weights,
        linear_text_classifier,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    flow_head = [
        {"op": "load", "table": "documents"},
        {"op": "classify"},
        {"op": "tag", "name": "scored"},
        {"op": "load", "table": "documents"},
        {"op": "sql", "query": (
            "SELECT doc_id, lang = 'en' AS actual FROM __this__"
        )},
        {"op": "join", "right": "scored", "on": "doc_id"},
    ]
    got_cal = sorted(map(tuple, build_flow(
        spark, flow_head + [{"op": "calibration"}], sf_dir).collect()))
    got_kap = build_flow(
        spark, flow_head + [{"op": "kappa", "col_a": "label",
                             "col_b": "actual"}], sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    j = linear_text_classifier(docs, hash_weights(spark, 4096)).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("actual")),
        "doc_id",
    )
    assert got_cal == sorted(map(tuple, calibration_report(j).collect()))
    assert [tuple(r) for r in got_kap] == [
        tuple(r) for r in cohens_kappa(j, "label", "actual").collect()
    ]


def test_pack_materialize_stage_parity(spark, sf_dir, tmp_path):
    """The round-13 materialize stage on the canvas: plan branch
    tagged, token-stream branch chopped against it — equals the
    direct pack_materialize composition over the same registered
    tokenizer."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        pack_materialize,
        pack_sequences,
    )
    from aces_nifi_processors_bundle_spark.pipeline.text import (
        bpe_encode,
        bpe_token_counts,
        bpe_train,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    path = str(tmp_path / "tok")
    build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "bpe_train", "path": path, "num_merges": 8},
    ], sf_dir).collect()
    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "filter", "condition": "doc_id % 10 = 0"},
        {"op": "token_count_trained", "path": path, "out_col": "_nt"},
        {"op": "pack_sequences", "token_col": "_nt", "seq_tokens": 256,
         "n_shards": 4, "id_cols": ["doc_id"]},
        {"op": "tag", "name": "plan"},
        {"op": "load", "table": "documents"},
        {"op": "filter", "condition": "doc_id % 10 = 0"},
        {"op": "bpe_encode", "path": path},
        {"op": "pack_materialize", "plan": "plan", "seq_tokens": 256,
         "value_col": "token"},
    ], sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(docs, num_merges=8)
    sub = docs.where("doc_id % 10 = 0")
    counts = bpe_token_counts(sub, merges=merges, out_col="_nt")
    plan = pack_sequences(counts, "_nt", 256, id_cols=["doc_id"], n_shards=4)
    want = sorted(map(tuple, pack_materialize(
        bpe_encode(sub, merges=merges), plan, 256, value_col="token"
    ).collect()))
    got = sorted(map(tuple, out.collect()))
    assert got == want and len(got) > 0


def test_hash_sample_stage_matches_direct_call(spark, sf_dir):
    """The canvas sample equals the direct hash_mod_sample membership
    and composes ahead of downstream stages."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        hash_mod_sample,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "hash_sample", "denom": 4},
        {"op": "select", "columns": ["doc_id"]},
    ], sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    want = {r["doc_id"] for r in
            hash_mod_sample(docs, "doc_id", 4, "sample").collect()}
    assert {r["doc_id"] for r in out.collect()} == want
    assert 0 < len(want) < docs.count()


def test_hash_topn_sample_stage_matches_direct_call(spark, sf_dir):
    """The round-13 absolute-budget canvas sample equals the direct
    hash_topn_sample membership and composes ahead of downstream
    stages."""
    from aces_nifi_processors_bundle_spark.flows import build_flow
    from aces_nifi_processors_bundle_spark.pipeline.splits import (
        hash_topn_sample,
    )
    from aces_nifi_processors_bundle_spark.sources.registry import load_table

    out = build_flow(spark, [
        {"op": "load", "table": "documents"},
        {"op": "hash_topn_sample", "n": 9},
        {"op": "select", "columns": ["doc_id"]},
    ], sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    want = {r["doc_id"] for r in
            hash_topn_sample(docs, "doc_id", 9, "sample").collect()}
    got = {r["doc_id"] for r in out.collect()}
    assert got == want and len(got) == 9


_DOCS = [{"op": "load", "table": "documents"}]
_EVENTS = [{"op": "load", "table": "events"}]
_EMB = [{"op": "load", "table": "embeddings"}]


def _events_of(kind: str) -> list[dict]:
    return [
        *_EVENTS,
        {"op": "filter", "condition": f"event_type = '{kind}'"},
        {"op": "select", "columns": ["event_id", "user_id", "ts", "value"]},
    ]


def _events_as(suffix: str) -> list[dict]:
    return [*_EVENTS, {"op": "select", "columns": [
        "user_id", f"event_id AS id_{suffix}",
        f"unix_micros(ts) AS us_{suffix}",
    ]}]


# op -> (function called directly, mainline stages, stage config,
# stages of the tagged `right` branch or None)
_TABLE_STAGE_CASES = {
    "dedup_exact": (dedup.dedup_exact, _DOCS, {}, None),
    "hash_split": (splits.hash_split, _DOCS,
                   {"weights": {"train": 0.8, "test": 0.2}}, None),
    "chunk": (text.chunk_documents, _DOCS,
              {"chunk_tokens": 30, "overlap": 5}, None),
    "sessionize": (reports.sessionize, _EVENTS,
                   {"gap_sec": 600, "tie_col": "event_id"}, None),
    "frequent_keys": (reports.frequent_keys, _EVENTS,
                      {"cols": ["event_type"], "min_count": 1}, None),
    "funnel": (reports.funnel, _EVENTS,
               {"steps": ["view", "click", "purchase"],
                "window_sec": 86400}, None),
    "active_users": (reports.rolling_active_users, _EVENTS,
                     {"window_days": 3}, None),
    "corr_matrix": (stats.correlation_matrix,
                    [{"op": "load", "table": "lineitem"}],
                    {"cols": ["l_quantity", "l_extendedprice",
                              "l_discount"]}, None),
    "calibration": (classify.calibration_report, [
        *_DOCS, {"op": "select", "columns": [
            "doc_id", "CAST(n_chars % 100 AS DOUBLE) / 100 AS p",
            "lang = 'en' AS y",
        ]},
    ], {"prob_col": "p", "label_col": "y", "n_bins": 5}, None),
    "kappa": (classify.cohens_kappa, [
        *_DOCS, {"op": "select", "columns": [
            "lang = 'en' AS a", "n_chars % 2 = 0 AS b",
        ]},
    ], {"col_a": "a", "col_b": "b"}, None),
    "chi2_terms": (classify.chi2_terms, [
        *_DOCS, {"op": "select", "columns": [
            "doc_id", "text", "lang = 'en' AS is_en",
        ]},
    ], {"label_col": "is_en", "k": 10}, None),
    "editdist_join": (strings.edit_distance_join,
                      [{"op": "load", "table": "nation"}],
                      {"id_col": "n_nationkey", "str_col": "n_name"},
                      None),
    "bm25": (text.bm25_topk, _DOCS,
             {"query_terms": ["spark", "join"], "k": 5}, None),
    "ngram_novelty": (text.ngram_novelty, _DOCS, {"k": 2}, None),
    "quantile_digest": (sketches.cluster_digest, _EVENTS,
                        {"value_col": "value", "groups": ["event_type"],
                         "m": 8, "tie_col": "event_id"}, None),
    "intra_repeats": (dedup.intra_doc_repeats, _DOCS,
                      {"k": 3, "min_tokens": 4}, None),
    "ppjoin_dedup": (dedup.near_dup_pairs_ngram, _DOCS,
                     {"k": 3, "threshold": 0.5}, None),
    "containment_dedup": (dedup.containment_pairs, _DOCS,
                          {"threshold": 0.8}, None),
    "asof_join": (joins.asof_join, _events_of("purchase"),
                  {"on": ["user_id"], "values": ["event_id", "value"],
                   "tolerance_sec": 21600, "tiebreak": "event_id"},
                  _events_of("view")),
    "range_join": (joins.range_join, _events_as("a"),
                   {"on": ["user_id"], "left_val": "us_a",
                    "right_val": "us_b", "band": 600e6},
                   _events_as("b")),
    "hard_negatives": (similarity.hard_negatives, _EMB, {"k": 3}, [
        *_EMB, {"op": "filter", "condition": "vec_id < 4"},
    ]),
    "embedding_drift": (similarity.embedding_drift, _EMB,
                        {"dim": 64, "n_centroids": 8}, [
        *_EMB, {"op": "filter", "condition": "vec_id % 2 = 0"},
    ]),
}


@pytest.mark.parametrize("op", sorted(
    {**flows._TABLE_STAGES, **flows._TWO_INPUT_TABLE_STAGES}
))
def test_table_stage_equals_direct_call(spark, sf_dir, op):
    """Every table stage is wiring only: the flow's rows equal the
    direct call of the function with the same config."""
    fn, head, spec, right_head = _TABLE_STAGE_CASES[op]
    args = [build_flow(spark, head, sf_dir)]
    flow = [*head, {"op": op, **spec}]
    if right_head is not None:
        args.append(build_flow(spark, right_head, sf_dir))
        flow = [*right_head, {"op": "tag", "name": "r"},
                *head, {"op": op, "right": "r", **spec}]
    got = build_flow(spark, json.loads(json.dumps(flow)), sf_dir).collect()
    want = fn(*args, **spec).collect()
    assert want, f"{op}: no rows on the fixtures, so the case checks nothing"
    assert sorted(map(tuple, got), key=repr) == sorted(
        map(tuple, want), key=repr
    )


def test_table_stage_config_errors(spark, sf_dir):
    """A key the function lacks is a TypeError naming it; a two-input
    table stage without `right` fails with the stage index."""
    with pytest.raises(TypeError, match="bogus"):
        build_flow(spark, [*_DOCS, {"op": "dedup_exact", "bogus": 1}], sf_dir)
    with pytest.raises(TypeError, match="bogus"):
        build_flow(spark, [
            *_EMB, {"op": "tag", "name": "q"}, *_EMB,
            {"op": "hard_negatives", "right": "q", "bogus": 1},
        ], sf_dir)
    with pytest.raises(KeyError, match="stage 1: asof_join references "
                                       "untagged frame None"):
        build_flow(spark, [*_EVENTS, {"op": "asof_join", "on": ["user_id"]}],
                   sf_dir)
