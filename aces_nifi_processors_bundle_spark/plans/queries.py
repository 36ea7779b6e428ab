"""Query catalog: one entry per operator family from SURVEY.md §2,
each paired with an ANSI-SQL DuckDB oracle in `oracles.py`.

Conventions for driver-compare safety (the driver sorts columns by
name and hashes values):
- every computed column is aliased identically in Spark and SQL
- float aggregates are computed in DECIMAL where exact, else rounded
- arrays are sorted and joined to strings
- timestamps are rendered as formatted strings

A query that is one flow (flows.py) is written as a flow document,
``q_name = _flow(stage, ...)``: its ordering is a trailing ``sql``
stage, its column expressions a ``select`` stage, and a second input
a ``filter`` + ``tag`` branch. A query that needs more than the
existing stages and keys stays a Python function.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.attributes_to_json import AttributesToJsonConfig, attributes_to_json
from ..operators.binning import (
    DateBinner,
    GeoTileBinner,
    LiteralBinner,
    MergedBinner,
    bin_count,
    bin_records,
)
from ..operators.partial_update import PartialUpdateConfig, partial_update
from ..operators.put_if_absent import put_if_absent
from ..operators.security_marking import SecurityMarkingConfig, convert_security_marking
from ..sources.registry import load_table

# --- per-run scratch space ---------------------------------------------
# Store/stream/layout queries materialize side tables; queries return
# LAZY DataFrames, so per-call cleanup is impossible (the driver
# collects after the function returns). Instead every temp dir lives
# under one per-process scratch root removed at interpreter exit —
# repeated correctness/bench sweeps no longer accumulate orphaned
# /tmp/aces_* directories (each process cleans its own).

import atexit as _atexit
import shutil as _shutil
import tempfile as _tempfile

_SCRATCH_ROOT: str | None = None


def _scratch(prefix: str) -> str:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = _tempfile.mkdtemp(prefix="aces_scratch_")
        _atexit.register(_shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return _tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _flow(*stages: dict) -> Callable[[SparkSession, str], DataFrame]:
    """A registry query that runs `stages` as one flow document."""
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        # imported per call so a wrapped flows.build_flow (perfbench's
        # tracer) is the one that runs
        from ..flows import build_flow

        return build_flow(spark, list(stages), sf_dir)
    return query


def _trained_tokenizer(
    docs: DataFrame,
) -> tuple[list[tuple[str, str]], DataFrame, list[str]]:
    """The 20-merge corpus-trained tokenizer every trained-tokenizer
    composition query starts from, with its driver-local derived
    frames.

    The merge elections are bpe_train's (graded against the DuckDB
    election oracle by q_bpe_train). The SAME piece-vocabulary collect
    also yields (a) the tokenized vocabulary (w, toks) local table
    bpe_encode / bpe_token_counts broadcast instead of re-scanning the
    corpus for the distinct-word fold, and (b) the distinct word list
    bpe_vocab_local derives the id table from instead of bpe_vocab's
    two corpus scans. The derived frames are pinned row-identical to
    their distributed siblings by
    tests/test_pipeline.py::test_bpe_local_vocab_frames_equal_distributed."""
    from ..pipeline.text import bpe_train_collected, bpe_vocab_tokens_local

    merges, vocab = bpe_train_collected(docs.select("text"), num_merges=20)
    words = [w for w, _ in vocab]
    vt = bpe_vocab_tokens_local(docs.sparkSession, words, merges)
    return merges, vt, words


# --- O3 flagship: bin events by day × event_type and count -------------

FLAGSHIP_BINNERS = [
    DateBinner(bin_name="byDay", data_field="ts", granularity="DAY"),
    LiteralBinner(bin_name="byType", data_field="event_type"),
    MergedBinner(bin_name="dayType", components=["byDay", "byType"]),
]


def q_bin_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date + literal + merged binning over events, counted.

    Exercises cast/date_format/explode/groupBy-count — the minimum
    end-to-end slice from SURVEY.md §7 step 1.
    """
    events = load_table(spark, sf_dir, "events")
    return bin_count(events, FLAGSHIP_BINNERS).orderBy("name")


# --- O1: typed attribute projection (BetterAttributesToJSON) -----------

def _attr_bag(events: DataFrame) -> DataFrame:
    """Deterministic attribute bag derived from events (FIXTURES.md F1).

    All-string columns, like a FlowFile's Map<String,String>: values
    chosen to exercise every type list (integral strings only — Java
    parseInt and both engines agree there; decimals would diverge:
    DuckDB TRY_CAST rounds, Spark try_cast nulls, Java throws).
    """
    eid = F.col("event_id")
    return events.select(
        eid.cast("string").alias("event_id"),
        F.when(eid % 7 == 0, F.lit(None)).otherwise(F.col("event_type")).alias("etype"),
        F.when(eid % 3 == 0, F.lit("true"))
        .when(eid % 3 == 1, F.lit("TRUE"))
        .otherwise(F.lit("no"))
        .alias("flag"),
        F.get_json_object("props", "$.k").alias("n"),
        F.floor(F.col("value") * 100).cast("string").alias("score100"),
        F.unix_millis(F.col("ts")).cast("string").alias("epoch_ms"),
        F.concat(
            F.lit("["), (F.col("user_id") % 10).cast("string"), F.lit(".5,"),
            (F.col("user_id") % 7).cast("string"), F.lit(".25]"),
        ).alias("dbl_arr"),
        F.concat(
            F.lit("["), (F.col("user_id") % 10).cast("string"), F.lit(","),
            (F.col("user_id") % 5).cast("string"), F.lit(",3]"),
        ).alias("int_arr"),
    )


ATTRS_CFG = AttributesToJsonConfig(
    string_attrs=["event_id", "etype"],
    bool_attrs=["flag"],
    int_attrs=["n"],
    double_attrs=["score100"],
    epoch_date_attrs=["epoch_ms"],
    double_array_sum_attrs=["dbl_arr"],
    int_array_sum_attrs=["int_arr"],
)


def q_attrs_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 complete: string/bool/int/double defaults, epoch→ISO string,
    double- and int-array sums. All rows parse → success frame only."""
    events = load_table(spark, sf_dir, "events")
    return attributes_to_json(_attr_bag(events), ATTRS_CFG).success


def q_attrs_failure_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 failure relationship: unparseable int attrs route to failure
    (NumberFormatException analog, BetterAttributesToJSON.java:368-371)."""
    events = load_table(spark, sf_dir, "events")
    bag = events.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.when(F.col("event_id") % 10 == 0, F.concat(F.lit("x"), F.col("event_id")))
        .otherwise(F.col("event_id").cast("string"))
        .alias("n"),
    )
    routed = attributes_to_json(
        bag, AttributesToJsonConfig(string_attrs=["event_id"], int_attrs=["n"])
    )
    ok = routed.success.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("success").alias("relationship"), "n"
    )
    bad = routed.failure.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("failure").alias("relationship"), "n"
    )
    return ok.unionByName(bad)


# --- O3: numeric / geotile / multiple-mode binning ---------------------

q_bin_numeric = _flow(
    {"op": "load", "table": "events"},
    {"op": "bin_count", "binners": [
        {"kind": "numeric", "bin_name": "byValue", "data_field": "value",
         "max_level": 3},
    ]},
    {"op": "sql", "query": "SELECT * FROM __this__ ORDER BY name"},
)


GEO_MAX_LEVEL = 6


def _with_geo(events: DataFrame) -> DataFrame:
    """Deterministic lat/lon derivation (FIXTURES.md F3)."""
    return events.withColumn(
        "lat", (F.col("value") % 85.0) - 42.5
    ).withColumn("lon", ((F.col("user_id") * 77) % 360).cast("double") - 180.0)


def q_bin_geotile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTileBinner: Web-Mercator quadkeys, zoom 0..6."""
    events = _with_geo(load_table(spark, sf_dir, "events"))
    return bin_count(
        events,
        [GeoTileBinner(bin_name="byTile", lat_field="lat", lon_field="lon",
                       max_level=GEO_MAX_LEVEL)],
    ).orderBy("name")


# "mulitple" (sic) is the reference's spelling of the all-bins-in-one-
# record output mode.
q_bin_multiple_mode = _flow(
    {"op": "load", "table": "events"},
    {"op": "bin", "output_mode": "mulitple", "keep": ["event_id"],
     "binners": [
         {"kind": "date", "bin_name": "byDay", "data_field": "ts",
          "granularity": "DAY"},
         {"kind": "literal", "bin_name": "byType", "data_field": "event_type"},
         {"kind": "merged", "bin_name": "dayType",
          "components": ["byDay", "byType"]},
     ]},
    {"op": "select", "columns": ["event_id", "array_join(bins, ';') AS bins"]},
)


def q_bin_failure_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 relationship model (DataBinningProcessor.java:85-96): JSON
    FlowFile content → bin / original / failure. Every 10th record's
    content is truncated JSON → failure (:316-318); the rest fan out
    two bins each (byDay + byType)."""
    from ..operators.binning import bin_json_flowfiles

    events = load_table(spark, sf_dir, "events")
    content = (
        F.when(F.col("event_id") % 10 == 0, F.lit('{"broken'))
        .otherwise(
            F.to_json(
                F.struct(
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    F.col("event_type"),
                )
            )
        )
    )
    df = events.select(F.col("event_id"), content.alias("content"))
    routed = bin_json_flowfiles(
        df,
        "content",
        "ts timestamp, event_type string",
        [
            DateBinner(bin_name="byDay", data_field="ts", granularity="DAY"),
            LiteralBinner(bin_name="byType", data_field="event_type"),
        ],
    )
    out = None
    for rel in ["bin", "original", "failure"]:
        c = routed[rel].agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(rel).alias("relationship"), "n"
        )
        out = c if out is None else out.unionByName(c)
    return out


def q_bin_filenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 output metadata: mime.type=application/json and the
    bin-<name>.json filename attribute per emitted bin record
    (DataBinningProcessor.java:284-285)."""
    from ..operators.binning import bin_records, with_bin_metadata

    events = load_table(spark, sf_dir, "events")
    meta = with_bin_metadata(bin_records(events, FLAGSHIP_BINNERS))
    return meta.groupBy("name", "filename", "`mime.type`").agg(
        F.count(F.lit(1)).alias("total")
    )


# --- O2: security marking parse ---------------------------------------

MARKING_CFG = SecurityMarkingConfig(
    levels_to_convert_to=["UNCLASSIFIED", "CONFIDENTIAL", "SECRET", "TOPSECRET"],
    levels_can_receive=["UNCLASS", "CONF", "SECRET", "TS"],
    level_abbrevs_can_receive=["U", "C", "S", "T"],
    compartments=["ALPHA", "BRAVO"],
    dissemination_controls=["NOFORN", "RELTO"],
    releasabilities=["ABC", "XYZ"],
    delimiter="//",
)

_MARKING_CASES = [
    "SECRET//ALPHA//NOFORN",
    "TS//BRAVO//XYZ",
    "UNCLASS",
    "C//ALPHA//BRAVO//ABC//RELTO",
    "",  # blank → failure route (IllegalStateException, :414-416)
]


def _with_marking(orders: DataFrame) -> DataFrame:
    k = F.col("o_orderkey") % 5
    expr = F.lit(_MARKING_CASES[0])
    for i in range(1, 5):
        expr = F.when(k == i, F.lit(_MARKING_CASES[i])).otherwise(expr)
    return orders.select("o_orderkey", expr.alias("marking"))


def q_security_marking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: marking → classification struct; blank markings excluded
    (failure route). Arrays rendered as sorted csv for oracle parity."""
    orders = load_table(spark, sf_dir, "orders")
    routed = convert_security_marking(_with_marking(orders), "marking", MARKING_CFG)
    c = F.col("classification")
    return routed.success.select(
        "o_orderkey",
        "marking",
        F.array_join(c.getField("levels"), ",").alias("level"),
        F.array_join(F.array_sort(c.getField("compartments")), ",").alias("compartments"),
        F.array_join(F.array_sort(c.getField("releasabilities")), ",").alias("releasabilities"),
        F.array_join(F.array_sort(c.getField("disseminationControls")), ",").alias("dissem"),
    )


# --- O4: partial update merge -----------------------------------------

PU_NOW = "2026-01-01 00:00:00"


def _pu_target(customer: DataFrame) -> DataFrame:
    return customer.select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 10).cast("int").alias("visits"),
        F.array(F.col("c_mktsegment")).alias("tags"),
        F.lit(None).cast("timestamp").alias("lastUpdated"),
    )


def _pu_source(customer: DataFrame) -> DataFrame:
    upd = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") * 2).alias("c_acctbal"),
        F.lit(5).alias("visits"),
        F.concat(F.lit("t"), (F.col("c_custkey") % 2).cast("string")).alias("tags"),
    )
    ins = customer.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.lit(999.25).alias("c_acctbal"),
        F.lit(7).alias("visits"),
        F.lit("tnew").alias("tags"),
    )
    return upd.unionByName(ins)


def q_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: $set + $inc + $addToSet + $currentDate with upsert; output is
    the merged post-state (the Delta-MERGE analog's table scan)."""
    customer = load_table(spark, sf_dir, "customer")
    cfg = PartialUpdateConfig(
        keys=["c_custkey"],
        operations={
            "c_acctbal": "$set",
            "visits": "$inc",
            "tags": "$addToSet",
            "lastUpdated": "$currentDate",
        },
        upsert=True,
        now=PU_NOW,
    )
    res = partial_update(_pu_target(customer), _pu_source(customer), cfg)
    return res.post_state.select(
        "c_custkey",
        "c_acctbal",
        F.col("visits").cast("int").alias("visits"),
        F.array_join(F.array_sort("tags"), ",").alias("tags"),
        F.date_format("lastUpdated", "yyyy-MM-dd HH:mm:ss").alias("lastUpdated"),
    )


def q_partial_update_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 dot-path updates: $set and $inc on one-level parent.child
    struct fields (PartialUpdateMongo.java:537-543 enforces exactly two
    path segments; dot-path build :558-589). Post-state flattened so
    the oracle compares plain columns."""
    customer = load_table(spark, sf_dir, "customer")
    target = customer.select(
        "c_custkey",
        F.struct(
            F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("bal")
        ).alias("profile"),
    )
    source = customer.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.struct(
            F.when(F.col("c_custkey") % 8 == 0, F.lit("VIP")).alias("seg"),
            F.lit(100.0).alias("bal"),
        ).alias("profile"),
    )
    cfg = PartialUpdateConfig(
        keys=["c_custkey"],
        operations={"profile.seg": "$set", "profile.bal": "$inc"},
        upsert=False,
    )
    res = partial_update(target, source, cfg)
    return res.post_state.select(
        "c_custkey",
        F.col("profile").getField("seg").alias("seg"),
        F.col("profile").getField("bal").alias("bal"),
    )


def q_partial_update_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 routing: success vs success-unmodified vs insert counts
    (modifiedCount analog, PartialUpdateMongo.java:253-275). A no-op
    update batch ($set to the existing value) lands in unmodified."""
    customer = load_table(spark, sf_dir, "customer")
    target = _pu_target(customer)
    # half the updates set c_acctbal to its CURRENT value → unmodified
    src = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 6 == 0, F.col("c_acctbal"))
        .otherwise(F.col("c_acctbal") * 2)
        .alias("c_acctbal"),
    )
    cfg = PartialUpdateConfig(
        keys=["c_custkey"], operations={"c_acctbal": "$set"}, upsert=False
    )
    res = partial_update(target, src, cfg)
    mod = res.success.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("success").alias("relationship"), "n"
    )
    unmod = res.success_unmodified.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("success-unmodified").alias("relationship"), "n"
    )
    return mod.unionByName(unmod)


def q_profile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-event-type distribution stats (count, mean,
    exact interpolated p50/p95/p99). Spark's percentile and DuckDB's
    quantile_cont both use linear interpolation on the sorted values,
    so the profile is oracle-matched after rounding. Exact percentile
    sorts per group — fine for profiling runs; approx_percentile is
    the streaming/huge-group variant (sketch differs per engine, so
    it's deliberately not the oracled path)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_profile_values_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HUGE-GROUP profiling variant: percentile_approx (a
    Greenwald-Khanna sketch, mergeable map-side, O(accuracy) memory
    instead of a per-group sort) — the path a 100 TB profile run
    takes. While group sizes stay under the sketch accuracy the result
    is exactly the rank statistic DuckDB's quantile_disc computes, so
    THIS query is oracle-matched too; past that size the sketch is
    rank-accurate to n/accuracy (the documented trade)."""
    events = load_table(spark, sf_dir, "events")
    acc = 100_000
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.percentile_approx("value", 0.5, acc), 6).alias("p50"),
        F.round(F.percentile_approx("value", 0.95, acc), 6).alias("p95"),
        F.round(F.percentile_approx("value", 0.99, acc), 6).alias("p99"),
    )


def q_flow_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship binning assembled from a JSON-able flow definition
    (flows.py — the NiFi canvas analog) instead of hand-composed code;
    must hash-match the same oracle as q_bin_flagship."""
    from ..flows import build_flow

    flow = [
        {"op": "load", "table": "events"},
        {
            "op": "bin_count",
            "binners": [
                {"kind": "date", "bin_name": "byDay", "data_field": "ts",
                 "granularity": "DAY"},
                {"kind": "literal", "bin_name": "byType",
                 "data_field": "event_type"},
                {"kind": "merged", "bin_name": "dayType",
                 "components": ["byDay", "byType"]},
            ],
        },
    ]
    return build_flow(spark, flow, sf_dir).orderBy("name")


def q_flow_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full NiFi relationship fan-out as one flow document: a
    `route` stage splits security_marking into success + failure
    branches, SUCCESSES flow to an aggregate report sink while
    FAILURES are wired (via `use`) into a keyed store whose post-state
    is summarized, and a `union` stage joins the two branch reports —
    hash-matched against a two-branch oracle."""
    from ..flows import build_flow

    marking_case = (
        "CASE o_orderkey % 5 "
        "WHEN 0 THEN 'SECRET//ALPHA//NOFORN' "
        "WHEN 1 THEN 'TS//BRAVO//XYZ' "
        "WHEN 2 THEN 'UNCLASS' "
        "WHEN 3 THEN 'C//ALPHA//BRAVO//ABC//RELTO' "
        "ELSE '' END"
    )
    flow = [
        {"op": "load", "table": "orders"},
        {"op": "sql", "query": f"SELECT o_orderkey, {marking_case} AS marking "
                               "FROM __this__"},
        {
            "op": "route",
            "using": "security_marking",
            "marking_col": "marking",
            "tags": {"failure": "bad"},
            "continue": "success",
            "levels_to_convert_to": ["UNCLASSIFIED", "CONFIDENTIAL", "SECRET",
                                     "TOPSECRET"],
            "levels_can_receive": ["UNCLASS", "CONF", "SECRET", "TS"],
            "level_abbrevs_can_receive": ["U", "C", "S", "T"],
            "compartments": ["ALPHA", "BRAVO"],
            "dissemination_controls": ["NOFORN", "RELTO"],
            "releasabilities": ["ABC", "XYZ"],
            "delimiter": "//",
        },
        {"op": "sql", "query": "SELECT 'success' AS branch, COUNT(*) AS n, "
                               "SUM(o_orderkey) AS key_sum FROM __this__"},
        {"op": "tag", "name": "ok_report"},
        {"op": "use", "tag": "bad"},
        {"op": "select", "columns": ["o_orderkey", "marking"]},
        {"op": "store_init", "path": _scratch("aces_flow_routed_"),
         "keys": ["o_orderkey"], "n_buckets": 8},
        {"op": "sql", "query": "SELECT 'failure' AS branch, COUNT(*) AS n, "
                               "SUM(o_orderkey) AS key_sum FROM __this__"},
        {"op": "union", "right": "ok_report"},
    ]
    return build_flow(spark, flow, sf_dir)


def q_flow_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete NiFi graph as ONE flow document: source → transform
    (sql) → keyed-store init → two merge batches → final projection —
    the store stages are flow ACTIONS (terminal processors), and mid-
    flow `load` stages start each batch's chain (flows.py). Must
    hash-match q_store_merge's oracle exactly."""

    from ..flows import build_flow

    path = _scratch("aces_flow_store_")
    store_cfg = {"path": path, "keys": ["c_custkey"], "n_buckets": 16}
    ops = {"c_acctbal": "$set", "visits": "$inc", "lastUpdated": "$currentDate"}
    flow = [
        {"op": "load", "table": "customer"},
        {"op": "sql", "query": """
            SELECT c_custkey, c_acctbal,
                   CAST(c_custkey % 10 AS INT) AS visits,
                   CAST(NULL AS TIMESTAMP) AS lastUpdated
            FROM __this__"""},
        {"op": "store_init", **store_cfg},
        {"op": "load", "table": "customer"},
        {"op": "sql", "query": """
            SELECT c_custkey, c_acctbal * 2 AS c_acctbal, 5 AS visits
            FROM __this__ WHERE c_custkey % 3 = 0
            UNION ALL
            SELECT c_custkey + 100000 AS c_custkey,
                   CAST(999.25 AS DOUBLE) AS c_acctbal, 7 AS visits
            FROM __this__ WHERE c_custkey % 7 = 0"""},
        {"op": "store_merge", **store_cfg, "operations": ops, "upsert": True,
         "now": STORE_NOW1},
        {"op": "load", "table": "customer"},
        {"op": "sql", "query": """
            SELECT c_custkey, c_acctbal + 10 AS c_acctbal, 1 AS visits
            FROM __this__ WHERE c_custkey % 4 = 0
            UNION ALL
            SELECT c_custkey + 100000 AS c_custkey,
                   CAST(111.5 AS DOUBLE) AS c_acctbal, 2 AS visits
            FROM __this__ WHERE c_custkey % 14 = 0
            UNION ALL
            SELECT c_custkey + 200000 AS c_custkey,
                   CAST(5.25 AS DOUBLE) AS c_acctbal, 3 AS visits
            FROM __this__ WHERE c_custkey % 11 = 0"""},
        {"op": "store_merge", **store_cfg, "operations": ops, "upsert": True,
         "now": STORE_NOW2},
        {"op": "sql", "query": """
            SELECT c_custkey, c_acctbal, CAST(visits AS INT) AS visits,
                   date_format(lastUpdated, 'yyyy-MM-dd HH:mm:ss') AS lastUpdated
            FROM __this__"""},
    ]
    return build_flow(spark, flow, sf_dir)


def q_partial_update_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 match-many (updateMany, PartialUpdateMongo.java:473-475): keyed
    on the non-unique o_custkey, so one combined source row applies to
    every matching order row. The batch carries TWO source rows per key
    ($set values ranked by order_col — later seq wins; $inc amounts sum),
    exercising the deterministic pre-combine."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    keys = orders.select("o_custkey").distinct().filter(F.col("o_custkey") % 10 == 0)
    src = keys.select(
        "o_custkey",
        F.lit(1).alias("seq"),
        F.lit("0-STALE").alias("o_orderpriority"),
        F.lit(10.0).alias("o_totalprice"),
    ).unionByName(
        keys.select(
            "o_custkey",
            F.lit(2).alias("seq"),
            F.lit("9-RUSH").alias("o_orderpriority"),
            F.lit(5.0).alias("o_totalprice"),
        )
    )
    cfg = PartialUpdateConfig(
        keys=["o_custkey"],
        operations={"o_orderpriority": "$set", "o_totalprice": "$inc"},
        upsert=False,
        mode="many",
        order_col="seq",
    )
    res = partial_update(target, src, cfg)
    return res.post_state.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


# --- O4/O5 storage-backed: keyed parquet store -------------------------

STORE_NOW1 = "2026-01-01 00:00:00"
STORE_NOW2 = "2026-02-02 00:00:00"


def _store_target(customer: DataFrame) -> DataFrame:
    return customer.select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 10).cast("int").alias("visits"),
        F.lit(None).cast("timestamp").alias("lastUpdated"),
    )


def q_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 as a PERSISTENT incremental merge: two successive update
    batches against a keyed parquet store (PartialUpdateMongo.java:
    431-454's bulk upsert into a real keyed collection — the
    reference's entire purpose). Each merge reads and rewrites only
    the hash-buckets containing the batch's keys; the final table
    state must equal DuckDB's two-step merge simulation."""

    from ..stores import KeyedParquetStore

    customer = load_table(spark, sf_dir, "customer")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_merge_"),
        keys=["c_custkey"],
        n_buckets=16,
    )
    store.init(_store_target(customer))

    ops = {"c_acctbal": "$set", "visits": "$inc", "lastUpdated": "$currentDate"}
    batch1 = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") * 2).alias("c_acctbal"),
        F.lit(5).alias("visits"),
    ).unionByName(
        customer.filter(F.col("c_custkey") % 7 == 0).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"),
            F.lit(999.25).alias("c_acctbal"),
            F.lit(7).alias("visits"),
        )
    )
    store.merge(batch1, PartialUpdateConfig(keys=["c_custkey"], operations=ops,
                                            upsert=True, now=STORE_NOW1))
    batch2 = customer.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 10).alias("c_acctbal"),
        F.lit(1).alias("visits"),
    ).unionByName(
        customer.filter(F.col("c_custkey") % 14 == 0).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"),
            F.lit(111.5).alias("c_acctbal"),
            F.lit(2).alias("visits"),
        )
    ).unionByName(
        customer.filter(F.col("c_custkey") % 11 == 0).select(
            (F.col("c_custkey") + 200000).alias("c_custkey"),
            F.lit(5.25).alias("c_acctbal"),
            F.lit(3).alias("visits"),
        )
    )
    store.merge(batch2, PartialUpdateConfig(keys=["c_custkey"], operations=ops,
                                            upsert=True, now=STORE_NOW2))
    return store.read().select(
        "c_custkey",
        "c_acctbal",
        F.col("visits").cast("int").alias("visits"),
        F.date_format("lastUpdated", "yyyy-MM-dd HH:mm:ss").alias("lastUpdated"),
    )


def q_store_put_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 as a persistent duplicate-checked insert: two put batches
    into the keyed store (second batch re-offers already-inserted keys
    and contains in-batch duplicates); returns the per-batch routing
    metrics — collected by DataFrame.observe DURING each append job,
    the modifiedCount analog — plus the final table size."""

    from ..stores import KeyedParquetStore

    orders = load_table(spark, sf_dir, "orders")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_put_"),
        keys=["o_orderkey"],
        n_buckets=16,
    )
    store.init(orders.filter(F.col("o_orderkey") % 2 == 0))
    m1 = store.put_if_absent(orders.filter(F.col("o_orderkey") % 5 == 0))
    m2 = store.put_if_absent(
        orders.filter(F.col("o_orderkey") % 5 == 0).unionByName(
            orders.filter(F.col("o_orderkey") % 3 == 0)
        )
    )
    final_count = store.read().count()
    return spark.createDataFrame(
        [
            ("put1-inserted", m1.inserted),
            ("put1-already", m1.unmodified),
            ("put2-inserted", m2.inserted),
            ("put2-already", m2.unmodified),
            ("final-count", final_count),
        ],
        "relationship string, n long",
    )


# --- O5: put if absent -------------------------------------------------

def q_put_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: insert-with-duplicate-check routing counts + post-state size.

    Source: existing keys (→ already-exists), new keys (→ success), and
    in-batch duplicates of some new keys (first wins, second routes to
    already-exists like the reference's one-at-a-time dup error)."""
    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 2 == 0)
    fresh = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        *[c for c in orders.columns if c != "o_orderkey"],
    )
    dupes = fresh.filter(F.col("o_orderkey") % 15 == 0)
    source = existing.unionByName(fresh).unionByName(dupes)
    routed, post = put_if_absent(orders, source, ["o_orderkey"])
    return (
        routed.success.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("success").alias("relationship"), "n")
        .unionByName(
            routed.frames["already-exists"].agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("already-exists").alias("relationship"), "n")
        )
        .unionByName(
            post.agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("post-state").alias("relationship"), "n")
        )
    )


q_bin_date_granularities = _flow(
    {"op": "load", "table": "events"},
    {"op": "bin_count", "binners": [
        {"kind": "date", "bin_name": "byYear", "data_field": "ts",
         "granularity": "YEAR"},
        {"kind": "date", "bin_name": "byMonth", "data_field": "ts",
         "granularity": "MONTH"},
        {"kind": "date", "bin_name": "byHour", "data_field": "ts",
         "granularity": "HOUR"},
        {"kind": "date", "bin_name": "bySec", "data_field": "ts",
         "granularity": "SEC"},
        # an invalid granularity falls back to MIN like
        # DateGranularity.valueOf (DataBinningProcessor.java:151-164)
        {"kind": "date", "bin_name": "byMin", "data_field": "ts",
         "granularity": "BOGUS"},
    ]},
    {"op": "sql", "query": "SELECT * FROM __this__ ORDER BY name"},
)


def q_attrs_json_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 JSON body emission: the typed map serialized as one JSON
    document per record (BetterAttributesToJSON.java:356-364). Only
    never-null fields (string ''-default, bool false-default) go into
    the body so Spark's null-dropping to_json matches DuckDB's."""
    events = load_table(spark, sf_dir, "events")
    cfg = AttributesToJsonConfig(
        string_attrs=["event_id", "etype"],
        bool_attrs=["flag"],
        include_all_when_empty=False,
        emit_json_body=True,
    )
    out = attributes_to_json(_attr_bag(events), cfg).success
    return out.select(F.col("event_id"), F.col("json_body"))


# --- North-star extensions: text analysis ------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) corpus stats: doc count, char/word/punct sums.

    Pure projections + one partial-agg groupBy; integer sums → exact
    cross-engine parity without rounding."""
    from ..pipeline.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    f_ = quality_features(F.col("text"))
    per_doc = docs.select(
        "lang", "source",
        f_["n_chars"].alias("nc"), f_["n_words"].alias("nw"), f_["n_punct"].alias("np"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("nc").alias("sum_chars"),
        F.sum("nw").alias("sum_words"),
        F.sum("np").alias("sum_punct"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-marker argmax) per document."""
    from ..pipeline.text import predict_language

    docs = load_table(spark, sf_dir, "documents")
    return predict_language(docs).select("doc_id", "lang", "pred_lang")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (C4/Gopher-style
    cheap filters). Ratios are deterministic IEEE divisions of exact
    ints — no rounding needed for oracle parity."""
    from ..pipeline.text import quality_features, quality_score

    docs = load_table(spark, sf_dir, "documents")
    f_ = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f_["n_words"].alias("n_words"),
        f_["avg_word_len"].alias("avg_word_len"),
        f_["punct_ratio"].alias("punct_ratio"),
        f_["stopword_ratio"].alias("stopword_ratio"),
        quality_score(F.col("text")).alias("score"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-MD5 over word-3-gram shingles
    (exploded + map-side-combined groupBy — the scale path)."""
    from ..pipeline.text import fingerprint_rows

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_rows(docs)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace words + BPE-ish regex
    pieces (letter runs / digit runs / punct singles) — the standard
    pre-tokenizer cost estimate, computable engine-side."""
    from ..pipeline.text import token_count_bpe_ish, word_count

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        word_count(F.col("text")).alias("nw"),
        token_count_bpe_ish(F.col("text")).alias("nt"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("nw").alias("sum_words"),
        F.sum("nt").alias("sum_tokens"),
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merges-table-accurate BPE token counts per document
    (pipeline/text.py::bpe_token_counts): pre-tokenize → fold the
    ranked BPE_MERGES fixture over the DISTINCT word vocabulary (the
    expensive per-word fold is vocabulary-bounded, not corpus-bounded)
    → join back and sum. The ascending-rank fold is provably identical
    to classic repeat-the-min-rank-pair BPE (see the BPE_MERGES module
    comment; pytest cross-checks a reference Python implementation);
    the oracle replays the SAME fold with DuckDB list_reduce lambdas
    over the same merges literal — integer counts, value-hash exact."""
    from ..pipeline.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_token_counts(docs)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED BPE merge table (pipeline/text.py::bpe_train): the
    public Sennrich et al. 2016 algorithm over the documents corpus —
    one distributed scan collects the counted word-piece vocabulary,
    then the collected trainer elects 20 ranked merges, each by a
    weighted pair count (overlapping adjacencies, get_stats semantics)
    with a UTF-8-byte tie-break. Registered as both q_bpe_train and
    q_bpe_train_fast: both names grade this collected trainer. The
    oracle re-derives every election: 20 chained MATERIALIZED CTE
    stages, each recomputing pair counts and the argmax — the training
    ARITHMETIC is what the gate checks, not a stored table."""
    from ..pipeline.text import bpe_merges_df, bpe_train

    docs = load_table(spark, sf_dir, "documents").select("text")
    return bpe_merges_df(spark, bpe_train(docs, num_merges=20)).orderBy(
        "rank"
    )


def q_token_count_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the TRAINED merges table:
    bpe_train's 20 corpus-learned merges replayed by
    bpe_token_counts over the distinct vocabulary — the counts that
    token-budget mixing (q_mix_token_budget, q_mix_temperature) should
    allocate by once a real tokenizer is trained. The oracle trains
    the same table in SQL and reads each word's token count off the
    final training state (valid by the classic-BPE equivalence in the
    text.py module comment: replaying merges in rank order reproduces
    the training-time tokenization exactly)."""
    from ..pipeline.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, _ = _trained_tokenizer(docs)
    return bpe_token_counts(
        docs, merges=merges, out_col="n_tokens_trained", vocab_tokens=vt
    ).orderBy("doc_id")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer ENCODING documents (pipeline/text.py::
    bpe_encode): every 10th doc emitted as (doc_id, pos,
    token) rows under the 20 corpus-trained merges — the actual
    tokenizer output a sequence-packing stage consumes, not just
    counts. The replace fold runs over the distinct vocabulary; the
    only per-doc work is one doc-partitioned window laying (word idx,
    sub-token idx) into flat offsets. The oracle re-trains the table
    (the same 20 MATERIALIZED stages) and reads each word's token list
    off the final training state."""
    from ..pipeline.text import bpe_encode

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, _ = _trained_tokenizer(docs)
    return bpe_encode(
        docs.where(F.col("doc_id") % 10 == 0), merges=merges,
        vocab_tokens=vt,
    ).orderBy("doc_id", "pos")


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer's id VOCABULARY (pipeline/text.py::
    bpe_vocab): base alphabet in UTF-8 byte order, then the
    20 merged symbols at alphabet_size + rank — (token_id, token,
    is_merged), duplicate surfaces resolved to the smaller id. The
    oracle re-derives the alphabet from the training chain's w0
    vocabulary and the merged symbols from the 20 election stages."""
    from ..pipeline.text import bpe_vocab_local

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, _, words = _trained_tokenizer(docs)
    return bpe_vocab_local(spark, words, merges).orderBy("token_id")


def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The id-level token stream (pipeline/text.py::bpe_encode_ids)
    — what a training pipeline actually consumes: every
    10th doc as (doc_id, pos, token_id) under the corpus-trained
    table and the corpus-wide registered vocabulary (ids from the
    corpus, not the subset's own alphabet). The oracle chains the
    encode oracle's token stream into the vocabulary id table."""
    from ..pipeline.text import bpe_encode_ids, bpe_vocab_local

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, words = _trained_tokenizer(docs)
    vocab = bpe_vocab_local(spark, words, merges)
    return bpe_encode_ids(
        docs.where(F.col("doc_id") % 10 == 0), merges=merges, vocab=vocab,
        vocab_tokens=vt,
    ).orderBy("doc_id", "pos")


def q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED packing (pipeline/splits.py::pack_materialize)
    — the last step of the training-data path: the pack
    PLAN (q_pack_trained's shard/prefix-sum/chop layout) applied to
    the actual id-level token stream (q_bpe_encode_ids' sample, the
    registered corpus vocabulary), yielding the fixed-length
    sequences a training loop reads. Graded as one fingerprint row
    per sequence — (shard, seq_id, n_tokens, seq_md5) where seq_md5
    is the md5 of the comma-joined token ids in sequence order — so
    the oracle checks the exact CONTENT of every sequence, boundary
    straddles included, without hashing array columns. The oracle
    chains the encode-ids oracle into the pack algebra and
    string_aggs the ids in pos order."""
    from ..pipeline.splits import pack_materialize, pack_sequences
    from ..pipeline.text import (
        bpe_encode_ids,
        bpe_token_counts,
        bpe_vocab_local,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, words = _trained_tokenizer(docs)
    vocab = bpe_vocab_local(spark, words, merges)
    sub = docs.where(F.col("doc_id") % 10 == 0)
    ids = bpe_encode_ids(sub, merges=merges, vocab=vocab, vocab_tokens=vt)
    counts = bpe_token_counts(sub, merges=merges, out_col="_nt",
                              vocab_tokens=vt)
    plan = pack_sequences(counts, "_nt", 512, id_cols=["doc_id"], n_shards=8)
    mat = pack_materialize(ids, plan, 512)
    return mat.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos_in_seq", "token_id"))
                    ),
                    lambda s: s.getField("token_id").cast("string"),
                ),
                ",",
            )
        ).alias("seq_md5"),
    )


def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's DECODE contract under the oracle gate:
    decode(encode(doc)) must reproduce the pre-tokenizer's
    canonical form (lowercased pieces, whitespace removed) exactly —
    BPE merges are purely concatenative, so the invariant is a graded
    equality, not a claim, and it covers the no-OOV contract too
    (untrained symbols pass through as single-char tokens and decode
    exactly; see bpe_decode's docstring). Every 10th doc (the encode
    sample): (doc_id, n_tokens, roundtrip_ok). The oracle re-trains
    the 20-stage election chain, re-encodes in SQL, string_aggs the
    tokens back and does the same comparison."""
    from ..pipeline.text import (
        bpe_canonical_text,
        bpe_decode,
        bpe_encode,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, _ = _trained_tokenizer(docs)
    sub = docs.where(F.col("doc_id") % 10 == 0)
    enc = bpe_encode(sub, merges=merges, vocab_tokens=vt)
    n_tok = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nt")
    )
    dec = bpe_decode(enc)
    return (
        sub.select(
            "doc_id", bpe_canonical_text(F.col("text")).alias("_canon")
        )
        .join(dec, "doc_id", "left")
        .join(n_tok, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_nt", F.lit(0).cast("bigint")).alias("n_tokens"),
            (
                F.coalesce("decoded", F.lit("")) == F.col("_canon")
            ).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
    )


# --- North-star extensions: dedup ---------------------------------------

def _dup_corpus(docs: DataFrame) -> DataFrame:
    """Documents ∪ planted exact duplicates (doc_id+100000 for %10==0)."""
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    return docs.unionByName(dups)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over a corpus with planted duplicates."""
    from ..pipeline.dedup import exact_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    groups = exact_dup_groups(_dup_corpus(docs))
    return groups.filter(F.col("n_dups") > 1)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash → banded LSH → exact-Jaccard near-dup pairs (the full
    near-dedup pipeline) on the natural near-dups in documents."""
    from ..pipeline.dedup import near_dup_pairs_minhash

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs_minhash(
        docs, num_hashes=8, band_size=2, k=3, threshold=0.5
    )


def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup with the hot-bucket guard UNDER THE ORACLE
    GATE (q_dedup_simhash grades the same guard for simhash): planted
    suffix edits (doc_id+200000) must pair, while a 2-template exact-duplicate
    flood (doc_id+300000, 5% of docs) collapses into band buckets
    bigger than max_bucket=20 and is dropped BEFORE pairing — the
    oracle mirrors the cap with a HAVING count(*) <= 20 on the band
    keys, so the skew guard's semantics are value-hash-checked, not
    just pytest-approximated."""
    from ..pipeline.dedup import near_dup_pairs_minhash

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edited = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted suffix")).alias("text"),
    )
    tpl = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 20 == 5,
            F.lit("click here to accept all cookies and continue now"),
        )
        .otherwise(
            F.lit("copyright all rights reserved terms of service apply")
        )
        .alias("text"),
    )
    corpus = docs.unionByName(edited).unionByName(tpl)
    return near_dup_pairs_minhash(
        corpus, num_hashes=8, band_size=2, k=3, threshold=0.5, max_bucket=20
    )


def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected-component cluster labels (min-id per
    component) — the linear-in-docs dedup output. Oracle reproduces the
    components with a recursive min-reachable-label CTE."""
    from ..pipeline.dedup import near_dup_clusters, near_dup_pairs_minhash

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, num_hashes=8, band_size=2, k=3, threshold=0.5
    )
    return near_dup_clusters(pairs)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over documents + planted one-suffix edits
    (doc_id+200000). Fingerprint = 60 bit-vote SUM aggregates; banding
    by pigeonhole segments; verify by bit_count hamming. Runs the
    guarded default (max_bucket=50): over-full segment buckets are
    dropped before pairing — the oracle mirrors the cap, so the skew
    guard itself is correctness-checked."""
    from ..pipeline.dedup import simhash_near_dups

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edited = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted suffix")).alias("text"),
    )
    corpus = docs.unionByName(edited)
    return simhash_near_dups(corpus, max_hamming=3, max_bucket=50)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads → mapInPandas
    feature extraction (deterministic md5-seeded fake decode; the real
    decoder slot raises DecoderUnavailable). Features rendered as a
    rounded csv so the md5-byte math is oracle-checkable."""
    from ..pipeline.multimodal import extract_features, synth_media_from_documents

    docs = load_table(spark, sf_dir, "documents")
    media = synth_media_from_documents(docs)
    feats = extract_features(media, dim=8)
    # every md5-byte/255 value rounds identically as float32
    # and as float64 at 5 decimals (3 of 256 differ at 6)
    feat_cols = [
        F.round(F.get(F.col("feat"), i).cast("double"), 5).cast("string")
        for i in range(8)
    ]
    return feats.select(
        "media_id", "n_bytes", "payload_hash",
        F.concat_ws(",", *feat_cols).alias("feat_csv"),
    )


# Stream-source staging: readStream needs a directory source, so the
# stream queries materialize the events table once per (process, sf_dir)
# and share it — the copy is test plumbing, not the measured operator.
_STREAM_SRC_DIRS: dict[str, str] = {}


def _table_stream(spark: SparkSession, sf_dir: str, table: str):
    """readStream over a table staged ONCE per (process, sf_dir,
    table) into a local parquet dir — the shared streaming-source
    plumbing every q_stream_* query uses (bench warmup pre-stages it
    so the one-time copy is never billed to a query)."""
    key = f"{sf_dir}#{table}"
    df = load_table(spark, sf_dir, table)
    if key not in _STREAM_SRC_DIRS:
        data_dir = _scratch(f"aces_stream_{table}_")
        df.write.mode("overwrite").parquet(data_dir)
        _STREAM_SRC_DIRS[key] = data_dir
    return spark.readStream.schema(df.schema).parquet(_STREAM_SRC_DIRS[key])


def _events_stream(spark: SparkSession, sf_dir: str):
    return _table_stream(spark, sf_dir, "events")


def _documents_stream(spark: SparkSession, sf_dir: str):
    return _table_stream(spark, sf_dir, "documents")


def _await_stream(q) -> None:
    """awaitTermination with the timeout treated as a FAILURE: a
    timed-out availableNow stream is still appending, so reading its
    sink would return a nondeterministic partial result far from the
    cause. Raise loudly instead."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming query did not finish within 300s")


def q_stream_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN-index maintenance: the embeddings STREAM feeds
    foreachBatch → ivf_append_index, so each micro-batch lands as new
    parquet files inside the existing cid= partition layout — the
    production shape for keeping an IVF index fresh as vectors arrive.
    The final index content (vec_id → cell) is batch-split-independent
    (each vector is appended exactly once, cell assignment depends only
    on the codebook), which is what makes a streaming index SINK
    oracle-able: the oracle recomputes every assignment from the same
    md5 centroids. The epoch id is threaded into the append so a
    replayed micro-batch (foreachBatch is at-least-once) OVERWRITES its
    own epoch=<n> partitions instead of duplicating index rows —
    replay-idempotence, pytest-proven by double-applying an epoch."""
    from ..pipeline.similarity import ivf_append_index
    from ..streaming.binning_stream import foreach_batch_merge

    stream = _table_stream(spark, sf_dir, "embeddings")
    index = _scratch("aces_stream_ivf_") + "/idx"

    def append_fn(batch_df, epoch_id):
        ivf_append_index(batch_df, index, dim=64, n_centroids=16, epoch=epoch_id)

    q = (
        foreach_batch_merge(stream, append_fn, _scratch("aces_fbm_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.read.parquet(index).select(
        "vec_id", F.col("cid").cast("int").alias("cid")
    )


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-CUSUM change monitoring fed by a STREAM: each micro-batch
    lands idempotently in an epoch-partitioned history (foreachBatch
    is at-least-once — a replayed epoch OVERWRITES its own epoch=<n>
    dir instead of double-counting, the q_stream_ivf_append pattern),
    and the decision function is the batch closed-form prefix scan
    (pipeline/timeseries.py::cusum_flags) over the accumulated
    history — the re-scan-on-trigger monitoring deployment, evaluated
    here at stream end. Accumulate-then-scan is what makes a
    CUMULATIVE statistic batch-split-independent: the cumsum needs
    every key's full post-train prefix in event-time order, which no
    single micro-batch can guarantee. Shares the q_changepoint_cusum
    oracle VERBATIM; at 100 TB the per-trigger re-scan composes
    incrementally instead via cusum_flags(chunk_sec=) per-chunk
    (total, min-prefix) summaries over only the chunks a new batch
    touched."""
    from ..pipeline.timeseries import cusum_flags
    from ..streaming.binning_stream import foreach_batch_merge

    stream = _events_stream(spark, sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    acc = _scratch("aces_stream_cusum_") + "/history"

    def append_fn(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{acc}/epoch={epoch_id}")

    q = (
        foreach_batch_merge(stream, append_fn, _scratch("aces_fbm_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    history = spark.read.parquet(acc).drop("epoch")
    return cusum_flags(
        history, "event_type", "ts", "value", "2024-01-10",
        h_cents=25000, slack_cents=2500,
    )


def q_stream_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour rolling aggregates fed by a STREAM, via the same
    idempotent epoch-partitioned accumulate-then-scan as
    q_stream_cusum: a trailing RANGE frame needs every key's
    event-time-ordered history (late rows REWRITE earlier rows'
    windows), so no per-micro-batch computation can be exact — the
    honest streaming form is ingest + re-scan, evaluated at stream
    end. Shares the q_rolling_hourly oracle VERBATIM
    (batch-split-independence); the incremental path at scale is
    rolling_aggregates(chunk_sec=) re-scanning only chunks a new
    batch touched plus their boundary successors."""
    from ..pipeline.timeseries import rolling_aggregates
    from ..streaming.binning_stream import foreach_batch_merge

    stream = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    acc = _scratch("aces_stream_roll_") + "/history"

    def append_fn(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{acc}/epoch={epoch_id}")

    q = (
        foreach_batch_merge(stream, append_fn, _scratch("aces_fbm_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    history = spark.read.parquet(acc).drop("epoch")
    return rolling_aggregates(history, "user_id", "ts", "value", 3600)


def q_stream_bin_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship binning executed under Structured Streaming
    (availableNow trigger → memory sink, complete mode): same
    transforms, same oracle as the batch flagship — streaming is an
    execution mode, not a semantic change (SURVEY.md §1.4)."""
    import uuid

    from ..streaming.binning_stream import stream_bin_count_global

    stream = _events_stream(spark, sf_dir)
    out = stream_bin_count_global(stream, FLAGSHIP_BINNERS)
    qname = f"bins_stream_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).select("name", "total").orderBy("name")


def q_stream_bin_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowing: the flagship binners under a
    1-day tumbling window with a 1-hour watermark, append mode. Only
    windows the final watermark (max event time − 1 h) has passed are
    emitted — exactly the late-data contract the oracle mirrors with a
    max(ts) cutoff. availableNow + memory sink makes it deterministic."""
    import uuid

    from ..streaming.binning_stream import stream_bin_count

    stream = _events_stream(spark, sf_dir)
    out = stream_bin_count(stream, FLAGSHIP_BINNERS, ts_col="ts", watermark="1 hour")
    qname = f"bins_stream_w_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
        "name",
        "total",
    ).orderBy("day", "name")


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization under Structured Streaming: per-user-bucket
    session windows (1-hour gap), append mode — only sessions the
    final watermark closed are emitted. Oracle: gaps-and-islands SQL
    with the same last_event + gap <= max_ts - 1h cutoff."""
    import uuid

    from ..streaming.binning_stream import stream_session_counts

    stream = _events_stream(spark, sf_dir).select(
        (F.col("user_id") % 10).alias("user_bucket"), "ts"
    )
    out = stream_session_counts(
        stream, "user_bucket", ts_col="ts", gap="1 hour", watermark="1 hour"
    )
    qname = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).select(
        "user_bucket",
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.col("window.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    ).orderBy("user_bucket", "session_start")


def q_stream_bin_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window variant: 1-day windows sliding every 12 hours —
    each event lands in exactly two windows. Same append-mode watermark
    emission rule; the oracle unions the two window phases."""
    import uuid

    from ..streaming.binning_stream import stream_bin_count

    stream = _events_stream(spark, sf_dir)
    out = stream_bin_count(
        stream,
        [FLAGSHIP_BINNERS[1]],  # byType literal binner
        ts_col="ts",
        watermark="1 hour",
        window="1 day",
        slide="12 hours",
    )
    qname = f"bins_sliding_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("w_start"),
        "name",
        "total",
    ).orderBy("w_start", "name")


def _run_first_seen(spark: SparkSession, out: DataFrame) -> DataFrame:
    import uuid

    qname = f"first_seen_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).orderBy("user_bucket", "event_type")


def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming put-if-absent: emit each distinct user bucket exactly
    once, on first arrival. Pure key dedup routes through the JVM-native
    streaming dropDuplicates (no Python hop, JVM state store) — measured
    ~1.4x faster than the applyInPandasWithState path at sf0.1
    (SCALE.md "first-seen routing"); the custom-state variant is
    q_stream_first_seen_stateful. The emitted key SET is deterministic
    even though arrival order isn't, which is what makes a stateful
    streaming op oracle-able (SELECT DISTINCT)."""
    from ..streaming.stateful import first_seen_keys_native

    stream = _events_stream(spark, sf_dir)
    keyed = stream.select(
        (F.col("user_id") % 1000).alias("user_bucket"),
        "event_type",
    )
    return _run_first_seen(
        spark, first_seen_keys_native(keyed, ["user_bucket", "event_type"])
    )


def q_stream_first_seen_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same first-seen contract via the CUSTOM stateful operator
    (applyInPandasWithState) — the extension point for state the
    built-in dedup can't express (TTL-on-access, side outputs, state
    payloads beyond the key). Same oracle as q_stream_first_seen."""
    from ..streaming.stateful import first_seen_keys

    stream = _events_stream(spark, sf_dir)
    keyed = stream.select(
        (F.col("user_id") % 1000).alias("user_bucket"),
        "event_type",
    )
    return _run_first_seen(spark, first_seen_keys(keyed, ["user_bucket", "event_type"]))


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel maintained as STREAMING OPERATOR STATE
    (streaming/stateful.py::stream_funnel_chain): per-user step-event
    history accumulates in applyInPandasWithState, each micro-batch
    re-folds the first-touch chain from the sorted history (arrival
    order across batches is irrelevant by construction), and UPDATE
    rows carry the evolving chain. The final row per user (max
    n_seen) equals the batch funnel exactly, so after the availableNow
    run the per-step report is value-hash-checked against q_funnel's
    own oracle, shared verbatim — a custom STATEFUL streaming operator
    under the full gate."""
    import uuid

    from ..streaming.stateful import stream_funnel_chain

    steps = ["view", "click", "purchase"]
    stream = _events_stream(spark, sf_dir)
    si = (
        F.array_position(F.array(*[F.lit(s) for s in steps]), F.col("event_type"))
        - 1
    ).cast("int")
    projected = stream.filter(F.col("event_type").isin(steps)).select(
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        si.alias("_si"),
    )
    out = stream_funnel_chain(projected, n_steps=len(steps))
    qname = f"funnel_stream_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    from pyspark.sql import Window

    updates = spark.table(qname)
    # final chain per user = the update with the largest history size
    final = updates.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
        ),
    ).filter(F.col("_rn") == 1)
    # same rollup as the batch funnel — one shared helper, so the
    # conversion contract cannot drift between the two paths
    from ..pipeline.reports import funnel_report

    return funnel_report(final, steps)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents: emails / phones / IPv4s replaced by
    typed placeholders, with per-kind audit counts. The synthetic
    corpus carries no PII, so deterministic PII is injected from
    doc_id (both engines build the identical string) before the
    redaction chain runs — regexp_replace only, no UDF."""
    from ..pipeline.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-1234 from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return salted.select(
        "doc_id",
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ip"),
    )


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics term extraction: top-3 characteristic terms
    per document with document-frequency stopword suppression and a
    smoothed tf-idf score. Ranked on an integer key (tf desc, df asc,
    term asc) so the ordering is engine-exact; the float score rides
    along rounded, never ranked on."""
    from ..pipeline.text import top_terms

    docs = load_table(spark, sf_dir, "documents")
    # the synthetic corpus shares most of its vocabulary, so the usual
    # 0.5 df cutoff suppresses nearly every term; 0.8 keeps the filter
    # meaningful while every doc still surfaces its top-3
    return top_terms(docs, k=3, max_df_ratio=0.8)


# --- North-star extensions: similarity search ---------------------------

def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id<8."""
    from ..pipeline.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: deterministic md5 centroids, probe the 4 nearest
    of 16 cells, exact cosine within the probed cells only. The third
    ANN paradigm (vs brute force / LSH banding): at scale the cell id
    is a partition column and probing = partition pruning."""
    from ..pipeline.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a LEARNED codebook, end-to-end at the scale shape:
    spherical k-means training (2 Lloyd iterations from the md5 seed,
    decimal-exact sums → bit-identical across engines), the inverted
    file MATERIALIZED via ivf_write_index (parquet partitioned by
    cell), and the probe reading it back with a literal cid filter —
    partition pruning, the scan-level win (plan-asserted in
    tests/test_pipeline.py). Oracle: DuckDB re-derives the same two
    training iterations as CTEs (decimal sums, sequential-fold norms)
    and replays the probe — full value-hash check."""

    from ..pipeline.similarity import ivf_topk, ivf_train, ivf_write_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_train(emb, dim=64, n_centroids=16, n_iter=2)
    index = _scratch("aces_ivf_index_")
    ivf_write_index(emb, index, dim=64, n_centroids=16, centroids=cents)
    queries = emb.filter(F.col("vec_id") < 8)
    out = ivf_topk(
        emb, queries, dim=64, k=5, n_centroids=16, n_probe=4,
        centroids=cents, cells_path=index,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall report under the oracle gate (pipeline/similarity.py
    ::ann_recall_report): grades q_ivf_topk's index answers
    (md5-seeded 16-cell IVF, 4 probes) against q_sim_topk's
    brute-force ground truth over the same 8 query vectors — one row
    of (recall@5, mean rank displacement). The recall claims for the
    IVF family previously lived in pytest only; this puts the quality
    number itself under the DuckDB gate (the oracle recomputes BOTH
    top-k paths and the report algebra)."""
    from ..pipeline.similarity import (
        ann_recall_report,
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    truth = brute_force_topk(emb, queries, k=5)
    index = ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)
    return ann_recall_report(index, truth, k=5)


def q_ann_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN recall report's PRODUCTION shape (the same
    move as q_dedup_recall_sampled): ann_recall_report's own docstring
    says "run it on a SAMPLED query set — brute-force ground truth is
    the quadratic part"; this grades that shape. Queries are the
    engine's deterministic md5-mod sample (seed 'annrecall', denom
    64 — 6 query vectors at sf0.01, 32 at sf0.1) instead of a
    hand-pinned id prefix, so the query set is a pure function of ids
    and unbiased over the corpus; recall@k per query is independent
    of which queries are asked, so the sampled figure estimates the
    all-queries figure at 1/denom of the brute-force cost. The oracle
    reroutes both graded top-k oracles through the same sample
    predicate."""
    from ..pipeline.similarity import (
        ann_recall_report,
        brute_force_topk,
        ivf_topk,
    )
    from ..pipeline.splits import hash_mod_sample

    emb = load_table(spark, sf_dir, "embeddings")
    queries = hash_mod_sample(emb, "vec_id", 64, "annrecall")
    truth = brute_force_topk(emb, queries, k=5)
    index = ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)
    return ann_recall_report(index, truth, k=5)


def q_ann_recall_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled ANN recall report under an ABSOLUTE query budget:
    q_ann_recall_sampled's fixed-denom fraction lets the
    query count — and with it the brute-force ground-truth cost,
    which grows with BOTH the query count and the corpus — scale with
    the data (32 → 312 queries at sf0.1 → sf1; SCALE.md). Here the
    query set is hash_topn_sample(n=32, seed 'annrecall'): the first
    32 vectors of the md5-hash order, so ground-truth cost is pinned
    by construction at any corpus size while the selection stays a
    deterministic, attribute-independent (hence unbiased) function of
    the ids. The oracle reroutes both top-k subqueries through the
    identical ORDER BY hash LIMIT n membership."""
    from ..pipeline.similarity import (
        ann_recall_report,
        brute_force_topk,
        ivf_topk,
    )
    from ..pipeline.splits import hash_topn_sample

    emb = load_table(spark, sf_dir, "embeddings")
    queries = hash_topn_sample(emb, "vec_id", 32, "annrecall")
    truth = brute_force_topk(emb, queries, k=5)
    index = ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)
    return ann_recall_report(index, truth, k=5)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH
    buckets + Hamming pre-filter. The synthetic embeddings have no
    natural pairs above 0.8 (checked: max cross cosine ≈ 0.6), so the
    corpus is augmented with perturbed copies (vec_id+100000, first
    coordinate shifted) — same planted-dup pattern as _dup_corpus.
    Oracle: the md5-derived hyperplanes are a derived table in SQL
    (oracles.py::_lsh_sketch_ctes), so the whole funnel — sketches,
    band join, Hamming cut, exact cosine — is DuckDB-checkable."""
    from ..pipeline.similarity import embedding_near_dups

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = F.col("embedding")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.get(v, 0) + F.lit(0.3).cast("float")), F.slice(v, 2, 63)
        ).alias("embedding"),
    )
    out = embedding_near_dups(emb.unionByName(planted), dim=64, threshold=0.8)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via hyperplane-LSH bucket join (the similarity-search
    scale path: bucket join replaces the n² cross join). Deterministic
    md5 planes make the whole path oracle-able; recall vs the oracled
    brute force is additionally pytest-checked."""
    from ..pipeline.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = lsh_topk(emb, queries, dim=64, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via the df-pruned shingle
    inverted index (pipeline/dedup.py::near_dup_pairs_ngram) — the
    LSH-free dedup path: zero hash-collision false negatives, skew
    bounded by the max_df document-frequency prune."""
    from ..pipeline.dedup import near_dup_pairs_ngram

    docs = load_table(spark, sf_dir, "documents")
    out = near_dup_pairs_ngram(docs, k=3, threshold=0.5, max_df=20)
    return out.select("id_a", "id_b", "jaccard")


q_hash_split = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select", "columns": ["doc_id", "lang"]},
    {"op": "hash_split", "weights": {"train": 0.9, "val": 0.05, "test": 0.05}},
)


q_sample_stratified = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select", "columns": ["doc_id", "lang"]},
    {"op": "stratified_sample", "strata": ["lang"], "n": 30},
)


def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language mixing under per-language token budgets
    (pipeline/splits.py::token_budget_mix): greedy hash-order prefix
    per group until the budget is spent; non-budgeted languages drop."""
    from ..pipeline.splits import token_budget_mix
    from ..pipeline.text import word_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = token_budget_mix(
        docs, "lang", {"en": 4000, "zh": 2000}, token_col=word_count(F.col("text"))
    )
    return out.select("doc_id", "lang", "n_tokens", "tokens_before")


def q_mix_trained_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing allocated by the TRAINED tokenizer:
    the q_mix_token_budget greedy hash-order prefix walk,
    with each doc's cost the real bpe_train-table token count instead
    of the whitespace heuristic — the integration the trained
    tokenizer exists for (a budget in 'tokens' should mean tokens the
    model will actually see). Oracle: the generated training chain +
    per-doc trained counts feeding the same window walk."""
    from ..pipeline.splits import token_budget_mix
    from ..pipeline.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    merges, vt, _ = _trained_tokenizer(docs)
    counts = bpe_token_counts(docs, merges=merges, out_col="_nt",
                              vocab_tokens=vt)
    out = token_budget_mix(
        docs.join(counts, "doc_id"),
        "lang",
        {"en": 8000, "zh": 4000},
        token_col=F.col("_nt"),
    )
    return out.select("doc_id", "lang", "n_tokens", "tokens_before")


q_chunk_documents = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select", "columns": ["doc_id", "text"]},
    {"op": "chunk", "chunk_tokens": 40, "overlap": 10},
)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (pipeline/splits.py::dsir_weights,
    Xie et al. 2023): every 50th doc plays the target
    distribution (the decontaminate convention), every doc scored by
    sum of hashed uni+bigram hits times the smoothed per-bucket
    log-ratio ln(p_target/p_raw). The oracle mirrors the md5 bucket
    arithmetic bit-for-bit and the rounded-decimal sum recipe, so a
    data-selection weight sits under the full value-hash gate."""
    from ..pipeline.splits import dsir_weights

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.where(F.col("doc_id") % 50 == 0)
    return dsir_weights(docs, target).orderBy("doc_id")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection END-TO-END (pipeline/splits.py::dsir_select):
    the importance weights actually driving membership —
    the method's whole point (Xie et al. 2023). keep_prob =
    logistic(importance), rounded to 6 dp; kept = the established
    hash-walk membership rule (md5-bucket(id)/1e6 < keep_prob). The
    full frame is graded — rejected docs included — with the oracle
    chaining the q_dsir_weights CTEs into the logistic squash and the
    same bit-level hash arithmetic."""
    from ..pipeline.splits import dsir_select

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.where(F.col("doc_id") % 50 == 0)
    return dsir_select(docs, target).orderBy("doc_id")


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR sampling WITHOUT replacement (pipeline/splits.py::
    dsir_resample) — the paper's actual resampling scheme
    via the Gumbel top-k identity: per-doc Gumbel noise drawn from
    the doc's own hash, ranked by importance + noise, top 100 kept
    through the salted two-phase top-k (no flat global sort). The
    oracle chains the DSIR CTEs into the identical Gumbel arithmetic
    and rank walk."""
    from ..pipeline.splits import dsir_resample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.where(F.col("doc_id") % 50 == 0)
    return dsir_resample(docs, target, k=100).orderBy("rank")


def q_dsir_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR model-DRIFT row (pipeline/splits.py::dsir_drift): the
    dsir_fit/dsir_score lifecycle serves a lambda table that
    ages as the raw pool drifts — this one-row report compares a
    scored batch's feature-bucket distribution (here the doc_id % 3
    slice, a deterministic stand-in for "this week's batch") against
    the FITTED raw distribution, as base-2 Jensen–Shannon divergence
    with the source_divergence_matrix rounding discipline. Trend
    jsd_bits across batches; refit past a threshold. The oracle
    rebuilds both bucket distributions from the q_dsir_weights
    feature CTEs and replays the shared/private JSD closed form."""
    from ..pipeline.splits import dsir_bucket_counts, dsir_drift

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = dsir_bucket_counts(docs)
    return dsir_drift(raw, docs.where(F.col("doc_id") % 3 == 0))


def q_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring on a documents STREAM — the serving
    shape the dsir_lambda/dsir_score split exists for: the log-ratio
    table is fitted batch-side on the static corpus (reference
    distributions update on a slow cadence), pinned once
    (localCheckpoint — micro-batches must not refit it), and each
    micro-batch is scored BATCH-MODE inside foreachBatch — the
    engine's established shape for multi-stage aggregations that
    Spark's chained-stateful guard rejects (dsir_score is two
    groupBys; q_stream_store_merge / q_stream_substring_ingest set
    the pattern). Exact because each doc's text arrives in exactly
    one micro-batch; scored frames land epoch-partitioned with
    dynamic overwrite, so a replayed micro-batch (foreachBatch is
    at-least-once) rewrites its own epoch instead of duplicating.
    One documented divergence from the batch q_dsir_weights:
    featureless docs (NULL/whitespace text) are ABSENT — the sink
    holds scores, not the corpus — so the oracle is the batch oracle
    with the zero-feature left join tightened to inner."""
    import tempfile

    from ..pipeline.splits import dsir_lambda, dsir_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lam = dsir_lambda(
        docs, docs.where(F.col("doc_id") % 50 == 0)
    ).localCheckpoint(eager=True)
    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")
    out_dir = tempfile.mkdtemp(prefix="aces_dsir_stream_")

    def score_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            dsir_score(batch, lam)
            .withColumn("_epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.read.parquet(out_dir).select(
        "doc_id", "n_features", "importance"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (pipeline/dedup.py::decontaminate):
    every 50th doc plays the held-out eval set; training docs sharing
    >= 2 distinct 3-gram shingles with it are flagged. Eval shingles
    broadcast; no train-vs-train pairing."""
    from ..pipeline.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out = decontaminate(train, ev, k=3, min_hits=2)
    return out["contaminated"].select("doc_id", "n_hits")


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through the BLOOM prefilter scale path: an
    engine-native xxhash64+bit_or bloom over the eval shingles (one
    broadcast row, map-side probe) shrinks the exact verify join to
    bloom survivors. False positives die in the exact join, false
    negatives are impossible, so the result — and the oracle — are
    identical to q_decontaminate."""
    from ..pipeline.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out = decontaminate(train, ev, k=3, min_hits=2, prefilter="bloom")
    return out["contaminated"].select("doc_id", "n_hits")


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc duplicate-3-gram fraction (pipeline/text.py::
    repetition_ratio) — the repetition quality signal; one map-side-
    combined groupBy(doc_id)."""
    from ..pipeline.text import repetition_ratio

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_ratio(docs, k=3)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional deterministic sampling
    (pipeline/splits.py::weighted_sample): keep-prob = the doc's
    quality score; zero-shuffle codegen filter."""
    from ..pipeline.splits import weighted_sample
    from ..pipeline.text import quality_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = weighted_sample(docs, quality_score(F.col("text")))
    return out.select("doc_id")


q_flow_llm_pipeline = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select", "columns": ["doc_id", "text"]},
    {"op": "dedup_exact"},
    {"op": "hash_split"},
    {"op": "filter", "condition": "split = 'train'"},
    {"op": "chunk", "chunk_tokens": 40, "overlap": 10},
)


def q_stream_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline transforms under Structured Streaming: the
    STATELESS stages (dedup aside) run unchanged on a documents stream
    — here train-split assignment + filter + overlapping chunking on
    micro-batches, availableNow → memory sink. Same oracle machinery
    as the batch flow (streaming is an execution mode, not a semantic
    change)."""
    import uuid

    from ..pipeline.splits import hash_split
    from ..pipeline.text import chunk_documents

    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")
    out = chunk_documents(
        hash_split(stream).filter("split = 'train'"),
        chunk_tokens=40,
        overlap=10,
    )
    qname = f"chunk_stream_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).orderBy("doc_id", "chunk_id")


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 20-word passages over documents plus
    planted copy-paste spans (doc_id+300000 quotes the first 20 words
    of every 25th doc) — pipeline/dedup.py::duplicate_passages.

    The quoter's commentary prefix is exactly passage_tokens words, so
    the quoted span occupies the quoter's SECOND window and aligns
    hash-identical with the source's first — non-overlapping windowing
    only detects window-aligned copies (the documented trade; shingle
    pipelines catch arbitrary offsets)."""
    from ..pipeline.dedup import duplicate_passages

    prefix = " ".join(
        ["quoted", "for", "context", "in", "a", "longer", "piece", "of",
         "original", "commentary", "that", "runs", "exactly", "twenty",
         "words", "before", "the", "verbatim", "passage", "follows"]
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    quoter = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.lit(prefix + " "),
            F.array_join(F.slice(F.split(F.trim("text"), " "), 1, 20), " "),
        ).alias("text"),
    )
    return duplicate_passages(
        docs.unionByName(quoter), passage_tokens=20
    )


def q_stream_token_count_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token counting under the TRAINED merges table on a documents
    STREAM — the tokenizer register's serving half in
    streaming mode, completing the q_stream_dsir symmetry: the merge
    table is trained batch-side (the registered artifact), and each
    micro-batch's docs are counted batch-mode inside foreachBatch
    (bpe_token_counts is a distinct-vocab fold + join + per-doc sum —
    multi-stage, so the chained-stateful guard applies; exact per
    micro-batch since each doc's text arrives in one batch). Epoch-
    partitioned dynamic overwrite for replay idempotence. Zero-piece
    docs keep their (id, 0) row — bpe_token_counts' left join back to
    the BATCH frame runs per micro-batch — so the oracle is the batch
    q_token_count_trained oracle VERBATIM: streaming is an execution
    mode, not a semantic change."""
    import tempfile

    from ..pipeline.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, _ = _trained_tokenizer(docs)
    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")
    out_dir = tempfile.mkdtemp(prefix="aces_tok_stream_")

    def count_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            bpe_token_counts(
                batch, merges=merges, out_col="n_tokens_trained",
                vocab_tokens=vt,
            )
            .withColumn("_epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(count_batch)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.read.parquet(out_dir).select(
        "doc_id", "n_tokens_trained"
    ).orderBy("doc_id")


def q_stream_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full NiFi pattern end-to-end under streaming: events stream
    → per-micro-batch pre-aggregation → $inc merge into the keyed
    parquet store (foreachBatch, the @SupportsBatching session-commit
    analog). $inc accumulates across however many micro-batches the
    trigger produces, so the final store state is batch-split-
    independent — which is what makes a streaming SINK oracle-able.
    The epoch id is threaded into the merge as a store transaction
    (Delta txnAppId/txnVersion pattern), so a replayed micro-batch —
    foreachBatch is at-least-once — is a manifest-level no-op instead
    of a double-counted $inc."""

    from ..operators.partial_update import PartialUpdateConfig
    from ..stores import KeyedParquetStore
    from ..streaming.binning_stream import foreach_batch_merge

    stream = _events_stream(spark, sf_dir).select(
        (F.col("user_id") % 100).alias("ub")
    )
    path = _scratch("aces_stream_store_") + "/t"
    store = KeyedParquetStore(spark=spark, path=path, keys=["ub"], n_buckets=8)
    store.init(
        spark.range(100).select(
            F.col("id").alias("ub"), F.lit(0).cast("long").alias("n")
        )
    )
    cfg = PartialUpdateConfig(keys=["ub"], operations={"n": "$inc"}, upsert=False)

    def merge_fn(batch_df, epoch_id):
        pre = batch_df.groupBy("ub").agg(F.count(F.lit(1)).cast("long").alias("n"))
        store.merge(pre, cfg, txn=("q_stream_store_merge", epoch_id))

    q = (
        foreach_batch_merge(stream, merge_fn, _scratch("aces_fbm_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return store.read().select(
        F.col("ub").alias("user_bucket"), F.col("n").alias("n_events")
    ).orderBy("user_bucket")


def q_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal (pipeline/text.py::strip_html) over documents
    wrapped in deterministic HTML scaffolding (tags, a script block,
    entities) — the cleaned text must round-trip back to the original
    word sequence."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from ..pipeline.text import strip_html, word_count

    page = F.concat(
        F.lit('<html><head><script type="text/javascript">var x = 1 < 2;'
              '</script><style>.a{color:red}</style></head><body>'
              '<!-- crawler comment --><h1>Title &amp; Header</h1><p>'),
        F.col("text"),
        F.lit('</p><div class="footer">&lt;end&gt;&nbsp;&quot;quoted&quot;'
              "&#39;s</div></body></html>"),
    )
    cleaned = strip_html(page)
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        word_count(cleaned).alias("n_words"),
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup: documents plus planted
    reformatted copies (doc_id+400000 = every 20th doc uppercased with
    injected punctuation) grouped by md5(canonical_text) — the copies
    byte-hash dedup can't see. Same one-shuffle hash-groupBy shape as
    q_dedup_exact."""
    from ..pipeline.dedup import exact_dup_groups
    from ..pipeline.text import canonical_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reformatted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!")).alias("text"),
    )
    corpus = docs.unionByName(reformatted).select(
        "doc_id", canonical_text(F.col("text")).alias("text")
    )
    return exact_dup_groups(corpus).filter(F.col("n_dups") > 1)


def q_store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel under the correctness gate: init (v1) → one mutating
    merge (v2) → read(version=1) must return the PRE-merge snapshot
    bit-for-bit (the oracle is the pure initial-target expression —
    any leakage from v2's segment into the v1 manifest resolution
    would hash-mismatch)."""

    from ..stores import KeyedParquetStore

    customer = load_table(spark, sf_dir, "customer")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_tt_"),
        keys=["c_custkey"],
        n_buckets=16,
    )
    store.init(_store_target(customer))  # v1
    batch = customer.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 1000).alias("c_acctbal"),
        F.lit(1).alias("visits"),
    )
    store.merge(
        batch,
        PartialUpdateConfig(
            keys=["c_custkey"],
            operations={"c_acctbal": "$set", "visits": "$inc",
                        "lastUpdated": "$currentDate"},
            upsert=False,
            now=STORE_NOW1,
        ),
    )  # v2
    if [h["version"] for h in store.history()][:2] != [2, 1]:
        raise RuntimeError("store history regressed (expected [v2, v1])")
    return store.read(version=1).select(
        "c_custkey",
        "c_acctbal",
        F.col("visits").cast("int").alias("visits"),
        F.date_format("lastUpdated", "yyyy-MM-dd HH:mm:ss").alias("lastUpdated"),
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary report (pipeline/reports.py::
    vocab_stats): docs, tokens, distinct terms, type-token ratio."""
    from ..pipeline.reports import vocab_stats

    docs = load_table(spark, sf_dir, "documents")
    return vocab_stats(docs, group_col="lang")


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned word-count histogram per language
    (pipeline/reports.py::length_histogram)."""
    from ..pipeline.reports import length_histogram

    docs = load_table(spark, sf_dir, "documents")
    return length_histogram(docs, group_col="lang")


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (pipeline/reports.py::
    cross_source_dups) with a planted mirror: every 10th doc
    republished verbatim under source 'mirror'."""
    from ..pipeline.reports import cross_source_dups

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    mirrored = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    return cross_source_dups(docs.unionByName(mirrored))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing plan end-to-end: chunk documents (40/10) then lay
    the chunks into 512-token training sequences, 8-way sharded
    (pipeline/splits.py::pack_sequences). Returns per-sequence totals;
    the oracle reruns the identical chunk + shard + prefix-sum plan."""
    from ..pipeline.splits import pack_sequences
    from ..pipeline.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, chunk_tokens=40, overlap=10)
    packed = pack_sequences(chunks, "n_chunk_tokens", 512, n_shards=8)
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
    )


def q_pack_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under the TRAINED tokenizer: the
    q_pack_sequences shard/prefix-sum plan with each document's cost
    the real bpe_train-table token count instead of the whitespace
    heuristic — closing the same loop q_mix_trained_budget closed for
    budget mixing (a 512-token training sequence should mean tokens
    the model will see). Whole documents pack here (chunking + the
    trained fold compose too, but the graded plan keeps one moving
    part per query). Oracle: the generated training chain + per-doc
    trained counts feeding the identical shard hash + windowed prefix
    sum + chop."""
    from ..pipeline.splits import pack_sequences
    from ..pipeline.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, _ = _trained_tokenizer(docs)
    counts = bpe_token_counts(docs, merges=merges, out_col="_nt",
                              vocab_tokens=vt)
    packed = pack_sequences(
        counts, "_nt", 512, id_cols=["doc_id"], n_shards=8
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )


def q_pack_chunked_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION packing composition: chunk →
    trained-encode-count → pack, end-to-end. q_pack_trained packs
    whole documents; a real pipeline chunks first (chunk_documents,
    the q_chunk_documents 40/10 window), costs each CHUNK by the
    trained tokenizer (bpe_token_counts under the bpe_train table —
    chunk pieces are a subset of the training corpus's pieces, since
    the pre-tokenizer never spans whitespace and chunking splits on
    whitespace), and lays chunks into fixed 512-token sequences
    (pack_sequences, identity = (doc_id, chunk_id)). One graded query
    proves the three stages agree end-to-end; the oracle rebuilds the
    full chain — chunk CTE + training CTEs + per-chunk counts + the
    shard/prefix-sum/chop algebra on the composite identity."""
    from ..pipeline.splits import pack_sequences
    from ..pipeline.text import bpe_token_counts, chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vt, _ = _trained_tokenizer(docs)
    chunks = chunk_documents(
        docs, chunk_tokens=40, overlap=10
    ).withColumn(
        "_ck",
        F.concat_ws(
            "#", F.col("doc_id").cast("string"),
            F.col("chunk_id").cast("string"),
        ),
    )
    counts = bpe_token_counts(
        chunks, text_col="chunk_text", id_col="_ck",
        merges=merges, out_col="_nt", vocab_tokens=vt,
    )
    keyed = chunks.select("doc_id", "chunk_id", "_ck").join(counts, "_ck")
    packed = pack_sequences(
        keyed, "_nt", 512, id_cols=["doc_id", "chunk_id"], n_shards=8
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )


# --- Classic OLAP over the TPC-H-ish tables ---------------------------
#
# The engine's general analytics surface (beyond the reference's
# processor semantics): scan-heavy aggregation, selective join
# pipelines, and a multiway broadcast-dimension join. Money math runs
# in DECIMAL: double->decimal casts can never hit a rounding tie
# (decimal tie points are non-dyadic), and the widths are chosen so
# even the triple product price*(1-disc)*(1+tax) stays inside Spark's
# precision-38 cap with NO scale reduction — prices at (12,6), rates
# (discount/tax, always <= 1) at (7,6), making the product chain
# (21,12) then (30,18), exact in both engines. (Wider inputs overflow
# precision 38 and Spark/DuckDB round the overflow differently.)

def _dec(c) -> "F.Column":
    return F.col(c).cast("decimal(12,6)")


def _rate(c) -> "F.Column":
    return F.col(c).cast("decimal(7,6)")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one scan of lineitem, map-side
    partial aggregation into 6 (returnflag, linestatus) groups."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-09-02"
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(7,6)") - _rate("l_discount"))
    charge = disc * (F.lit(1).cast("decimal(7,6)") + _rate("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("_sq"),
        F.sum(_dec("l_extendedprice")).alias("_sp"),
        F.sum(disc).alias("_sd"),
        F.sum(charge).alias("_sc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_base_price"),
        F.col("_sd").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        F.round(F.col("_sq").cast("double") / n, 6).alias("avg_qty"),
        F.round(F.col("_sp").cast("double") / n, 6).alias("avg_price"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective customer segment -> orders -> lineitem
    join pipeline, top-10 orders by pending revenue. The segment
    filter pushes to the customer scan; the small filtered customer
    side broadcasts into orders."""
    cutoff = "1998-06-15"
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(7,6)") - _rate("l_discount"))
    return (
        li.join(
            F.broadcast(
                o.join(
                    F.broadcast(c.select("c_custkey")),
                    o["o_custkey"] == F.col("c_custkey"),
                ).select("o_orderkey", "o_orderdate", "o_orderpriority")
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc).alias("_rev"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            F.col("_rev").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue per nation where supplier and customer
    share the nation, one region, one order-year — a 6-table join
    with every dimension broadcast and the fact scan filtered."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(7,6)") - _rate("l_discount"))
    nr = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    cn = c.join(F.broadcast(nr), c["c_nationkey"] == F.col("n_nationkey")).select(
        "c_custkey", F.col("n_nationkey").alias("c_nkey"), "n_name"
    )
    return (
        li.join(F.broadcast(o.select("o_orderkey", "o_custkey")),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(cn), F.col("o_custkey") == cn["c_custkey"])
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li["l_suppkey"] == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") == F.col("c_nkey"))
        .groupBy("n_name")
        .agg(F.sum(disc).alias("_rev"))
        .select("n_name", F.col("_rev").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# --- Temporal joins: as-of enrichment + banded range join --------------

def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the user's most recent at-or-before
    view event (operators/joins.py::asof_join — backward-inclusive,
    single-shuffle union-window plan), within a 6-hour tolerance;
    purchases with no fresh-enough view carry NULLs. Oracle mirrors
    the union-window formulation with DuckDB IGNORE NULLS windows."""
    from ..operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        values=["event_id", "value"],
        tolerance_sec=21600,
        tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
        F.col("event_id_matched").alias("view_event_id"),
        F.unix_micros("ts_matched").alias("view_ts_us"),
        F.round("value_matched", 6).alias("view_value"),
    )


def q_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs within 30 minutes of each other
    (operators/joins.py::range_join — bucket-and-neighbor equi-join,
    never the quadratic same-key cross product). Timestamps stay in
    integer microseconds end-to-end, so the band predicate and the
    gap are exact in both engines."""
    from ..operators.joins import range_join

    events = load_table(spark, sf_dir, "events")
    a = events.select(
        "user_id", F.col("event_id").alias("id_a"), F.unix_micros("ts").alias("us_a")
    )
    b = events.select(
        "user_id", F.col("event_id").alias("id_b"), F.unix_micros("ts").alias("us_b")
    )
    out = range_join(a, b, on="user_id", left_val="us_a", right_val="us_b", band=1800e6)
    return out.filter(F.col("id_a") < F.col("id_b")).select(
        "user_id", "id_a", "id_b", F.abs(F.col("us_a") - F.col("us_b")).alias("gap_us")
    )


# --- Grouping-sets rollup over binned dimensions -----------------------

def q_bin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical day × event_type rollup counts — the hypertable-
    rollup shape (day+type, day subtotal, grand total in ONE pass).
    Spark plans ROLLUP as a single Expand + hash aggregate: one scan,
    one shuffle, map-side partials for every grouping set at once —
    not three self-unioned aggregations."""
    events = load_table(spark, sf_dir, "events")
    dims = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("event_type").alias("etype"),
    )
    return (
        dims.rollup("day", "etype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.grouping("day") * 2 + F.grouping("etype")).cast("int").alias("gid"),
        )
        .select(
            F.coalesce(F.col("day"), F.lit("*")).alias("day"),
            F.coalesce(F.col("etype"), F.lit("*")).alias("etype"),
            "n",
            "gid",
        )
    )


# --- Embedding clustering + semantic dedup -----------------------------

def q_cluster_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus k-means clustering profile: spherical-k-means-trained
    codebook (same 2 Lloyd iterations as q_ivf_topk_trained —
    decimal-exact, DuckDB re-derivable), then per-cluster size,
    exemplar, and mean cosine-to-centroid. The mean is a DECIMAL sum
    of per-row rounded cosines, so it is independent of Spark's
    partial-agg order and bit-reproducible in SQL."""
    from ..pipeline.similarity import cluster_corpus, ivf_train

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_train(emb, dim=64, n_centroids=16, n_iter=2)
    assigned = cluster_corpus(emb, dim=64, n_centroids=16, centroids=cents)
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vec_id").alias("exemplar"),
        F.round(
            F.sum(F.round("cos", 7).cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_cos"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style pruning over the near-dup-planted corpus (same
    planted copies as q_embedding_near_dups): md5-seed centroids,
    within-cluster exact cosine, drop the greater id of every pair
    ≥ 0.8. Output marks every row keep/drop — the curation filter."""
    from ..pipeline.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = F.col("embedding")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.get(v, 0) + F.lit(0.3).cast("float")), F.slice(v, 2, 63)
        ).alias("embedding"),
    )
    return semantic_dedup(
        emb.unionByName(planted), dim=64, n_centroids=16, threshold=0.8
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same
    user's views in the preceding 30 minutes — Spark's NATIVE
    watermarked join (no custom state). Both sides carry a 1-hour
    watermark, and the time-bound join condition is what lets the
    engine evict join state: each side's buffered rows are dropped
    once the other side's watermark passes the interval — bounded
    state at any scale. availableNow processes the whole staged
    source, so the inner join emits every qualifying pair and the
    batch SQL oracle defines the exact result."""
    import uuid

    p = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    v = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    )
    out = joined.select(
        "p_id",
        "user_id",
        F.unix_micros("p_ts").alias("p_us"),
        "v_id",
        F.unix_micros("v_ts").alias("v_us"),
    )
    qname = f"ival_join_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname)


# q_asof_enrich as a two-branch flow; it shares q_asof_enrich's oracle
q_flow_asof = _flow(
    {"op": "load", "table": "events"},
    {"op": "filter", "condition": "event_type = 'view'"},
    {"op": "select", "columns": ["event_id", "user_id", "ts", "value"]},
    {"op": "tag", "name": "views"},
    {"op": "load", "table": "events"},
    {"op": "filter", "condition": "event_type = 'purchase'"},
    {"op": "select", "columns": ["event_id", "user_id", "ts", "value"]},
    {
        "op": "asof_join",
        "right": "views",
        "on": ["user_id"],
        "left_ts": "ts",
        "values": ["event_id", "value"],
        "tolerance_sec": 21600,
        "tiebreak": "event_id",
    },
    {
        "op": "select",
        "columns": [
            "event_id",
            "user_id",
            "unix_micros(ts) AS ts_us",
            "round(value, 6) AS value",
            "event_id_matched AS view_event_id",
            "unix_micros(ts_matched) AS view_ts_us",
            "round(value_matched, 6) AS view_value",
        ],
    },
)


def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped revenue forecast: single selective scan-and-sum,
    the pure scan-efficiency shape — every predicate (shipdate range,
    discount band, quantity cap) pushes into the parquet scan, only 3
    columns are read, and the sum map-side-combines to one row. At
    100 TB this query IS its scan: no shuffle beyond the final
    single-row combine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _rate("l_discount"))
        .cast("double")
        .alias("revenue")
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: qualify orders by a HAVING
    on summed line quantity, join customer + orders back, top-10 by
    total price. The qualifying-keys aggregate runs FIRST and is tiny
    (hundreds of keys), so both following joins are effectively
    key-pruned; the top-k plans as TakeOrderedAndProject — per-
    partition heaps, no global sort of the joined result."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_sq"))
        .filter(F.col("_sq") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.col("o_totalprice").alias("total_price"),
            F.col("_sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(10)
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join (operators/joins.py::salted_join):
    events join a per-user dim with the ten hottest user ids spread
    over 8 salts. Result is IDENTICAL to the plain join — the oracle
    is the plain SQL join — only the shuffle layout changes; pytest
    additionally checks equality against df.join directly."""
    from ..operators.joins import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("u_first_us")
    )
    out = salted_join(
        events.select("event_id", "user_id"),
        dim,
        on="user_id",
        hot_keys=list(range(10)),
        n_salts=8,
    )
    return out.select("event_id", "user_id", "u_first_us")


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (ntile) histogram of event values per type — the
    complement of NumericBinner's equi-width bins: every bucket holds
    the same row count and the boundaries adapt to the distribution.
    Deterministic via a unique (value, event_id) sort. Forces
    method='exact' — the per-group-sort variant whose parallelism is
    capped by group count; q_equidepth_approx below is the scale
    default (pipeline/reports.py::equidepth_histogram picks it
    automatically above exact_max_group_rows)."""
    from ..pipeline.reports import equidepth_histogram

    events = load_table(spark, sf_dir, "events")
    out = equidepth_histogram(
        events, "event_type", "value", n_buckets=10, tie_col="event_id",
        method="exact",
    )
    return out.select(
        "event_type", "tile", "n",
        F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi"),
    )


def q_equidepth_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of the equi-depth histogram: boundaries from one
    percentile_approx pass (partial-aggregated GK sketch — parallelism
    independent of group count), broadcast back, static comparison
    bucket assignment, one hash aggregate. Below `accuracy` rows per
    group the sketch is exact (the ceil(p*n)-th smallest value), so
    the DuckDB oracle reproduces every boundary with row_number() and
    the whole result value-hashes."""
    from ..pipeline.reports import equidepth_histogram

    events = load_table(spark, sf_dir, "events")
    out = equidepth_histogram(
        events, "event_type", "value", n_buckets=10, method="approx",
    )
    return out.select(
        "event_type", "tile", "n",
        F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (pipeline/reports.py::sessionize — the
    batch complement of the streaming session window): 30-minute gap
    sessions per user over events, reported as one row per session
    (bounds in integer microseconds for cross-engine exactness). One
    shuffle on user_id shared by both windows."""
    from ..pipeline.reports import sessionize

    events = load_table(spark, sf_dir, "events")
    s = sessionize(events, "user_id", "ts", gap_sec=1800, tie_col="event_id")
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


def q_sessionize_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HOT-KEY sessionize path under the full value-hash gate:
    chunk_sec=86400 computes session boundaries within (user, day)
    chunks — per-task sort bounded by events-per-user-per-day, the
    monster-key defense measured in SCALE.md §skew (210.8 s → 30.4 s
    on a 53M-event zipf user) — and stitches chunks exactly through a
    per-(user, chunk) summary window. Output is BYTE-IDENTICAL to the
    single-sort path, so it shares q_sessionize's oracle verbatim."""
    from ..pipeline.reports import sessionize

    events = load_table(spark, sf_dir, "events")
    s = sessionize(
        events, "user_id", "ts", gap_sec=1800, tie_col="event_id",
        chunk_sec=86400,
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


def q_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction correctness under the full value-hash gate: three
    put_if_absent appends fragment every bucket into multiple
    part-files, compact() (the OPTIMIZE analog) rewrites fragmented
    buckets into one file each behind an atomic manifest publish, and
    the post-compact read must equal the union the oracle computes
    directly. Compaction work scales with fragmentation, not table
    size; at least one bucket must actually get rewritten."""
    from ..stores import KeyedParquetStore

    customer = load_table(spark, sf_dir, "customer")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_compact_"),
        keys=["c_custkey"],
        n_buckets=8,
    )
    k = F.col("c_custkey")
    store.init(customer.select("c_custkey", "c_acctbal").filter(k % 3 == 0))
    store.put_if_absent(
        customer.select("c_custkey", "c_acctbal").filter(k % 3 == 1)
    )
    store.put_if_absent(
        customer.select("c_custkey", "c_acctbal").filter(k % 3 == 2)
    )
    rewritten = store.compact(min_files=2)
    assert rewritten > 0, "fixture must actually compact"
    return store.read().select(
        "c_custkey", F.round("c_acctbal", 6).alias("c_acctbal")
    )


def q_store_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit log (DESCRIBE HISTORY analog) under the value-hash
    gate: a deterministic op sequence — init → merge → put-if-absent →
    restore(v1) — must surface as exactly those four retained
    manifests, newest first. ts is wall-clock and excluded; (version,
    op) is the deterministic surface."""
    from ..stores import KeyedParquetStore

    customer = load_table(spark, sf_dir, "customer")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_hist_"),
        keys=["c_custkey"],
        n_buckets=4,
    )
    store.init(customer.select("c_custkey", "c_acctbal"))
    store.merge(
        customer.select("c_custkey", (F.col("c_acctbal") + 1).alias("c_acctbal"))
        .filter(F.col("c_custkey") % 5 == 0),
        PartialUpdateConfig(
            keys=["c_custkey"], operations={"c_acctbal": "$set"}, upsert=True
        ),
    )
    store.put_if_absent(
        spark.range(3).select(
            (F.col("id") + 900000).alias("c_custkey"),
            F.lit(1.5).alias("c_acctbal"),
        )
    )
    store.restore(1)
    hist = [(h["version"], h["op"]) for h in store.history()]
    return spark.createDataFrame(hist, "version int, op string")


def q_store_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the store's CDC
    feed: a per-segment (count, balance-sum) aggregate is maintained
    by applying diff(1,2) DELTAS to the v1 base — inserts add,
    deletes subtract, updates contribute postimage − preimage (this
    query is the consumer that REQUIRES diff's update_preimage rows).
    All arithmetic in exact decimals, so incremental base+delta is
    bit-identical to the oracle's full recompute over v2 — work
    scaled with CHANGE, result identical to a full refresh."""
    from ..stores import KeyedParquetStore

    customer = load_table(spark, sf_dir, "customer")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_incr_"),
        keys=["c_custkey"],
        n_buckets=16,
    )
    v1 = customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    store.init(v1)
    k = F.col("c_custkey")
    v2 = (
        customer.filter(k % 3 != 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.when(k % 2 == 0, F.col("c_acctbal") + 500)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            customer.filter(k % 7 == 0).select(
                (k + 1000000).alias("c_custkey"),
                "c_mktsegment",
                F.lit(42.0).alias("c_acctbal"),
            )
        )
    )
    store.init(v2)
    base = v1.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n0"), F.sum(_dec("c_acctbal")).alias("s0")
    )
    d = store.diff(1, 2)
    ct = F.col("_change_type")
    signed = F.when(
        ct.isin("insert", "update_postimage"), _dec("c_acctbal")
    ).otherwise(-_dec("c_acctbal"))
    delta = d.groupBy("c_mktsegment").agg(
        F.sum(signed).alias("ds"),
        F.sum(
            F.when(ct == "insert", 1).when(ct == "delete", -1).otherwise(0)
        ).alias("dn"),
    )
    # FULL outer: a group can exist only in the delta (first rows of a
    # brand-new segment) or vanish entirely (all rows deleted — then
    # n_rows hits 0 and the row is dropped, matching the full
    # recompute, which has no row for an empty group).
    merged = base.join(delta, "c_mktsegment", "full_outer").select(
        "c_mktsegment",
        (
            F.coalesce(F.col("n0"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_rows"),
        (
            F.coalesce(F.col("s0"), F.lit(0).cast("decimal(12,6)"))
            + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(12,6)"))
        )
        .cast("double")
        .alias("bal_sum"),
    )
    return merged.filter(F.col("n_rows") > 0)


# Pinned to the single-shuffle array path (one hashpartitioning(user)
# exchange, plan-asserted in tests/test_plans.py); pytest checks the
# chained path against it.
q_funnel = _flow(
    {"op": "load", "table": "events"},
    {"op": "funnel", "steps": ["view", "click", "purchase"],
     "method": "array"},
)


q_funnel_windowed = _flow(
    {"op": "load", "table": "events"},
    {"op": "funnel", "steps": ["view", "click", "purchase"],
     "window_sec": 3600, "method": "array"},
)


q_funnel_restart = _flow(
    {"op": "load", "table": "events"},
    {"op": "funnel", "steps": ["view", "click", "purchase"],
     "window_sec": 3600, "restart": True},
)


q_hot_keys = _flow(
    {"op": "load", "table": "events"},
    {"op": "frequent_keys", "cols": "user_id", "min_share": 0.0015},
)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram LM quality ranking (the CCNet-style
    perplexity filter, engine-native): train the conditional trigram
    model on the corpus itself, score every document by mean trigram
    probability under it — outlier docs (boilerplate, wrong-language,
    garbage) rank lowest. All math is integer counts + one IEEE
    division per trigram, so the oracle reproduces it bit-exactly."""
    from ..pipeline.text import lm_score, train_char_trigram_lm

    docs = load_table(spark, sf_dir, "documents")
    model = train_char_trigram_lm(docs)
    return lm_score(docs, model)


def q_store_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version change feed (stores/keyed_table.py::diff —
    the CDC/table_changes analog): v1 = full customer balances, v2 =
    a rewrite that drops every third key, bumps every remaining even
    key, and adds new keys. diff(1, 2) must emit exactly the
    insert / update_postimage / update_preimage / delete rows the
    oracle derives from the same arithmetic."""

    from ..stores import KeyedParquetStore

    customer = load_table(spark, sf_dir, "customer")
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_store_diff_"),
        keys=["c_custkey"],
        n_buckets=16,
    )
    v1 = customer.select("c_custkey", "c_acctbal")
    store.init(v1)
    k = F.col("c_custkey")
    v2 = (
        customer.filter(k % 3 != 0)
        .select(
            "c_custkey",
            F.when(k % 2 == 0, F.col("c_acctbal") + 500).otherwise(
                F.col("c_acctbal")
            ).alias("c_acctbal"),
        )
        .unionByName(
            customer.filter(k % 7 == 0).select(
                (k + 1000000).alias("c_custkey"), F.lit(42.0).alias("c_acctbal")
            )
        )
    )
    store.init(v2)
    return store.diff(1, 2).select(
        "c_custkey", F.round("c_acctbal", 6).alias("c_acctbal"),
        F.col("_change_type").alias("change_type"),
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile in ONE scan — per column: rows,
    nulls, distinct count, min/max rendered as strings. The classic
    data-quality profiler: all per-column aggregates compute in a
    single job (one pass, map-side partials), then pivot to one row
    per column driver-side via a literal union of the agg row."""
    events = load_table(spark, sf_dir, "events")
    # numeric view per column (timestamps as epoch micros); string
    # columns profile min/max lexicographically instead — floats are
    # NEVER rendered to strings (engine float formatting differs).
    num = {
        "event_id": F.col("event_id").cast("double"),
        "ts": F.unix_micros("ts").cast("double"),
        "user_id": F.col("user_id").cast("double"),
        "value": F.col("value"),
    }
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
        ]
        if c in num:
            aggs += [
                F.round(F.min(num[c]), 6).alias(f"{c}__min_num"),
                F.round(F.max(num[c]), 6).alias(f"{c}__max_num"),
            ]
        else:
            aggs += [
                F.min(F.col(c)).alias(f"{c}__min_str"),
                F.max(F.col(c)).alias(f"{c}__max_str"),
            ]
    row = events.agg(*aggs)
    null_d, null_s = F.lit(None).cast("double"), F.lit(None).cast("string")
    parts = [
        row.select(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            (F.col(f"{c}__min_num") if c in num else null_d).alias("min_num"),
            (F.col(f"{c}__max_num") if c in num else null_d).alias("max_num"),
            (null_s if c in num else F.col(f"{c}__min_str")).alias("min_str"),
            (null_s if c in num else F.col(f"{c}__max_str")).alias("max_str"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs within 100 km great-circle distance
    (operators/joins.py::geo_radius_join — the 2-D range join:
    Web-Mercator tile bucketing + 3x3 neighborhood + exact haversine
    verify, never the all-pairs product). zoom=8 spans >=115 km per
    tile at the fixture's max |lat| of 42.5 deg."""
    from ..operators.joins import geo_radius_join

    geo = _with_geo(load_table(spark, sf_dir, "events"))
    a = geo.select(
        "user_id", F.col("event_id").alias("id_a"),
        F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a"),
    )
    b = geo.select(
        "user_id", F.col("event_id").alias("id_b"),
        F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b"),
    )
    out = geo_radius_join(
        a, b, on="user_id", radius_km=100.0, zoom=8,
        left_lat="lat_a", left_lon="lon_a",
        right_lat="lat_b", right_lon="lon_b",
    )
    return out.filter(F.col("id_a") < F.col("id_b")).select(
        "user_id", "id_a", "id_b", F.round("dist_km", 3).alias("dist_km")
    )


def q_geo_radius_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_radius_join with zoom=None: the finest safe zoom is derived
    from the data's max |lat| (one metadata-scale aggregate per side),
    closing the too-fine-zoom-silently-loses-pairs footgun. Exercises
    the identically-named-lat/lon default path (internal right-side
    aliases). Zoom choice never changes the RESULT (the haversine
    filter is exact), so the oracle is shared with q_geo_radius_join."""
    from ..operators.joins import geo_radius_join

    geo = _with_geo(load_table(spark, sf_dir, "events"))
    a = geo.select("user_id", F.col("event_id").alias("id_a"), "lat", "lon")
    b = geo.select("user_id", F.col("event_id").alias("id_b"), "lat", "lon")
    out = geo_radius_join(a, b, on="user_id", radius_km=100.0)
    return out.filter(F.col("id_a") < F.col("id_b")).select(
        "user_id", "id_a", "id_b", F.round("dist_km", 3).alias("dist_km")
    )


def q_stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events STREAM joins a static
    per-user dimension (first-seen timestamp) re-planned per
    micro-batch — Spark's stream-static join. The static side is a
    broadcastable aggregate, so each micro-batch does a broadcast
    hash join with no streaming state at all (contrast
    q_stream_interval_join, where both sides are streams and state is
    watermark-bounded). Oracle: the batch join."""
    import uuid

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("u_first_us")
    )
    stream = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
    out = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "ts_us",
        (F.col("ts_us") - F.col("u_first_us")).alias("age_us"),
    )
    qname = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname)


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the z-ordered layout (pipeline/layout.py::
    write_zordered — the OPTIMIZE ZORDER BY analog): events written
    clustered on (user_id, value), read back with a 2-D predicate.
    The oracle checks the layout loses/duplicates nothing; the
    data-skipping win (matching rows concentrated in few files) is
    plan/file-asserted in tests/test_pipeline.py."""

    from ..pipeline.layout import write_zordered

    events = load_table(spark, sf_dir, "events")
    path = _scratch("aces_zorder_")
    write_zordered(
        events.select("event_id", "user_id", "value"), path,
        cols=["user_id", "value"], n_files=16,
    )
    back = spark.read.parquet(path)
    return back.filter(
        (F.col("user_id") >= 40) & (F.col("user_id") < 60)
        & (F.col("value") >= 100.0) & (F.col("value") < 200.0)
    ).select("event_id", "user_id", F.round("value", 6).alias("value"))


def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/scd.py::scd2_apply):
    a customer-balance dimension (open rows at t=1000, one pre-closed
    history row per 11th key) folds in a t=2000 batch that changes
    every third key's balance and adds new keys. Changed keys close
    and re-open; unchanged keys and history pass through untouched —
    the oracle derives the same state set-algebraically."""
    from ..operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    open_rows = customer.select(
        "c_custkey", "c_acctbal",
        F.lit(1000).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = customer.filter(k % 11 == 0).select(
        "c_custkey", (F.col("c_acctbal") - 50).alias("c_acctbal"),
        F.lit(500).cast("long").alias("valid_from"),
        F.lit(1000).cast("long").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    current = open_rows.unionByName(hist)
    batch = customer.select(
        "c_custkey",
        F.when(k % 3 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ).alias("c_acctbal"),
        F.lit(2000).cast("long").alias("effective_ts"),
    ).unionByName(
        customer.filter(k % 5 == 0).select(
            (k + 1000000).alias("c_custkey"),
            F.lit(7.5).alias("c_acctbal"),
            F.lit(2000).cast("long").alias("effective_ts"),
        )
    )
    out = scd2_apply(current, batch, keys=["c_custkey"], compare_cols=["c_acctbal"])
    return out.select(
        "c_custkey", F.round("c_acctbal", 6).alias("c_acctbal"),
        "valid_from", "valid_to", "is_current",
    )


def q_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact-to-dimension join: each order is priced
    against the customer-balance VERSION valid at its order date —
    the query SCD2 exists for. Implemented with asof_join on the
    version's valid_from (single-shuffle union-window), then the
    validity upper bound filters stale matches; versions come from
    the same two-batch fold as q_scd2_dimension at micro-timestamps
    the fixture's order dates straddle."""
    from ..operators.joins import asof_join
    from ..operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("c_custkey")
    t_mid = 820454400000000  # 1996-01-01 in epoch micros
    current = customer.select(
        "c_custkey", "c_acctbal",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = customer.filter(k % 2 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit(t_mid).cast("long").alias("effective_ts"),
    )
    dim = scd2_apply(current, batch, keys=["c_custkey"], compare_cols=["c_acctbal"])
    facts = orders.select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"),
        F.unix_micros("o_orderdate").alias("o_us"),
    )
    versions = dim.select(
        "c_custkey", "c_acctbal", "valid_from",
        F.coalesce("valid_to", F.lit(2**62)).alias("vt"),
    )
    out = asof_join(
        facts, versions, on="c_custkey", left_ts="o_us", right_ts="valid_from",
        values=["c_acctbal", "vt"], tiebreak="vt",
    )
    return out.filter(F.col("o_us") < F.col("vt_matched")).select(
        "o_orderkey", "c_custkey",
        F.round("c_acctbal_matched", 6).alias("acctbal_at_order"),
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics shape:
    users grouped by first-seen week (cohort), counted distinct in
    each later week as a week offset. Two hash aggregates and one
    broadcast-sized join (cohort frame is one row per user); the
    distinct count is exact (countDistinct, map-side partials)."""
    events = load_table(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 604800000000")
    activity = events.select("user_id", week.alias("week")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph (who-buys-from-
    whom edges out of lineitem, symmetrized so no vertex dangles),
    3 deterministic power sweeps (pipeline/graph.py::pagerank). The
    oracle unrolls the same three sweeps as SQL CTEs — decimal-exact
    contribution sums make every float bit-reproducible, so an
    ITERATIVE algorithm sits under the full value-hash gate."""
    from ..pipeline.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    out = pagerank(edges, n_iter=3)
    return out.select("v", F.round("rank", 12).alias("rank"))


def q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution on a graph that HAS
    dangling vertices: directed customer→supplier edges only, so every
    supplier dangles. The per-sweep dangling mass is a decimal-exact
    one-row aggregate (metadata-scale driver scalar), redistributed
    uniformly — sum(rank) stays 1 (conservation pytest-checked). The
    oracle unrolls the sweeps with the mass as a scalar CTE."""
    from ..pipeline.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    out = pagerank(edges, n_iter=3, dangling="redistribute")
    return out.select("v", F.round("rank", 12).alias("rank"))


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the multigraph trade edges: every
    lineitem is one parallel edge, pre-aggregated to per-(src,dst)
    repeat counts; each vertex splits rank proportionally to out-edge
    weight (round(rank*w/deg,15) decimal-exact sums)."""
    from ..pipeline.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("c"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
        F.lit(1).alias("one"),
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "one"
    ).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "one")
    )
    out = pagerank(edges, n_iter=3, weight="one")
    return out.select("v", F.round("rank", 12).alias("rank"))


def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix via PIVOT — the wide-format reporting
    shape. The pivot values are DECLARED (no distinct-values pre-pass
    job), so the plan is a single scan + one hash aggregate emitting
    all five counted columns at once; the oracle mirrors with
    conditional-sum columns."""
    events = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .groupBy("day")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
    )


# --- data-quality validation suite (Deequ / dbt-test analog) -----------

def q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over `orders` with a referential
    check against `customer`. All seven row/unique constraints ride
    ONE aggregate scan (conditional sums + one exact distinct); the
    foreign key adds a single broadcast anti-join job. Several
    constraints are deliberately tighter than the data (status subset,
    price cap, priority 1-3) so the report carries nonzero violation
    counts — a suite of all-zero rows would hash-match even if the
    counting were broken. At 100 TB the same suite runs with
    approx=True (HLL distinct, no Expand) — exact here because the
    DuckDB oracle compares the numbers."""
    from ..pipeline.validate import (
        accepted_values,
        foreign_key,
        in_range,
        matches_regex,
        min_group_size,
        not_null,
        run_checks,
        satisfies,
        unique,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    checks = [
        not_null("o_custkey"),
        unique("o_orderkey"),
        accepted_values("o_orderstatus", ["F", "O"]),
        in_range("o_totalprice", 0.0, 100000.0),
        matches_regex("o_orderpriority", "^[1-3]-"),
        satisfies("positive_price", "o_totalprice > 0"),
        foreign_key("o_custkey", "customer", "c_custkey"),
        # k-anonymity over the (customer, priority) quasi-identifier:
        # ~2 rows/group on the fixture, so the report carries a large
        # nonzero violation count (see the suite-level comment above)
        min_group_size(["o_custkey", "o_orderpriority"], 3),
    ]
    return run_checks(orders, checks, parents={"customer": customer})


# --- time-series operators (pipeline/timeseries.py) ---------------------

q_rolling_hourly = _flow(
    {"op": "load", "table": "events"},
    {"op": "rolling", "key": "user_id", "ts_col": "ts", "value_col": "value",
     "window_sec": 3600},
)


q_ewma_value = _flow(
    {"op": "load", "table": "events"},
    {"op": "ewma", "key": "user_id", "ts_col": "ts", "value_col": "value",
     "alpha": 0.25, "tie_col": "event_id"},
)


q_resample_6h = _flow(
    {"op": "load", "table": "events"},
    {"op": "resample", "key": "user_id", "ts_col": "ts", "value_col": "value",
     "bucket_sec": 21600, "how": "ffill"},
)


q_winsorize = _flow(
    {"op": "load", "table": "events"},
    {"op": "winsorize", "group": "event_type", "value_col": "value",
     "id_col": "event_id", "p_lo": 0.01, "p_hi": 0.99},
)


q_anomaly_values = _flow(
    {"op": "load", "table": "events"},
    {"op": "anomaly", "group": "event_type", "value_col": "value", "k": 3},
)


q_event_transitions = _flow(
    {"op": "load", "table": "events"},
    {"op": "transitions", "key": "user_id", "ts_col": "ts",
     "type_col": "event_type", "tie_col": "event_id"},
)


q_editdist_join = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select",
     "columns": ["doc_id", "lower(substring(text, 1, 24)) AS prefix"]},
    {"op": "editdist_join", "id_col": "doc_id", "str_col": "prefix", "k": 1},
)


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-batch / score-stream anomaly detection: per-type (n, S1,
    S2) stats come from the STATIC events table (one map-side-combined
    aggregate, rows = type vocabulary) and broadcast into the events
    STREAM, where each micro-batch evaluates the exact decimal |z| > 3
    test with no streaming state at all. The oracle is the batch
    q_anomaly_values SQL — streaming vs batch must agree row-for-row,
    which also proves the flag is batch-boundary-independent."""
    import uuid

    from ..pipeline.timeseries import anomaly_flags

    static = load_table(spark, sf_dir, "events")
    stream = _events_stream(spark, sf_dir)
    # Same decimal test + overflow fallback as the batch path: stats
    # train on the STATIC table (train_df), rows flow from the stream.
    out = anomaly_flags(stream, "event_type", "value", k=3,
                        train_df=static)
    qname = f"anom_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname)


def _cosupply_edges(li: DataFrame) -> DataFrame:
    """Thresholded co-supply graph shared by q_triangle_count and
    q_communities (single-sourced so the two queries — and their
    oracle mirrors — can never desynchronize): suppliers co-appearing
    in an order, kept when support >= 1.25x the mean, stated as
    4*c*n >= 5*sum(c) so the cutoff is integer arithmetic and
    scale-free across SFs."""
    pairs = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    support = (
        pairs.alias("a")
        .join(pairs.alias("b"), "o")
        .where(F.col("a.s") < F.col("b.s"))
        .groupBy(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = support.agg(
        F.sum("c").alias("__sum"), F.count(F.lit(1)).alias("__cnt")
    )
    return (
        support.crossJoin(F.broadcast(tot))
        .where(F.col("c") * 4 * F.col("__cnt") >= F.col("__sum") * 5)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts + local clustering coefficient on
    the thresholded co-supply graph (_cosupply_edges). Degree-ordered
    orientation bounds the wedge join at O(m^1.5) regardless of hub
    skew (pipeline/graph.py::triangle_count)."""
    from ..pipeline.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    return triangle_count(_cosupply_edges(li))


# chunk_sec=21600 bounds each window task by events per user per 6 h,
# the hot-key defense (12.9 s -> ~2 s on the 530k-event sf1-skew user,
# SCALE.md). The output is byte-identical to q_rolling_hourly's, so
# the two share one oracle.
q_rolling_chunked = _flow(
    {"op": "load", "table": "events"},
    {"op": "rolling", "key": "user_id", "ts_col": "ts", "value_col": "value",
     "window_sec": 3600, "chunk_sec": 21600},
)


q_corr_matrix = _flow(
    {"op": "load", "table": "lineitem"},
    {"op": "corr_matrix",
     "cols": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]},
)


# Without a weights_path the stage uses the hash_weights fixture, which
# the oracle rebuilds from the same md5 construction.
q_quality_classifier = _flow(
    {"op": "load", "table": "documents"},
    {"op": "classify", "n_buckets": 4096},
)


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration report (pipeline/classify.py::
    calibration_report): the hashed-linear quality model's
    probabilities binned into deciles against a deterministic
    reference label (lang = 'en' — the label SOURCE is fixture
    detail; the graded machinery is the binning, the order-proof
    decimal mean, and the gap arithmetic a filter pipeline reads
    before trusting probs as sampling weights). Oracle rebuilds the
    classifier chain and replays the bin algebra bit-for-bit."""
    from ..pipeline.classify import (
        calibration_report,
        hash_weights,
        linear_text_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = linear_text_classifier(
        docs, hash_weights(spark, 4096), n_buckets=4096
    )
    j = scored.join(
        docs.select(
            "doc_id", (F.col("lang") == "en").alias("actual")
        ),
        "doc_id",
    )
    return calibration_report(j).orderBy("bin")


def q_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (pipeline/classify.py::cohens_kappa):
    chance-corrected agreement between the hashed-linear model's
    boolean label and the lang = 'en' reference — the one-row QA
    number for "does the trained filter agree beyond base rates".
    Oracle: the classifier chain + the exact-count kappa arithmetic."""
    from ..pipeline.classify import (
        cohens_kappa,
        hash_weights,
        linear_text_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = linear_text_classifier(
        docs, hash_weights(spark, 4096), n_buckets=4096
    )
    j = scored.join(
        docs.select(
            "doc_id", (F.col("lang") == "en").alias("actual")
        ),
        "doc_id",
    )
    return cohens_kappa(j, "label", "actual")


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (pipeline/classify.py::
    expected_calibration_error): q_calibration's table
    folded to the one dashboard row — the bin-mass-weighted mean
    |mean_prob − frac_actual|, order-proof via an exact decimal
    weighted sum. Oracle = the calibration oracle wrapped in the
    identical fold."""
    from ..pipeline.classify import (
        expected_calibration_error,
        hash_weights,
        linear_text_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = linear_text_classifier(
        docs, hash_weights(spark, 4096), n_buckets=4096
    )
    j = scored.join(
        docs.select(
            "doc_id", (F.col("lang") == "en").alias("actual")
        ),
        "doc_id",
    )
    return expected_calibration_error(j)


q_rolling_active_users = _flow(
    {"op": "load", "table": "events"},
    {"op": "active_users", "user_col": "user_id", "ts_col": "ts",
     "window_days": 7},
)


q_anomaly_mad = _flow(
    {"op": "load", "table": "events"},
    {"op": "anomaly_mad", "group": "event_type", "value_col": "value", "k": 3},
)


# Baseline = the first nine days; slack ~ sigma/2 (2500 cents) and
# h ~ 5 sigma (25000 cents) are the classic Page CUSUM parameters.
q_changepoint_cusum = _flow(
    {"op": "load", "table": "events"},
    {"op": "cusum", "key": "event_type", "ts_col": "ts", "value_col": "value",
     "train_end_ts": "2024-01-10", "h_cents": 25000, "slack_cents": 2500},
)


q_pq_topk = _flow(
    {"op": "load", "table": "embeddings"},
    {"op": "tag", "name": "corpus"},
    {"op": "filter", "condition": "vec_id < 8"},
    {"op": "tag", "name": "queries"},
    {"op": "use", "tag": "corpus"},
    {"op": "pq_topk", "right": "queries", "dim": 64, "m": 8, "ksub": 16,
     "k": 5, "n_iter": 2},
)


def q_stream_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference on a documents STREAM: the
    window-free feature extraction (pipeline/classify.py) runs
    unchanged on micro-batches; the weight vector is a broadcast
    static side. The per-doc logit aggregation is a streaming
    aggregate in update mode — each doc_id's text arrives in exactly
    one micro-batch, so its group finalizes in that batch and the
    update-mode memory sink holds one row per doc. Shares the batch
    oracle verbatim: streaming is an execution mode, not a semantic
    change."""
    import uuid

    from ..pipeline.classify import hash_weights, linear_text_classifier

    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")
    out = linear_text_classifier(
        stream, hash_weights(spark, 4096), n_buckets=4096
    )
    qname = f"classify_stream_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname)


# chunk_sec=86400 bounds each window task by rows per key per day.
# Decimal addition is associative, so the output is bit-identical to
# q_changepoint_cusum's and the two share one oracle.
q_cusum_chunked = _flow(
    {"op": "load", "table": "events"},
    {"op": "cusum", "key": "event_type", "ts_col": "ts", "value_col": "value",
     "train_end_ts": "2024-01-10", "h_cents": 25000, "slack_cents": 2500,
     "chunk_sec": 86400},
)


q_ivfpq_topk = _flow(
    {"op": "load", "table": "embeddings"},
    {"op": "tag", "name": "corpus"},
    {"op": "filter", "condition": "vec_id < 8"},
    {"op": "tag", "name": "queries"},
    {"op": "use", "tag": "corpus"},
    {"op": "ivfpq_topk", "right": "queries", "dim": 64, "n_centroids": 16,
     "n_probe": 4, "m": 8, "ksub": 16, "k": 5, "n_iter": 2},
)


q_group_quantiles = _flow(
    {"op": "load", "table": "events"},
    {"op": "quantiles", "group": "event_type", "value_col": "value",
     "ps": [0.25, 0.5, 0.75, 0.95, 0.99]},
)


def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier communities on the co-supply graph (same thresholded
    edge set as q_triangle_count) via deterministic synchronous label
    propagation, 3 sweeps (pipeline/graph.py::label_propagation). The
    oracle replays the sweeps as chained CTEs — most-frequent neighbor
    label with lowest-label tie-break is exactly mirrorable, which is
    why the synchronous variant was chosen over the randomized
    asynchronous original."""
    from ..pipeline.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    return label_propagation(_cosupply_edges(li), n_iter=3)


# --- mergeable sketches ------------------------------------------------

q_hll_distinct = _flow(
    {"op": "load", "table": "events"},
    {"op": "hll_distinct", "key": "user_id", "groups": ["event_type"]},
)


def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY end-to-end: per-source HLL states over
    document texts, merged (groupBy max — associative/idempotent) to
    one corpus-wide state, then estimated. At 100 TB this is the
    daily-rollup pattern: keep per-partition sketches, merge on
    demand; the oracle computes the global registers directly, which
    equals the merge because max is a semilattice."""
    from ..pipeline.sketches import hll_estimate, hll_merge, hll_sketch

    docs = load_table(spark, sf_dir, "documents")
    per_source = hll_sketch(docs, "text", ["source"])
    return hll_estimate(hll_merge(per_source, []), [])


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates vs exact counts for the top-20
    hottest user keys: est >= exact always (collisions only inflate).
    The sketch is d=4 x w=512 cells regardless of input size and the
    probe is one broadcast join — frequency lookups at scale without
    re-scanning, and mergeable across days (cms_merge)."""
    from ..pipeline.sketches import cms_build, cms_estimate

    events = load_table(spark, sf_dir, "events")
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact")
    )
    keys = exact.orderBy(F.desc("exact"), F.asc("user_id")).limit(20)
    sketch = cms_build(events, "user_id")
    return cms_estimate(sketch, keys.select("user_id"), "user_id").join(
        F.broadcast(keys), "user_id"
    )


# --- corpus line dedup + Gopher quality rules ---------------------------

def _lined_documents(docs: DataFrame) -> DataFrame:
    """documents.text re-chunked into 12-word pseudo-lines joined by
    '\\n' (the corpus ships single-line texts; real web corpora carry
    newlines already). Integer-exact chunk count both engines:
    (n_words + 11) div 12."""
    return docs.select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(1, int((size(split(text, ' ')) + 11) div 12)), "
            "i -> array_join(slice(split(text, ' '), (i - 1) * 12 + 1, 12), ' ')), '\\n')"
        ).alias("text"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style corpus line deduplication
    (pipeline/dedup.py::line_dedup): drop every line repeating >= 2
    times across the corpus, reassemble docs, report kept/dropped.
    Two slim-key shuffles total — md5(line) for detection, doc_id for
    reassembly — never the line text itself."""
    from ..pipeline.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return line_dedup(_lined_documents(docs), min_count=2)


q_ngram_novelty = _flow(
    {"op": "load", "table": "documents"},
    {"op": "ngram_novelty"},
)


def q_boilerplate_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate-line rate within each source
    (pipeline/dedup.py::boilerplate_rate): lines occurring in >= 50%
    of a source's docs are domain boilerplate — the CCNet-style
    per-domain quality feature. The fixture plants a per-source
    header on EVERY doc (must flag: 100% >= 50%) and a rare footer on
    ~14% of docs (must not flag), on top of the 12-word pseudo-line
    restructuring shared with q_line_dedup; the oracle mirrors the
    planting, so both the threshold boundary and the rate arithmetic
    are value-checked."""
    from ..pipeline.dedup import boilerplate_rate

    docs = load_table(spark, sf_dir, "documents")
    lined = _lined_documents(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    planted = lined.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("header banner for "),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("\nrare footer line")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return boilerplate_rate(planted, pct=50)


# min_words=30 fits the corpus' 30-120-word docs and min_stop_hits=1
# its SQL-token vocabulary (only 'the' from the stop list occurs); the
# paper's 50/2 would fail every doc the same way. Every other
# threshold is the paper's.
q_gopher_rules = _flow(
    {"op": "load", "table": "documents"},
    {"op": "gopher_quality", "min_words": 30, "min_stop_hits": 1},
)


def q_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-reason histogram (pipeline/text.py::
    drop_reason_histogram) — q_gopher_rules' per-doc
    verdicts folded to the per-rule disposition a 100 TB filter sweep
    reports: (reason, n_docs, n_words) per firing rule plus the
    '<kept>' mass row. Oracle wraps the gopher oracle in the
    identical explode/aggregate."""
    from ..pipeline.text import drop_reason_histogram, gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    return drop_reason_histogram(
        gopher_quality(docs, min_words=30, min_stop_hits=1)
    )


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register maintenance UNDER STRUCTURED STREAMING: the
    events stream drives groupBy(group, reg).max(rho) in complete
    mode — 64 rows of state per group in the JVM state store, updated
    map-side per micro-batch; the estimate is computed once on the
    final state. Because register max is associative/idempotent, the
    final state is batch-split-independent and REPLAY-SAFE (a
    re-delivered event can only re-assert an existing max), so the
    oracle is the identical batch formula (q_hll_distinct's)."""
    import uuid

    from ..pipeline.sketches import hll_estimate, hll_sketch

    stream = _events_stream(spark, sf_dir).select("event_type", "user_id")
    sk = hll_sketch(stream, "user_id", ["event_type"])
    qname = f"stream_hll_{uuid.uuid4().hex[:8]}"
    q = (
        sk.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return hll_estimate(spark.table(qname), ["event_type"])


q_zscore = _flow(
    {"op": "load", "table": "events"},
    {"op": "zscore", "group": "event_type", "value_col": "value",
     "id_col": "event_id"},
)


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape via the native unpivot (melt) operator, then
    a per-measure profile — the 'melt every metric column and profile
    them uniformly' pattern. Unpivot is a zero-shuffle expression
    (explode of struct literals); only the 4-row profile aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(12,6)"))
        .cast("double")
        .alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def q_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column handling: from_json with an
    EXPLICIT schema (never schema inference on the hot path) over
    events.props, then a per-type rollup of the extracted field.
    At scale the parse is codegen'd inside the scan stage and the
    filter on the parsed field pushes no worse than a string filter."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_type",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").cast("bigint").alias("n_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (pipeline/graph.py::shortest_paths) over the
    symmetrized customer-supplier bipartite graph: hop distance from
    3 seed customers, 4 sweeps, frontier-only expansion with per-sweep
    lineage cuts. Integer distances — the oracle unrolls the sweeps
    as CTEs with zero float involvement."""
    from ..pipeline.graph import shortest_paths

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    seeds = cust.where(F.col("c_custkey") <= 3).select(
        (F.col("c_custkey") * 2).alias("v")
    )
    return shortest_paths(edges, seeds, n_hops=4)


# q_bucketed_join's previous invocation's catalog entries (dropped on
# the next invocation — see the in-function comment).
_BUCKETED_JOIN_TABLES: list[str] = []


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-partitioned co-located join (pipeline/layout.py::
    write_bucketed): orders and lineitem are written bucketed by
    order key (8 buckets each, one file per bucket), so the join
    consumes the write-time layout with ZERO join-side exchange —
    the 'pay the fact-table shuffle once' pattern
    (tests/test_plans.py asserts the exchange-free plan). Output is
    a revenue rollup per order status."""
    from ..pipeline.layout import write_bucketed

    import re

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # Table names derive from the per-invocation scratch root, so two
    # sessions sharing a metastore can never clobber each other's
    # tables mid-query (fixed names bj_*_r7 assumed strictly
    # sequential runs). The returned DataFrame reads these tables
    # LAZILY — they cannot be dropped in a finally before the caller
    # materializes — so instead the PREVIOUS invocation's pair is
    # dropped on re-entry: at most one live pair per process, no
    # unbounded catalog leak in a long session.
    root = _scratch("bucketed_")
    suffix = re.sub(r"[^A-Za-z0-9_]", "_", root.rsplit("/", 1)[-1])
    t_orders, t_lineitem = f"bj_orders_{suffix}", f"bj_lineitem_{suffix}"
    for prev in _BUCKETED_JOIN_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {prev}")
    _BUCKETED_JOIN_TABLES.clear()
    _BUCKETED_JOIN_TABLES.extend([t_orders, t_lineitem])
    write_bucketed(o, t_orders, f"{root}/orders", "o_orderkey")
    write_bucketed(li, t_lineitem, f"{root}/lineitem", "l_orderkey")
    ot = spark.table(t_orders)
    lt = spark.table(t_lineitem)
    rev = F.col("l_extendedprice").cast("decimal(12,6)") * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )
    return (
        lt.join(ot, lt.l_orderkey == ot.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: per order-year, each supplier
    nation's share of PROMO-part revenue. Star-join shape: the three
    dimensions (part filtered to PROMO, supplier, nation) broadcast;
    only the lineitem-orders fact join shuffles. Share = per-nation
    decimal-exact revenue / per-year total, one window over the
    25-nation-x-7-year result frame (post-aggregation, metadata
    sized)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,6)") * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )
    base = (
        li.join(F.broadcast(p.where(F.col("p_type") == "PROMO")),
                li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.col("n_name").alias("nation"),
            rev.alias("rev"),
        )
    )
    per = base.groupBy("o_year", "nation").agg(F.sum("rev").alias("_r"))
    from pyspark.sql import Window

    tot = Window.partitionBy("o_year")
    return per.select(
        "o_year",
        "nation",
        F.col("_r").cast("double").alias("revenue"),
        F.round(
            F.col("_r").cast("double") / F.sum("_r").over(tot).cast("double"), 6
        ).alias("share"),
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returns
    in one order-year — selective fact filters first (returnflag,
    year), customer/nation dims broadcast onto the small aggregate,
    deterministic (revenue DESC, custkey ASC) top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,6)") * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )
    agg = (
        li.where(F.col("l_returnflag") == "R")
        .join(o.where(F.year("o_orderdate") == 1997), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("_r"), F.count(F.lit(1)).cast("bigint").alias("n_items"))
    )
    return (
        agg.join(F.broadcast(c), agg.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("n_name").alias("nation"),
            F.col("_r").cast("double").alias("revenue"),
            "n_items",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group top-k (top-3 parts per brand by retail
    price, partkey tie-break): ONE window — Spark plans rank-limit
    windows with a partial WindowGroupLimit below the shuffle since
    3.5, so each map task pre-trims to k rows before any exchange;
    state per group is k rows, never the group."""
    p = load_table(spark, sf_dir, "part")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    )
    return (
        p.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", F.col("rk").cast("int").alias("rk"))
    )


def q_stream_hll_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-per-DAY maintained as a streaming HLL: the
    event-time tumbling window is just another sketch group, so state
    is 64 registers x |days| and the per-day estimate is available
    continuously — the production 'unique visitors per hour at
    100 TB/day' shape, where exact streaming count(distinct) state
    would grow with users. Batch-split-independent (register max), so
    the oracle is the per-day batch formula."""
    import uuid

    from ..pipeline.sketches import hll_estimate, hll_sketch

    stream = _events_stream(spark, sf_dir).select(
        F.date_format(F.window("ts", "1 day").getField("start"), "yyyy-MM-dd").alias(
            "day"
        ),
        "user_id",
    )
    sk = hll_sketch(stream, "user_id", ["day"])
    qname = f"stream_hll_w_{uuid.uuid4().hex[:8]}"
    q = (
        sk.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return hll_estimate(spark.table(qname), ["day"])


def q_approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column distinct-cardinality profile of lineitem via one
    grouped HLL pass (pipeline/sketches.py::approx_distinct_profile):
    the exact q_table_profile answers this with one shuffle PER
    column's distinct values; this ships 64 registers per column —
    the 100 TB data-catalog shape."""
    from ..pipeline.sketches import approx_distinct_profile

    li = load_table(spark, sf_dir, "lineitem")
    return approx_distinct_profile(
        li,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate"],
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (pipeline/similarity.py::
    semantic_decontaminate): flag corpus vectors whose best cosine
    against a broadcast eval set reaches 0.9 — catches paraphrased /
    re-tokenized benchmark leakage the n-gram decontaminators
    (q_decontaminate*) can't. Corpus never shuffles full-width; the
    per-row best-of is the salted two-phase top-k."""
    from ..pipeline.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.where(F.col("vec_id") % 97 == 0)
    return semantic_decontaminate(emb, evals, threshold=0.9)


def q_semantic_decontaminate_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_semantic_decontaminate with a CONSTANT-size eval set (the
    first 64 vec_ids at every SF) — the production shape: benchmark
    eval suites are fixed while the corpus grows, so cost is
    corpus-linear. The sibling query's eval set grows with the corpus
    (vec_id % 97), which made its sf0.1->sf1 bench ratio reflect the
    fixture's quadratic pair growth rather than the operator
    (SCALE.md r7); this variant is the one whose scaling ratio SHOULD
    be read as the operator's."""
    from ..pipeline.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.where(F.col("vec_id") < 64)
    return semantic_decontaminate(emb, evals, threshold=0.9)


def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing by trigram-LM
    score within each language — the corpus curation split that feeds
    quality-weighted sampling. NOT ntile over a per-language window
    (one task sorting a whole language's corpus at 100 TB):
    pipeline/stats.py::threshold_buckets derives the two ntile-boundary
    order statistics per language from the value-HISTOGRAM rank walk
    (window work bounded by distinct micro-scores, not docs),
    broadcasts them back, and buckets by comparison. Boundary-score
    ties all take the better bucket — deterministic with no per-doc
    tie ordering. The 6-decimal lm_score
    rides as an exact bigint micro-score; the oracle re-derives the
    thresholds with an independent sort-based formulation, so the
    entire train->score->threshold->bucket chain is value-checked."""
    from ..pipeline.stats import threshold_buckets
    from ..pipeline.text import lm_score, train_char_trigram_lm

    docs = load_table(spark, sf_dir, "documents")
    model = train_char_trigram_lm(docs)
    # exact integer view of the 6-decimal score (|s| <= ~1e6 << 2^53)
    sm = F.round(F.col("lm_score") * 1_000_000).cast("bigint")
    # threshold_buckets consumes its input twice (histogram walk +
    # bucket join); without a cut the whole train->score subtree (two
    # corpus explodes + the lang join) replays per consumer, so one
    # narrow (id, lang, score) row per doc is materialized once and
    # both consumers read the blocks. Same per-invocation computation,
    # no cross-run state.
    scored = (
        lm_score(docs, model)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "lm_score", sm.alias("__sm"))
        .localCheckpoint(eager=True)
    )
    bucketed = threshold_buckets(
        scored,
        "lang",
        "__sm",
        ("head", "middle", "tail"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("lm_score").alias("worst"),
        F.max("lm_score").alias("best"),
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format coverage under the oracle gate: export a filtered
    events slice as JSON-lines, read it back through the engine's
    declared-schema JSONL source (sources/flowfile.py::read_jsonl —
    PERMISSIVE mode, explicit schema, never inferSchema), aggregate.
    The oracle reads the ORIGINAL parquet: any drift introduced by the
    JSON encode/decode hop (timestamp formats, float text round-trip,
    column loss) fails the value hash."""
    from ..sources.flowfile import read_jsonl

    events = load_table(spark, sf_dir, "events")
    path = _scratch("jsonl_") + "/events"
    (
        events.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
            F.round("value", 6).alias("value"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .json(path)
    )
    back = read_jsonl(
        spark,
        path,
        "event_id BIGINT, user_id BIGINT, event_type STRING, "
        "ts_iso STRING, value DOUBLE",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("ts_iso").alias("first_ts"),
        F.max("ts_iso").alias("last_ts"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(24,6)"))
        .cast("double")
        .alias("total_value"),
    )


def q_union_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: combine two generations of the events
    feed — the legacy slice lacking `value`, the current slice
    carrying it — via unionByName(allowMissingColumns=True), the
    DataFrame analog of reading mixed-schema batches. Missing columns
    null-fill; the rollup counts both generations and sums only the
    present values."""
    events = load_table(spark, sf_dir, "events")
    legacy = events.where(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type"
    )
    current = events.where(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )
    merged = legacy.unionByName(current, allowMissingColumns=True)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("value").cast("bigint").alias("n_with_value"),
        F.sum(F.col("value").cast("decimal(24,6)")).cast("double").alias("sum_value"),
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source coverage under the oracle gate (the q_jsonl_roundtrip
    pattern): export, read back with an EXPLICIT schema + header
    (never inferSchema — a second full scan at 100 TB), aggregate;
    the oracle reads the original parquet so any encode/decode drift
    (quoting, float text, header handling) fails the value hash."""
    events = load_table(spark, sf_dir, "events")
    path = _scratch("csv_") + "/events"
    (
        events.where(F.col("event_type").isin("view", "signup"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    back = (
        spark.read.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
        )
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(24,6)"))
        .cast("double")
        .alias("total_value"),
    )


# --- TPC-H decision-support shapes --------------------------------------
# Q4/Q7/Q9/Q13/Q14/Q15/Q17/Q19/Q21/Q22 analogs adapted to the fixture
# schema (no partsupp / commitdate / receiptdate / phone columns — each
# docstring states the substitution). Together with the existing
# Q1/Q3/Q5/Q6/Q8/Q10/Q18 shapes they cover every relational idiom the
# benchmark exercises: semi/anti joins, correlated and scalar
# subqueries, conditional aggregation, disjunctive join predicates,
# outer-join distributions. All revenue math is decimal-exact; every
# dimension that is metadata-sized at 100 TB is broadcast, and every
# fact-fact join shuffles on its natural key once.

_DEC_REV = "decimal(12,6)"


def _li_revenue() -> "F.Column":
    """Exact TPC-H revenue term: extendedprice * (1 - discount)."""
    return F.col("l_extendedprice").cast(_DEC_REV) * (
        F.lit(1).cast("decimal(7,6)") - F.col("l_discount").cast("decimal(7,6)")
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority check: orders placed in 1997-Q1 that
    had at least one line shipped 30+ days after ordering, counted per
    priority. The EXISTS becomes a LEFT SEMI join on orderkey with the
    lateness predicate inside the join condition — Catalyst keeps the
    date filter on the orders scan (partition-prunable) and the semi
    join short-circuits per key, so no duplicate elimination or
    count-distinct is ever materialized."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (li.l_orderkey == o.o_orderkey) & (
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped shipping volume between NATION_1 and NATION_2
    per ship-year. Both nation maps pre-filter their side BEFORE the
    fact joins: supplier x nation collapses to a broadcastable
    (suppkey, supp_nation) list that prunes lineitem to 2/25 of its
    rows at the scan join; the customer side stays a shuffle join
    (customers are not metadata-sized at 100 TB) but is equally
    pre-filtered, so the orders-customer exchange carries 8% of the
    keyspace."""
    pair = ("NATION_1", "NATION_2")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(*pair))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_li_revenue()).alias("_r"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            F.col("_r").cast("double").alias("revenue"),
        )
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit by supplier nation and
    order-year for 'widget' parts. The fixture has no partsupp, so
    supplycost is proxied as half the part's retail price (stated in
    the oracle identically). part/supplier/nation all broadcast; the
    only exchanges are lineitem-orders on orderkey and the final
    25x7-group aggregate. Amounts stay decimal end-to-end."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # cost term in narrow decimals (retail is cents-exact, quantity is
    # tenths-exact) so the DuckDB-side subtraction never overflows its
    # intermediate precision
    amount = _li_revenue() - (
        F.lit("0.5").cast("decimal(2,1)")
        * F.col("p_retailprice").cast("decimal(8,2)")
        * F.col("l_quantity").cast("decimal(4,1)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).alias("_p"))
        .select(
            "nation",
            "o_year",
            F.round(F.col("_p").cast("double"), 4).alias("profit"),
        )
    )


def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed exactly N non-'4-NOT SPECIFIED' orders, including
    the zero bucket via a LEFT OUTER join from customer. First agg
    shuffles on custkey (pre-aggregated map-side), the distribution agg
    is metadata-sized (|distinct counts| rows)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share for September 1997: one
    selective lineitem scan, part broadcast, conditional decimal
    aggregation, single-row output. The month filter sits on the scan
    (partition-prunable); the division happens once, driver-side scale,
    in double with a fixed rounding."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _li_revenue()
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast(_DEC_REV))).alias("_promo"),
            F.sum(rev).alias("_total"),
        )
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("_promo").cast("double") / F.col("_total").cast("double"),
            6,
        ).alias("promo_share")
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: per-supplier revenue over
    1997-Q1, then the supplier(s) achieving the maximum — the scalar
    subquery becomes a broadcast of the one-row max joined back by
    equality on the exact decimal total (no double compare, no total
    sort). Supplier dim broadcast for the name."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    agg = li.groupBy("l_suppkey").agg(F.sum(_li_revenue()).alias("_r"))
    mx = agg.agg(F.max("_r").alias("_mx"))
    return (
        agg.join(F.broadcast(mx), agg._r == mx._mx)
        .join(F.broadcast(s), agg.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_r").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue for Brand#3: lines with
    quantity below half the part's average quantity. The correlated
    AVG becomes a per-partkey aggregate of the already-brand-filtered
    lines joined back on partkey — both sides share one shuffle key,
    and the threshold test is integer-exact (2*n*qty < sum_qty, no
    double average materialized)."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", F.col("l_quantity").cast("bigint").alias("_q"),
                "l_extendedprice")
    )
    per = li.groupBy("l_partkey").agg(
        F.sum("_q").alias("_sum_q"), F.count(F.lit(1)).alias("_n")
    ).withColumnRenamed("l_partkey", "_pk")
    return (
        li.join(per, li.l_partkey == F.col("_pk"))
        .where(F.lit(2) * F.col("_n") * F.col("_q") < F.col("_sum_q"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC_REV)).cast("double")
                / F.lit(7.0),
                6,
            ).alias("avg_yearly")
        )
    )


def q_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: three OR blocks
    over (brand, size, quantity) evaluated as a residual predicate on
    a single broadcast part join — Catalyst pushes the common partkey
    equi-condition into the hash join and keeps the disjunction as a
    post-join filter, so lineitem is scanned once with no union of
    three plans."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    blocks = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(blocks)
        .agg(F.sum(_li_revenue()).cast("double").alias("revenue"))
    )


def q_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped waiting-orders: suppliers who were the SOLE
    late shipper (90+ days after ordering) on a finalized multi-
    supplier order. The fixture has no receipt/commit dates, so 'late'
    is shipdate > orderdate + 90 days, stated identically in the
    oracle. EXISTS -> LEFT SEMI on (orderkey, other-supplier),
    NOT EXISTS -> LEFT ANTI on (orderkey, other-late-supplier); all
    three lineitem passes and the orders join share the orderkey
    shuffle key, the supplier name map broadcasts, and the top-20 is a
    deterministic (numwait DESC, name ASC) limit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey
    ).where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).select("l_orderkey", "l_suppkey")
    others = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("_lok"), F.col("l_suppkey").alias("_lsk")
    )
    base = late.join(
        others,
        (late.l_orderkey == others._ok) & (late.l_suppkey != others._sk),
        "left_semi",
    ).join(
        late_others,
        (late.l_orderkey == late_others._lok) & (late.l_suppkey != late_others._lsk),
        "left_anti",
    )
    return (
        base.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant high-balance customers: accounts above
    the positive-balance average with no order since 1999, grouped by
    nation. The scalar AVG subquery is exact — the broadcast one-row
    (sum, count) pair turns 'bal > avg' into the integer-safe decimal
    inequality bal*n > sum — and the NOT EXISTS is a LEFT ANTI join
    against post-1999 orders. Balance totals are decimal(12,2)-exact,
    rendered to double only at the boundary."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("_bal"),
    )
    pos = c.where(F.col("_bal") > 0).agg(
        F.sum("_bal").alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "1999-01-01"
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))
        .where(F.col("_bal") * F.col("_n") > F.col("_sum"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum("_bal").cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct users per event type: the theta-sketch
    complement to q_hll_distinct — state is the k smallest distinct
    60-bit hashes (a uniform key-space sample), estimate is one
    integer-fed double division, exchanges carry hashes / k-row
    states only (pipeline/sketches.py::kmv_sketch)."""
    from ..pipeline.sketches import kmv_estimate, kmv_sketch

    e = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(e, "user_id", ["event_type"], k=64)
    return kmv_estimate(sk, ["event_type"], k=64).orderBy("event_type")


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap between click and purchase users via two KMV
    sketches: Jaccard from the union sample's exact A/B membership
    (k-row semi joins), intersection = jaccard x union estimate —
    the set-algebra query HLL inclusion-exclusion answers poorly when
    the overlap is small (pipeline/sketches.py::kmv_set_relations)."""
    from ..pipeline.sketches import kmv_set_relations, kmv_sketch

    e = load_table(spark, sf_dir, "events")
    a = kmv_sketch(e.where(F.col("event_type") == "click"), "user_id", [], k=64)
    b = kmv_sketch(e.where(F.col("event_type") == "purchase"), "user_id", [], k=64)
    return kmv_set_relations(a, b, k=64)


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-week traffic baseline: mean value per (event_type,
    day-of-week, hour) slot — slot-grid-sized output from one
    map-side-combined aggregate, exact cents sums, one rounded
    division per slot (pipeline/timeseries.py::seasonal_profile)."""
    from ..pipeline.timeseries import seasonal_profile

    events = load_table(spark, sf_dir, "events")
    return seasonal_profile(events, "ts", "value", "event_type")


q_seasonal_anomaly = _flow(
    {"op": "load", "table": "events"},
    {"op": "seasonal_anomaly", "ts_col": "ts", "value_col": "value",
     "group": "event_type", "k": 3},
)


q_bm25_topk = _flow(
    {"op": "load", "table": "documents"},
    {"op": "bm25", "query_terms": ["spark", "join", "stream"], "k": 10},
)


q_linear_trend = _flow(
    {"op": "load", "table": "events"},
    {"op": "trend", "ts_col": "ts", "value_col": "value",
     "group": "event_type"},
    {"op": "sql", "query": "SELECT * FROM __this__ ORDER BY event_type"},
)


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of lexical and semantic retrieval: BM25
    top-20 (three-term query over documents) fused with brute-force
    cosine top-20 (query vector = vec_id 0, sharing the doc id space)
    by RRF = sum 1/(60 + rank) over the lists each doc appears in.
    Both candidate lists are k-row frames, so the fusion is a k x k
    full-outer join — metadata-sized regardless of corpus size; the
    heavy lifting stays in the two retrieval passes, each with its own
    scale design. Ranks are exact ints, the RRF score is a fixed-shape
    IEEE expression over them (cross-engine identical), ties break on
    doc id."""
    from pyspark.sql import Window

    from ..pipeline.similarity import brute_force_topk
    from ..pipeline.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, ["spark", "join", "stream"], k=20).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("bm25_rank")
    )
    ann = brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("id"),
        F.col("rank").cast("int").alias("ann_rank"),
    )
    rrf = F.when(
        F.col("bm25_rank").isNotNull(),
        F.lit(1.0) / (F.lit(60.0) + F.col("bm25_rank").cast("double")),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("ann_rank").isNotNull(),
        F.lit(1.0) / (F.lit(60.0) + F.col("ann_rank").cast("double")),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy().orderBy(F.col("_rrf").desc(), F.col("id").asc())
    return (
        bm.join(ann, "id", "full_outer")
        .withColumn("_rrf", rrf)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select(
            "id",
            "bm25_rank",
            "ann_rank",
            "rank",
            F.round(F.col("_rrf"), 6).alias("rrf"),
        )
    )


def q_cube_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native CUBE grouping-set aggregation: event counts and exact
    cents totals over every subset of (event_type, day-of-week) —
    Catalyst expands the grouping sets inside ONE aggregate (a single
    shuffle with the grouping-id column), no union of four scans.
    NULL grouping columns are rendered as 'ALL' to keep the driver
    hash deterministic across engines' NULL conventions."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.cube(
            F.col("event_type"),
            F.dayofweek("ts").cast("int").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).alias("sum_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n",
            "sum_cents",
        )
    )


_DPP_PATHS: dict[str, str] = {}


def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: events land in a
    date-partitioned layout (the standard 100 TB fact layout — one
    directory per day), then join a dimension whose filter
    ('Monday-only days') is NOT statically derivable on the fact
    side. Catalyst plans a dynamicpruning subquery: the broadcast
    dim's day list prunes fact PARTITIONS at runtime, so the scan
    reads ~1/7 of the directories instead of all of them — the plan
    is asserted in tests/test_plans.py. Counts per (day, event_type)
    come decimal-exact off the pruned scan."""
    events = load_table(spark, sf_dir, "events")
    # one partitioned copy per (process, sf_dir): the fact rewrite is
    # layout staging, not operator cost — repeated invocations (plan
    # tests, oracle pass, bench) must not each rewrite and abandon a
    # full copy of the largest table
    path = _DPP_PATHS.get(sf_dir)
    if path is None:
        path = _scratch("aces_dpp_")
        (
            events.withColumn("day", F.to_date("ts"))
            # one file per day partition, not one per (task x day)
            .repartition(F.col("day"))
            .write.partitionBy("day")
            .mode("overwrite")
            .parquet(path)
        )
        _DPP_PATHS[sf_dir] = path
    facts = spark.read.parquet(path)
    # dim: the distinct Mondays — built from the SAME fixture so the
    # oracle can rebuild it; the Monday-ness lives only in the dim,
    # forcing runtime (not static) pruning of the fact partitions
    dim = (
        events.select(F.to_date("ts").alias("day"))
        .distinct()
        .where(F.dayofweek(F.col("day")) == 2)
    )
    return (
        facts.join(F.broadcast(dim), "day")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
        )
    )


def q_stream_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-batch / score-stream SEASONAL anomaly detection: the
    (group, dow, hour) slot stats train on the static table and
    broadcast into the events stream — each micro-batch evaluates the
    exact slot-relative decimal test with zero streaming state, the
    q_stream_anomaly pattern with the seasonal slot key. Shares
    q_seasonal_anomaly's oracle verbatim, proving the seasonal flag
    batch-boundary-independent too."""
    import uuid

    from ..pipeline.timeseries import seasonal_anomalies

    static = load_table(spark, sf_dir, "events")
    stream = _events_stream(spark, sf_dir)
    # ONE definition of the slot key: seasonal_anomalies tags both the
    # scoring stream and the static training frame itself (train_df),
    # so batch and stream can never disagree about what a slot is.
    out = seasonal_anomalies(
        stream, "ts", "value", "event_type", k=3, train_df=static
    )
    qname = f"seas_anom_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname)


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUPED train/val/test split (the GroupKFold
    analog): the split hashes the SOURCE, not the document, so near-
    duplicate documents from one crawl domain can never straddle the
    train/eval boundary — the domain-level contamination the per-doc
    split cannot prevent. Same zero-shuffle codegen expression as
    q_hash_split, keyed on the group column; output proves every
    source lands in exactly one split."""
    from ..pipeline.splits import hash_split

    docs = load_table(spark, sf_dir, "documents")
    tagged = hash_split(docs, id_col="source", seed="groupsplit")
    return (
        tagged.groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("source", "split")
    )


# even vs odd vec_ids stand in for two consecutive crawls
q_embedding_drift = _flow(
    {"op": "load", "table": "embeddings"},
    {"op": "tag", "name": "snapshots"},
    {"op": "filter", "condition": "vec_id % 2 = 1"},
    {"op": "tag", "name": "odd"},
    {"op": "use", "tag": "snapshots"},
    {"op": "filter", "condition": "vec_id % 2 = 0"},
    {"op": "embedding_drift", "right": "odd", "dim": 64, "n_centroids": 16},
)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: per query vector, the top-5 most
    similar vectors with a DIFFERENT label — label inequality applied
    before any dot product, broadcast queries, salted exact top-k
    (pipeline/similarity.py::hard_negatives)."""
    from ..pipeline.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, emb.where(F.col("vec_id") < 8), k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


q_rank_normalize = _flow(
    {"op": "load", "table": "events"},
    {"op": "rank_normalize", "group": "event_type", "value_col": "value",
     "id_col": "event_id"},
)


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared term selection against a binary label (embedding
    label < 5, joined on the shared id space): exact contingency
    counts, decimal determinant, one IEEE division — the
    feature-selection pass before training the hashed-linear
    classifier (pipeline/classify.py::chi2_terms)."""
    from ..pipeline.classify import chi2_terms

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") < 5).cast("int").alias("y"),
    )
    joined = docs.join(emb, "doc_id")
    return chi2_terms(joined, "y", "text", "doc_id", k=20, min_df=2)


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier: for each part of one brand,
    the supplier(s) achieving the MINIMUM observed unit price in one
    region — the correlated-aggregate-equality idiom (cost = (SELECT
    min(cost) ... same part)). The fixture has no partsupp, so the
    (part, supplier) catalog derives from observed lineitem with unit
    price = min exact decimal l_extendedprice / l_quantity per pair
    (stated identically in the oracle). The correlated MIN becomes a
    per-part aggregate of the already-filtered pairs joined back on
    partkey — the same one-shuffle-key shape as the Q17 correlated
    AVG; region/nation/supplier broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#5")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    sup_region = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    # unit price as an exact integer: decimal division is not exact in
    # general (1/3), so the comparable is price-cents-per-10-units via
    # integer div — a deterministic proxy stated identically in the
    # oracle
    pairs = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup_region), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        # integer `div`, not floor(a/b): the double quotient rounds
        # near boundaries; div is exact on bigints in both engines
        .agg(
            F.min(F.expr(
                "(cast(round(l_extendedprice * 100) as bigint) * 10) "
                "div cast(l_quantity as bigint)"
            )).cast("bigint").alias("unit_milli")
        )
    )
    best = pairs.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("unit_milli").alias("_best")
    )
    return (
        pairs.join(best, (pairs.l_partkey == F.col("_pk"))
                   & (pairs.unit_milli == F.col("_best")))
        .join(F.broadcast(sup_region), pairs.l_suppkey == sup_region.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            F.col("n_name").alias("nation"),
            "unit_milli",
        )
        .orderBy("p_partkey", "s_name")
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native multiset algebra: customers ordering in 1997 INTERSECT
    ALL / EXCEPT ALL customers ordering in 1998, plus the distinct
    INTERSECT — Catalyst plans these as semi/anti hash joins with
    multiset counting, one tagged union output. The duplicate-
    preserving ALL variants are the semantics a dedup pipeline
    actually needs (how MANY order-events survive), which plain
    semi-joins don't express."""
    o = load_table(spark, sf_dir, "orders")
    c97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    c98 = o.where(F.year("o_orderdate") == 1998).select("o_custkey")
    both_all = c97.intersectAll(c98).groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).withColumn("op", F.lit("intersect_all"))
    only97_all = c97.exceptAll(c98).groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).withColumn("op", F.lit("except_all"))
    both_distinct = c97.intersect(c98).select(
        "o_custkey", F.lit(1).cast("bigint").alias("n"),
        F.lit("intersect").alias("op")
    )
    return both_all.unionByName(only97_all).unionByName(both_distinct)


q_weighted_median = _flow(
    {"op": "load", "table": "lineitem"},
    {"op": "weighted_median", "group": "l_returnflag",
     "value_col": "l_extendedprice", "weight_col": "l_quantity"},
    {"op": "sql", "query": "SELECT * FROM __this__ ORDER BY l_returnflag"},
)


def q_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the
    user's latest NON-purchase event within the preceding hour —
    composed from the as-of join operator (single-shuffle
    union-window plan), then a vocabulary-sized count by attributed
    type with unattributed purchases kept as 'none'
    (operators/joins.py::asof_join)."""
    from ..operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = e.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("touch_type"),
        F.col("event_id").alias("touch_id"),
    )
    joined = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        values=["touch_type"],
        tolerance_sec=3600.0,
        tiebreak="touch_id",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("touch_type_matched"), F.lit("none")).alias(
                "attributed_type"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
        .orderBy("attributed_type")
    )


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-LESS semi-structured access via Spark 4's VARIANT type:
    try_parse_json keeps malformed payloads NULL instead of failing
    the batch, variant_get extracts a typed path with no declared
    schema — the modern lakehouse idiom complementing q_props_parse's
    declared-schema from_json (when the shape is unknown or evolving,
    variant defers typing to the access site; the binary variant
    encoding also skips re-parsing per field). All expression-level:
    runs inside the scan, one vocabulary-sized aggregate after."""
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("k").cast("bigint").alias("distinct_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


# Exact-recall near-dup pairs through the ppjoin_dedup stage: the
# unpruned counted n-gram index (pipeline/dedup.py::
# near_dup_pairs_ngram), no max_df heuristic. The oracle is the GROUND
# TRUTH (every pair with J >= t), so candidate recall is
# value-hash-proven exact.
q_dedup_ngram_prefix = _flow(
    {"op": "load", "table": "documents"},
    {"op": "ppjoin_dedup", "k": 3, "threshold": 0.5},
)


def q_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production incremental ingest: the signature store holds the
    first half of the corpus (8 bytes/doc, no text); the second half
    arrives as a batch and every doc routes to duplicate_store /
    duplicate_batch / unique with the unique signatures appended for
    the NEXT batch to check against
    (pipeline/dedup.py::incremental_near_dedup)."""
    from ..pipeline.dedup import incremental_near_dedup, simhash_fingerprints
    from ..stores import KeyedParquetStore

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_incdedup_"),
        keys=["doc_id"],
        n_buckets=8,
    )
    store.init(simhash_fingerprints(old))
    return incremental_near_dedup(store, new).select("doc_id", "fp", "route")


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric aggregate cube/rollup
    can't express: (type x day-of-week), (type), and (dow) WITHOUT the
    grand total, in ONE Expand+aggregate pass. grouping_id()
    disambiguates real NULL group keys from grouping-set NULLs (the
    reason 'ALL' coalescing alone is unsafe in general)."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    sql_df = events.select(
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        cents.alias("cents"),
    )
    sql_df.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(CAST(dow AS STRING), 'ALL') AS dow,
               CAST(grouping_id(event_type, dow) AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))
        """
    )


def q_sla_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily latency-SLA dashboard shape: exact p50/p95 value bands
    per (event_type, day) — the quantile machinery over a composite
    time grain. One histogram pass per the group_quantiles discipline
    (window work bounded by per-slot value CARDINALITY, never rows);
    the composite key keeps slots small, which is exactly why this
    never needs a sketch (pipeline/stats.py::group_quantiles)."""
    from ..pipeline.stats import group_quantiles

    events = load_table(spark, sf_dir, "events")
    tagged = events.withColumn(
        "_slot",
        F.concat_ws(
            "|", F.col("event_type"), F.date_format("ts", "yyyy-MM-dd")
        ),
    )
    out = group_quantiles(tagged, "_slot", "value", ps=(0.5, 0.95))
    return out.select(
        F.split("_slot", "\\|").getItem(0).alias("event_type"),
        F.split("_slot", "\\|").getItem(1).alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.col("p50").cast("bigint").alias("p50_cents"),
        F.col("p95").cast("bigint").alias("p95_cents"),
    )


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event funnel metric: per signup-week cohort, the exact
    median and p90 minutes from each user's FIRST signup to their
    first subsequent purchase. Firsts are min-aggregates on one
    user_id exchange; deltas bucket to integer minutes so the cohort
    quantiles ride the same value-histogram rank walk (distinct
    minute-deltas per cohort, never raw rows); non-converting users
    are simply absent (survival analysis handles them — this is the
    converted-population latency)."""
    from ..pipeline.stats import group_quantiles

    events = load_table(spark, sf_dir, "events")
    s = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_pu"), F.col("ts").alias("purchase_ts")
    )
    first_purchase = (
        s.join(p, (s.user_id == F.col("_pu"))
               & (F.col("purchase_ts") >= F.col("signup_ts")))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("purchase_ts").alias("first_purchase_ts"))
    )
    deltas = first_purchase.select(
        F.concat(
            F.year("signup_ts").cast("string"),
            F.lit("-w"),
            F.lpad(F.weekofyear("signup_ts").cast("string"), 2, "0"),
        ).alias("cohort_week"),
        (
            (F.unix_timestamp("first_purchase_ts")
             - F.unix_timestamp("signup_ts"))
            / F.lit(60)
        ).cast("bigint").alias("minutes"),
    )
    out = group_quantiles(deltas, "cohort_week", "minutes", ps=(0.5, 0.9), scale=1)
    return out.select(
        "cohort_week",
        F.col("n").cast("bigint").alias("n_converted"),
        F.col("p50").cast("bigint").alias("p50_minutes"),
        F.col("p90").cast("bigint").alias("p90_minutes"),
    ).orderBy("cohort_week")


def q_stream_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-batch / score-stream quantile-rank transform: the value
    histogram trains on the STATIC table (the anomaly-twin pattern)
    and broadcasts into the events stream, where each micro-batch
    ranks its rows statelessly — values unseen in training would rank
    NULL, which availableNow-over-the-same-table proves cannot happen
    here. Shares the batch oracle verbatim: batch-split
    independence."""
    import uuid

    from ..pipeline.stats import rank_normalize

    static = load_table(spark, sf_dir, "events")
    stream = _events_stream(spark, sf_dir)
    out = rank_normalize(stream, "event_type", "value", "event_id",
                         train_df=static)
    qname = f"rknorm_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname)


def q_tdigest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-digest BUILD, the daily-register shape: one
    16-cluster equal-weight digest per (event_type, day) over event
    values (pipeline/sketches.py::cluster_digest — the deterministic
    t-digest/k0 whose build and merge replay exactly in SQL). The rank
    window sorts only within a (type, day) chunk — bounded work per
    key, the reason the daily grain IS the production build grain; the
    persisted state is 16 rows per slot whatever the row count."""
    from ..pipeline.sketches import cluster_digest

    events = load_table(spark, sf_dir, "events")
    cent = cluster_digest(
        events.withColumn("day", F.to_date("ts")),
        "value",
        ["event_type", "day"],
        m=16,
        tie_col="event_id",
    )
    return cent.select(
        "event_type",
        "day",
        "c",
        "w",
        "vmin",
        "vmax",
        F.round(
            F.col("vsum").cast("double") / F.col("w").cast("double"), 6
        ).alias("mean"),
    )


def q_tdigest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-digest MERGE + query — the store-and-merge-daily shape
    the HLL register path has, now for quantiles: fold the 30 daily
    digests per event_type into one 16-cluster digest (digest-sized
    exchanges only: 30*16 rows per type) and read p50/p90/p99 off the
    merged state. Every boundary is integer cumulative-weight
    arithmetic and every cluster mean one rounded double division, so
    the DuckDB oracle replays build, merge, and query exactly — an
    approximate sketch under the full value-hash gate."""
    from ..pipeline.sketches import (
        cluster_digest,
        digest_merge,
        digest_quantiles,
    )

    events = load_table(spark, sf_dir, "events")
    daily = cluster_digest(
        events.withColumn("day", F.to_date("ts")),
        "value",
        ["event_type", "day"],
        m=16,
        tie_col="event_id",
    )
    merged = digest_merge(
        daily, ["event_type"], m=16, order_cols=["day", "c"]
    )
    return digest_quantiles(merged, ["event_type"], qs=(0.5, 0.9, 0.99))


_LATE_SRC_DIRS: dict[str, str] = {}


def _late_events_stream(spark: SparkSession, sf_dir: str):
    """Three-file staged events source engineered to exercise the
    watermark LATE-DATA path (the clean one-batch staging of
    _table_stream can never drop anything — watermark starts at 0):
    - b0 "history":  ts in [01-10, 01-23) minus day 21
    - b1 "tick":     ts in [01-23, 01-24) — one batch whose only job
      is to move the late-event filter forward (see below)
    - b2 "stragglers": everything else — rows older than 01-10
      (deliberately late beyond the allowance), day-21 rows (late but
      inside the allowance), and ts >= 01-24 (fresh).
    Files get fixed mtimes 1000 s apart and maxFilesPerTrigger=1, so
    the file source replays them as three deterministic micro-batches
    in exactly this order."""
    import glob as _glob
    import os
    import shutil

    key = f"{sf_dir}#late_events"
    if key not in _LATE_SRC_DIRS:
        events = load_table(spark, sf_dir, "events").select("ts", "event_type")
        t = F.col("ts")
        day21 = (t >= F.lit("2024-01-21").cast("timestamp")) & (
            t < F.lit("2024-01-22").cast("timestamp")
        )
        in_b0 = (
            (t >= F.lit("2024-01-10").cast("timestamp"))
            & (t < F.lit("2024-01-23").cast("timestamp"))
            & ~day21
        )
        in_b1 = (t >= F.lit("2024-01-23").cast("timestamp")) & (
            t < F.lit("2024-01-24").cast("timestamp")
        )
        src = _scratch("aces_stream_late_")
        for i, pred in enumerate([in_b0, in_b1, ~(in_b0 | in_b1)]):
            tmp = f"{src}/_tmp{i}"
            events.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{src}/b{i}.parquet"
            shutil.copy(part, dst)
            shutil.rmtree(tmp)
            mtime = 1_000_000_000 + i * 1000
            os.utime(dst, (mtime, mtime))
        _LATE_SRC_DIRS[key] = src
    return (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(_LATE_SRC_DIRS[key])
    )


def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics under the full value-hash gate —
    the one streaming behavior the clean availableNow twins never
    exercise, pinned here against empirically verified Spark 4
    micro-batch rules (probed with numRowsDroppedByWatermark):
    (1) the EVICTION watermark of batch N is max(event time through
        batch N-1) - delay; (2) the LATE-EVENT filter of batch N uses
        batch N-1's eviction watermark (one batch of lag — which is
        why the b1 "tick" batch exists: it arms the filter for b2
        without moving it past day 21); (3) a row is dropped iff its
        WINDOW END <= the late watermark (a row whose event time is
        behind the watermark but whose window is still open is KEPT);
        (4) the lag makes double-emission impossible: a window emitted
        at batch N has end <= evict(N), and any later row needs
        end > late(N+1) = evict(N).
    Resulting contract on the 3-batch fixture, which the oracle
    replays literally: pre-01-10 rows are DROPPED (their windows
    closed before they arrived), day-21 rows are KEPT (window end
    01-22 is past the late watermark max(b0)-1d ~ 01-21.9x), and
    append mode emits exactly the windows whose end the final
    watermark max(all)-1d passed."""
    import uuid

    stream = _late_events_stream(spark, sf_dir)
    out = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = f"late_data_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(qname).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
    )


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled training mixture (pipeline/splits.py::
    temperature_mix, the mT5/XLM-R recipe): source sampling rates
    ∝ token_mass^0.3 under a 3000-token budget — low-resource
    languages keep a larger share than their natural mass. One
    source-count-sized aggregate + a zero-shuffle hash filter; the
    oracle mirrors the exp/ln/rounded-decimal-sum arithmetic op by
    op."""
    from ..pipeline.splits import temperature_mix
    from ..pipeline.text import word_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    out = temperature_mix(
        docs, "lang", word_count(F.col("text")),
        budget_tokens=3000, alpha=0.3,
    )
    # temperature_mix passes EVERY input column through (so flow
    # stages can chain text consumers after it); the graded projection
    # pins the oracle's 4-column schema.
    return out.select("doc_id", "lang", "n_tokens", "keep_prob")


def q_dedup_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (pipeline/dedup.py::cap_duplicates): near-dup
    clusters capped at 3 survivors each instead of collapsed to one —
    the training-mixture middle ground. Clusters come from the
    oracle-proven minhash→verify→connected-components chain;
    survivors rank by (md5(id), id) so the cap is a uniform,
    corpus-stable draw. Output: every kept doc with its cluster and
    copy rank."""
    from ..pipeline.dedup import (
        cap_duplicates,
        near_dup_clusters,
        near_dup_pairs_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, num_hashes=8, band_size=2, k=3, threshold=0.5
    )
    clusters = near_dup_clusters(pairs)
    return cap_duplicates(docs, clusters, max_copies=3)


def q_stream_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-digest register maintained from a STREAM — the
    q_stream_hll symmetry for the digest family: events land
    idempotently in an epoch-partitioned history (foreachBatch is
    at-least-once; a replayed epoch OVERWRITES its own dir — the
    q_stream_cusum pattern), and at stream end the daily digests are
    built over the accumulated history and folded per event_type.
    Build grain = (type, day) — a DETERMINISTIC function of event
    time, not of batch boundaries — which is exactly what makes the
    digest state batch-split-independent and lets this share
    q_tdigest_merge's oracle VERBATIM. The true incremental fold
    (merge each micro-batch's digest into persisted state) is the
    same digest_merge call per trigger; its result depends on the
    batch split (digest merging is lossy), so the honest oracle-gated
    form is this accumulate-then-build."""
    from ..pipeline.sketches import (
        cluster_digest,
        digest_merge,
        digest_quantiles,
    )
    from ..streaming.binning_stream import foreach_batch_merge

    stream = _events_stream(spark, sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    acc = _scratch("aces_stream_tdigest_") + "/history"

    def append_fn(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{acc}/epoch={epoch_id}")

    q = (
        foreach_batch_merge(stream, append_fn, _scratch("aces_fbm_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    history = spark.read.parquet(acc).drop("epoch")
    daily = cluster_digest(
        history.withColumn("day", F.to_date("ts")),
        "value",
        ["event_type", "day"],
        m=16,
        tie_col="event_id",
    )
    merged = digest_merge(daily, ["event_type"], m=16, order_cols=["day", "c"])
    return digest_quantiles(merged, ["event_type"], qs=(0.5, 0.9, 0.99))


# --- scale-stable pruning, substring and containment dedup -------------


def q_dedup_ngram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-stable df-prune knob under the oracle gate: exact
    n-gram Jaccard near-dup pairs with the index pruned at
    max_df_quantile=0.99 — the cutoff is the exact 99th-percentile of
    the vocabulary's df multiset (pipeline/dedup.py::_df_cutoff rank
    walk), so it tracks the corpus df distribution where an absolute
    max_df silently tightens as the corpus grows. The oracle mirrors
    the rank walk itself (histogram cumsum -> min df reaching
    ceil(q*n)), not a precomputed cutoff — the knob's arithmetic is
    what is being graded. 0.99 (not a looser 0.999) so the prune
    actually FIRES at the graded scale: at sf0.01 the cutoff lands
    mid-distribution and drops real hot shingles, exercising both
    sides of the keep boundary."""
    from ..pipeline.dedup import near_dup_pairs_ngram

    docs = load_table(spark, sf_dir, "documents")
    out = near_dup_pairs_ngram(
        docs, k=3, threshold=0.5, max_df_quantile=0.99
    )
    return out.select("id_a", "id_b", "jaccard")


# The engine joins anchors as xxhash64 and the oracle joins raw gram
# strings, so a 64-bit collision at graded scale shows as a mismatch.
q_substring_dedup = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select", "columns": ["doc_id", "text"]},
    {"op": "substring_dedup", "k": 8, "min_tokens": 12},
)


def q_repetition_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition REPAIR (pipeline/text.py::
    trim_repeated_lines): keep the first occurrence of each repeated
    line within a doc, reassemble the text — the trimmer behind the
    repetition_ratio signal. Fixture plants a guaranteed repetition
    (each doc's first 12-word pseudo-line re-appended at the end), so
    every doc exercises the drop path on top of any natural internal
    repeats; the oracle replays the planting and the keep-first rule
    verbatim."""
    from ..pipeline.text import trim_repeated_lines

    docs = load_table(spark, sf_dir, "documents")
    lined = _lined_documents(docs)
    planted = lined.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.element_at(F.split(F.col("text"), "\n"), 1),
        ).alias("text"),
    )
    return trim_repeated_lines(planted)


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (pipeline/sketches.py::
    kmv_overlap_matrix): pairwise estimated text overlap/Jaccard
    across ALL 20 sources from ONE grouped KMV sketch — k hashes per
    source regardless of corpus size, so the 190-pair matrix is
    sketch-arithmetic, never a fact join. The observability pass a
    mixture planner runs before weighting sources."""
    from ..pipeline.sketches import kmv_overlap_matrix, kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    sk = kmv_sketch(docs, "text", ["source"], k=64)
    return kmv_overlap_matrix(sk, "source", k=64).orderBy(
        "source_a", "source_b"
    )


def q_substring_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair half of substring dedup (pipeline/dedup.py::
    remove_duplicate_spans): every >= 12-token cross-document span is
    CUT from all but its lowest-id owner — Lee et al.'s actual dedup
    action (they removed the substring, not the document). Interval
    merge and word drop are per-doc bounded; untouched docs pass
    byte-identical. Output: every doc with (n_tokens, removed_tokens,
    new_text)."""
    from ..pipeline.dedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_duplicate_spans(docs, k=8, min_tokens=12)


def q_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring-level dedup against a persisted anchor
    store (pipeline/dedup.py::incremental_substring_dedup): the store
    holds positional 8-gram anchors of the first half of the corpus
    (no text); the second half arrives as a batch, every doc routes
    duplicate_store / duplicate_batch / unique on >= 12-token shared
    spans (longest store-side span reported), and unique docs'
    anchors are appended for the next batch. The production-ingest
    twin of q_incremental_near_dedup, exact-span modality."""
    from ..pipeline.dedup import anchor_rows, incremental_substring_dedup
    from ..stores import KeyedParquetStore

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_incsub_"),
        keys=["doc_id", "pos"],
        n_buckets=8,
    )
    store.init(anchor_rows(old))
    return incremental_substring_dedup(store, new, k=8, min_tokens=12)


def q_substring_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-store lifecycle under the oracle gate (pipeline/dedup.py
    ::compact_anchor_store + stores/keyed_table.py::delete):
    the persisted anchor store is built in three epochs (init + two
    put_if_absent appends — real fragmentation), then a later EXACT
    dedup pass drops the corpus's byte-identical losers and the store
    is maintained: losers' anchors deleted (bucket-pruned rewrite, one
    manifest version), fragments folded (compact). The natural corpus
    has NO byte-identical pairs at graded scale, so the fixture PLANTS
    them (every 25th doc verbatim under id + 100000, arriving in the
    last epoch) — the delete genuinely fires. Output: per-doc anchor
    counts of the surviving store — exactly the exact-dedup keepers
    with >= 8 words, each with len(words) - 7 anchors — which the
    oracle re-derives from the corpus alone. The store stays
    O(kept tokens), not O(ingested tokens)."""
    from ..pipeline.dedup import (
        anchor_rows,
        compact_anchor_store,
        exact_dup_groups,
    )
    from ..stores import KeyedParquetStore

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_anchor_gc_"),
        keys=["doc_id", "pos"],
        n_buckets=8,
    )
    store.init(anchor_rows(corpus.where(F.col("doc_id") < 200)))
    store.put_if_absent(
        anchor_rows(
            corpus.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
        )
    )
    store.put_if_absent(anchor_rows(corpus.where(F.col("doc_id") >= 350)))
    keepers = exact_dup_groups(corpus).select(F.col("keeper").alias("doc_id"))
    losers = corpus.select("doc_id").join(keepers, "doc_id", "left_anti")
    compact_anchor_store(store, losers)
    return (
        store.read()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_anchors"))
        .orderBy("doc_id")
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (pipeline/dedup.py::
    containment_pairs): C = |A∩B| / min(|A|,|B|) — the doc-inside-doc
    detector symmetric Jaccard misses. The fixture PLANTS the
    asymmetry (the natural corpus has none: at sf0.01 every
    containment >= 0.8 pair is also jaccard >= 0.5): every 20th doc
    contributes a 21-word excerpt (words 5..25, id + 100000) whose
    shingles are a strict subset of its source's — containment 1.0,
    jaccard tiny. Threshold 0.8; jaccard rides along so the oracle
    checks both ratios."""
    from ..pipeline.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim("text"), " "), 5, 21), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    out = containment_pairs(corpus, k=3, threshold=0.8)
    return out.select(
        "id_a", "id_b",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_containment_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment detector under the PRODUCTION prune:
    q_dedup_containment's planted-excerpt corpus with the index pruned
    at max_df_quantile=0.99 — the same scale-stable rank-walk cutoff
    q_dedup_ngram_quantile grades for the Jaccard path, here pinned on
    the containment path (the two share _df_pruned_candidates, but the
    graded composition did not exist until now: q_dedup_containment is
    deliberately UNPRUNED for exact oracle recall and costs ~100 s at
    sf1). The oracle composes the excerpt-corpus CTE with the
    histogram rank walk, then verifies containment/jaccard over FULL
    shingle sets — only candidate generation is pruned, exactly as in
    the engine."""
    from ..pipeline.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim("text"), " "), 5, 21), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    out = containment_pairs(
        corpus, k=3, threshold=0.8, max_df_quantile=0.99
    )
    return out.select(
        "id_a", "id_b",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
    )


q_source_divergence = _flow(
    {"op": "load", "table": "documents"},
    {"op": "select", "columns": ["source", "text"]},
    {"op": "source_divergence"},
    {"op": "sql",
     "query": "SELECT * FROM __this__ ORDER BY source_a, source_b"},
)


def _replanted_documents(docs: DataFrame) -> DataFrame:
    """Fixture for the intra-doc span family: docs with >= 28 words get
    words 9..28 (1-based slice, 20 words) re-appended at the end — a
    guaranteed unaligned within-doc repeat (the natural corpus has
    none at the 8-gram grain); shorter docs pass unmodified."""
    words = F.split(F.trim("text"), " ")
    return docs.select(
        "doc_id",
        F.when(
            F.size(words) >= 28,
            F.concat(
                F.col("text"), F.lit(" "),
                F.array_join(F.slice(words, 9, 20), " "),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )


def q_intra_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-span REPORT (pipeline/dedup.py::
    intra_doc_repeats): maximal aligned self-repeats >= 12 tokens —
    the span-level repetition signal the line trimmer can't see and
    repetition_ratio can only score. Fixture plants a 20-word
    unaligned replant per (>= 28-word) doc; the oracle replays the
    planting and the self-diagonal runs."""
    from ..pipeline.dedup import intra_doc_repeats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return intra_doc_repeats(
        _replanted_documents(docs), k=8, min_tokens=12
    )


def q_intra_repeat_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-span REPAIR (pipeline/dedup.py::
    trim_intra_doc_repeats): cut every later occurrence, keep the
    first — on the same planted fixture, so every planted doc must
    come back with its replant removed (and the repair's output text
    equals the original for docs the matcher implicates only via the
    plant)."""
    from ..pipeline.dedup import trim_intra_doc_repeats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return trim_intra_doc_repeats(
        _replanted_documents(docs), k=8, min_tokens=12
    )


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (pipeline/text.py::nfc_normalize) —
    the engine's Arrow-batched text path under the oracle gate: every
    5th doc gets a DECOMPOSED suffix (' cafe' + combining acute
    U+0301 + ' u' + combining diaeresis U+0308) planted; NFC must
    compose both ('café ü'), flag those docs changed, and pass the
    untouched ASCII docs through byte-identical with changed=false.
    Oracle: DuckDB nfc_normalize over the same plant (combining marks
    via chr(codepoint))."""
    from ..pipeline.text import nfc_normalize

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" café ü")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return nfc_normalize(planted)


_SUBSTR_STREAM_DIRS: dict[str, str] = {}


def _two_batch_documents_stream(spark: SparkSession, sf_dir: str):
    """Two-file staged documents source: b0 = doc_id < 250, b1 = the
    rest, fixed mtimes 1000 s apart + maxFilesPerTrigger=1 — the
    _late_events_stream staging trick, so the file source replays
    exactly two deterministic micro-batches in id order and the
    streaming ingest's routing becomes oracle-replayable algebra."""
    import glob as _glob
    import os
    import shutil

    key = f"{sf_dir}#substr_docs"
    if key not in _SUBSTR_STREAM_DIRS:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        src = _scratch("aces_stream_subsrc_")
        for i, pred in enumerate(
            [F.col("doc_id") < 250, F.col("doc_id") >= 250]
        ):
            tmp = f"{src}/_tmp{i}"
            docs.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{src}/b{i}.parquet"
            shutil.copy(part, dst)
            shutil.rmtree(tmp)
            mtime = 1_000_000_000 + i * 1000
            os.utime(dst, (mtime, mtime))
        _SUBSTR_STREAM_DIRS[key] = src
    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(_SUBSTR_STREAM_DIRS[key])
    )


def q_stream_substring_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchor-store substring dedup under STREAMING ingest — the
    production shape incremental_substring_dedup exists for: each
    micro-batch routes against everything ever kept and appends its
    unique survivors' anchors, inside foreachBatch. Two deterministic
    batches (docs < 250, then the rest), so the oracle replays the
    two-phase routing algebra: batch-2 store-dups match only batch-1
    docs that were themselves kept UNIQUE (a batch-1 duplicate's
    anchors were never stored — the property that distinguishes the
    streaming register from q_incremental_substring's init-with-
    everything fixture). Routed frames land epoch-partitioned
    (overwrite per epoch: at-least-once replays are idempotent, the
    q_stream_cusum pattern); the store's manifest-pinned snapshot
    reads keep each batch's routing plan isolated from its own
    append."""
    from ..pipeline.dedup import anchor_rows, incremental_substring_dedup
    from ..stores import KeyedParquetStore
    from ..streaming.binning_stream import foreach_batch_merge

    stream = _two_batch_documents_stream(spark, sf_dir)
    store = KeyedParquetStore(
        spark=spark,
        path=_scratch("aces_stream_substr_"),
        keys=["doc_id", "pos"],
        n_buckets=8,
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store.init(anchor_rows(docs.limit(0)))
    acc = _scratch("aces_stream_subacc_") + "/routes"

    def handle(batch_df, epoch_id):
        routed = incremental_substring_dedup(
            store, batch_df, k=8, min_tokens=12
        )
        routed.write.mode("overwrite").parquet(f"{acc}/epoch={epoch_id}")

    q = (
        foreach_batch_merge(stream, handle, _scratch("aces_fbm_sub_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.read.parquet(acc).select(
        "doc_id", "route", "store_match_tokens"
    )


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup dashboard (pipeline/dedup.py::dedup_report):
    the one-row summary every dedup run ends with — duplicated-doc
    fraction, family count and max size, and the token reclaim a
    keep-one policy would get — computed from the oracle-proven
    minhash→verify→connected-components labels without re-running any
    pairing."""
    from ..pipeline.dedup import (
        dedup_report,
        near_dup_clusters,
        near_dup_pairs_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, num_hashes=8, band_size=2, k=3, threshold=0.5
    )
    clusters = near_dup_clusters(pairs)
    return dedup_report(docs.select("doc_id", "text"), clusters)


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-modality corpus card (pipeline/dedup.py::corpus_card):
    ONE row per corpus folding all three dedup modalities —
    document-level near-dup families (minhash -> verify -> connected
    components: the seven q_dedup_report columns), substring-level
    shared-span volume (substring_matches k=8/min 12: pair count +
    tokens inside shared spans), and doc-inside-doc containment under
    the PRODUCTION 0.99 df-quantile prune (pair count + contained-doc
    count). The oracle composes the three modalities' CTEs over the
    same corpus; a run's hygiene is one row, not three reports."""
    from ..pipeline.dedup import (
        containment_pairs,
        corpus_card,
        near_dup_clusters,
        near_dup_pairs_minhash,
        substring_matches,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, num_hashes=8, band_size=2, k=3, threshold=0.5
    )
    clusters = near_dup_clusters(pairs)
    body = docs.select("doc_id", "text")
    spans = substring_matches(body, k=8, min_tokens=12)
    cpairs = containment_pairs(
        body, k=3, threshold=0.8, max_df_quantile=0.99
    )
    return corpus_card(body, clusters, spans, cpairs)


def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH candidate recall under the oracle gate
    (pipeline/dedup.py::dedup_recall_report): the standard
    8-hash/4-band funnel graded against the UNPRUNED exact n-gram
    Jaccard pair set at the same 0.5 threshold — one row of
    (n_exact, n_approx, n_hits, recall, precision). The banded
    candidates are verified once, by a semi-join to the exact pairs
    (pipeline/dedup.py::minhash_recall_pairs), so precision is 1.0 by
    construction and the number under grade is banding recall —
    exactly what the num_hashes/band_size knobs trade away. The oracle
    recomputes BOTH pair sets and the report algebra."""
    from ..pipeline.dedup import dedup_recall_report, minhash_recall_pairs

    docs = load_table(spark, sf_dir, "documents")
    return dedup_recall_report(
        *minhash_recall_pairs(
            docs, num_hashes=8, band_size=2, k=3, threshold=0.5
        )
    )


def q_dedup_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall report's PRODUCTION shape (pipeline/dedup.py::
    dedup_recall_sampled): exact ground truth over a pinned
    deterministic half of the corpus (md5-mod membership — the
    100 TB contract q_dedup_recall's docstring only stated in prose).
    Banding recall is a per-pair property, so the sampled figure is
    an unbiased estimate at 1/4 of the exact side's Σdf² cost
    (denom=2 here keeps the graded pair set non-trivial at sf0.01;
    production runs pick the denom their budget needs). The oracle
    mirrors the sample CTE bit-for-bit and reruns the full two-funnel
    report on it."""
    from ..pipeline.dedup import dedup_recall_sampled

    docs = load_table(spark, sf_dir, "documents")
    return dedup_recall_sampled(docs, sample_denom=2)


def q_dup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source duplicate-mass matrix (pipeline/dedup.py::
    dup_attribution): the oracle-proven minhash -> verify ->
    connected-components labels joined back to source tags — each
    non-keeper family member charged to (keeper's source, own source)
    with its token mass. The full 20x20 grid (400 rows, zeros
    included) completes the cross-source observability triangle with
    KMV overlap and JS divergence: who would LOSE documents to a
    keep-one policy, and to whom."""
    from ..pipeline.dedup import (
        dup_attribution,
        near_dup_clusters,
        near_dup_pairs_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, num_hashes=8, band_size=2, k=3, threshold=0.5
    )
    clusters = near_dup_clusters(pairs)
    return dup_attribution(docs, clusters).orderBy("source_a", "source_b")
