"""Declarative flow assembly — the NiFi flow-definition analog.

The reference isn't used as one processor at a time: operators are
wired on the NiFi canvas into a flow (source → processors →
relationships → sinks) defined by configuration, not code. This module
is that layer for the Spark engine: a flow is a JSON-able list of
stage dicts, each naming a registered stage kind plus its config, and
``build_flow`` folds them into ONE DataFrame plan — so a whole
configured flow still gets whole-plan Catalyst optimization (pushdown
through every stage, one shuffle set), which per-processor execution
in NiFi structurally cannot do.

Stage kinds mirror the reference surface:

  {"op": "load",        "table": "events"}
  {"op": "filter",      "condition": "event_id % 10 != 0"}
  {"op": "select",      "columns": ["event_id", "ts", "event_type"]}
  {"op": "attrs_to_json", "relationship": "success", ...O1 config}
  {"op": "security_marking", "relationship": "success", ...O2 config}
  {"op": "bin",         "binners": [{"kind": "date", ...}, ...]}
  {"op": "bin_count",   "binners": [...]}
  {"op": "sql",         "query": "SELECT ... FROM __this__"}
  {"op": "store_init",  "path": ..., "keys": [...], "n_buckets": 16}
  {"op": "store_merge", "path": ..., "keys": [...], "operations": {...}}
  {"op": "store_put_if_absent", "path": ..., "keys": [...]}
  {"op": "socketio",    "url": ..., "payload_col": ..., "mode": "emit"}

and the LLM-corpus pipeline stages (pipeline/*), so a full
training-data flow (dedup → scrub → split → sample → chunk) is one
JSON document folding into one Catalyst plan:

  {"op": "dedup_exact"}
  {"op": "redact_pii"}
  {"op": "repetition_filter", "max_ratio": 0.5, "k": 3}
  {"op": "weighted_sample_quality"}
  {"op": "hash_split",  "weights": {"train": 0.9, "val": 0.05, "test": 0.05}}
  {"op": "stratified_sample", "strata": ["lang"], "n": 100}
  {"op": "token_budget_mix", "group_col": "lang", "budgets": {...}}
  {"op": "lm_score_filter", "min_score": 0.002}
  {"op": "chunk",       "chunk_tokens": 256, "overlap": 32}
  {"op": "pack_sequences", "seq_tokens": 2048, "n_shards": 64}
  {"op": "write_dataset", "path": ..., "partition_cols": ["split"]}
  {"op": "validate",    "checks": [{"kind": "not_null", "col": ...}, ...]}
  {"op": "rolling",     "key": "user_id", "window_sec": 3600}
  {"op": "ewma",        "key": "user_id", "alpha": 0.25}
  {"op": "resample",    "bucket_sec": 3600, "how": "ffill"}
  {"op": "anomaly",     "group": "event_type", "k": 3}
  {"op": "anomaly_mad", "group": "event_type", "k": 3}
  {"op": "quantiles",   "group": "event_type", "ps": [0.5, 0.95]}
  {"op": "cusum",       "key": ..., "train_end_ts": ..., "h_cents": ...}
  {"op": "pq_topk",     "right": "queries", "dim": 64, "m": 8}
  {"op": "ivfpq_topk",  "right": "queries", "dim": 64, "n_probe": 4}
  {"op": "active_users", "window_days": 7}
  {"op": "classify",    "n_buckets": 4096, "weights_path": ...}
  {"op": "transitions", "key": "user_id"}
  {"op": "editdist_join", "id_col": ..., "str_col": ..., "k": 1}
  {"op": "corr_matrix",  "cols": ["l_quantity", "l_extendedprice"]}
  {"op": "triangle_count", "src": "src", "dst": "dst"}
  {"op": "communities",  "src": "src", "dst": "dst", "n_iter": 3}

Routed operators take a ``relationship`` key selecting which port
continues down the flow — the analog of connecting a downstream
processor to one relationship.

Flows are DAGs, not only chains: ``{"op": "tag", "name": "views"}``
remembers the current frame, a following ``load`` starts a new
branch, and the two-input stages reference remembered frames:

  {"op": "tag",        "name": "views"}
  {"op": "asof_join",  "right": "views", "on": ["user_id"], ...}
  {"op": "range_join", "right": "views", "on": [...], "band": ...}
  {"op": "join",       "right": "views", "on": [...], "how": "inner"}
  {"op": "geo_radius_join", "right": "b", "on": [...], "radius_km": 100, "zoom": 8}
  {"op": "salted_join", "right": "dim", "on": [...], "hot_keys": [...]}
  {"op": "union",      "right": "views"}

and the full relationship fan-out of the NiFi canvas: ``route`` runs a
routed operator (attrs_to_json / security_marking) and tags EVERY
requested relationship as a wireable branch, ``use`` resumes any
tagged branch as the mainline — so success can flow to one sink while
failure flows into a keyed store, all in one JSON document:

  {"op": "route", "using": "security_marking", "marking_col": "m",
   "tags": {"failure": "bad"}, "continue": "success", ...O2 config}
  ...success stages...
  {"op": "tag", "name": "ok_result"}
  {"op": "use", "tag": "bad"}
  {"op": "store_init", "path": ..., "keys": [...]}
  {"op": "union", "right": "ok_result"}

Stages that only hand their config to one function are table stages
(``_TABLE_STAGES``, ``_TWO_INPUT_TABLE_STAGES``): a table stage takes
exactly its function's keyword parameters, with the function's
defaults, and a two-input one also takes ``right``, the tagged frame
passed as the function's second argument. The other stages are
written out because they rename keys, set flow-specific defaults,
expose only some of a function's parameters, or do work of their own.

Transform stages stay lazy — the whole chain folds into one Catalyst
plan. Store/sink stages are ACTIONS (the NiFi terminal-processor
analog): they execute their write when the flow is built, then hand
the next stage the store's post-state (store ops) or the unchanged
frame (socketio pass-through). A ``load`` stage mid-flow starts a new
chain — that's how a multi-batch pipeline (init → merge batch 1 →
merge batch 2) is expressed as one flow document.
"""

from __future__ import annotations

import importlib
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession

from .operators.attributes_to_json import AttributesToJsonConfig, attributes_to_json
from .operators.binning import (
    BinnerConfig,
    DateBinner,
    GeoTileBinner,
    LiteralBinner,
    MergedBinner,
    NumericBinner,
    bin_count,
    bin_records,
)
from .operators.security_marking import SecurityMarkingConfig, convert_security_marking
from .sources.registry import load_table

_BINNER_KINDS: dict[str, type[BinnerConfig]] = {
    "date": DateBinner,
    "literal": LiteralBinner,
    "numeric": NumericBinner,
    "geotile": GeoTileBinner,
    "merged": MergedBinner,
}


def _binners(specs: list[dict[str, Any]]) -> list[BinnerConfig]:
    out = []
    for spec in specs:
        spec = dict(spec)
        kind = spec.pop("kind")
        out.append(_BINNER_KINDS[kind](**spec))
    return out


StageFn = Callable[..., DataFrame]
STAGES: dict[str, StageFn] = {}
# Stages that consume OTHER frames by tag name — derived from the
# stage function's `_named` parameter at registration, so a new
# two-input stage can't forget to enrol itself. The value records
# whether the stage REQUIRES a `right` tag (joins/unions do; stages
# like `validate` resolve their own tag names, e.g. FK parents).
_NAMED_OPS: dict[str, bool] = {}


def stage(name: str) -> Callable[[StageFn], StageFn]:
    def register(fn: StageFn) -> StageFn:
        import inspect

        STAGES[name] = fn
        params = inspect.signature(fn).parameters
        if "_named" in params:
            right = params.get("right")
            _NAMED_OPS[name] = (
                right is not None and right.default is inspect.Parameter.empty
            )
        return fn
    return register


# Table stages (see the module docstring) as "module:function" under
# this package. A function resolves when its stage runs, so importing
# this module loads no pipeline module.
_TABLE_STAGES: dict[str, str] = {
    "dedup_exact": "pipeline.dedup:dedup_exact",
    "hash_split": "pipeline.splits:hash_split",
    "chunk": "pipeline.text:chunk_documents",
    "sessionize": "pipeline.reports:sessionize",
    "frequent_keys": "pipeline.reports:frequent_keys",
    "funnel": "pipeline.reports:funnel",
    "active_users": "pipeline.reports:rolling_active_users",
    "corr_matrix": "pipeline.stats:correlation_matrix",
    "calibration": "pipeline.classify:calibration_report",
    "kappa": "pipeline.classify:cohens_kappa",
    "chi2_terms": "pipeline.classify:chi2_terms",
    "editdist_join": "pipeline.strings:edit_distance_join",
    "bm25": "pipeline.text:bm25_topk",
    "ngram_novelty": "pipeline.text:ngram_novelty",
    "quantile_digest": "pipeline.sketches:cluster_digest",
    "intra_repeats": "pipeline.dedup:intra_doc_repeats",
    # exact near-dup pairs; the op keeps its name so older flow
    # documents still run
    "ppjoin_dedup": "pipeline.dedup:near_dup_pairs_ngram",
    "containment_dedup": "pipeline.dedup:containment_pairs",
}
_TWO_INPUT_TABLE_STAGES: dict[str, str] = {
    "asof_join": "operators.joins:asof_join",
    "range_join": "operators.joins:range_join",
    # corpus = mainline, queries = `right`
    "hard_negatives": "pipeline.similarity:hard_negatives",
    # snapshot A = mainline, snapshot B = `right`
    "embedding_drift": "pipeline.similarity:embedding_drift",
}


def _table_fn(ref: str) -> Callable[..., DataFrame]:
    module, name = ref.split(":")
    return getattr(importlib.import_module(f".{module}", __package__), name)


def _table_stage(ref: str) -> StageFn:
    def run(spark: SparkSession, df: DataFrame, **spec: Any) -> DataFrame:
        return _table_fn(ref)(df, **spec)
    return run


def _two_input_table_stage(ref: str) -> StageFn:
    def run(
        spark: SparkSession, df: DataFrame, *, right: str,
        _named: dict[str, DataFrame], **spec: Any,
    ) -> DataFrame:
        return _table_fn(ref)(df, _named[right], **spec)
    return run


for _op, _ref in _TABLE_STAGES.items():
    stage(_op)(_table_stage(_ref))
for _op, _ref in _TWO_INPUT_TABLE_STAGES.items():
    stage(_op)(_two_input_table_stage(_ref))


@stage("load")
def _load(spark: SparkSession, df: DataFrame | None, *, table: str, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, table)


@stage("filter")
def _filter(spark: SparkSession, df: DataFrame, *, condition: str) -> DataFrame:
    return df.filter(condition)


@stage("select")
def _select(spark: SparkSession, df: DataFrame, *, columns: list[str]) -> DataFrame:
    return df.selectExpr(*columns)


@stage("sql")
def _sql(spark: SparkSession, df: DataFrame, *, query: str) -> DataFrame:
    # Unique view name per stage so concurrent flows in one session
    # can't clobber each other; the config still just says __this__.
    import uuid

    view = f"__this_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(view)
    try:
        # spark.sql analyzes eagerly: the returned DataFrame holds the
        # resolved plan, not the catalog entry...
        return spark.sql(query.replace("__this__", view))
    finally:
        # ...so drop the view immediately — a long-lived session
        # driving many flows must not accumulate catalog entries.
        spark.catalog.dropTempView(view)


def _pick_relationship(routed, relationship: str, op: str) -> DataFrame:
    """Select one port of a routed result with an actionable error —
    the same contract the `route` stage gives mis-typed port names."""
    have = routed.relationships()
    if relationship not in have:
        raise KeyError(
            f"{op}: no relationship {relationship!r}; have {sorted(have)}"
        )
    return routed[relationship]


@stage("attrs_to_json")
def _attrs(
    spark: SparkSession, df: DataFrame, *, relationship: str = "success", **cfg: Any
) -> DataFrame:
    return _pick_relationship(
        attributes_to_json(df, AttributesToJsonConfig(**cfg)),
        relationship,
        "attrs_to_json",
    )


@stage("security_marking")
def _marking(
    spark: SparkSession,
    df: DataFrame,
    *,
    relationship: str = "success",
    marking_col: str,
    **cfg: Any,
) -> DataFrame:
    return _pick_relationship(
        convert_security_marking(df, marking_col, SecurityMarkingConfig(**cfg)),
        relationship,
        "security_marking",
    )


@stage("bin")
def _bin(
    spark: SparkSession, df: DataFrame, *, binners: list[dict[str, Any]], **kw: Any
) -> DataFrame:
    return bin_records(df, _binners(binners), **kw)


@stage("bin_count")
def _bin_count(
    spark: SparkSession, df: DataFrame, *, binners: list[dict[str, Any]]
) -> DataFrame:
    return bin_count(df, _binners(binners))


@stage("store_init")
def _store_init(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    keys: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """ACTION: (re)initialize a keyed store from the incoming frame;
    hands the post-state downstream."""
    from .stores import KeyedParquetStore

    store = KeyedParquetStore(spark=spark, path=path, keys=keys, n_buckets=n_buckets)
    store.init(df)
    return store.read()


@stage("store_merge")
def _store_merge(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    keys: list[str],
    operations: dict[str, str],
    n_buckets: int = 64,
    # Same default as PartialUpdateConfig.upsert — a JSON flow that
    # omits the key must not silently switch to update-only (dropping
    # unmatched batch rows).
    upsert: bool = True,
    mode: str = "one",
    order_col: str | None = None,
    now: str | None = None,
) -> DataFrame:
    """ACTION: merge the incoming frame into a keyed store (O4 as a
    flow sink — the PartialUpdateMongo terminal processor); hands the
    post-state downstream."""
    from .operators.partial_update import PartialUpdateConfig
    from .stores import KeyedParquetStore

    store = KeyedParquetStore(spark=spark, path=path, keys=keys, n_buckets=n_buckets)
    cfg = PartialUpdateConfig(
        keys=keys,
        operations=operations,
        upsert=upsert,
        mode=mode,
        order_col=order_col,
        **({"now": now} if now is not None else {}),
    )
    store.merge(df, cfg)
    return store.read()


@stage("store_put_if_absent")
def _store_put_if_absent(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    keys: list[str],
    n_buckets: int = 64,
    order_col: str | None = None,
    init_if_absent: bool = False,
) -> DataFrame:
    """ACTION: duplicate-checked insert into a keyed store (O5 as a
    flow sink); hands the post-state downstream. init_if_absent=True
    creates the store from the batch schema on first use (the
    register-accumulation pattern — examples/digest_register.flow.json;
    the incremental_near_dedup stage's store-level existence probe,
    NOT an os.path check, so hdfs:// paths and crashed-first-write
    dirs behave). Default False: a missing store raises, preserving
    O5's insert-into-an-existing-table contract."""
    from .stores import KeyedParquetStore
    from .stores.keyed_table import StoreNotInitializedError

    store = KeyedParquetStore(spark=spark, path=path, keys=keys, n_buckets=n_buckets)
    if init_if_absent:
        try:
            store.read()
        except StoreNotInitializedError:
            store.init(df.limit(0))
    store.put_if_absent(df, order_col=order_col)
    return store.read()


@stage("socketio")
def _socketio(
    spark: SparkSession,
    df: DataFrame,
    *,
    url: str,
    payload_col: str = "payload",
    event_col: str | None = None,
    static_event: str | None = None,
    url_col: str | None = None,
    mode: str = "emit",
    connect_timeout_s: float = 10.0,
    client_factory: Any = None,
    **tls: Any,
) -> DataFrame:
    """ACTION: push the frame to a SocketIO server (O6 as a flow
    sink); pass-through — the unchanged frame continues downstream,
    like NiFi's success relationship after a send. ``client_factory``
    is a callable (not JSON) for flows assembled in code/tests;
    JSON-defined flows use the production python-socketio factory."""
    from .sinks.socketio import SocketIOSink

    kwargs = dict(
        url=url,
        payload_col=payload_col,
        event_col=event_col,
        static_event=static_event,
        url_col=url_col,
        mode=mode,
        connect_timeout_s=connect_timeout_s,
        **tls,
    )
    if client_factory is not None:
        kwargs["client_factory"] = client_factory
    SocketIOSink(**kwargs).write_batch(df)
    return df


@stage("redact_pii")
def _redact(
    spark: SparkSession, df: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    from pyspark.sql import functions as F

    from .pipeline.text import redact_pii

    return df.withColumn(text_col, redact_pii(F.col(text_col)))


@stage("repetition_filter")
def _repetition_filter(
    spark: SparkSession,
    df: DataFrame,
    *,
    max_ratio: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    from pyspark.sql import functions as F

    from .pipeline.text import repetition_ratio

    keep = (
        repetition_ratio(df, text_col, id_col, k)
        .filter(F.col("rep_ratio") <= max_ratio)
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


@stage("weighted_sample_quality")
def _weighted_sample_quality(
    spark: SparkSession, df: DataFrame, *, text_col: str = "text",
    id_col: str = "doc_id", seed: str = "wsample",
) -> DataFrame:
    from pyspark.sql import functions as F

    from .pipeline.splits import weighted_sample
    from .pipeline.text import quality_score

    return weighted_sample(df, quality_score(F.col(text_col)), id_col, seed)


@stage("hash_sample")
def _hash_sample(
    spark: SparkSession, df: DataFrame, *, denom: int,
    id_col: str = "doc_id", seed: str = "sample",
) -> DataFrame:
    """Deterministic 1/denom sample on the canvas —
    pipeline/splits.py::hash_mod_sample: membership is a pure
    function of the id, so the sampled branch is stable across
    corpus growth and re-runs (the front door for sampled report
    pipelines: recall audits, profile sweeps)."""
    from .pipeline.splits import hash_mod_sample

    return hash_mod_sample(df, id_col, denom, seed)


@stage("hash_topn_sample")
def _hash_topn_sample(
    spark: SparkSession, df: DataFrame, *, n: int,
    id_col: str = "doc_id", seed: str = "sample",
) -> DataFrame:
    """Deterministic ABSOLUTE-BUDGET sample on the canvas
    — pipeline/splits.py::hash_topn_sample: the first n rows of the
    md5-hash order, so a sampled report's ground-truth cost is pinned
    by construction at any corpus size (hash_sample's 1/denom
    fraction grows with the corpus)."""
    from .pipeline.splits import hash_topn_sample

    return hash_topn_sample(df, id_col, n, seed)


@stage("stratified_sample")
def _stratified_sample(
    spark: SparkSession, df: DataFrame, *, strata: list[str], n: int,
    id_col: str = "doc_id", seed: str = "sample",
) -> DataFrame:
    from .pipeline.splits import stratified_sample

    return stratified_sample(df, strata, n, id_col, seed)


@stage("token_budget_mix")
def _token_budget_mix(
    spark: SparkSession, df: DataFrame, *, group_col: str,
    budgets: dict[str, int], text_col: str = "text", id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    from pyspark.sql import functions as F

    from .pipeline.splits import token_budget_mix
    from .pipeline.text import word_count

    return token_budget_mix(
        df, group_col, budgets, word_count(F.col(text_col)), id_col, seed
    )


@stage("pack_sequences")
def _pack_sequences(
    spark: SparkSession, df: DataFrame, *, token_col: str = "n_chunk_tokens",
    seq_tokens: int = 2048, n_shards: int = 64, seed: str = "pack",
    id_cols: list[str] | None = None,
) -> DataFrame:
    from .pipeline.splits import pack_sequences

    return pack_sequences(
        df, token_col, seq_tokens, id_cols=id_cols, n_shards=n_shards,
        seed=seed,
    )


@stage("pack_materialize")
def _pack_materialize(
    spark: SparkSession,
    df: DataFrame,
    *,
    plan: str,
    _named: dict[str, DataFrame],
    seq_tokens: int,
    id_cols: list[str] | None = None,
    pos_col: str = "pos",
    value_col: str = "token_id",
) -> DataFrame:
    """MATERIALIZE a packing plan on the canvas: the
    incoming branch is the tokenizer's (id, pos, token_id) stream (a
    bpe_encode/encode-ids stage), `plan` names the tagged branch
    holding pack_sequences' layout — output is the chopped
    fixed-length sequence stream (shard, seq_id, pos_in_seq,
    token_id), the training-data artifact itself."""
    from .pipeline.splits import pack_materialize

    return pack_materialize(
        df, _named[plan], seq_tokens, id_cols, pos_col, value_col
    )


@stage("write_dataset")
def _write_dataset(
    spark: SparkSession, df: DataFrame, *, path: str,
    partition_cols: list[str] | None = None, files_per_partition: int = 1,
    n_partition_values: int | None = None,
) -> DataFrame:
    """ACTION: persist the corpus partitioned by split/language with
    bounded file counts (pipeline/splits.py::write_split_dataset);
    hands the written dataset downstream."""
    from .pipeline.splits import write_split_dataset

    write_split_dataset(
        df, path, partition_cols, files_per_partition, n_partition_values
    )
    return spark.read.parquet(path)


@stage("join")
def _join(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    return df.join(_named[right], on, how)


@stage("semantic_dedup")
def _semantic_dedup(
    spark: SparkSession,
    df: DataFrame,
    *,
    dim: int,
    n_centroids: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_only: bool = True,
) -> DataFrame:
    """SemDeDup pruning as a pipeline stage: keep_only=True continues
    the flow with surviving ids joined back to the incoming columns."""
    from pyspark.sql import functions as F

    from .pipeline.similarity import semantic_dedup

    marked = semantic_dedup(df, dim, n_centroids, threshold, None, id_col, vec_col)
    if not keep_only:
        return marked
    # anti-join on the CONFIRMED duplicates: rows the operator never
    # examined (null embeddings are filtered before sketching) pass
    # through instead of vanishing with the semi join
    dropped = marked.filter(~F.col("keep")).select(id_col)
    return df.join(dropped, id_col, "left_anti")


@stage("lm_score_filter")
def _lm_score_filter(
    spark: SparkSession,
    df: DataFrame,
    *,
    min_score: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-style quality gate: self-train the char-trigram LM
    on the incoming corpus and keep docs scoring >= min_score.
    Documents too short to score (< 3 chars, or null text) have no
    trigrams and are dropped regardless of min_score — deliberate for
    a quality gate."""
    from pyspark.sql import functions as F

    from .pipeline.text import lm_score, train_char_trigram_lm

    model = train_char_trigram_lm(df, text_col)
    keep = (
        lm_score(df, model, text_col, id_col)
        .filter(F.col("lm_score") >= min_score)
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


@stage("geo_radius_join")
def _geo_radius_join(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
    on: str | list[str],
    radius_km: float,
    zoom: int,
    **kw: Any,
) -> DataFrame:
    from .operators.joins import geo_radius_join

    return geo_radius_join(df, _named[right], on, radius_km, zoom, **kw)


@stage("salted_join")
def _salted_join(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
    on: str | list[str],
    hot_keys: list,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    from .operators.joins import salted_join

    return salted_join(df, _named[right], on, hot_keys, n_salts, how)


@stage("union")
def _union(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
) -> DataFrame:
    return df.unionByName(_named[right])


# Routed operators the `route` stage can expand into tagged branches —
# each returns a Routed (relationship-name → frame) mapping.
_ROUTED_OPS: dict[str, Callable[..., Any]] = {
    "attrs_to_json": lambda spark, df, cfg: attributes_to_json(
        df, AttributesToJsonConfig(**cfg)
    ),
    "security_marking": lambda spark, df, cfg: convert_security_marking(
        df, _require_cfg(cfg, "marking_col", "security_marking"),
        SecurityMarkingConfig(**cfg),
    ),
}


def _require_cfg(cfg: dict, key: str, op: str):
    if key not in cfg:
        raise KeyError(f"route using {op!r}: missing required key {key!r}")
    return cfg.pop(key)


@stage("validate")
def _validate(
    spark: SparkSession,
    df: DataFrame,
    *,
    checks: list[dict[str, Any]],
    approx: bool = False,
    _named: dict[str, DataFrame] | None = None,
    right: str | None = None,  # unused; FK parents resolve via 'parent'
) -> DataFrame:
    """Declarative constraint suite (pipeline/validate.py). Each check
    spec is {"kind": <constructor name>, ...kwargs}; foreign_key
    parents name TAGGED frames, so a flow tags its dimension first:
      {"op": "load", "table": "customer"}, {"op": "tag", "name": "customer"},
      ..., {"op": "validate", "checks": [..., {"kind": "foreign_key",
      "col": "o_custkey", "parent": "customer", "parent_col": "c_custkey"}]}
    """
    from .pipeline import validate as V

    built, parents = [], {}
    for c in checks:
        c = dict(c)
        kind = c.pop("kind")
        # ALLOWLIST, not getattr-with-blocklist: the module namespace
        # also holds F/dataclass/etc., and a typo like "field" would
        # otherwise construct an unrelated object that explodes later
        # without this stage's contextual message.
        allowed = (
            "not_null", "unique", "in_range", "accepted_values",
            "matches_regex", "satisfies", "foreign_key",
        )
        ctor = getattr(V, kind, None) if kind in allowed else None
        if ctor is None:
            raise KeyError(
                f"validate: unknown check kind {kind!r}; have "
                + "/".join(allowed)
            )
        if kind == "foreign_key":
            tag = c["parent"]
            if _named is None or tag not in _named:
                raise KeyError(
                    f"validate: foreign_key parent {tag!r} is not a "
                    f"tagged frame; tagged: {sorted(_named or {})}"
                )
            parents[tag] = _named[tag]
        built.append(ctor(**c))
    return V.run_checks(df, built, parents=parents, approx=approx)


@stage("rolling")
def _rolling(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_sec: int = 3600,
    chunk_sec: int | None = None,
    id_col: str = "event_id",
) -> DataFrame:
    from .pipeline.timeseries import rolling_aggregates

    return rolling_aggregates(df, key, ts_col, value_col, window_sec,
                              chunk_sec, id_col)


@stage("ewma")
def _ewma(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
    tie_col: str = "event_id",
    chunk_sec: int | None = None,
) -> DataFrame:
    from .pipeline.timeseries import ewma_last

    return ewma_last(df, key, ts_col, value_col, alpha, tie_col, chunk_sec)


@stage("communities")
def _communities(
    spark: SparkSession,
    df: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    checkpoint: str = "local",
) -> DataFrame:
    from .pipeline.graph import label_propagation

    return label_propagation(df, n_iter, src, dst, checkpoint)


@stage("triangle_count")
def _triangle_count(
    spark: SparkSession,
    df: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
) -> DataFrame:
    from .pipeline.graph import triangle_count

    return triangle_count(df, src, dst, checkpoint)


@stage("resample")
def _resample(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 3600,
    how: str = "zero",
    id_col: str = "event_id",
) -> DataFrame:
    from .pipeline.timeseries import resample_gapfill

    return resample_gapfill(df, key, ts_col, value_col, bucket_sec, how, id_col)


@stage("anomaly")
def _anomaly(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str = "value",
    k: int = 3,
    id_cols: list[str] | None = None,
) -> DataFrame:
    from .pipeline.timeseries import anomaly_flags

    return anomaly_flags(
        df, group, value_col, k, tuple(id_cols or ("event_id",))
    )


@stage("pq_topk")
def _pq_topk(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-input stage: PQ ANN of the named query frame against the
    current (corpus) frame — train, encode, ADC rank."""
    from .pipeline.similarity import pq_topk

    return pq_topk(
        df, _named[right], dim, m, ksub, k, n_iter, None, vec_col, id_col
    )


@stage("ivfpq_topk")
def _ivfpq_topk(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-input stage: IVF-pruned, PQ-compressed ANN of the named
    query frame against the current (corpus) frame."""
    from .pipeline.similarity import ivfpq_topk

    return ivfpq_topk(
        df, _named[right], dim, n_centroids, n_probe, m, ksub, k,
        n_iter, None, vec_col, id_col,
    )


@stage("cusum")
def _cusum(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str,
    train_end_ts: str,
    h_cents: int,
    ts_col: str = "ts",
    value_col: str = "value",
    slack_cents: int = 0,
    id_col: str = "event_id",
    chunk_sec: int | None = None,
) -> DataFrame:
    from .pipeline.timeseries import cusum_flags

    return cusum_flags(
        df, key, ts_col, value_col, train_end_ts, h_cents, slack_cents,
        id_col, chunk_sec,
    )


@stage("quantiles")
def _quantiles(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str = "value",
    ps: list[float] | None = None,
    scale: int = 100,
) -> DataFrame:
    from .pipeline.stats import group_quantiles

    return group_quantiles(
        df, group, value_col, tuple(ps or (0.25, 0.5, 0.75, 0.95)), scale
    )


@stage("anomaly_mad")
def _anomaly_mad(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str = "value",
    k: int = 3,
    id_cols: list[str] | None = None,
) -> DataFrame:
    from .pipeline.timeseries import mad_flags

    return mad_flags(
        df, group, value_col, k, tuple(id_cols or ("event_id",))
    )


@stage("classify")
def _classify(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    bigrams: bool = True,
    bias_milli: int = 0,
    threshold_milli: int = 0,
    weights_path: str | None = None,
    weights_seed: str = "qw",
) -> DataFrame:
    """Hashed-linear quality classifier. weights_path loads an
    offline-trained (bucket, w_milli) parquet; without it the
    deterministic hash_weights fixture is used (demo/testing)."""
    from .pipeline.classify import hash_weights, linear_text_classifier

    if weights_path is not None:
        w = spark.read.parquet(weights_path)
        missing = {"bucket", "w_milli"} - set(w.columns)
        if missing:
            raise ValueError(
                f"classify: weights at {weights_path!r} missing columns "
                f"{sorted(missing)}"
            )
        # LAZY in-plan guards (the flows contract: no driver jobs at
        # construction — same pattern as geo_radius_join's zoom guard):
        # a duplicated bucket would silently double-count its weight,
        # and a bucket outside [0, n_buckets) — a model trained for a
        # different n_buckets — would silently never join (the logits
        # would come from whatever slice happens to fit). Both now
        # raise at first execution instead.
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as F

        _dups = F.count(F.lit(1)).over(_W.partitionBy("bucket"))
        w = w.select(
            F.when(
                (F.col("bucket") < 0) | (F.col("bucket") >= n_buckets),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "classify: weights bucket out of range for "
                            f"n_buckets={n_buckets} (model trained for a "
                            "different bucket count?): "
                        ),
                        F.col("bucket").cast("string"),
                    )
                ).cast("long"),
            )
            .when(
                _dups > 1,
                F.raise_error(
                    F.concat(
                        F.lit("classify: duplicate weights bucket "),
                        F.col("bucket").cast("string"),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("bucket"))
            .alias("bucket"),
            "w_milli",
        )
    else:
        w = hash_weights(spark, n_buckets, weights_seed)
    return linear_text_classifier(
        df, w, text_col, id_col, n_buckets, bigrams, bias_milli,
        threshold_milli,
    )


@stage("transitions")
def _transitions(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_col: str = "event_id",
    start_label: str = "__start__",
) -> DataFrame:
    from .pipeline.reports import event_transitions

    return event_transitions(df, key, ts_col, type_col, tie_col, start_label)


@stage("pagerank")
def _pagerank(
    spark: SparkSession,
    df: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    from .pipeline.graph import pagerank

    return pagerank(df, n_iter, damping, src, dst)


@stage("hll_distinct")
def _hll_distinct(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str,
    groups: list[str] | None = None,
    p: int = 6,
) -> DataFrame:
    from .pipeline.sketches import hll_distinct

    return hll_distinct(df, key, groups, p)


@stage("line_dedup")
def _line_dedup(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    from .pipeline.dedup import line_dedup

    return line_dedup(df, text_col, id_col, min_count=min_count)


@stage("gopher_quality")
def _gopher_quality(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    min_stop_hits: int = 2,
    min_alpha_frac: float = 0.8,
) -> DataFrame:
    from .pipeline.text import gopher_quality

    return gopher_quality(
        df,
        text_col,
        id_col,
        min_words=min_words,
        min_stop_hits=min_stop_hits,
        min_alpha_frac=min_alpha_frac,
    )


@stage("zscore")
def _zscore(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    from .pipeline.stats import zscore_normalize

    return zscore_normalize(df, group, value_col, id_col)


@stage("shortest_paths")
def _shortest_paths(
    spark: SparkSession,
    df: DataFrame,
    *,
    right: str,
    _named: dict[str, DataFrame],
    n_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Two-input stage: BFS over the current (edge) frame from the
    seed-vertex frame tagged `right`."""
    from .pipeline.graph import shortest_paths

    return shortest_paths(df, _named[right], n_hops, src, dst)


@stage("unpivot")
def _unpivot(
    spark: SparkSession,
    df: DataFrame,
    *,
    ids: list[str],
    values: list[str],
    var_col: str = "measure",
    value_col: str = "value",
) -> DataFrame:
    return df.unpivot(ids, values, var_col, value_col)


@stage("topk")
def _topk(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    order_by: str,
    k: int = 3,
    descending: bool = True,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-group top-k via a rank-limit window (partial
    WindowGroupLimit pre-trims map-side). Pass `tiebreak` (a unique
    column) to make the cut deterministic; without it, which of the
    tied rows crosses the k boundary varies with partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order = [F.desc(order_by) if descending else F.asc(order_by)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(group).orderBy(*order)
    rk = "__rk"
    while rk in df.columns:  # never clobber a user column
        rk += "_"
    return (
        df.withColumn(rk, F.row_number().over(w))
        .where(F.col(rk) <= k)
        .drop(rk)
    )


@stage("seasonal_anomaly")
def _seasonal_anomaly(
    spark: SparkSession,
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    group: str = "event_type",
    k: int = 3,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Slot-relative (group x dow x hour) anomaly flags."""
    from .pipeline.timeseries import seasonal_anomalies

    return seasonal_anomalies(
        df, ts_col, value_col, group, k, tuple(id_cols or ("event_id",))
    )


@stage("trend")
def _trend(
    spark: SparkSession,
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    group: str = "event_type",
    bucket: str = "day",
) -> DataFrame:
    """Per-group OLS trend of bucketed totals."""
    from .pipeline.timeseries import linear_trend

    return linear_trend(df, ts_col, value_col, group, bucket)


@stage("kmv_distinct")
def _kmv_distinct(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str,
    groups: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """KMV bottom-k distinct estimate per group."""
    from .pipeline.sketches import kmv_estimate, kmv_sketch

    return kmv_estimate(kmv_sketch(df, key, groups, k), groups, k)


@stage("winsorize")
def _winsorize(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str = "value",
    id_col: str = "event_id",
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Per-group quantile clipping."""
    from .pipeline.stats import winsorize

    return winsorize(df, group, value_col, id_col, p_lo, p_hi)


@stage("boilerplate_rate")
def _boilerplate_rate(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    pct: int = 50,
) -> DataFrame:
    """Per-doc group-relative boilerplate-line rate."""
    from .pipeline.dedup import boilerplate_rate

    return boilerplate_rate(df, text_col, id_col, group_col, pct)


@stage("digest_fold")
def _digest_fold(
    spark: SparkSession,
    df: DataFrame,
    *,
    groups: list[str] | None = None,
    m: int = 32,
    order_cols: list[str] | None = None,
    qs: list[float] | None = None,
) -> DataFrame:
    """Fold sub-digests into one m-cluster digest per group and, when
    `qs` is given, read the quantile estimates off the merged state.
    order_cols = the sub-digest key columns (['day', 'c']) for
    deterministic tie-breaks."""
    from .pipeline.sketches import digest_merge, digest_quantiles

    merged = digest_merge(df, groups, m, order_cols)
    if qs is None:
        return merged
    return digest_quantiles(merged, groups, qs=tuple(qs))


@stage("cap_duplicates")
def _cap_duplicates(
    spark: SparkSession,
    df: DataFrame,
    *,
    max_copies: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Soft dedup: near-dup clusters via the minhash chain,
    capped at max_copies survivors per cluster; singletons pass."""
    from .pipeline.dedup import (
        cap_duplicates,
        near_dup_clusters,
        near_dup_pairs_minhash,
    )

    pairs = near_dup_pairs_minhash(
        df, text_col, id_col, num_hashes, band_size, k, threshold
    )
    kept = cap_duplicates(df, near_dup_clusters(pairs), max_copies, id_col)
    return df.join(kept.select(id_col, "cluster", "copy_rank"), id_col)


@stage("temperature_mix")
def _temperature_mix(
    spark: SparkSession,
    df: DataFrame,
    *,
    group_col: str,
    budget_tokens: int,
    alpha: float = 0.3,
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature mixture sampling: source rates ∝
    mass^alpha under a token budget. token_col names a precomputed
    count column; default counts whitespace tokens of text_col. The
    kept rows carry every input column plus (n_tokens, keep_prob),
    so text-consuming stages can follow this one."""
    from pyspark.sql import functions as F

    from .pipeline.splits import temperature_mix
    from .pipeline.text import word_count

    tokens = (
        F.col(token_col) if token_col else word_count(F.col(text_col))
    )
    return temperature_mix(
        df, group_col, tokens, budget_tokens, alpha, id_col
    )


@stage("incremental_near_dedup")
def _incremental_near_dedup(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    k: int = 3,
    n_buckets: int = 64,
) -> DataFrame:
    """ACTION: route the incoming batch against the persisted SimHash
    signature store at `path` (created on first use), appending unique
    survivors' signatures; hands the routed frame downstream."""
    from .pipeline.dedup import incremental_near_dedup, simhash_fingerprints
    from .stores import KeyedParquetStore
    from .stores.keyed_table import StoreNotInitializedError

    store = KeyedParquetStore(
        spark=spark, path=path, keys=[id_col], n_buckets=n_buckets
    )
    # store-LEVEL existence probe, not a local-filesystem one: an
    # os.path check is always False for hdfs:// paths (every batch
    # would re-init and WIPE the accumulated signatures), and a
    # non-empty dir without a published manifest (crashed first write)
    # must still init rather than fail every later batch
    try:
        store.read()
    except StoreNotInitializedError:
        store.init(simhash_fingerprints(df, text_col, id_col, k).limit(0))
    return incremental_near_dedup(
        store, df, text_col, id_col, max_hamming, k
    )


@stage("substring_dedup")
def _substring_dedup(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document exact duplicated substrings: maximal
    aligned spans of >= min_tokens shared words via positional k-gram
    anchors + diagonal runs — the Lee et al. ExactSubstr modality.
    Emits the (id_a, id_b, pos_a, pos_b, match_tokens) span report;
    feed it to a downstream trim/filter policy stage."""
    from .pipeline.dedup import substring_matches

    return substring_matches(df, text_col, id_col, k, min_tokens, max_df)


@stage("trim_repetitions")
def _trim_repetitions(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Intra-doc repetition REPAIR: keep the first
    occurrence of each repeated line, REWRITE text_col in place and
    pass every other column through — so quality/token stages chain
    after the repair (the flow-canvas contract temperature_mix also
    follows). Adds (kept_lines, dropped_lines) as repair evidence."""
    from .pipeline.text import trim_repeated_lines

    trimmed = trim_repeated_lines(df, text_col, id_col, delim)
    return _rewrite_text_in_place(
        df, trimmed, text_col, id_col,
        ["kept_lines", "dropped_lines"],
        zero_fill=("kept_lines", "dropped_lines"),
    )


@stage("repair_substrings")
def _repair_substrings(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document substring REPAIR: cut every shared
    >= min_tokens span from all but its lowest-id owner
    (remove_duplicate_spans), rewrite text_col in place, pass every
    other column through, and add (n_tokens, removed_tokens) as
    repair evidence — trim_repetitions' contract, applied across
    documents instead of within one."""
    from .pipeline.dedup import remove_duplicate_spans

    out = remove_duplicate_spans(df, None, text_col, id_col, k, min_tokens, max_df)
    return _rewrite_text_in_place(
        df, out, text_col, id_col, ["n_tokens", "removed_tokens"]
    )


def _rewrite_text_in_place(
    df: DataFrame,
    out: DataFrame,
    text_col: str,
    id_col: str,
    extra_cols: list[str],
    zero_fill: tuple[str, ...] = (),
) -> DataFrame:
    """Shared tail of every repair stage (trim_repetitions,
    repair_substrings, trim_intra_repeats, nfc_normalize): replace
    text_col with the repair's new_text, keep every other input
    column, append the repair-evidence columns. ONE definition so the
    NULL-doc policy cannot fork per stage: the join is LEFT — a doc
    the repair op emitted no row for (trim_repeated_lines drops
    NULL-text docs by contract) survives with its ORIGINAL text
    instead of silently vanishing from the canvas, and its evidence
    columns in `zero_fill` coalesce to 0.

    Collision contract: the repair frame's columns enter the join
    under unique ``__ev_`` aliases, so an input that ALREADY carries a
    same-named column (a prior repair stage in the same flow —
    temperature_mix emits n_tokens, trim_repetitions emits
    removed_tokens, and new_text could survive a user projection)
    never makes the select ambiguous; the fresh evidence OVERWRITES
    the stale same-named input column in the output, which is what
    re-running a repair means."""
    from pyspark.sql import functions as F

    ev = "__ev_"
    out_sel = out.select(
        F.col(id_col),
        F.col("new_text").alias(ev + "new_text"),
        *[F.col(c).alias(ev + c) for c in extra_cols],
    )
    passthrough = [
        c for c in df.columns if c != text_col and c not in extra_cols
    ]
    joined = df.select(
        *passthrough, F.col(text_col).alias(ev + "orig")
    ).join(out_sel, id_col, "left")
    sel: list[Column] = []
    for c in df.columns:
        if c == text_col:
            sel.append(
                F.coalesce(
                    F.col(ev + "new_text"), F.col(ev + "orig")
                ).alias(text_col)
            )
        elif c not in extra_cols:
            sel.append(F.col(c))
    for c in extra_cols:
        if c in zero_fill:
            sel.append(
                F.coalesce(F.col(ev + c), F.lit(0).cast("bigint")).alias(c)
            )
        else:
            sel.append(F.col(ev + c).alias(c))
    return joined.select(*sel)


@stage("nfc_normalize")
def _nfc_normalize(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode NFC normalization: rewrite text_col to its
    composed form in place, keep every other column, add `changed` as
    the denormalization-rate signal — run this IN FRONT of exact/
    canonical dedup so normalization variants hash identically."""
    from .pipeline.text import nfc_normalize

    out = nfc_normalize(df, text_col, id_col)
    return _rewrite_text_in_place(df, out, text_col, id_col, ["changed"])


@stage("trim_intra_repeats")
def _trim_intra_repeats(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int | None = None,
) -> DataFrame:
    """Within-doc repeated-span REPAIR: cut later
    occurrences, rewrite text_col in place, keep every other column —
    the repair_substrings contract turned inward."""
    from .pipeline.dedup import trim_intra_doc_repeats

    out = trim_intra_doc_repeats(df, None, text_col, id_col, k, min_tokens)
    return _rewrite_text_in_place(
        df, out, text_col, id_col, ["n_tokens", "removed_tokens"]
    )


@stage("source_overlap")
def _source_overlap(
    spark: SparkSession,
    df: DataFrame,
    *,
    key: str = "text",
    group_col: str = "source",
    k: int = 64,
) -> DataFrame:
    """Cross-source contamination matrix: per-source KMV
    bottom-k sketch → pairwise overlap/Jaccard estimates, everything
    sketch-sized. The mixture-planning observability pass."""
    from .pipeline.sketches import kmv_overlap_matrix, kmv_sketch

    return kmv_overlap_matrix(kmv_sketch(df, key, [group_col], k), group_col, k)


@stage("incremental_substring_dedup")
def _incremental_substring_dedup(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_tokens: int = 12,
    n_buckets: int = 64,
) -> DataFrame:
    """ACTION: route the incoming batch against the
    persisted positional-anchor store at `path` (created on first
    use — the incremental_near_dedup store-level probe), appending
    unique survivors' anchors; hands the routed frame downstream."""
    from .pipeline.dedup import anchor_rows, incremental_substring_dedup
    from .stores import KeyedParquetStore
    from .stores.keyed_table import StoreNotInitializedError

    store = KeyedParquetStore(
        spark=spark, path=path, keys=[id_col, "pos"], n_buckets=n_buckets
    )
    try:
        store.read()
    except StoreNotInitializedError:
        store.init(anchor_rows(df, text_col, id_col, k).limit(0))
    return incremental_substring_dedup(
        store, df, text_col, id_col, k, min_tokens
    )


@stage("source_divergence")
def _source_divergence(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the lexical counterpart of source_overlap on the
    corpus-card canvas."""
    from .pipeline.reports import source_divergence_matrix

    return source_divergence_matrix(df, text_col, group_col)


@stage("dsir_weights")
def _dsir_weights(
    spark: SparkSession,
    df: DataFrame,
    *,
    target_condition: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights on the canvas: score every
    incoming doc by target-likeness (hashed uni+bigram log-ratios
    against the rows matching `target_condition`) and join
    (n_features, importance) onto every input column — feed the
    result to weighted_sample_quality / temperature_mix for the
    actual selection."""
    from .pipeline.splits import dsir_weights

    weights = dsir_weights(
        df, df.where(target_condition), text_col, id_col, n_buckets
    )
    return df.drop("n_features", "importance").join(weights, id_col)


@stage("dsir_select")
def _dsir_select(
    spark: SparkSession,
    df: DataFrame,
    *,
    target_condition: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    temperature: float = 1.0,
    keep_only: bool = True,
) -> DataFrame:
    """DSIR selection END-TO-END on the canvas: the
    dsir_weights scores squashed to keep probabilities and resolved
    to deterministic membership (pipeline/splits.py::dsir_select) in
    one stage — by default only the KEPT rows flow downstream (the
    resampled corpus, all input columns preserved plus the audit
    columns); keep_only=False hands the full annotated frame on for
    report-style canvases."""
    from .pipeline.splits import dsir_select

    sel = dsir_select(
        df,
        df.where(target_condition),
        text_col,
        id_col,
        n_buckets,
        temperature,
    )
    out = df.drop(
        "n_features", "importance", "keep_prob", "kept"
    ).join(sel, id_col)
    return out.where("kept").drop("kept") if keep_only else out


@stage("dsir_fit")
def _dsir_fit(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    target_condition: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    store_buckets: int = 1,
) -> DataFrame:
    """ACTION: fit the DSIR log-ratio table on the
    incoming corpus (target = rows matching `target_condition`) and
    PERSIST it as store state at `path` keyed by bucket — the
    registered-selection-model lifecycle, the same shape as the
    tokenizer register (bpe_train → token_count_trained): fit once on
    the slow cadence, every downstream dsir_score stage replays the
    same table. Hands the (bucket, log_ratio) table downstream.
    Re-running refits and re-initializes (a refit is a new artifact
    version — the store keeps history)."""
    from pyspark.sql import functions as F

    from .pipeline.splits import dsir_lambda
    from .stores import KeyedParquetStore

    lam = dsir_lambda(
        df, df.where(target_condition), text_col, id_col, n_buckets,
        include_counts=True,
    ).select(
        F.col("_b").alias("bucket"),
        F.col("_lam").alias("log_ratio"),
        # fitted raw bucket distribution — the dsir_drift stage's
        # reference side, persisted so drift never re-scans the
        # fit-time pool
        F.col("_cr").alias("raw_count"),
        # The bucket hash is a function of n_buckets, so the model is
        # only meaningful WITH it: persist it on every row (constant
        # column — parquet RLE makes it free) so dsir_score validates
        # the fit/serve agreement by EQUALITY, not by row count
        # (which legitimately undershoots when buckets are empty).
        F.lit(int(n_buckets)).cast("int").alias("fit_n_buckets"),
    )
    store = KeyedParquetStore(
        spark=spark, path=path, keys=["bucket"], n_buckets=store_buckets
    )
    store.init(lam)
    return store.read().orderBy("bucket")


@stage("dsir_score")
def _dsir_score(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Score the incoming frame against the REGISTERED DSIR table at
    `path` — the serving half of dsir_fit: broadcast the
    n_buckets-row table, join (n_features, importance) onto every
    input column, featureless docs read (0, 0.0) like the batch
    dsir_weights contract. `n_buckets` must EQUAL the fit's (the
    bucket hash is a function of it — a mismatch scores against the
    wrong buckets): the fit persists `fit_n_buckets` on every model
    row and this stage validates equality loudly (a row-count check
    alone catches only n_stored > n_buckets and lets a
    fit-512/score-1024 mismatch through silently). Stores written
    without the column fall back to that row-count check."""
    from pyspark.sql import functions as F

    from .pipeline.splits import dsir_score
    from .stores import KeyedParquetStore

    store = KeyedParquetStore(spark=spark, path=path, keys=["bucket"])
    model = store.read()
    if "fit_n_buckets" in model.columns:
        fitted = [
            r["fit_n_buckets"]
            for r in model.select("fit_n_buckets").distinct().collect()
        ]
        if fitted != [n_buckets]:
            raise ValueError(
                f"dsir_score: store at {path} was fitted with "
                f"n_buckets={fitted} but scoring with "
                f"n_buckets={n_buckets} — the bucket hash would not "
                "match the fit; pass the n_buckets the table was "
                "fitted with"
            )
    else:  # store without fit_n_buckets: best-effort row-count check
        n_stored = model.count()
        if n_stored > n_buckets:
            raise ValueError(
                f"dsir_score: store at {path} holds {n_stored} buckets "
                f"but n_buckets={n_buckets} — the bucket hash would not "
                "match the fit; pass the n_buckets the table was fitted "
                "with"
            )
    lam_rows = model.select(
        F.col("bucket").alias("_b"), F.col("log_ratio").alias("_lam")
    )
    scored = dsir_score(df, lam_rows, text_col, id_col, n_buckets)
    return (
        df.drop("n_features", "importance")
        .join(scored, id_col, "left")
        .withColumn(
            "n_features",
            F.coalesce("n_features", F.lit(0).cast("bigint")),
        )
        .withColumn("importance", F.coalesce("importance", F.lit(0.0)))
    )


@stage("dsir_drift")
def _dsir_drift(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR model-DRIFT row on the canvas: compare the
    incoming frame's feature-bucket distribution against the FITTED
    raw distribution persisted with the model at `path` (dsir_fit's
    raw_count column) — one jsd_bits row per invocation, so "the
    lambda table has aged, refit" is an observable number on the same
    canvas that serves the scores. Same fit/serve n_buckets equality
    contract as dsir_score. Requires a store whose fit persisted
    raw_count; refit a model without it to enable drift."""
    from pyspark.sql import functions as F

    from .pipeline.splits import dsir_drift
    from .stores import KeyedParquetStore

    store = KeyedParquetStore(spark=spark, path=path, keys=["bucket"])
    model = store.read()
    if "raw_count" not in model.columns:
        raise ValueError(
            f"dsir_drift: store at {path} has no raw_count column — "
            "it was fitted without the raw bucket distribution; re-run "
            "dsir_fit to persist it"
        )
    if "fit_n_buckets" in model.columns:
        fitted = [
            r["fit_n_buckets"]
            for r in model.select("fit_n_buckets").distinct().collect()
        ]
        if fitted != [n_buckets]:
            raise ValueError(
                f"dsir_drift: store at {path} was fitted with "
                f"n_buckets={fitted} but drifting with "
                f"n_buckets={n_buckets} — the bucket hash would not "
                "match the fit"
            )
    raw = model.select(
        F.col("bucket").alias("_b"), F.col("raw_count").alias("_cr")
    )
    return dsir_drift(raw, df, text_col, id_col, n_buckets)


@stage("bpe_train")
def _bpe_train(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    num_merges: int = 20,
    text_col: str = "text",
    n_buckets: int = 1,
    min_count: int = 1,
) -> DataFrame:
    """ACTION: train a BPE merges table on the incoming corpus and
    PERSIST it as store state at `path` (keyed by rank — the
    registered-tokenizer lifecycle: train once, every downstream
    count/encode stage replays the same table); hands the merge table
    downstream. Re-running retrains and re-initializes (a tokenizer
    retrain is a new artifact version — the store keeps history).
    min_count drops word pieces seen fewer times before training
    (bpe_train's vocabulary pruning)."""
    from .pipeline.text import bpe_merges_df, bpe_train
    from .stores import KeyedParquetStore

    merges = bpe_train(df, num_merges, text_col, min_count=min_count)
    store = KeyedParquetStore(
        spark=spark, path=path, keys=["rank"], n_buckets=n_buckets
    )
    store.init(bpe_merges_df(spark, merges))
    return store.read().orderBy("rank")


def _read_merges(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """Load a persisted merges table back into the ranked list the
    text.py fold consumes — num_merges rows, bounded driver state."""
    from .stores import KeyedParquetStore

    store = KeyedParquetStore(spark=spark, path=path, keys=["rank"])
    rows = store.read().select("rank", "lhs", "rhs").collect()
    return [(r["lhs"], r["rhs"]) for r in sorted(rows, key=lambda r: r["rank"])]


@stage("token_count_trained")
def _token_count_trained(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "n_tokens_trained",
) -> DataFrame:
    """Per-doc token counts under the merges table PERSISTED at
    `path` (a prior bpe_train stage or any registered tokenizer
    artifact) — joined back onto every input column, so budget-mixing
    stages downstream can allocate by real token counts."""
    from .pipeline.text import bpe_token_counts

    counts = bpe_token_counts(
        df, text_col, id_col, merges=_read_merges(spark, path),
        out_col=out_col,
    )
    # same collision contract as _rewrite_text_in_place: a prior count
    # stage's out_col is OVERWRITTEN by the fresh count (re-counting
    # after a retrain is what running this stage again means), never
    # duplicated into an ambiguous column
    return df.drop(out_col).join(counts, id_col)


@stage("bpe_encode")
def _bpe_encode(
    spark: SparkSession,
    df: DataFrame,
    *,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ENCODE the incoming docs under the merges table persisted at
    `path`: (id, pos, token) rows — the sequence a packing stage
    consumes."""
    from .pipeline.text import bpe_encode

    return bpe_encode(df, text_col, id_col, _read_merges(spark, path))


@stage("corpus_card")
def _corpus_card(
    spark: SparkSession,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    substring_k: int = 8,
    min_tokens: int = 12,
    containment_threshold: float = 0.8,
    max_df_quantile: float | None = 0.99,
) -> DataFrame:
    """The one-row multi-modality corpus card: document
    near-dup families (minhash chain), substring shared-span volume,
    and quantile-pruned containment, folded into one hygiene row —
    the terminal dashboard stage of a curation canvas."""
    from pyspark.sql import functions as F

    from .pipeline.dedup import (
        containment_pairs,
        corpus_card,
        near_dup_clusters,
        near_dup_pairs_minhash,
        substring_matches,
    )

    pairs = near_dup_pairs_minhash(
        df, text_col, id_col, num_hashes, band_size, k, threshold
    )
    clusters = near_dup_clusters(pairs)
    body = df.select(F.col(id_col), F.col(text_col))
    spans = substring_matches(body, text_col, id_col, substring_k, min_tokens)
    cpairs = containment_pairs(
        body, text_col, id_col, k, containment_threshold,
        None, max_df_quantile,
    )
    return corpus_card(body, clusters, spans, cpairs, text_col, id_col)


@stage("weighted_median")
def _weighted_median(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact per-group weighted median."""
    from .pipeline.stats import weighted_median

    return weighted_median(df, group, value_col, weight_col)


@stage("rank_normalize")
def _rank_normalize(
    spark: SparkSession,
    df: DataFrame,
    *,
    group: str,
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Exact per-group percent-rank transform."""
    from .pipeline.stats import rank_normalize

    return rank_normalize(df, group, value_col, id_col)


def build_flow(
    spark: SparkSession, flow: list[dict[str, Any]], sf_dir: str
) -> DataFrame:
    """Fold a stage list into one DataFrame plan. ``load`` stages get
    ``sf_dir`` injected; the result is lazy — callers write/collect.

    The flow is a DAG, not just a chain: ``{"op": "tag", "name": N}``
    remembers the current frame under N (and a following ``load``
    starts a new branch), and two-input stages (`asof_join`,
    `range_join`, `join`) reference a remembered frame via their
    ``right`` key — the NiFi canvas shape where one processor consumes
    two upstream connections. Everything still folds into ONE Catalyst
    plan; tagging is metadata, not a materialization."""
    df: DataFrame | None = None
    named: dict[str, DataFrame] = {}
    for i, spec in enumerate(flow):
        spec = dict(spec)
        op = spec.pop("op")
        if op == "tag":
            if df is None:
                raise ValueError(f"stage {i}: 'tag' before any frame exists")
            if "name" not in spec:
                raise KeyError(f"stage {i}: 'tag' needs a 'name' key")
            named[spec["name"]] = df
            continue
        if op == "route":
            # The full NiFi relationship fan-out: run a routed operator
            # and expose EVERY requested relationship as a tagged
            # branch ({relationship: tag-name}), each wireable
            # downstream via `use` / two-input stages. The mainline
            # continues with the `continue` relationship (default
            # success). All branches share one routed subplan —
            # Catalyst sees a single route expression filtered per
            # port, not N recomputations.
            if df is None:
                raise ValueError(f"stage {i}: 'route' before any frame exists")
            using = spec.pop("using")
            if using not in _ROUTED_OPS:
                raise KeyError(
                    f"stage {i}: route has no operator {using!r}; "
                    f"have {sorted(_ROUTED_OPS)}"
                )
            tags = spec.pop("tags", {})
            cont = spec.pop("continue", "success")
            routed = _ROUTED_OPS[using](spark, df, spec)
            # Validate every requested relationship up front so a typo
            # fails with the stage index and the operator's actual
            # ports, not a bare KeyError (every other flow error
            # carries its 'stage {i}' context).
            have = routed.relationships()
            for rel in [*tags, cont]:
                if rel not in have:
                    raise KeyError(
                        f"stage {i}: route op {using!r} has no "
                        f"relationship {rel!r}; have {sorted(have)}"
                    )
            for rel, tag_name in tags.items():
                named[tag_name] = routed[rel]
            df = routed[cont]
            continue
        if op == "use":
            # Resume a tagged branch as the mainline — wiring any
            # stored relationship into the next downstream stage.
            if "tag" not in spec:
                raise KeyError(f"stage {i}: 'use' needs a 'tag' key")
            name = spec["tag"]
            if name not in named:
                raise KeyError(
                    f"stage {i}: 'use' references untagged frame "
                    f"{name!r}; tagged: {sorted(named)}"
                )
            df = named[name]
            continue
        if op not in STAGES:
            raise KeyError(f"stage {i}: unknown op {op!r}; have {sorted(STAGES)}")
        if op == "load":
            spec.setdefault("sf_dir", sf_dir)
        if op in _NAMED_OPS:
            needs_right = _NAMED_OPS[op] or "right" in spec
            if needs_right and spec.get("right") not in named:
                raise KeyError(
                    f"stage {i}: {op} references untagged frame "
                    f"{spec.get('right')!r}; tagged: {sorted(named)}"
                )
            spec["_named"] = named
        if df is None and op != "load":
            raise ValueError(f"stage {i}: flow must start with a 'load' stage")
        df = STAGES[op](spark, df, **spec)
    if df is None:
        raise ValueError("empty flow")
    return df
