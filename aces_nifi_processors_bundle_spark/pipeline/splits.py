"""Deterministic dataset splitting, stratified sampling, and
token-budget mixing — the assignment layer of a training-data
pipeline (what comes after dedup/quality filtering and before
tokenization).

No reference analog (the NiFi bundle stops at storage); these extend
the engine for the LLM-corpus workload the same way pipeline/dedup.py
and pipeline/similarity.py do.

Design rules shared by all the operators here:
- Assignment is a PURE FUNCTION of the row's id (md5-hash order), so
  a document's split/sample membership never changes when other
  documents are added or removed — the property that keeps train/test
  splits stable across corpus refreshes and prevents eval
  contamination. (Spark's df.randomSplit is seed-stable but
  PARTITION-sensitive: same seed + different file layout = different
  split. Hash assignment is layout-independent.)
- md5 on both sides: Spark `conv(substr(md5(x),1,15),16,10)` equals
  DuckDB `('0x'||substr(md5(x),1,15))::BIGINT` bit-for-bit, so every
  operator here is fully oracle-checkable.
- Nothing collects to the driver; per-stratum work is window functions
  over the stratum key, with a salted two-phase variant where a single
  hot stratum could swamp one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 60-bit md5 prefix → bigint, the same construction dedup/similarity
# use; uniform enough for bucketing and mirrored exactly by DuckDB.
_HASH_MOD = 1_000_000


def _hash_bucket(col: Column, seed: str, mod: int = _HASH_MOD) -> Column:
    h = F.conv(F.substring(F.md5(F.concat(F.lit(seed), col.cast("string"))), 1, 15), 16, 10)
    return F.pmod(h.cast("bigint"), F.lit(mod))


def hash_mod_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    denom: int = 4,
    seed: str = "sample",
) -> DataFrame:
    """Deterministic 1/denom corpus sample: keep rows whose
    md5-bucket(seed || id) % denom == 0 — the engine's standard
    membership algebra (pure function of the id: stable across corpus
    growth, re-runnable, mirrored bit-for-bit by DuckDB's
    ('0x'||substr(md5(..),1,15))::BIGINT % denom). The shared
    primitive under the sampled report operators
    (dedup_recall_sampled, the sampled ANN recall query): ground
    truth is the quadratic part of any recall report, and a pinned
    hash sample is how it stays affordable at 100 TB. denom=1 keeps
    everything (the identity — pytest-pinned)."""
    if denom < 1:
        raise ValueError(
            f"hash_mod_sample: denom must be >= 1, got {denom}"
        )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(denom),
    )
    return df.where(bucket == 0)


def hash_topn_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    n: int = 32,
    seed: str = "sample",
) -> DataFrame:
    """Deterministic ABSOLUTE-BUDGET sample: the first `n`
    rows of the md5-hash order (full 60-bit hash value ascending, id
    ascending on ties). Where hash_mod_sample's FRACTIONAL contract
    (keep 1/denom) lets the sample grow with the corpus — the sampled
    ANN recall report's brute-force side grew 32 → 312 queries at
    sf0.1 → sf1 under a fixed denom — this pins the ground-truth cost
    BY CONSTRUCTION: n queries at any corpus size. Still a pure
    function of the ids (re-runnable, unbiased — the hash order is
    independent of any row attribute) and mirrored bit-for-bit by the
    DuckDB oracle (ORDER BY ('0x'||substr(md5(seed||id),1,15))::BIGINT
    LIMIT n).

    Scale shape: sort+limit compiles to TakeOrderedAndProject —
    per-partition top-n heaps, one n-row driver merge; no global sort
    shuffle, no corpus materialization.

    NULL ids are FILTERED before the ordering: md5(NULL) is NULL, and
    Spark's ascending sort is NULLS FIRST while DuckDB's is NULLS
    LAST, so NULL-id rows would consume the budget on the Spark side
    only and desync the two engines. A NULL
    id is not a samplable identity; dropping it keeps the sample a
    pure function of real ids on BOTH engines."""
    if n < 0:
        raise ValueError(f"hash_topn_sample: n must be >= 0, got {n}")
    df = df.where(F.col(id_col).isNotNull())
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        df.withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(n)
        .drop("_h")
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hashing its id.

    weights: {"train": 0.9, "val": 0.05, "test": 0.05} — fractions
    over a 1e6-bucket hash space, cumulative in dict order. Adds a
    `split` column. Stable under corpus growth (see module doc): the
    assignment reads ONLY this row's id, so it holds per-row even
    across retention changes upstream — the eval-contamination guard.

    Scale shape: one codegen'd expression, no shuffle, no sampling
    pass; the split can be used as a partition column downstream.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    bad = {k: w for k, w in weights.items() if not w > 0}
    if bad:
        # a negative weight can still sum to 1.0 but makes the
        # cumulative CASE bounds non-monotonic — a later split
        # silently receives ZERO rows (the exact eval-contamination
        # failure this guard exists for)
        raise ValueError(f"hash_split: weights must be > 0, got {bad}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        # Fail fast: weights summing under 1 would leave the tail of
        # the hash space with split=NULL — silently dropped by any
        # split filter and written to __HIVE_DEFAULT_PARTITION__.
        raise ValueError(
            f"hash_split weights must sum to 1.0, got {total!r} ({weights})"
        )
    bucket = _hash_bucket(F.col(id_col), seed)
    expr = F.lit(None).cast("string")
    acc = 0.0
    cases = []
    for name, w in weights.items():
        acc += w
        cases.append((int(round(acc * _HASH_MOD)), name))
    # build the CASE from the last threshold down so earlier (smaller)
    # thresholds take precedence
    for bound, name in reversed(cases):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    seed: str = "sample",
    salt_parts: int = 16,
) -> DataFrame:
    """Deterministic fixed-size sample per stratum: the n_per_stratum
    rows with the smallest hash(id) in each stratum.

    Hash-order selection makes the sample a pure function of ids (see
    module doc) AND uniformly random in distribution (md5 is a PRF on
    the id). Two-phase salted top-n: phase 1 ranks within
    (stratum, salt) partitions — bounding any single task's sort to
    ~|stratum|/salt_parts rows even when one stratum dominates the
    corpus (the skew defense the flat window lacks) — and keeps at
    most n_per_stratum per salt; phase 2 ranks the <= salt_parts * n
    survivors per stratum. Identical output to the flat window because
    the global top-n is contained in the union of per-salt top-n.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    salt = _hash_bucket(F.col(id_col), seed + "#salt", salt_parts)
    phase1 = Window.partitionBy(*strata_cols, salt).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    survivors = (
        df.withColumn("_rk", F.row_number().over(phase1))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )
    phase2 = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        survivors.withColumn("_rk", F.row_number().over(phase2))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def token_budget_mix(
    df: DataFrame,
    group_col: str,
    budgets: dict[str, int],
    token_col: Column,
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Domain/language mixing under per-group token budgets: take each
    group's documents in hash(id) order until the group's budget is
    exhausted (a document is kept while the tokens BEFORE it are under
    budget, so the budget may overshoot by at most one document — the
    greedy prefix rule every sampling-with-budget pipeline uses).

    Groups absent from `budgets` are dropped (mixing = whitelist).
    Adds `n_tokens` (this row's count) and `tokens_before` (exclusive
    running total within the group) for audit.

    Scale shape: one window (shuffle on group_col) computing the
    exclusive prefix sum in hash order; budgets are a broadcast-sized
    CASE expression. A pathologically hot group bounds at the window
    sort of its own rows — mixing groups (languages, sources) are
    few and fat, which is exactly the window's partition grain.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.lit(None).cast("bigint")
    for name, b in budgets.items():
        budget = F.when(F.col(group_col) == name, F.lit(b)).otherwise(budget)
    return (
        df.withColumn("n_tokens", token_col.cast("bigint"))
        .withColumn(
            "tokens_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
        )
        .filter(F.col("tokens_before") < budget)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column,
    id_col: str = "doc_id",
    seed: str = "wsample",
) -> DataFrame:
    """Keep each row independently with probability = its weight in
    [0, 1] — quality-proportional downsampling (keep-prob from a
    quality score is the standard soft filter between hard thresholds
    and keeping everything). Weights are clamped into [0, 1].

    Deterministic: row kept iff hash(id)/MOD < weight, so membership
    is a pure function of (id, its own weight) — stable across corpus
    growth and layout, re-runnable (see module doc). In expectation
    the kept token mass per stratum is sum(weight), which is how
    mixing recipes budget soft-filtered sources.

    Scale shape: zero-shuffle filter projection, fully codegen'd.
    """
    u = _hash_bucket(F.col(id_col), seed) / F.lit(float(_HASH_MOD))
    w = F.greatest(F.lit(0.0), F.least(F.lit(1.0), weight_col.cast("double")))
    return df.filter(u < w)


def write_split_dataset(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    files_per_partition: int = 1,
    n_partition_values: int | None = None,
) -> None:
    """Terminal stage: persist the prepared corpus partitioned by split
    (and optionally language/source) for selective downstream reads.

    The repartition BEFORE partitionBy is the load-bearing line: a
    naive `df.write.partitionBy(cols)` emits one file per
    (task x partition-value) — with 20k shuffle partitions and 15
    partition values that is 300k tiny files, the classic datalake
    small-files explosion. Repartitioning on the partition columns
    (plus a bounded salt when files_per_partition > 1 for very large
    partitions) routes each partition value to exactly
    files_per_partition tasks, so the file count is
    |partition values| x files_per_partition by construction.
    """

    cols = partition_cols or ["split"]
    keys = [F.col(c) for c in cols]
    if files_per_partition > 1:
        # Per-ROW salt (NOT a hash of the partition columns — that is
        # constant within a partition and would still yield one file):
        # hashing every data column spreads each partition value over
        # up to files_per_partition tasks. Two constraints learned the
        # hard way: the salt must be a PURE function of the row (a
        # nondeterministic monotonically_increasing_id gets neutralized
        # inside repartition's hash expression), and the partition
        # count must be EXPLICIT — AQE otherwise coalesces the salt
        # buckets right back into one task per value. Callers almost
        # always KNOW the value count (it is the size of their
        # weights/budgets config) — pass n_partition_values to skip
        # the fallback distinct scan, which re-executes the entire
        # upstream plan once just to size the repartition.
        n_values = (
            n_partition_values
            if n_partition_values is not None
            else df.select(*keys).distinct().count()
        )
        # maps are unhashable (xxhash64 rejects MapType); exclude
        # them — any remaining columns spread rows just as well
        hashable = [
            F.col(c) for c, t in df.dtypes if not t.startswith("map<")
        ]
        salt = F.pmod(
            F.xxhash64(*hashable) if hashable else F.lit(0),
            F.lit(files_per_partition),
        )
        out = df.repartition(n_values * files_per_partition, *keys, salt)
    else:
        out = df.repartition(*keys)
    out.write.mode("overwrite").partitionBy(*cols).parquet(path)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    seq_tokens: int,
    id_cols: list[str] | None = None,
    n_shards: int = 64,
    seed: str = "pack",
) -> DataFrame:
    """Concat-and-chop packing PLAN: lay chunks end-to-end in
    deterministic hash order and chop the stream every `seq_tokens`
    tokens — the GPT-style pre-tokenization packing step that turns
    chunks into fixed-length training sequences. This operator plans
    the layout (which sequence each chunk starts in, at what offset);
    the tokenizer downstream materializes it.

    Adds: `shard`, `tokens_before` (exclusive prefix sum within the
    shard), `seq_id` (= floor(tokens_before / seq_tokens), the
    sequence this chunk STARTS in — a chunk straddling a boundary
    continues into the next sequence, exactly like the concatenated
    token stream it plans), and `offset_in_seq`.

    Scale shape: a GLOBAL prefix sum is a one-partition window, so the
    stream is sharded by hash first — packing runs per shard
    (n_shards-way parallel, each shard its own independent chop);
    sequences never cross shards, which costs nothing because sequence
    boundaries are arbitrary anyway. Deterministic: hash order is a
    pure function of the chunk identity (see module doc).
    """
    ids = id_cols or ["doc_id", "chunk_id"]
    ident = F.concat_ws("#", *[F.col(c).cast("string") for c in ids])
    shard = _hash_bucket(ident, seed + "#shard", n_shards)
    h = F.md5(F.concat(F.lit(seed), ident))
    w = (
        Window.partitionBy(shard)
        .orderBy(h.asc(), *[F.col(c).asc() for c in ids])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tokens_before = F.coalesce(
        F.sum(F.col(token_col)).over(w), F.lit(0)
    ).cast("bigint")
    return (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("tokens_before", tokens_before)
        .withColumn(
            "seq_id", F.floor(F.col("tokens_before") / seq_tokens).cast("bigint")
        )
        .withColumn(
            "offset_in_seq",
            F.pmod(F.col("tokens_before"), F.lit(seq_tokens)).cast("bigint"),
        )
    )


def pack_materialize(
    tokens: DataFrame,
    plan: DataFrame,
    seq_tokens: int,
    id_cols: list[str] | None = None,
    pos_col: str = "pos",
    value_col: str = "token_id",
) -> DataFrame:
    """MATERIALIZE a packing plan: turn pack_sequences'
    layout (which sequence each chunk starts in, at what offset) plus
    the tokenizer's (id, pos, token_id) stream into the actual
    fixed-length training sequences — (shard, seq_id, pos_in_seq,
    token_id) rows, the thing a training loop reads. Each token's
    global offset within its shard's concatenated stream is
    tokens_before + pos; sequence id and in-sequence position are
    pure arithmetic on that offset, so a chunk straddling a sequence
    boundary CONTINUES into the next sequence exactly as the plan
    documents (GPT-style concat-and-chop, no padding, no truncation).

    Contract: the plan's token_col counts must equal each unit's
    actual token-stream length under the SAME tokenizer (true by
    construction when both come from the same merges table —
    bpe_token_counts and bpe_encode share the fold); offsets are then
    contiguous and non-overlapping per shard by the prefix sum, so
    (shard, seq_id, pos_in_seq) is unique.

    Scale shape: one equi join from the token stream onto the
    doc-count-sized plan (co-partitioned on the id), then a free
    codegen projection — no window, no sort, no driver state. Roll up
    to per-sequence arrays/fingerprints downstream if the sink wants
    rows-per-sequence (q_pack_materialize grades an md5 fingerprint
    per sequence)."""
    if seq_tokens < 1:
        raise ValueError(
            f"pack_materialize: seq_tokens must be >= 1, got {seq_tokens}"
        )
    ids = id_cols or ["doc_id"]
    j = tokens.join(plan.select(*ids, "shard", "tokens_before"), ids)
    offset = F.col("tokens_before") + F.col(pos_col)
    return j.select(
        "shard",
        F.floor(offset / seq_tokens).cast("bigint").alias("seq_id"),
        F.pmod(offset, F.lit(seq_tokens)).cast("bigint").alias(
            "pos_in_seq"
        ),
        F.col(value_col),
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    token_col: Column,
    budget_tokens: int,
    alpha: float = 0.3,
    id_col: str = "doc_id",
    seed: str = "tmix",
) -> DataFrame:
    """Multinomial TEMPERATURE sampling across sources — the standard
    multilingual/multi-source training-mixture recipe (mT5/XLM-R
    style): source s with token mass m_s is sampled with probability
    p_s ∝ m_s^alpha (alpha = 1/T < 1 UPSAMPLES low-resource sources
    relative to their natural share), and each doc keeps
    independently with probability min(1, budget·p_s / m_s), so the
    expected kept token mass is ~budget, mixed at the tempered rates.

    Deterministic and replayable: membership is a pure function of
    (id, its source's mass, the corpus totals) via the shared
    md5-bucket hash — the weighted_sample discipline. m_s^alpha is
    computed as exp(alpha·ln(m_s)) with the op order mirrored exactly
    in the oracle (exp/ln are bit-identical cross-engine here, unlike
    libm pow); the cross-source normalizer sums per-source terms
    rounded to 7dp in DECIMAL(38,18), so addition order cannot matter.

    Scale shape: one map-side-combined aggregate per source (the only
    shuffle, group-count-sized), broadcast back as a one-row-per-source
    frame; the keep decision is a zero-shuffle codegen filter. Output:
    the kept rows — EVERY input column (text included, so downstream
    text-consuming stages can follow this as a flow stage) — plus
    (n_tokens, keep_prob). A pre-existing n_tokens column is replaced
    by the computed count. Rows whose token count is NULL or <= 0
    carry no samplable mass and are dropped."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    # evaluate token_col against the FULL input first (it may read a
    # pre-existing n_tokens column — the documented precomputed-count
    # case), then drop that original and claim the name
    toks = (
        df.withColumn("__tm_tokens", token_col.cast("bigint"))
        .drop("n_tokens")
        .withColumnRenamed("__tm_tokens", "n_tokens")
        .where(F.col("n_tokens") > 0)
    )
    passthrough = [c for c in df.columns if c != "n_tokens"]
    mass = toks.groupBy(group_col).agg(
        F.sum("n_tokens").cast("bigint").alias("_m")
    )
    pw = F.round(F.exp(F.lit(alpha) * F.log(F.col("_m").cast("double"))), 7)
    mass = mass.withColumn("_pw", pw)
    tot = mass.agg(
        F.sum(F.col("_pw").cast("decimal(38,18)")).cast("double").alias("_tot")
    )
    rates = mass.crossJoin(F.broadcast(tot)).select(
        group_col,
        "_m",
        F.least(
            F.lit(1.0),
            F.lit(float(budget_tokens))
            * (F.col("_pw") / F.col("_tot"))
            / F.col("_m").cast("double"),
        ).alias("keep_prob"),
    )
    u = _hash_bucket(F.col(id_col), seed)
    kept_cols = [c for c in passthrough if c != group_col]
    return (
        toks.join(F.broadcast(rates), group_col)
        .where(u.cast("double") < F.col("keep_prob") * F.lit(float(_HASH_MOD)))
        .select(
            group_col, *kept_cols, "n_tokens",
            F.round("keep_prob", 6).alias("keep_prob"),
        )
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Data Selection with Importance Resampling weights (the public
    DSIR method, Xie et al. 2023, arXiv:2302.03169): score
    every raw document by how target-like its hashed n-gram profile
    is. Features are word unigrams + bigrams hashed into `n_buckets`;
    the two bucket distributions (target vs raw) get Laplace
    smoothing (alpha = 1), and a document's importance is
    sum over its feature hits of count * ln(p_target / p_raw) —
    positive means "more target-like than the raw pool". Downstream,
    sample-by-importance (weighted_sample_quality / temperature_mix)
    does the actual selection; this op is the weight computation.

    Determinism/oracle contract: buckets are md5-derived (the
    bit-level trick DuckDB mirrors exactly), the per-bucket log-ratio
    is ONE ieee expression rounded to 9 dp, and the per-doc sum runs
    in DECIMAL(38,18) (order-proof) — the source_divergence_matrix
    recipe, so an information-theoretic weight sits under the full
    value-hash gate.

    Scale shape: feature extraction is the one corpus scan (the same
    one-regex-pass machinery as positional shingles); both
    distribution tables are n_buckets rows (broadcast); the per-doc
    aggregate combines map-side. Nothing driver-side, nothing
    pair-shaped. Output: (id, n_features, importance) for every df
    row — featureless docs (NULL/empty text) score 0.0."""
    lam = dsir_lambda(df, target, text_col, id_col, n_buckets)
    scored = dsir_score(df, lam, text_col, id_col, n_buckets)
    return df.select(F.col(id_col)).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_features", F.lit(0).cast("bigint")).alias("n_features"),
        F.coalesce("importance", F.lit(0.0)).alias("importance"),
    )


def _dsir_feats(
    frame: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) feature rows: word uni+bigrams md5-hashed into
    n_buckets — the shared featurizer of the lambda fit and the
    scorer. Window-free (posexplode over one regex pass), so it runs
    unchanged on micro-batches."""
    from .text import positional_shingle_rows

    uni = positional_shingle_rows(frame, text_col, id_col, 1)
    bi = positional_shingle_rows(frame, text_col, id_col, 2)
    return uni.unionAll(bi).select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("bigint") % F.lit(n_buckets)
        ).alias("_b"),
    )


def dsir_lambda(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    include_counts: bool = False,
) -> DataFrame:
    """FIT the DSIR log-ratio table (dsir_weights' fit half):
    (bucket, log-ratio) over n_buckets rows — the broadcastable model
    state. Separated from scoring so the SERVING shape works: fit on
    the (slow-cadence) reference corpora batch-side, score any frame
    — including a STREAM's micro-batches — against the broadcast
    table (q_stream_dsir)."""
    if n_buckets < 1:
        # loud config error, matching bpe_train's num_merges check —
        # n_buckets=0 would otherwise surface as a modulo-by-zero
        # whose behavior differs between ANSI and non-ANSI sessions
        raise ValueError(
            f"dsir_lambda: n_buckets must be >= 1, got {n_buckets}"
        )
    raw_f = _dsir_feats(df, text_col, id_col, n_buckets)
    tgt_f = _dsir_feats(target, text_col, id_col, n_buckets)
    ct = tgt_f.groupBy("_b").agg(F.count(F.lit(1)).alias("_ct"))
    cr = raw_f.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
    tot_t = ct.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_T"))
    tot_r = cr.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_R"))
    extra = (
        # the fitted raw bucket DISTRIBUTION rides along so
        # the persisted model can serve the drift report
        # (dsir_drift) without re-scanning the fit-time pool
        [F.coalesce("_cr", F.lit(0)).cast("bigint").alias("_cr")]
        if include_counts
        else []
    )
    return (
        ct.join(cr, "_b", "full")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "_b",
            F.round(
                F.log(
                    (
                        (F.coalesce("_ct", F.lit(0)).cast("double") + F.lit(1.0))
                        / (F.col("_T").cast("double") + F.lit(float(n_buckets)))
                    )
                    / (
                        (F.coalesce("_cr", F.lit(0)).cast("double") + F.lit(1.0))
                        / (F.col("_R").cast("double") + F.lit(float(n_buckets)))
                    )
                ),
                9,
            ).alias("_lam"),
            *extra,
        )
    )


def dsir_score(
    frame: DataFrame,
    lam: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """SCORE a frame against a fitted DSIR lambda table:
    (id, n_features, importance) for every doc with >= 1 feature —
    featurize, broadcast-join the n_buckets-row table, one map-side-
    combined per-doc decimal sum. On a stream, run it inside
    foreachBatch (q_stream_dsir): the two chained groupBys trip
    Spark's global-watermark correctness guard as a pure streaming
    plan, and batch-mode-per-micro-batch is exact anyway since each
    doc's text arrives in exactly one micro-batch. Docs with NO
    features (NULL/empty text) are ABSENT here — dsir_weights' batch
    wrapper left-joins them back as (0, 0.0); the streaming query
    documents that divergence instead."""
    feats = _dsir_feats(frame, text_col, id_col, n_buckets)
    return (
        feats.groupBy(id_col, "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(lam), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("bigint").alias("n_features"),
            F.round(
                F.sum(
                    F.round(F.col("_n") * F.col("_lam"), 9).cast(
                        "decimal(38,18)"
                    )
                ).cast("double"),
                6,
            ).alias("importance"),
        )
    )


def dsir_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-bucket DSIR feature counts of a frame: (_b, _cr) — the raw
    pool's bucket DISTRIBUTION in count form, the drift report's
    reference side (persisted by the dsir_fit canvas stage alongside
    the log-ratio model). n_buckets rows max; one corpus scan, one
    map-side-combined aggregate."""
    return _dsir_feats(df, text_col, id_col, n_buckets).groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cr")
    )


def dsir_drift(
    raw_counts: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR MODEL-DRIFT report — one row comparing a
    scored batch's feature-bucket distribution against the FITTED raw
    distribution the lambda table was trained on. The dsir_fit /
    dsir_score lifecycle serves a model that ages as the raw pool
    drifts; this row makes "refit needed" observable: jsd_bits is the
    base-2-normalized Jensen–Shannon divergence in [0, 1] between the
    two bucket distributions (0 = the batch looks exactly like the
    fitted pool, rising toward 1 as it drifts away — trend it across
    batches and refit past a threshold).

    Reuses source_divergence_matrix's shared/private closed form and
    its engine-exactness discipline: probabilities are single IEEE
    divisions, each shared bucket's contribution is rounded to 9 dp
    and summed in DECIMAL(38,18) (order-proof), private mass folds in
    as ½·ln2·(2 − P_shared − Q_shared), output rounded to 6 dp — the
    DuckDB oracle replays the sum bit-for-bit.

    Output: (n_buckets, n_raw_features, n_batch_features,
    n_shared_buckets, jsd_bits). Scale shape: one batch scan to
    bucket counts (map-side combined); everything after is
    n_buckets-sized (≤ the model's own broadcast size) — the report
    costs one aggregate on top of the scoring pass."""
    import math

    ln2 = math.log(2.0)
    # support = positive-mass buckets only: a persisted model carries
    # _cr = 0 rows for target-only buckets (dsir_lambda's full join),
    # and p = 0 inside the shared term is 0·ln(0) = NaN
    raw_counts = raw_counts.where(F.col("_cr") > 0)
    bat = dsir_bucket_counts(batch, text_col, id_col, n_buckets).select(
        "_b", F.col("_cr").alias("_cb")
    )
    tr = raw_counts.agg(
        F.coalesce(F.sum("_cr"), F.lit(0)).cast("bigint").alias("_Tr")
    )
    tb = bat.agg(
        F.coalesce(F.sum("_cb"), F.lit(0)).cast("bigint").alias("_Tb")
    )
    pr = raw_counts.crossJoin(F.broadcast(tr)).select(
        "_b",
        (F.col("_cr").cast("double") / F.col("_Tr").cast("double")).alias(
            "p"
        ),
    )
    pb = bat.crossJoin(F.broadcast(tb)).select(
        "_b",
        (F.col("_cb").cast("double") / F.col("_Tb").cast("double")).alias(
            "q"
        ),
    )
    term = F.lit(0.5) * (
        F.col("p") * F.log(F.lit(2.0) * F.col("p") / (F.col("p") + F.col("q")))
        + F.col("q")
        * F.log(F.lit(2.0) * F.col("q") / (F.col("p") + F.col("q")))
    )
    sh = pr.join(F.broadcast(pb), "_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.round(term, 9).cast("decimal(38,18)")).alias("_s"),
        F.sum(F.round(F.col("p"), 9).cast("decimal(38,18)")).alias("_pa"),
        F.sum(F.round(F.col("q"), 9).cast("decimal(38,18)")).alias("_qb"),
    )
    return (
        sh.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tb))
        .select(
            F.lit(n_buckets).cast("int").alias("n_buckets"),
            F.col("_Tr").alias("n_raw_features"),
            F.col("_Tb").alias("n_batch_features"),
            F.coalesce("_n", F.lit(0)).cast("bigint").alias(
                "n_shared_buckets"
            ),
            F.round(
                (
                    F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                    + F.lit(0.5)
                    * F.lit(ln2)
                    * (
                        F.lit(2.0)
                        - F.coalesce(F.col("_pa").cast("double"), F.lit(0.0))
                        - F.coalesce(F.col("_qb").cast("double"), F.lit(0.0))
                    )
                )
                / F.lit(ln2),
                6,
            ).alias("jsd_bits"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    temperature: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR END-TO-END selection — the weights actually
    driving membership, which is the method's whole point (Xie et al.
    2023): dsir_weights' importance scores squashed into a keep
    probability and resolved to a deterministic per-doc keep decision
    with the engine's established hash-walk membership algebra.

    keep_prob = logistic(importance / temperature), rounded to 6 dp —
    the smooth monotone map from an unbounded log-ratio to [0, 1]
    (importance 0, i.e. "as target-like as the raw pool", reads 0.5;
    temperature flattens or sharpens selectivity). kept = the
    weighted_sample rule: hash-bucket(id)/1e6 < keep_prob, so
    membership is a pure function of (id, its own weight) — stable
    across corpus growth, re-runnable, oracle-mirrorable bit for bit
    (the md5 bucket trick). In expectation the kept mass is
    sum(keep_prob), which is how a DSIR recipe budgets its output.

    Output: (id, n_features, importance, keep_prob, kept) for EVERY
    df row — selection downstream is `.where("kept")`, but grading
    the full frame keeps the rejected half under the oracle gate too.

    Scale shape: dsir_weights' one corpus scan + broadcast lambda
    table, then a pure codegen projection — no new shuffle, no sort,
    no driver state."""
    if temperature <= 0:
        raise ValueError(
            f"dsir_select: temperature must be > 0, got {temperature}"
        )
    w = dsir_weights(df, target, text_col, id_col, n_buckets)
    p = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(-F.col("importance") / F.lit(float(temperature)))
        ),
        6,
    )
    u = _hash_bucket(F.col(id_col), seed) / F.lit(float(_HASH_MOD))
    return w.select(
        F.col(id_col),
        "n_features",
        "importance",
        p.alias("keep_prob"),
        (u < p).alias("kept"),
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    temperature: float = 1.0,
    seed: str = "dsirg",
    salt_parts: int = 16,
) -> DataFrame:
    """DSIR sampling WITHOUT replacement — the paper's
    actual resampling scheme (Xie et al. 2023 resamples k documents
    with probability proportional to exp(importance/T)), made
    deterministic with the Gumbel top-k identity: draw
    g_i = -ln(-ln(u_i)) from each doc's own hash (u_i =
    (bucket(seed||id)+0.5)/1e6 — never 0 or 1), rank by
    importance/T + g_i, keep the top k. Gumbel top-k over these keys
    IS proportional-without-replacement sampling, and hashing u_i
    from the id keeps the engine's re-runnable membership contract.

    Determinism/oracle contract: the Gumbel term is rounded to 9 dp,
    the combined key to 6 dp, ranking ties break on id — the same
    rounded-double discipline every graded float op here uses.

    Scale shape: the stratified_sample two-phase salted top-k —
    phase 1 ranks within `salt_parts` hash partitions (each task
    sorts ~n/salt_parts rows) and keeps k per salt; phase 2 ranks the
    <= salt_parts * k survivors. Identical output to a flat global
    sort because the global top-k is contained in the union of
    per-salt top-k. Output: the k selected rows as
    (id, n_features, importance, gumbel_key, rank)."""
    if k < 1:
        raise ValueError(f"dsir_resample: k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(
            f"dsir_resample: temperature must be > 0, got {temperature}"
        )
    w = dsir_weights(df, target, text_col, id_col, n_buckets)
    u = (
        _hash_bucket(F.col(id_col), seed) + F.lit(0.5)
    ) / F.lit(float(_HASH_MOD))
    g = F.round(-F.log(-F.log(u)), 9)
    key = F.round(
        F.col("importance") / F.lit(float(temperature)) + g, 6
    )
    keyed = w.withColumn("gumbel_key", key)
    salt = _hash_bucket(F.col(id_col), seed + "#salt", salt_parts)
    p1 = Window.partitionBy(salt).orderBy(
        F.col("gumbel_key").desc(), F.col(id_col).asc()
    )
    survivors = (
        keyed.withColumn("_rk", F.row_number().over(p1))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    p2 = Window.orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
    return (
        survivors.withColumn("rank", F.row_number().over(p2))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            "n_features",
            "importance",
            "gumbel_key",
            F.col("rank").cast("int").alias("rank"),
        )
    )
