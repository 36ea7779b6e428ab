"""Corpus-analytics reports — the dataset-card numbers a curation run
publishes alongside the data (vocabulary richness, length profile,
cross-source duplication).

Same design rules as the rest of pipeline/: pure built-in expressions,
map-side-combined aggregates, nothing driver-side beyond the final
small report frames, and every expression mirrorable in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_keys(
    df: DataFrame,
    cols: str | list[str],
    min_count: int | None = None,
    min_share: float | None = None,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Hot-key detection — the frequency pass that feeds
    `salted_join(hot_keys=...)` (CLUSTER.md: compute the hot set once
    per pipeline and reuse the broadcast). Returns one row per key
    passing the threshold(s): (cols..., n, share), share = n/total
    rounded to 6 places.

    Exact by default: one hash-groupBy (map-side combined) + a one-row
    total broadcast back onto the per-key counts — the count frame is
    distinct-key-sized, never row-sized. `sample_fraction` switches to
    a seeded Bernoulli sample with counts scaled by 1/fraction — the
    cheap estimate for interactive hot-set discovery at 100 TB (a key
    hot enough to matter for salting is far above any sampling noise
    floor); thresholds then apply to the ESTIMATES, so borderline keys
    can flip — use exact for reproducible pipelines."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    if min_count is None and min_share is None:
        raise ValueError("frequent_keys: pass min_count and/or min_share")
    src = df
    scale = 1.0
    if sample_fraction is not None:
        if not 0 < sample_fraction <= 1:
            raise ValueError(
                f"frequent_keys: sample_fraction must be in (0, 1], got "
                f"{sample_fraction}"
            )
        src = df.sample(fraction=sample_fraction, seed=42)
        scale = 1.0 / sample_fraction
    est = (
        F.count(F.lit(1))  # exact path: never leaves bigint
        if sample_fraction is None
        # round, don't floor: a truncating cast biases every sampled
        # estimate (and the derived shares) downward
        else F.round(F.count(F.lit(1)) * F.lit(scale))
    )
    counts = src.groupBy(*cols).agg(est.cast("bigint").alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    out = counts.crossJoin(F.broadcast(total)).select(
        *cols,
        F.col("n"),
        F.round(F.col("n") / F.col("_tot"), 6).alias("share"),
        (F.col("n") / F.col("_tot")).alias("_raw_share"),
    )
    cond = F.lit(True)
    if min_count is not None:
        cond = cond & (F.col("n") >= F.lit(int(min_count)))
    if min_share is not None:
        cond = cond & (F.col("_raw_share") >= F.lit(float(min_share)))
    return out.filter(cond).drop("_raw_share")


def vocab_stats(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Per-group vocabulary report: docs, token occurrences, distinct
    terms, and type-token ratio (distinct/total — the Heaps-law point
    estimate a corpus card quotes).

    One explode + one groupBy(group): token rows combine map-side into
    per-(group) partials; distinct terms use count_distinct (two-phase
    under the same shuffle)."""
    from .text import term_rows

    toks = term_rows(df, text_col, group_col)
    docs = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    terms = toks.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("term").alias("n_terms"),
    )
    # LEFT join, NULL-SAFE on the group key: a group whose docs
    # produce zero terms (empty texts, scripts outside the ASCII
    # tokenizer) must still appear on the card with n_tokens=0, and
    # the NULL group must match its own term counts (plain equality
    # would zero it out).
    return docs.join(
        terms.withColumnRenamed(group_col, "_tg"),
        docs[group_col].eqNullSafe(F.col("_tg")),
        "left",
    ).select(
        docs[group_col],
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("n_terms", F.lit(0)).cast("bigint").alias("n_terms"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.col("n_terms") / F.col("n_tokens").cast("double"),
        ).alias("type_token_ratio"),
    )


def source_divergence_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    round_terms: int = 9,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source UNIGRAM
    DISTRIBUTIONS — the lexical complement to kmv_overlap_matrix
    (that one estimates exact-document overlap; this one measures
    how differently two sources USE LANGUAGE even when they share no
    document, the signal mixture planning and domain-weighting read).
    Output per unordered source pair: (source_a, source_b,
    n_shared_terms, jsd_bits) with jsd_bits the base-2-normalized
    JSD in [0, 1] (0 = identical distributions, 1 = disjoint
    vocabularies).

    Only SHARED terms are ever joined: for terms private to one side,
    KL(p‖m) contributes p·ln2 exactly, so the private mass folds into
    the closed form jsd = Σ_shared ½(p·ln(2p/(p+q)) + q·ln(2q/(p+q)))
    + ½·ln2·(2 − P_shared − Q_shared) — no outer join, no absent-term
    enumeration. Tokenization is term_rows', shared with
    vocab_stats/top_terms.

    Engine-exactness discipline (the temperature_mix/lm_score
    pattern): probabilities are single IEEE divisions; each term's
    contribution is rounded to `round_terms` decimals and summed in
    DECIMAL(38,18), so addition order cannot matter and the DuckDB
    oracle replays the sum bit-for-bit (both engines apply identical
    rounding — the cross-engine identity holds at any scale; the
    rounding's error vs TRUE JSD is bounded by vocab·5e-10 and sits
    far below the 6 dp output rounding at fixture scales).

    Scale shape: the fact scan ends at the per-(source, term) count
    (map-side combined); everything after is vocabulary-sized. The
    shared-term join produces Σ_term (sources containing term)² rows
    — the df² shape; at thousands of sources, df-prune ubiquitous
    terms first (they carry near-zero JSD signal) or bucket the term
    join. Sources with zero tokens have no distribution and are
    absent (they would make every ratio 0/0)."""
    import math

    from .text import term_rows

    ln2 = math.log(2.0)
    toks = term_rows(df, text_col, group_col)
    counts = toks.groupBy(group_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("c").cast("bigint").alias("_T")
    )
    p = counts.join(F.broadcast(totals), group_col).select(
        F.col(group_col),
        "term",
        (F.col("c").cast("double") / F.col("_T").cast("double")).alias("p"),
    )
    a = p.select(
        F.col(group_col).alias("source_a"), "term", F.col("p").alias("pa")
    )
    b = p.select(
        F.col(group_col).alias("source_b"), "term", F.col("p").alias("pb")
    )
    m2 = F.col("pa") + F.col("pb")
    term_jsd = F.lit(0.5) * (
        F.col("pa") * F.log(F.lit(2.0) * F.col("pa") / m2)
        + F.col("pb") * F.log(F.lit(2.0) * F.col("pb") / m2)
    )
    dec = "decimal(38,18)"
    shared = (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum(F.round(term_jsd, round_terms).cast(dec)).alias("_S"),
            F.sum(F.round(F.col("pa"), round_terms).cast(dec)).alias("_Pa"),
            F.sum(F.round(F.col("pb"), round_terms).cast(dec)).alias("_Pb"),
        )
    )
    srcs = totals.select(F.col(group_col))
    grid = (
        srcs.select(F.col(group_col).alias("source_a"))
        .crossJoin(srcs.select(F.col(group_col).alias("source_b")))
        .where(F.col("source_a") < F.col("source_b"))
    )
    out = grid.join(shared, ["source_a", "source_b"], "left")
    s = F.coalesce(F.col("_S").cast("double"), F.lit(0.0))
    pa_sh = F.coalesce(F.col("_Pa").cast("double"), F.lit(0.0))
    pb_sh = F.coalesce(F.col("_Pb").cast("double"), F.lit(0.0))
    jsd = s + F.lit(0.5 * ln2) * (F.lit(2.0) - pa_sh - pb_sh)
    return out.select(
        "source_a",
        "source_b",
        F.coalesce("n_shared_terms", F.lit(0).cast("bigint")).alias(
            "n_shared_terms"
        ),
        F.round(jsd / F.lit(ln2), 6).alias("jsd_bits"),
    )


def length_histogram(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Log2-binned word-count histogram per group — the length profile
    (bin b holds docs with floor(log2(n_words+1)) == b). Pure
    projection + one groupBy; bins are bounded (~40 for any corpus),
    so the report is tiny regardless of input size."""
    from .text import word_count

    n = word_count(F.col(text_col))
    return (
        df.select(
            F.col(group_col),
            F.floor(F.log2(n + F.lit(1))).cast("int").alias("len_bin"),
        )
        .groupBy(group_col, "len_bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def cross_source_dups(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for each source pair
    (source_a < source_b), how many distinct texts appear in BOTH —
    the dataset-card overlap table that decides which sources to
    dedup against each other first.

    Per text: the distinct source SET (bounded by |sources|, a small
    constant) collects in one groupBy, expands to in-array source
    pairs via double explode, and one count per pair follows. Pairs
    keep their text_hash through the expansion — unlike the dedup
    candidate generator, which distincts pairs globally — because the
    report counts texts PER pair, not mere pair existence."""
    srcs = (
        # NULL texts are contentless, not a shared text (md5(NULL)
        # would otherwise pool them all into one phantom "duplicate")
        df.where(F.col(text_col).isNotNull())
        .select(
            F.md5(F.col(text_col)).alias("text_hash"), F.col(source_col)
        )
        .groupBy("text_hash")
        .agg(F.sort_array(F.collect_set(source_col)).alias("_srcs"))
    )  # collect_set dedups — no pre-distinct shuffle needed
    pairs = (
        srcs.select("text_hash", F.explode("_srcs").alias("source_a"), "_srcs")
        .select("text_hash", "source_a", F.explode("_srcs").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_texts")
    )


def equidepth_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_buckets: int = 10,
    tie_col: str | None = None,
    method: str = "auto",
    exact_max_group_rows: int = 2_000_000,
    accuracy: int = 1_000_000,
) -> DataFrame:
    """Per-group equi-depth histogram: (group, tile, n, lo, hi).

    Two physical strategies:

    - "exact": ntile over a per-group sort — buckets hold exactly-equal
      row counts (ties split deterministically by tie_col). Its
      parallelism is capped by GROUP COUNT (each group is one global
      sort partition), so it cannot scale past a few million rows per
      group.
    - "approx": the scale path and the default above
      exact_max_group_rows. Boundaries come from one pass of
      percentile_approx (Greenwald-Khanna partial-aggregated sketch —
      fully parallel, map-side combined), rows are assigned by static
      boundary comparisons (tile = 1 + #{boundaries < value}; values
      equal to a boundary go to the LOWER bucket), and counts are one
      hash aggregate. Below `accuracy` rows per group the sketch is
      exact and returns the ceil(p*n)-th smallest value — a rank rule
      a SQL oracle reproduces with row_number() — so the approx path
      is value-checkable at test scale while degrading gracefully to
      a true sketch at corpus scale.

    The two strategies agree on bucket COUNTS whenever group values are
    distinct; with heavy ties ntile still equalizes counts (splitting a
    tie across buckets) while interval assignment cannot — the
    documented semantic difference between rank-based and value-based
    bucketing.

    method="auto" runs one count aggregate (metadata-scale: one row
    per group) and picks per the threshold.
    """
    if method not in ("auto", "exact", "approx"):
        raise ValueError(f"equidepth_histogram: unknown method {method!r}")
    if n_buckets < 1:
        # approx would silently emit one bucket (empty boundary list);
        # exact would throw an opaque ntile error at runtime
        raise ValueError(f"equidepth_histogram: n_buckets must be >= 1, got {n_buckets}")
    if method == "auto":
        biggest = (
            df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("m"))
            .collect()[0]["m"]
        )
        method = "exact" if (biggest or 0) <= exact_max_group_rows else "approx"

    if method == "exact":
        from pyspark.sql import Window

        order = [F.col(value_col).asc()]
        if tie_col is not None:
            order.append(F.col(tie_col).asc())
        w = Window.partitionBy(group_col).orderBy(*order)
        tiles = df.select(group_col, value_col, *([tie_col] if tie_col else [])) \
            .withColumn("tile", F.ntile(n_buckets).over(w).cast("int"))
    else:
        probs = [k / n_buckets for k in range(1, n_buckets)]
        bounds = df.groupBy(group_col).agg(
            F.percentile_approx(value_col, probs, accuracy).alias("_b")
        )
        bcols = [F.col("_b")[k].alias(f"_b{k}") for k in range(n_buckets - 1)]
        bounds = bounds.select(group_col, *bcols)
        # NULL-group rows must keep matching their own boundaries: a
        # plain equality join drops the whole NULL group while the
        # exact path's Window keeps it — method='auto' would then flip
        # a group in/out of the report purely by row volume
        joined = df.select(group_col, value_col).join(
            F.broadcast(bounds.withColumnRenamed(group_col, "_bg")),
            F.col(group_col).eqNullSafe(F.col("_bg")),
        ).drop("_bg")
        tile = F.lit(1)
        for k in range(n_buckets - 1):
            tile = tile + F.when(
                F.col(value_col) > F.col(f"_b{k}"), F.lit(1)
            ).otherwise(F.lit(0))
        tiles = joined.withColumn("tile", tile.cast("int"))

    return tiles.groupBy(group_col, "tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    tie_col: str | None = None,
    chunk_sec: int | None = None,
) -> DataFrame:
    """Batch sessionization — the BATCH complement of the streaming
    session window (streaming/binning_stream.py): assign every event a
    per-user session sequence number, where a new session starts when
    the gap from the user's previous event exceeds gap_sec.

    Classic two-window shape: lag() finds each event's predecessor,
    the boundary flag accumulates with a running sum — both windows
    share ONE partitioning (user), so the whole thing is a single
    shuffle; the per-user sort is the inherent cost of ordering a
    user's history and parallelism scales with user count (the
    opposite cap of the per-group-global ntile — user counts are the
    BIG cardinality here). All arithmetic is integer microseconds
    (cross-engine determinism rule), so a DuckDB oracle value-hashes.

    chunk_sec — the HOT-KEY escape hatch. partitionBy(user) puts a
    user's whole history in ONE task; a zipf monster key (measured in
    SCALE.md §skew: 53M events on one user = 7.3x the uniform wall,
    one task sorting while 31 idle) caps parallelism at 1. chunk_sec
    sub-partitions each user's events into fixed time chunks
    (e.g. 86400 = day): boundaries are computed within (user, chunk) —
    per-task sort bounded by events-per-user-per-chunk — and stitched
    exactly through a per-(user, chunk) summary frame (first/last
    event time + inner-boundary count; users x chunks rows, tiny)
    whose own window carries the cross-chunk session offsets. The
    output is BYTE-IDENTICAL to the unchunked path (pytest-equal,
    incl. sessions spanning chunk boundaries and empty chunks):
    an event at a chunk's start opens a new session iff the gap from
    the PREVIOUS NON-EMPTY chunk's last event exceeds gap_sec, exactly
    the lag() rule. Cost: one extra small window + a co-partitioned
    join — worth it only under real key skew. The summary branch
    collect_lists every (user, chunk) timestamp into ONE aggregation
    buffer, so chunk_sec must bound events-per-user-per-chunk to what
    a task's memory holds (a 53M-event user in one chunk is the
    window path's problem all over again) — pick a chunk well under
    hot-key burst density; see CLUSTER.md."""
    from pyspark.sql import Window

    if gap_sec <= 0:
        raise ValueError(f"sessionize: gap_sec must be > 0, got {gap_sec}")
    if chunk_sec is not None and chunk_sec <= 0:
        # chunk 0 divides by zero: NULL chunks (every event one chunk)
        # under non-ANSI, a runtime error under Spark 4's ANSI default
        raise ValueError(f"sessionize: chunk_sec must be > 0, got {chunk_sec}")
    reserved = {"_us", "_ck", "_b", "_bi", "_first_in_ck", "session_seq"}
    clash = reserved & set(df.columns)
    if clash - {"session_seq"} or "session_seq" in df.columns:
        # withColumn would silently overwrite caller data with the
        # helper values and the restore-select would return garbage
        raise ValueError(
            f"sessionize: input carries reserved column(s) {sorted(clash)}"
            " — rename them"
        )
    us = F.unix_micros(F.col(ts_col))
    order = [us.asc()] + ([F.col(tie_col).asc()] if tie_col else [])
    gap_us = F.lit(int(gap_sec) * 1_000_000)
    if chunk_sec is None:
        w = Window.partitionBy(user_col).orderBy(*order)
        prev = F.lag(us).over(w)
        boundary = (prev.isNull() | ((us - prev) > gap_us)).cast("int")
        running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return df.withColumn("_b", boundary).withColumn(
            "session_seq", F.sum("_b").over(running).cast("int")
        ).drop("_b")

    chunk = F.floor(us / F.lit(int(chunk_sec) * 1_000_000))
    # One explicit exchange on (user, chunk): the per-event window
    # consumes the partitioning directly (adds only a sort), the
    # summary aggregates pre-partitioned rows without a second
    # exchange, and the final join is co-partitioned on (user, chunk)
    # — no further shuffles. The summary branch DOES re-execute the
    # source, but Catalyst column-prunes it to the two/three columns
    # the boundary count needs (asserted in tests/test_plans.py::
    # test_sessionize_chunked_summary_scan_is_narrow) — a narrow
    # columnar re-scan, not a second pass over full-width rows (the
    # previous window-derived summary re-ran the whole windowed
    # subtree: full scan + full-width exchange + a second sort).
    base = df.withColumn("_us", us).withColumn("_ck", chunk).repartition(
        F.col(user_col), F.col("_ck")
    )
    w_ck = Window.partitionBy(user_col, "_ck").orderBy(*order)
    prev_in = F.lag(F.col("_us")).over(w_ck)
    # inner boundary: non-first events of a chunk only; the chunk's
    # first event is decided by the summary join below
    b_inner = (
        prev_in.isNotNull() & ((F.col("_us") - prev_in) > gap_us)
    ).cast("int")
    ev = base.withColumn("_bi", b_inner).withColumn(
        "_first_in_ck", prev_in.isNull().cast("int")
    )
    # summary WITHOUT the window: boundary COUNT needs only the sorted
    # timestamp multiset (tie order is irrelevant — equal timestamps
    # have gap 0), so a sorted-array fold over the same partitioned
    # base avoids re-deriving the windowed frame for the second branch
    summary = base.groupBy(user_col, "_ck").agg(
        F.min("_us").alias("_first_us"),
        F.max("_us").alias("_last_us"),
        F.collect_list(F.col("_us")).alias("_tss"),
    ).select(
        user_col, "_ck", "_first_us", "_last_us",
        F.aggregate(
            F.array_sort(F.col("_tss")),
            F.struct(
                F.lit(None).cast("long").alias("prev"), F.lit(0).alias("cnt")
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                (
                    acc["cnt"]
                    + F.when(
                        acc["prev"].isNotNull() & ((x - acc["prev"]) > gap_us),
                        1,
                    ).otherwise(0)
                ).alias("cnt"),
            ),
        )["cnt"].alias("_n_inner"),
    )
    w_sum = Window.partitionBy(user_col).orderBy(F.col("_ck").asc())
    prev_last = F.lag(F.col("_last_us")).over(w_sum)  # previous NON-EMPTY chunk
    first_b = (
        prev_last.isNull() | ((F.col("_first_us") - prev_last) > gap_us)
    ).cast("int")
    n_bounds = F.col("_n_inner") + first_b
    offset = (
        F.sum(n_bounds).over(
            w_sum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - n_bounds
    )
    summary = summary.select(
        user_col, "_ck", first_b.alias("_first_b"), offset.alias("_off")
    )
    run_ck = w_ck.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        ev.join(summary, [user_col, "_ck"])
        .withColumn(
            "_b",
            F.when(F.col("_first_in_ck") == 1, F.col("_first_b")).otherwise(
                F.col("_bi")
            ),
        )
        .withColumn(
            "session_seq",
            (F.col("_off") + F.sum("_b").over(run_ck)).cast("int"),
        )
    )
    # the join put its keys first; restore the caller's column order so
    # both paths return identically-shaped frames
    return out.select(*df.columns, "session_seq")


def _funnel_times_chained(
    df: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    window_sec: int | None,
) -> DataFrame:
    """Reference implementation of the chained step times: one
    groupBy(user) pass per step (all on the SAME key, so the shuffle
    partitioning is shared/reused), each a conditional MIN against the
    previous chained time. k full scans of the events frame for a
    k-step funnel — kept as the semantic cross-check for the
    single-shuffle array path (pytest asserts they agree); the
    'array' method is the default execution path."""
    us = F.unix_micros(F.col(ts_col))
    times = df.groupBy(user_col).agg(
        F.min(F.when(F.col(type_col) == steps[0], us)).alias("_s0")
    )
    for i, s in enumerate(steps[1:], start=1):
        ev = df.select(user_col, type_col, us.alias("_us"))
        # a REPEATED step compares strictly (>): with >= the single
        # event that anchored step i-1 would satisfy step i too (one
        # 'view' completing a view->view funnel). Distinct consecutive
        # steps keep >= — same-timestamp progress across different
        # event types is the conventional funnel reading. Two same-type
        # events at an identical timestamp therefore do NOT chain;
        # use a higher-resolution ts if that matters.
        _cmp = (
            (F.col("_us") > F.col(f"_s{i-1}"))
            if s == steps[i - 1]
            else (F.col("_us") >= F.col(f"_s{i-1}"))
        )
        _step_cond = (
            (F.col(type_col) == s)
            & F.col(f"_s{i-1}").isNotNull()
            & _cmp
        )
        if window_sec is not None:
            _step_cond = _step_cond & (
                F.col("_us") - F.col(f"_s{i-1}")
                <= F.lit(int(window_sec) * 1_000_000)
            )
        times = (
            ev.join(times, user_col)
            # group on the USER KEY ONLY — earlier step times are
            # constant per user after the join, so min() carries them
            # deterministically and every step's aggregation shares
            # the same hashpartitioning(user) (a growing composite
            # grouping key would force a fresh shuffle per step).
            .groupBy(user_col)
            .agg(
                *[F.min(f"_s{j}").alias(f"_s{j}") for j in range(i)],
                F.min(
                    F.when(_step_cond, F.col("_us"))
                ).alias(f"_s{i}"),
            )
        )
    return times


def _funnel_times_fold(
    df: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    make_upd,
) -> DataFrame:
    """Shared single-shuffle fold plumbing for the array funnel paths:
    ONE groupBy(user) collects each user's (ts, step_idx) events into
    a sorted array, then a left-to-right `aggregate` fold fills the
    k-slot chain vector — the update rule is the only thing the
    first-touch and restart variants disagree on, so it is the only
    injected piece (make_upd(acc, x) -> (t, i) -> Column). Per-user
    state is one array<long> of length k; the fold runs inside the
    post-aggregation projection, JVM-side, no UDFs. Memory: a user's
    full filtered event list is collected into one array — bounded by
    the user's step-event count (the same per-user cardinality
    sessionize sorts; see SCALE.md §skew for the monster-key bound)."""
    k = len(steps)
    us = F.unix_micros(F.col(ts_col))
    step_idx = (
        F.array_position(F.array(*[F.lit(s) for s in steps]), F.col(type_col))
        - 1
    ).cast("int")
    ev = df.filter(F.col(type_col).isin(list(steps))).select(
        F.col(user_col), us.alias("_us"), step_idx.alias("_si")
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("_us").alias("ts"), F.col("_si").alias("si")))
    )
    init = F.array_repeat(F.lit(None).cast("long"), k)
    chained = F.aggregate(arr, init, lambda acc, x: F.transform(acc, make_upd(acc, x)))
    return ev.groupBy(user_col).agg(chained.alias("_chain")).select(
        F.col(user_col), *[F.get("_chain", i).alias(f"_s{i}") for i in range(k)]
    )


def _funnel_times_array(
    df: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    window_sec: int | None,
) -> DataFrame:
    """Single-shuffle FIRST-TOUCH chained step times — wall time
    independent of step count (the chained path scans the events frame
    once PER step).

    The fold reproduces the chained-min semantics exactly: events
    process in (ts, step_idx) order, so by the time any event with
    ts > t processes, every chain slot settable at time <= t already
    holds its final (minimal) value; the step_idx tie-break makes a
    same-instant step sequence (step0 and step1 at the identical ts)
    chain through, matching the `>=` comparison of the reference
    path."""
    win_us = None if window_sec is None else int(window_sec) * 1_000_000

    def make_upd(acc, x):
        def upd(t, i):
            prev = F.get(acc, i - F.lit(1))  # NULL when i == 0 (0-indexed get)
            in_window = (
                F.lit(True)
                if win_us is None
                else (x["ts"] - prev <= F.lit(win_us))
            )
            ok_prev = F.when(i == F.lit(0), F.lit(True)).otherwise(
                prev.isNotNull() & (x["ts"] >= prev) & in_window
            )
            return F.when(t.isNotNull(), t).when((x["si"] == i) & ok_prev, x["ts"])

        return upd

    return _funnel_times_fold(df, steps, user_col, type_col, ts_col, make_upd)


def _funnel_times_restart(
    df: DataFrame,
    steps: list[str],
    user_col: str,
    type_col: str,
    ts_col: str,
    window_sec: int,
) -> DataFrame:
    """Restart-capable (Amplitude-style) chained step times: a user
    reaches step i iff SOME event subsequence steps[0..i] exists with
    every consecutive gap in [0, window]. Same single-shuffle fold as
    the first-touch path, different update rule — each slot keeps the
    LATEST completion time instead of the earliest: events arrive in
    time order, so a later chain-of-length-i completion weakly
    dominates an earlier one for every future extension (the >=
    comparison still holds and the gap can only shrink), which makes
    latest-only state complete — the greedy is exact, proven against
    an O(n²k) interval-DP reference in pytest. Slots are never unset,
    so final non-null == ever-reached."""
    win_us = int(window_sec) * 1_000_000

    def make_upd(acc, x):
        def upd(t, i):
            prev = F.get(acc, i - F.lit(1))
            return (
                F.when((x["si"] == i) & (i == F.lit(0)), x["ts"])
                .when(
                    (x["si"] == i)
                    & prev.isNotNull()
                    & (x["ts"] >= prev)
                    & (x["ts"] - prev <= F.lit(win_us)),
                    x["ts"],
                )
                .otherwise(t)
            )

        return upd

    return _funnel_times_fold(df, steps, user_col, type_col, ts_col, make_upd)


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    window_sec: int | None = None,
    method: str = "auto",
    restart: bool = False,
) -> DataFrame:
    """Ordered-funnel analysis: per user, the earliest time each step
    can complete GIVEN the previous step already happened (first
    `steps[0]`, then the first `steps[1]` at-or-after it, ...), then
    one row per step with the users-reaching count and conversion
    rate from the previous step. window_sec bounds each step-to-step
    gap (the "converted within 24h" shape): a later occurrence outside
    the window does NOT count, and the chain for that user stops.

    Default semantics are FIRST-TOUCH / NO-RESTART: each step anchors
    on the EARLIEST qualifying occurrence and the chain never
    re-anchors on a later occurrence of an earlier step — a user whose
    only in-window conversion starts from a second occurrence of step
    i is NOT counted. `restart=True` (requires window_sec, distinct
    steps) switches to the Amplitude-style RESTART definition: a user
    reaches step i iff ANY event subsequence completes steps[0..i]
    with every gap inside the window — counts >= the first-touch
    numbers by construction (pytest-pinned).

    method='array': single shuffle — per-user sorted event array + one
    fold, wall time independent of step count, but the per-user event
    list must fit one task (a zipf hot user holding tens of millions
    of step events overflows the collect_list group — measured in
    SCALE.md §skew).
    method='chained': k-pass conditional-MIN (one events scan per
    step, all on a shared user partitioning) — step-linear but
    hot-key-robust (plain min aggregations, map-side combined).
    method='auto' (default): a STATIC rule — 'array' for long funnels
    (>= 5 steps, where the k-pass cost dominates: measured 35.5 s vs
    21.7 s at 8 steps / 100M rows), 'chained' for short ones (3-step:
    11.4 s vs 16.9 s at the same scale) — chosen at plan time, no
    pre-scan, so the operator stays a pure lazy transform.

    Either way the final per-step rollup explodes ONE global counts
    row into the step rows (a union of per-step selects would
    re-execute the whole chain N times). Integer-microsecond
    comparisons only (cross-engine exact).
    """
    if not steps:
        raise ValueError("funnel: need at least one step")
    if window_sec is not None and window_sec <= 0:
        raise ValueError(f"funnel: window_sec must be positive, got {window_sec}")
    if method not in ("auto", "array", "chained"):
        raise ValueError(
            f"funnel: unknown method {method!r} (auto|array|chained)"
        )
    if restart:
        # without a window, an in-order subsequence exists iff the
        # earliest-greedy chain finds one — restart adds nothing, so
        # requiring window_sec keeps the flag meaningful
        if window_sec is None:
            raise ValueError("funnel: restart=True requires window_sec")
        if len(set(steps)) != len(steps):
            raise ValueError(
                "funnel: restart=True needs distinct step types (the "
                "fold maps each event to one step index)"
            )
        if method != "auto":
            # restart has exactly ONE execution path (the array fold);
            # silently honoring method='chained' would hand a user the
            # hot-key-fragile path they explicitly tried to avoid
            raise ValueError(
                "funnel: restart=True has a single (array-fold) "
                "execution path; leave method='auto'"
            )
        times = _funnel_times_restart(
            df, steps, user_col, type_col, ts_col, window_sec
        )
    else:
        if method == "auto":
            method = "array" if len(steps) >= 5 else "chained"
        if method == "array" and len(set(steps)) != len(steps):
            # the array fold maps each event to ONE step index
            # (array_position = first match), so a repeated step type
            # (["signup","view","signup"]) needs the per-step passes
            method = "chained"
        if method == "array":
            times = _funnel_times_array(
                df, steps, user_col, type_col, ts_col, window_sec
            )
        else:
            times = _funnel_times_chained(
                df, steps, user_col, type_col, ts_col, window_sec
            )
    return funnel_report(times, steps)


def funnel_report(times: DataFrame, steps: list[str]) -> DataFrame:
    """Final rollup shared by every funnel producer (batch chained/
    array/restart paths AND the streaming stateful chain): `times`
    holds one row per user with nullable step-completion columns
    `_s0.._s{k-1}`; the report is one global counts aggregate exploded
    into per-step rows with the conversion-from-previous rate
    (matching the oracle's contract). ONE counts row exploded
    into the step rows — a union of N selects over `counts` would
    re-execute the whole upstream chain N times (each union branch is
    its own subtree)."""
    counts = times.agg(
        *[
            F.count(F.col(f"_s{i}")).cast("bigint").alias(f"_n{i}")
            for i in range(len(steps))
        ]
    )
    step_rows = []
    for i, s in enumerate(steps):
        prev_n = F.col(f"_n{i-1}") if i else F.col(f"_n{i}")
        step_rows.append(
            F.struct(
                F.lit(i + 1).cast("int").alias("step"),
                F.lit(s).alias("event_type"),
                F.col(f"_n{i}").alias("n_users"),
                F.when(
                    prev_n > 0,
                    F.round(
                        F.col(f"_n{i}").cast("double") / prev_n.cast("double"),
                        6,
                    ),
                )
                .otherwise(F.lit(None).cast("double"))
                .alias("conversion"),
            )
        )
    return counts.select(
        F.explode(F.array(*step_rows)).alias("_r")
    ).select("_r.*")


def event_transitions(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    tie_col: str,
    start_label: str = "__start__",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: one row per (prev_type, event_type) with the pair
    count, the outgoing total from prev_type, and the transition
    probability. Each key's first event transitions from
    `start_label`, so outgoing probabilities sum to 1 for every
    prev_type including the start state.

    One hash exchange on the key feeds the lag window; the pair count
    is a map-side-combined groupBy and the outgoing totals come from a
    second tiny aggregate (one row per type) joined back by broadcast
    — type cardinality is vocabulary-sized, never row-scaled. `prob`
    is a single IEEE division of two exact bigints, so it is
    hash-comparable cross-engine without rounding.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts_col, tie_col)
    pairs = (
        # row_number (not lag-IS-NULL) decides "first event": a
        # mid-sequence predecessor whose TYPE is NULL must keep its
        # NULL label, not masquerade as start_label
        df.select(
            F.when(
                F.row_number().over(w) == 1, F.lit(start_label)
            ).otherwise(F.lag(type_col).over(w)).alias("prev_type"),
            F.col(type_col).alias("event_type"),
        )
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(
        F.sum("n").alias("total_from_prev")
    )
    # NULL-SAFE join: a NULL prev_type (mid-sequence NULL-typed
    # predecessor) must match its own outgoing total, not vanish
    return pairs.join(
        F.broadcast(totals.withColumnRenamed("prev_type", "_pt")),
        F.col("prev_type").eqNullSafe(F.col("_pt")),
    ).select(
        "prev_type",
        "event_type",
        "n",
        "total_from_prev",
        (F.col("n") / F.col("total_from_prev")).alias("prob"),
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Rolling engagement report: for every calendar day PRESENT in the
    data, the distinct users active that day (dau) and the distinct
    users active in the trailing `window_days` days ending that day
    (rolling_users — the 7-day-active / WAU shape). Days with no
    events produce no row (a gap-filled grid is resample_gapfill's
    job).

    Scale design — the trailing-distinct is NOT a range self-join and
    NOT a giant per-day window. (1) collapse events to DISTINCT
    (user, day) pairs (one map-side-combined exchange; output is
    bounded by users x active-days, orders of magnitude under the
    event count); (2) fan each pair out to the `window_days` report
    days it covers (sequence + explode, zero shuffle); (3) count
    DISTINCT users per covered day (the second exchange). Fan-out
    factor = window_days — at 100 TB the shuffled volume is
    window_days x |user-day pairs|, independent of event count.
    Covered days beyond the data's span are clipped by the semi-join
    back onto observed days, so the report never invents days.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    du = df.select(
        F.col(user_col).alias("u"), F.to_date(F.col(ts_col)).alias("d")
    ).distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    cover = du.select(
        "u",
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), window_days - 1)
            )
        ).alias("day"),
    )
    rolled = (
        cover.groupBy("day")
        .agg(F.count_distinct(F.col("u")).cast("bigint").alias("rolling_users"))
    )
    return (
        dau.join(rolled, dau["d"] == rolled["day"])
        .select(
            F.col("d").alias("day"),
            "dau",
            "rolling_users",
        )
    )
