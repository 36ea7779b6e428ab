"""Mergeable distributed sketches: HyperLogLog distinct counting and
count-min frequency estimation.

Why sketches at 100 TB: an exact `count(distinct k)` or exact per-key
frequency over 10^12 rows shuffles every distinct key; a sketch
shuffles a FIXED-size state per group (64 registers / d*w cells) that
merges associatively, so partial sketches combine map-side and across
days/sources/partitions without ever re-reading data. Both sketches
here are built from the cross-engine md5->60-bit-bigint hash
(the `splits.py` discipline: Spark `conv(substr(md5(x),1,15),16,10)`
== DuckDB `('0x'||substr(md5(x),1,15))::BIGINT` bit-for-bit) and all
estimate math is integer-exact until ONE IEEE-754 division, so the
DuckDB oracle reproduces every estimate bit-identically — an
*approximate* algorithm with an *exact* correctness gate.

No counterpart in the reference (its closest is the exact downstream
counter at `aces-nifi-processors/src/main/java/net/acesinc/nifi/
processors/counter/DataBinningProcessor.java:333-344`); this is the
north-star extension surface (BASELINE.json: corpus statistics at
scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- shared 60-bit cross-engine hash ------------------------------------


def _h60(col: Column, seed: str) -> Column:
    """60-bit uniform hash of col's string form, bit-identical in
    DuckDB (see module doc). 15 hex chars = 60 bits, fits signed 64.

    Cost note (measured, sf0.1 melt of 3M values): md5 itself is ~free
    inside the scan; the hex->decimal `conv` parse roughly doubles the
    hash cost. That is the price of the cross-engine oracle identity —
    a production deployment swaps this one expression for
    F.xxhash64(seed, col) (same 64-bit downstream math, ~2x faster,
    no DuckDB mirror). Linear, scan-stage, never shuffled."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


# --- HyperLogLog ---------------------------------------------------------

# Flajolet et al. 2007 bias constants by precision p (m = 2^p):
# tabulated for small m, 0.7213/(1 + 1.079/m) beyond. Standard error
# is ~1.04/sqrt(m): p=6 -> 13%, p=10 -> 3.3%, p=14 -> 0.8% (state is
# 2^p rows per group — pick the cheapest p whose error you can live
# with). p is capped at 16 so the rho field keeps >= 44 bits: the
# probability any register sees an all-zero remainder stays
# negligible and the estimate math stays within exact-bigint range.
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def _alpha(p: int) -> float:
    if not 4 <= p <= 16:
        raise ValueError(f"hll: p must be in [4, 16], got {p}")
    m = 1 << p
    return _HLL_ALPHA.get(p, 0.7213 / (1 + 1.079 / m))


def hll_sketch(
    df: DataFrame,
    key: str,
    groups: list[str] | None = None,
    p: int = 6,
    seed: str = "hll:",
) -> DataFrame:
    """Per-group HLL register state: (groups..., reg, r) with r =
    max over keys of rho(key) — rho is 1 + the number of leading
    zeros of the hash remainder in its (60-p)-bit field, computed
    EXACTLY via the binary-string length (no floating log2, so no
    boundary drift between engines).

    The state is the sketch: m = 2^p rows per group at most,
    regardless of input size — ONE map-side-combined hash aggregate,
    the only shuffle keyed by (groups, reg). Merging sketches (across
    days, sources, or a re-group to coarser keys) is the SAME
    `groupBy(...).agg(max(r))`, which is why this scales: daily
    sketches of a 100 TB corpus union + re-max in milliseconds.
    """
    _alpha(p)  # validates the precision range
    groups = list(groups or [])
    m = 1 << p
    wbits = 60 - p
    h = _h60(F.col(key), seed)
    # m is a power of two, so div/mod are shift/mask — INTEGER ops;
    # `h / m` would be a double division and h > 2^53 rounds.
    reg = h.bitwiseAND(F.lit(m - 1)).alias("reg")
    w = F.shiftright(h, p)
    # bin(w) has no leading zeros: length = floor(log2 w)+1 for w>0.
    rho = F.when(w > 0, F.lit(wbits + 1) - F.length(F.bin(w))).otherwise(
        F.lit(wbits + 1)
    )
    return (
        # NULL keys are ignored (count-distinct semantics); without the
        # filter a NULL hash would land a bogus reg=NULL state row.
        df.where(F.col(key).isNotNull())
        .select(*groups, reg, rho.alias("rho"))
        .groupBy(*groups, "reg")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge(
    sketch: DataFrame, groups: list[str] | None = None
) -> DataFrame:
    """Merge register states to coarser groups (or to one global
    sketch with groups=[]): registers combine by max — associative,
    commutative, idempotent, so re-merging or replaying is safe."""
    groups = list(groups or [])
    return sketch.groupBy(*groups, "reg").agg(F.max("r").alias("r"))


def hll_estimate(
    sketch: DataFrame,
    groups: list[str] | None = None,
    p: int = 6,
) -> DataFrame:
    """Distinct-count estimate from a register state: the raw HLL
    formula est = alpha_m * m^2 / sum_j 2^(-M_j), with empty
    registers contributing 2^0 = 1.

    Exactness: the harmonic denominator is computed as an INTEGER —
    sum of 2^(wbits+1-r) (so the implicit scale 2^(wbits+1) cancels
    in one final division) — because a float sum of powers of two is
    order-dependent past 53 bits of spread, and shuffle order differs
    between engines. The only float ops are three literal multiplies
    and one division, IEEE-identical everywhere. The raw formula is
    used unconditionally (no linear-counting small-range branch): the
    raw formula is accurate for n > ~2.5*m and biased HIGH below that
    (the regime linear counting would normally serve) — callers
    counting small groups should read `regs_hit` (well below m ⇒
    small-range regime) and pick a smaller p or an exact count; the
    branch-free form keeps the oracle a pure expression.
    Output: (groups..., regs_hit, est_distinct rounded to 6 dp).
    """
    groups = list(groups or [])
    m = 1 << p
    top = 60 - p + 1  # rho of an all-zero remainder; also empty-reg weight exponent
    # SQL shiftleft takes a column shift; the PySpark wrapper doesn't.
    term = F.expr(f"shiftleft(cast(1 as bigint), {top} - r)")
    agg = sketch.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("regs_hit"),
        F.sum(term).alias("_s"),
    )
    # empty registers: rho = 0 => term = 2^top each
    s_full = F.col("_s") + (F.lit(m) - F.col("regs_hit")) * F.shiftleft(
        F.lit(1).cast("long"), top
    )
    est = (
        F.lit(_alpha(p))
        * F.lit(float(m * m))
        * F.lit(float(1 << top))
        / s_full.cast("double")
    )
    # lazy mismatch guard: a sketch built at a HIGHER p than the
    # estimate's has > m register rows per group — without the check
    # (m - regs_hit) goes negative and the estimate is silent garbage.
    # (The opposite mismatch — sketch p lower than estimate p — is
    # indistinguishable from a small-range sketch and stays the
    # caller's contract: pass the SAME p to sketch and estimate.)
    regs_checked = F.when(
        F.col("regs_hit") > m,
        F.raise_error(
            F.concat(
                F.lit(
                    f"hll_estimate: group has more than {m} registers — "
                    f"the sketch was built with a higher p than p={p}; "
                    "pass the build-time p"
                )
            )
        ).cast("long"),
    ).otherwise(F.col("regs_hit"))
    return agg.select(
        *groups,
        regs_checked.cast("bigint").alias("regs_hit"),
        # an empty GLOBAL sketch aggregates to one row with sum=NULL;
        # the true answer there is 0, not NULL (and not alpha*m)
        F.when(F.col("regs_hit") == 0, F.lit(0.0))
        .otherwise(F.round(est, 6))
        .alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    key: str,
    groups: list[str] | None = None,
    p: int = 6,
    seed: str = "hll:",
) -> DataFrame:
    """sketch + estimate in one call (the common batch path)."""
    return hll_estimate(hll_sketch(df, key, groups, p, seed), groups, p)


# --- count-min sketch ----------------------------------------------------


def cms_build(
    df: DataFrame,
    key: str,
    d: int = 4,
    w: int = 512,
    seed: str = "cms:",
) -> DataFrame:
    """Count-min state: (row, col, cnt) for d independent hash rows of
    width w — at most d*w cells regardless of input size. One scan:
    the d cell coordinates explode from an inline array (input rows
    x d, map-side combined before the single (row, col) shuffle).
    Merging two sketches (days, sources) is groupBy(row, col).sum —
    see cms_merge."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (_h60(F.col(key), f"{seed}{i}:") % w).alias("col"),
            )
            for i in range(d)
        ]
    )
    return (
        df.where(F.col(key).isNotNull())  # NULL keys don't count
        .select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Combine count-min states cell-wise (counts are additive)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    d: int = 4,
    w: int = 512,
    seed: str = "cms:",
) -> DataFrame:
    """Frequency estimate for each key in `keys`: min over the d cells
    the key hashes to. Guaranteed >= the true count (cells only ever
    over-count via collisions) — PROVIDED d, w, and seed match the
    build call exactly: a mismatch re-hashes probes into cells the
    build never wrote, the left join misses, and the estimate silently
    collapses to 0 (an absent (row,col) cell is legitimately zero for
    never-inserted keys, so a mismatch is undetectable data-side —
    the parameters are the contract). The sketch side is <= d*w rows, so
    Catalyst broadcasts it onto the key frame — estimating any number
    of keys is one broadcast join, no shuffle of the key frame."""
    probes = keys.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (_h60(F.col(key), f"{seed}{i}:") % w).alias("col"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("c"),
    ).select(key, "c.row", "c.col")
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est"))
    )


def hll_union_intersection(
    sketch_a: DataFrame, sketch_b: DataFrame, p: int = 6
) -> DataFrame:
    """Set algebra on two GLOBAL register states (columns reg, r):
    one row (est_a, est_b, est_union, est_intersection) — union is the
    exact register max-merge; intersection is inclusion-exclusion
    (est_a + est_b - est_union), the standard HLL composition. Error
    on the intersection grows with |union|/|intersection| (documented
    HLL behavior — use a higher p when intersecting skewed sizes).
    All arithmetic happens on three deterministic estimates, so the
    result is as oracle-stable as the estimates themselves.
    """
    a = hll_estimate(sketch_a, [], p).select(
        F.col("est_distinct").alias("est_a")
    )
    b = hll_estimate(sketch_b, [], p).select(
        F.col("est_distinct").alias("est_b")
    )
    u = hll_estimate(hll_merge(sketch_a.unionByName(sketch_b), []), [], p).select(
        F.col("est_distinct").alias("est_union")
    )
    return (
        a.crossJoin(b)
        .crossJoin(u)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                    F.lit(0.0),
                ),
                6,
            ).alias("est_intersection"),
        )
    )


def approx_distinct_profile(
    df: DataFrame, cols: list[str], p: int = 6, seed: str = "hll:"
) -> DataFrame:
    """Distinct-cardinality profile of many columns in ONE pass: melt
    (column_name, value-as-string) inside the scan — an expression
    explode, no pre-shuffle — then one grouped HLL whose only exchange
    carries <= len(cols) * 2^p register rows. The at-scale shape of
    'how many distincts does every column have' (exact profiling
    shuffles every distinct value of every column; this ships a
    fixed-size state per column). NULLs are ignored per count-distinct
    semantics. Output: (column, regs_hit, est_distinct)."""
    from ..sources.registry import ensure_fanout_parallelism

    # the melt multiplies rows by len(cols) and every value
    # pays an md5+conv hash — fan-out floor (no-op at scale)
    df = ensure_fanout_parallelism(df.select(*cols))
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("m")
    ).select("m.column", "m.v")
    return hll_distinct(melted, "v", ["column"], p, seed)


# --- KMV (bottom-k / theta) distinct sketch ------------------------------
# Bar-Yossef et al. 2002 / theta-sketch family: the k smallest distinct
# 60-bit hashes of a set. Complements HLL: same mergeability, but the
# state is an actual uniform SAMPLE of the key space, so two sketches
# support direct Jaccard / intersection estimation (HLL only gets
# intersections via inclusion-exclusion, whose error explodes when
# |intersection| << |union|).


def _bottom_k_distinct(
    hashed: DataFrame, groups: list[str], k: int
) -> DataFrame:
    """Shared bottom-k-distinct trim (sketch build AND merge use the
    SAME discipline, so they cannot drift): dedup hashes with a
    map-side-partial hash aggregate, then a rank-limit window Spark
    pre-trims with WindowGroupLimit — at most k rows cross the final
    exchange per (map task, group)."""
    from pyspark.sql import Window

    dedup = (
        hashed.groupBy(*groups, "h")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    w = Window.partitionBy(*groups).orderBy("h") if groups else (
        Window.partitionBy().orderBy("h")
    )
    return (
        dedup.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_sketch(
    df: DataFrame,
    key: str,
    groups: list[str] | None = None,
    k: int = 64,
    seed: str = "kmv:",
) -> DataFrame:
    """Per-group bottom-k distinct-hash state: (groups..., h), at most
    k rows per group. Two exchanges, both narrow: (1) the dedup
    aggregate shuffles 8-byte hashes (map-side partially deduped — the
    line-dedup discipline: never the keys themselves), (2) the rank
    window shuffles at most k rows per (map task, group) because Spark
    plans rank-limit windows with a partial WindowGroupLimit below the
    exchange. Hash collisions merge distinct keys at ~n^2/2^61 — the
    same contract every other sketch here accepts."""
    if k < 2:
        raise ValueError(f"kmv: k must be >= 2, got {k}")
    groups = list(groups or [])
    hashed = df.where(F.col(key).isNotNull()).select(
        *groups, _h60(F.col(key), seed).alias("h")
    )
    return _bottom_k_distinct(hashed, groups, k)


def kmv_merge(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    groups: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """Union two bottom-k states and re-trim: dedup by hash (the same
    key appears in both sides' samples), rank, keep k. Associative and
    idempotent, so day/source sketches fold in any order; every frame
    involved is <= k rows per group."""
    if k < 2:
        raise ValueError(f"kmv: k must be >= 2, got {k}")
    groups = list(groups or [])
    return _bottom_k_distinct(sketch_a.unionByName(sketch_b), groups, k)


def kmv_estimate(
    sketch: DataFrame,
    groups: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """Distinct estimate from a bottom-k state. Saturated groups
    (n_hashes == k) use the classic unbiased (k-1) * 2^60 / h_(k)
    — h_(k) is just max(h) over the k-row state; unsaturated groups
    hold EVERY distinct hash, so the estimate is the exact count. All
    inputs to the one double division are integers; the two float
    literal factors ((k-1) and 2^60) are exactly representable, so the
    estimate is bit-identical cross-engine. Output: (groups...,
    n_hashes, est_distinct)."""
    groups = list(groups or [])
    agg = sketch.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
        F.max("h").alias("_hk"),
    )
    est = (
        F.lit(float(k - 1))
        * F.lit(float(1 << 60))
        / F.col("_hk").cast("double")
    )
    return agg.select(
        *groups,
        "n_hashes",
        F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double"))
        .otherwise(F.round(est, 6))
        .alias("est_distinct"),
    )


def kmv_set_relations(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    k: int = 64,
) -> DataFrame:
    """Jaccard / union / intersection estimates from two GLOBAL
    bottom-k states (column: h). The union sketch's hashes are a
    uniform sample of A union B, and for any h <= theta_U membership
    in A (resp. B) is decided EXACTLY by the A (resp. B) sketch —
    theta_U <= theta_A because A's bottom-k is a subset of the union's
    key space — so jaccard_est = |{h in bottomk(U): h in A and h in B}|
    / |bottomk(U)| is the textbook unbiased estimator. Every join here
    is k-row x k-row broadcast territory; est_intersection =
    jaccard * est_union re-uses the kmv_estimate arithmetic. One
    output row: (n_union_sample, jaccard, est_union,
    est_intersection)."""
    u = kmv_merge(sketch_a, sketch_b, [], k)
    both = (
        u.join(sketch_a.select(F.col("h").alias("_ha")), u.h == F.col("_ha"), "left_semi")
        .join(sketch_b.select(F.col("h").alias("_hb")), u.h == F.col("_hb"), "left_semi")
    )
    n_u = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_union_sample"),
                F.max("h").alias("_hk"))
    n_b = both.agg(F.count(F.lit(1)).cast("bigint").alias("_nb"))
    est_union = (
        F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("_hk").cast("double")
    )
    return (
        n_u.crossJoin(F.broadcast(n_b))
        .select(
            "n_union_sample",
            # empty union sample (both sketches empty): jaccard of two
            # empty sets is 0 here, not 0/0 = NaN
            F.when(F.col("n_union_sample") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("_nb").cast("double")
                    / F.col("n_union_sample").cast("double"),
                    6,
                )
            )
            .alias("jaccard"),
            F.when(F.col("n_union_sample") < k,
                   F.col("n_union_sample").cast("double"))
            .otherwise(F.round(est_union, 6))
            .alias("est_union"),
        )
        .select(
            "n_union_sample",
            "jaccard",
            "est_union",
            F.round(F.col("jaccard") * F.col("est_union"), 6).alias("est_intersection"),
        )
    )


def kmv_overlap_matrix(
    sketch: DataFrame,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise cross-source overlap matrix from ONE grouped KMV
    sketch frame — the contamination-observability pass a mixture
    planner runs before weighting sources: which corpora secretly
    share content, estimated WITHOUT ever joining fact rows. Input is
    kmv_sketch(df, key, [group_col], k) — per-source bottom-k states,
    <= k rows each — so a 100 TB corpus contributes k hashes per
    source here no matter its size; everything below is
    source_count² x k arithmetic, broadcast territory by construction.

    Per source pair (a < b): re-derive the pair's union bottom-k from
    the two states (kmv_merge's trim, windowed per pair), then the
    kmv_set_relations estimator — membership of each union-sample hash
    in A and B is exact (theta_U <= theta_A, theta_B), jaccard =
    |sample ∩ A ∩ B| / |sample|, est_union the classic (k-1)·2^60 /
    h_(k) (exact count when unsaturated), est_intersection = jaccard ·
    est_union. One output row per unordered pair:
    (source_a, source_b, n_union_sample, jaccard, est_union,
    est_intersection).

    Scale shape: the only non-sketch-sized object is the pair
    cross-join of the SOURCE LIST (source_count² rows — metadata).
    Nothing here re-reads data: feed it yesterday's persisted
    per-source sketches and the matrix is a sub-second job."""
    if k < 2:
        raise ValueError(f"kmv: k must be >= 2, got {k}")
    from pyspark.sql import Window

    srcs = sketch.select(F.col(group_col)).distinct()
    pairs = (
        srcs.select(F.col(group_col).alias("source_a"))
        .crossJoin(srcs.select(F.col(group_col).alias("source_b")))
        .where(F.col("source_a") < F.col("source_b"))
    )
    ent = sketch.select(F.col(group_col).alias("_g"), "h")
    # each pair's union sample: the pair frame is tiny — broadcast it
    # onto the sketch entries twice (A side, B side), dedup shared
    # hashes, re-trim to bottom-k per pair
    u_ent = (
        ent.join(
            F.broadcast(pairs), F.col("_g") == F.col("source_a")
        ).select("source_a", "source_b", "h")
        .unionByName(
            ent.join(
                F.broadcast(pairs), F.col("_g") == F.col("source_b")
            ).select("source_a", "source_b", "h")
        )
        .dropDuplicates(["source_a", "source_b", "h"])
    )
    w = Window.partitionBy("source_a", "source_b").orderBy("h")
    u = (
        u_ent.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    in_a = ent.select(
        F.col("_g").alias("_ga"), F.col("h").alias("_ha"),
        F.lit(1).alias("_ina"),
    )
    in_b = ent.select(
        F.col("_g").alias("_gb"), F.col("h").alias("_hb"),
        F.lit(1).alias("_inb"),
    )
    flagged = (
        u.join(
            in_a,
            (F.col("source_a") == F.col("_ga")) & (F.col("h") == F.col("_ha")),
            "left",
        )
        .drop("_ga", "_ha")
        .join(
            in_b,
            (F.col("source_b") == F.col("_gb")) & (F.col("h") == F.col("_hb")),
            "left",
        )
        .drop("_gb", "_hb")
    )
    agg = flagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union_sample"),
        F.max("h").alias("_hk"),
        F.sum(
            F.when(F.col("_ina").isNotNull() & F.col("_inb").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("_nb"),
    )
    est_union = (
        F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("_hk").cast("double")
    )
    jac = F.round(
        F.col("_nb").cast("double") / F.col("n_union_sample").cast("double"), 6
    )
    return agg.select(
        "source_a",
        "source_b",
        "n_union_sample",
        # a pair can't reach this frame with an empty sample (both
        # sketches empty contribute no u_ent rows), so no 0/0 guard
        jac.alias("jaccard"),
        F.when(
            F.col("n_union_sample") < k, F.col("n_union_sample").cast("double")
        )
        .otherwise(F.round(est_union, 6))
        .alias("est_union"),
    ).select(
        "source_a",
        "source_b",
        "n_union_sample",
        "jaccard",
        "est_union",
        F.round(F.col("jaccard") * F.col("est_union"), 6).alias(
            "est_intersection"
        ),
    )


# --- mergeable quantile digest (equal-weight cluster digest) -------------


def cluster_digest(
    df: DataFrame,
    value_col: str,
    groups: list[str] | None = None,
    m: int = 32,
    tie_col: str | None = None,
    allow_global_sort: bool = False,
) -> DataFrame:
    """Per-group mergeable QUANTILE state: m equal-weight value
    clusters — a t-digest with the uniform (k0) scale function, made
    DETERMINISTIC so build and merge replay exactly in SQL (the same
    property that lets HLL/CMS/KMV here carry a value-hash oracle; the
    classic KLL/t-digest randomized compactions cannot). Rows rank by
    (value, tie_col) inside each group; row r of n lands in cluster
    c = ((r-1)*m) div n — integer arithmetic, so the cluster boundary
    can never drift cross-engine. State per (group, cluster): weight,
    a decimal(38,18) value sum over round(v, 7) terms (order-
    independent — the lm_score discipline), and the min/max covered
    values. At most m rows of state per group, any corpus size.

    The rank window sorts each group's fact rows — at scale build
    digests per (group, chunk) instead (day, file, partition: any
    subdivision bounds the sort) and fold them with digest_merge; the
    result is a digest of the SAME m-cluster shape, which is the whole
    point of mergeability. Rank error after one merge level is at most
    n/m per boundary (each input cluster's rows are contiguous in the
    value order up to overlap between input digests' value ranges).
    Omitted or empty `groups` raises unless allow_global_sort=True:
    an ungrouped build sorts every fact row in one task, so pass it
    only for a known-small input. On a flow canvas the same holds for
    the quantile_digest stage: put the chunk key in "groups" and fold
    with a digest_fold stage, or set "allow_global_sort": true.

    No counterpart in the reference; extends the sketch register
    family (HLL distincts / CMS frequencies / KMV set relations) with
    quantiles — the one register the SLA-band and rank-normalize
    histogram walks lacked as persisted store state.
    """
    from pyspark.sql import Window

    if m < 2:
        raise ValueError(f"cluster_digest: m must be >= 2, got {m}")
    groups = list(groups or [])
    if not groups and not allow_global_sort:
        # groups=[] ranks EVERY fact row in ONE unpartitioned window —
        # a single-task global sort that silently serializes the whole
        # corpus through one executor at scale. The scale path is to
        # build per-chunk digests (any event-time/file subdivision as
        # the group) and digest_merge them; an explicit
        # allow_global_sort=True acknowledges the input is known-small
        # (a test fixture, an already-aggregated frame).
        raise ValueError(
            "cluster_digest: groups=[] would globally sort every fact "
            "row through one task — build per-chunk digests (e.g. "
            "groups=['day']) and fold with digest_merge, or pass "
            "allow_global_sort=True if the input is known-small"
        )
    order = [F.col(value_col).asc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    part = Window.partitionBy(*groups) if groups else Window.partitionBy()
    vals = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("_r", F.row_number().over(part.orderBy(*order)))
        .withColumn("_n", F.count(F.lit(1)).over(part))
    )
    c = F.expr(f"(( _r - 1 ) * {m}) div _n").cast("bigint")
    return (
        vals.groupBy(*groups, c.alias("c"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("w"),
            F.sum(F.round(value_col, 7).cast("decimal(38,18)")).alias("vsum"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
    )


def digest_merge(
    cent: DataFrame,
    groups: list[str] | None = None,
    m: int = 32,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Fold sub-digests (e.g. one per day) into one m-cluster digest
    per group, deterministically: order every input cluster by
    (vmin, vmax, *order_cols, w, vsum) — order_cols are the sub-digest
    key columns (['day', 'c'], say) that break exact value-range ties;
    the trailing (w, vsum) keep the order TOTAL even without them
    (clusters tying on all five are indistinguishable in every
    aggregated quantity, so their order cannot change the output) —
    then re-cluster by CUMULATIVE weight: a cluster whose
    predecessors weigh cumb of the group total W lands in
    c = (cumb*m) div W. All integer, so the merged boundaries replay
    exactly in SQL; weights add, decimal sums add (order-independent),
    min/max combine. Input clusters never split, so one merge level
    adds at most one cluster's width of rank error — the standard
    digest-merge trade, bought deterministically.

    Every frame here is digest-sized (m rows per sub-digest), never
    fact-sized: merging a year of daily digests for a million groups
    exchanges 365*m rows per group, independent of row count."""
    from pyspark.sql import Window

    if m < 2:
        raise ValueError(f"digest_merge: m must be >= 2, got {m}")
    groups = list(groups or [])
    order = [F.col("vmin").asc(), F.col("vmax").asc()]
    for oc in order_cols or []:
        order.append(F.col(oc).asc())
    # Trailing (w, vsum) tie-breakers make the canonical order TOTAL
    # even when the caller omits order_cols: two clusters tying on
    # (vmin, vmax, *order_cols, w, vsum) are indistinguishable in
    # every aggregated quantity, so their relative order cannot change
    # the merged state — without this, a (vmin, vmax) tie with
    # different weights left the cumulative-weight assignment
    # run-order-dependent, breaking the replays-exactly-in-SQL
    # contract. Appended AFTER order_cols, so callers that already
    # pass a unique key (['day', 'c']) see bit-identical output.
    order.extend([F.col("w").asc(), F.col("vsum").asc()])
    part = Window.partitionBy(*groups) if groups else Window.partitionBy()
    w_ord = part.orderBy(*order)
    ranked = (
        cent.withColumn(
            "_cumb",
            F.coalesce(
                F.sum("w").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn("_W", F.sum("w").over(part))
    )
    c2 = F.expr(f"( _cumb * {m}) div _W").cast("bigint")
    return (
        ranked.groupBy(*groups, c2.alias("c"))
        .agg(
            F.sum("w").cast("bigint").alias("w"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


def digest_quantiles(
    cent: DataFrame,
    groups: list[str] | None = None,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    round_to: int = 6,
) -> DataFrame:
    """Quantile estimates from a digest: for each q the estimate is
    the MEAN of the cluster containing rank ceil(q*n) (cluster means
    are vsum/w — one double division per cluster, rounded, after the
    exact decimal/integer pipeline; no interpolation, so there is
    exactly one float op to mirror). The -1e-9 slack inside ceil keeps
    an IEEE overshoot of q*n (0.9*n can land at 9000.000...01) from
    shifting the target rank — it can only ever LOWER it back to the
    intended integer. Output: (groups..., n, q50, q90, ... one column
    per requested q). Digest-sized input, group-sized output."""
    from pyspark.sql import Window

    groups = list(groups or [])
    part = Window.partitionBy(*groups) if groups else Window.partitionBy()
    w_ord = part.orderBy(F.col("c").asc())
    ranked = (
        cent.withColumn("_cum", F.sum("w").over(w_ord))
        .withColumn("_n", F.sum("w").over(part))
    )
    mean = F.round(
        F.col("vsum").cast("double") / F.col("w").cast("double"), round_to
    )
    aggs = [F.max("_n").cast("bigint").alias("n")]
    for q in qs:
        t = F.ceil(F.lit(q) * F.col("_n").cast("double") - F.lit(1e-9))
        hit = (F.col("_cum") - F.col("w") < t) & (t <= F.col("_cum"))
        aggs.append(
            F.min(F.when(hit, mean)).alias(f"q{int(round(q * 100)):02d}")
        )
    return ranked.groupBy(*groups).agg(*aggs)
