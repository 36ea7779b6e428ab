"""Multi-column statistics in one scan: pairwise Pearson correlation
(and the exact moment sums behind it) for k numeric columns.

One `agg()` carries all k first moments, k second moments, and
C(k,2) cross moments as DECIMAL(38,0) sums of integer-scaled values —
map-side-combined partial aggregates, so the cost of the whole matrix
is ONE scan + one scalar row regardless of k (k=20 is 230 sums, still
one pass). Contrast `df.stat.corr`, which is one job per pair.

Exactness contract (what makes the matrix oracle-hashable): every
sum is exact decimal; the Pearson numerator/denominators
    cov_n  = n·Sxy − Sx·Sy
    varx_n = n·Sxx − Sx²       (scale factors cancel in the ratio)
are exact decimal too; only then does each convert to double once,
and corr = cov_n / sqrt(varx_n · vary_n) is three IEEE-754 ops
(multiply, sqrt, divide — sqrt is correctly rounded per IEEE 754), so
DuckDB's HUGEINT mirror produces bit-identical doubles. Zero-variance
columns yield NULL correlation (guarded, no division by zero).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def correlation_matrix(
    df: DataFrame, cols: list[str], scale: int = 100
) -> DataFrame:
    """One row per unordered column pair (col_x < col_y by input
    order): (col_x, col_y, n, corr). `scale` is the integer-scaling
    factor (100 for 2-decimal money columns); it cancels in the
    correlation but keeps the moment sums exact. Rows where ANY of
    the k columns is null are excluded (listwise deletion), so every
    pair shares one n and the matrix is positive semi-definite.

    Every moment sum (n, and per column Σx and Σx², plus Σxy per
    pair) rides ONE map-side-combined aggregate over one scan, where
    df.stat.corr runs a job per pair. corr is three IEEE ops on those
    exact decimal moments, so it compares against the oracle
    unrounded.
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns, got {cols}")
    complete = df.na.drop(subset=cols)
    ints = [
        F.round(F.col(c) * scale).cast("bigint").cast("decimal(38,0)")
        for c in cols
    ]
    # moment aliases are INDEX-keyed: name-interpolated aliases would
    # collide for underscore-bearing columns (("x","y_z") and
    # ("x_y","z") both render __p_x_y_z)
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")]
    for i, c in enumerate(ints):
        aggs.append(F.sum(c).alias(f"__s{i}"))
        aggs.append(F.sum(c * c).alias(f"__q{i}"))
    idx = list(combinations(range(len(cols)), 2))
    for i, j in idx:
        aggs.append(F.sum(ints[i] * ints[j]).alias(f"__p{i}_{j}"))
    scalars = complete.agg(*aggs)

    n = F.col("__n")

    def _mom(px: str, sx: str, sy: str):
        # try_* arithmetic: in range it returns the identical exact
        # decimal; past decimal(38,0) it yields NULL under ANY ANSI
        # mode instead of (ANSI on) throwing a generic overflow or
        # (ANSI off) silently nulling — the NULL is then converted to
        # a LOUD error below, because a silent NULL corr would violate
        # the module's exactness contract at extreme n*value^2 scale.
        return F.try_subtract(
            F.try_multiply(n, F.col(px)),
            F.try_multiply(F.col(sx), F.col(sy)),
        )

    overflow_err = F.raise_error(
        F.lit(
            "correlation_matrix: decimal(38,0) moment overflow — lower "
            "`scale` or pre-aggregate; a silent NULL corr is not allowed"
        )
    ).cast("double")
    rows = []
    for i, j in idx:
        a, b = cols[i], cols[j]
        cov_d = _mom(f"__p{i}_{j}", f"__s{i}", f"__s{j}")
        varx_d = _mom(f"__q{i}", f"__s{i}", f"__s{i}")
        vary_d = _mom(f"__q{j}", f"__s{j}", f"__s{j}")
        cov_n = cov_d.cast("double")
        varx_n = varx_d.cast("double")
        vary_n = vary_d.cast("double")
        rows.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                n.cast("bigint").alias("n"),
                F.when(
                    # n > 0 distinguishes real overflow from the
                    # all-rows-deleted case (empty aggregate sums are
                    # NULL too — that is n=0 with NULL corr, not an
                    # error telling the user to lower scale)
                    (n > 0)
                    & (cov_d.isNull() | varx_d.isNull() | vary_d.isNull()),
                    overflow_err,
                )
                .when(
                    (varx_n > 0) & (vary_n > 0),
                    cov_n / F.sqrt(varx_n * vary_n),
                )
                .alias("corr"),
            )
        )
    return (
        scalars.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("col_x", "col_y")
    )


def group_quantiles(
    df: DataFrame,
    group: str,
    value_col: str,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    scale: int = 100,
) -> DataFrame:
    """EXACT per-group quantiles at scale — discrete (quantile_disc)
    semantics: quantile p is the group's rank-ceil(n*p) smallest value
    (an actual data value, no interpolation; matches DuckDB's
    quantile_disc, empirically boundary-exact). Output: one row per
    group with n plus a p<percent> bigint column per requested
    quantile, values in scale-ed integer units (cents by default).

    Why not percentile()/approx: Spark's exact percentile buffers a
    whole group's values in one aggregation state (OOM on giant
    groups); percentile_approx is a sketch. This is the third way —
    the value-HISTOGRAM rank walk (same machinery as
    timeseries.mad_flags): per-(group, value) counts, a window cumsum
    over histogram rows (bounded by value CARDINALITY, not row
    count), and each requested rank picked by interval membership.
    All requested quantiles ride ONE histogram pass.

    Ranks are computed in pure integer arithmetic — ceil(n*p) =
    (n*p100 + 99) div 100 with p in hundredths — so boundary cases
    (n*p an exact integer) can't float-flip. ps must therefore be
    representable in hundredths. NULL values are excluded (SQL
    aggregate semantics — n counts non-null rows, like
    quantile_disc/median do).
    """
    p100s = []
    for p in ps:
        p100 = int(round(p * 100))
        if not 0 < p100 <= 100 or abs(p100 - p * 100) > 1e-9:
            raise ValueError(
                f"group_quantiles: p={p} not representable in hundredths"
            )
        p100s.append(p100)

    def rank_of(p100: int):
        def rank(n):
            x = n * F.lit(p100) + F.lit(99)
            return ((x - x % 100) / 100).cast("bigint")  # exact div

        return rank

    v = F.col(value_col)
    # NaN-safe: cast(NaN as bigint) is 0 under non-ANSI — a phantom
    # zero shifting every rank; NaN rows are excluded like NULLs
    cents = F.when(
        v.isNotNull() & ~F.isnan(v.cast("double")),
        F.round(v * scale).cast("bigint"),
    )
    out = hist_order_stats(
        df.select(F.col(group), cents.alias("__v")),
        group,
        "__v",
        {f"p{p}": rank_of(p) for p in p100s},
    )
    return out.select(
        F.col(group),
        F.col("__n").alias("n"),
        *[F.col(f"p{p}") for p in p100s],
    )


def hist_order_stats(
    df: DataFrame,
    group: str,
    v_col: str,
    ranks: dict,
) -> DataFrame:
    """The shared value-HISTOGRAM rank walk: per-(group, value)
    counts (map-side combined; rows = distinct values per group, not
    events), a window cumsum ordered by value, and each requested
    ORDER STATISTIC picked by rank-interval membership — value v
    covers rank r iff prev_cum < r <= cum. `ranks` maps output column
    name -> fn(n: Column) -> rank Column (1-based); all requested
    ranks ride ONE histogram pass. Returns (group, __n, <name>...)
    with bigint values.

    This is the scale-safe exact-order-statistic primitive behind
    group_quantiles and timeseries.mad_flags: window work is bounded
    by value CARDINALITY per group — never a whole-group percentile
    buffer. NULL values are dropped before counting (SQL aggregate
    semantics: a NULL would otherwise sort first and shift every real
    rank, silently corrupting the statistic — and diverge from the
    DuckDB median/quantile_disc oracles, which ignore NULLs)."""
    from pyspark.sql import Window

    counts = (
        df.where(F.col(v_col).isNotNull())
        .groupBy(group, v_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = Window.partitionBy(group).orderBy(v_col)
    wall = Window.partitionBy(group)
    cum = F.sum("__c").over(wcum)
    n = F.sum("__c").over(wall)
    prev = cum - F.col("__c")
    parts = [
        (
            F.col(v_col)
            * ((prev < rank_fn(n)) & (rank_fn(n) <= cum)).cast("bigint")
        ).alias(f"__part_{name}")
        for name, rank_fn in ranks.items()
    ]
    return (
        counts.select(F.col(group), n.alias("__n"), *parts)
        .groupBy(group)
        .agg(
            F.max("__n").cast("bigint").alias("__n"),
            *[
                F.sum(f"__part_{name}").cast("bigint").alias(name)
                for name in ranks
            ],
        )
    )


def threshold_buckets(
    df: DataFrame,
    group: str,
    value_col: str,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style per-group quality split at scale: k = len(labels)
    buckets from best (labels[0], highest value) to worst. Instead of
    ntile over Window.partitionBy(group) — which sorts an ENTIRE
    group's fact rows in one task (one executor sorting a language's
    billion docs at 100 TB) — this computes the k-1 boundary ORDER
    STATISTICS per group with the value-histogram rank walk
    (hist_order_stats: window work bounded by value CARDINALITY),
    broadcasts the tiny (group, thresholds) frame back, and assigns
    buckets by plain comparison. The fact rows never sort.

    Boundary ranks are ntile's ceil(i*n/k) (i-th boundary, descending
    order); s_i is the value at that rank. A row lands in bucket i iff
    s_{i+1} <= value < s_i (value >= s_1 -> labels[0]). Rows TYING a
    boundary value all take the better bucket — deterministic with no
    per-row tie ordering, which is exactly what removes the per-group
    sort; bucket sizes may differ from ntile's by the boundary tie
    count. value_col must be an integer-discrete (bigint) column —
    pre-round floats to fixed precision first, as group_quantiles
    does. NULL values are excluded from rank computation by
    hist_order_stats and land in the last bucket.

    Output: df's columns plus `bucket` (string).
    """
    k = len(labels)
    if k < 2:
        raise ValueError("threshold_buckets needs at least 2 labels")

    def rank_low(i: int):
        # i-th descending boundary rank ceil(i*n/k), restated as an
        # ASCENDING rank n - ceil(i*n/k) + 1 for the histogram walk;
        # ceil is exact integer arithmetic: (i*n + k-1) div k.
        def rank(n):
            x = n * F.lit(i) + F.lit(k - 1)
            ceil_ = ((x - x % k) / k).cast("bigint")
            return n - ceil_ + F.lit(1)

        return rank

    thr = hist_order_stats(
        df.select(group, value_col),
        group,
        value_col,
        {f"__s{i}": rank_low(i) for i in range(1, k)},
    )
    v = F.col(value_col)
    expr = F.when(v >= F.col("__s1"), F.lit(labels[0]))
    for i in range(2, k):
        expr = expr.when(v >= F.col(f"__s{i}"), F.lit(labels[i - 1]))
    expr = expr.otherwise(F.lit(labels[k - 1]))
    return (
        df.join(F.broadcast(thr), group)
        .withColumn("bucket", expr)
        .drop("__n", *[f"__s{i}" for i in range(1, k)])
    )


def winsorize(
    df: DataFrame,
    group: str,
    value_col: str,
    id_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    scale: int = 100,
) -> DataFrame:
    """Per-group winsorization (robust outlier clipping for feature
    prep): clamp each row's value to its group's exact discrete
    [p_lo, p_hi] quantiles — the standard defense before training on
    heavy-tailed telemetry. Quantiles are rank-ceil(n*p) order
    statistics from the value-histogram rank walk (group_quantiles'
    machinery: window work bounded by value CARDINALITY per group,
    never a whole-group percentile buffer), broadcast back onto the
    rows; the clamp itself is two comparisons in the scan. Values
    ride as exact scale-d integers end to end. NULL / NaN values pass
    through as NULL clipped values (they carry no magnitude to clip).

    Output: (id_col, group, value_cents [original, NULL for absent],
    lo_cents, hi_cents, clipped_cents, was_clipped).
    """
    qdf = group_quantiles(
        df, group, value_col,
        ps=(p_lo, p_hi),
        scale=scale,
    )
    p_lo_name = f"p{int(round(p_lo * 100))}"
    p_hi_name = f"p{int(round(p_hi * 100))}"
    thr = qdf.select(
        F.col(group),
        F.col(p_lo_name).alias("lo_cents"),
        F.col(p_hi_name).alias("hi_cents"),
    )
    v = F.col(value_col)
    cents = F.when(
        v.isNotNull() & ~F.isnan(v.cast("double")),
        F.round(v * scale).cast("bigint"),
    )
    rows = df.select(F.col(id_col), F.col(group), cents.alias("value_cents"))
    # explicit NULL guard: Spark's greatest/least SKIP nulls, so
    # greatest(NULL, lo) would fabricate lo for a missing value
    clipped = F.when(
        F.col("value_cents").isNotNull(),
        F.least(F.greatest(F.col("value_cents"), F.col("lo_cents")),
                F.col("hi_cents")),
    )
    return rows.join(F.broadcast(thr), group).select(
        id_col,
        group,
        "value_cents",
        "lo_cents",
        "hi_cents",
        clipped.alias("clipped_cents"),
        (clipped != F.col("value_cents")).alias("was_clipped"),
    )


def zscore_normalize(
    df: DataFrame,
    group: str,
    value_col: str,
    id_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group z-score feature normalization (the ML-feature prep
    pass), exact enough to oracle: with xi = round(value*scale) as
    integer, z = (n·xi − Σx) / sqrt(n·Σx² − (Σx)²) — the scale factor
    cancels algebraically, every moment is an exact DECIMAL(38,0)
    sum, and the only float ops are one subtraction-free cast, one
    IEEE sqrt, one division. Population (not sample) variance, the
    serving-time convention.

    Shape: one map-side-combined groupBy for the k-row stats frame,
    broadcast back onto the data — the data frame itself never
    shuffles. Zero-variance groups emit NULL z (no division by 0).
    Output: (id_col, group, z).
    """
    v = F.col(value_col)
    # NaN-safe AND NULL-safe: cast(NaN as bigint) is 0 under non-ANSI
    # (a phantom zero value in the moments) and an ANSI error; a NaN
    # value row is excluded like a NULL one (its own z stays NULL)
    xi = F.when(
        v.isNotNull() & ~F.isnan(v.cast("double")),
        F.round(v * scale).cast("bigint").cast("decimal(38,0)"),
    )
    stats = df.groupBy(group).agg(
        # count(xi), not count(*): a NULL value must be absent from n
        # AND the sums, or the moments disagree (its own z is NULL).
        F.count(xi).cast("decimal(38,0)").alias("_n"),
        F.try_sum(xi).alias("_sx"),
        F.try_sum(F.try_multiply(xi, xi)).alias("_sxx"),
    )
    var_n_dec = F.try_subtract(
        F.try_multiply(F.col("_n"), F.col("_sxx")),
        F.try_multiply(F.col("_sx"), F.col("_sx")),
    )
    overflow_err = F.raise_error(
        F.lit(
            "zscore_normalize: decimal moment overflow — lower `scale` "
            "(a silent NULL z would violate the exactness contract)"
        )
    ).cast("double")
    var_n = F.when(
        (F.col("_n") > 0) & var_n_dec.isNull(), overflow_err
    ).otherwise(var_n_dec.cast("double"))
    num = F.try_subtract(F.try_multiply(F.col("_n"), xi), F.col("_sx")).cast(
        "double"
    )
    return (
        df.join(F.broadcast(stats), group)
        .select(
            id_col,
            group,
            F.when(var_n > 0, F.round(num / F.sqrt(var_n), 6)).alias("z"),
        )
    )


def rank_normalize(
    df: DataFrame,
    group: str,
    value_col: str,
    id_col: str,
    scale: int = 100,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Per-group quantile-rank transform (sklearn QuantileTransformer
    shape, exact): each row's value becomes its percent rank
    (min_rank - 1) / (n - 1) within the group — the rank-based
    normalization feature prep uses when magnitudes are heavy-tailed
    and z-scores mislead.

    Scale shape: the SAME value-histogram discipline as
    hist_order_stats — per-(group, value) counts (rows = value
    CARDINALITY, map-side combined), one cumsum window over that
    histogram, then a join back onto the rows by (group, value). No
    window ever sees fact rows, so a group with 10^10 rows and 10^4
    distinct values costs a 10^4-row sort.

    Exactness: values ride as round(value*scale) integers; min_rank
    and n are exact bigints; the percent rank is ONE IEEE division,
    rounded at 6 dp. Ties share their minimum rank (percent_rank
    semantics, which the DuckDB oracle uses as an independent
    implementation). NULL values yield NULL pct_rank and are absent
    from n; single-row groups get 0.0 (percent_rank convention).
    Output: (id_col, group, value_cents, pct_rank).
    """
    from pyspark.sql import Window

    v = F.round(F.col(value_col) * scale).cast("bigint")
    tagged = df.select(F.col(id_col), F.col(group), v.alias("__v"))
    # train_df separates histogram training from scoring (the
    # anomaly_flags train/score pattern): the streaming twin builds
    # the histogram on the static table and scores the stream rows
    # against it via the broadcast join below — stateless per batch.
    train = tagged if train_df is None else train_df.select(
        F.col(group), v.alias("__v")
    )
    counts = (
        train.where(F.col("__v").isNotNull())
        .groupBy(group, "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = Window.partitionBy(group).orderBy("__v")
    wall = Window.partitionBy(group)
    hist = counts.select(
        group,
        "__v",
        (F.sum("__c").over(wcum) - F.col("__c")).alias("__below"),
        F.sum("__c").over(wall).alias("__n"),
    )
    pct = F.when(F.col("__n") == 1, F.lit(0.0)).otherwise(
        F.round(
            F.col("__below").cast("double")
            / (F.col("__n") - F.lit(1)).cast("double"),
            6,
        )
    )
    return (
        tagged.join(hist, [group, "__v"], "left")
        .select(
            id_col,
            group,
            F.col("__v").alias("value_cents"),
            pct.alias("pct_rank"),
        )
    )


def weighted_median(
    df: DataFrame,
    group: str,
    value_col: str,
    weight_col: str,
    scale: int = 100,
) -> DataFrame:
    """Exact per-group WEIGHTED lower median: the smallest value v
    with cumulative weight(<= v) covering half the group's total
    weight — 'the price half the shipped QUANTITY sits below', the
    weighted analog of quantile_disc(0.5). Weights must be
    non-negative integers at heart (quantities, token counts, cents);
    they are cast to bigint exactly.

    Same histogram discipline as hist_order_stats: per-(group, value)
    weight sums (rows = value cardinality), one cumsum window over
    that histogram, and the pick 2*cum >= W is an INTEGER comparison
    — no W/2 division, no floats anywhere. NULL values and NULL/
    negative weights are excluded (a NULL would sort first and shift
    the cut; a negative weight has no mass semantics — excluding
    beats silently corrupting the cumsum). Output: (group, total_w,
    wmedian_cents).
    """
    from pyspark.sql import Window

    v = F.round(F.col(value_col) * scale).cast("bigint")
    w = F.col(weight_col).cast("bigint")
    hist = (
        df.where(v.isNotNull() & w.isNotNull() & (w >= 0))
        .select(F.col(group), v.alias("__v"), w.alias("__w"))
        .groupBy(group, "__v")
        .agg(F.sum("__w").alias("__wsum"))
    )
    wcum = Window.partitionBy(group).orderBy("__v")
    wall = Window.partitionBy(group)
    cum = hist.select(
        group,
        "__v",
        F.sum("__wsum").over(wcum).alias("__cum"),
        F.sum("__wsum").over(wall).alias("__tot"),
    )
    return (
        cum.where(F.lit(2) * F.col("__cum") >= F.col("__tot"))
        .groupBy(group)
        .agg(
            F.max("__tot").cast("bigint").alias("total_w"),
            F.min("__v").cast("bigint").alias("wmedian_cents"),
        )
        # zero-total-weight groups have no mass to take a median of
        .where(F.col("total_w") > 0)
    )
