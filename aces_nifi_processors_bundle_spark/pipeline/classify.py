"""Model-inference operators: hashed linear text classification.

The reference bundle routes records by regex/attribute rules
(aces-nifi-processors/src/main/java/net/acesinc/nifi/processors/
marking/SecurityMarkingProcessor.java decides per-record routing from
field content); production corpus pipelines add a LEARNED per-record
decision — the fastText-style quality classifier every large
training-data pipeline runs (GPT-3/CCNet-style "does this look like
reference text" filtering). This module is that inference step,
Spark-first.

Model = hashed bag-of-features linear classifier:

    logit(doc) = bias + Σ_f  count(f, doc) · w[h(f) mod D]

with features f = lowercased word unigrams + adjacent-pair bigrams,
h = the repo-wide 60-bit md5 prefix (cross-engine exact), and a
D-bucket weight vector. Training happens OFFLINE (any logistic
trainer); inference only needs the weight table.

Scale design:

- The weight vector (D rows, two ints) is broadcast — never shuffled,
  never collected. 4096..1M buckets is kilobytes-to-megabytes.
- Feature extraction is pure codegen regex + one explode — no Python,
  no window, NO shuffle before the final per-doc sum (bigrams use the
  capturing-lookahead overlap trick, not lead()). The only exchange
  in the whole operator is the map-side-combined groupBy(doc). The
  window-free shape is also what makes the operator legal on a
  streaming frame.
- Weights are INTEGER MILLI-units and the logit is a bigint sum:
  exact, associative, partial-agg-order independent — the decision
  boundary (logit > threshold) is bit-reproducible on any cluster
  layout, and the DuckDB oracle compares it exactly.
- The logistic probability is derived presentation (one exp on the
  final scalar, rounded); ranking/filtering should use the exact
  integer logit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hash_weights(
    spark: SparkSession, n_buckets: int = 4096, seed: str = "qw"
) -> DataFrame:
    """Deterministic weight-table FIXTURE: w_milli[b] uniform in
    [-1000, 1000] from md5(seed||b) — the stand-in for an offline-
    trained model, reproducible bit-for-bit in DuckDB (same md5
    construction). Columns: (bucket bigint, w_milli bigint)."""
    b = F.col("id").cast("bigint")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), b.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return spark.range(n_buckets).select(
        b.alias("bucket"),
        (F.pmod(h, F.lit(2001)) - F.lit(1000)).alias("w_milli"),
    )


def linear_text_classifier(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    bigrams: bool = True,
    bias_milli: int = 0,
    threshold_milli: int = 0,
) -> DataFrame:
    """Score every document under a hashed linear model (module doc).

    weights: (bucket, w_milli) with bucket in [0, n_buckets) — rows
    for untouched buckets may be absent (treated as 0). Returns one
    row per document with >=1 feature:
        (id_col, n_features, logit_milli, label, prob)
    logit_milli/label are exact integers/booleans; prob =
    sigmoid(logit) rounded to 6 (presentation only).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    # Normalize once: lowercase, non-alnum runs -> single space. Both
    # gram arrays then come from pure codegen regex over the SAME
    # normalized string — no window, no pre-groupBy shuffle, and
    # therefore legal on a STREAMING frame (q_stream_classifier runs
    # this unchanged; a lead()-window bigram would not be).
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    unis = F.when(
        norm == "", F.array().cast("array<string>")
    ).otherwise(F.split(norm, " "))
    if bigrams:
        # overlapping word pairs "a b" via the shared capturing-
        # lookahead shingle regex: one JVM regex pass, no interpreted
        # per-element HOFs
        from .text import _shingle_regex

        bis = F.regexp_extract_all(norm, F.lit(_shingle_regex(2)), F.lit(1))
        grams = F.concat(unis, bis)
    else:
        grams = unis
    feats = df.select(
        F.col(id_col), F.explode(grams).alias("f")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("f")), 1, 15), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    scored = feats.select(id_col, bucket.alias("bucket")).join(
        F.broadcast(weights), "bucket", "left"
    )
    logit = (
        F.lit(int(bias_milli)).cast("bigint")
        + F.sum(F.coalesce(F.col("w_milli"), F.lit(0))).cast("bigint")
    ).alias("logit_milli")
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_features"), logit
    )
    return out.select(
        id_col,
        "n_features",
        "logit_milli",
        (F.col("logit_milli") > F.lit(int(threshold_milli))).alias("label"),
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-F.col("logit_milli").cast("double") / 1000.0)),
            6,
        ).alias("prob"),
    )


def chi2_terms(
    df: DataFrame,
    label_col: "Column | str",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_df: int = 2,
) -> DataFrame:
    """Chi-squared term-label association — the feature-selection
    pass before training a text classifier: for each term, the 2x2
    contingency of document-frequency vs a binary label, scored
    chi2 = N * (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)).

    Exactness: a/b/c/d/N are exact document counts; the numerator is
    built in decimal(38) (an (ad-bc)^2 at corpus scale overflows
    int64), the denominator likewise, and the score is ONE IEEE
    division of two exactly-computed doubles — bit-identical
    cross-engine, so top-k by (chi2 DESC, term ASC) is deterministic.
    Terms with a degenerate margin (present or absent in every doc)
    score 0. min_df prunes the hapax tail BEFORE the contingency join
    (the same guard top_terms uses).

    Scale shape: distinct (doc, term) pairs shuffle once (map-side
    combined), the two class totals broadcast as one row, and the
    per-term contingency is a term-keyed aggregate — rows = vocabulary
    size. Output: (term, df_pos, df_neg, chi2, rank).
    """
    from pyspark.sql import Window

    from .text import term_rows

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    docs = df.select(
        F.col(id_col),
        F.col(text_col),
        lab.cast("int").alias("__y"),
    ).where(F.col("__y").isNotNull())
    totals = docs.agg(
        F.sum("__y").cast("bigint").alias("__n1"),
        F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("__n0"),
    )
    doc_terms = (
        term_rows(docs, text_col, id_col)
        .distinct()
        .join(docs.select(id_col, "__y"), id_col)
    )
    cont = (
        doc_terms.groupBy("term")
        .agg(
            F.sum("__y").cast("bigint").alias("df_pos"),
            F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("df_neg"),
        )
        .where(F.col("df_pos") + F.col("df_neg") >= min_df)
        .crossJoin(F.broadcast(totals))
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a, b = d(F.col("df_pos")), d(F.col("df_neg"))
    c_, d_ = d(F.col("__n1")) - a, d(F.col("__n0")) - b
    n = d(F.col("__n1")) + d(F.col("__n0"))
    # det is exact decimal; the N*det^2 numerator moves to double
    # AFTER det (N^5 overflows decimal(38) near N=10^8 while the
    # double path is deterministic cross-engine). The decimal
    # denominator (<= N^4) holds to N ~ 10^9 docs; beyond that, batch
    # per corpus shard and merge contingencies first.
    det_d = (a * d_ - b * c_).cast("double")
    num_d = n.cast("double") * det_d * det_d
    den = (a + b) * (c_ + d_) * (a + c_) * (b + d_)
    chi2 = F.when(den == 0, F.lit(0.0)).otherwise(
        F.round(num_d / den.cast("double"), 6)
    )
    scored = cont.select("term", "df_pos", "df_neg", chi2.alias("chi2"))
    w = Window.partitionBy().orderBy(F.col("chi2").desc(), F.col("term").asc())
    return (
        scored.orderBy(F.col("chi2").desc(), F.col("term").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def calibration_report(
    scored: DataFrame,
    prob_col: str = "prob",
    label_col: str = "actual",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for a probabilistic classifier —
    the standard calibration diagnostic a corpus-filter pipeline runs
    before trusting a model's probabilities as sampling weights: bin
    predictions into n_bins equal-width probability bins and compare
    each bin's MEAN PREDICTED probability against its OBSERVED
    positive rate. A calibrated model's rows sit on the diagonal
    (abs_gap ≈ 0); systematic over/under-confidence shows as signed
    structure across bins. Expected calibration error is one weighted
    aggregate over this frame: Σ (n_docs/N)·abs_gap.

    Output per non-empty bin: (bin, n_docs, mean_prob, frac_actual,
    abs_gap), bin = least(floor(prob·n_bins), n_bins−1) so prob=1.0
    lands in the top bin.

    Engine-exactness: mean_prob sums the (≤6 dp) probabilities in
    DECIMAL(38,18) (order-proof) before ONE double division;
    frac_actual is one int-to-double division; both round to 6 dp and
    abs_gap derives from the ROUNDED values — the DuckDB oracle
    replays every step bit-for-bit. Scale shape: one
    map-side-combined aggregate over the scored frame; output is
    ≤ n_bins rows. On a flow canvas the scored frame is a classify
    stage joined to a reference label upstream."""
    if n_bins < 1:
        raise ValueError(
            f"calibration_report: n_bins must be >= 1, got {n_bins}"
        )
    b = F.least(
        F.floor(F.col(prob_col) * F.lit(n_bins)).cast("int"),
        F.lit(n_bins - 1),
    )
    n = F.count(F.lit(1))
    agg = scored.groupBy(b.alias("bin")).agg(
        n.cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col(prob_col).cast("decimal(38,18)")).cast("double")
            / n.cast("double"),
            6,
        ).alias("mean_prob"),
        F.round(
            F.sum(F.when(F.col(label_col), 1).otherwise(0)).cast("double")
            / n.cast("double"),
            6,
        ).alias("frac_actual"),
    )
    return agg.select(
        "bin",
        "n_docs",
        "mean_prob",
        "frac_actual",
        F.round(F.abs(F.col("mean_prob") - F.col("frac_actual")), 6).alias(
            "abs_gap"
        ),
    )


def cohens_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa between two BOOLEAN label columns —
    chance-corrected agreement, the standard QA number for "does my
    trained filter agree with the rule-based filter / the previous
    model / the human sample beyond what base rates explain".
    po = observed agreement, pe = expected agreement under
    independent marginals, kappa = (po − pe) / (1 − pe).

    Output: one row (n_docs, po, pe, kappa), po/pe/kappa rounded to
    6 dp; kappa is NULL when pe = 1 (both raters constant — undefined
    by definition) and the whole row reads (0, NULL, NULL, NULL) on
    an empty frame rather than dividing by zero. All arithmetic is
    exact bigint counts into single double divisions, term order
    mirrored by the DuckDB oracle. Scale shape: ONE
    map-side-combined aggregate; nothing else."""
    agg = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.when(F.col(col_a), 1).otherwise(0))
        .cast("bigint")
        .alias("_na"),
        F.sum(F.when(F.col(col_b), 1).otherwise(0))
        .cast("bigint")
        .alias("_nb"),
        F.sum(F.when(F.col(col_a) & F.col(col_b), 1).otherwise(0))
        .cast("bigint")
        .alias("_nboth"),
    )
    n = F.col("_n").cast("double")
    n_agree = (
        F.col("_nboth")
        + (F.col("_n") - F.col("_na") - F.col("_nb") + F.col("_nboth"))
    ).cast("double")
    po = n_agree / n
    pe = (F.col("_na").cast("double") / n) * (
        F.col("_nb").cast("double") / n
    ) + ((F.col("_n") - F.col("_na")).cast("double") / n) * (
        (F.col("_n") - F.col("_nb")).cast("double") / n
    )
    return agg.select(
        F.col("_n").alias("n_docs"),
        F.when(F.col("_n") > 0, F.round(po, 6)).alias("po"),
        F.when(F.col("_n") > 0, F.round(pe, 6)).alias("pe"),
        F.when(
            (F.col("_n") > 0) & (pe < F.lit(1.0)),
            F.round((po - pe) / (F.lit(1.0) - pe), 6),
        ).alias("kappa"),
    )


def expected_calibration_error(
    scored: DataFrame,
    prob_col: str = "prob",
    label_col: str = "actual",
    n_bins: int = 10,
) -> DataFrame:
    """Expected calibration error — calibration_report's
    table folded to the ONE dashboard number: ECE =
    Σ_bins (n_docs/N)·abs_gap, the bin-mass-weighted mean deviation
    from the diagonal. Output: one row (n_docs, n_bins_used, ece).

    Engine-exactness: abs_gap carries ≤6 dp, so n_docs·abs_gap is
    EXACT in DECIMAL(38,18) — the weighted sum is order-proof — and
    ECE is that decimal sum cast to double over ONE division by N,
    rounded to 6 dp (the DuckDB oracle replays it term-for-term).
    Scale shape: the calibration aggregate (≤ n_bins rows) plus a
    one-row fold."""
    rep = calibration_report(scored, prob_col, label_col, n_bins)
    return rep.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias(
            "n_docs"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.when(
            F.coalesce(F.sum("n_docs"), F.lit(0)) > 0,
            F.round(
                F.sum(
                    (F.col("n_docs").cast("decimal(20,0)")
                     * F.col("abs_gap").cast("decimal(18,6)"))
                    .cast("decimal(38,18)")
                ).cast("double")
                / F.sum("n_docs").cast("double"),
                6,
            ),
        ).alias("ece"),
    )
