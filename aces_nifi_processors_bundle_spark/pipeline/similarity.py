"""Similarity search over an embedding column (array<float>).

Two paths, per the north star:
- Brute-force cosine top-k: exact baseline. The query set broadcasts
  (it's small); the corpus streams through one projection — no shuffle
  on the corpus side at all. The per-query top-k is a salted two-phase
  aggregation (see _topk_per_query): phase 1 spreads each query over
  n_salts reducers (bounded sort memory, no one-partition-per-query
  hot spot), phase 2 merges only k·n_salts rows per query. Exact: the
  global top-k is contained in the union of per-bucket top-ks.
- LSH-bucketed ANN (random hyperplanes): sign-bit sketch per vector,
  bucket join on sketch bands — the scale path when the query set is
  the whole corpus (all-pairs). Sketches are computed by an
  Arrow-vectorized pandas UDF (one numpy matmul per batch: measured
  ~100× faster than per-element Catalyst lambdas for 64 planes), then
  in the near-dup/SemDeDup paths candidates are additionally
  pre-filtered by sketch Hamming distance (bit_count of xor — pure
  codegen) so the exact cosine only runs on survivors; lsh_topk skips
  the prefilter (its band join already bounds candidates and a top-k
  needs every surviving score anyway).

Exact cosine uses F.aggregate over F.zip_with — a sequential fold,
bit-identical to DuckDB's list_cosine_similarity on DOUBLE lists,
which is what makes the brute-force path oracle-checkable. The fold is
interpreted (~60 µs/pair at dim 64), which is why the ANN path works
so hard to shrink the pair set before scoring.

Hyperplane components derive from md5 — reproducible across engines
and runs, no RNG state. Recall is pytest-checked against brute force
rather than oracle-matched.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.registry import ensure_fanout_parallelism


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO error) for zero-norm vectors;
    ranking paths drop NULL scores (`_topk_per_query`) and threshold
    predicates reject them, so degenerate vectors can't crash a job
    or outrank real neighbors."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def as_double(a: Column) -> Column:
    return a.cast("array<double>")


def _topk_per_query(
    scored: DataFrame,
    k: int,
    val_col: str = "cos",
    descending: bool = True,
    n_salts: int = 32,
) -> DataFrame:
    """Exact per-query top-k over (query_id, neighbor_id, val_col) rows,
    ranked by (val_col desc — or asc for a distance — then neighbor_id
    asc), as a salted two-phase agg. Rows with a NULL value are
    dropped (the zero-norm cosine guard).

    Why not `row_number().over(Window.partitionBy("query_id"))`: a
    window shuffles EVERY scored row onto one partition per query_id
    and sort-buffers it there — at |queries|×|corpus| rows that is a
    skewed, memory-heavy sort per query, and window functions get no
    partial aggregation. Here instead:

    phase 1: groupBy(query_id, salt) — hash aggregation (partial agg
      map-side, ObjectHashAggregate), each query's rows spread across
      n_salts reducers, each keeping only its local top-k via
      slice(array_sort(collect_list(struct)), 1, k);
    phase 2: groupBy(query_id) over the surviving k·n_salts rows per
      query — a trivially small final merge.

    Exact by construction: every global top-k row is the top-k of its
    own salt bucket. The struct sort key (±val, neighbor_id) is a
    total order, so ties resolve identically to the window version;
    a decimal value is compared exactly, and negation is exact, so
    the output value is the input value bit for bit. Output:
    (query_id, neighbor_id, val_col, rank).
    """
    scored = scored.filter(F.col(val_col).isNotNull())
    sign = (lambda c: -c) if descending else (lambda c: c)
    entry = F.struct(
        sign(F.col(val_col)).alias("_key"),
        F.col("neighbor_id").alias("neighbor_id"),
    )
    local = (
        scored.groupBy(
            "query_id",
            F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(n_salts)).alias("_salt"),
        )
        .agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("_top"))
        .select("query_id", F.explode("_top").alias("_e"))
    )
    merged = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.collect_list("_e")), 1, k).alias("_top")
    )
    return merged.select(
        "query_id", F.posexplode("_top").alias("_pos", "_e")
    ).select(
        "query_id",
        F.col("_e.neighbor_id").alias("neighbor_id"),
        sign(F.col("_e._key")).alias(val_col),
        (F.col("_pos") + 1).alias("rank"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: (query_id, neighbor_id, cos, rank) — k rows per query,
    ranked by (cos desc, neighbor_id asc); self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    return _topk_per_query(scored, k)


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    across engines and runs, no RNG state."""
    comps = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}|{d}".encode()).hexdigest()
        comps.append(int(h[:8], 16) / float(0xFFFFFFFF) - 0.5)
    return comps


def sketch_udf(dim: int, n_planes: int = 64):
    """Arrow-vectorized sign-bit sketch: bit p = 1 iff vec·plane_p > 0.

    One (batch × dim) @ (dim × n_planes) numpy matmul per Arrow batch —
    the right tool for dense embedding math; Catalyst per-element
    lambdas are interpreted and ~100× slower here."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array([_hyperplane(p, dim) for p in range(n_planes)]).T  # dim×P
    weights = 1 << np.arange(n_planes, dtype=np.uint64)

    @pandas_udf("bigint")
    def _sketch(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy())  # batch × dim
        bits = (mat @ planes) > 0
        return pd.Series((bits @ weights).astype(np.int64))

    return _sketch


def _band_keys(sk: Column, n_planes: int, n_bands: int) -> Column:
    """Array of per-band integer keys from a sketch (band id in the
    high bits so keys from different bands never collide)."""
    if n_bands < 1 or n_planes % n_bands != 0:
        # not an assert: under python -O a silent band_bits=0 would
        # degenerate every band join to the full n^2 cross product
        raise ValueError(
            f"n_bands must divide n_planes, got {n_planes=} {n_bands=}"
        )
    band_bits = n_planes // n_bands
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.shiftright(sk, b * band_bits)
            .bitwiseAND(F.lit(mask))
            .bitwiseOR(F.lit(b << band_bits))
            for b in range(n_bands)
        ]
    )


def hamming_bound(threshold: float, n_planes: int, slack_sigma: float = 2.0) -> int:
    """Max sketch Hamming distance consistent with cos ≥ threshold.

    E[hamming] = n·θ/π for angle θ; allow slack_sigma binomial stddevs
    so near-threshold pairs aren't clipped by sketch noise."""
    p = math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    return int(math.ceil(n_planes * p + slack_sigma * math.sqrt(n_planes * p * (1 - p))))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 64,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates share ≥1 sketch band; scored exactly.

    Recall < 1 by construction; pytest checks recall vs brute force.
    At all-pairs scale this replaces the n² cross join with a bucket
    join whose cost follows bucket occupancy (cosine-clustered).

    The band join carries ONLY (id, band_key) — the 8×-exploded rows
    never drag the dim-wide vectors through the shuffle (measured 2×
    on the sf0.1 bench vs shipping vectors with the bands). Vectors
    rejoin by id on the deduped candidate set: queries broadcast, the
    corpus side is one hash join keyed on neighbor_id."""
    sk = sketch_udf(dim, n_planes)

    def bands_of(df: DataFrame, prefix: str) -> DataFrame:
        # NULL vectors can't be sketched (np.stack raises in the UDF)
        return df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.explode(
                _band_keys(sk(as_double(F.col(vec_col))), n_planes, n_bands)
            ).alias("band_key"),
        )

    cands = (
        bands_of(queries, "query")
        .join(bands_of(corpus, "neighbor"), "band_key")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    return _topk_per_query(scored, k)


# --- IVF (inverted-file) ANN: the partition-pruned search path ---------
#
# The third ANN paradigm next to brute force and LSH banding: corpus
# vectors are ASSIGNED to the nearest of C fixed centroids (the
# "inverted lists"); a query probes only its n_probe nearest cells, so
# search cost is corpus_size * n_probe / C instead of corpus_size. At
# 100 TB the cell id is a partition column: the probe set becomes
# partition pruning on the corpus scan (see ivf_write_index /
# ivf_topk(cells_path=...)), which no amount of row-level filtering
# can match. Centroids derive from md5 (like the LSH hyperplanes) —
# deterministic across engines, so the whole path is oracle-checkable;
# a learned k-means codebook would slot into the same interface.


def _centroid(c: int, dim: int) -> list[float]:
    """Deterministic unit-norm pseudo-random centroid from md5."""
    comps = []
    for d in range(dim):
        h = hashlib.md5(f"ivf{c}|{d}".encode()).hexdigest()
        comps.append(int(h[:8], 16) / float(0xFFFFFFFF) - 0.5)
    n = math.sqrt(sum(x * x for x in comps))
    return [x / n for x in comps]


def _cell_dots(mat: "np.ndarray", cents: "np.ndarray") -> "np.ndarray":
    """batch×C dot products, accumulated dim-sequentially so every
    float64 add happens in the same order as a per-element fold — the
    op order DuckDB's list kernels use, which is what keeps the
    argmax/oracle comparison bit-exact (cf. the cosine fold note in
    the module docstring). One vectorized pass per dim, not per row."""
    acc = np.zeros((mat.shape[0], cents.shape[0]))
    for d in range(mat.shape[1]):
        acc += np.outer(mat[:, d], cents[:, d])
    return acc


def _ivf_centroids(
    dim: int, n_centroids: int, centroids: "np.ndarray | None" = None
) -> "np.ndarray":
    """Explicit codebook if given (e.g. from ivf_train), else the
    deterministic md5 codebook (the oracle-able default)."""
    if centroids is not None:
        return np.asarray(centroids, dtype=np.float64)
    return np.array([_centroid(c, dim) for c in range(n_centroids)])


def ivf_assign_udf(dim: int, n_centroids: int = 16, centroids=None):
    """Arrow-vectorized cell assignment: argmax_c dot(v, centroid_c)
    (centroids unit-norm, so argmax dot ≡ argmax cosine; ties break to
    the lowest cell id via np.argmax)."""
    from pyspark.sql.functions import pandas_udf

    cents = _ivf_centroids(dim, n_centroids, centroids)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(_cell_dots(mat, cents), axis=1).astype(np.int32))

    return _assign


def ivf_probe_udf(dim: int, n_centroids: int = 16, n_probe: int = 4, centroids=None):
    """Per-query probe list: the n_probe nearest cells, ordered by
    (dot desc, cell id asc) — the deterministic tie-break the oracle
    mirrors with ORDER BY dot DESC, cid."""
    from pyspark.sql.functions import pandas_udf

    cents = _ivf_centroids(dim, n_centroids, centroids)

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        dots = _cell_dots(mat, cents)
        ids = np.arange(dots.shape[1])
        out = []
        for row in dots:
            order = np.lexsort((ids, -row))[:n_probe]
            out.append(order.astype(np.int32))
        return pd.Series(out)

    return _probe


def ivf_train(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Spherical k-means refinement of the codebook (Lloyd's): assign →
    per-cell mean → renormalize, starting from the deterministic md5
    centroids (so training is reproducible, no RNG). Returns the
    refined unit-norm centroid matrix for ivf_topk/ivf_write_index.

    Scale shape: assignment is the Arrow matmul pass; the centroid
    update is posexplode → groupBy(cid, pos) SUM — map-side combined,
    and only C×dim aggregate rows (a codebook, i.e. metadata, not row
    data) ever reach the driver. Empty cells keep their previous
    centroid. The quantization objective (mean max-dot) is
    non-decreasing per Lloyd's — pytest-checked.

    Determinism: per-cell component sums use DECIMAL(38,18) — exact,
    so the result is independent of Spark's partial-aggregation order
    AND reproducible by a SQL engine (the q_ivf_topk_trained oracle
    re-derives the whole training in DuckDB). Means divide the
    decimal-exact sum as float64; the renormalization accumulates the
    squared norm sequentially over dim — the same fold order as
    DuckDB's list_inner_product — keeping every derived double
    bit-exact across engines."""
    cents = _ivf_centroids(dim, n_centroids)
    v = corpus.filter(F.col(vec_col).isNotNull()).select(
        as_double(F.col(vec_col)).alias("v")
    )
    for _ in range(n_iter):
        assign = ivf_assign_udf(dim, n_centroids, centroids=cents)
        sums = (
            v.withColumn("cid", assign(F.col("v")))
            .select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((n_centroids, dim))
        cnt = np.zeros(n_centroids)
        for r in sums:
            acc[r["cid"], r["pos"]] = float(r["s"])  # exact-decimal → f64
            cnt[r["cid"]] = r["n"]
        for c in range(n_centroids):
            if cnt[c] > 0:
                mean = acc[c] / cnt[c]
                sq = 0.0
                for x in mean:  # sequential fold == list_inner_product
                    sq += x * x
                norm = math.sqrt(sq)
                if norm > 0:
                    new[c] = mean / norm
        cents = new
    return cents


def ivf_objective(
    corpus: DataFrame, centroids: "np.ndarray", vec_col: str = "embedding"
) -> float:
    """Quantization quality: mean over the corpus of max dot(v̂, c) —
    higher is tighter cells (vectors normalized so it's mean cosine)."""
    cents = np.asarray(centroids, dtype=np.float64)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _best(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(np.max(_cell_dots(mat, cents), axis=1))

    row = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(_best(as_double(F.col(vec_col))).alias("b"))
        .agg(F.avg(F.when(~F.isnan("b"), F.col("b"))))
        .collect()[0][0]
    )
    if row is None:
        raise ValueError("ivf_objective: no non-null vectors to score")
    return float(row)


def ivf_save_codebook(spark, path: str, centroids) -> None:
    """REGISTER the codebook beside its inverted file:
    (cid, centroid array<double>) parquet under `<path>/_codebook` —
    the leading underscore keeps the directory invisible to Spark's
    partition discovery, so index reads over `path` are untouched.
    Closes the hazard ivf_append_index's docstring admits ("a
    mismatched codebook silently mis-files vectors"): the codebook
    travels WITH the index, the dsir_fit / bpe_train registered-model
    shape, instead of being re-supplied correctly by every caller
    forever."""
    cents = np.asarray(centroids, dtype=np.float64)
    rows = [
        (int(c), [float(x) for x in cents[c]])
        for c in range(cents.shape[0])
    ]
    spark.createDataFrame(
        rows, "cid int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_codebook")


def ivf_load_codebook(spark, path: str) -> "np.ndarray":
    """Load a registered codebook (ivf_save_codebook) — loud,
    actionable error when the index has none."""
    from pyspark.errors import AnalysisException

    try:
        rows = (
            spark.read.parquet(path + "/_codebook")
            .orderBy("cid")
            .collect()
        )
    except AnalysisException as e:
        raise ValueError(
            f"ivf_load_codebook: no registered codebook under {path!r} "
            "— the index was written without a registered "
            "codebook; rebuild with ivf_write_index (which registers "
            "it) or pass centroids explicitly"
        ) from e
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def _codebook_exists(spark, path: str) -> bool:
    """True iff a registered codebook directory is readable. Catches
    ONLY the path-not-found AnalysisException (like ivf_load_codebook):
    a transient IO/permission/corruption error must propagate loudly —
    swallowed, it would silently fall back to the md5 default codebook
    and mis-file every appended vector."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path + "/_codebook")
        return True
    except AnalysisException:
        return False


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    mode: str = "overwrite",
    epoch: int | None = None,
) -> None:
    """Materialize the inverted file: corpus + cell id, parquet
    PARTITIONED BY cell. A probing search that filters on `cid` then
    scans only n_probe/(n_centroids) of the data — partition pruning,
    the scan-level win row filtering can't give (verified in
    tests/test_pipeline.py by reading the pruned plan). The
    repartition bounds file count to one per touched cell per batch
    (small-files guard); mode='append' is the incremental-add path
    (see ivf_append_index). `epoch` switches to the replay-idempotent
    layout: a leading epoch=<n> partition + dynamic partition
    overwrite (see ivf_append_index's contract) — ONE write path
    serves the batch, append, and streaming-epoch cases.

    Codebook registration: a FRESH build
    (mode='overwrite') persists its codebook — explicit or the md5
    default — under `<path>/_codebook`, so appends and probes can
    load the registered one instead of trusting every caller to
    re-supply it identically forever (the silent-mis-filing hazard)."""
    cents = _ivf_centroids(dim, n_centroids, centroids)
    spark = corpus.sparkSession
    if (
        mode == "overwrite"
        and epoch is not None
        and _codebook_exists(spark, path)
    ):
        # An epoch-layout "overwrite" replaces ONE epoch's partitions,
        # not the index: re-registering a different codebook here would
        # leave earlier epochs filed under the old one — the exact
        # mixed-codebook index the append-path validation prevents.
        # Validate like ivf_append_index instead.
        registered = ivf_load_codebook(spark, path)
        got = np.asarray(cents, dtype=np.float64)
        if got.shape != registered.shape or not np.array_equal(
            got, registered
        ):
            raise ValueError(
                f"ivf_write_index: epoch overwrite under a codebook "
                f"different from the one registered at {path!r} "
                f"(registered {registered.shape}, got {got.shape}) — "
                "earlier epochs would stay filed under the old "
                "codebook; rebuild the whole index (epoch=None) to "
                "change codebooks"
            )
    assign = ivf_assign_udf(dim, n_centroids, cents)
    body = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col),
        assign(as_double(F.col(vec_col))).alias("cid"),
    )
    _write_cells(body, path, mode, epoch)
    if mode == "overwrite":
        ivf_save_codebook(spark, path, cents)


def _write_cells(body: DataFrame, path: str, mode: str, epoch: int | None) -> None:
    """THE one physical write for every inverted-file layout: cid=
    partitioned parquet with the repartition small-files guard (one
    file per touched cell per write); with `epoch`, the leading
    epoch=<n> partition + dynamic partition overwrite (replay
    idempotence). ivf_write_index, ivf_append_index, and
    ivf_compact_index all land here — a layout or file-bounding
    change happens once, for fresh builds, appends, and compactions
    alike."""
    if epoch is None:
        body.repartition(F.col("cid")).write.mode(mode).partitionBy(
            "cid"
        ).parquet(path)
        return
    (
        body.withColumn("epoch", F.lit(int(epoch)))
        .repartition(F.col("cid"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", "cid")
        .parquet(path)
    )


def ivf_append_index(
    new_vectors: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    epoch: int | None = None,
) -> None:
    """Incrementally add vectors to an existing inverted file WITHOUT
    rewriting the corpus: the batch is assigned cells under the SAME
    codebook (pass the identical centroids the index was built with —
    a mismatched codebook silently mis-files vectors) and appended as
    new parquet files inside the matching cid= partition directories.
    Existing files are untouched; partition pruning on probe keeps
    working because appends land in the same cid= layout. Append-only
    semantics: re-adding an id duplicates it (dedup upstream, or use
    the keyed store for replace semantics). One write path: this is
    ivf_write_index in append mode.

    `epoch` (foreachBatch epoch id) makes the append IDEMPOTENT under
    micro-batch replay: the batch lands under an extra leading
    epoch=<n> partition and the write is a DYNAMIC partition overwrite,
    so a replayed epoch overwrites exactly its own epoch=<n>/cid=*
    directories instead of appending duplicates. Probe-side `cid IN`
    partition pruning still applies (cid stays a partition column at
    every epoch); an index must be epoch-partitioned from its first
    write or not at all — mixing layouts breaks partition inference.
    A long-running stream accumulates one epoch=<n> subtree per
    micro-batch — fold them periodically with ivf_compact_index.

    Codebook contract: with centroids=None the append
    LOADS the codebook registered at build time (`<path>/_codebook`)
    — the recommended call shape; nothing to mis-supply. Explicit
    centroids are VALIDATED against the registered codebook when one
    exists (exact float64 equality — both sides derive from the same
    deterministic training) and a mismatch raises instead of silently
    mis-filing every appended vector. An index with no registered
    codebook trusts the caller's centroids when they are passed, and
    centroids=None on such an index means "the md5 default"."""
    spark = new_vectors.sparkSession
    if _codebook_exists(spark, path):
        registered = ivf_load_codebook(spark, path)
        if centroids is None:
            centroids = registered
        else:
            got = np.asarray(centroids, dtype=np.float64)
            if got.shape != registered.shape or not np.array_equal(
                got, registered
            ):
                raise ValueError(
                    f"ivf_append_index: supplied centroids do not match "
                    f"the codebook registered at {path!r} "
                    f"(registered {registered.shape}, got {got.shape}) — "
                    "appending under a different codebook would silently "
                    "mis-file every vector; pass centroids=None to use "
                    "the registered codebook"
                )
    ivf_write_index(
        new_vectors, path, dim, n_centroids, id_col, vec_col, centroids,
        mode="append", epoch=epoch,
    )


def ivf_compact_index(
    spark, path: str, out_path: str, upto_epoch: int | None = None
) -> int:
    """Fold an epoch-partitioned streaming index (epoch=<n>/cid=<m>,
    one subtree per micro-batch — thousands of directories after a
    long run, which taxes listing and footer reads) into the plain
    cid= layout at `out_path`: same row MULTISET (duplicates from
    re-added ids preserved — pytest-asserted), epoch column dropped,
    one file per cell (the shared _write_cells small-files guard).

    LIVE-STREAM PROTOCOL — the fold must be EPOCH-BOUNDED, never
    "whatever is on disk right now": `upto_epoch` pins the folded
    range to epochs <= it (partition-pruned read; epochs committed
    concurrently above the bound are never touched or torn). Default
    = the max epoch currently listed. Returns the bound so the caller
    knows the cut. Two sound usages:

    - search replica: keep the stream appending to `path`; serve ANN
      searches from out_path UNION path-filtered-to epochs > bound
      (both prune on cid), re-folding periodically;
    - finalization: quiesce/stop the stream, fold with the default
      bound, repoint readers (path flip) — the compacted layout
      cannot take epoch appends (mixing layouts breaks partition
      inference), so only a stopped stream may be repointed.

    Caveat shared with every bounded fold: a foreachBatch REPLAY of an
    epoch <= the bound (possible only in the failure window right
    after a crash) rewrites a folded directory mid-read; fold while
    the stream is healthy, or pass upto_epoch safely below the last
    committed epoch to stay clear of the replay window."""
    idx = spark.read.parquet(path)
    if upto_epoch is None:
        # "max epoch currently LISTED" literally: epoch is a partition
        # column, so take the bound from the already-performed driver
        # file listing (inputFiles paths carry epoch=<n>) — an
        # agg(max(epoch)) here would scan every row of every epoch
        # just to learn a directory name
        import re

        epochs = {
            int(m.group(1))
            for f in idx.inputFiles()
            if (m := re.search(r"epoch=(\d+)/", f))
        }
        if not epochs:
            raise ValueError(f"ivf_compact_index: no epochs under {path}")
        upto_epoch = max(epochs)
    body = idx.filter(F.col("epoch") <= F.lit(int(upto_epoch))).drop("epoch")
    _write_cells(body, out_path, mode="overwrite", epoch=None)
    # the registered codebook travels with the fold: a
    # compacted replica must stay appendable/probeable under the SAME
    # codebook or every later vector would be silently mis-filed
    if _codebook_exists(spark, path):
        ivf_save_codebook(spark, out_path, ivf_load_codebook(spark, path))
    return upto_epoch


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    cells_path: str | None = None,
) -> DataFrame:
    """IVF ANN top-k: score only corpus vectors whose cell is among the
    query's n_probe nearest cells. Each corpus vector lives in exactly
    ONE cell (unlike LSH bands) — no candidate dedup needed. Recall < 1
    by construction (pytest-checked vs brute force); the probe
    restriction itself is deterministic, so the path is fully
    oracle-checkable. Pass centroids from ivf_train for a learned
    codebook (the md5 default is the oracle path).

    ``cells_path`` is the 100 TB search path: instead of re-assigning
    the corpus per search, read the materialized inverted file
    (ivf_write_index — parquet PARTITIONED BY cid, same centroids) and
    filter to the UNION of all queries' probe cells first. The probed
    cell ids are driver-side metadata (bounded by n_centroids), so the
    filter is a literal `cid IN (...)` the scan turns into PARTITION
    PRUNING — only n_probe-ish of n_centroids directories are even
    listed (plan-asserted in tests/test_pipeline.py); the per-query
    cid join then refines within the pruned read."""
    probe = ivf_probe_udf(dim, n_centroids, n_probe, centroids)
    # the n_probe fan-out carries ONLY (query_id, cid); the dim-wide
    # vector joins back at scoring time, so the broadcast is
    # |queries| x dim once — not duplicated per probed cell (the same
    # don't-ship-vectors-through-the-fanout rule lsh_topk documents)
    qframe = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    probes = qframe.select(
        "query_id", F.explode(probe(F.col("qv"))).alias("cid")
    )
    if cells_path is not None:
        spark = corpus.sparkSession
        # The cid collect below re-executes the probe UDF (the join
        # recomputes it lazily later). Deliberately NOT persisted: a
        # lazily-returned frame's cache could never be unpersisted by
        # the caller and would leak per search in a long-lived session;
        # the duplicated work is QUERY-side only (nq x n_centroids
        # dots — trivial next to the corpus cell scan this path
        # exists to prune).
        probed = sorted(
            r[0] for r in probes.select("cid").distinct().collect()
        )  # metadata, ≤ n_centroids values — never row data
        cells = (
            spark.read.parquet(cells_path)
            .filter(F.col("cid").isin(probed))
            .select(
                F.col(id_col).alias("neighbor_id"),
                as_double(F.col(vec_col)).alias("cv"),
                F.col("cid").cast("int").alias("cid"),
            )
        )
    else:
        assign = ivf_assign_udf(dim, n_centroids, centroids)
        cells = corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
            assign(as_double(F.col(vec_col))).alias("cid"),
        )
    scored = (
        F.broadcast(probes)
        .join(cells, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(qframe), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    return _topk_per_query(scored, k)


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 64,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos ≥ threshold)
    via the LSH bucket join — the all-pairs dedup path.

    Three-stage funnel, each stage strictly cheaper per row:
    1. band-key self-join on 8-bit sketch bands (ids + sketches only —
       vectors don't ride through the shuffle);
    2. Hamming pre-filter: bit_count(sk_a ^ sk_b) ≤ bound(threshold)
       — pure codegen, kills the random collisions;
    3. exact cosine (interpreted fold) on the survivors only, after
       joining the vectors back by id.
    """
    sk = sketch_udf(dim, n_planes)
    # NULL vectors can't be sketched (np.stack raises in the UDF)
    df = df.filter(F.col(vec_col).isNotNull())
    sketches = df.select(
        F.col(id_col).alias("vid"),
        sk(as_double(F.col(vec_col))).alias("sk"),
    )
    # Both sides of the self-join are the SAME logical plan, so the
    # shuffle they feed is a ReusedExchange: the Arrow-UDF sketch pass
    # runs once without persist() (which, on a lazily-returned frame,
    # would pin cache blocks for the session lifetime — nobody could
    # unpersist). Verified in the physical plan (tests/test_pipeline).
    banded = sketches.select(
        "vid", "sk", F.explode(_band_keys(F.col("sk"), n_planes, n_bands)).alias("band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, "band_key")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.sk").alias("sk_a"),
            F.col("b.sk").alias("sk_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(
            F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
            <= hamming_bound(threshold, n_planes)
        )
    )
    vecs = df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    va = vecs.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    survivors = pairs.select("id_a", "id_b").join(va, "id_a").join(vb, "id_b")
    return (
        survivors.select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos")
        )
        # Spark orders NaN above every value, so a NaN cosine (a NaN
        # vector component; zero-norms are already NULL) would pass a
        # bare >= threshold and flag a false near-dup
        .filter(~F.isnan("cos") & (F.col("cos") >= threshold))
    )


def cluster_corpus(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus clustering by centroid argmax: adds `cluster_id` and
    `cos` (cosine to the row's own centroid) to (id, vector) rows.

    The assignment is the same Arrow-vectorized argmax-dot pass the
    IVF index uses (`ivf_assign_udf`); pair with `ivf_train` for
    learned spherical-k-means centroids. The centroid lookup for the
    cosine column is a broadcast join on the C-row codebook — C×dim
    metadata, never row data, so no shuffle is added: the whole
    operator is one Arrow pass + one broadcast hash join.
    """
    cents = _ivf_centroids(dim, n_centroids, centroids)
    assign = ivf_assign_udf(dim, n_centroids, cents)
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cluster_id int, centroid array<double>",
    )
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("cluster_id", assign(F.col("v")))
    return base.join(F.broadcast(cent_df), "cluster_id").select(
        id_col, "cluster_id", cosine(F.col("v"), F.col("centroid")).alias("cos")
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    threshold: float = 0.9,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefilter: bool = True,
    n_planes: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic pruning: cluster by centroid argmax,
    pairwise cosine WITHIN each cluster only, and mark the greater id
    of every pair ≥ threshold as dropped. Returns (id, cluster_id,
    keep) — keep=false rows are the semantic near-duplicates a
    curation pipeline removes.

    Scale shape: the pairwise stage is a self-join on cluster_id, so
    candidate volume is Σ|cluster|² instead of n² — size n_centroids
    ≈ N / target_cluster_size to bound it (the IVF codebook scales to
    tens of thousands of cells; at that point write the assignment
    with ivf_write_index and the self-join is partition-co-located).
    With `prefilter` (default), candidate pairs carry only (id,
    64-bit sketch) through the join and a Hamming cut
    (bit_count(xor) ≤ bound(threshold)) kills non-duplicates BEFORE
    vectors are joined back for the exact cosine — the same funnel as
    embedding_near_dups, and what keeps a fat cluster's cost at
    sketch-ops instead of dim-length folds (measured 6.6x→~1x at the
    sf1 probe, SCALE.md). The sketch cut is probabilistic with a
    2-sigma slack — the embedding_near_dups recall pytest covers the
    construction; prefilter=False is the exact-recall path.
    Cross-cluster near-dups are the documented recall trade (the
    SemDeDup design point); run exact/byte dedup first.
    """
    cents = _ivf_centroids(dim, n_centroids, centroids)
    assign = ivf_assign_udf(dim, n_centroids, cents)
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("cluster_id", assign(F.col("v")))
    # Both join branches are the same plan → the cluster_id shuffle is
    # a ReusedExchange; the Arrow assignment pass runs once.
    if prefilter:
        sk = sketch_udf(dim, n_planes)
        light = base.select("cluster_id", "vid", sk(F.col("v")).alias("sk"))
        a = light.select(
            "cluster_id", F.col("vid").alias("id_a"), F.col("sk").alias("sk_a")
        )
        b = light.select(
            "cluster_id", F.col("vid").alias("id_b"), F.col("sk").alias("sk_b")
        )
        cand = (
            a.join(b, "cluster_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
                <= hamming_bound(threshold, n_planes)
            )
            .select("id_a", "id_b")
        )
        vecs = base.select("vid", "v")
        pairs = cand.join(
            vecs.select(F.col("vid").alias("id_a"), F.col("v").alias("va")), "id_a"
        ).join(
            vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("vb")), "id_b"
        )
    else:
        a = base.select(
            "cluster_id", F.col("vid").alias("id_a"), F.col("v").alias("va")
        )
        b = base.select(
            "cluster_id", F.col("vid").alias("id_b"), F.col("v").alias("vb")
        )
        pairs = a.join(b, "cluster_id").filter(F.col("id_a") < F.col("id_b"))
    # cosine() is a deterministic fold, so the optimizer pushes this
    # filter below the projection and inlines the fold into both of
    # its conjuncts (the projection above keeps only id_b); evaluating
    # it once per pair rests on Spark's subexpression elimination.
    dropped = (
        pairs.select(
            "id_b", cosine(F.col("va"), F.col("vb")).alias("_pc")
        )
        .filter(~F.isnan(F.col("_pc")) & (F.col("_pc") >= F.lit(threshold)))
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    verdicts = base.join(dropped, "vid", "left").select(
        F.col("vid").alias(id_col),
        "cluster_id",
        (~F.coalesce(F.col("_dropped"), F.lit(False))).alias("keep"),
    )
    # NULL-embedding docs are not semantic duplicates of anything: emit
    # them with keep=true (cluster NULL) instead of silently omitting
    # them — a curator semi-joining on keep=true must not lose them.
    nulls = df.filter(F.col(vec_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("int").alias("cluster_id"),
        F.lit(True).alias("keep"),
    )
    return verdicts.unionByName(nulls)


# --------------------------------------------------------------------------
# Product quantization (PQ): compressed-vector ANN.
#
# IVF above prunes WHICH vectors get scored; PQ compresses HOW each
# vector is stored and scored: dim float32 components (256 B at
# dim=64) become m uint8 codes (8 B at m=8) — a 32x memory/bandwidth
# cut, which is what makes exhaustive re-ranking over billions of
# vectors feasible (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011; the FAISS IVF-PQ pairing). ADC scoring
# is a linear scan of the codes with per-query lookup tables — at
# 100 TB you run it AFTER an IVF probe prune (compose: ivf_topk's cid
# pruning feeding pq-encoded cells).
#
# Exactness contract (same discipline as the IVF trainer): codebook
# training sums components in DECIMAL(38,18) (partial-agg-order
# independent), every dot/distance fold accumulates dim-sequentially
# (_cell_dots / F.aggregate / DuckDB list_inner_product all add in
# index order), and ADC totals sum per-subspace decimals — so codes,
# tables, and rankings are bit-reproducible and the full train→encode
# →search pipeline is value-checked by the q_pq_topk DuckDB oracle.


def _sq_norm_seq(arr) -> float:
    """Sequential Σx² — the same fold order as list_inner_product."""
    sq = 0.0
    for x in arr:
        sq += float(x) * float(x)
    return sq


def pq_init(
    corpus: DataFrame,
    dim: int,
    m: int,
    ksub: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "np.ndarray":
    """Deterministic data-derived init: codebook[s][c] = subvector s
    of the vector with the c-th smallest id (no RNG; 16 rows to the
    driver). Shape (m, ksub, dim//m)."""
    dsub = dim // m
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("i"), as_double(F.col(vec_col)).alias("v"))
        .orderBy("i")
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"pq_init: need >= {ksub} vectors, have {len(rows)}")
    cb = np.zeros((m, ksub, dsub))
    for c, r in enumerate(rows):
        v = np.asarray(r["v"], dtype=np.float64)
        for s in range(m):
            cb[s, c] = v[s * dsub : (s + 1) * dsub]
    return cb


def _pq_subrows(
    corpus: DataFrame, dim: int, m: int, vec_col: str, id_col: str
) -> DataFrame:
    """(id, sub, sv): each vector split into its m subvectors — a
    static slice list (codegen), fanned out with ONE posexplode."""
    if m < 1 or dim % m != 0:
        # validated HERE (the shared fan-out every PQ path goes
        # through) so ivfpq_topk / pq_train / pq_encode can't silently
        # truncate the vector tail the way a bare dim // m would
        raise ValueError(f"dim ({dim}) must divide evenly into m ({m}) subspaces")
    dsub = dim // m
    slices = F.array(
        *[F.slice(as_double(F.col(vec_col)), s * dsub + 1, dsub) for s in range(m)]
    )
    return corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.posexplode(slices).alias("sub", "sv")
    )


def pq_assign_udf(codebooks: "np.ndarray"):
    """Arrow-vectorized per-subspace code assignment:
    argmin_c |sv - cb[sub][c]|² computed as argmax of
    dot(sv, c) - |c|²/2 (the |sv|² term is constant per row), with
    dim-sequential accumulation and np.argmax's lowest-code
    tie-break — exactly the oracle's ORDER BY lip - sqn/2 DESC, code."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64)
    half_sqn = np.array(
        [[_sq_norm_seq(cb[s, c]) for c in range(cb.shape[1])]
         for s in range(cb.shape[0])]
    ) * 0.5

    @pandas_udf("int")
    def _assign(sub: pd.Series, sv: pd.Series) -> pd.Series:
        subs = sub.to_numpy()
        mat = np.stack(sv.to_numpy()).astype(np.float64)
        out = np.zeros(len(subs), dtype=np.int32)
        for s in np.unique(subs):
            mask = subs == s
            scores = _cell_dots(mat[mask], cb[s]) - half_sqn[s]
            out[mask] = np.argmax(scores, axis=1).astype(np.int32)
        return pd.Series(out)

    return _assign


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "np.ndarray":
    """Per-subspace Lloyd's k-means on the subvectors (plain
    Euclidean — PQ codebooks are not renormalized). All m subspaces
    train in ONE distributed pass per iteration: subvector fan-out →
    assignment UDF → per-(sub, code, pos) DECIMAL component sums;
    only m·ksub·dsub aggregate rows (the codebook itself) reach the
    driver. Empty cells keep their previous centroid."""
    cb = pq_init(corpus, dim, m, ksub, vec_col, id_col)
    dsub = dim // m
    sub = _pq_subrows(corpus, dim, m, vec_col, id_col)
    for _ in range(n_iter):
        assign = pq_assign_udf(cb)
        sums = (
            sub.withColumn("code", assign(F.col("sub"), F.col("sv")))
            .select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = cb.copy()
        acc = np.zeros((m, ksub, dsub))
        cnt = np.zeros((m, ksub))
        for r in sums:
            acc[r["sub"], r["code"], r["pos"]] = float(r["s"])
            cnt[r["sub"], r["code"]] = r["n"]
        for s in range(m):
            for c in range(ksub):
                if cnt[s, c] > 0:
                    new[s, c] = acc[s, c] / cnt[s, c]
        cb = new
    return cb


def pq_encode(
    corpus: DataFrame,
    dim: int,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, sub, code) rows — the compressed index (m small ints per
    vector; persist partitioned however the serving layout needs)."""
    m = int(np.asarray(codebooks).shape[0])
    assign = pq_assign_udf(codebooks)
    return _pq_subrows(corpus, dim, m, vec_col, id_col).select(
        F.col(id_col),
        "sub",
        assign(F.col("sub"), F.col("sv")).alias("code"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    n_iter: int = 2,
    codebooks: "np.ndarray | None" = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: train (or take) PQ codebooks,
    encode the corpus to (id, sub, code), build each query's m×ksub
    distance table against the RAW query subvectors, and rank
    neighbors by the summed table lookups.

    Scale: the distance tables (|queries|·m·ksub rows) broadcast; the
    scan is encoded-codes ⨝ broadcast-table → groupBy(query,
    neighbor) — map-side combined, never a |queries|×|corpus| sort.
    Each per-subspace d² is the three-fold identity
    |q|² - 2·q·c + |c|² (every fold dim-sequential) cast to
    DECIMAL(38,18), so ADC totals are addition-order independent and
    the ranking ties out bit-for-bit against the oracle. Returns
    (query_id, neighbor_id, approx_d2 rounded, rank); self-matches
    excluded."""
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must divide evenly into m ({m}) subspaces")
    if codebooks is None:
        codebooks = pq_train(corpus, dim, m, ksub, n_iter, vec_col, id_col)
    return _adc_rank(corpus, queries, dim, m, codebooks, k, vec_col, id_col)


def _adc_rank(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int,
    codebooks: "np.ndarray",
    k: int,
    vec_col: str,
    id_col: str,
    cands: DataFrame | None = None,
) -> DataFrame:
    """The shared ADC scoring/ranking tail of pq_topk and ivfpq_topk —
    ONE copy of the exactness-critical machinery (dim-sequential
    folds, decimal(38,18) table entries, salted min-k). `cands` =
    optional (query_id, id_col) candidate pairs to score (IVF probe
    pruning); None scores every query against the whole encoded
    corpus, self-matches excluded either way."""
    cb = np.asarray(codebooks, dtype=np.float64)
    spark = corpus.sparkSession
    cb_df = spark.createDataFrame(
        [
            (s, c, [float(x) for x in cb[s, c]])
            for s in range(cb.shape[0])
            for c in range(cb.shape[1])
        ],
        "sub int, code int, cv array<double>",
    )
    qsub = _pq_subrows(
        queries, dim, m, vec_col, id_col
    ).withColumnRenamed(id_col, "query_id")
    # dot() IS the module's exactness-critical sequential fold; the
    # squared norm is dot(a, a) (same multiply-then-accumulate order),
    # so the ADC tables share one implementation with the cosine path.
    d2 = (
        dot(F.col("sv"), F.col("sv"))
        - F.lit(2.0) * dot(F.col("sv"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    dtab = qsub.join(cb_df, "sub").select(
        "query_id", "sub", "code", d2.cast("decimal(38,18)").alias("d2")
    )
    enc = pq_encode(corpus, dim, cb, vec_col, id_col)
    if cands is None:
        scored_rows = enc.join(F.broadcast(dtab), ["sub", "code"]).where(
            F.col("query_id") != F.col(id_col)
        )
    else:
        scored_rows = cands.join(enc, id_col).join(
            F.broadcast(dtab), ["query_id", "sub", "code"]
        )
    scored = scored_rows.groupBy(
        "query_id", F.col(id_col).alias("neighbor_id")
    ).agg(F.sum("d2").alias("d2"))
    out = _topk_per_query(scored, k, "d2", descending=False)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("d2").cast("double"), 6).alias("approx_d2"),
        F.col("rank").cast("int").alias("rank"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    n_iter: int = 2,
    codebooks: "np.ndarray | None" = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF + PQ composed — the FAISS-style serving shape: the coarse
    quantizer (deterministic md5 centroids, same as ivf_topk's
    untrained path) prunes WHICH vectors each query scores (n_probe of
    n_centroids cells ~ a 4/16 = 75% scan cut here), and PQ codes
    compress HOW the survivors are scored (ADC lookup sums over
    m-byte codes instead of dim-float math). Candidates = corpus
    vectors whose cell is probed; scoring and ranking are exactly
    pq_topk's decimal ADC. Codes here quantize the RAW vectors (not
    per-cell residuals — residual encoding would couple the codebooks
    to the coarse assignment; at equal bytes it ranks tighter, but
    raw-vector codes let ONE codebook serve any probe set and keep
    the pipeline SQL-derivable end-to-end, which is what the oracle
    value-checks).

    At 100 TB: persist the encoded index partitioned by cid (the
    ivf_write_index layout with (sub, code) columns instead of the
    float vector) — the probe filter then becomes partition pruning
    and the ADC scan reads only probed directories at 32x fewer bytes
    per vector."""
    cents = _ivf_centroids(dim, n_centroids)
    assign = ivf_assign_udf(dim, n_centroids, centroids=cents)
    probe = ivf_probe_udf(dim, n_centroids, n_probe, centroids=cents)
    cassign = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), assign(as_double(F.col(vec_col))).alias("cid")
    )
    qprobe = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.explode(probe(as_double(F.col(vec_col)))).alias("cid"),
    )
    cands = (
        qprobe.join(cassign, "cid")
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col)
    )
    if codebooks is None:
        codebooks = pq_train(corpus, dim, m, ksub, n_iter, vec_col, id_col)
    return _adc_rank(
        corpus, queries, dim, m, codebooks, k, vec_col, id_col, cands=cands
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evals: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space eval decontamination: flag every CORPUS vector
    whose best cosine against the (small) eval set reaches
    `threshold` — the semantic analog of the exact/bloom n-gram
    decontamination in pipeline/dedup.py, catching paraphrased or
    re-tokenized benchmark leakage that text hashing misses.

    Join orientation is the scale contract: the EVAL set broadcasts
    (benchmarks are small), the corpus streams through one scan and
    never shuffles full-width — per-corpus-row best-of is the salted
    two-phase top-k (k=1) from _topk_per_query, never a window over
    |corpus| x |evals| rows. Output: (id_col, eval_id, cos) for
    flagged rows only, deterministic (cos desc, eval_id asc) choice
    among ties.
    """
    # fan-out floor: the |corpus|x|evals| interpreted
    # cosine folds (~60 us/pair) run on the corpus side's scan
    # partitioning (evals broadcast) — the one similarity path where
    # the paired probe showed the floor paying for its exchange
    # (q_semantic_decontaminate_fixed 4.31 -> 1.39 s; the pure-numpy
    # Arrow-kernel paths measured FASTER on raw scan splits, so they
    # deliberately do not floor)
    c = ensure_fanout_parallelism(corpus.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("cv")
    ))
    e = evals.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("ev")
    )
    scored = c.join(F.broadcast(e)).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("cv"), F.col("ev")).alias("cos"),
    )
    best = _topk_per_query(scored, k=1)
    return (
        best.where(~F.isnan("cos") & (F.col("cos") >= threshold))
        .select(
            F.col("query_id").alias(id_col),
            F.col("neighbor_id").alias("eval_id"),
            F.round(F.col("cos"), 6).alias("cos"),
        )
    )


def embedding_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    dim: int,
    n_centroids: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell distribution drift between two embedding snapshots —
    the 'did my corpus move' monitor a training pipeline runs between
    crawls: both snapshots are assigned to the SAME deterministic
    md5-centroid codebook (the IVF cell space), and each cell reports
    its share in A, share in B, and the share delta. At 100 TB the
    exchange carries n_centroids partial counts per side — the
    whole comparison is two map-side-combined aggregates plus a
    cells-sized join; no pairwise anything.

    Shares are one IEEE division of exact counts (cross-engine
    identical), deltas rounded at 6 dp; cells absent from a snapshot
    report 0. Output: (cid, n_a, n_b, share_a, share_b, drift),
    drift = share_b - share_a.
    """
    assign = ivf_assign_udf(dim, n_centroids)

    def cells(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(assign(as_double(F.col(vec_col))).alias("cid"))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).cast("bigint").alias(alias))
        )

    a, b = cells(emb_a, "n_a"), cells(emb_b, "n_b")
    tot = (
        a.agg(F.sum("n_a").alias("_ta"))
        .crossJoin(b.agg(F.sum("n_b").alias("_tb")))
    )
    joined = (
        a.join(b, "cid", "full_outer")
        .select(
            "cid",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
        )
        .crossJoin(F.broadcast(tot))
    )
    share_a = F.col("n_a").cast("double") / F.col("_ta").cast("double")
    share_b = F.col("n_b").cast("double") / F.col("_tb").cast("double")
    return joined.select(
        "cid",
        "n_a",
        "n_b",
        F.round(share_a, 6).alias("share_a"),
        F.round(share_b, 6).alias("share_b"),
        F.round(share_b - share_a, 6).alias("drift"),
    ).orderBy("cid")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    k most-similar corpus vectors with a DIFFERENT label — maximally
    confusing negatives, the pair-mining pass an embedding-model
    pipeline runs over its corpus. Same broadcast-queries /
    corpus-never-moves shape as brute_force_topk with the label
    inequality applied BEFORE scoring (so same-label pairs never cost
    a dot product), and the same salted two-phase exact top-k.
    Output: (query_id, neighbor_id, cos, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("_ql"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.col(label_col).alias("_cl"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            # NULL-labeled vectors match nothing (unknown label is not
            # evidence of a negative pair)
            & F.col("_ql").isNotNull()
            & F.col("_cl").isNotNull()
            & (F.col("_ql") != F.col("_cl"))
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    return _topk_per_query(scored, k)


def ann_recall_report(
    index_topk: DataFrame,
    brute_topk: DataFrame,
    k: int,
) -> DataFrame:
    """ANN QUALITY report: one row grading an approximate
    index's top-k against brute-force ground truth over the same query
    set — the "no silent caps" discipline applied to ANN recall as a
    graded report, not only a pytest assertion. Inputs are two
    (query_id, neighbor_id, rank) frames (brute = truth). Output:
    (k, n_queries, n_truth, n_hits, recall_at_k,
    mean_rank_displacement) where recall_at_k = hits / truth rows
    (ONE IEEE division) and mean_rank_displacement averages
    |index rank - true rank| over the hits (0.0 when no hits, so an
    empty index reads as recall 0 / displacement 0 rather than NULL).

    Scale shape: both inputs are already top-k-per-query sized
    (n_queries x k rows); the join is on (query_id, neighbor_id) and
    the report is one aggregate row — run it on a SAMPLED query set,
    never the full corpus (ground truth is the quadratic part)."""
    idx = index_topk.select(
        "query_id", "neighbor_id", F.col("rank").alias("_ri")
    )
    truth = brute_topk.select(
        "query_id", "neighbor_id", F.col("rank").alias("_rt")
    )
    joined = truth.join(idx, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.lit(k).cast("int").alias("k"),
        F.count_distinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count("_ri").cast("bigint").alias("n_hits"),
        # guarded division: an EMPTY truth frame must read as recall
        # 0.0, not NULL (non-ANSI) or DIVIDE_BY_ZERO (the driver's
        # ANSI session)
        F.when(
            F.count(F.lit(1)) > 0,
            F.count("_ri").cast("double")
            / F.count(F.lit(1)).cast("double"),
        ).otherwise(F.lit(0.0)).alias("recall_at_k"),
        F.round(
            F.coalesce(
                F.avg(F.abs(F.col("_ri") - F.col("_rt"))), F.lit(0.0)
            ),
            6,
        ).alias("mean_rank_displacement"),
    )
