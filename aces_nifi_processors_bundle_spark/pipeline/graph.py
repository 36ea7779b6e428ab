"""Graph analytics as iterative DataFrame jobs.

Connected components already live in pipeline/dedup.py
(near_dup_clusters — min-label propagation for dedup clustering);
this module adds PageRank, the canonical iterative-algorithm shape:
a fixed number of power-method sweeps, each one join + one
aggregation, with the lineage checkpointed per round.

Determinism (the property that makes an iterative float algorithm
DuckDB-oracle-checkable, same construction as the spherical-k-means
training oracle): each per-vertex contribution r/outdeg is a single
IEEE division (bit-identical everywhere), contributions are rounded
to 15 decimals and summed as DECIMAL(38,18) — exact, associative,
independent of Spark's partial-aggregation order — and only then
does the damped update run in float64. Every iteration is therefore
reproducible bit-for-bit by unrolled SQL CTEs — including the
weighted and dangling-redistribution variants (the dangling mass is
itself a decimal-exact sum, converted to float once per sweep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lineage import cut_lineage, prepare_checkpoint


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    dangling: str = "ignore",
    checkpoint: str = "local",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list; returns
    (vertex, rank) after `n_iter` sweeps from the uniform vector.

    weight: None collapses parallel edges to one (unweighted). A
    column name switches to weighted PageRank: parallel edges are
    pre-aggregated to per-(src,dst) weight sums (pass a lit(1) column
    for multigraph repeat counts) and each vertex splits its rank
    proportionally to out-edge weight. Fractional weights are
    supported — they are rounded to 15 decimals and summed as
    DECIMAL(38,18), keeping the sums exact and shuffle-order-
    independent (weights must be non-negative; under dangling="ignore"
    a vertex whose out-weights sum to 0 keeps its edges but
    contributes nothing).

    dangling: "ignore" gives dangling vertices (no out-edges) only the
    teleport term — rank is NOT conserved unless the edge list is
    symmetrized. "redistribute" computes the dangling rank mass each
    sweep (a decimal-exact one-row aggregate collected to the driver —
    metadata-scale, one scalar per sweep) and spreads it uniformly, so
    sum(rank) == 1 on arbitrary graphs — including weighted graphs
    with zero-out-weight vertices, which redistribute classifies as
    dangling (they emit no mass, exactly like a vertex with no
    out-edges at all).

    checkpoint: "local" truncates lineage with localCheckpoint —
    fastest, but blocks live on executors, so an executor loss
    mid-run kills the job (right for local[] and short jobs).
    "reliable" uses checkpoint() against the context's checkpoint
    directory (pass checkpoint_dir or pre-set it on the SparkContext)
    — survives executor loss at the cost of writing each cut to
    reliable storage; the right mode for long multi-sweep runs on a
    real cluster.

    Scale shape per sweep: one shuffle join (ranks ⋈ edges on src —
    ranks is vertex-sized, edges dominate) + one hash aggregation on
    dst with map-side partials; lineage cut after each sweep bounds
    plan depth exactly like near_dup_clusters' rounds. N (the vertex
    count) and the dangling mass are driver-side scalars — metadata,
    not row data.
    """
    if dangling not in ("ignore", "redistribute"):
        raise ValueError(f"pagerank: unknown dangling mode {dangling!r}")
    prepare_checkpoint(edges.sparkSession, checkpoint, checkpoint_dir)
    # Cut the normalized edge list ONCE: every sweep joins it, and
    # without the cut each sweep would re-execute the caller's whole
    # edge-derivation plan (measured 3x the runtime on the trade-graph
    # query, whose edges come from a lineitem⋈orders join).
    # Weights carry as DECIMAL(38,18) of round(w, 15): parallel-edge
    # and out-degree sums stay exact and shuffle-order-independent for
    # FRACTIONAL weights too (a double sum would be nondeterministic;
    # a bigint cast would silently truncate 0.7 to 0 and leak rank).
    # Integer counts are unchanged by the rounding, so the unweighted
    # oracle still holds bit-for-bit.
    if weight is None:
        e_plan = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .withColumn("w", F.lit(1).cast("decimal(38,18)"))
        )
    else:
        e_plan = (
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.round(F.col(weight).cast("double"), 15)
                .cast("decimal(38,18)")
                .alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").cast("decimal(38,18)").alias("w"))
        )
    # out-weight attached as a WINDOW sum in the same pass that cuts
    # the normalized edge list: one pass over the edge list, where
    # materializing e and then e ⋈ deg would take two plus a groupBy
    # and a join. A sum over Window.partitionBy(src) is the same
    # exact decimal arithmetic (order-independent), keyed the same
    # way, computed inside the ONE eager cut — each sweep still sees
    # (src, dst, w, deg) rows
    # (guide §2.4: operations keyed the same way share one exchange).
    ed = cut_lineage(
        e_plan.withColumn(
            "deg",
            F.sum("w").over(Window.partitionBy("src"))
            .cast("decimal(38,18)"),
        ),
        checkpoint,
    )
    vertices = cut_lineage(
        ed.select(F.col("src").alias("v"))
        .unionByName(ed.select(F.col("dst").alias("v")))
        .distinct(),
        checkpoint,
    )
    n = vertices.count()
    if n == 0:
        raise ValueError("pagerank: empty edge frame (no vertices)")
    if dangling == "redistribute":
        # Dangling = no POSITIVE out-weight, not merely no out-edges: a
        # vertex whose out-weights sum to 0 has rows in ed but its
        # contribution term is NULL every sweep (the deg>0 guard below),
        # so its rank mass would silently leak on weighted graphs and
        # break the sum(rank)==1 conservation promise. deg is constant
        # per src, so the filter keeps exactly the mass-emitting srcs.
        dangling_v = vertices.join(
            ed.filter(F.col("deg") > 0).select("src").distinct(),
            vertices.v == F.col("src"),
            "left_anti",
        )
    ranks = vertices.select("v", F.lit(1.0 / n).alias("rank"))
    teleport = (1.0 - damping) / n
    for _ in range(n_iter):
        extra = 0.0
        if dangling == "redistribute":
            # Decimal-exact dangling mass (same rounding discipline as
            # the contributions) → ONE scalar to the driver per sweep.
            row = (
                ranks.join(dangling_v, "v", "left_semi")
                .agg(
                    F.sum(
                        F.round(F.col("rank"), 15).cast("decimal(38,18)")
                    ).alias("m")
                )
                .collect()[0]
            )
            m = float(row["m"]) if row["m"] is not None else 0.0
            extra = m / n
        contribs = (
            ranks.join(ed, ranks.v == ed.src)
            .select(
                F.col("dst").alias("v"),
                # cast the exact decimals to double FIRST so the
                # contribution is two IEEE ops (mult, div) — the
                # bit-reproducibility contract the oracle unrolls.
                # deg=0 (all-zero out-weights) would DIVIDE_BY_ZERO
                # under ANSI mode; guard to NULL, which the sum skips
                # — the documented contributes-nothing behavior.
                F.when(
                    F.col("deg").cast("double") > 0,
                    F.round(
                        F.col("rank")
                        * F.col("w").cast("double")
                        / F.col("deg").cast("double"),
                        15,
                    ),
                )
                .cast("decimal(38,18)")
                .alias("c"),
            )
        )
        summed = contribs.groupBy("v").agg(
            F.sum("c").cast("double").alias("_in")
        )
        ranks = cut_lineage(
            vertices.join(summed, "v", "left")
            .select(
                "v",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.lit(extra))
                ).alias("rank"),
            ),
            checkpoint,
            eager=False,
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-vertex triangle counts and local clustering coefficient
    over an undirected simple graph, via DEGREE-ORDERED ORIENTATION:
    each undirected edge is directed from its lower-(degree, id)
    endpoint to the higher, every triangle survives as exactly one
    oriented wedge a→b, a→c with b→c, and the wedge count is bounded
    by Σ out-deg² ≤ O(m^1.5) on ANY graph — a hub with a million
    neighbors gets out-degree O(√m), so degree skew cannot flood the
    wedge join (the naive neighbor-join explodes quadratically on
    exactly those hubs). Cf. Suri & Vassilvitskii, "Counting
    triangles and the curse of the last reducer" (WWW'11).

    Input may list edges in either/both directions with duplicates;
    self-loops are dropped. Output: one row per vertex with degree
    >= 1 — (vertex, degree, n_triangles, clustering) where clustering
    = 2T / (d(d-1)) for d >= 2 (one exact-bigint IEEE division,
    hash-comparable) and 0.0 for d = 1.

    Plan shape: one distinct on canonical edges, one degree aggregate,
    two shuffled equi-joins (wedge build + closure probe), and one
    explode+groupBy for the per-vertex attribution. All joins are on
    single vertex-id keys — AQE handles residual skew.

    The oriented edge list is consumed THREE times (both wedge sides
    + the closure probe) and the degree frame twice more; without a
    lineage cut the upstream edge-building plan re-executes for every
    consumer (measured: 69 source scans on the co-supply query).
    `checkpoint` picks the cut strategy — "local" (localCheckpoint,
    the local-mode default) or "reliable" (HDFS/S3-backed
    df.checkpoint for long cluster runs), same contract as pagerank.
    """
    # validate the mode up front (a typo'd mode would silently fall
    # through to localCheckpoint) and wire checkpoint_dir — the
    # contract every sibling (pagerank/label_propagation/
    # shortest_paths) already honors via prepare_checkpoint
    prepare_checkpoint(edges.sparkSession, checkpoint, checkpoint_dir)

    u, v = F.col(src), F.col(dst)
    canon = (
        edges.where(u != v)
        .select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .distinct()
    )
    canon = cut_lineage(canon, checkpoint)
    deg = (
        canon.select(F.col("u").alias("x"))
        .unionAll(canon.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        canon.join(deg.withColumnRenamed("x", "u"), "u")
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v"
        )
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = cut_lineage(
        with_deg.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        ),
        checkpoint,
    )
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"),
        F.col("e1.b").alias("y"),
        F.col("e2.b").alias("z"),
    )
    tri = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"],
    )
    per_vertex = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("x").alias("vertex"), F.col("d").alias("degree"))
        .join(per_vertex, "vertex", "left")
        .na.fill({"n_triangles": 0})
        .select(
            "vertex",
            "degree",
            "n_triangles",
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007, made deterministic): every vertex starts labeled with
    its own id; each round, all vertices SIMULTANEOUSLY adopt the most
    frequent label among their neighbors, ties broken to the LOWEST
    label (the randomized asynchronous original is not reproducible —
    synchronous sweeps + a total tie order make every run, and the
    SQL oracle, land on identical labels). Runs exactly n_iter rounds
    (LPA oscillates on bipartite-ish structures; a fixed sweep count
    is the standard determinism fix). Input edges are symmetrized and
    deduplicated; self-loops dropped. Output: (vertex, label) for
    every vertex with degree >= 1; community = the set sharing a
    label. Vertex ids must be numeric (labels ARE vertex ids, and the
    lowest-label tie-break negates them inside a max_by sort key).

    Scale shape per round: one join of the edge list with the
    current (vertex, label) frame (both hash-partitioned on the join
    key) + one (vertex, label) count aggregate (map-side combined) +
    one max_by pick per vertex — label counts per vertex are bounded
    by degree, and the frame carried between rounds is one row per
    vertex. Lineage is cut per round (iterative-plan growth, same as
    pagerank); hub skew: a hot vertex's neighbor-label rows combine
    map-side before the shuffle, so the reducer sees at most
    distinct-labels-per-vertex rows.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    prepare_checkpoint(edges.sparkSession, checkpoint, checkpoint_dir)
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).where(F.col("s") != F.col("d"))
    sym = (
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
    )
    sym = cut_lineage(sym, checkpoint)
    labels = sym.select(F.col("s").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    for i in range(n_iter):
        counts = (
            sym.join(labels, sym["d"] == labels["v"])
            .groupBy(F.col("s").alias("v"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # most frequent neighbor label, ties to the LOWEST label:
        # max_by on (c, -lab) — one aggregate, no per-vertex window
        labels = counts.groupBy("v").agg(
            F.max_by("lab", F.struct(F.col("c"), -F.col("lab"))).alias("lab")
        )
        # fewer driver round-trips (guide §1.2 step 1):
        # EAGER cuts only every 2nd sweep; odd sweeps cut lazily, so
        # their blocks materialize inside the next action while plan
        # depth between materializations stays <= 2 sweeps (the same
        # sweep-counted cadence near_dup_clusters uses). The final
        # sweep is never eagerly cut — the consumer's one action
        # computes it straight from the last materialized blocks.
        labels = cut_lineage(
            labels, checkpoint, eager=(i % 2 == 1 and i != n_iter - 1)
        )
    return labels.select(F.col("v").alias("vertex"), F.col("lab").alias("label"))


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    n_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS: (v, dist) for every vertex reachable from any
    seed within n_hops, dist = fewest edges (integer — no float drift,
    trivially oracle-able by unrolled CTEs). `seeds` is a one-column
    frame of starting vertices (dist 0).

    The frontier pattern keeps each sweep's shuffle proportional to
    the NEW frontier, not the visited set: only vertices first reached
    in the previous hop expand (expanding settled vertices can only
    rediscover larger distances — min() would discard them), then one
    groupBy(v).min(dist) folds discoveries into the visited set.
    Lineage is cut every sweep (local/reliable like pagerank —
    unbounded plan growth is the classic iterative-Spark failure).
    Directionality is the caller's contract: pass a symmetrized edge
    list for undirected graphs.
    """
    prepare_checkpoint(edges.sparkSession, checkpoint, checkpoint_dir)
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    e = cut_lineage(e, checkpoint)
    dist = cut_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("v")).distinct()
        .select("v", F.lit(0).cast("int").alias("dist")),
        checkpoint,
    )
    frontier = dist.select("v")
    for h in range(1, n_hops + 1):
        # anti-join keeps only FIRST-TIME vertices, then APPEND: the
        # settled visited set is never re-aggregated (a groupBy-min
        # over all of dist would shuffle O(V) rows per hop to fold in
        # a frontier that usually shrinks to near-empty). BFS
        # first-discovery IS the min distance, so the result set is
        # identical.
        discovered = (
            frontier.join(e, frontier.v == e._s)
            .select(F.col("_d").alias("v"))
            .distinct()
        )
        # EAGER cuts only every 2nd hop (lazy otherwise) —
        # a lazy localCheckpoint still materializes its blocks inside
        # the NEXT eager action (or the consumer's), so every hop's
        # frame is computed exactly once and the dist union's children
        # all stay block-backed; the driver just stops paying a
        # blocking job per hop. Plan depth between materializations
        # <= 2 hops.
        new = cut_lineage(
            discovered.join(dist, "v", "left_anti").select(
                "v", F.lit(h).cast("int").alias("dist")
            ),
            checkpoint,
            eager=(h % 2 == 0),
        )
        # the union is NOT checkpointed: its children are all already
        # materialized, so its plan depth grows only by one node per
        # hop — eagerly writing the whole visited set each hop would
        # reintroduce the O(V)-per-sweep cost the frontier fold avoids
        dist = dist.unionByName(new)
        frontier = new.select("v")
    return dist
