"""Distributed Lloyd's k-means over embedding columns — the clustering
stage of a training-data pipeline (semantic dedup groups, data-mixing
strata, corpus topic profiling).

Spark-first shape, per iteration:
  1. ASSIGN — the k centroids are a k-row relation, broadcast; every
     point computes its squared distance to each and keeps the argmin
     via ``min(struct(dist, cidx))`` — one narrow aggregate keyed on the
     point id, no shuffle of the vectors beyond the initial scan.
  2. RECOMPUTE — new centroids are per-(cluster, dimension) means:
     posexplode the assigned vectors, groupBy (cidx, pos) avg, reshape
     with sort_array(collect_list(struct(pos, mean))). The shuffle
     carries (cidx, pos, partial-sum) rows — k x dim x partitions,
     independent of point count thanks to map-side partial aggregation.

Iteration count is a FIXED small constant chosen by the caller (the
driver loop only grows the plan linearly); initial centroids are the k
lowest-id points — layout-independent and deterministic, the same
contract as the IVF trainer (similarity.py). Distances are rounded to 6
decimals before the argmin on BOTH the Spark and oracle sides, with the
centroid index as tie-break, so float-association noise between engines
cannot flip an assignment.

At 100 TB: the centroid relation is k x dim doubles (kilobytes) however
large the corpus is, so ASSIGN stays a broadcast map-stage and RECOMPUTE
a bounded aggregate; nothing ever collects the points. Reference scope:
the contrib repo itself has no clustering operator — this extends the
probabilistic/aggregation family (SURVEY.md §2 LLM-pipeline extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sqdist(v, c):
    """Σ (v_i - c_i)^2 as a left-to-right fold (same evaluation shape
    both engines round away at 1e-6)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans_assign(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, cidx, dist) — nearest centroid per point; dist is the
    ROUNDED (6 dp) squared euclidean distance the argmin ran on.
    `points` = (id, v: array<double>), `centroids` = (cidx, c)."""
    scored = points.crossJoin(F.broadcast(centroids)).select(
        "id",
        "cidx",
        F.round(_sqdist(F.col("v"), F.col("c")), 6).alias("dist"),
    )
    best = scored.groupBy("id").agg(
        F.min(F.struct("dist", "cidx")).alias("b")
    )
    return best.select("id", F.col("b.cidx").alias("cidx"), F.col("b.dist").alias("dist"))


def kmeans_recompute(points: DataFrame, assign: DataFrame) -> DataFrame:
    """(cidx, c) — per-cluster mean vectors, each component ROUNDED to
    9 dp. The rounding is load-bearing for engine parity: avg
    accumulates partition partials in partition-dependent order, so an
    unrounded mean can differ by ~1 ulp between engines (and between
    two partitionings of the SAME engine), and that drift feeds the
    next iteration's distances upstream of their own rounding. 9 dp is
    ~6 orders above double noise and ~3 below the 6-dp distance
    rounding, so it erases the nondeterminism without moving any
    argmin. Clusters that captured no points disappear (identically on
    the oracle side)."""
    joined = assign.join(points, "id").select(
        "cidx", F.posexplode("v").alias("pos", "x")
    )
    means = joined.groupBy("cidx", "pos").agg(F.round(F.avg("x"), 9).alias("m"))
    return (
        means.groupBy("cidx")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cidx", F.transform("pm", lambda s: s["m"]).alias("c"))
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iters: int = 2,
) -> DataFrame:
    """Final assignment (id, cidx, dist) after `iters` Lloyd rounds from
    the deterministic k-lowest-id initialization.

    Lineage is CUT each round by ``localCheckpoint``ing the recomputed
    centroid relation (k rows — kilobytes however large the corpus is),
    the connected_components/pagerank pattern (dedup.py, graph.py):
    without the cut, round N's centroids reference round N-1's
    assignment which references round N-2's centroids, so the logical
    plan compounds per Lloyd round — harmless at iters=2 but
    superlinear planning cost at real iteration counts (20-50). With
    the cut, every round's plan is points x checkpointed-centroids:
    O(1) size per round, asserted by tests/test_dedup_similarity.py::
    test_kmeans_plan_size_is_iteration_invariant. Checkpointing the
    k-row side (not the assignment) keeps the materialization cost
    negligible while still severing the recurrence.

    The points relation is cached hash-partitioned on id (the pagerank /
    connected-components loop-invariant pattern): the recompute join
    (assign ⋈ points on id) then satisfies its clustering from cache on
    BOTH sides — assign is a narrow map over the same cached relation,
    so it inherits the partitioning — and once sort-merge join engages
    (at scale, past any broadcast threshold) each Lloyd round shuffles
    only the k·d mean partials instead of the full |N|-row vector
    relation twice (tests/test_scale_rehearsal_analytics.py NOBC law).
    Value-neutral: kmeans_recompute's 9-dp mean rounding erases
    partition-order accumulation differences. The returned assignment
    is checkpointed before the cache releases."""
    from pyspark import StorageLevel

    from hazelcast_jet_contrib_spark.cache import adaptive_repartition

    # partition count from the vector relation's size estimate
    # (cache.adaptive_repartition): the Lloyd loop re-scans this cache
    # every round, so a static core-count-sized cache is a per-round
    # fixed cost; the explicit size-derived count keeps the hash(id)
    # clustering the recompute join reuses.
    points = adaptive_repartition(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        "id",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # try from the first action on: a failure while building the cache
    # must not orphan the persisted relation (the pagerank/CC loop-abort
    # discipline). No materializing count: the first Lloyd job builds
    # the cache while computing the init centroids/assignment — an
    # up-front count was one extra pass of the vector relation for
    # nothing (OPTIMIZATION_r17.md §10).
    try:
        centroids = (
            points.orderBy("id")
            .limit(k)
            .select(
                (F.row_number().over(Window.orderBy("id")) - 1).alias("cidx"),
                F.col("v").alias("c"),
            )
        )
        assign = kmeans_assign(points, centroids)
        for _ in range(iters - 1):
            recomputed = kmeans_recompute(points, assign)
            centroids = recomputed.localCheckpoint(eager=True)
            assign = kmeans_assign(points, centroids)
        # materialize the returned assignment before the points cache
        # releases, so callers never recompute the Lloyd chain against
        # an unpersisted input
        return assign.localCheckpoint(eager=True)
    finally:
        points.unpersist()


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    min_cosine: float = 0.999,
) -> DataFrame:
    """Semantic near-duplicate pairs via k-means-cell bucketing — the
    IVF-style companion to MinHash-LSH: instead of joining all pairs,
    vectors join only WITHIN their nearest-centroid cell, and exact
    cosine verifies candidates. Identical vectors always co-locate
    (identical rounded distances, identical tie-break), so exact-copy
    recall is 1; near-dups straddling a cell boundary are the standard
    IVF tradeoff (raise k-probe or fall back to hyperplane LSH
    `similarity.lsh_bucketed_pairs` when boundary recall matters).

    One assignment round from the deterministic k-lowest-id centroids
    keeps the bucketing engine-portable — the registry query mirrors it
    exactly in SQL. Scale: the join is Σ C(|cell|, 2) over cells of
    ~n/k vectors, not C(n, 2); the centroid relation broadcasts.

    The assigned-cell relation is cached hash-partitioned on cidx (the
    LSH/simhash banded-relation pattern, operators/dedup.py): uncached,
    BOTH sides of the in-cell pair join would recompute the whole
    upstream — scan → broadcast argmin assignment → assign⋈points join
    → norm fold — and, once sort-merge join engages past any broadcast
    threshold, each side would also transit the shuffle separately
    (exchange-reuse does not engage under AQE, measured — SCALE.md
    §MinHash). From the cache the upstream runs ONCE and the join
    satisfies both sides' clustering (tests/test_scale_rehearsal.py
    NOBC law). The cache stays alive for the returned lazy plan —
    long-lived sessions call ``cache.release_tracked()`` between
    stages.

    Output: (id_a, id_b, cos) with cos rounded to 6 dp.
    """
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    points = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    centroids = (
        points.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).alias("cidx"),
            F.col("v").alias("c"),
        )
    )
    assign = kmeans_assign(points, centroids).select("id", "cidx")
    # norm hoisted to ONE fold per vector before the pair join — left in
    # the join, each candidate pair would re-fold both operands' norms
    # (2 extra dim-length folds per pair, ~3x the interpreted work)
    nrm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    # DELIBERATELY static partitioning: unlike the Lloyd-loop cache
    # above this is a one-shot cache, and its downstream is the
    # quadratic-in-cell pair join — CPU per PAIR, which a bytes-derived
    # partition count cannot see (the minhash_lsh banded-cache lesson:
    # byte-based coalescing serialized the verify chain,
    # OPTIMIZATION_r18.md §1).
    cells = tracked_persist(
        assign.join(points, "id").withColumn("nrm", nrm).repartition("cidx")
    )
    a = cells.select(
        F.col("cidx"), F.col("id").alias("id_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = cells.select(
        F.col("cidx"), F.col("id").alias("id_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, ["cidx"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= min_cosine)
    )
