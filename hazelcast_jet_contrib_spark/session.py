"""SparkSession factory with configuration tuned for both local testing
and large-cluster (100 TB-class) execution.

Defaults follow the public Spark tuning guidance: AQE enabled (runtime
coalescing, skew-join handling), Arrow for the Python boundary, UTC
session timezone (required for oracle comparison against DuckDB, whose
timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle parallelism: on a real cluster this should be ~2-3x total cores
# (or left to AQE's coalescing with a high initial value). Locally we match
# the advertised core count so tiny test data isn't over-parallelized.
_DEFAULT_LOCAL_CORES = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "hazelcast_jet_contrib_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-appropriate defaults.

    On a cluster, pass ``master=None`` and let spark-submit supply the
    master; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cores = _DEFAULT_LOCAL_CORES
    builder = (
        SparkSession.builder.appName(app_name)
        # --- optimizer / runtime re-planning -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- post-shuffle partitions derive from BYTES, not core count -----
        # parallelismFirst=true (the Spark default) stops AQE's coalescing
        # at defaultParallelism, so the post-shuffle task count tracks the
        # CORE COUNT even when the shuffle is kilobytes: the r17 driver ran
        # the identical tree FASTER at 8 cores than at 32 (115.8 s vs
        # 134.1 s at sf0.1) because every tiny iterative stage (pagerank
        # sweeps, GD iterations, CC rounds) paid 32 tasks of fixed cost.
        # `false` makes AQE respect advisoryPartitionSizeInBytes at every
        # scale: a 100 TB shuffle still gets ~bytes/64MB partitions, a
        # kilobyte sweep gets 1.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        # Cached-plan output partitioning stays PINNED (the upstream
        # default). Re-planning it (canChange...=true) was measured and
        # REJECTED this round: it coalesces the loop-invariant caches to
        # a partition count the per-sweep exchanges no longer match, so
        # the full edge/feature relation transits the shuffle EVERY
        # sweep once sort-merge join engages at scale — the
        # tests/test_scale_rehearsal_analytics.py no-broadcast pins
        # fail (pagerank per-sweep live shuffle ≥ |E|). The caches'
        # partition counts are instead sized from DATA BYTES in code
        # (cache.adaptive_repartition), which keeps an explicit
        # HashPartitioning the sweep joins can reuse.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "false",
        )
        # --- generated code: the compiled-class cache holds a whole pass ---
        # Spark's default of 100 entries is smaller than what one pass
        # of the registry's queries compiles, so every class was evicted
        # before its query ran again: the benchmark's batch pass (5 TPC-H
        # queries, neardup_clusters, pagerank_event_graph,
        # kmeans_cluster_profile) compiled the same 263 classes in every
        # pass after warm-up. A whole driver_sim window (all 97 queries
        # at sf0.01) compiles 1477 distinct classes; 2000 holds it, and
        # the benchmark's second pass then compiles ~0. A static conf: it
        # is fixed when the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # --- shuffle sizing ------------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cores),
        )
        # --- python boundary: Arrow batches, never row-at-a-time -----------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism for oracle comparison -----------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long + convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- quieter local runs -------------------------------------------
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

