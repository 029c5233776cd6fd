"""CDC apply: materialize a change stream (insert/update/delete) into a
queryable state table, exactly-once across restarts.

Reference behavior being re-expressed: the MongoDB change-stream source
(SURVEY.md §2.2 S9, MongoDBSourceBuilder.java:162-270) delivers ordered
change events with a resume token; the downstream job's purpose is
almost always "keep a copy of the collection up to date". This module
supplies that downstream half on Spark, with the exactly-once story the
reference builds from snapshots + resume tokens.

Design (no lakehouse format required):
- state is **versioned**: batch N writes `versions/e{N}/` derived from
  the committed version ∪ batch — a pure, deterministic function, fully
  distributed (union + window dedup; no driver materialization);
- the epoch commit record is exactly_once.EpochCommitLog, the one
  protocol of every exactly-once state directory (probed by
  delivery_probe.py): a replayed committed epoch is a no-op, a crash
  before the marker replays into the same version directory, and an
  epoch that rewinds behind the marker raises;
- `current_state()` reads the newest *committed* version, so readers
  never observe a half-written merge.

Change record contract: (key string, op in {'I','U','D'}, value, seq) —
seq is the total order within a key (the resume-token/clusterTime
analog); the latest seq wins, 'D' removes the key.

At 100 TB: each merge shuffles state ∪ batch once on the key — the same
cost any upsert pays without a format that supports merge-on-read; for
high-frequency small batches, raise the trigger interval or compact
via maxSegmentsPerTrigger so batches amortize the rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.streaming.exactly_once import EpochCommitLog

STATE_SCHEMA = "key string, value string, seq long"
_VERSIONS = "versions"
# version dirs were once named v{N} (state_dir/v{N}, root_dir/<collection>/
# v{N}); such a directory is refused rather than served as empty state
_FORMER = r"v\d+"


def _table_log(state_dir: str) -> EpochCommitLog:
    log = EpochCommitLog(state_dir, "cdc_apply")
    log.refuse_former("", _FORMER, f"{_VERSIONS}/e{{N}}")
    return log


def _collections(root_dir: str) -> list[str]:
    names = os.listdir(root_dir) if os.path.isdir(root_dir) else []
    return [c for c in names if os.path.isdir(os.path.join(root_dir, c))]


def _database_log(root_dir: str, collections: list[str]) -> EpochCommitLog:
    log = EpochCommitLog(root_dir, "cdc_apply_database")
    for coll in collections:
        log.refuse_former(coll, _FORMER, f"{coll}/e{{N}}")
    return log


def _newest(spark: SparkSession, log: EpochCommitLog, kind: str) -> DataFrame:
    dirs = log.epoch_dirs(kind)
    if not dirs:
        return spark.createDataFrame([], STATE_SCHEMA)
    return spark.read.parquet(dirs[-1]).select("key", "value", "seq")


def current_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest committed materialization (empty frame before any)."""
    return _newest(spark, _table_log(state_dir), _VERSIONS)


def _merge(prev: DataFrame, changes: DataFrame) -> DataFrame:
    """Deterministic merge: per key, the highest-seq record wins
    (ties break toward the change row); 'D' tombstones drop out."""
    pc = prev.select("key", "value", "seq", F.lit("U").alias("op"), F.lit(0).alias("src"))
    cc = changes.select("key", "value", "seq", "op", F.lit(1).alias("src"))
    w = Window.partitionBy("key").orderBy(F.col("seq").desc(), F.col("src").desc())
    return (
        pc.unionByName(cc)
        .withColumn("__rn__", F.row_number().over(w))
        .filter((F.col("__rn__") == 1) & (F.col("op") != "D"))
        .select("key", "value", "seq")
    )


def database_state(spark: SparkSession, root_dir: str, collection: str) -> DataFrame:
    """Newest committed materialization of one collection in a
    database-scoped CDC apply (empty frame before any). A collection
    untouched since epoch K serves its epoch-K version as long as the
    database marker has advanced past K; version dirs beyond the marker
    (crash leftovers) are never served."""
    return _newest(spark, _database_log(root_dir, [collection]), collection)


def cdc_apply_database_foreach_batch(root_dir: str, keep_versions: int = 2):
    """Database-scope CDC apply — the reference's ``streamDatabase`` /
    ``streamAll`` (MongoDBSourceBuilder.java:162-270): ONE change stream
    carries events for many collections and resumes from a SINGLE token.

    Change records carry ``collection`` alongside (key, op, value, seq).
    State materializes per collection under ``root_dir/<collection>/
    e{epoch}`` but the commit marker is one file for the whole scope:
    every collection touched by an epoch is rewritten first, then the
    marker flips — all collections advance atomically, exactly the
    one-resume-token semantics. A crash mid-epoch leaves some
    collections with an uncommitted version dir that readers ignore
    (``database_state`` serves only versions <= marker) and the replay
    rewrites deterministically.

    The only driver-side step is the per-batch distinct collection list
    (bounded by the number of collections in the database, not data
    volume). Same epoch no-op / rewind guards as the single-table apply.
    """
    log = _database_log(root_dir, _collections(root_dir))

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        if not log.begin(epoch_id):
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.select("collection", "key", "op", "value", "seq").persist()
        try:
            colls = [r["collection"] for r in batch_df.select("collection").distinct().collect()]
            for coll in sorted(colls):
                if not coll or any(c in coll for c in ("/", "\\", "..")):
                    raise ValueError(f"unsafe collection name: {coll!r}")
                prev = database_state(spark, root_dir, coll)
                merged = _merge(
                    prev,
                    batch_df.filter(F.col("collection") == coll).select(
                        "key", "op", "value", "seq"
                    ),
                )
                merged.write.mode("overwrite").parquet(log.epoch_dir(coll, epoch_id))
        finally:
            batch_df.unpersist()
        log.commit(epoch_id)
        for coll in _collections(root_dir):
            log.prune(coll, keep_versions)

    return fn


def cdc_apply_foreach_batch(state_dir: str, keep_versions: int = 2):
    """foreachBatch adapter: maintain the state table from a stream of
    change records (cols: key, op, value, seq). Idempotent per epoch
    through the commit record (exactly_once.EpochCommitLog): a replay of
    an already-committed epoch is a no-op (the marker is the commit
    record — never read the version being rewritten); a replay after a
    crash-before-marker rewrites the version from the intact previous
    one; an epoch below the marker (the stream restarted against this
    state_dir with a FRESH checkpoint) raises instead of silently
    skipping batches: resume with the original checkpointLocation, or
    point the restarted query at a fresh state_dir. Committed versions
    older than `keep_versions` are pruned."""
    log = _table_log(state_dir)

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        if not log.begin(epoch_id):
            return
        prev = current_state(batch_df.sparkSession, state_dir)
        merged = _merge(prev, batch_df.select("key", "op", "value", "seq"))
        merged.write.mode("overwrite").parquet(log.epoch_dir(_VERSIONS, epoch_id))
        log.commit(epoch_id)
        log.prune(_VERSIONS, keep_versions)

    return fn
