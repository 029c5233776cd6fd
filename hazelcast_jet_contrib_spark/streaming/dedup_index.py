"""Streaming near-dup rejection against a persistent MinHash index —
the production ingestion shape: documents arrive in micro-batches and
are admitted only if they are not near-duplicates of anything already
indexed (or of an earlier document in the same batch).

The batch operators (operators/dedup.py) answer "which pairs in this
corpus are near-dups"; this module answers the incremental question a
streaming corpus build needs, with the index surviving restarts.

Design (the epoch commit record is exactly_once.EpochCommitLog, the one
protocol of every exactly-once state directory):
- the index is an append-only store under ``state_dir`` in the batch
  index's layout (operators/dedup.py build_minhash_index): each epoch
  writes its survivors' band and sets rows to ``index/e{N}/band=*``
  through the same writer (``write_index_epoch``), plus
  ``accepted/e{N}/`` holding the admitted rows; the epoch commits
  AFTER both directories are written. Crash leftovers above the marker
  are invisible and a replay rewrites them deterministically; a
  replayed committed epoch is a no-op and an epoch that rewinds behind
  the marker raises.
- admission = two LSH probes, both candidate-bounded: the batch's band
  keys self-join (within-batch dedup, min-id wins) and join the
  committed index's band rows (history dedup); only candidate pairs
  are verified with exact Jaccard over hashed shingle sets, the
  history's read from the same index's ``band=-1`` rows. The index
  side the band join touches is (band, bh, id) — ~24-byte rows, never
  documents.
- at scale the per-epoch directory count grows with trigger count and
  the history probe degrades into a small-files scan; :meth:`compact`
  rewrites all committed epochs into one generation (the index kind
  through the batch index's writer) and commits it through the log's
  compaction record. Readers take the referenced generation plus
  epochs above its floor, so a crash mid-compaction leaves an
  unreferenced generation that is simply invisible — admission
  decisions are identical before, during, and after
  (tests/test_dedup_index.py).

Reference lineage: composes S8-style replayable sources with the
near-dup operators; the reference has no streaming dedup (its dedup
story is batch), so this is an extension, not a port.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import (
    INDEX_KIND,
    band_keys,
    hashed_shingle_sets,
    minhash_signatures,
    read_index_epochs,
    signature_index_rows,
    write_index_epoch,
)
from hazelcast_jet_contrib_spark.streaming.exactly_once import EpochCommitLog

_ACCEPTED_FILE_BYTES = 128 << 20  # compaction's target accepted file size


class StreamingNearDupIndex:
    """Persistent MinHash index with exactly-once micro-batch admission.

    Use inside ``foreachBatch``::

        index = StreamingNearDupIndex(state_dir, "doc_id", "text")
        q = stream.writeStream.foreachBatch(index.foreach_batch()).start()

    Admitted rows accumulate under ``accepted/``; read them back with
    :meth:`accepted`.
    """

    def __init__(
        self,
        state_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.6,
        num_hashes: int = 64,
        bands: int = 32,
        shingle_words: int = 3,
    ):
        self._id_col = id_col
        self._text_col = text_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_words = shingle_words
        self.commit_log = EpochCommitLog(state_dir, "neardup index")
        self.commit_log.refuse_former(
            "", r"bands|sets", f"one '{INDEX_KIND}' kind of band=N epoch dirs"
        )

    # -- admission ----------------------------------------------------------
    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Admit the batch's non-near-dup rows and extend the index.
        Replay of a committed epoch is a no-op; an epoch below the
        marker (a FRESH checkpoint) raises — the commit log's guards."""
        log = self.commit_log
        if not log.begin(epoch_id):
            return
        spark = batch_df.sparkSession
        from pyspark import StorageLevel

        id_col, text_col = self._id_col, self._text_col
        base = hashed_shingle_sets(batch_df, id_col, text_col, self.shingle_words)
        sig = minhash_signatures(base, self.num_hashes).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            banded = band_keys(sig, self.num_hashes, self.bands)

            sets_b = sig.select("id", "hs")
            inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
            union = (
                F.size("hs_a") + F.size("hs_b")
                - F.size(F.array_intersect("hs_a", "hs_b"))
            )

            # (a) within-batch: banding self-join, min id survives
            a, b = banded.alias("a"), banded.alias("b")
            intra = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a.id") < F.col("b.id")),
                )
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"])
                .join(sets_b.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
                .join(sets_b.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
                .filter(inter / union >= self.threshold)
                .select(F.col("id_b").alias("id"))
            )

            # (b) vs history: batch bands join the committed band rows
            hist = read_index_epochs(
                spark,
                log.epoch_dirs(INDEX_KIND),
                batch_df.schema[id_col].dataType.simpleString(),
            )
            hist_sets = hist.filter(F.col("band") < 0)
            vs_hist = (
                banded.alias("n")
                .join(
                    hist.filter(F.col("band") >= 0).alias("h"),
                    (F.col("n.band") == F.col("h.band"))
                    & (F.col("n.bh") == F.col("h.bh")),
                )
                .select(F.col("n.id").alias("id_n"), F.col("h.id").alias("id_h"))
                .dropDuplicates(["id_n", "id_h"])
                .join(sets_b.select(F.col("id").alias("id_n"), F.col("hs").alias("hs_a")), "id_n")
                .join(hist_sets.select(F.col("id").alias("id_h"), F.col("hs").alias("hs_b")), "id_h")
                .filter(inter / union >= self.threshold)
                .select(F.col("id_n").alias("id"))
            )

            dropped = intra.unionByName(vs_hist).distinct()
            survivor_ids = sig.select("id").join(dropped, "id", "left_anti")
            # Anti-join against `dropped` (not inner-join to survivor_ids):
            # docs too short to produce a single shingle never enter `sig`,
            # cannot be near-dups under this scheme, and must still be
            # admitted — an inner join on sig-derived ids would silently
            # reject them from the output corpus. They carry no signature,
            # so they add nothing to the index.
            survivors = batch_df.join(
                dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
            )

            survivors.write.mode("overwrite").parquet(
                log.epoch_dir("accepted", epoch_id)
            )
            write_index_epoch(
                signature_index_rows(
                    sig.join(survivor_ids, "id"), self.num_hashes, self.bands
                ),
                log.epoch_dir(INDEX_KIND, epoch_id),
            )
        finally:
            sig.unpersist()
        log.commit(epoch_id)

    def foreach_batch(self):
        """The ``foreachBatch`` callable."""
        return self.apply_batch

    # -- maintenance ---------------------------------------------------------
    def compact(self, spark: SparkSession) -> bool:
        """Rewrite all committed epochs (and any prior compacted
        generation) into one generation committed through the log's
        compaction record (exactly_once.EpochCommitLog.compact: one
        captured snapshot for both kinds, crash-invisible until the
        record swaps). The index kind is rewritten exactly as the batch
        index compacts (sorted band=N runs); accepted rows coalesce to
        ~128 MiB files. Returns False if there is nothing new to compact
        (idempotent re-run). Safe to run between micro-batches."""

        def write(kind: str, dirs: list[str], out: str) -> None:
            if kind == INDEX_KIND:
                id_type = self.accepted(spark).schema[self._id_col].dataType
                write_index_epoch(
                    read_index_epochs(spark, dirs, id_type.simpleString()), out
                )
                return
            n_bytes = sum(
                os.path.getsize(os.path.join(root, f))
                for d in dirs
                for root, _, files in os.walk(d)
                for f in files
                if f.endswith(".parquet")
            )
            n_files = max(1, math.ceil(n_bytes / _ACCEPTED_FILE_BYTES))
            spark.read.parquet(*dirs).coalesce(n_files).write.mode(
                "overwrite"
            ).parquet(out)

        return self.commit_log.compact((INDEX_KIND, "accepted"), write)

    # -- readers ------------------------------------------------------------
    def accepted(self, spark: SparkSession, schema: str | None = None) -> DataFrame:
        """All rows admitted by committed epochs (empty frame before
        any). ``schema`` is required only for the empty case."""
        dirs = self.commit_log.epoch_dirs("accepted")
        if not dirs:
            if schema is None:
                raise ValueError("no committed epochs yet; pass schema")
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*dirs)
