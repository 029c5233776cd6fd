"""Streaming incremental PageRank — the graph family's streaming twin
(VERDICT r09 item 8): edges arrive in micro-batches; each epoch folds
the delta into the accumulated edge set and WARM-STARTS the power
iteration from the previous epoch's ranks (operators/graph.py
``pagerank(init_ranks=...)``), so a handful of sweeps absorbs the
delta instead of a full cold iteration count.

Design (the epoch commit record is exactly_once.EpochCommitLog, the one
protocol of every exactly-once state directory):
- state under ``state_dir``: ``edges/e{N}/`` (src, dst parquet) and
  ``ranks/e{N}/`` (node, rank parquet) per epoch, committed AFTER both
  directories are written. A replayed committed epoch (foreachBatch
  redelivery after crash) is a no-op, an epoch that rewinds behind the
  marker raises, and leftovers above the marker are invisible and get
  rewritten deterministically, so delivery is exactly-once in effect.
- per epoch: ranks = pagerank(committed ∪ delta edges,
  iterations=delta_iterations, init_ranks=previous ranks). Nodes new
  to the graph enter at 1/N before mass normalization (the operator's
  warm-start contract); the first epoch runs the full cold
  ``iterations``.
- accuracy: a FIXED small sweep count per epoch tracks the moving
  fixpoint — each sweep contracts the error by the damping factor, so
  the steady-state gap is bounded, not accumulating (asserted against
  the converged batch fixpoint in tests). For an exact reconcile, run
  the batch operator cold over ``edges()`` — same relation, same
  arithmetic.

Scale shape: per epoch exactly ``delta_iterations`` sweeps of the
|V|+|E| dataflow (the measured-linear pagerank sweep) plus one
|V|-row warm-start join; epoch state on disk is the edge set + one
rank vector — no driver-side graph state. The accumulated ``edges/``
epoch directories are re-read each epoch; :meth:`compact` rewrites
them into one generation committed through the log's compaction record
(new dir, atomic record swap, THEN cleanup — at no instant is the only
copy of any edge unreachable). Edge sets are append-only under this
contract (no retractions). A state directory compacted under the former
layout (generation packed into the marker as ``"N gG"``) is refused by
the log rather than read as empty; uncompacted ones read unchanged.

Reference lineage: the reference ships no graph operators (this
extends the engine's pipeline family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.graph import pagerank
from hazelcast_jet_contrib_spark.streaming.exactly_once import EpochCommitLog


class StreamingPageRank:
    """Incremental PageRank over an edge stream, for ``foreachBatch``::

        spr = StreamingPageRank(state_dir)
        q = edge_stream.writeStream.foreachBatch(spr.foreach_batch()).start()

    Read the latest committed ranks back with :meth:`ranks`.
    """

    def __init__(
        self,
        state_dir: str,
        src_col: str = "src",
        dst_col: str = "dst",
        damping: float = 0.85,
        iterations: int = 10,
        delta_iterations: int = 3,
    ) -> None:
        if delta_iterations < 1:
            raise ValueError("delta_iterations must be >= 1")
        self.src_col, self.dst_col = src_col, dst_col
        self.damping = damping
        self.iterations = iterations
        self.delta_iterations = delta_iterations
        self.commit_log = EpochCommitLog(state_dir, "StreamingPageRank")

    # -- readers --------------------------------------------------------
    def edges(self, spark: SparkSession) -> DataFrame | None:
        """The accumulated committed edge set (distinct src, dst)."""
        dirs = self.commit_log.epoch_dirs("edges")
        return spark.read.parquet(*dirs).distinct() if dirs else None

    def ranks(self, spark: SparkSession) -> DataFrame | None:
        """The latest committed rank vector (node, rank)."""
        cur = self.commit_log.committed()
        if cur is None:
            return None
        root = self.commit_log.epoch_dir("ranks", cur)
        return spark.read.parquet(root) if os.path.isdir(root) else None

    # -- the foreachBatch body -------------------------------------------
    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        log = self.commit_log
        if not log.begin(epoch_id):
            return
        spark = batch_df.sparkSession
        delta = batch_df.select(
            F.col(self.src_col).alias("src"), F.col(self.dst_col).alias("dst")
        ).distinct()
        # write the delta FIRST (uncommitted until the marker moves)
        delta_dir = log.epoch_dir("edges", epoch_id)
        delta.write.mode("overwrite").parquet(delta_dir)
        all_edges = spark.read.parquet(*log.epoch_dirs("edges"), delta_dir).distinct()
        prev = self.ranks(spark)
        if prev is None:
            out = pagerank(
                all_edges, damping=self.damping, iterations=self.iterations
            )
        else:
            out = pagerank(
                all_edges,
                damping=self.damping,
                iterations=self.delta_iterations,
                init_ranks=prev,
            )
        out.write.mode("overwrite").parquet(log.epoch_dir("ranks", epoch_id))
        log.commit(epoch_id)

    def foreach_batch(self):
        return self.apply_batch

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Rewrite the accumulated per-epoch edge dirs into one
        committed GENERATION and drop superseded rank vectors — the
        small-files bound for a long-running stream (one dir per
        trigger otherwise).

        Crash safety is the log's compaction record, never in-place
        (exactly_once.EpochCommitLog.compact): the consolidated edge set
        is written to a NEW generation dir that no reader sees, the
        record swaps atomically, and only THEN are the superseded epoch
        dirs and the old generation deleted; re-running compaction
        finishes a crashed cleanup. Rank history: only the marker's
        epoch is ever read, so older ``ranks/e*`` dirs delete freely.

        Returns {"dirs_before": n, "dirs_after": m} for observability."""
        log = self.commit_log

        def n_dirs() -> int:
            return len(log.epoch_dirs("edges")) + len(log.epoch_dirs("ranks"))

        def write(_kind: str, dirs: list[str], out: str) -> None:
            spark.read.parquet(*dirs).distinct().write.mode("overwrite").parquet(out)

        before = n_dirs()
        log.compact(("edges",), write)
        log.prune("ranks", keep=1)
        return {"dirs_before": before, "dirs_after": n_dirs()}


__all__ = ["StreamingPageRank"]
