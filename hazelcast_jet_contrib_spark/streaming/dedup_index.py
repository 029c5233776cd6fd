"""Streaming near-dup rejection against a persistent MinHash index —
the production ingestion shape: documents arrive in micro-batches and
are admitted only if they are not near-duplicates of anything already
indexed (or of an earlier document in the same batch).

The batch operators (operators/dedup.py) answer "which pairs in this
corpus are near-dups"; this module answers the incremental question a
streaming corpus build needs, with the index surviving restarts.

Design (same idempotence discipline as streaming/cdc.py):
- the index is an append-only store under ``state_dir``:
  ``bands/e{N}/`` (id, band, bh) and ``sets/e{N}/`` (id, hs) parquet
  per epoch, plus ``accepted/e{N}/`` holding the admitted rows; a
  ``_CURRENT`` marker commits an epoch atomically AFTER its three
  directories are written. Crash leftovers above the marker are
  invisible and a replay rewrites them deterministically.
- admission = two LSH probes, both candidate-bounded: the batch's band
  keys self-join (within-batch dedup, min-id wins) and join the
  committed band index (history dedup); only candidate pairs are
  verified with exact Jaccard over hashed shingle sets. The index side
  the join touches is (band, bh, id) — ~24-byte rows, never documents.
- at scale the per-epoch directory count grows with trigger count and
  the history probe degrades into a small-files scan; :meth:`compact`
  rewrites all committed epochs into one size-targeted generation under
  ``compacted/g{N}/`` and commits it by atomically replacing a
  ``_COMPACTED`` marker holding ``(floor_epoch, generation)``. Readers
  take the referenced generation plus epochs above the floor, so a
  crash mid-compaction leaves an unreferenced generation that is simply
  invisible — admission decisions are identical before, during, and
  after (tests/test_dedup_index.py).

Reference lineage: composes S8-style replayable sources with the
near-dup operators; the reference has no streaming dedup (its dedup
story is batch), so this is an extension, not a port.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import (
    band_keys,
    hashed_shingle_sets,
    minhash_signatures,
)


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
        self.state_dir = state_dir
        self._id_col = id_col
        self._text_col = text_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_words = shingle_words
        os.makedirs(state_dir, exist_ok=True)

    # -- marker -------------------------------------------------------------
    def _marker_path(self) -> str:
        return os.path.join(self.state_dir, "_CURRENT")

    def _committed(self) -> int | None:
        try:
            with open(self._marker_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _compaction_marker_path(self) -> str:
        return os.path.join(self.state_dir, "_COMPACTED")

    def _compaction_state(self) -> tuple[int, int] | None:
        """(floor_epoch, generation) of the live compacted snapshot, or
        None. Epochs <= floor live in ``compacted/g{generation}``."""
        try:
            with open(self._compaction_marker_path()) as f:
                floor_s, gen_s = f.read().split()
                return int(floor_s), int(gen_s)
        except (FileNotFoundError, ValueError):
            return None

    def _epoch_dirs(self, kind: str, up_to: int | None = None) -> list[str]:
        """Directories visible for `kind`. `up_to` caps the epoch range
        at a caller-captured commit snapshot — compact() passes its
        snapshot so ALL kinds see the same epoch set even if a batch
        commits mid-compaction (re-reading the marker per kind would
        bake a newer epoch into the generation while the recorded floor
        stays below it: duplicate rows forever after)."""
        committed = self._committed() if up_to is None else up_to
        if committed is None:
            return []
        comp = self._compaction_state()
        floor = -1
        dirs: list[str] = []
        if comp is not None:
            floor, gen = comp
            gdir = os.path.join(self.state_dir, "compacted", f"g{gen}", kind)
            if os.path.isdir(gdir):
                dirs.append(gdir)
        root = os.path.join(self.state_dir, kind)
        try:
            listing = os.listdir(root)
        except FileNotFoundError:
            return dirs
        dirs += [
            os.path.join(root, d)
            for d in sorted(listing)
            if d.startswith("e")
            and d[1:].isdigit()
            and floor < int(d[1:]) <= committed
        ]
        return dirs

    def _read(self, spark: SparkSession, kind: str, schema: str) -> DataFrame:
        dirs = self._epoch_dirs(kind)
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*dirs)

    # -- admission ----------------------------------------------------------
    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Admit the batch's non-near-dup rows and extend the index.
        Replay of a committed epoch is a no-op; an epoch below the
        marker with a FRESH checkpoint raises (silent loss guard, same
        contract as cdc.py)."""
        committed = self._committed()
        if committed is not None and committed == epoch_id:
            return
        if committed is not None and committed > epoch_id:
            raise RuntimeError(
                f"neardup index: epoch {epoch_id} rewinds behind committed "
                f"{committed} in {self.state_dir!r} — restart with the original "
                "checkpointLocation or use a fresh state_dir."
            )
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

            # (b) vs history: batch bands join the committed band index
            hist_bands = self._read(spark, "bands", "id long, band int, bh long")
            hist_sets = self._read(spark, "sets", "id long, hs array<bigint>")
            vs_hist = (
                banded.alias("n")
                .join(
                    hist_bands.alias("h"),
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
            # so they add nothing to bands/sets.
            survivors = batch_df.join(
                dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
            )

            e = f"e{epoch_id:09d}"
            survivors.write.mode("overwrite").parquet(
                os.path.join(self.state_dir, "accepted", e)
            )
            surv_sig = sig.join(survivor_ids, "id")
            band_keys(surv_sig, self.num_hashes, self.bands).write.mode(
                "overwrite"
            ).parquet(os.path.join(self.state_dir, "bands", e))
            surv_sig.select("id", "hs").write.mode("overwrite").parquet(
                os.path.join(self.state_dir, "sets", e)
            )
        finally:
            sig.unpersist()

        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch_id))
        os.replace(tmp, self._marker_path())

    def foreach_batch(self):
        """The ``foreachBatch`` callable."""
        return self.apply_batch

    # -- maintenance ---------------------------------------------------------
    def compact(
        self, spark: SparkSession, target_file_bytes: int = 128 << 20
    ) -> bool:
        """Rewrite all committed epochs (and any prior compacted
        generation) into one size-targeted generation, then atomically
        point the ``_COMPACTED`` marker at it. Returns False if there is
        nothing new to compact (idempotent re-run).

        Safe to run between micro-batches: epochs ABOVE the captured
        floor are untouched and stay visible; a crash before the marker
        swap leaves an unreferenced generation (invisible, rewritten by
        the next run); cleanup of superseded directories is best-effort
        because readers never look at epochs at or below the floor nor
        at non-referenced generations. Bands are repartitioned on
        (band, bh) so a probe join's shuffle reads clustered files."""
        import math
        import shutil

        committed = self._committed()
        if committed is None:
            return False
        comp = self._compaction_state()
        if comp is not None and comp[0] >= committed:
            return False  # everything committed is already compacted
        next_gen = comp[1] + 1 if comp is not None else 0

        repart = {"bands": ("band", "bh")}
        for kind in ("bands", "sets", "accepted"):
            dirs = self._epoch_dirs(kind, up_to=committed)
            if not dirs:
                continue
            n_bytes = 0
            for d in dirs:
                for root, _, files in os.walk(d):
                    n_bytes += sum(
                        os.path.getsize(os.path.join(root, f))
                        for f in files
                        if f.endswith(".parquet")
                    )
            n_files = max(1, math.ceil(n_bytes / target_file_bytes))
            df = spark.read.parquet(*dirs)
            cols = repart.get(kind)
            df = df.repartition(n_files, *cols) if cols else df.coalesce(n_files)
            df.write.mode("overwrite").parquet(
                os.path.join(self.state_dir, "compacted", f"g{next_gen}", kind)
            )

        tmp = self._compaction_marker_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{committed} {next_gen}")
        os.replace(tmp, self._compaction_marker_path())

        # best-effort cleanup of superseded storage (invisible either way)
        for kind in ("bands", "sets", "accepted"):
            root = os.path.join(self.state_dir, kind)
            try:
                listing = os.listdir(root)
            except FileNotFoundError:
                continue
            for d in listing:
                if d.startswith("e") and d[1:].isdigit() and int(d[1:]) <= committed:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        croot = os.path.join(self.state_dir, "compacted")
        for d in os.listdir(croot):
            if d.startswith("g") and d[1:].isdigit() and int(d[1:]) != next_gen:
                shutil.rmtree(os.path.join(croot, d), ignore_errors=True)
        return True

    # -- readers ------------------------------------------------------------
    def accepted(self, spark: SparkSession, schema: str | None = None) -> DataFrame:
        """All rows admitted by committed epochs (empty frame before
        any). ``schema`` is required only for the empty case."""
        dirs = self._epoch_dirs("accepted")
        if not dirs:
            if schema is None:
                raise ValueError("no committed epochs yet; pass schema")
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*dirs)
