"""Deduplication operators for training-data pipelines: exact,
n-gram-Jaccard, MinHash+LSH and SimHash near-dup, plus near-dup
clustering (embedding-cosine near-dup lives in similarity.py and
clustering.py).

All are DataFrame→DataFrame transforms built from joins/aggregations the
optimizer can plan (shuffle on content keys, partial aggregation, AQE
skew handling). The only quadratic step anywhere is *within candidate
buckets*, never across the corpus — that is what makes MinHash-LSH and
SimHash the 100 TB scale path, with exact-Jaccard verification applied
only to the candidate set.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from functools import reduce

import pandas as pd  # noqa: F401 — resolves the Arrow kernels' stringified type hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from hazelcast_jet_contrib_spark.cache import (
    checkpoint_rdd_handle as _checkpoint_rdd_handle,
)
from hazelcast_jet_contrib_spark.functions.text import shingles_of_tokens, tokens
from hazelcast_jet_contrib_spark.streaming.exactly_once import EpochCommitLog

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, subset: list[str], order_by: list[str]) -> DataFrame:
    """Keep exactly one row per distinct `subset` value — the winner is
    the first under `order_by` (deterministic, unlike dropDuplicates).
    Scale: one hash shuffle on the content key; for very long content
    pre-hash with xxhash64 so the shuffle key is 8 bytes, not the text.
    """
    w = Window.partitionBy(*subset).orderBy(*order_by)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) near-dup pairs
# ---------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input is under-partitioned
    relative to the cluster (e.g. one small file → 2 splits on a 32-core
    session). Shingling is CPU-bound per row, so leaving it on 2 of 32
    cores wastes the machine; on a real corpus (thousands of splits) the
    condition is false and no shuffle is added."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_words: int,
    spread: bool = True,
) -> DataFrame:
    """(id, hs) with hs = the DISTINCT xxhash64 values of the word-n-gram
    shingles — the MinHash family's input — computed WITHOUT ever
    materializing a shingle string (guide §1.2 "don't compute things
    you throw away"): one ``transform`` over the shingle index range
    feeds each ``concat_ws`` of the n token ``element_at``s STRAIGHT into
    ``xxhash64``, and distinctness applies to the 8-byte hashes only.

    ``element_at`` inside the lambda is safe here because the token
    array is a projected ATTRIBUTE, not a computed expression — the
    HOF-discipline rule in ``shingles_of_tokens``'s docstring only
    forbids captured *computed* subtrees, which Spark re-evaluates per
    element.

    Value contract (pinned in tests/test_dedup_similarity.py): equal to
    ``array_distinct(transform(word_shingles(text, n), xxhash64))`` row
    for row, with docs of fewer than n tokens dropped — same tokens,
    same space-joined n-grams, same hashes; string-level distinctness
    differs from hash-level distinctness only on an intra-document
    xxhash64 collision (~2^-64 per pair).

    ``spread=False`` skips the under-partitioned-corpus repartition for
    inputs that are SMALL BY CONTRACT (probe/eval sets): spreading ~10²
    rows over 32 partitions adds an exchange plus a cluster-wide stage
    for no CPU win (OPTIMIZATION_r17.md §18: the probe-side band collect
    drops 2.1 → 1.2 s at sf0.1). Corpus-side callers keep the default
    (shingling is CPU-bound; on a real corpus _spread no-ops).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    if spread:
        base = _spread(base)
    t = F.col("__toks__")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(shingle_words - 1)),
        lambda i: F.xxhash64(
            F.concat_ws(
                " ",
                *[F.element_at(t, i + F.lit(j)) for j in range(shingle_words)],
            )
        ),
    )
    return (
        base.select("id", tokens("__text__").alias("__toks__"))
        # size < n ⇔ an empty shingle list (empty/NULL text tokenizes
        # to size 1/-1, both dropped)
        .filter(F.size(t) >= shingle_words)
        .select("id", F.array_distinct(sh).alias("hs"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_words: int = 3,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over word-n-gram shingle sets:
    explode shingles → self-join on shingle → per-pair intersection count
    → filter |A∩B| / (|A|+|B|−|A∩B|) >= threshold.

    Returns (id_a, id_b) with id_a < id_b. Exact but quadratic in the
    per-shingle document frequency — use `minhash_lsh_pairs` at corpus
    scale and keep this as the verifier inside candidate buckets.
    """
    # (id, sh) with sh = the distinct word-n-gram strings. The token
    # array is projected into a real column first so the regex tokenizer
    # runs once per row (CollapseProject keeps the two projections apart
    # because the token array is referenced n+2 times and is non-cheap).
    # STRING shingles, not hashed_shingle_sets: an A/B on the
    # neardup_clusters input (sf0.01, 4 CPUs, 6 interleaved noop-sink
    # reps, identical 100-pair sets) measured this shape at 0.83 s median
    # (0.65 s min) vs 1.21 s (1.13 s min) for exploding hashed_shingle_sets'
    # hs — the explode below is needed either way, and xxhash64 after it
    # runs in whole-stage codegen while hashing inside a transform lambda
    # is interpreted.
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    sh = (
        _spread(base)
        .select("id", tokens("__text__").alias("__toks__"))
        .select("id", shingles_of_tokens("__toks__", shingle_words).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    sizes = sh.select("id", F.size("sh").alias("sz"))
    # join on the 8-byte shingle hash, not the shingle string: narrower
    # shuffle + cheaper key compare; a 64-bit collision adds 1 to one
    # pair's intersection with probability ~n_pairs/2^64 — negligible.
    # DELIBERATELY three recomputed subtrees (sizes + both join sides),
    # no cache: an r17 A/B (OPTIMIZATION_r17.md §3, sf0.1, interleaved
    # noop-sink reps) measured the cached-prepartitioned single-pass
    # shape at 2.30 s vs 1.85 s (cache + recomputed sizes) vs 1.52 s
    # for this shape — the pipelined recompute saturates all cores
    # while the cache variants serialize behind a materialization
    # barrier, and AQE broadcasts one join side locally either way.
    exploded = sh.select("id", F.explode("sh").alias("s")).select(
        "id", F.xxhash64("s").alias("h")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            >= threshold
        )
        .select("id_a", "id_b")
    )


def _cap_buckets(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets larger than the cap before the in-bucket
    self-join (the O(k²) guard for degenerate duplicate clusters). One
    extra aggregation on the bucket key; no-op when cap is None."""
    if max_bucket_size is None:
        return banded
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn__"))
    return banded.join(
        sizes.filter(F.col("__bn__") <= max_bucket_size).drop("__bn__"), keys
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs (the scale path)
# ---------------------------------------------------------------------------


def _minhash_family_kernel(num_hashes: int):
    """Vectorized MinHash family + per-doc min: one Arrow batch of
    per-doc shingle-hash arrays (``hs``) in, per-doc ``num_hashes``
    signature longs out. Reproduces the former JVM aggregate's
    ``min(xxhash64(h0, lit(i)))`` BIT-EXACTLY: Spark's two-column
    xxhash64 chains ``hashInt(i, hashLong(h0, 42))`` (XXH64
    specializations for 8-/4-byte inputs — public algorithm, same
    constants), so the kernel computes t = hashLong(h0, 42) once per
    shingle hash, derives each family member as hashInt(i, t) (~7
    vectorized uint64 ops), and takes per-doc SIGNED mins with
    ``np.minimum.reduceat`` — the ordering ``F.min`` uses on longs.
    Value-equality is pinned by tests/test_dedup_similarity.py::
    test_minhash_fused_kernel_matches_aggregate_formulation (both
    widths used in the registry, unicode text, duplicate shingles).

    Per-row input state is the doc's distinct shingle-hash array — the
    same bound as the collect_set verification set the former aggregate
    carried (and the simhash kernel's contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def _rotl(x, r: int):
        rr = np.uint64(r)
        return (x << rr) | (x >> (np.uint64(64) - rr))

    def _fmix(h):
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        h = h ^ (h >> np.uint64(32))
        return h

    def _mins(hs: pd.Series) -> pd.Series:
        # all arithmetic is deliberate mod-2^64 (XXH64); silence numpy's
        # overflow warnings for the batch, matching JVM long semantics
        with np.errstate(over="ignore"):
            n_docs = len(hs)
            if n_docs == 0:
                return pd.Series([], dtype=object)
            lens = hs.map(len).to_numpy(dtype=np.int64)
            if lens.sum() == 0:
                # callers filter size(sh) > 0 upstream, but the kernel
                # must not depend on that (the simhash-kernel contract)
                return pd.Series([[np.iinfo(np.int64).max] * num_hashes] * n_docs)
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hs]
            ).view(np.uint64)
            offsets = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            # t = hashLong(h0, seed=42), shared across the whole family
            t = np.uint64(42) + P5 + np.uint64(8)
            t = _fmix(_rotl(t ^ (_rotl(flat * P2, 31) * P1), 27) * P1 + P4)
            base = t + P5 + np.uint64(4)  # hashInt's seed fold, i-independent
            out = np.empty((n_docs, num_hashes), dtype=np.int64)
            empty = lens == 0
            for i in range(num_hashes):
                hi = _fmix(
                    _rotl(base ^ (np.uint64(i) * P1), 23) * P2 + P3
                ).view(np.int64)
                out[:, i] = np.minimum.reduceat(hi, offsets)
            # empty docs read the next doc's segment under reduceat
            out[empty, :] = np.iinfo(np.int64).max
            return pd.Series(list(out))

    return pandas_udf(_mins, "array<long>")


def minhash_signatures(hashed: DataFrame, num_hashes: int) -> DataFrame:
    """MinHash signature + verification set per id from a
    ``hashed_shingle_sets``-shaped frame (id, hs), computed WITHOUT
    leaving the row: the bit-exact vectorized family kernel derives the
    ``num_hashes`` mins from each doc's distinct shingle hashes. Output:
    (id, h0..h{n-1}, hs) — the shared relation batch LSH,
    decontamination, the persisted index and the streaming near-dup
    index all build on.

    Plan: scan → project → one ArrowEvalPython, ZERO exchanges — the
    signature is a per-row function of a per-row array, so an explode +
    groupBy(id) formulation only adds a row blow-up and a shuffle that
    reduces nothing (OPTIMIZATION_r17.md §16 records the A/B). The
    output is NOT hash-clustered on id: every registry consumer's verify
    join either broadcasts or exchanges candidate ids, never this
    relation (guide §3.1)."""
    kernel = _minhash_family_kernel(num_hashes)
    return hashed.select("id", kernel("hs").alias("__mh__"), "hs").select(
        "id",
        *[F.element_at("__mh__", i + 1).alias(f"h{i}") for i in range(num_hashes)],
        "hs",
    )


def band_keys(
    sig: DataFrame, num_hashes: int, bands: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Unpivot a signature frame to (id, band, bh): hash each
    ``num_hashes/bands``-wide signature slice into one 64-bit band key —
    one row per band per id, the only relation the LSH candidate join
    ever shuffles.

    ``carry`` names extra ``sig`` columns to project through the
    unpivot (one copy per band row). The persisted-index builder uses
    it to keep the verification set ``hs`` on the banded rows in ONE
    pass — the former ``band_keys(sig).join(sig.select("id","hs"))``
    shape re-computed the whole signature aggregation for each side of
    the join (Catalyst does not dedupe common subtrees) and paid the
    join's exchanges on top (guide §2.4: remove shuffles outright)."""
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * rows + j}") for j in range(rows)]).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bb"), *carry).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"), *carry
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 128,
    bands: int = 64,
    shingle_words: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH, verified with exact
    Jaccard. With 64 bands × 2 rows, a pair at J=0.6 escapes LSH with
    probability (1−0.6²)^64 ≈ 4e-13 — effectively exact above the
    threshold while only ever joining within buckets.

    Plan shape:
    1. signatures + verification sets ROW-LOCALLY (hashed shingle
       sets, vectorized family kernel for the mins — see
       minhash_signatures): zero exchanges, no explode;
    2. hash `rows`-wide signature slices into band keys, unpivot to
       (id, band, band_hash) — one row per band;
    3. self-join on (band, band_hash) carrying ONLY ids (narrow shuffle),
       distinct the candidate pairs;
    4. rejoin the hashed shingle sets by id and keep pairs with exact
       Jaccard >= threshold (intersection of 64-bit shingle hashes ==
       intersection of shingles up to a ~2^-64 per-pair collision).

    Output: (id_a, id_b), id_a < id_b.

    ``max_bucket_size`` is the adversarial-corpus guard: a degenerate
    bucket of k near-identical docs makes the in-bucket join O(k²).
    When set, buckets above the cap are dropped before the self-join
    (members of a big duplicate cluster still pair up through their
    other 63 bands unless the cluster floods those too — at which point
    dropping is the sane behavior; dedup the exact-duplicate cluster
    with dedup_exact first).

    Cache lifetime: this operator leaves TWO tracked persisted
    relations alive after returning (the per-id signature aggregate and
    the pre-partitioned banded relation) so the returned lazy frame can
    execute without rebuilding them. Long-lived sessions that run many
    pipeline stages should call ``cache.release_tracked()`` (or
    ``spark.catalog.clearCache()``) between stages, or the caches
    accumulate (ADVICE r13 #4).
    """
    base = hashed_shingle_sets(df, id_col, text_col, shingle_words)

    # 1. signatures + verification sets in one row-local pass (see
    # minhash_signatures — zero exchanges since r17, no shingle
    # strings materialized since r18). Three consumers
    # read the relation (banding, verify side a, verify side b); persist
    # it so the scan → shingle → hash → kernel pass runs ONCE instead of
    # per branch. The cached relation is per-id (num_hashes longs + the
    # hashed shingle set) — orders of magnitude smaller than the corpus
    # text, and it spills to disk rather than OOMing on wide documents.
    # tracked_persist (not a bare persist) so release_tracked() can free
    # it between pipeline stages in a long-lived session, same as the
    # banded relation below.
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    agg = tracked_persist(minhash_signatures(base, num_hashes))
    sig = agg

    # 2. band keys from signature slices (multi-column xxhash64),
    # cached PRE-PARTITIONED on the bucket key: the candidate self-join
    # below then satisfies BOTH sides' clustering from the same cached
    # relation (and the optional bucket-cap aggregation + join elide
    # their exchanges too) — ONE build exchange of the (id, band, bh)
    # relation instead of one per join side per consumer. tracked_persist
    # so long-lived sessions release it between stages (cache.py).
    banded = tracked_persist(band_keys(sig, num_hashes, bands).repartition("band", "bh"))
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)

    # 3. candidates: ids only through the join
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # 4. exact-Jaccard verification on the candidate set only, over the
    # hashed shingle sets (8-byte elements intersect ~4x faster than
    # strings), read from the same shared aggregate as the signatures
    sh_a = agg.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    sh_b = agg.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = F.size("hs_a") + F.size("hs_b") - F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(inter / union >= threshold)
        .select("id_a", "id_b")
    )


def minhash_decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 128,
    bands: int = 64,
    shingle_words: int = 3,
) -> DataFrame:
    """Asymmetric near-dup probe — benchmark decontamination: flag every
    corpus document that is a near-duplicate (Jaccard >= threshold over
    word shingles) of ANY probe document. `contamination_overlap`
    (curation.py) catches verbatim n-gram leakage; this catches the
    paraphrased/reformatted eval questions that slip past exact
    matching — the standard companion check before training.

    The asymmetry is the scale story: probes (an eval set) are small by
    definition, so their band keys and shingle hash-sets BROADCAST. The
    corpus pays exactly the row-local signature pass it already pays
    for self-dedup (zero shuffles since r17) — the band probe and the
    verification both join against broadcast relations, and only
    candidate ids flow between them. Corpus-side cost is O(corpus) +
    O(matches), independent of probe pairing.

    Output: (id, probe_id, jaccard double) for verified matches, exact
    up to the (1-threshold^2)^bands escape probability (4e-13 at the
    defaults) — the verification Jaccard itself is exact.
    """
    base_c = hashed_shingle_sets(corpus, id_col, text_col, shingle_words)
    # probe side: spread=False (eval sets are small by contract — §18),
    # and tracked_persist because the probe aggregate feeds BOTH banding
    # and verification unpersisted — each evaluation re-scanned the full
    # source to filter out the probes, so the tiny persist saves one
    # whole corpus text scan (measured §18)
    base_p = hashed_shingle_sets(probes, id_col, text_col, shingle_words, spread=False)
    # corpus signature relation feeds banding + verification: persist
    # like minhash_lsh_pairs so the scan -> shingle -> kernel runs once
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    agg_c = tracked_persist(minhash_signatures(base_c, num_hashes))
    agg_p = tracked_persist(minhash_signatures(base_p, num_hashes))

    bands_c = band_keys(agg_c, num_hashes, bands)
    bands_p = band_keys(agg_p, num_hashes, bands).withColumnRenamed("id", "probe_id")
    candidates = (
        bands_c.join(F.broadcast(bands_p), ["band", "bh"])
        .select("id", "probe_id")
        .dropDuplicates(["id", "probe_id"])
    )

    sh_c = agg_c.select("id", F.col("hs").alias("hs_c"))
    sh_p = agg_p.select(F.col("id").alias("probe_id"), F.col("hs").alias("hs_p"))
    inter = F.size(F.array_intersect("hs_c", "hs_p")).cast("double")
    union = F.size("hs_c") + F.size("hs_p") - F.size(F.array_intersect("hs_c", "hs_p"))
    return (
        candidates.join(sh_c, "id")
        .join(F.broadcast(sh_p), "probe_id")
        # threshold on the RAW ratio (matching minhash_lsh_pairs and the
        # SQL oracle's WHERE clause); round only the OUTPUT column — a
        # pair a hair under threshold must not round its way in
        .filter((inter / union) >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("id", "probe_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs
# ---------------------------------------------------------------------------


def _simhash_vote_kernel():
    """Vectorized SimHash vote counter: one Arrow batch in, per-doc
    64-bit signature words out. Input: two array<long> columns (the
    per-doc token hashes, one list per signature word); output:
    array<long> of the two signature longs. Bit b of word w
    is set iff at least half the doc's token hashes have bit b set —
    identical to the former 128-column ``sum(when(bit, 1).otherwise
    (-1)) >= 0`` formulation (votes = 2*ones - n, votes >= 0 <=>
    2*ones >= n, ties included), proven value-equal in
    tests/test_dedup_similarity.py::test_simhash_arrow_kernel_matches_sum_formulation.

    Why a kernel (r17 optimization, guide §4.2): the 128-column vote
    aggregate dominated the signature computation — measured at sf0.1
    (OPTIMIZATION_r17.md §5, interleaved noop-sink reps) 3.45-3.57 s
    for the JVM aggregate variants (conditional, branchless, and
    32-bit-lane-packed all within noise of each other — the cost is
    the wide aggregate itself, not the branch) vs 0.78 s for
    collect_list + this kernel, with the explode/aggregate floor at
    0.50 s. Per-group state (the token-hash list) is bounded by doc
    size, the same contract as minhash's collect_set verification
    sets."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _word_sigs(series) -> "np.ndarray":
        shifts = np.arange(64, dtype=np.uint64)
        n_docs = len(series)
        lens = series.map(len).to_numpy(dtype=np.int64)
        if n_docs == 0 or lens.sum() == 0:
            return np.zeros((n_docs,), dtype=np.int64)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in series]
        ).astype(np.uint64)
        offsets = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        ones = np.empty((n_docs, 64), dtype=np.int64)
        for b in range(64):
            bit = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            ones[:, b] = np.add.reduceat(bit, offsets)
        # empty docs (len 0) read the next doc's segment under reduceat;
        # zero them explicitly (explode never emits them today, but the
        # kernel must not depend on that)
        ones[lens == 0, :] = 0
        maj = (2 * ones) >= lens[:, None]
        sig = (maj.astype(np.uint64) << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        return sig.astype(np.int64)

    def _sigs2(a0: pd.Series, a1: pd.Series) -> pd.Series:
        return pd.Series(
            list(np.stack([_word_sigs(a0), _word_sigs(a1)], axis=1))
        )

    return pandas_udf(_sigs2, "array<long>")


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between 64-bit long signatures: popcount(a^b)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signature128(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """128-bit SimHash per document as TWO long columns (sig0, sig1).
    Bit b of word w is the sign of the sum over distinct tokens of ±1
    according to bit b of xxhash64(token, seed=w) (word 0 unseeded) —
    two independent hashes give 128 independent bits. The long form
    keeps banding (shift+mask) and hamming (bit_count of xor) single
    codegen'd instructions. Votes are counted by the vectorized Arrow
    kernel (`_simhash_vote_kernel` — r17; same values as the former
    128-column JVM vote aggregate, measured 3.45 s -> 0.78 s at
    sf0.1)."""
    # row-local since r17 (§16's fused-signature pattern): the distinct
    # token array is already per-doc, so hash it in place and feed the
    # kernel directly — the former explode → groupBy(id).collect_list
    # shape paid an explode row-blowup and one full exchange of the
    # token hashes for zero reduction (each doc's tokens live in its
    # own partition). Same values: vote counting is order-insensitive.
    # The token array is projected into its own column first: it is
    # non-cheap and referenced twice (a0, a1), so CollapseProject keeps
    # the projections apart and the tokenizer runs once per row.
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    ).select(
        "id",
        F.array_distinct(tokens("__text__")).alias("__toks__"),
    ).select(
        "id",
        F.transform("__toks__", lambda t: F.xxhash64(t)).alias("a0"),
        F.transform("__toks__", lambda t: F.xxhash64(t, F.lit(1))).alias("a1"),
    )
    kernel = _simhash_vote_kernel()
    return base.select("id", kernel("a0", "a1").alias("__sp__")).select(
        "id",
        F.element_at("__sp__", 1).alias("sig0"),
        F.element_at("__sp__", 2).alias("sig1"),
    )


def simhash128_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with 128-bit SimHash distance <= max_hamming.
    Banding over `bands` equal bit-slices guarantees exact recall when
    max_hamming < bands (pigeonhole: some band must match exactly), so
    the cross-corpus join only happens inside identical-band buckets.
    Each band slice is 128/bands bits wide: at the default 4 bands
    that is 32 bits per band, so CHANCE band collisions are
    4·C(n,2)/2³², where a 64-bit signature's 16-bit bands would see
    4·C(n,2)/2¹⁶ — 65,536× more, which is why the 64-bit width was
    dropped (measured: tests/test_dedup_similarity.py chance-collision
    comparison). Output (id_a, id_b, hamming).

    The banded relation is cached hash-partitioned on the bucket key,
    so the candidate self-join (and the optional bucket cap) satisfy
    their clustering from the same cache — one build exchange instead
    of one per join side, the minhash_lsh_pairs round-13 pattern
    (19,200 banded rows → 12 live records under forced SMJ,
    tests/test_scale_rehearsal.py)."""
    if max_hamming >= bands:
        raise ValueError("exact recall requires max_hamming < bands")
    if 128 % bands or 64 % (128 // bands):
        raise ValueError("bands must divide 128 into word-aligned slices")
    width = 128 // bands
    per_word = 64 // width  # band slices per 64-bit word
    mask = (1 << width) - 1 if width < 64 else -1
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    sig = tracked_persist(simhash_signature128(df, id_col, text_col))
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(f"sig{b // per_word}", (b % per_word) * width)
            .bitwiseAND(F.lit(mask))
            .alias("bs"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "id", "sig0", "sig1", F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        "id", "sig0", "sig1",
        F.col("bb.band").alias("band"), F.col("bb.bs").alias("bs"),
    )
    banded = tracked_persist(banded.repartition("band", "bs"))
    banded = _cap_buckets(banded, ["band", "bs"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = hamming_distance(F.col("a.sig0"), F.col("b.sig0")) + hamming_distance(
        F.col("a.sig1"), F.col("b.sig1")
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bs") == F.col("b.bs"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# near-dup clusters: connected components over the pair graph
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node that appears in ``pairs``, where
    ``component`` is the minimum node id reachable through the pair
    graph — the step that turns near-dup PAIRS into dedup GROUPS so one
    canonical document per group survives.

    Algorithm: min-label propagation. Each node starts with label
    min(self, neighbors) and every iteration takes the min of its
    neighbors' labels, until a fixpoint. Iterations needed = graph
    diameter, and near-dup components are shallow (copies of a common
    ancestor), so this converges in a handful of rounds; each round is
    one join (edges ⋈ labels on v) and ONE aggregation over the
    neighbor messages ∪ the current labels, all JVM-side: the
    aggregate yields the new label and the old one together, so
    nothing joins back to the labels.

    Lineage is CUT each round with ``localCheckpoint`` (the pagerank
    loop's pattern, operators/graph.py): each iteration's plan
    references the previous labels both through the join and as the
    carried state, so a cache-only loop keeps a logical plan
    that compounds per round (at max_iter=25 the old persist version
    planned 496 broadcast nodes — execution was cached, but planning
    time grew superlinearly with rounds). The checkpoint restarts every
    round's plan from the materialized label partitions: plan size is
    O(1) per round (asserted by
    tests/test_dedup_similarity.py::test_cc_plan_size_is_iteration_invariant).
    Edges are materialized once too — cached PRE-PARTITIONED on the
    round join key (persist, not checkpoint: InMemoryRelation preserves
    the hash(v) partitioning a checkpoint would erase), so the
    expensive upstream pair detector never re-runs per round AND the
    per-round join satisfies its edge-side clustering from cache once
    sort-merge join engages at scale (measured,
    tests/test_scale_rehearsal_analytics.py).
    Swap localCheckpoint for checkpoint() on a reliable FS when
    executor loss must be survivable mid-computation. The convergence
    check is an ``Observation`` on the round's checkpoint job: the
    changed-label count rides back with the job that materializes the
    round, so a round runs no count job and collects no data.

    Storage is bounded too, not just plans: a SUPERSEDED round's
    checkpoint blocks are freed deterministically (the checkpoint RDD
    handle is taken from the DataFrame's own LogicalRDD, so nothing
    else's cache can be touched) once the next round has materialized —
    at any moment at most two label snapshots plus the hash(v)-
    partitioned edge cache and the pinned input pair cache occupy
    executor storage, instead of max_iter snapshots waiting for driver
    GC (asserted by test_cc_frees_superseded_checkpoints). The pair
    cache is held for the loop's whole duration so lost edge blocks
    recompute from a pinned snapshot, not from a possibly
    nondeterministic upstream detector (ADVICE r13 #1).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    # the input pair relation is typically expensive (a near-dup
    # detector); persist it so the two-direction edge union doesn't
    # compute it twice while the edge checkpoint materializes
    p = pairs.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # ONE materialization for the loop-invariant edge relation, cached
    # PRE-PARTITIONED on the round join key (the pagerank / classifier
    # loop-invariant pattern, operators/graph.py): once sort-merge join
    # engages (at scale, labels past any broadcast threshold) each round
    # then re-shuffles only the |V|-row label relation and the min-label
    # partial aggregates, never the 2|E| edge rows — O(1) passes of the
    # edge relation through the shuffle system instead of O(rounds),
    # measured under a forced no-broadcast plan in
    # tests/test_scale_rehearsal_analytics.py. persist (not the label
    # loop's localCheckpoint) because InMemoryRelation PRESERVES the
    # hash(v) partitioning a checkpoint would erase, and it equally
    # stops per-round re-execution of the expensive upstream pair
    # detector — whose logical plan is loop-INVARIANT, so re-analyzing
    # it per round is constant planning cost, unlike the label lineage
    # the loop must checkpoint to stop compounding.
    from hazelcast_jet_contrib_spark.cache import adaptive_repartition

    # partition count from the edge relation's size estimate (r18, see
    # cache.adaptive_repartition): the loop re-scans this cache every
    # round, so a static core-count-sized cache is a per-round fixed
    # cost; the explicit size-derived count keeps the hash(v)
    # clustering the round join reuses (rehearsal-pinned).
    edges = adaptive_repartition(
        p.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(p.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))),
        "v",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # try/finally from the first action on: a failure in ANY job of the
    # loop (executor loss, bad input surfacing lazily in the init-label
    # aggregate or a round's checkpoint) must not orphan the persisted pair/edge
    # relations in a long-lived session — the same loop-abort
    # discipline pagerank (graph.py) and the classifier GD loop follow
    # (VERDICT r08 item 8).
    try:
        # no materializing count (r17): the init-label aggregate below
        # builds the edge cache in its own first job — an up-front
        # count was one extra pass of 2|E| for nothing, and failures
        # still surface inside the try (interleaved A/B at sf0.1,
        # OPTIMIZATION_r17.md §10: neardup_clusters min 3.04 s with the
        # count vs 2.66 s without, 23 -> 21 Spark jobs)
        # p stays persisted for the WHOLE loop (released in finally), not
        # unpersisted here: if edge cache blocks are lost mid-loop
        # (executor loss at cluster scale), rounds recompute edges from
        # this pinned snapshot instead of silently re-running a possibly
        # nondeterministic upstream pair detector (ADVICE r13 #1). The
        # cost is one extra cached copy of the (id_a, id_b) pair
        # relation — small next to the 2|E| edge cache it backs.
        labels = (
            edges.groupBy("u")
            .agg(F.min("v").alias("l"))
            .select("u", F.least("u", "l").alias("l"))
            .localCheckpoint(eager=True)
        )
        labels_h = _checkpoint_rdd_handle(labels)
        label_type = labels.schema["l"].dataType
        for _ in range(max_iter):
            # neighbor labels (old NULL) ∪ current labels (old = l)
            messages = edges.join(
                labels.select(F.col("u").alias("v"), F.col("l").alias("x")), "v"
            ).select("u", "x", F.lit(None).cast(label_type).alias("old"))
            state = labels.select("u", F.col("l").alias("x"), F.col("l").alias("old"))
            changes = Observation()
            stepped = (
                messages.unionByName(state)
                .groupBy("u")
                .agg(F.min("x").alias("l"), F.max("old").alias("old"))
                .observe(changes, F.count_if(F.col("l") != F.col("old")).alias("changed"))
                .localCheckpoint(eager=True)
            )
            stepped_h = _checkpoint_rdd_handle(stepped)
            changed = changes.get["changed"]
            # stepped is fully materialized now, so the previous round's
            # snapshot can never be read again — free its blocks
            if labels_h is not None:
                labels_h.unpersist(False)
            labels, labels_h = stepped.select("u", "l"), stepped_h
            if changed == 0:
                break
        # the returned relation reads only the final stepped checkpoint;
        # the edge cache is dead weight past this point (released in finally)
        return labels.select(F.col("u").alias("node"), F.col("l").alias("component"))
    finally:
        for df_ in (edges, p):
            try:
                df_.unpersist()
            except Exception:
                pass


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    higher_is_better: bool = True,
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster,
    mark as canonical the document with the BEST quality (ties break on
    the smaller id); documents in no cluster are their own canonicals.

    This is the retention policy production dedup actually wants:
    rather than an arbitrary member (the min id), a training pipeline
    keeps the highest-quality copy (longest, best LM score, least
    boilerplate) and drops the rest. ``pairs`` is
    any (id_a, id_b) near-dup relation (MinHash, SimHash, embedding…);
    ``quality_col`` is any per-document numeric (n_chars, a Gopher
    score, unigram/bigram LM quality…).

    Scale shape: components come from min-label propagation over the
    PAIR graph only (near-dups are a small fraction of the corpus); the
    corpus joins that relation once on id (left join — AQE broadcasts
    the component side when small), and the per-cluster argmax is one
    window rank partitioned by component. Singleton documents never
    enter the window: their component is themselves and they are
    canonical by construction, so the window's input is bounded by the
    CLUSTERED rows, not the corpus.

    Output: (``id_col``, component_id, cluster_size int, is_canonical
    boolean) — one row per input document.
    """
    comps = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("component").alias("component_id")
    )
    joined = df.select(id_col, quality_col).join(comps, id_col, "left")
    singles = joined.filter(F.col("component_id").isNull()).select(
        F.col(id_col),
        F.col(id_col).alias("component_id"),
        F.lit(1).alias("cluster_size"),
        F.lit(True).alias("is_canonical"),
    )
    q = F.col(quality_col)
    rank_w = Window.partitionBy("component_id").orderBy(
        q.desc() if higher_is_better else q.asc(), F.col(id_col).asc()
    )
    size_w = Window.partitionBy("component_id")
    clustered = (
        joined.filter(F.col("component_id").isNotNull())
        .withColumn("cluster_size", F.count(F.lit(1)).over(size_w).cast("int"))
        .withColumn("is_canonical", F.row_number().over(rank_w) == 1)
        .select(id_col, "component_id", "cluster_size", "is_canonical")
    )
    return singles.unionByName(clustered)


# ---------------------------------------------------------------------------
# Winnowing fingerprints
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of w consecutive hashes, and select each window's minimum
    (ties broken RIGHTMOST). Guarantees: any shared substring of at
    least w+k-1 words between two documents yields a shared selected
    fingerprint, while only ~2/(w+1) of all k-gram hashes are kept —
    position-robust partial-overlap detection at a fraction of
    full-shingle cost.

    Output: (id, fp_pos, fp_hash) — distinct selected fingerprints.

    Engine-portable construction (everything integer, so the registry
    query hash-matches an exact SQL mirror): the k-gram hash is a
    31-ary char-code fold mod 2^31-1, and the (hash, rightmost-pos)
    argmin rides a single ``min()`` window aggregate over the encoding
    ``hash * 2^32 + (2^32-1-pos)`` — hash < 2^31 keeps the maximum at
    exactly int64-max with no overflow, and the positional component
    stays non-negative for any document under 2^32 k-grams, so the
    encoding is order-correct for every realizable document. Documents
    with fewer than w k-grams keep their global minimum (one
    fingerprint) via the same truncated window frame. Scale: one posexplode + one window aggregate
    partitioned by document — no joins, no shuffle beyond the
    id-partitioning the window needs."""
    from pyspark.sql import Window

    from hazelcast_jet_contrib_spark.functions.text import (
        shingle_list_of_tokens,
        tokens,
    )

    p = 2147483647
    enc = 1 << 32
    kgrams = shingle_list_of_tokens(tokens(F.col(text_col)), k)
    base = df.select(
        F.col(id_col).alias("id"), F.posexplode(kgrams).alias("pos", "kg")
    )
    h = F.aggregate(
        F.transform(F.split(F.col("kg"), ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % p,
    )
    hashed = base.select("id", "pos", h.alias("h"))
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    scored = hashed.select(
        "id",
        "pos",
        F.min(F.col("h") * enc + (enc - 1 - F.col("pos"))).over(win).alias("m"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("cnt"),
    )
    starts = scored.filter(F.col("pos") <= F.greatest(F.col("cnt") - w, F.lit(0)))
    return (
        starts.select(
            "id",
            (F.lit(enc - 1) - F.col("m") % enc).cast("int").alias("fp_pos"),
            F.shiftright("m", 32).alias("fp_hash"),
        )
        .distinct()
    )


def band_probe_pairs_64(
    left_sig: DataFrame,
    right_sig: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Hamming-banded pair join between two relations of (id, sig)
    where sig is ANY 64-bit long signature (SimHash, perceptual image
    hash, fingerprint). Pigeonhole over `bands` equal bit-slices gives
    exact recall for hamming <= max_hamming when max_hamming < bands,
    so the cross join only happens inside identical-band buckets — the
    same scale shape as simhash128_pairs but between two sides (probe
    pattern, like minhash_decontaminate), so a small probe side never
    triggers a corpus self-join. Output (id_a, id_b, hamming) with
    id_a from left, id_b from right."""
    if max_hamming >= bands:
        raise ValueError("exact recall requires max_hamming < bands")
    if 64 % bands:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame) -> DataFrame:
        cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("sig", b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bs"),
            )
            for b in range(bands)
        ]
        return df.select("id", "sig", F.explode(F.array(*cols)).alias("bb")).select(
            "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bs").alias("bs")
        )

    a, b = banded(left_sig).alias("a"), banded(right_sig).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bs") == F.col("b.bs")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_distance(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index: build once, probe many (the text-side
# twin of similarity.build_ivf_index / ivf_index_topk)
# ---------------------------------------------------------------------------


# The SETS rows' exchange-salt SPACE (not a partition count): sets rows
# hash over this many exchange buckets so the corpus-sized hs volume
# never funnels into one reduce task at scale, while AQE's size-based
# coalescing folds the tiny buckets back together locally — nothing
# here is tuned to a core count. 4096 buckets keep per-bucket sets
# volume ≤ ~0.5 GB up to ~2 TB of raw verification sets (≈ tens of TB
# of corpus text); past that, raise this constant (the bound is
# recorded in SCALE.md). This salt
# covers the sets rows ONLY: each BAND's rows keep salt 0 and land in
# one reduce task per band (~24 B/doc × N docs per task, linear in the
# corpus) — an explicit residual (ADVICE r17 #4): splitting a band
# across tasks by id-hash would break the band files' disjoint bh
# ranges that probe row-group pruning relies on, and range-splitting
# costs a sampling pass per epoch; revisit if a single band's rows
# outgrow one task before the sets volume outgrows this salt space.
_SETS_SHARD_SPACE = 4096
_SETS_BAND = -1  # the sets rows' partition value; band=* globs match it
# Both MinHash indexes (this module's and streaming/dedup_index.py's)
# are EpochCommitLog state directories holding this one kind: each
# epoch dir is one write_index_epoch output.
INDEX_KIND = "index"
_PARAMS = "_minhash_params.json"
_LAYOUT = "epochs-v3"
_OWNER = "minhash index"


def index_rows(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_words: int,
) -> DataFrame:
    """One index epoch's row relation — (id, band, bh, hs): ``bands``
    NARROW rows per document (band 0..bands-1, the 64-bit bucket key
    ``bh``, hs NULL) plus ONE sets row (band = -1, bh NULL) carrying the
    document's shingle-hash verification set ``hs``. Until r17 ``hs``
    rode EVERY band row (×bands duplication of the dominant column,
    through the band-repartition exchange and onto disk — measured
    ≈5 KB/doc stored vs ≈0.4 KB/doc of raw set at 32 bands); the unified
    layout keeps the epoch a single write action while ``hs`` crosses
    the exchange and hits parquet exactly once per document.

    Exposed so the scale rehearsal can run the exact build computation
    through the executed-plan shuffle accumulators: its cost law
    (row-local signatures + one repartition moving three longs per band
    row + each ``hs`` once — records linear in corpus, constant
    exchanges) IS the index build's cost law."""
    sh = hashed_shingle_sets(corpus, id_col, text_col, shingle_words)
    return signature_index_rows(minhash_signatures(sh, num_hashes), num_hashes, bands)


def signature_index_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """:func:`index_rows` from an already-computed
    ``minhash_signatures`` frame (the streaming index passes its
    persisted survivor signatures)."""
    rows = num_hashes // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * rows + j}") for j in range(rows)]).alias(
                "bh"
            ),
        )
        for b in range(bands)
    ] + [
        F.struct(
            F.lit(_SETS_BAND).cast("int").alias("band"),
            F.lit(None).cast("bigint").alias("bh"),
        )
    ]
    # hs carried FLAT through the explode and nulled for band rows in
    # the same codegen stage — keeping it out of the struct array
    # matters: an array-typed field inside the exploded struct array
    # measurably slows the whole write (OPTIMIZATION_r17.md §19:
    # w_instruct vs w_carryS)
    return sig.select(
        "id", F.explode(F.array(*structs)).alias("bb"), "hs"
    ).select(
        "id",
        F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
        F.when(F.col("bb.band") < 0, F.col("hs")).alias("hs"),
    )


def _route_index_epoch(rel: DataFrame) -> DataFrame:
    """Exchange + physical order for one epoch relation: sets rows salt
    over ``_SETS_SHARD_SPACE`` exchange buckets (band rows keep salt 0 —
    each band stays one bucket), and the within-partition sort LEADS
    with the partition column so the dynamic-partition writer keeps the
    secondary order instead of re-sorting by band and scrambling it
    (r17 finding: the former ``sortWithinPartitions("bh")`` produced
    files that were NOT bh-sorted — 0/32 sorted at sf0.01 — so the
    row-group-pruning story was physically hollow; band-leading sort is
    what makes it real, physically verified file by file —
    OPTIMIZATION_r17.md §19).
    Band files end up bh-sorted, the sets run id-sorted (bh is NULL
    constant there, so the id key takes over)."""
    routed = rel.withColumn(
        "__shard__",
        F.when(
            F.col("band") < 0,
            F.pmod(F.xxhash64("id"), F.lit(_SETS_SHARD_SPACE)),
        ).otherwise(F.lit(0)),
    )
    # EXPLICIT partition count (r18): the session now lets AQE coalesce
    # column-repartitions by BYTES (parallelismFirst=false), but this
    # exchange feeds the parquet encode — CPU per row, not bytes — and
    # byte-based coalescing serialized the write (build leg 2.0 → 2.6 s,
    # compact 0.8 → 1.3 s at sf0.1). The explicit count is the
    # deployment's parallelism knob (spark.sql.shuffle.partitions), the
    # same count the pre-r18 plan used; bucket→partition assignment is
    # still pure hash(band, __shard__), so the per-band single sorted
    # run and the sets rows' shard spread are unchanged.
    n = int(rel.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        routed.repartition(n, F.col("band"), F.col("__shard__"))
        .sortWithinPartitions("band", "bh", "id")
        .drop("__shard__")
    )


def write_index_epoch(rel: DataFrame, out: str) -> None:
    """Write an index relation (one epoch's :func:`index_rows`, or a
    compaction's :func:`read_index_epochs`) to ``out`` as sorted
    ``band=N`` partitions: ONE action — one exchange → sorted
    band-partitioned parquet; the sets rows ride the same write as the
    ``band=-1`` partition, so there is no second job and no persist
    barrier. Overwrite mode: rewriting an uncommitted epoch dir replaces
    its crash leftovers. The one writer of both MinHash indexes."""
    _route_index_epoch(rel).write.mode("overwrite").partitionBy("band").parquet(out)


def read_index_epochs(spark, dirs: list[str], id_type: str) -> DataFrame:
    """The index relation (id, bh, hs, band) over the committed
    ``dirs`` of :data:`INDEX_KIND` (``EpochCommitLog.epoch_dirs``): one
    scan per dir, unioned. One parquet read over several dirs that
    each hold ``band=N`` fails partition discovery
    (CONFLICTING_DIRECTORY_STRUCTURES); a scan per dir keeps both the
    ``band`` partition pruning and the ``bh``/``id`` pushdowns in every
    scan. The explicit schema (``id_type``: the corpus id column's SQL
    type) spares a schema-inference job per dir and reads an epoch with
    no rows as empty. The one reader of both MinHash indexes."""
    schema = f"id {id_type}, bh bigint, hs array<bigint>, band int"
    if not dirs:
        return spark.createDataFrame([], schema)
    return reduce(
        DataFrame.unionByName, (spark.read.schema(schema).parquet(d) for d in dirs)
    )


def _open_index(path: str) -> tuple[EpochCommitLog, dict]:
    """The commit record and ``_minhash_params.json`` sidecar of the
    index at ``path``. A URI path (both are driver-local file I/O), a
    former layout and an index with no committed epoch all raise: read
    as this layout, the latter two would probe as an index with fewer or
    no rows — for a decontamination tool a silent safety failure."""
    log = EpochCommitLog(path, _OWNER)
    with open(os.path.join(path, _PARAMS)) as f:
        params = json.load(f)
    if params.get("layout") != _LAYOUT:
        # pre-r17: hs on every band row, no band=-1 sets run (every
        # verification fails); unified-v2: band=N dirs at the root, no
        # commit record (no epoch to read)
        raise ValueError(
            f"index at {path!r} was built with layout "
            f"{params.get('layout')!r}, not {_LAYOUT!r}: rebuild it "
            "with build_minhash_index"
        )
    if log.committed() is None:
        raise ValueError(
            f"index at {path!r} has no committed epoch (its build did not "
            "finish): rebuild it with build_minhash_index"
        )
    return log, params


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_words: int = 3,
) -> None:
    """Materialize a reusable near-dup index on disk, replacing any
    index at ``path``. ``path`` is an ``EpochCommitLog`` state directory
    (streaming/exactly_once.py; driver-local, a URI is refused): the
    build is epoch 0 of its one kind, ``index/e0/``, committed after the
    epoch is written — a build that dies first leaves an index every
    probe refuses. Each epoch dir holds one band-partitioned dataset —
    NARROW rows (id, bh, hs=NULL) per (corpus id, band), bh-sorted
    within each band partition, plus the ``band=-1`` partition holding
    ONE (id, hs) verification row per document, id-sorted.

    Why this layout: every probe emits a key in EVERY band, so band
    partitioning alone cannot prune — the pruning lever is ``bh``.
    Sorting by ``bh`` clusters each bucket into adjacent row groups,
    so a probe's `bh IN (...)` predicate (pushed to the scan —
    plan-asserted in tests) skips row groups by min/max stats: a
    bounded probe set reads a bounded slice of an arbitrarily large
    index, and the expensive signature computation over the corpus
    runs ONCE at build time instead of per decontamination run.
    Keeping ``hs`` out of the band rows stores and shuffles the
    dominant column ONCE per document instead of ×bands (the prior
    layout measured ≈5 KB/doc at sf0.1 against ≈0.4 KB/doc of raw
    set — the band unpivot duplicated ``hs`` 32× through the band
    repartition and onto disk); probes re-attach it by a
    candidate-bounded `id IN (...)` scan of the id-sorted ``band=-1``
    run (same row-group pruning story, plan-asserted in tests). And
    because the sets rows are just another band partition written in
    the SAME single action, build/append stay one job each and
    compaction rewrites them with the bands (measured A/B vs both the
    old layout and a two-relation `_sets` variant in
    OPTIMIZATION_r17.md §19 — the unified write matches the old
    layout's wall clock locally at ~6× fewer index bytes).

    Index parameters persist in a `_`-prefixed sidecar so probes can
    never be computed with a mismatched family."""
    log = EpochCommitLog(path, _OWNER)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    with open(os.path.join(path, _PARAMS), "w") as f:
        json.dump(
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_words": shingle_words,
                "id_type": corpus.schema[id_col].dataType.simpleString(),
                "layout": _LAYOUT,
            },
            f,
        )
    write_index_epoch(
        index_rows(corpus, id_col, text_col, num_hashes, bands, shingle_words),
        log.epoch_dir(INDEX_KIND, 0),
    )
    log.commit(0)


def _probe_candidates(idx: DataFrame, probe_rows) -> DataFrame:
    """The probe's LSH candidate-generation relation: the index's NARROW
    band rows, partition-pruned to band >= 0 and row-group-pruned by
    `bh IN (...)` (both pushed into every epoch's scan — the plan pin
    lives on THIS relation since the r18 pairs-collect restructure moved
    the band scan out of probe_minhash_index's returned verify plan).
    Since r18 the relation is the pruned SCAN ALONE: the probe band keys
    are already driver-resident (they were collected to build the `bh`
    pushdown list), so attaching probe_ids to the matched corpus rows
    is a dict lookup per collected row, not a Spark job — the former
    createDataFrame → broadcast → hash join → dropDuplicates exchange
    existed only to re-derive driver-known data and cost ~1.3 s of the
    probe leg at sf0.1 (guide §1.2: don't compute things you already
    have; OPTIMIZATION_r18.md §3). Collected (bounded) by
    probe_minhash_index, which forms and dedupes the (probe_id,
    corpus_id) pairs driver-side; exposed so tests can assert the
    pushdowns on exactly the plan the probe executes."""
    bhs = sorted({r["bh"] for r in probe_rows})
    return (
        # band >= 0 is partition pruning (the sets partition never joins
        # the candidate match); bh IN (...) pushes into the pruned scan
        idx.filter((F.col("band") >= 0) & F.col("bh").isin(bhs))
        .select("id", "band", "bh")
    )


def probe_minhash_index(
    spark,
    path: str,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    max_probe_band_rows: int = 500_000,
    max_candidate_ids: int = 500_000,
    _observe: dict | None = None,
) -> DataFrame:
    """Probe a persisted MinHash index with a (bounded) probe corpus:
    LSH candidate generation by (band, bh) equality against the NARROW
    band rows, then EXACT Jaccard verification on the stored
    shingle-hash sets re-attached from the index's id-sorted ``band=-1``
    runs — no false positives from banding survive, identically to
    `minhash_decontaminate`'s verify step, but against an index built
    once. The index read is the committed epochs only (its compacted
    generation plus the epochs above its floor), so an append or a
    compaction that died part-way changes no probe; an index whose
    build never committed, or in a former layout, raises. Probe cost:
    the probe side computes its signatures fresh (it is the small
    side — an eval set, a delta batch); each epoch's band scan reads
    only row groups whose ``bh`` range intersects the probes' bucket
    keys, and its sets scan only row groups whose id range intersects
    the candidate ids (predicate pushdown on both sorted columns —
    plan-asserted in tests).

    TWO boundedness contracts are ENFORCED, not assumed (VERDICT r09
    item 6): ``max_probe_band_rows`` caps the driver materialization of
    the probe side (|probes| x bands band rows — that is what makes it
    a broadcast, not a corpus shuffle), and ``max_candidate_ids`` caps
    the collect of *matched band rows* that drives the sets scan's
    `id IN (...)` pruning. A (probe_id, corpus_id) pair contributes one
    matched row per band it collides in, so the cap counts up to
    ``bands``× the distinct candidate pairs: a degenerate corpus bucket
    that floods the candidates raises loudly instead of silently
    scanning — and shipping a predicate over — a corpus-sized id list.
    The candidate job runs once uncached, its pairs broadcast back, and
    the returned verify plan scans ONLY the id-pruned sets run
    (VERDICT r17 item 5 — no tracked persist left alive, nothing for
    a long-lived session to leak even on the cap's error path).

    Output: (probe_id, corpus_id, jaccard double rounded to 6dp) for
    every pair at or above ``threshold``."""
    if max_probe_band_rows < 1:
        raise ValueError("max_probe_band_rows must be >= 1")
    if max_candidate_ids < 1:
        raise ValueError("max_candidate_ids must be >= 1")
    log, params = _open_index(path)
    # spread=False: probes are bounded by contract (the collect cap
    # below enforces it) — spreading them buys nothing (§18)
    sh = hashed_shingle_sets(
        probes, id_col, text_col, params["shingle_words"], spread=False
    )
    sig = minhash_signatures(sh, params["num_hashes"])
    # same one-pass shape as index_rows: hs carried through the unpivot
    pb = band_keys(sig, params["num_hashes"], params["bands"], carry=("hs",))
    # bounded collect: fetch at most cap+1 rows in ONE job, then fail
    # loudly if the probe side overflows the contract
    probe_rows = pb.limit(max_probe_band_rows + 1).collect()
    if len(probe_rows) > max_probe_band_rows:
        raise ValueError(
            f"probe side exceeds {max_probe_band_rows} band rows "
            f"(|probes| x {params['bands']} bands): probes must be the "
            "SMALL side (an eval set, a delta batch). Swap sides — "
            "build_minhash_index over the probes and probe with the "
            "corpus — or raise max_probe_band_rows deliberately."
        )
    idx = read_index_epochs(spark, log.epoch_dirs(INDEX_KIND), params["id_type"])
    # bounded collect #2: the matched BAND ROWS drive the sets scan's
    # `id IN (...)` pruning and the driver-side pair formation; fetch at
    # most cap+1 rows in ONE job, then fail loudly on overflow. Raw
    # matched rows >= distinct (probe_id, corpus_id) pairs (a pair
    # contributes one row per matching band), so every workload the
    # former distinct-pair cap rejected is still rejected — the cap just
    # fires earlier for heavily multi-band matches, which is the guard's
    # conservative direction (raise max_candidate_ids deliberately for
    # legitimate dense probes). No persist, no join: this collect is the
    # candidate subtree's only execution (VERDICT r17 item 5), and the
    # pairs come from a dict lookup against the already-collected probe
    # band rows instead of a createDataFrame → broadcast → join →
    # dropDuplicates round-trip (~1.3 s of the probe leg at sf0.1 —
    # OPTIMIZATION_r18.md §3).
    cand = _probe_candidates(idx, probe_rows).limit(max_candidate_ids + 1)
    match_rows = cand.collect()
    if _observe is not None:
        # test seam: the EXECUTED candidate plan (where the In(bh ...)
        # pushdown pin lives since the pairs-collect restructure moved
        # the band scan out of the returned verify plan)
        _observe["candidates"] = cand
    if len(match_rows) > max_candidate_ids:
        raise ValueError(
            f"candidate set exceeds {max_candidate_ids} matched band rows: "
            "a corpus bucket is flooding the probe (dedup exact duplicates "
            "before indexing, or raise max_candidate_ids deliberately)"
        )
    # driver-side pair formation: the scan's bh pushdown is bh-only (a
    # corpus row may share a bh with a probe key from a DIFFERENT band —
    # a ~2^-64 collision), so matching on (band, bh) here reproduces the
    # former join's key exactly; dedup via the set
    probes_by_key: dict[tuple, list] = {}
    for r in probe_rows:
        probes_by_key.setdefault((r["band"], r["bh"]), []).append(r["id"])
    pair_set = sorted(
        {
            (pid, m["id"])
            for m in match_rows
            for pid in probes_by_key.get((m["band"], m["bh"]), ())
        }
    )
    # re-attach each probe's verification set driver-side (hs rides
    # every collected band row already — no extra job)
    phs_by_probe = {r["id"]: r["hs"] for r in probe_rows}
    # the probe-id field type comes from the caller's id column — the
    # contract accepts any orderable id type, not just longs
    pair_schema = StructType(
        [
            StructField("probe_id", probes.schema[id_col].dataType),
            StructField("corpus_id", idx.schema["id"].dataType),
            StructField("phs", ArrayType(LongType())),
        ]
    )
    pairs = F.broadcast(
        spark.createDataFrame(
            [(pid, cid, phs_by_probe[pid]) for pid, cid in pair_set],
            pair_schema,
        )
    )
    cids = sorted({cid for _, cid in pair_set})
    sets = idx.filter(
        # band < 0 prunes to the sets partition; the id IN (...) pushes
        # into its id-sorted files (explicit false for the no-candidate
        # case: isin([]) is not a portable plan shape, and the schema
        # must survive either way)
        (F.col("band") < 0)
        & (F.col("id").isin(cids) if cids else F.lit(False))
    ).select("id", "hs")
    # one sets row per id even if a delta was appended twice: duplicate
    # sets rows would multiply into duplicate output pairs now that the
    # pair relation is deduped BEFORE this join (ADVICE r17 #2); cheap —
    # the scan is already pruned to the bounded candidate ids
    sets = sets.dropDuplicates(["id"])
    pair = pairs.join(sets, pairs.corpus_id == sets.id).select(
        "probe_id", "corpus_id", "phs", "hs"
    )
    inter = F.size(F.array_intersect("phs", "hs")).cast("double")
    union = F.size("phs") + F.size("hs") - F.size(F.array_intersect("phs", "hs"))
    # Threshold on the RAW ratio; round only the emitted column — a pair
    # a hair under threshold (raw 0.5999996) must not round its way in
    # (same contract as minhash_decontaminate's verify step).
    return (
        pair.filter((inter / union) >= threshold)
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("probe_id", "corpus_id", "jaccard")
    )


def append_to_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental index maintenance: add a delta corpus (the day's new
    documents) to an existing MinHash index WITHOUT rebuilding —
    signatures compute over the delta only, and the new rows land as
    the next epoch, ``index/e{committed+1}/``, in the same layout:
    bh-sorted band files per band partition plus an id-sorted delta run
    in ``band=-1`` (row-group pruning applies per file, so probes stay
    bounded by bucket/candidate selectivity across old and new epochs
    alike). The epoch commits after it is written: an append that dies
    first leaves rows no probe reads, and the next append overwrites
    them. Running a finished append again adds its rows as one more
    epoch (the probe dedups the repeated sets rows). Hash-family
    parameters come from the index's sidecar, so a delta can never be
    indexed with a mismatched family. Pairs with `probe_minhash_index`
    for the standing decontamination loop: index once, append deltas,
    probe the bounded eval set each run."""
    log, params = _open_index(path)
    epoch = log.committed() + 1
    write_index_epoch(
        index_rows(
            corpus,
            id_col,
            text_col,
            params["num_hashes"],
            params["bands"],
            params["shingle_words"],
        ),
        log.epoch_dir(INDEX_KIND, epoch),
    )
    log.commit(epoch)


def _index_files(log: EpochCommitLog) -> int:
    return sum(
        len(glob.glob(os.path.join(d, "band=*", "*.parquet")))
        for d in log.epoch_dirs(INDEX_KIND)
    )


def compact_minhash_index(spark, path: str) -> dict[str, int]:
    """Compact an appended MinHash index back to one sorted file set
    per band partition — bh-sorted band files, the id-sorted ``band=-1``
    sets run included as just another band (VERDICT r08 item 7 — the
    index twin of the message log's `compact_stream`). Every
    `append_to_minhash_index` adds an epoch whose files' sort ranges
    overlap the earlier epochs', so probes read more row groups per
    epoch; compaction rewrites every committed epoch through the same
    writer as one generation, restoring build-time pruning selectivity.

    The commit protocol is ``EpochCommitLog.compact`` (one maintainer
    at a time; probes may run concurrently): the generation is written
    under ``compacted/`` where no reader looks, becomes visible only
    when the ``_COMPACTED`` record is atomically replaced, and the
    superseded epochs are deleted after that. A crash at any step
    leaves every probe identical; the next run finishes the cleanup.
    Driver-local only, like compact_stream: a URI path is refused.

    Returns {"files_before": n, "files_after": m} for observability.
    """
    log, params = _open_index(path)
    files_before = _index_files(log)

    def rewrite(_kind: str, dirs: list[str], out: str) -> None:
        write_index_epoch(read_index_epochs(spark, dirs, params["id_type"]), out)

    log.compact((INDEX_KIND,), rewrite)
    return {"files_before": files_before, "files_after": _index_files(log)}
