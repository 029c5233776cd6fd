"""Similarity search over embedding columns.

- ``cosine_topk``: exact brute-force cosine top-k, the correctness
  baseline every ANN operator is measured against.
- ``lsh_bucketed_pairs``: random-hyperplane LSH near-duplicate pairs.
- ``ivf_topk``: inline IVF — k-means cells trained per call, exact
  cosine inside each query's ``nprobe`` nearest cells.
- ``build_ivf_index`` + ``ivf_index_topk``: the persisted IVF index
  (parquet partitioned by cell, centroid sidecar); a probe's cell union
  becomes partition pruning at the scan.
- ``build_ivf_index(pq_m=…)`` + ``ivf_pq_topk``: IVF-PQ — byte codes
  per row, pure-Catalyst ADC scoring against a per-query lookup table,
  optional exact re-rank of a shortlist.

The ANN operators compose one private kernel set: ``_unit_rows`` (row
L2 normalization), ``_sample_unit_vectors`` (the hash-ordered training
draw), ``_cell_udf`` (cell assignment and probing), ``_pq_codes``,
``_lut_udf`` + ``_adc`` (PQ scoring), ``_probe_front`` (the persisted
index probe) and ``_rank_topk`` (the per-query top-k tail).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hazelcast_jet_contrib_spark.functions.vectors import as_double, cosine, dot, norm


def _rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Each query's k best rows of ``scored`` (qid, cid, score_col):
    score descending, ties broken by corpus id, so every operator ranks
    deterministically and alike. Output: (query_id, neighbor_id, rank)."""
    w = Window.partitionBy("qid").orderBy(F.col(score_col).desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank")
    )


def _exact_cos() -> Column:
    """Exact cosine of the (qv, cv) pair, rounded as the oracles round."""
    return F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Plan shape for scale: the query set is broadcast (it is the small
    side by construction), the corpus streams through one projection —
    no shuffle of the corpus at all; the only exchange is the final
    per-query top-k aggregation, which AQE keeps tiny. Ranking is
    deterministic: ties on round(cos, 6) break by corpus id.
    Output: (query_id, neighbor_id, rank).
    """

    # pre-normalize each side once so the per-pair work is a single dot
    # product; the norm is materialized as its own column first — putting
    # a computed aggregate inside the transform lambda would re-evaluate
    # it per element
    def normalized(df: DataFrame, idc: str, out_id: str, out_vec: str) -> DataFrame:
        return (
            df.select(F.col(idc).alias(out_id), as_double(vec_col).alias("__v__"))
            .withColumn("__n__", norm(F.col("__v__")))
            .select(
                out_id,
                F.transform("__v__", lambda x: x / F.col("__n__")).alias(out_vec),
            )
        )

    q = F.broadcast(normalized(queries, query_id, "qid", "qv"))
    c = normalized(corpus, corpus_id, "cid", "cv")
    scored = c.join(q).select(
        "qid", "cid", F.round(dot(F.col("qv"), F.col("cv")), 6).alias("cos")
    )
    return _rank_topk(scored, "cos", k)


def _hyperplane_sketch_udf(num_planes: int, dim: int, num_tables: int, seed: int = 42):
    """Deterministic random-hyperplane sign sketches for ALL tables in
    one vectorized pass (the documented Python-boundary exception:
    per-batch numpy matmul beats a 1024-term codegen expression for this
    op). Returns array<string> — one ``"t:bits"`` bucket per table —
    so the whole sketch costs a single Python stage, not one per table."""

    @pandas_udf("array<string>")
    def sketch(vecs: pd.Series) -> pd.Series:
        # per-table planes drawn from per-table seeds (seed+t) so each
        # table is an independent sketch
        planes = np.hstack(
            [
                np.random.default_rng(seed + t).standard_normal((dim, num_planes))
                for t in range(num_tables)
            ]
        )  # (dim, tables*planes)
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        signs = (mat @ planes) >= 0  # (batch, tables*planes)
        out = []
        for row in signs:
            out.append(
                [
                    f"{t}:" + "".join("1" if s else "0" for s in row[t * num_planes : (t + 1) * num_planes])
                    for t in range(num_tables)
                ]
            )
        return pd.Series(out)

    return sketch


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.99,
    num_planes: int = 16,
    dim: int = 64,
    num_tables: int = 4,
) -> DataFrame:
    """Approximate near-neighbor pairs: random-hyperplane LSH buckets,
    exact cosine verification inside buckets only. `num_tables`
    independent sketches (different plane seeds) raise recall; a pair is
    a candidate if it collides in ANY table. Output (id_a, id_b).

    Scale shape: the bucket relation carries (id, bucket) ONLY — one
    Python sketch stage over the corpus, persisted so the self-join's
    two sides share it instead of re-running the UDF. Vectors never
    enter the bucket shuffle (at 100 TB the embedding column dominates
    row width); they are joined back by id onto the deduplicated
    candidate pairs, which are tiny by construction (bucket-bounded)."""
    from pyspark import StorageLevel

    v = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    sk = _hyperplane_sketch_udf(num_planes, dim, num_tables)
    buckets = v.select(
        "id", F.explode(sk(F.col("v"))).alias("bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.join(v.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(v.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# The ANN kernel set: every IVF / PQ operator below composes these
# ---------------------------------------------------------------------------


def _unit_rows(vecs: pd.Series) -> np.ndarray:
    """A batch of vectors as float64 rows scaled to unit L2 norm (zero
    rows stay zero), so inner products are cosines."""
    mat = np.vstack(vecs.to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return mat


def _sample_unit_vectors(
    corpus: DataFrame, corpus_id: str, vec_col: str, sample_rows: int, seed: int
) -> np.ndarray:
    """The bounded training sample, unit-normalized, for both the IVF
    centroids and the PQ codebooks. The sample is hash-ordered, NOT an
    arbitrary partition prefix: a plain .limit() takes whatever file
    Spark scans first, which on a sorted-by-source corpus trains on one
    source. Ordering by xxhash64(id, seed) is a deterministic
    pseudo-random draw that is independent of partition layout, and
    Spark executes the orderBy+limit as TakeOrderedAndProject
    (per-partition top-N, then a single bounded merge — no full sort of
    the corpus)."""
    rows = (
        corpus.select(F.col(corpus_id).alias("sid"), as_double(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("sid"), F.lit(seed)), F.col("sid"))
        .limit(sample_rows)
        .collect()
    )
    if not rows:
        raise ValueError(
            "ANN training sample is empty: the corpus has no rows to train "
            "IVF centroids or PQ codebooks on"
        )
    return _unit_rows(pd.Series([row["v"] for row in rows]))


def _train_ivf_centroids(sample: np.ndarray, nlist: int, seed: int) -> np.ndarray:
    """IVF centroids by driver-side spherical k-means over the unit
    sample: nlist x dim x 10 iterations — microscopic next to the
    corpus scan."""
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=min(nlist, len(sample)), replace=False)]
    for _ in range(10):
        assign = (sample @ centroids.T).argmax(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def _train_pq_books(sample: np.ndarray, m: int, kcent: int, seed: int) -> np.ndarray:
    """Per-subspace k-means codebooks over the unit sample, shape
    (m, kcent, dim//m)."""
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, kcent, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=min(kcent, len(sub)), replace=False)]
        for _ in range(10):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        if len(cent) < kcent:  # degenerate tiny sample: pad by repetition
            cent = np.vstack([cent] * (kcent // len(cent) + 1))[:kcent]
        books[j] = cent
    return books


def _pq_codes(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Each unit row's m subspace codes: the nearest codebook centroid
    per subspace, int32 (rows, m)."""
    m, _, dsub = books.shape
    out = np.empty((len(mat), m), dtype=np.int32)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
        d2 = -2.0 * sub @ books[j].T + (books[j] ** 2).sum(axis=1)[None, :]
        out[:, j] = d2.argmin(axis=1)
    return out


def _cell_udf(cent: np.ndarray, nprobe: int | None = None, books: np.ndarray | None = None):
    """The one cell kernel: a vectorized Arrow UDF over a vector column,
    with the centroids (and codebooks) captured by closure.

    - default, ``cell_of`` (int): each row's nearest centroid (argmax);
    - ``books``, ``cell_and_codes`` (cell int, codes array<int>): that
      cell and the row's PQ codes from ONE pass — an index build scans
      the corpus once instead of once per projection plus a join on id;
    - ``nprobe``, ``probe_cells`` (array<int>): each row's ``nprobe``
      nearest cells, nearest first (argsort).
    """
    if nprobe is not None:

        @pandas_udf("array<int>")
        def probe_cells(vecs: pd.Series) -> pd.Series:
            order = np.argsort(-(_unit_rows(vecs) @ cent.T), axis=1)[:, :nprobe]
            return pd.Series(list(order.astype("int32")))

        return probe_cells
    if books is not None:

        @pandas_udf("cell int, codes array<int>")
        def cell_and_codes(vecs: pd.Series) -> pd.DataFrame:
            mat = _unit_rows(vecs)
            cells = (mat @ cent.T).argmax(axis=1).astype("int32")
            return pd.DataFrame({"cell": cells, "codes": list(_pq_codes(mat, books))})

        return cell_and_codes

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        return pd.Series((_unit_rows(vecs) @ cent.T).argmax(axis=1)).astype("int32")

    return cell_of


def _lut_udf(books: np.ndarray):
    """Per-query ADC lookup table LUT[j*kcent + c] = <q_j, codebook[j][c]>
    (m*kcent doubles) — one Arrow kernel over the QUERY side only."""
    m, kcent, dsub = books.shape

    @pandas_udf("array<double>")
    def lut_of(vecs: pd.Series) -> pd.Series:
        mat = _unit_rows(vecs)
        luts = np.empty((len(mat), m * kcent), dtype=np.float64)
        for j in range(m):
            luts[:, j * kcent : (j + 1) * kcent] = mat[:, j * dsub : (j + 1) * dsub] @ books[j].T
        return pd.Series(list(luts))

    return lut_of


def _adc(kcent: int) -> Column:
    """ADC score of a (codes, lut) row, sum_j LUT[j*kcent + codes[j]]:
    an indexed HOF over the m byte-codes — pure Catalyst, no Python per
    corpus row."""
    return F.round(
        F.aggregate(
            F.transform("codes", lambda c, j: F.element_at("lut", j * kcent + c + 1)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    sample_rows: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells over a
    corpus sample, exact cosine only inside each query's `nprobe`
    nearest cells.

    Scale shape: centroids are tiny (nlist x dim, trained driver-side on
    a bounded sample, broadcast); cell assignment is one vectorized
    numpy pass over the corpus (Arrow batches); the search joins each
    query against ~nprobe/nlist of the corpus instead of all of it. The
    per-cell work is the brute-force baseline, so recall -> 1 as
    nprobe -> nlist (ivf_topk == cosine_topk at nprobe=nlist apart from
    empty-cell edge cases).

    Output: (query_id, neighbor_id, rank).
    """
    cent = _train_ivf_centroids(
        _sample_unit_vectors(corpus, corpus_id, vec_col, sample_rows, seed), nlist, seed
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"), as_double(vec_col).alias("cv")
    ).withColumn("cell", _cell_udf(cent)(F.col("cv")))
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), as_double(vec_col).alias("qv"))
        .withColumn("cell", F.explode(_cell_udf(cent, nprobe)(F.col("qv"))))
    )
    return _rank_topk(c.join(q, "cell").select("qid", "cid", _exact_cos()), "cos", k)


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, probe many (the production ANN shape)
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    kcent: int = 16,
    sample_rows: int = 10_000,
    seed: int = 42,
) -> np.ndarray:
    """Train per-subspace PQ codebooks on the bounded, hash-ordered
    sample that `build_ivf_index` trains its centroids on. Vectors are
    L2-normalized first, so the ADC inner product approximates COSINE.
    Returns (m, kcent, dim//m) float64 — kilobytes, broadcastable by
    closure."""
    sample = _sample_unit_vectors(corpus, corpus_id, vec_col, sample_rows, seed)
    return _train_pq_books(sample, m, kcent, seed)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    sample_rows: int = 10_000,
    seed: int = 42,
    pq_m: int | None = None,
    pq_kcent: int = 16,
) -> None:
    """Materialize an IVF index on disk: the corpus written as parquet
    PARTITIONED BY cell, plus the trained centroids in a `_`-prefixed
    sidecar file (Spark treats `_` names as metadata and never reads
    them as data).

    Why persist: `ivf_topk` re-trains and re-assigns per query run —
    fine for one-shot analytics, wasteful for a serving corpus probed
    many times. With the cell as a PARTITION column, a probe's
    `cell IN (...)` filter becomes partition PRUNING: the scan itself
    reads only ~nprobe/nlist of the corpus files — at 100 TB the probe
    cost drops at the I/O layer, before any join or shuffle (proven
    from executed numFiles metrics in tests/test_dedup_similarity.py).

    ``pq_m`` adds the PQ layer (IVF-PQ, the full serving stack): each
    row also stores its m byte-codes, and the PQ codebooks land in a
    second sidecar. An `ivf_pq_topk` probe then reads ONLY (cid, codes)
    from the pruned cells — parquet column pruning keeps the full
    vectors on disk until the exact re-rank shortlist asks for them.
    Centroids and codebooks train on one sample draw.
    """
    sample = _sample_unit_vectors(corpus, corpus_id, vec_col, sample_rows, seed)
    cent = _train_ivf_centroids(sample, nlist, seed)
    books = None if pq_m is None else _train_pq_books(sample, pq_m, pq_kcent, seed)
    vecs = corpus.select(F.col(corpus_id).alias("cid"), as_double(vec_col).alias("cv"))
    if books is None:
        indexed = vecs.withColumn("cell", _cell_udf(cent)(F.col("cv")))
    else:
        indexed = vecs.withColumn(
            "__cc__", _cell_udf(cent, books=books)(F.col("cv"))
        ).select(
            "cid", "cv", F.col("__cc__.cell").alias("cell"), F.col("__cc__.codes").alias("codes")
        )
    # Rebalanced on the partition column (guide §6): without the
    # repartition every scan task writes a file into every cell dir it
    # sees — (scan tasks × nlist) small files, paid in listing and
    # per-file opens on every probe. Cell skew is the kmeans cluster-size
    # spread; probe cost is unaffected (pruning reads whole cells either
    # way). Measured A/B in OPTIMIZATION_r17.md §20: build-neutral, probe
    # slightly faster.
    indexed.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(path)
    # sidecars go in AFTER the write — mode("overwrite") wipes the dir
    if books is not None:
        with open(os.path.join(path, "_pq_codebooks.json"), "w") as f:
            json.dump(books.tolist(), f)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump(cent.tolist(), f)


def _probe_front(
    spark,
    path: str,
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    nprobe: int,
    pq: bool = False,
) -> tuple[DataFrame, DataFrame, np.ndarray | None]:
    """The shared front of a persisted-index probe: read the sidecars,
    clamp ``nprobe`` to nlist, and persist the probed queries (qid, qv,
    [lut,] cell) — the relation feeds BOTH the distinct-cell collect and
    the scoring join, so without it the Arrow kernels run once per
    consumer; its lifetime is tracked (cache.release_tracked() reclaims
    it between probe batches). The probed-cell union is ≤ nlist values
    whatever the query count; it becomes a STATIC `cell IN (...)`
    filter on the one index read, so partition pruning skips every
    unprobed cell's files at scan time.

    Returns (probed queries, pruned index, PQ codebooks or None)."""
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    with open(os.path.join(path, "_centroids.json")) as f:
        cent = np.array(json.load(f), dtype=np.float64)
    books = None
    if pq:
        try:
            with open(os.path.join(path, "_pq_codebooks.json")) as f:
                books = np.array(json.load(f), dtype=np.float64)
        except FileNotFoundError:
            raise ValueError(
                f"IVF index at {path} has no PQ layer (_pq_codebooks.json "
                "missing): build it with build_ivf_index(..., pq_m=...), or "
                "probe the plain index with ivf_index_topk instead"
            ) from None
    q = queries.select(F.col(query_id).alias("qid"), as_double(vec_col).alias("qv"))
    if books is not None:
        q = q.withColumn("lut", _lut_udf(books)(F.col("qv")))
    probe = _cell_udf(cent, min(nprobe, len(cent)))
    q = tracked_persist(q.withColumn("cell", F.explode(probe(F.col("qv")))))
    probed = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    return q, spark.read.parquet(path).filter(F.col("cell").isin(probed)), books


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index (`build_ivf_index`) for each query's
    approximate cosine top-k: exact cosine over the pruned cells
    (`_probe_front`). Queries broadcast (they are the small side); the
    scored candidates keep the per-query WindowGroupLimit top-k below
    the exchange, so the final shuffle carries ≤ queries·k rows.

    Output: (query_id, neighbor_id, rank) — identical contract to
    ivf_topk.
    """
    q, idx, _ = _probe_front(spark, path, queries, query_id, vec_col, nprobe)
    scored = idx.join(F.broadcast(q), "cell").select("qid", "cid", _exact_cos())
    return _rank_topk(scored, "cos", k)


def ivf_pq_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    rerank: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF-PQ index (`build_ivf_index(..., pq_m=m)`):
    the full serving stack, with each scale axis handled at the right
    layer —

      * I/O:    the probed-cell union becomes a static partition filter
                → the scan SKIPS unprobed cells' files entirely;
      * bytes:  the ADC pass selects only (cid, codes) → parquet COLUMN
                pruning never reads the vectors (plan-asserted: the
                probe scan's ReadSchema carries codes, not cv);
      * CPU:    ADC scoring is the pure-Catalyst indexed-HOF lookup of
                each query's LUT — no Python per corpus row;
      * recall: ``rerank=R`` re-reads full vectors for ONLY the top-R
                shortlist per query (a second, still partition-pruned
                scan of the same read, joined on the broadcast
                shortlist).

    At nprobe = nlist it is plain PQ + re-rank over the whole corpus.
    Output: (query_id, neighbor_id, rank) — the ivf_topk contract.
    """
    if rerank is not None and rerank < k:
        # the ADC shortlist caps at `rerank` rows per query, so the
        # exact re-rank could never return k neighbors — error now
        # instead of silently under-filling
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    q, idx, books = _probe_front(spark, path, queries, query_id, vec_col, nprobe, pq=True)
    scored = idx.select("cid", "codes", "cell").join(
        F.broadcast(q.select("qid", "lut", "cell")), "cell"
    ).select("qid", "cid", _adc(books.shape[1]).alias("adc"))
    short = _rank_topk(scored, "adc", k if rerank is None else rerank)
    if rerank is None:
        return short
    # exact re-rank: vectors for the shortlist only
    exact = (
        idx.select("cid", "cv")
        .join(
            F.broadcast(
                short.select(F.col("query_id").alias("qid"), F.col("neighbor_id").alias("cid"))
            ),
            "cid",
        )
        .join(F.broadcast(q.select("qid", "qv").distinct()), "qid")
        .select("qid", "cid", _exact_cos())
    )
    return _rank_topk(exact, "cos", k)
