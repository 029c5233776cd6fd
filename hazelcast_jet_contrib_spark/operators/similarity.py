"""Similarity search over embedding columns: exact brute-force cosine
top-k (the correctness baseline) and LSH-bucketed approximate variants
(the scale path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.functions.vectors import as_double, cosine, dot, norm


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Plan shape for scale: the query set is broadcast (it is the small
    side by construction), the corpus streams through one projection —
    no shuffle of the corpus at all; the only exchange is the final
    per-query top-k aggregation, which AQE keeps tiny. Ranking is
    deterministic: ties on round(cos, 6) break by corpus id.

    ``dim`` selects the unrolled codegen dot product — pass it on large
    corpora, where its per-row win amortizes the ~seconds of Janino
    compile the 64+-term expressions cost; the default interpreted
    higher-order form wins on small/interactive inputs (measured: the
    unrolled form's compile exceeds the entire sf0.1 query time).
    Output: (query_id, neighbor_id, rank).
    """

    # pre-normalize each side once so the per-pair work is a single dot
    # product; the norm is materialized as its own column first — putting
    # a computed aggregate inside the transform lambda would re-evaluate
    # it per element
    def normalized(df: DataFrame, idc: str, out_id: str, out_vec: str) -> DataFrame:
        return (
            df.select(F.col(idc).alias(out_id), as_double(vec_col).alias("__v__"))
            .withColumn("__n__", norm(F.col("__v__"), dim))
            .select(
                out_id,
                F.transform("__v__", lambda x: x / F.col("__n__")).alias(out_vec),
            )
        )

    q = F.broadcast(normalized(queries, query_id, "qid", "qv"))
    c = normalized(corpus, corpus_id, "cid", "cv")
    scored = c.join(q).select(
        "qid", "cid", F.round(dot(F.col("qv"), F.col("cv"), dim), 6).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank")
    )


def _hyperplane_sketch_udf(num_planes: int, dim: int, num_tables: int, seed: int = 42):
    """Deterministic random-hyperplane sign sketches for ALL tables in
    one vectorized pass (the documented Python-boundary exception:
    per-batch numpy matmul beats a 1024-term codegen expression for this
    op). Returns array<string> — one ``"t:bits"`` bucket per table —
    so the whole sketch costs a single Python stage, not one per table."""
    from pyspark.sql.functions import pandas_udf

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
    # interpreted cosine for the verification: it touches only candidate
    # pairs (a small fraction of the corpus), where the unrolled form's
    # codegen compile time outweighs its per-row win
    return (
        cand.join(v.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(v.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


def _train_ivf_centroids(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    nlist: int,
    sample_rows: int,
    seed: int,
) -> np.ndarray:
    """Train IVF centroids on a bounded sample (driver-side numpy
    kmeans: nlist x dim x few iterations — microscopic next to the
    corpus scan). The sample is hash-ordered, NOT an arbitrary
    partition prefix: a plain .limit() takes whatever file Spark scans
    first, which on a sorted-by-source corpus trains centroids on one
    source. Ordering by xxhash64(id, seed) is a deterministic
    pseudo-random draw that is independent of partition layout, and
    Spark executes the orderBy+limit as TakeOrderedAndProject
    (per-partition top-N, then a single bounded merge — no full sort of
    the corpus)."""
    sample = np.array(
        [
            row["v"]
            for row in corpus.select(
                F.col(corpus_id).alias("sid"), as_double(vec_col).alias("v")
            )
            .orderBy(F.xxhash64(F.col("sid"), F.lit(seed)), F.col("sid"))
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=min(nlist, len(sample)), replace=False)]
    for _ in range(10):
        sims = sample @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


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
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    cent = _train_ivf_centroids(
        corpus, corpus_id, vec_col, nlist, sample_rows, seed
    )  # captured by the UDFs below (broadcast via closure)

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series((mat @ cent.T).argmax(axis=1)).astype("int32")

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cent.T), axis=1)[:, : min(nprobe, len(cent))]
        return pd.Series(list(order.astype("int32")))

    c = corpus.select(
        F.col(corpus_id).alias("cid"), as_double(vec_col).alias("cv")
    ).withColumn("cell", cell_of(F.col("cv")))
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), as_double(vec_col).alias("qv"))
        .withColumn("cell", F.explode(probe_cells(F.col("qv"))))
    )
    scored = c.join(q, "cell").select(
        "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank")
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, probe many (the production ANN shape)
# ---------------------------------------------------------------------------


def _write_ivf_cells(indexed: DataFrame, path: str) -> None:
    """The index write, rebalanced on the partition column (guide §6):
    without the repartition every scan task writes a file into every
    cell dir it sees — (scan tasks × nlist) files, the many-small-files
    problem at corpus scale (driver listing cost, per-file open cost on
    every probe); one exchange of the vector relation buys one file per
    cell. Cell skew is the kmeans cluster-size spread — bounded by the
    training that chose the centroids, and probe cost is unaffected
    (partition pruning reads whole cells either way). Measured locally
    A/B (OPTIMIZATION_r17.md §20): build-neutral, probe slightly faster
    (fewer files per pruned cell)."""
    indexed.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


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
    """
    import json
    import os

    cent = _train_ivf_centroids(corpus, corpus_id, vec_col, nlist, sample_rows, seed)

    from pyspark.sql.functions import pandas_udf

    books = None
    if pq_m is not None:
        books = train_pq_codebooks(
            corpus, corpus_id, vec_col, m=pq_m, kcent=pq_kcent,
            sample_rows=sample_rows, seed=seed,
        )

    if books is None:

        @pandas_udf("int")
        def cell_of(vecs: pd.Series) -> pd.Series:
            mat = np.vstack(vecs.to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            return pd.Series((mat @ cent.T).argmax(axis=1)).astype("int32")

        indexed = corpus.select(
            F.col(corpus_id).alias("cid"), as_double(vec_col).alias("cv")
        ).withColumn("cell", cell_of(F.col("cv")))
    else:
        # ONE fused Arrow kernel computes cell assignment AND PQ codes
        # (r17 optimization, guide §1.2/§4): the former shape ran TWO
        # corpus passes (cell_of over one scan, pq_encode over another)
        # and re-attached the codes with a join on cid — a shuffle of
        # both sides that exists only to glue together two projections
        # of the same row. Same arithmetic (identical normalization,
        # same trained centroids/codebooks), so the written index is
        # row-identical; the build plan drops one scan and the join's
        # exchanges.
        bks = books  # (m, kcent, dsub), captured by closure
        m, _, dsub = bks.shape

        @pandas_udf("cell int, codes array<int>")
        def cell_and_codes(vecs: pd.Series) -> pd.DataFrame:
            mat = np.vstack(vecs.to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cells = (mat @ cent.T).argmax(axis=1).astype("int32")
            out = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
                d2 = (
                    -2.0 * sub @ bks[j].T
                    + (bks[j] ** 2).sum(axis=1)[None, :]
                )
                out[:, j] = d2.argmin(axis=1)
            return pd.DataFrame({"cell": cells, "codes": list(out)})

        indexed = (
            corpus.select(
                F.col(corpus_id).alias("cid"), as_double(vec_col).alias("cv")
            )
            .withColumn("__cc__", cell_and_codes(F.col("cv")))
            .select("cid", "cv", F.col("__cc__.cell").alias("cell"),
                    F.col("__cc__.codes").alias("codes"))
        )
    # sidecars go in AFTER the write — mode("overwrite") wipes the dir
    _write_ivf_cells(indexed, path)
    if books is not None:
        with open(os.path.join(path, "_pq_codebooks.json"), "w") as f:
            json.dump(books.tolist(), f)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump(cent.tolist(), f)


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
    approximate cosine top-k.

    Scale shape: centroids load from the sidecar (nlist x dim — bytes);
    each query's nprobe nearest cells are computed in one vectorized
    pass; the UNION of probed cells (bounded by nlist, independent of
    query count) becomes a STATIC `cell IN (...)` filter on the index
    read, so partition pruning skips every unprobed cell's files at
    scan time. Queries broadcast (they are the small side); the scored
    candidates keep the per-query WindowGroupLimit top-k below the
    exchange, so the final shuffle carries ≤ queries·k rows.

    Output: (query_id, neighbor_id, rank) — identical contract to
    ivf_topk.
    """
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as f:
        cent = np.array(json.load(f), dtype=np.float64)
    nprobe = min(nprobe, len(cent))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cent.T), axis=1)[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    from hazelcast_jet_contrib_spark.cache import tracked_persist

    # persist the probed queries: the relation feeds BOTH the
    # distinct-cell collect below and the scoring join — without it the
    # probe_cells kernel runs twice (once per consumer). Lifetime:
    # tracked (cache.release_tracked() reclaims it between probe
    # batches in a long-lived serving session).
    q = tracked_persist(
        queries.select(F.col(query_id).alias("qid"), as_double(vec_col).alias("qv"))
        .withColumn("cell", F.explode(probe_cells(F.col("qv"))))
    )
    # the probed-cell union is ≤ nlist values — a driver-side collect of
    # a bounded set, turned into a static partition filter
    probed = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    scored = idx.join(F.broadcast(q), "cell").select(
        "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the ANN MEMORY path. Where IVF prunes which
# rows a probe scans, PQ shrinks what each row COSTS: vectors compress to
# m byte-codes (m subspaces x k centroids), and query-time scoring reads
# the codes against a tiny per-query lookup table — pure Catalyst, no
# Python in the hot loop. At 100 TB this is the difference between
# scanning 4*dim bytes/vector and m bytes/vector (32x for dim=64, m=8).
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
    """Train per-subspace PQ codebooks on a bounded, hash-ordered sample
    (the same deterministic draw as `_train_ivf_centroids` — independent
    of partition layout). Vectors are L2-normalized first, so the ADC
    inner product approximates COSINE. Returns (m, kcent, dim//m)
    float64 — kilobytes, broadcastable by closure."""
    sample = np.array(
        [
            row["v"]
            for row in corpus.select(
                F.col(corpus_id).alias("sid"), as_double(vec_col).alias("v")
            )
            .orderBy(F.xxhash64(F.col("sid"), F.lit(seed)), F.col("sid"))
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
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


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as m subspace centroid ids (the corpus's
    at-rest ANN representation: m small ints per row instead of dim
    floats). One vectorized Arrow kernel over the corpus — the declared
    Python boundary, run once at index build (same footing as the IVF
    cell assignment kernel). Output: (cid, codes array<int>)."""
    from pyspark.sql.functions import pandas_udf

    books = codebooks  # (m, kcent, dsub), captured by closure
    m, kcent, dsub = books.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
            d2 = (
                -2.0 * sub @ books[j].T
                + (books[j] ** 2).sum(axis=1)[None, :]
            )
            out[:, j] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return corpus.select(
        F.col(corpus_id).alias("cid"), encode(as_double(vec_col)).alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    kcent: int = 16,
    rerank: int | None = None,
    codebooks: np.ndarray | None = None,
    sample_rows: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via PQ asymmetric distance (ADC), with
    optional exact re-ranking — the production memory-bound ANN shape.

    How the scoring stays Spark-first: each query precomputes a lookup
    table LUT[j*kcent + c] = <q_subj, codebook[j][c]> (an m*kcent-double
    array — one tiny Arrow kernel over the QUERY side only); the
    broadcast join then scores every corpus row in PURE CATALYST as
        adc = sum_j LUT[j*kcent + codes[j]]
    (an indexed HOF transform + aggregate over the m byte-codes) — the
    corpus scan reads (cid, codes) only, never the vectors, and no
    Python runs per corpus row.

    ``rerank=R``: take the top-R ADC shortlist per query, join back to
    the ORIGINAL vectors for those R rows only, and rank the shortlist
    by exact cosine — recall approaches exact search while the full
    corpus is still only ever touched through its codes. This is the
    standard PQ + re-rank serving topology; compose with the IVF
    partition pruning of `build_ivf_index` for the full IVF-PQ stack.

    Output: (query_id, neighbor_id, rank) — the ivf_topk contract.
    """
    from pyspark.sql.functions import pandas_udf

    if rerank is not None and rerank < k:
        # the ADC shortlist caps at `rerank` rows per query, so the
        # exact re-rank could never return k neighbors — error now
        # instead of silently under-filling (ADVICE r07)
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, corpus_id, vec_col, m=m, kcent=kcent,
            sample_rows=sample_rows, seed=seed,
        )
    books = codebooks
    m, kcent, dsub = books.shape
    flat = books.reshape(m * kcent, dsub)  # LUT layout: j*kcent + c

    @pandas_udf("array<double>")
    def lut_of(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        luts = np.empty((len(mat), m * kcent), dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            luts[:, j * kcent : (j + 1) * kcent] = sub @ books[j].T
        return pd.Series(list(luts))

    enc = pq_encode(corpus, books, corpus_id, vec_col)
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("qid"), lut_of(as_double(vec_col)).alias("lut")
        )
    )
    adc = F.round(
        F.aggregate(
            F.transform(
                "codes",
                lambda c, j: F.element_at("lut", j * kcent + c + 1),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    scored = enc.join(q).select("qid", "cid", adc.alias("adc"))
    w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("cid"))
    short = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= (rerank if rerank is not None else k)
    )
    if rerank is None:
        return short.select(
            F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank"
        )
    # exact re-rank of the shortlist: only queries*R vectors re-enter
    vecs = corpus.select(
        F.col(corpus_id).alias("cid"), as_double(vec_col).alias("cv")
    )
    qv = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), as_double(vec_col).alias("qv"))
    )
    exact = (
        short.select("qid", "cid")
        .join(vecs, "cid")
        .join(qv, "qid")
        .select("qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"))
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank")
    )


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
                `pq_topk` — no Python per corpus row;
      * recall: ``rerank=R`` re-reads full vectors for ONLY the top-R
                shortlist per query (a second, still partition-pruned
                scan joined on the broadcast shortlist).

    Output: (query_id, neighbor_id, rank) — the ivf_topk contract.
    """
    import json
    import os

    if rerank is not None and rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    with open(os.path.join(path, "_centroids.json")) as f:
        cent = np.array(json.load(f), dtype=np.float64)
    try:
        with open(os.path.join(path, "_pq_codebooks.json")) as f:
            books = np.array(json.load(f), dtype=np.float64)
    except FileNotFoundError:
        raise ValueError(
            f"IVF index at {path} has no PQ layer (_pq_codebooks.json "
            "missing): build it with build_ivf_index(..., pq_m=...), or "
            "probe the plain index with ivf_index_topk instead"
        ) from None
    nprobe = min(nprobe, len(cent))
    m, kcent, dsub = books.shape

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cent.T), axis=1)[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    @pandas_udf("array<double>")
    def lut_of(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        luts = np.empty((len(mat), m * kcent), dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            luts[:, j * kcent : (j + 1) * kcent] = sub @ books[j].T
        return pd.Series(list(luts))

    from hazelcast_jet_contrib_spark.cache import tracked_persist

    # one probed-query relation feeds the distinct-cell collect AND the
    # scoring join (same persist rationale as ivf_index_topk)
    q = tracked_persist(
        queries.select(
            F.col(query_id).alias("qid"),
            as_double(vec_col).alias("qv"),
        )
        .withColumn("lut", lut_of(F.col("qv")))
        .withColumn("cell", F.explode(probe_cells(F.col("qv"))))
    )
    probed = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    # ADC pass: pruned cells, codes column ONLY (vectors never read)
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    adc = F.round(
        F.aggregate(
            F.transform(
                "codes", lambda c, j: F.element_at("lut", j * kcent + c + 1)
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    scored = idx.select("cid", "codes", "cell").join(
        F.broadcast(q.select("qid", "lut", "cell")), "cell"
    ).select("qid", "cid", adc.alias("adc"))
    w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("cid"))
    short = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= (rerank if rerank is not None else k)
    )
    if rerank is None:
        return short.select(
            F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank"
        )
    # exact re-rank: second pruned scan, vectors for the shortlist only
    vecs = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probed))
        .select("cid", "cv")
    )
    exact = (
        vecs.join(F.broadcast(short.select("qid", "cid")), "cid")
        .join(F.broadcast(q.select("qid", "qv").distinct()), "qid")
        .select("qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"))
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"), "rank")
    )
