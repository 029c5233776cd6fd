"""Deduplication + similarity queries over documents/embeddings, with
planted duplicates built identically on both engines (originals ∪
deterministic copies shifted by +1,000,000 in id).

The MinHash-LSH query intentionally shares its oracle with the exact
n-gram-Jaccard query: banded LSH at >=32 bands × 2 rows lets a
>=0.6-Jaccard pair escape with probability <=(1-0.36)^32 ≈ 6e-7, so the
verified-candidate output must equal the exact pair set — the oracle
proves both the candidate generation and the verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
)
from hazelcast_jet_contrib_spark.operators.similarity import cosine_topk
from hazelcast_jet_contrib_spark.registry import query, retired_query, table


def _orig_and_copy(docs: DataFrame, copy_text) -> DataFrame:
    """Originals ∪ +1,000,000-keyed copies as ONE exploded scan (r17,
    guide §6/§2.4): the former unionByName re-read the documents
    parquet once per branch — two corpus scans for one logical pass.
    Same rows, one scan."""
    variants = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.struct(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            copy_text.alias("text"),
        ),
    )
    return docs.select(F.explode(variants).alias("__v__")).select(
        F.col("__v__.doc_id").alias("doc_id"), F.col("__v__.text").alias("text")
    )


def _docs_with_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return _orig_and_copy(docs, F.col("text"))


def _docs_with_near_copies(
    spark: SparkSession, sf_dir: str, subset_mod: int | None = None
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    if subset_mod is not None:
        docs = docs.filter(F.col("doc_id") % subset_mod == 0)
    return _orig_and_copy(docs, F.concat(F.col("text"), F.lit(" zz yy xx")))


_JACCARD_ORACLE_TEMPLATE = """
    WITH aug AS (
        SELECT doc_id, text FROM documents {where}
        UNION ALL
        SELECT doc_id + 1000000, text || ' zz yy xx' FROM documents {where}
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM aug
    ),
    sh AS (
        SELECT DISTINCT doc_id, s FROM toks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.6
"""


@query(
    "dedup_exact_keepfirst",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
    )
    SELECT MIN(doc_id) AS doc_id FROM aug GROUP BY text
    """,
)
def dedup_exact_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over originals ∪ identical copies: exactly the
    originals survive (deterministic keep-lowest-id policy)."""
    aug = _docs_with_exact_copies(spark, sf_dir)
    return dedup_exact(aug, subset=["text"], order_by=["doc_id"]).select("doc_id")


@retired_query(
    "ngram_jaccard_pairs",
    reason="r09: exact word-3-gram Jaccard pair set subsumed by minhash_lsh_near_dup (same _JACCARD_ORACLE_TEMPLATE oracle over the FULL corpus vs this query's 1-in-5 subset)",
    oracle=_JACCARD_ORACLE_TEMPLATE.format(where="WHERE doc_id % 5 = 0"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs at threshold 0.6 over
    originals ∪ suffix-mutated copies. Quadratic in per-shingle document
    frequency, so it runs on a deterministic 1-in-5 subset — it is the
    correctness baseline; minhash_lsh_near_dup is the full-corpus path."""
    return jaccard_pairs(
        _docs_with_near_copies(spark, sf_dir, subset_mod=5), "doc_id", "text", threshold=0.6
    )


@query("minhash_lsh_near_dup", oracle=_JACCARD_ORACLE_TEMPLATE.format(where=""))
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(32 bands × 2 rows) candidates, exact-Jaccard
    verified — must reproduce the exact pair set (see module note),
    while only ever joining inside LSH buckets (full corpus).

    32 bands × 2 rows: a J>=0.6 pair escapes with prob (1-0.36)^32 ≈
    6e-7 — still effectively exact (verified identical to 128/64 on
    this corpus at sf0.01 and sf0.1) at half the min-aggregate cost,
    which dominates the query. The operator default stays 128/64 for
    corpora needing more margin near the threshold."""
    return minhash_lsh_pairs(
        _docs_with_near_copies(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.6,
        num_hashes=64,
        bands=32,
    )


@retired_query(
    "embedding_near_dup",
    reason="r09: all-pairs embedding cosine pairs subsumed by semantic_dedup_pairs (same exact-cosine verify over planted copies through the scale-correct k-means-cell path)",
    oracle="""
    WITH aug AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM aug)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.99
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs (>= 0.99) over originals ∪ identical-vector
    copies, via random-hyperplane LSH buckets + exact cosine verification
    inside buckets (the scale path: never a full O(n²) pair join).
    Identical vectors always share every bucket, so planted-duplicate
    recall is exact; the DuckDB oracle is the brute-force ground truth."""
    from hazelcast_jet_contrib_spark.operators.similarity import lsh_bucketed_pairs

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    return lsh_bucketed_pairs(aug, "vec_id", "embedding", threshold=0.99)


@retired_query(
    "ann_cosine_topk",
    reason="r09: brute-force cosine_topk subsumed by ivf_recall_at_nprobe (its truth side runs cosine_topk on the same q/c split every driver round) and ivf_pq_probe_exact_topk (brute-force-exact oracle)",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id >= 10),
    scored AS (
        SELECT qid, cid, ROUND(list_cosine_similarity(qv, cv), 6) AS cos FROM q, c
    )
    SELECT qid AS query_id, cid AS neighbor_id, rank FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        FROM scored
    ) t WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 per query vector (vec_id < 10 as
    the query set) — the ANN correctness baseline; the LSH-bucketed
    variant (similarity.lsh_bucketed_pairs) is the scale path."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return cosine_topk(queries, corpus, k=5)


@query(
    "neardup_clusters",
    oracle="""
    WITH RECURSIVE aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000, text || ' zz yy xx' FROM documents WHERE doc_id % 5 = 0
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM aug
    ),
    sh AS (
        SELECT DISTINCT doc_id, s FROM toks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.6
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)
    SELECT component AS component_id, COUNT(*) AS size
    FROM comp GROUP BY component
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the exact-Jaccard
    pair graph (same corpus/pairs as ngram_jaccard_pairs), aggregated to
    (component_id=min doc id, size). The step that turns pairwise
    near-dup detection into dedup groups — the oracle recomputes the
    same components with a recursive SQL closure, so the engine's
    distributed min-label propagation is proven against a ground-truth
    transitive closure."""
    from hazelcast_jet_contrib_spark.operators.dedup import connected_components

    pairs = jaccard_pairs(
        _docs_with_near_copies(spark, sf_dir, subset_mod=5), "doc_id", "text", threshold=0.6
    )
    comps = connected_components(pairs)
    return comps.groupBy(F.col("component").alias("component_id")).agg(
        F.count(F.lit(1)).alias("size")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination by NEAR-duplicate: docs with doc_id % 97 == 0
# play the eval set (suffix-mutated so the match is near, not exact, and
# re-keyed +5,000,000); every corpus document within Jaccard 0.6 of any
# eval doc is flagged. The eval side's band keys and shingle sets are
# broadcast — the corpus shuffles once (its signature aggregation) and
# never again; see operators/dedup.py minhash_decontaminate.
# --------------------------------------------------------------------------
@query(
    "decontamination_near_dup",
    oracle=r"""
    WITH probes AS (
        SELECT doc_id + 5000000 AS probe_id, text || ' zz yy' AS text
        FROM documents WHERE doc_id % 97 = 0
    ),
    ctoks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    ptoks AS (
        SELECT probe_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM probes
    ),
    csh AS (
        SELECT DISTINCT doc_id, s FROM ctoks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    psh AS (
        SELECT DISTINCT probe_id, s FROM ptoks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    csz AS (SELECT doc_id, COUNT(*) AS sz FROM csh GROUP BY doc_id),
    psz AS (SELECT probe_id, COUNT(*) AS sz FROM psh GROUP BY probe_id),
    inter AS (
        SELECT c.doc_id AS id, p.probe_id, COUNT(*) AS i
        FROM csh c JOIN psh p ON c.s = p.s
        GROUP BY 1, 2
    )
    SELECT id, inter.probe_id AS probe_id,
           ROUND(CAST(i AS DOUBLE) / (csz.sz + psz.sz - i), 6) AS jaccard
    FROM inter
    JOIN csz ON csz.doc_id = id
    JOIN psz ON psz.probe_id = inter.probe_id
    WHERE CAST(i AS DOUBLE) / (csz.sz + psz.sz - i) >= 0.6
    """,
)
def decontamination_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by near-duplicate: every corpus doc
    within word-3-gram Jaccard 0.6 of a (mutated) eval doc is flagged
    with the exact verified Jaccard. Probe bands + shingle sets are
    broadcast; the corpus shuffles only for its signature aggregation
    (plan-audited)."""
    from hazelcast_jet_contrib_spark.operators.dedup import minhash_decontaminate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy")).alias("text"),
    )
    # 64 hashes / 32 bands x 2 rows, same trade as minhash_lsh_near_dup:
    # a J>=0.6 pair escapes with prob (1-0.36)^32 ~= 6e-7 — still
    # oracle-exact at half the min-aggregate cost, which dominates
    return minhash_decontaminate(
        docs, probes, "doc_id", "text", threshold=0.6, num_hashes=64, bands=32
    )


@query(
    "kmeans_cluster_profile",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, v AS c
      FROM v ORDER BY vec_id LIMIT 10
    ),
    s1 AS (
      SELECT vec_id, cidx,
             ROUND(list_sum(list_transform(range(1, 65),
                    i -> (v.v[i] - c0.c[i]) * (v.v[i] - c0.c[i]))), 6) AS dist
      FROM v CROSS JOIN c0
    ),
    a1 AS (
      SELECT vec_id, cidx, dist FROM (
        SELECT vec_id, cidx, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn
        FROM s1
      ) WHERE rn = 1
    ),
    m AS (
      SELECT a1.cidx, i AS pos, ROUND(avg(v.v[i]), 9) AS m
      FROM a1 JOIN v USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      GROUP BY 1, 2
    ),
    c1 AS (
      SELECT cidx, list(m ORDER BY pos) AS c FROM m GROUP BY cidx
    ),
    s2 AS (
      SELECT vec_id, cidx,
             ROUND(list_sum(list_transform(range(1, 65),
                    i -> (v.v[i] - c1.c[i]) * (v.v[i] - c1.c[i]))), 6) AS dist
      FROM v CROSS JOIN c1
    ),
    a2 AS (
      SELECT vec_id, cidx, dist FROM (
        SELECT vec_id, cidx, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn
        FROM s2
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT cidx, label FROM (
        SELECT a2.cidx, v.label,
               ROW_NUMBER() OVER (PARTITION BY a2.cidx
                                  ORDER BY COUNT(*) DESC, v.label) AS rn
        FROM a2 JOIN v USING (vec_id)
        GROUP BY a2.cidx, v.label
      ) WHERE rn = 1
    )
    SELECT a2.cidx AS cluster_id,
           COUNT(*) AS n_points,
           MIN(lab.label) AS majority_label,
           ROUND(SUM(a2.dist), 3) AS inertia
    FROM a2 JOIN lab ON lab.cidx = a2.cidx
    GROUP BY 1
    ORDER BY 1
    """,
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds of k=10 k-means over the embeddings table
    (deterministic k-lowest-id init), profiled per final cluster: size,
    majority planted label (count-desc, label-asc tie-break), and
    inertia. The oracle unrolls the SAME two iterations in SQL —
    assignments are argmins over 6-dp-rounded distances on both sides,
    so the whole trajectory (not a quality gate) is value-hash checked.
    Scale: centroids broadcast; recompute shuffles (cidx, pos, partial
    sum) only — see operators/clustering.py."""
    from hazelcast_jet_contrib_spark.operators.clustering import kmeans_lloyd

    from pyspark import StorageLevel

    emb = table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(emb, "vec_id", "embedding", k=10, iters=2)
    # persist: the full 2-iteration DAG feeds BOTH the majority-label
    # window and the size/inertia aggregate — without it the most
    # expensive lineage in the query executes twice
    labeled = assign.join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    lab = (
        labeled.groupBy("cidx", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cidx").orderBy(F.col("n").desc(), "label")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cidx", F.col("label").alias("majority_label"))
    )
    return (
        labeled.groupBy("cidx")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum("dist"), 3).alias("inertia"),
        )
        .join(lab, "cidx")
        .select(
            F.col("cidx").alias("cluster_id"), "n_points", "majority_label", "inertia"
        )
        .orderBy("cluster_id")
    )


@query(
    "winnowing_fingerprints",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents WHERE doc_id < 50
    ),
    kg AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(tk[i:i+3], ' ') AS kgs
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(tk) - 2)) AS i) u
    ),
    hashed AS (
      SELECT doc_id, pos,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(kgs, ''), c -> ascii(c)::BIGINT)),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS h
      FROM kg
    ),
    scored AS (
      SELECT doc_id, pos,
             min(h * 4294967296 + (4294967295 - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
             count(*) OVER (PARTITION BY doc_id) AS cnt
      FROM hashed
    )
    SELECT DISTINCT doc_id,
           CAST(4294967295 - (m % 4294967296) AS INT) AS fp_pos,
           m // 4294967296 AS fp_hash
    FROM scored
    WHERE pos <= greatest(cnt - 4, 0)
    """,
)
def winnowing_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection over the first 50
    documents: word-4-gram hashes, window 4, rightmost-min selection —
    ~2/(w+1) of k-gram hashes kept with the guarantee that any shared
    >= w+k-1-word substring still collides. Integer-only portable
    hashing makes the exact selected set value-hash checkable. See
    operators/dedup.py:winnowing_fingerprints."""
    from hazelcast_jet_contrib_spark.operators.dedup import winnowing_fingerprints

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return winnowing_fingerprints(docs, "doc_id", "text", k=4, w=4).select(
        F.col("id").alias("doc_id"), "fp_pos", "fp_hash"
    )


@retired_query(
    "winnowing_shared_overlap",
    reason=(
        "r14: the shared-fingerprint self-join over the winnowed relation is "
        "subsumed by winnowing_fingerprints (same selective-fingerprint "
        "relation, driver-proven) + crossdoc_dup_blocks (the same "
        "shared-hash join shape with a stronger block-reconstruction "
        "oracle); retired to free the r14 window slot for "
        "mqtt_subscribe_spool_roundtrip (ROUND14_PLAN.md §Mid-round "
        "amendment, pre-authorized in ROUND13_PLAN.md §Round-14)."
    ),
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 50
      UNION ALL  -- planted composites: first parent || second parent
      SELECT d1.doc_id + 1000000, d1.text || ' ' || d2.text
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id % 2 = 0 AND d1.doc_id < 50
    ),
    t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM aug
    ),
    kg AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+3], ' ') AS kgs
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(tk) - 2)) AS i) u
    ),
    hashed AS (
      SELECT doc_id, pos,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(kgs, ''), c -> ascii(c)::BIGINT)),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS h
      FROM kg
    ),
    scored AS (
      SELECT doc_id, pos,
             min(h * 4294967296 + (4294967295 - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
             count(*) OVER (PARTITION BY doc_id) AS cnt
      FROM hashed
    ),
    fp AS (
      SELECT DISTINCT doc_id, m // 4294967296 AS fp_hash
      FROM scored WHERE pos <= greatest(cnt - 4, 0)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def winnowing_shared_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document partial-overlap detection from winnowing
    fingerprints alone: plant composite documents (parent_i || ' ' ||
    parent_{i+1}) and find every pair sharing >= 2 distinct selected
    fingerprints — the composites light up against BOTH parents while
    unrelated pairs share at most a stray k-gram. This is the cheap
    candidate pass for plagiarism/quotation-style overlap a full
    shingle-set join is too heavy for; at scale the fingerprint
    relation is ~2/(w+1) the k-gram count and the join keys on an
    8-byte hash."""
    from hazelcast_jet_contrib_spark.operators.dedup import winnowing_fingerprints

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "text"
    )
    nxt = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("t2"))
    comp = (
        docs.join(nxt, "doc_id")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" "), "t2").alias("text"),
        )
    )
    fp = winnowing_fingerprints(
        docs.unionByName(comp), "doc_id", "text", k=4, w=4
    ).select("id", "fp_hash").distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "semantic_dedup_pairs",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    aug AS (
      SELECT vec_id AS id, v FROM base
      UNION ALL  -- planted exact copies of every 20th vector
      SELECT vec_id + 100000, v FROM base WHERE vec_id % 20 = 0
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cidx, v AS c
      FROM aug ORDER BY id LIMIT 16
    ),
    s1 AS (
      SELECT id, cidx,
             ROUND(list_sum(list_transform(range(1, 65),
                    i -> (aug.v[i] - c0.c[i]) * (aug.v[i] - c0.c[i]))), 6) AS dist
      FROM aug CROSS JOIN c0
    ),
    a1 AS (
      SELECT id, cidx FROM (
        SELECT id, cidx,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cidx) AS rn
        FROM s1
      ) WHERE rn = 1
    ),
    cells AS (
      SELECT a1.id, a1.cidx, aug.v FROM a1 JOIN aug USING (id)
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM cells a JOIN cells b ON a.cidx = b.cidx AND a.id < b.id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.999
    """,
)
def semantic_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs via k-means-cell bucketing (IVF-style:
    within-cell joins only, exact cosine verification) over the
    embeddings table with planted exact copies of every 20th vector.
    Copies co-locate deterministically, so recall on them is 1 and the
    exact pair set — cells, candidates, cosines — is value-hash checked
    against the SQL mirror of the same single assignment round. See
    operators/clustering.py:semantic_dedup_pairs."""
    from hazelcast_jet_contrib_spark.operators.clustering import semantic_dedup_pairs

    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    aug = emb.unionByName(
        emb.filter(F.col("id") % 20 == 0).select(
            (F.col("id") + 100000).alias("id"), "embedding"
        )
    )
    return semantic_dedup_pairs(aug, "id", "embedding", k=16, min_cosine=0.999)


@query(
    "neardup_keep_best",
    oracle="""
    WITH RECURSIVE aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000, text || ' zz yy xx' FROM documents WHERE doc_id % 5 = 0
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM aug
    ),
    sh AS (
        SELECT DISTINCT doc_id, s FROM toks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.6
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS component_id FROM reach GROUP BY u),
    qual AS (SELECT doc_id, LENGTH(text) AS q FROM aug),
    clustered AS (
        SELECT c.doc_id, c.component_id,
               CAST(COUNT(*) OVER (PARTITION BY c.component_id) AS INT) AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY c.component_id
                                  ORDER BY qu.q DESC, c.doc_id) = 1 AS is_canonical
        FROM comp c JOIN qual qu USING (doc_id)
    )
    SELECT doc_id, component_id, cluster_size, is_canonical FROM clustered
    UNION ALL
    SELECT doc_id, doc_id AS component_id, 1 AS cluster_size, TRUE AS is_canonical
    FROM qual WHERE doc_id NOT IN (SELECT doc_id FROM comp)
    """,
)
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over the near-dup clusters of
    neardup_clusters' corpus: within each cluster the LONGEST document
    (char length as the quality proxy; ties to the smaller id) is
    canonical, singletons are their own canonicals — the retention
    policy that turns cluster detection into an actual dedup decision,
    proven against the oracle's transitive-closure components plus a
    window argmax. Scale: components come from the pair graph only,
    the corpus joins them once on id, and the argmax window sees only
    CLUSTERED rows (operators/dedup.py keep_best_per_cluster)."""
    from hazelcast_jet_contrib_spark.operators.dedup import keep_best_per_cluster

    docs = _docs_with_near_copies(spark, sf_dir, subset_mod=5)
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.6)
    return keep_best_per_cluster(
        docs.withColumn("q", F.length("text")), pairs, "doc_id", "q"
    )


# ---------------------------------------------------------------------------
# Round-9: persisted MinHash-LSH index, build→probe, exact-Jaccard oracle
# ---------------------------------------------------------------------------


# Shared by minhash_index_probe (build→probe) and
# minhash_index_lifecycle (build evens → append odds → compact →
# probe): the lifecycle's base ∪ delta is the FULL documents corpus by
# construction, so both end states must answer the same exact-Jaccard
# SQL — that identity is precisely what makes append+compact
# correctness driver-checkable.
_MINHASH_INDEX_ORACLE = r"""
    WITH probes AS (
        SELECT doc_id + 5000000 AS probe_id, text || ' zz yy' AS text
        FROM documents WHERE doc_id % 97 = 0
    ),
    ctoks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    ptoks AS (
        SELECT probe_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM probes
    ),
    csh AS (
        SELECT DISTINCT doc_id, s FROM ctoks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    psh AS (
        SELECT DISTINCT probe_id, s FROM ptoks,
        LATERAL (SELECT UNNEST(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s) u
        WHERE len(t) >= 3
    ),
    csz AS (SELECT doc_id, COUNT(*) AS sz FROM csh GROUP BY doc_id),
    psz AS (SELECT probe_id, COUNT(*) AS sz FROM psh GROUP BY probe_id),
    inter AS (
        SELECT c.doc_id AS corpus_id, p.probe_id, COUNT(*) AS i
        FROM csh c JOIN psh p ON c.s = p.s
        GROUP BY 1, 2
    )
    SELECT inter.probe_id AS probe_id, corpus_id,
           ROUND(CAST(i AS DOUBLE) / (csz.sz + psz.sz - i), 6) AS jaccard
    FROM inter
    JOIN csz ON csz.doc_id = corpus_id
    JOIN psz ON psz.probe_id = inter.probe_id
    WHERE CAST(i AS DOUBLE) / (csz.sz + psz.sz - i) >= 0.6
    """


@retired_query(
    "minhash_index_probe",
    oracle=_MINHASH_INDEX_ORACLE,
    reason=(
        "r14: build->probe is a strict subset of minhash_index_lifecycle "
        "(build evens -> append odds -> compact -> PROBE against the same "
        "epoch-committed bh-sorted layout, same exact-Jaccard oracle); the "
        "standalone row re-created its ~2s index build per driver run. Probe "
        "pruning/caps stay pinned by tests/test_minhash_index.py."
    ),
)
def minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted near-dup index driver-proven end-to-end: BUILD the
    MinHash index on the corpus once — epoch 0 of an EpochCommitLog
    state directory, a band-partitioned, bh-sorted dataset committed
    after it is written (64 hashes / 32 bands — a J>=0.6 pair escapes
    banding with prob (1-0.36)^32 ≈ 6e-7, the decontamination_near_dup
    trade), then PROBE its committed epochs with mutated eval docs; LSH
    candidates verify by EXACT Jaccard on the stored shingle sets, so
    the result equals the exact-Jaccard SQL.
    Scale: the probe's `bh IN (...)` predicate prunes the sorted index
    scan by row-group min/max (pushdown plan-asserted, and the physical
    bh/id sort order of the written files — what makes the row-group
    stats effective — asserted file-by-file, both in
    tests/test_minhash_index.py); the corpus-sized signature work runs
    once at build, never per probe run. Eager compute + temp-index
    cleanup, the ivf_pq_probe_exact_topk pattern
    (operators/dedup.py build_minhash_index, probe_minhash_index)."""
    import shutil
    import tempfile

    # imported in the body, not at module top: bench.py times the legs
    # by wrapping these operators.dedup attributes while the query runs
    from hazelcast_jet_contrib_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy")).alias("text"),
    )
    path = tempfile.mkdtemp(prefix="minhash_index_q_")
    try:
        build_minhash_index(docs, path, num_hashes=64, bands=32)
        rows = [
            (r["probe_id"], r["corpus_id"], r["jaccard"])
            for r in probe_minhash_index(
                spark, path, probes, threshold=0.6
            ).collect()
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "probe_id long, corpus_id long, jaccard double"
    )


@query("minhash_index_lifecycle", oracle=_MINHASH_INDEX_ORACLE)
def minhash_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL index lifecycle driver-proven end-to-end (VERDICT r09
    next-round #3): BUILD the MinHash index on half the corpus (even
    doc_ids) as epoch 0, APPEND the other half as epoch 1
    (append_to_minhash_index — one fresh bh-sorted file per band, the
    standing-decontamination maintenance path), COMPACT both epochs
    into one sorted run per band (compact_minhash_index — an
    EpochCommitLog generation, invisible until its record swaps), then
    PROBE with mutated eval docs. Because base ∪ delta = the full
    documents corpus, the result must hash-match the SAME exact-Jaccard
    oracle as minhash_index_probe — so a row lost or duplicated
    anywhere in append/compact surfaces as a driver mismatch, not just
    a pytest property. Scale: identical
    shapes to build/probe (corpus-linear signatures once, bh-pruned
    probe scan); compaction is driver-local index maintenance
    (SCALE.md). Eager compute + temp-index cleanup."""
    import shutil
    import tempfile

    # imported in the body: bench.py's leg capture wraps these names
    from hazelcast_jet_contrib_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        probe_minhash_index,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy")).alias("text"),
    )
    path = tempfile.mkdtemp(prefix="minhash_lifecycle_q_")
    try:
        build_minhash_index(
            docs.filter(F.col("doc_id") % 2 == 0), path,
            num_hashes=64, bands=32,
        )
        append_to_minhash_index(docs.filter(F.col("doc_id") % 2 == 1), path)
        stats = compact_minhash_index(spark, path)
        if stats["files_after"] > stats["files_before"]:
            # ValueError, not assert: the invariant must survive -O and
            # surface as a per-query driver error, not vanish
            raise ValueError(f"compaction grew the index file count: {stats}")
        rows = [
            (r["probe_id"], r["corpus_id"], r["jaccard"])
            for r in probe_minhash_index(
                spark, path, probes, threshold=0.6
            ).collect()
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "probe_id long, corpus_id long, jaccard double"
    )
