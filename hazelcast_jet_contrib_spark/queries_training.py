"""Round-7 registry surface: the five round-6 operators (exact-substring
span REMOVAL, explicit-weight corpus mixing, bigram-LM quality,
z-normalized subsequence search, the verifiable training-shard sink)
plus the persisted-IVF probe path — each promoted from pytest-proven to
driver-proven with the DuckDB mirrors the round-6 tests already shaped
as oracles (VERDICT r06 items 1, 3, 6).

Reference parity: none of these exist in the reference (SURVEY.md §2 —
LLM-pipeline extensions); the training-shard sink extends the
reference's delivery-guarantee sink contract (MongoDBSinkBuilder.java:
169-183) to file integrity, and znorm search is the analytics layer the
reference's InfluxDB series reads (InfluxDbSources.java:79-136) feed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.registry import query, retired_query, table


@retired_query(
    "dup_span_removal",
    reason="r09: shared find stage driver-gated via dup_span_extraction; the cut step stays oracle-checked here every pytest run",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS s
        FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
        WHERE len(t) >= 8
    ),
    counts AS (SELECT s, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY s),
    dup AS (
        SELECT sh.doc_id, sh.pos FROM sh JOIN counts USING (s) WHERE nd >= 2
    ),
    covered AS (
        SELECT DISTINCT doc_id, pos + off AS cpos
        FROM dup, unnest(generate_series(0, 7)) AS o(off)
    ),
    kept AS (
        SELECT toks.doc_id, i - 1 AS pos, t[i] AS tok
        FROM toks, unnest(generate_series(1, len(t))) AS g(i)
        WHERE NOT EXISTS (
            SELECT 1 FROM covered c
            WHERE c.doc_id = toks.doc_id AND c.cpos = i - 1
        )
    ),
    agg AS (
        SELECT doc_id,
               COALESCE(string_agg(tok, ' ' ORDER BY pos), '') AS cleaned_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT toks.doc_id AS id,
           COALESCE(agg.cleaned_text, '') AS cleaned_text,
           CAST(COALESCE(agg.n_kept, 0) AS INT) AS n_tokens_kept,
           CAST(len(toks.t) - COALESCE(agg.n_kept, 0) AS INT)
               AS n_tokens_removed
    FROM toks LEFT JOIN agg USING (doc_id)
    """,
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, find AND cut (Lee et al. 2021): the
    duplicate_spans islands become per-document covered-position sets
    and the cleaned text drops exactly those tokens — overlapping
    islands union here by construction. Complements dup_span_extraction
    (which pins the maximal-span STRUCTURE; this pins the cut RESULT).
    Scale: only span rows explode (bounded by duplicated-token count);
    documents never explode — the token filter is a HOF over the
    already-split array, pure Catalyst (operators/curation.py
    remove_spans)."""
    from hazelcast_jet_contrib_spark.operators.curation import (
        duplicate_spans,
        remove_spans,
    )

    docs = table(spark, sf_dir, "documents")
    spans = duplicate_spans(docs, "doc_id", "text", shingle_tokens=8, min_docs=2)
    return remove_spans(docs, spans, "doc_id", "text")


# mix weights chosen so the Python float sum is exactly 1.0 and each
# weight is a power-of-two fraction — every rate the driver-side Python
# computes is reproduced bit-exactly by the oracle's DOUBLE arithmetic
# (same IEEE ops in the same order; see mix_to_target's docstring).
_MIX_TARGETS = {"en": 0.5, "zh": 0.25, "de": 0.25}


@query(
    "corpus_mix_to_target",
    oracle="""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents WHERE lang IN ('en', 'zh', 'de') GROUP BY lang
    ),
    w AS (
        SELECT lang, cnt,
               CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                         WHEN 'zh' THEN CAST(0.25 AS DOUBLE)
                         ELSE CAST(0.25 AS DOUBLE) END AS wt
        FROM c
    ),
    n AS (SELECT MIN(cnt / (wt / 1.0)) AS n_total FROM w),
    r AS (
        SELECT lang, LEAST(CAST(1.0 AS DOUBLE), (wt / 1.0) * n_total / cnt)
                   AS rate
        FROM w, n
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE ((d.doc_id % 2147483647) * 506952114) % 2147483647
          < rate * 2147483647.0
    """,
)
def corpus_mix_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-weight corpus mixing (50% en / 25% zh / 25% de,
    downsample-only): the largest corpus achievable by pure
    downsampling whose language shares match the recipe. The oracle
    recomputes the group counts, the binding-group total, and every
    per-row Knuth-hash accept decision in SQL — the mix is replayed
    bit-exactly, not just its shape (operators/curation.py
    mix_to_target). Zero shuffle beyond the count aggregate: the
    sampling pass itself is a scan-level filter."""
    from hazelcast_jet_contrib_spark.operators.curation import mix_to_target

    docs = table(spark, sf_dir, "documents")
    return mix_to_target(docs, "lang", "doc_id", _MIX_TARGETS).select(
        "doc_id", "lang"
    )


@query(
    "bigram_lm_quality",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS t
        FROM documents
    ),
    uni AS (
        SELECT doc_id, unnest(t) AS tok FROM toks
    ),
    uc AS (SELECT tok, COUNT(*) AS cu FROM uni GROUP BY tok),
    tot AS (SELECT SUM(cu) AS n, COUNT(*) AS v FROM uc),
    big AS (
        SELECT doc_id, t[i-1] AS prev, t[i] AS cur
        FROM toks, unnest(generate_series(2, len(t))) AS g(i)
        WHERE len(t) >= 2
    ),
    bc AS (SELECT prev, cur, COUNT(*) AS cb FROM big GROUP BY prev, cur),
    firsts AS (
        SELECT doc_id, (uc.cu + 0.5) / (tot.n + 0.5 * tot.v) AS p
        FROM toks, uc, tot
        WHERE len(t) >= 1 AND uc.tok = t[1]
    ),
    rest AS (
        SELECT big.doc_id,
               0.7 * ((bc.cb + 0.5) / (up.cu + 0.5 * tot.v))
             + 0.3 * ((ucur.cu + 0.5) / (tot.n + 0.5 * tot.v)) AS p
        FROM big
        JOIN bc USING (prev, cur)
        JOIN uc up ON up.tok = big.prev
        JOIN uc ucur ON ucur.tok = big.cur
        CROSS JOIN tot
    ),
    allp AS (SELECT * FROM firsts UNION ALL SELECT * FROM rest)
    SELECT doc_id AS id, CAST(COUNT(*) AS INT) AS n_tokens,
           ROUND(AVG(1.0 / p), 4) AS mean_inv_p
    FROM allp GROUP BY doc_id
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring over the corpus's own
    counts (CCNet-style, context-aware — catches word salad a unigram
    LM cannot). The registered columns are the RATIONAL ones: n_tokens
    and mean_inv_p (avg 1/p — only IEEE +,*,/ which are correctly
    rounded, so the oracle replays them exactly); bits_per_token is
    excluded because libm log2 is not bit-reproducible cross-engine
    (operators/curation.py bigram_lm_score docstring). Scale: HOF
    bigram explode (no self-join), count tables join by key —
    broadcast at test SF, plain hash join at web scale."""
    from hazelcast_jet_contrib_spark.operators.curation import bigram_lm_score

    docs = table(spark, sf_dir, "documents")
    return bigram_lm_score(
        docs, "doc_id", "text", alpha=0.5, interp=0.7
    ).select("id", "n_tokens", F.round("mean_inv_p", 4).alias("mean_inv_p"))


_PATTERN = [1.0, 3.0, 2.0, 5.0, 4.0]


def _znorm_oracle() -> str:
    m = len(_PATTERN)
    mu = sum(_PATTERN) / m
    sd = math.sqrt(sum((x - mu) ** 2 for x in _PATTERN) / m)
    qz = [(x - mu) / sd for x in _PATTERN]
    qz_sql = "[" + ", ".join(repr(v) for v in qz) + "]"
    return f"""
    WITH series AS (
        SELECT user_id AS key, list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id
    ),
    win AS (
        SELECT key, i AS start, vals[i + 1 : i + {m}] AS w
        FROM series, unnest(generate_series(0, len(vals) - {m})) AS g(i)
        WHERE len(vals) >= {m}
    ),
    stats AS (
        SELECT key, start, w,
               list_aggregate(w, 'sum') / {m} AS mu
        FROM win
    ),
    stats2 AS (
        SELECT key, start, w, mu,
               sqrt(list_aggregate(list_transform(w, x -> (x - mu) * (x - mu)),
                                   'sum') / {m}) AS sd
        FROM stats
    ),
    dists AS (
        SELECT key, CAST(start AS INT) AS start,
               ROUND(sqrt(list_aggregate(
                   list_transform(
                       list_zip(CASE WHEN sd > 0
                                     THEN list_transform(w, x -> (x - mu) / sd)
                                     ELSE list_transform(w, x -> x * 0.0) END,
                                {qz_sql}),
                       p -> (p[1] - p[2]) * (p[1] - p[2])),
                   'sum')), 6) AS dist
        FROM stats2
    )
    SELECT key, start, dist FROM dists
    ORDER BY dist ASC, key ASC, start ASC LIMIT 20
    """


@query("znorm_subseq_topk", oracle=_znorm_oracle())
def znorm_subseq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-normalized subsequence search (UCR convention) over every
    user's event-value series: the 20 windows closest to the query
    pattern under z-normalized euclidean distance, total-ordered by
    (dist, key, start) so the cut is deterministic. Scale: one shuffle
    to build each key's ordered series, windows as HOF slices (codegen
    throughout), global top-k as TakeOrderedAndProject — never a full
    sort (operators/timeseries.py znorm_pattern_topk)."""
    from hazelcast_jet_contrib_spark.operators.timeseries import znorm_pattern_topk

    events = table(spark, sf_dir, "events")
    return znorm_pattern_topk(
        events, "user_id", "ts", "value", _PATTERN, k=20, tiebreak_col="event_id"
    )


@query(
    "training_shards_roundtrip",
    oracle="""
    SELECT 'clean_verify' AS chk, 1 AS ok,
           'shards=4,rows=' || CAST(COUNT(*) AS VARCHAR) AS detail
    FROM documents
    UNION ALL
    SELECT 'tamper_detected' AS chk, 1 AS ok,
           'shard=1,content_hash' AS detail
    """,
)
def training_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard sink's integrity contract, driver-visible
    (VERDICT r06 item 6): write the documents table as 4 hash shards
    with a manifest (per-shard counts, char totals, order-independent
    BIT_XOR(xxhash64) content hash), verify it clean from disk, then
    FLIP ONE ROW in shard 1 and assert verification names exactly that
    shard's content hash. The oracle pins both phases' outcomes AND the
    clean-verify row count against the source table — a sink that
    drops/duplicates rows, a manifest computed from the wrong bytes, or
    a verifier blind to tampering each breaks a distinct cell
    (sinks/training_shards.py). Side-effects are confined to a temp dir
    removed before returning; results are computed eagerly."""
    import os
    import shutil
    import tempfile

    from hazelcast_jet_contrib_spark.sinks.training_shards import (
        verify_training_shards,
        write_training_shards,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("doc_id") % 4).cast("int").alias("shard"),
    )
    path = tempfile.mkdtemp(prefix="training_shards_q_")
    try:
        manifest = write_training_shards(docs, path, "shard", token_col="n_chars")
        clean = verify_training_shards(spark, path)
        clean_ok = int(bool(clean.get("ok")) and clean.get("shards") == 4)
        clean_detail = f"shards={clean.get('shards')},rows={manifest['total_rows']}"

        # tamper: flip one NON-counted value (lang of shard 1's smallest
        # doc_id) and rewrite that shard's files — row count and token
        # total stay intact, so the content-hash check is the one that
        # fires, exactly as the oracle pins
        shard_dir = os.path.join(path, "shard=1")
        s1 = spark.read.parquet(shard_dir)
        min_id = s1.agg(F.min("doc_id")).collect()[0][0]
        tampered = s1.withColumn(
            "lang",
            F.when(F.col("doc_id") == min_id, F.concat(F.col("lang"), F.lit("X")))
            .otherwise(F.col("lang")),
        )
        staged = path + ".staged"
        tampered.write.mode("overwrite").parquet(staged)
        shutil.rmtree(shard_dir)
        os.replace(staged, shard_dir)
        try:
            verify_training_shards(spark, path)
            tamper_ok, tamper_detail = 0, "tamper_not_detected"
        except ValueError as e:
            msg = str(e)
            if "shard 1" in msg and "content hash" in msg:
                tamper_ok, tamper_detail = 1, "shard=1,content_hash"
            else:
                tamper_ok, tamper_detail = 0, f"unexpected:{msg[:60]}"
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [
            ("clean_verify", clean_ok, clean_detail),
            ("tamper_detected", tamper_ok, tamper_detail),
        ],
        "chk string, ok int, detail string",
    )


@retired_query(
    "ivf_index_probe_topk",
    reason="r09: persisted-index build/prune/probe subsumed by ivf_pq_probe_exact_topk (identical build+sidecar+prune pipeline plus the PQ layer); plain-path pruning stays pinned in tests/test_dedup_similarity.py",
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
def ivf_index_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN shape (VERDICT r06 item 3): build a PERSISTED
    IVF index once (corpus parquet partitioned by cell + centroid
    sidecar), then probe it — cell membership becomes partition PRUNING
    at the scan, so at 100 TB a probe reads ~nprobe/nlist of the files
    before any join. Run here in the degenerate-exact configuration
    (nprobe = nlist = 8, every cell probed) so the oracle is exact
    brute-force cosine — pinning the whole build/sidecar/prune/probe/
    rank machinery, the same gate ivf_cosine_topk (retired r07) gave
    the retrain-per-run path; pruning at nprobe < nlist is proven from
    executed numFiles metrics in tests/test_dedup_similarity.py.
    Results are computed eagerly so the temp index can be removed
    before returning (operators/similarity.py build_ivf_index,
    ivf_index_topk)."""
    import shutil
    import tempfile

    from hazelcast_jet_contrib_spark.cache import release_tracked
    from hazelcast_jet_contrib_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = tempfile.mkdtemp(prefix="ivf_index_q_")
    try:
        build_ivf_index(corpus, path, nlist=8)
        rows = [
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_index_topk(
                spark, path, queries_df, k=5, nprobe=8
            ).collect()
        ]
    finally:
        release_tracked()
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, rank int"
    )


@query(
    "ivf_pq_probe_exact_topk",
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
def ivf_pq_probe_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 IVF-PQ serving stack driver-proven end-to-end: build
    a persisted index WITH the PQ layer (cells + byte-codes +
    codebook/centroid sidecars), probe it through the full pipeline —
    query LUTs, partition-pruned scan of (cid, codes) only, pure-
    Catalyst ADC scoring, shortlist, exact re-rank on a second pruned
    scan — in the degenerate-exact configuration (every cell probed,
    shortlist uncapped), so the oracle is exact brute-force cosine and
    any defect anywhere in train/encode/LUT/ADC/re-rank flips the hash.
    The approximation quality at nprobe < nlist / bounded rerank is
    pytest-gated (tests/test_pq.py recall gates); partition pruning is
    proven from executed numFiles metrics
    (tests/test_dedup_similarity.py, test_pq.py). Same eager-compute +
    temp-index cleanup as ivf_index_probe_topk
    (operators/similarity.py build_ivf_index, ivf_pq_topk)."""
    import shutil
    import tempfile

    from hazelcast_jet_contrib_spark.cache import release_tracked
    from hazelcast_jet_contrib_spark.operators.similarity import (
        build_ivf_index,
        ivf_pq_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = tempfile.mkdtemp(prefix="ivf_pq_index_q_")
    try:
        build_ivf_index(corpus, path, nlist=8, pq_m=8, pq_kcent=16)
        rows = [
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_pq_topk(
                spark, path, queries_df, k=5, nprobe=8, rerank=10**7
            ).collect()
        ]
    finally:
        release_tracked()
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, rank int"
    )
