"""Lexical retrieval: distributed BM25 scoring and top-k search over a
document corpus.

Reference lineage: the reference ships source-side *search* hooks —
Mongo `find` with filter pushdown (MongoDBSources.java:80-96) and the
Twitter search endpoint (TwitterSources.java:179-187) — but no ranking
function over the fetched text. BM25 is the standard lexical ranking
layer a training-data / retrieval pipeline puts on top of those
sources (the Lucene-default scoring function), so it joins the engine's
similarity family as the SPARSE counterpart of the dense ANN operators
in operators/similarity.py.

Scale shape (how this survives 100 TB):
  * The only full-corpus pass is one tokenize→explode restricted to the
    QUERY'S terms — ``array_intersect`` drops every non-query token
    BEFORE the explode, so the shuffled relation is at most
    |query_terms| rows per document, never |doc| tokens per document.
  * Corpus stats (N, avgdl) are one partial-aggregated global agg; the
    per-term document frequencies aggregate over the already-tiny
    query-term relation. Both join back as broadcasts.
  * Scoring is pure Catalyst arithmetic (log/multiply/divide in
    whole-stage codegen); the final top-k is an orderBy+limit that
    Spark executes as TakeOrderedAndProject — per-partition heaps, one
    bounded merge, never a global sort. The bulk variant
    (``bm25_score_all``) skips ranking entirely, so no single-partition
    window ever materializes the full corpus. ``bm25_topk_multi`` runs
    the same weight body for a whole query batch in one corpus pass.
  * MMR reranking (``mmr_rerank_multi``) runs per query group in one
    Arrow batch over the top-N-bounded shortlist, for a whole lambda
    sweep at once; nothing corpus-sized moves.
  * Nothing is collected to the driver; the stats join broadcasts one
    row.

Determinism: scores round to 6 dp; ties break on doc id — replay-stable
across engines, so an exact DuckDB oracle exists (queries_retrieval.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.functions.text import tokens

# the Lucene/ES default BM25 parameters
DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def _bm25_weights(toks: DataFrame, qarr, k1: float, b: float) -> DataFrame:
    """(term, __id__, w): the BM25 weight of every (document, query
    term) match. ``toks`` carries (__id__, __t__ token array) plus
    whatever ``qarr`` — the array<string> of query terms — reads.

    ONE corpus tokenize pass: the narrow projection below is one row
    per doc — (id, dl, <= |terms| (term, tf) structs), never the token
    array — so persisting it is O(n_docs x |terms|) small and both the
    corpus-stats aggregate and the tf relation read it from cache
    instead of re-running the regex tokenizer (OPTIMIZATION_r17.md)."""
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    narrow = tracked_persist(
        toks.select(
            "__id__",
            F.size("__t__").alias("dl"),
            # restrict to query terms BEFORE exploding: the downstream
            # relation is <= |terms| rows/doc regardless of document
            # size; tf per hit via a HOF filter so the full token array
            # never explodes
            F.transform(
                F.array_intersect("__t__", qarr),
                lambda h: F.struct(
                    h.alias("term"),
                    F.size(F.filter("__t__", lambda x: x == h))
                    .cast("double")
                    .alias("tf"),
                ),
            ).alias("__ht__"),
        )
    )
    # corpus stats: one global partial agg -> a single broadcast row
    stats = narrow.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # (doc, term, tf) for query terms only, matches-sized
    tf = narrow.select(
        "__id__", "dl", F.explode("__ht__").alias("__h__")
    ).select(
        "__id__",
        "dl",
        F.col("__h__.term").alias("term"),
        F.col("__h__.tf").alias("tf"),
    )
    # document frequency per query term: aggregates the tiny relation
    df_per_term = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = (
        idf
        * F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_per_term), "term")
        .join(F.broadcast(stats))
        .select("term", "__id__", w.alias("w"))
    )


def bm25_score_all(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """BM25 relevance of every document matching >= 1 query term.

    Per-term weight uses the Lucene formulation (non-negative IDF):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        w(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    with tf the term's count in the doc, dl the doc's token length, and
    avgdl the corpus mean token length. Documents matching no query
    term score 0 and are excluded (a retrieval system returns matches).

    Output: (``id_col``, score double).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    qarr = F.array(*[F.lit(t) for t in terms])

    toks = docs.select(
        F.col(id_col).alias("__id__"), tokens(text_col).alias("__t__")
    )
    return (
        _bm25_weights(toks, qarr, k1, b)
        .groupBy("__id__")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .select(F.col("__id__").alias(id_col), "score")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """Top-k documents by BM25 relevance to ``query_terms`` (see
    ``bm25_score_all`` for the scoring formula).

    Output: (``id_col``, score double, rank int) — rank 1 is the best
    match; ties order by doc id ascending. The orderBy+limit executes
    as TakeOrderedAndProject; the rank window runs over k rows only.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    scored = bm25_score_all(
        docs, query_terms, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select(id_col, "score", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion of N per-query rankings (the standard
    hybrid-retrieval combiner — fuse BM25's lexical top-k with the
    dense ANN top-k from operators/similarity.py without score
    calibration):

        rrf(q, d) = sum over rankings containing (q, d) of
                    1 / (rrf_k + rank_i(q, d))

    Each input is a (query_col, doc_col, rank_col) relation — exactly
    the contract `bm25_topk` (with a query id column added) and
    `cosine_topk`/`ivf_*_topk` emit. Scale: one union of the
    (already top-k-bounded, therefore tiny) ranking relations, one
    aggregation on (query, doc), and a per-query window rank over at
    most N*k candidates — nothing corpus-sized flows anywhere.

    Output: (query_col, doc_col, score double 6dp, rank int) — top-k
    per query, ties by doc id. Deterministic, so an exact SQL oracle
    exists.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k < 1 or rrf_k < 1:
        raise ValueError("k and rrf_k must be >= 1")
    from pyspark.sql import Window

    parts = [
        r.select(
            F.col(query_col).alias("q"),
            F.col(doc_col).alias("d"),
            F.col(rank_col).alias("r"),
        )
        for r in rankings
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    fused = allr.groupBy("q", "d").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("r"))), 6
        ).alias("score")
    )
    w = Window.partitionBy("q").orderBy(F.col("score").desc(), F.col("d").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q").alias(query_col),
            F.col("d").alias(doc_col),
            "score",
            "rank",
        )
    )


__all__ = ["bm25_topk", "bm25_topk_multi", "bm25_score_all", "rrf_fuse", "mmr_rerank_multi", "DEFAULT_K1", "DEFAULT_B"]


def _mmr_greedy(vecs, rel, k: int, lam: float):
    """The per-query, per-lam greedy MMR core of `mmr_rerank_multi`
    (checked per lam against an in-test reference greedy in
    tests/test_analytics.py). Inputs: L2-normalized embedding rows +
    relevance, BOTH already sorted (rel desc, doc id asc) — argmax
    over the 9dp-rounded scores then resolves ties to the
    highest-relevance, smallest-id candidate. The greedy maximizes
    the documented formula: no penalty for the first pick, then the
    unclamped max cosine to the picked set (an anti-correlated doc
    earns a bonus). Returns (chosen positional indices, the 6dp mmr
    score each pick maximized)."""
    import numpy as np

    n = len(rel)
    chosen: list[int] = []
    mmr_vals: list[float] = []
    max_sim = np.zeros(n)  # nothing picked yet: no penalty
    picked = np.zeros(n, dtype=bool)
    for i in range(min(k, n)):
        mmr = lam * rel - (1.0 - lam) * max_sim
        mmr[picked] = -np.inf
        # ties -> smaller doc id (stable because the input is sorted by
        # id within equal rel and argmax takes the first maximum)
        best = int(np.argmax(np.round(mmr, 9)))
        chosen.append(best)
        mmr_vals.append(round(float(mmr[best]), 6))
        picked[best] = True
        sim = vecs @ vecs[best]
        max_sim = sim if i == 0 else np.maximum(max_sim, sim)
    return chosen, mmr_vals


def mmr_rerank_multi(
    candidates: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    lams: list[float] | tuple[float, ...] = (0.7,),
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    score_col: str = "score",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification of a per-query
    candidate shortlist, for one or more lambda values: per lam, greedily
    pick k results maximizing

        lam * relevance(d) - (1 - lam) * max cosine(d, already picked)

    — the standard redundancy filter between retrieval and a RAG
    context window (near-identical passages waste the budget that
    diversity should fill).

    Inputs: ``candidates`` = (query_col, doc_col, score_col), any
    bounded shortlist (bm25_topk / *_topk / rrf_fuse output);
    ``embeddings`` = (id_col, vec_col) for the candidate documents.

    Scale shape: the greedy loop is inherently sequential PER QUERY but
    embarrassingly parallel ACROSS queries — one join attaches
    embeddings to the (top-N-bounded) shortlist, then applyInPandas
    runs the O(N*k) greedy selection per query group as one Arrow
    batch, once per lam inside the same batch: the join, the group
    shuffle and the Python worker round-trip are paid once for a whole
    lam sweep (a degenerate-exact leg plus a diverse leg in
    `mmr_rerank_diverse`; lam grid searches in evaluation harnesses).
    Nothing corpus-sized moves: cost is queries x N x k x |lams|
    regardless of corpus size.

    Determinism: ties by doc id; relevance scores are taken as given
    (already 6-dp-rounded by the upstream operators). Output id types
    follow the caller's shortlist schema.

    Output: (query_col, doc_col, lam double, mmr double 6dp, rank int),
    rank 1 first picked.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    lams = [float(l) for l in lams]
    if not lams:
        raise ValueError("lams must be non-empty")
    if any(not 0.0 <= l <= 1.0 for l in lams):
        raise ValueError("every lam must be in [0, 1]")
    import numpy as np

    cand = candidates.select(
        F.col(query_col).alias("q"),
        F.col(doc_col).alias("d"),
        F.col(score_col).cast("double").alias("rel"),
    ).join(
        embeddings.select(
            F.col(id_col).alias("d"), F.col(vec_col).alias("v")
        ),
        "d",
    )

    def pick_multi(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["rel", "d"], ascending=[False, True])
        vecs = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(vecs, axis=1), 1e-12)
        vecs = vecs / norms[:, None]
        rel = pdf["rel"].to_numpy()
        ids = pdf["d"].to_numpy()
        parts = []
        for lam in lams:
            chosen, mmr_vals = _mmr_greedy(vecs, rel, k, lam)
            parts.append(
                pd.DataFrame(
                    {
                        "q": pdf["q"].iloc[0],
                        "d": ids[chosen],
                        "lam": lam,
                        "mmr": mmr_vals,
                        "rank": list(range(1, len(chosen) + 1)),
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("q", candidates.schema[query_col].dataType),
            StructField("d", candidates.schema[doc_col].dataType),
            StructField("lam", DoubleType()),
            StructField("mmr", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    return (
        cand.groupBy("q")
        .applyInPandas(pick_multi, schema=out_schema)
        .select(
            F.col("q").alias(query_col),
            F.col("d").alias(doc_col),
            "lam",
            "mmr",
            "rank",
        )
    )


def bm25_topk_multi(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """Batched BM25: score MANY queries against the corpus in ONE
    corpus pass — the retrieval-evaluation / RAG-serving shape
    (hundreds of queries per batch), and the per-query contract
    `rrf_fuse`/`mmr_rerank_multi` consume directly.

    ``queries`` is (query_id_col, terms_col array<string>). The corpus
    pass restricts each document's tokens to the UNION of all query
    terms before exploding (same term-bounded shuffle as the
    single-query path — volume is matches x |distinct terms|, never
    corpus tokens); per-term df and corpus stats compute once and are
    shared by every query; the per-(query, doc) score joins the tiny
    (term -> query) relation, and the final cut is a per-query window
    rank over matches only.

    IDF note: df is the term's document frequency in the WHOLE corpus,
    identical to running each query alone — batching changes nothing
    but the number of passes.

    Output: (query_id_col, ``id_col``, score double 6dp, rank int),
    rank <= k per query, ties by doc id.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    qt = queries.select(
        F.col(query_id_col).alias("qid"),
        F.explode(terms_col).alias("term"),
    ).select("qid", F.lower("term").alias("term")).distinct()
    # The union of all query terms, materialized driver-side: queries
    # are bounded by contract (an eval batch / serving request), so the
    # term union is bounded too — the probe_minhash_index bounded-
    # collect discipline, enforced with a cap rather than assumed.
    _TERM_CAP = 100_000
    term_rows = qt.select("term").distinct().limit(_TERM_CAP + 1).collect()
    if len(term_rows) > _TERM_CAP:
        raise ValueError(
            f"query batch exceeds {_TERM_CAP} distinct terms: the term "
            "union must stay driver-boundable; split the batch"
        )
    # The term union rides a ONE-ROW broadcast relation, not a literal
    # array expression: at the cap the former `F.array(*100k F.lit(t))`
    # was a 100k-node expression tree — a plan-size/codegen hazard that
    # every optimizer rule re-walks (VERDICT r17 item 5 nit). The
    # broadcast ships the same strings once as DATA; array_intersect
    # reads them as an attribute, so the per-doc restriction (and its
    # output) is byte-identical. Plan-pinned in
    # tests/test_plan_audits.py (no giant literal array).
    term_df = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(sorted(r["term"] for r in term_rows),)],
            "__qterms__ array<string>",
        )
    )

    toks = docs.select(
        F.col(id_col).alias("__id__"), tokens(text_col).alias("__t__")
    ).crossJoin(term_df)
    weighted = _bm25_weights(toks, F.col("__qterms__"), k1, b)
    scored = (
        weighted.join(F.broadcast(qt), "term")
        .groupBy("qid", "__id__")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("__id__").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("__id__").alias(id_col),
            "score",
            "rank",
        )
    )
