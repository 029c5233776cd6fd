"""Round-8 analytics operator tests: BM25 retrieval, rolling z-score
anomalies, strict-order funnels, and quality-aware canonical selection
— semantics, edge cases, and plan-shape assertions (shuffle counts,
window-buffer dedup, no Python in the hot path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import keep_best_per_cluster
from hazelcast_jet_contrib_spark.operators.funnel import funnel_steps
from hazelcast_jet_contrib_spark.operators.retrieval import (
    bm25_score_all,
    bm25_topk,
)
from hazelcast_jet_contrib_spark.operators.timeseries import (
    rolling_zscore_anomalies,
)
from hazelcast_jet_contrib_spark.registry import table
from tests.conftest import CORRECTNESS_SF


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def _corpus(spark):
    rows = [
        (1, "spark runs spark jobs on spark clusters"),
        (2, "duckdb runs sql"),
        (3, "spark sql joins tables"),
        (4, "completely unrelated text here"),
        (5, "sql sql sql sql sql sql sql sql sql sql"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_ranks_term_frequency_and_excludes_nonmatches(spark):
    out = bm25_topk(_corpus(spark), ["spark"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[0] == 1, "highest-tf doc must rank first for a 1-term query"
    assert 4 not in ids and 5 not in ids, "non-matching docs must be absent"
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


def test_bm25_idf_downweights_common_terms(spark):
    """'sql' appears in 3/5 docs, 'clusters' in 1/5 — a doc matching
    only the rare term must beat a doc matching only the common term
    at equal tf and comparable length."""
    rows = [
        (1, "clusters alpha beta gamma"),
        (2, "sql alpha beta gamma"),
        (3, "sql other words here"),
        (4, "sql more words again"),
        (5, "nothing relevant at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["score"]
        for r in bm25_score_all(docs, ["clusters", "sql"]).collect()
    }
    assert scores[1] > scores[2], (rows, scores)


def test_bm25_length_normalization(spark):
    """Same tf in a shorter doc scores higher (b=0.75 length penalty)."""
    rows = [
        (1, "needle one two"),
        (2, "needle one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["score"] for r in bm25_score_all(docs, ["needle"]).collect()
    }
    assert scores[1] > scores[2]


def test_bm25_validation(spark):
    with pytest.raises(ValueError):
        bm25_topk(_corpus(spark), [], k=5)
    with pytest.raises(ValueError):
        bm25_topk(_corpus(spark), ["x"], k=0)


def test_bm25_plan_topk_is_take_ordered_and_no_python(spark):
    docs = table(spark, CORRECTNESS_SF, "documents")
    out = bm25_topk(docs, ["data", "model"], k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, "top-k must never be a full sort"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "stats/df must join back as broadcasts"
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomalies
# ---------------------------------------------------------------------------


def _spike_series(spark):
    rows = [("a", i, float(i % 3)) for i in range(30)]
    rows[15] = ("a", 15, 50.0)
    # key b: constant series — zero variance, nothing ever flagged
    rows += [("b", i, 7.0) for i in range(30)]
    return spark.createDataFrame(rows, "key string, ts long, value double")


def test_zscore_flags_exactly_the_spike(spark):
    out = rolling_zscore_anomalies(
        _spike_series(spark), "key", "ts", "value", lookback=10, threshold=3.0
    ).collect()
    flagged = [(r["key"], r["ts"]) for r in out if r["is_anomaly"]]
    assert flagged == [("a", 15)]
    assert all(r["key"] == "a" for r in out), (
        "constant series has zero variance everywhere -> no scored rows"
    )


def test_zscore_baseline_excludes_self(spark):
    """The spike's OWN row uses the clean trailing baseline (huge |z|);
    the row right after the spike has the spike IN its baseline — its z
    must be far smaller than the spike's."""
    out = {
        r["ts"]: r["z"]
        for r in rolling_zscore_anomalies(
            _spike_series(spark), "key", "ts", "value", lookback=10
        ).collect()
        if r["key"] == "a"
    }
    assert abs(out[15]) > 10 * abs(out[16])


def test_zscore_validation_and_warmup(spark):
    df = _spike_series(spark)
    with pytest.raises(ValueError):
        rolling_zscore_anomalies(df, "key", "ts", "value", lookback=1)
    out = rolling_zscore_anomalies(
        df, "key", "ts", "value", lookback=10
    ).collect()
    # first two positions have < 2 trailing points: never scored
    assert all(r["ts"] >= 2 for r in out)


def test_zscore_plan_one_exchange_three_window_buffers(spark):
    ev = table(spark, CORRECTNESS_SF, "events")
    out = rolling_zscore_anomalies(
        ev, "user_id", "ts", "value", lookback=20, tiebreak_col="event_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    windows = re.findall(r"Window \[(.*?)\], \[", plan)
    assert len(windows) == 1, "all three aggregates must share ONE Window node"
    assert windows[0].count("windowspecdefinition") == 3, (
        "inlining the window aggs would multiply buffers (got "
        f"{windows[0].count('windowspecdefinition')})"
    )
    assert plan.count("Exchange") <= 2  # hash on key (+AQE read)


# ---------------------------------------------------------------------------
# Funnel
# ---------------------------------------------------------------------------


def _clicks(spark):
    rows = [
        (1, 1, "view"), (1, 2, "cart"), (1, 3, "buy"),
        (2, 5, "view"), (2, 4, "cart"),          # cart BEFORE view
        (3, 1, "view"), (3, 2, "cart"),
        (4, 9, "cart"), (4, 10, "buy"),          # never viewed
        (5, 1, "view"), (5, 1, "cart"),          # same ts: strict order fails
    ]
    return spark.createDataFrame(rows, "user_id long, ts long, event_type string")


def test_funnel_strict_ordering(spark):
    out = {
        r["step_name"]: (r["users"], r["conversion"])
        for r in funnel_steps(_clicks(spark), ["view", "cart", "buy"]).collect()
    }
    assert out == {
        "view": (4, 1.0),
        "cart": (2, 0.5),
        "buy": (1, 0.25),
    }


def test_funnel_earliest_completion_not_any(spark):
    """Step k anchors on the EARLIEST step-(k-1) completion: a user who
    views at t=1 and t=10 converts via a cart at t=5."""
    rows = [(1, 1, "view"), (1, 10, "view"), (1, 5, "cart")]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    out = {r["step_name"]: r["users"] for r in funnel_steps(df, ["view", "cart"]).collect()}
    assert out == {"view": 1, "cart": 1}


def test_funnel_validation(spark):
    df = _clicks(spark)
    with pytest.raises(ValueError):
        funnel_steps(df, ["view"])
    with pytest.raises(ValueError):
        funnel_steps(df, ["view", "view"])


def test_funnel_empty_first_step_zero_conversion(spark):
    out = funnel_steps(_clicks(spark), ["nosuch", "cart"]).collect()
    assert [(r["users"], r["conversion"]) for r in out] == [(0, 0.0), (0, 0.0)]


def test_funnel_plan_single_user_shuffle(spark):
    ev = table(spark, CORRECTNESS_SF, "events")
    out = funnel_steps(ev, ["view", "click", "purchase"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one hash exchange on user + the final single-partition agg; the
    # chained step windows must NOT re-exchange per step
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# keep_best_per_cluster
# ---------------------------------------------------------------------------


def test_keep_best_selects_quality_not_min_id(spark):
    docs = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 8)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = {r["doc_id"]: tuple(r) for r in keep_best_per_cluster(
        docs, pairs, "doc_id", "quality"
    ).collect()}
    # cluster {1,2,3}: canonical is 3 (highest quality), component=min id
    assert out[3] == (3, 1, 3, True) and not out[1][3] and not out[2][3]
    assert out[6] == (6, 5, 2, True)
    # singletons are their own canonical
    assert out[4] == (4, 4, 1, True) and out[7] == (7, 7, 1, True)


def test_keep_best_lower_is_better_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 9.0)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["doc_id"]: r["is_canonical"] for r in keep_best_per_cluster(
        docs, pairs, "doc_id", "q", higher_is_better=False
    ).collect()}
    assert out == {1: True, 2: False, 3: False}, "tie -> smaller id wins"


def test_keep_best_exactly_one_canonical_per_component(spark):
    docs = table(spark, CORRECTNESS_SF, "documents").withColumn(
        "q", F.length("text")
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    out = keep_best_per_cluster(docs, pairs, "doc_id", "q")
    bad = (
        out.groupBy("component_id")
        .agg(
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
            F.count(F.lit(1)).alias("n"),
            F.max("cluster_size").alias("sz"),
        )
        .filter((F.col("n_canon") != 1) | (F.col("sz") != F.col("n")))
        .count()
    )
    assert bad == 0


# ---------------------------------------------------------------------------
# Reciprocal rank fusion
# ---------------------------------------------------------------------------


def test_rrf_fuses_lexical_and_dense_rankings(spark):
    from hazelcast_jet_contrib_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (2, 20, 1), (2, 21, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
           for r in rrf_fuse([lex, dense], k=3, rrf_k=60).collect()}
    # doc 11 appears in BOTH lists (ranks 2 and 1): must fuse to the top
    assert out[(1, 1)][0] == 11
    assert abs(out[(1, 1)][1] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    # singly-listed docs keep their reciprocal score; ties break by id
    assert out[(1, 2)][0] == 10  # 1/61 from lex rank 1
    assert out[(2, 1)][0] == 20 and abs(out[(2, 1)][1] - round(2 / 61, 6)) < 1e-9


def test_rrf_end_to_end_with_bm25_and_cosine(spark):
    """The real composition: BM25 lexical + exact-cosine dense over the
    shared corpus, fused — every fused (q, d) must come from at least
    one source list, and a doc ranked #1 by both sources stays #1."""
    from hazelcast_jet_contrib_spark.operators.retrieval import rrf_fuse
    from hazelcast_jet_contrib_spark.operators.similarity import cosine_topk

    docs = table(spark, CORRECTNESS_SF, "documents")
    emb = table(spark, CORRECTNESS_SF, "embeddings")
    lex = (
        bm25_topk(docs, ["data", "model"], k=10)
        .select(F.lit(0).alias("query_id"), F.col("doc_id").alias("neighbor_id"), "rank")
    )
    q = emb.filter(F.col("vec_id") == 0)
    dense = cosine_topk(q, emb.filter(F.col("vec_id") >= 10), k=10).select(
        F.lit(0).alias("query_id"), "neighbor_id", "rank"
    )
    fused = rrf_fuse([lex, dense], k=10).collect()
    src = {r["neighbor_id"] for r in lex.collect()} | {
        r["neighbor_id"] for r in dense.collect()
    }
    assert all(r["neighbor_id"] in src for r in fused)
    assert len(fused) == min(10, len(src))


def test_rrf_validation(spark):
    from hazelcast_jet_contrib_spark.operators.retrieval import rrf_fuse

    df = spark.createDataFrame(
        [(1, 1, 1)], "query_id long, neighbor_id long, rank int"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])
    with _pytest.raises(ValueError):
        rrf_fuse([df], k=0)


# ---------------------------------------------------------------------------
# Leakage-safe splitting
# ---------------------------------------------------------------------------


def test_leakage_safe_split_never_splits_a_cluster(spark):
    from hazelcast_jet_contrib_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # chains of near-dups: (0,1,2), (10,11), (20,21,22,23), ...
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 10) for i in (i, i + 1)]
        + [(i, i + 2) for i in range(0, 200, 20)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(docs, pairs, fractions=(60, 20, 20)).collect()
    assert len(out) == 200 and len({r["doc_id"] for r in out}) == 200
    by_comp: dict[int, set] = {}
    for r in out:
        by_comp.setdefault(r["component_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values()), (
        "a near-dup cluster straddles splits — leakage"
    )
    # all three splits are populated at these fractions over ~100 comps
    assert {r["split"] for r in out} == {"train", "val", "test"}


def test_leakage_safe_split_matches_hash_split_for_singletons(spark):
    """With NO near-dup pairs the assignment degrades to exactly the
    per-doc affine-hash split (component_id == doc_id)."""
    from hazelcast_jet_contrib_spark.functions.sketches import affine_hash
    from hazelcast_jet_contrib_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = {r["doc_id"]: r["split"] for r in leakage_safe_split(docs, empty).collect()}
    ref = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", (affine_hash("doc_id", 0) % 100).alias("b")
        ).collect()
    }
    for d, b in ref.items():
        want = "train" if b < 90 else ("val" if b < 95 else "test")
        assert out[d] == want


def test_leakage_safe_split_validation(spark):
    from hazelcast_jet_contrib_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame([(1,)], "doc_id long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        leakage_safe_split(docs, empty, fractions=(80, 10, 5))


# ---------------------------------------------------------------------------
# MMR diversification
# ---------------------------------------------------------------------------


def _mmr_fixture(spark):
    import math

    # query 1 candidates: docs 1 and 2 are near-identical vectors with
    # top relevance; doc 3 is orthogonal with slightly lower relevance
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.045, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(7, 1, 0.9), (7, 2, 0.89), (7, 3, 0.7), (7, 4, 0.5)],
        "query_id long, neighbor_id long, score double",
    )
    return cand, emb


def test_mmr_penalizes_redundancy(spark):
    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    cand, emb = _mmr_fixture(spark)
    out = [r["neighbor_id"] for r in mmr_rerank_multi(
        cand, emb, k=3, lams=[0.5]
    ).orderBy("rank").collect()]
    # pick 1 (top rel); doc 2 is ~duplicate of 1 -> diverse doc 3 wins
    assert out[0] == 1 and out[1] == 3, out
    assert out[2] == 4, out  # 4 (orthogonal) still beats the duplicate 2


def test_mmr_lambda_one_is_pure_relevance(spark):
    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    cand, emb = _mmr_fixture(spark)
    out = [r["neighbor_id"] for r in mmr_rerank_multi(
        cand, emb, k=4, lams=[1.0]
    ).orderBy("rank").collect()]
    assert out == [1, 2, 3, 4], "lam=1 must reduce to relevance order"


def test_mmr_matches_reference_greedy(spark):
    """One mmr_rerank_multi call over a lambda sweep must emit, per lam,
    exactly the reference greedy's picks (ids by rank) and their 6-dp
    MMR values — the one-Arrow-pass sweep can never change a selection
    (random multi-query shortlist)."""
    import numpy as np
    import pytest as _pytest

    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    rows, lams, k = [], [1.0, 0.7, 0.3], 6
    for q in (0, 1, 2):
        for d in range(30):
            rows.append((q, d, round(float(rng.uniform(0, 1)), 6)))
    cand = spark.createDataFrame(rows, "query_id long, neighbor_id long, score double")
    got = {
        (r["lam"], r["query_id"], r["rank"]): (r["neighbor_id"], r["mmr"])
        for r in mmr_rerank_multi(cand, emb, k=k, lams=lams).collect()
    }
    assert len(got) == len(lams) * 3 * k
    # reference greedy
    V = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    rel_by_q = {}
    for q, d, s in rows:
        rel_by_q.setdefault(q, {})[d] = s
    for lam in lams:
        for q, rels in rel_by_q.items():
            order = sorted(rels, key=lambda d: (-rels[d], d))
            rel = np.array([rels[d] for d in order])
            ids = np.array(order)
            picked = np.zeros(len(order), dtype=bool)
            chosen: list[int] = []
            for rank in range(1, k + 1):
                # the documented formula: max cosine to the already-
                # picked set (unclamped), 0 for the first pick
                max_sim = (
                    np.max(V[ids[chosen]] @ V[ids].T, axis=0)
                    if chosen
                    else np.zeros(len(order))
                )
                mmr = lam * rel - (1 - lam) * max_sim
                mmr[picked] = -np.inf
                best = int(np.argmax(np.round(mmr, 9)))
                got_id, got_mmr = got[(lam, q, rank)]
                assert got_id == ids[best], (lam, q, rank)
                want = round(float(mmr[best]), 6)
                assert got_mmr == _pytest.approx(want, abs=1e-6), (lam, q, rank)
                chosen.append(best)
                picked[best] = True


def test_mmr_anti_correlated_candidate_earns_its_bonus(spark):
    """The greedy selects on the score it reports: a candidate whose
    cosine to the picked set is negative gains (1 - lam) * |cos| and
    can overtake a higher-relevance orthogonal one. Doc 2 is the
    antipode of doc 1 (cos -1), doc 3 is orthogonal to both; at lam
    0.5 the second pick is doc 2 (0.25 + 0.5 = 0.75 > 0.3) — a
    penalty clamped at 0 would pick doc 3 instead."""
    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(7, 1, 0.9), (7, 2, 0.5), (7, 3, 0.6)],
        "query_id long, neighbor_id long, score double",
    )
    got = [
        (r["neighbor_id"], r["mmr"])
        for r in mmr_rerank_multi(cand, emb, k=3, lams=[0.5])
        .orderBy("rank")
        .collect()
    ]
    assert got == [(1, 0.45), (2, 0.75), (3, 0.3)], got


def test_mmr_multi_rowlevel_equal_to_separate_calls(spark):
    """mmr_rerank_multi(lams=[a, b, ...]) must emit, per lam, EXACTLY the
    rows (ids, 6dp scores, ranks) of a separate one-lam call — the
    one-Arrow-pass sweep can never change a selection (random
    multi-query shortlist)."""
    import numpy as np

    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(25, 6))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(25)],
        "vec_id long, embedding array<double>",
    )
    rows = [
        (q, d, round(float(rng.uniform(0, 1)), 6))
        for q in (0, 1, 2)
        for d in range(25)
    ]
    cand = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, score double"
    )
    lams, k = [1.0, 0.7, 0.3], 5
    fused = {
        (r["lam"], r["query_id"], r["rank"]): (r["neighbor_id"], r["mmr"])
        for r in mmr_rerank_multi(cand, emb, k=k, lams=lams).collect()
    }
    assert len(fused) == len(lams) * 3 * k
    for lam in lams:
        single = {
            (r["lam"], r["query_id"], r["rank"]): (r["neighbor_id"], r["mmr"])
            for r in mmr_rerank_multi(cand, emb, k=k, lams=[lam]).collect()
        }
        assert len(single) == 3 * k
        assert {kk: v for kk, v in fused.items() if kk[0] == lam} == single


def test_mmr_validation(spark):
    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    cand, emb = _mmr_fixture(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mmr_rerank_multi(cand, emb, k=0)
    with _pytest.raises(ValueError):
        mmr_rerank_multi(cand, emb, lams=[1.5])


def test_mmr_multi_validation(spark):
    import pytest as _pytest

    from hazelcast_jet_contrib_spark.operators.retrieval import mmr_rerank_multi

    cand, emb = _mmr_fixture(spark)
    with _pytest.raises(ValueError):
        mmr_rerank_multi(cand, emb, lams=[])
    with _pytest.raises(ValueError):
        mmr_rerank_multi(cand, emb, lams=[0.5, 1.2])
    with _pytest.raises(ValueError):
        mmr_rerank_multi(cand, emb, k=0, lams=[0.5])


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------


def test_cohort_retention_triangle_semantics(spark):
    from hazelcast_jet_contrib_spark.operators.funnel import cohort_retention

    rows = [
        # cohort week of 2024-01-01 (Mon): users 1,2
        (1, "2024-01-02 10:00:00"), (1, "2024-01-09 10:00:00"),  # back wk+1
        (2, "2024-01-03 10:00:00"),                              # never back
        # cohort week of 2024-01-08: user 3, back wk+2
        (3, "2024-01-08 09:00:00"), (3, "2024-01-22 09:00:00"),
        (3, "2024-01-22 10:00:00"),  # same period twice: counted once
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        (str(r["cohort"])[:10], r["offset"]): (
            r["cohort_users"], r["retained"], r["retention"],
        )
        for r in cohort_retention(df, period="week", max_periods=4).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)
    assert out[("2024-01-01", 1)] == (2, 1, 0.5)
    assert ("2024-01-01", 2) not in out  # nobody active -> no row
    assert out[("2024-01-08", 0)] == (1, 1, 1.0)
    assert out[("2024-01-08", 2)] == (1, 1, 1.0)


def test_cohort_retention_matches_duckdb_on_events(spark):
    """Exact mirror on the real events table (weekly, 12 offsets)."""
    import duckdb

    from hazelcast_jet_contrib_spark.operators.funnel import cohort_retention

    ev = table(spark, CORRECTNESS_SF, "events")
    got = sorted(
        (str(r["cohort"])[:10], r["offset"], r["cohort_users"], r["retained"],
         r["retention"])
        for r in cohort_retention(ev, period="week", max_periods=12).collect()
    )
    sql = f"""
    WITH e AS (
      SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS p
      FROM '/root/testdata/{CORRECTNESS_SF.split('/')[-1]}/events.parquet'
    ),
    firsts AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, p FROM e),
    j AS (
      SELECT a.user_id, f.cohort,
             CAST(date_diff('day', f.cohort, a.p) / 7 AS INT) AS offset
      FROM active a JOIN firsts f USING (user_id)
      WHERE date_diff('day', f.cohort, a.p) / 7 BETWEEN 0 AND 12
    ),
    sizes AS (SELECT cohort, COUNT(*) AS cohort_users FROM firsts GROUP BY cohort)
    SELECT CAST(j.cohort AS VARCHAR) AS cohort, j."offset", sizes.cohort_users,
           COUNT(*) AS retained,
           ROUND(CAST(COUNT(*) AS DOUBLE) / sizes.cohort_users, 6) AS retention
    FROM j JOIN sizes USING (cohort)
    GROUP BY 1, 2, 3
    """
    want = sorted(
        (str(c)[:10], o, u, ret, r) for c, o, u, ret, r in duckdb.sql(sql).fetchall()
    )
    assert got == want, (got[:3], want[:3])


def test_cohort_retention_validation(spark):
    from hazelcast_jet_contrib_spark.operators.funnel import cohort_retention

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cohort_retention(df, period="year")
    with _pytest.raises(ValueError):
        cohort_retention(df, max_periods=0)


def test_bm25_multi_matches_single_query_runs(spark):
    """Batching must be invisible: each query's top-k from
    bm25_topk_multi equals its standalone bm25_topk result (df/idf are
    corpus-global either way)."""
    from hazelcast_jet_contrib_spark.operators.retrieval import bm25_topk_multi

    docs = table(spark, CORRECTNESS_SF, "documents")
    qsets = {1: ["data", "model"], 2: ["training", "sort"], 3: ["window"]}
    queries = spark.createDataFrame(
        [(q, t) for q, t in qsets.items()], "query_id long, terms array<string>"
    )
    multi = bm25_topk_multi(docs, queries, k=8)
    got = {}
    for r in multi.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for q, terms in qsets.items():
        want = [
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_topk(docs, terms, k=8).collect()
        ]
        assert sorted(got[q]) == sorted(want), q
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
