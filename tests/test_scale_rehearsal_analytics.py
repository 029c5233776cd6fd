"""Scale rehearsal for the round-8 analytics family: measured evidence
(executed-plan shuffle accumulators, not docstring claims) that BM25,
the rolling z-score screen, and the funnel each cost ~8x for an 8x
input — the growth law that must hold for the 100 TB mandate — and
that BM25's shuffle volume is bounded by |query terms| per document,
never by document LENGTH (the array_intersect-before-explode design).

Corpora are generated with pure Catalyst expressions (xxhash64-driven
word/value choice), deterministic and scale-independent.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.funnel import funnel_steps
from hazelcast_jet_contrib_spark.operators.retrieval import bm25_score_all
from hazelcast_jet_contrib_spark.operators.timeseries import (
    rolling_zscore_anomalies,
)
from hazelcast_jet_contrib_spark.plans.audit import (
    executed_shuffle_stats,
    executed_shuffle_stats_with_live,
)

N1 = 4_000
WORDS = 40
VOCAB = 500


@contextmanager
def materialized_shuffle_stats(method: str = "localCheckpoint"):
    """Per-round shuffle records of an iterative operator, read from
    outside it: while the block runs, every frame that
    ``DataFrame.<method>`` materializes (the per-round localCheckpoint,
    or the classifier's per-iteration gradient ``collect``) gets its
    executed-plan shuffle stats appended, in call order, in the
    ``executed_shuffle_stats_with_live`` shape — the ``live_*`` keys
    exclude cached build plans' frozen exchange metrics. The operator's
    returned relation has its lineage cut, so per-round shuffle is not
    visible on the result; the caller slices off the non-round
    materializations (an init checkpoint, a returned-frame one)."""
    from pyspark.sql.classic.dataframe import DataFrame

    records: list[dict] = []
    original = getattr(DataFrame, method)

    def materialize(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        records.append(executed_shuffle_stats_with_live(self))
        return out

    setattr(DataFrame, method, materialize)
    try:
        yield records
    finally:
        setattr(DataFrame, method, original)


def _docs(spark, tmp_path, n_docs: int):
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS - 1)),
        lambda p: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id"), p), F.lit(VOCAB)).cast("string"),
        ),
    )
    # round-trip through parquet: spark.range carries a KNOWN output
    # partitioning on id, which lets Catalyst elide the per-doc agg
    # exchange entirely — real corpora come off a scan with unknown
    # partitioning, so the honest rehearsal must too
    path = str(tmp_path / f"docs_{n_docs}")
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _bm25_scale(spark, tmp_path, n_docs: int) -> dict[str, int]:
    scored = bm25_score_all(_docs(spark, tmp_path, n_docs), ["w1", "w2", "w3"])
    rows = scored.collect()
    stats = executed_shuffle_stats(scored)
    return {
        "n": n_docs,
        "matches": len(rows),
        "shuffle_records": stats["shuffle_records"],
    }


@pytest.mark.slow
def test_bm25_shuffle_linear_and_term_bounded(spark, tmp_path):
    """8x corpus -> ~8x shuffled records, and the absolute volume is
    bounded by matches x |terms| (x2 for the map/reduce sides of the
    per-doc agg + df agg), NOT by corpus tokens: with 40-word docs, a
    tokenize-then-explode-everything design would shuffle ~13x more."""
    r1 = _bm25_scale(spark, tmp_path, N1)
    r8 = _bm25_scale(spark, tmp_path, N1 * 8)
    growth = r8["shuffle_records"] / max(r1["shuffle_records"], 1)
    assert growth <= 2 * 8, f"bm25 shuffle grew {growth:.1f}x for 8x corpus"
    for r in (r1, r8):
        # every doc matches w.h.p. (40 draws over 500 words); the bound
        # that matters is TERMS per doc, not WORDS per doc
        bound = 4 * r["matches"] * 3
        assert r["shuffle_records"] <= bound, (
            f"{r['shuffle_records']} shuffled records exceeds the "
            f"|terms|-per-doc bound {bound} — is the full token explode "
            "reaching the shuffle?"
        )
    print(
        f"BM25-SCALE 1x: {r1['shuffle_records']} rec ({r1['matches']} match); "
        f"8x: {r8['shuffle_records']} rec ({r8['matches']} match); "
        f"growth {growth:.2f}x"
    )


def _events(spark, n_users: int, per_user: int = 64):
    n = n_users * per_user
    return spark.range(n).select(
        (F.col("id") % n_users).alias("user_id"),
        (F.col("id") / n_users).cast("long").alias("ts"),
        F.col("id").alias("event_id"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 100.0).alias("value"),
        F.concat(
            F.lit("t"), F.pmod(F.xxhash64("id", F.lit(7)), F.lit(5)).cast("string")
        ).alias("event_type"),
    )


@pytest.mark.slow
def test_zscore_shuffle_linear_in_events(spark):
    """8x events -> ~8x shuffled records: the rolling frame adds no
    shuffle amplification (each row ships once to its key's partition;
    the baseline is windowed state, not data duplication)."""

    def run(n_users):
        out = rolling_zscore_anomalies(
            _events(spark, n_users), "user_id", "ts", "value",
            lookback=20, tiebreak_col="event_id",
        )
        n = len(out.collect())
        return n, executed_shuffle_stats(out)["shuffle_records"]

    n1, s1 = run(64)
    n8, s8 = run(64 * 8)
    growth = s8 / max(s1, 1)
    assert growth <= 2 * 8, f"zscore shuffle grew {growth:.1f}x for 8x events"
    # each input row shuffles exactly once (plus nothing else)
    assert s1 <= 64 * 64 + 64 and s8 <= 64 * 8 * 64 + 512
    assert n8 > n1
    print(f"ZSCORE-SCALE 1x: {s1} rec; 8x: {s8} rec; growth {growth:.2f}x")


@pytest.mark.slow
def test_funnel_shuffle_linear_in_events(spark):
    """8x events -> ~8x shuffled records; K funnel steps add ZERO extra
    exchanges (all step windows share the user partitioning) and the
    per-user reduction means the post-window agg rows are user-count,
    not event-count."""

    def run(n_users):
        out = funnel_steps(_events(spark, n_users), ["t0", "t1", "t2"])
        rows = out.collect()
        assert len(rows) == 3
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert final.count("Exchange hashpartitioning(user_id") == 1
        return executed_shuffle_stats(out)["shuffle_records"]

    s1 = run(64)
    s8 = run(64 * 8)
    growth = s8 / max(s1, 1)
    assert growth <= 2 * 8, f"funnel shuffle grew {growth:.1f}x for 8x events"
    print(f"FUNNEL-SCALE 1x: {s1} rec; 8x: {s8} rec; growth {growth:.2f}x")


@pytest.mark.slow
def test_bpe_merge_rounds_are_corpus_size_independent(spark, tmp_path):
    """The BPE trainer's headline scale claim, measured: after the one
    word-counting pass, every merge round runs on the word-frequency
    relation — so an 8x corpus with the SAME vocabulary yields
    IDENTICAL merges and an identical per-round pair-count row count,
    while only the initial word count scales. Built by repeating the
    same documents 8x (vocabulary unchanged by construction)."""
    from hazelcast_jet_contrib_spark.operators.bpe import (
        _initial_symbols,
        _word_counts,
        train_bpe,
    )

    words = F.transform(
        F.sequence(F.lit(0), F.lit(19)),
        lambda p: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.pmod(F.col("id"), F.lit(500)), p), F.lit(80)).cast("string"),
        ),
    )

    def corpus(n):
        path = str(tmp_path / f"bpe_{n}")
        spark.range(n).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    c1, c8 = corpus(500), corpus(4000)  # 8x = the same 500 docs repeated
    m1 = train_bpe(c1, num_merges=6)
    m8 = train_bpe(c8, num_merges=6)
    assert m1, "trainer must learn merges on this corpus"
    assert m1 == m8, "same vocabulary (x8 frequency) must learn the same merges"
    # the per-round working relation is the VOCABULARY, measured directly:
    for c in (c1, c8):
        vocab = _word_counts(c, "text").select(
            _initial_symbols(F.col("word")).alias("sym"), "freq"
        )
        n = vocab.count()
        assert n <= 500 * 20, n  # bounded by distinct words, not corpus rows
    v1 = _word_counts(c1, "text").count()
    v8 = _word_counts(c8, "text").count()
    assert v1 == v8, "distinct-word relation must not grow with corpus copies"
    print(f"BPE-SCALE vocab rows 1x={v1} 8x={v8} (identical); merges equal")


@pytest.mark.slow
def test_classifier_iteration_shuffle_linear_in_corpus(spark, tmp_path):
    """8x labeled corpus -> ~8x shuffled records per training run
    (feature relation + per-iteration doc/feature aggregations all
    scale with rows), while the MODEL side stays constant: the weight
    relation broadcast each iteration is bounded by num_features
    regardless of corpus size."""
    from hazelcast_jet_contrib_spark.operators.classifier import (
        featurize,
        score_documents,
        train_quality_classifier,
    )
    from hazelcast_jet_contrib_spark.plans.audit import executed_shuffle_stats

    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda p: F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(F.col("id"), p, F.col("label")), F.lit(200)
            ).cast("string"),
        ),
    )

    def corpus(n):
        path = str(tmp_path / f"clf_{n}")
        spark.range(n).withColumn(
            "label", (F.col("id") % 2).cast("int")
        ).select(
            F.col("id").alias("doc_id"),
            "label",
            F.concat_ws(" ", words).alias("text"),
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def run(n):
        docs = corpus(n)
        w = train_quality_classifier(
            docs, "label", num_features=1 << 10, iterations=3, lr=1.0
        )
        scored = score_documents(docs, w, num_features=1 << 10)
        scored.collect()
        return len(w), executed_shuffle_stats(scored)["shuffle_records"]

    nw1, s1 = run(1_000)
    nw8, s8 = run(8_000)
    growth = s8 / max(s1, 1)
    assert growth <= 2 * 8, f"scoring shuffle grew {growth:.1f}x for 8x corpus"
    # the model never grows past the hash space (+ bias)
    assert nw1 <= (1 << 10) + 1 and nw8 <= (1 << 10) + 1
    print(
        f"CLF-SCALE 1x: {s1} rec, {nw1} weights; 8x: {s8} rec, {nw8} weights; "
        f"scoring growth {growth:.2f}x"
    )


@pytest.mark.slow
def test_bm25_multi_one_corpus_scan_regardless_of_query_count(spark, tmp_path):
    """The honest batching law, measured two ways: (a) the number of
    corpus parquet scans in the executed plan stays CONSTANT as the
    query batch grows (tokenize/df/stats happen once — 8 separate
    bm25_topk runs would pay 8 scans); (b) shuffled records are the
    per-query OUTPUT cost — matches x queries for scoring plus matches
    x |term union| for the hit relation — i.e. bounded by what must be
    produced, never by corpus re-reads."""
    from hazelcast_jet_contrib_spark.operators.retrieval import bm25_topk_multi
    from hazelcast_jet_contrib_spark.plans.audit import executed_shuffle_stats

    docs = _docs(spark, tmp_path, N1)

    def run(qsets):
        qs = spark.createDataFrame(
            [(q, terms) for q, terms in enumerate(qsets)],
            "query_id long, terms array<string>",
        )
        out = bm25_topk_multi(docs, qs, k=10)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = final.count("Scan parquet")
        return scans, executed_shuffle_stats(out)["shuffle_records"]

    sc1, s1 = run([["w1", "w2", "w3"]])
    sc8, s8 = run(
        [[f"w{(3 * q + j) % VOCAB}" for j in range(3)] for q in range(8)]
    )
    assert sc8 == sc1, (
        f"corpus scans grew {sc1} -> {sc8}: batching must share the pass"
    )
    growth = s8 / max(s1, 1)
    assert growth <= 2 * 8, f"shuffle {growth:.1f}x for 8x queries"
    print(
        f"BM25-MULTI 1q: {sc1} scans {s1} rec; 8q: {sc8} scans {s8} rec "
        f"(shuffle growth {growth:.2f}x, scans constant)"
    )


@pytest.mark.slow
def test_pagerank_sweep_shuffle_linear_in_edges(spark, tmp_path):
    """The graph family's growth law, measured (VERDICT r08 item 5):
    8x edges -> ~8x shuffled records per sweep, at a CONSTANT exchange
    count — the per-sweep dataflow is one shuffle join (ranks ⋈ edges
    on src) + one dst aggregation, and lineage cutting makes every
    sweep identical. The returned relation's lineage is cut by the
    final checkpoint (so its own executed plan shows zero shuffle —
    correct, and useless for measurement); per-sweep shuffle is read
    through materialized_shuffle_stats, which captures each sweep's
    executed-plan metrics right after its checkpoint materializes it
    (the first checkpoint is the init relation, not a sweep; the last
    is the returned frame, computed by the final sweep). Measured over
    a deterministic synthetic edge list; re-recorded post-2551711:
    growth ~8x, constant exchanges."""
    from hazelcast_jet_contrib_spark.operators.graph import pagerank

    def edges(n_edges):
        path = str(tmp_path / f"pr_edges_{n_edges}")
        spark.range(n_edges).select(
            F.pmod(F.xxhash64("id"), F.lit(max(n_edges // 8, 16))).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(max(n_edges // 8, 16))).alias(
                "dst"
            ),
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def run(n_edges):
        with materialized_shuffle_stats() as cps:
            out = pagerank(edges(n_edges), iterations=3)
        out.collect()
        sweeps = cps[1:]
        assert len(sweeps) == 3, f"expected one stats dict per sweep: {sweeps}"
        # the last sweep is representative (every sweep's plan is
        # identical by lineage-cut construction); exchange count must
        # already be constant ACROSS sweeps at one scale
        assert len({s["exchanges"] for s in sweeps}) == 1, sweeps
        return sweeps[-1]["shuffle_records"], sweeps[-1]["exchanges"]

    s1, x1 = run(4_000)
    s8, x8 = run(4_000 * 8)
    growth = s8 / max(s1, 1)
    assert 4 <= growth <= 2 * 8, (
        f"pagerank per-sweep shuffle grew {growth:.1f}x for 8x edges"
    )
    assert x8 <= x1 + 1, (
        f"exchange count must not grow with edges: {x1} -> {x8}"
    )
    print(
        f"PAGERANK-SCALE 1x: {s1} rec/{x1} exch; 8x: {s8} rec/{x8} exch; "
        f"growth {growth:.2f}x"
    )


@pytest.mark.slow
def test_pagerank_edges_stay_out_of_the_per_sweep_shuffle(spark, tmp_path):
    """The loop-invariant edge relation persists PRE-PARTITIONED on its
    sweep join key, src (graph.py, the classifier GD-loop pattern), so
    once sort-merge join engages — the 100 TB regime, where |V| is far
    past any broadcast threshold — each sweep re-shuffles only the
    checkpointed ranks (|V| rows, localCheckpoint yields
    UnknownPartitioning) and the inflow partial aggregates, NOT the
    |E|-row edge relation. Locally AQE broadcasts the tiny ranks
    side and hides this entirely, so the test FORCES the at-scale join
    shape by disabling broadcast and asserts per-sweep LIVE shuffled
    records (materialized_shuffle_stats' live_* view, which excludes the
    cached build plans' frozen exchange metrics) stay well under |E|.
    Dropping the edge repartition in graph.py puts the edge relation
    back through the shuffle every sweep and blows the bound."""
    from hazelcast_jet_contrib_spark.operators.graph import pagerank

    n_edges, n_nodes = 40_000, 500
    path = str(tmp_path / "pr_edges_nobc")
    spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("dst"),
    ).write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    n_distinct = edges.distinct().count()

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        with materialized_shuffle_stats() as cps:
            pagerank(edges, iterations=3).collect()
        sweeps = cps[1:]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # release what the operator cached: a lingering InMemoryRelation
        # changes LATER tests' plans in this session-scoped fixture (the
        # same cross-query nondeterminism plan_report.py had to fix)
        from hazelcast_jet_contrib_spark.cache import release_tracked

        release_tracked()
        spark.catalog.clearCache()

    per_sweep = max(s["live_shuffle_records"] for s in sweeps)
    assert per_sweep < n_distinct // 2, (
        f"per-sweep live shuffle {per_sweep} records vs {n_distinct} distinct "
        f"edges: the edge relation is transiting the shuffle every sweep"
    )
    print(
        f"PAGERANK-NOBC edges={n_distinct} per-sweep live shuffle={per_sweep} "
        f"rec ({[s['live_shuffle_records'] for s in sweeps]})"
    )


@pytest.mark.slow
def test_cc_edges_stay_out_of_the_per_round_shuffle(spark, tmp_path):
    """Connected components' loop-invariant edge relation caches
    pre-partitioned on the round join key (dedup.py, same trade as the
    pagerank sweep), so under the at-scale join shape (broadcast
    disabled — locally AQE broadcasts the tiny label side and hides
    everything) each min-label round re-shuffles only the |V|-row label
    relation and the aggregation partials, NOT the 2|E| edge rows.
    Asserted through the materialized_shuffle_stats live_* view (every
    checkpoint after the init labels is one round); removing the
    repartition+persist in connected_components puts the edges back
    through the shuffle every round and blows the bound."""
    from hazelcast_jet_contrib_spark.operators.dedup import connected_components

    n_pairs, n_nodes = 30_000, 400
    path = str(tmp_path / "cc_pairs_nobc")
    spark.range(n_pairs).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("id_a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("id_b"),
    ).write.mode("overwrite").parquet(path)
    pairs = spark.read.parquet(path)
    n_edges = 2 * pairs.count()  # both directions transit the loop

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        with materialized_shuffle_stats() as cps:
            connected_components(pairs, max_iter=4).collect()
        rounds = cps[1:]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # release what the operator cached: a lingering InMemoryRelation
        # changes LATER tests' plans in this session-scoped fixture (the
        # same cross-query nondeterminism plan_report.py had to fix)
        from hazelcast_jet_contrib_spark.cache import release_tracked

        release_tracked()
        spark.catalog.clearCache()

    assert rounds, "expected at least one round"
    per_round = max(r["live_shuffle_records"] for r in rounds)
    assert per_round < n_edges // 2, (
        f"per-round live shuffle {per_round} records vs {n_edges} directed "
        f"edges: the edge relation is transiting the shuffle every round"
    )
    print(
        f"CC-NOBC edges={n_edges} per-round live shuffle={per_round} rec "
        f"({[r['live_shuffle_records'] for r in rounds]})"
    )


@pytest.mark.slow
def test_kmeans_prepartition_keeps_points_out_of_the_per_round_shuffle(
    spark, tmp_path
):
    """The Lloyd loop caches the points relation hash-partitioned on
    id, so under the at-scale join shape (broadcast disabled) each
    round's recompute join satisfies both sides from cache and shuffles
    only the k*d mean partials — NOT the full |N|-row vector relation
    twice."""
    from hazelcast_jet_contrib_spark.operators.clustering import kmeans_lloyd

    n, d = 4_000, 8
    path = str(tmp_path / "km_points_nobc")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda p: (F.pmod(F.xxhash64(F.col("id"), p), F.lit(1000)) / 500.0 - 1.0),
    )
    spark.range(n).select(F.col("id").alias("doc_id"), vec.alias("emb")).write.mode(
        "overwrite"
    ).parquet(path)
    pts = spark.read.parquet(path)

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # every checkpoint but the last (the returned assignment) is
        # one Lloyd round's centroid recomputation
        with materialized_shuffle_stats() as cps:
            kmeans_lloyd(pts, "doc_id", "emb", k=10, iters=3).collect()
        rounds = cps[:-1]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # release what the operator cached: a lingering InMemoryRelation
        # changes LATER tests' plans in this session-scoped fixture (the
        # same cross-query nondeterminism plan_report.py had to fix)
        from hazelcast_jet_contrib_spark.cache import release_tracked

        release_tracked()
        spark.catalog.clearCache()

    assert len(rounds) == 2
    per_round = max(r["live_shuffle_records"] for r in rounds)
    assert per_round < n, (
        f"per-round live shuffle {per_round} records vs {n} points: the "
        f"vector relation is transiting the recompute join's shuffle"
    )
    print(
        f"KMEANS-NOBC points={n} per-round live shuffle={per_round} rec "
        f"({[r['live_shuffle_records'] for r in rounds]})"
    )


@pytest.mark.slow
def test_classifier_iteration_pays_one_live_exchange(spark, tmp_path):
    """The GD loop's one-exchange-per-iteration claim, measured under
    the at-scale join shape (broadcast disabled; the weight relation is
    explicitly broadcast so only the id-keyed joins are at stake): the
    feature/label relations persist pre-partitioned on id, so each
    iteration's margins groupBy(id), resid join(id) and gradient
    join(id) all satisfy their clustering from cache, and the live
    per-iteration shuffle is ONLY the groupBy(idx) gradient reduce —
    bounded by partitions x touched vocabulary, far under the
    |feature-rows| a re-shuffling loop would pay."""
    from hazelcast_jet_contrib_spark.operators.classifier import (
        featurize,
        train_quality_classifier,
    )

    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda p: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id"), p, F.col("label")), F.lit(200)).cast(
                "string"
            ),
        ),
    )
    path = str(tmp_path / "clf_nobc")
    spark.range(4_000).withColumn("label", (F.col("id") % 2).cast("int")).select(
        F.col("id").alias("doc_id"), "label", F.concat_ws(" ", words).alias("text")
    ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    n_feat_rows = featurize(docs, "doc_id", "text", 1 << 10).count()

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # one collect per GD iteration: its gradient query
        with materialized_shuffle_stats("collect") as rounds:
            train_quality_classifier(
                docs, "label", num_features=1 << 10, iterations=3, lr=1.0,
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # release what the operator cached: a lingering InMemoryRelation
        # changes LATER tests' plans in this session-scoped fixture (the
        # same cross-query nondeterminism plan_report.py had to fix)
        from hazelcast_jet_contrib_spark.cache import release_tracked

        release_tracked()
        spark.catalog.clearCache()

    assert len(rounds) == 3
    per_iter = max(r["live_shuffle_records"] for r in rounds)
    assert per_iter < n_feat_rows // 2, (
        f"per-iteration live shuffle {per_iter} records vs {n_feat_rows} "
        f"feature rows: the feature relation is transiting the shuffle "
        f"every iteration"
    )
    print(
        f"CLF-NOBC feat_rows={n_feat_rows} per-iter live shuffle={per_iter} "
        f"rec ({[r['live_shuffle_records'] for r in rounds]})"
    )
