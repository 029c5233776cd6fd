"""PageRank tests: exact agreement with a dense NumPy power-iteration
reference (same formulation, same iteration count) on structured and
random graphs, dangling-node mass conservation, and determinism."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.graph import pagerank
from tests.conftest import CORRECTNESS_SF, spark_jobs

# Spark jobs per run, measured (see test_sweep_job_counts_are_pinned)
PAGERANK_JOBS = 26
CC_JOBS = 16
EVENT_GRAPH_JOBS = 41


def _numpy_pagerank(edges, d=0.85, iters=10, init=None):
    """Dense power iteration; ``init`` ({node: rank}) is the warm start,
    unseen nodes at 1/N and the vector normalized to sum 1, as
    ``pagerank(init_ranks=...)`` defines it."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = {}
    for u, v in edges:
        adj.setdefault(idx[u], set()).add(idx[v])
    r = np.full(n, 1.0 / n)
    if init is not None:
        r = np.array([init.get(x, 1.0 / n) for x in nodes])
        r = r / r.sum()
    for _ in range(iters):
        dangling = sum(r[i] for i in range(n) if i not in adj)
        new = np.full(n, (1.0 - d) / n) + d * dangling / n
        for u, vs in adj.items():
            share = r[u] / len(vs)
            for v in vs:
                new[v] += d * share
        r = new
    return {nodes[i]: round(float(r[i]), 8) for i in range(n)}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_pagerank_matches_numpy_on_structured_graph(spark):
    # hub-and-spoke + a chain + a dangling node
    edges = [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 5), (5, 6)]
    got = _run(spark, edges)
    want = _numpy_pagerank(edges)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-7, (k, got[k], want[k])
    # node 6 is dangling: its mass must recirculate, ranks sum to 1
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # the same dangling-mass path from a warm start: a skewed init
    # vector (node 4 absent, so it starts at 1/N) before normalization
    init = {1: 0.5, 2: 0.1, 3: 0.1, 5: 0.05, 6: 0.4}
    warm = _run(
        spark,
        edges,
        iterations=4,
        init_ranks=spark.createDataFrame(list(init.items()), "node long, rank double"),
    )
    want = _numpy_pagerank(edges, iters=4, init=init)
    for k in want:
        assert abs(warm[k] - want[k]) <= 1e-7, (k, warm[k], want[k])


def test_pagerank_matches_numpy_on_random_graph(spark):
    import random

    rng = random.Random(88)
    edges = list({(rng.randrange(20), rng.randrange(20)) for _ in range(60)})
    edges = [(u, v) for u, v in edges if u != v]
    got = _run(spark, edges, iterations=12)
    want = _numpy_pagerank(edges, iters=12)
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-7


def test_pagerank_hub_outranks_spokes_and_is_deterministic(spark):
    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    # the 0<->1 cycle oscillates with period 2, decaying by d per
    # sweep — rank ordering is only meaningful once converged, so run
    # enough sweeps for the oscillation to die (0.85^40 ~ 1e-3)
    a = _run(spark, edges, iterations=40)
    b = _run(spark, edges, iterations=40)
    assert a == b
    assert a[0] == max(a.values())


def test_pagerank_duplicate_edges_count_once(spark):
    base = [(1, 2), (2, 3), (3, 1)]
    assert _run(spark, base) == _run(spark, base * 3)


def test_pagerank_validation(spark):
    df_edges = [(1, 2)]
    with pytest.raises(ValueError):
        _run(spark, df_edges, damping=1.0)
    with pytest.raises(ValueError):
        _run(spark, df_edges, iterations=0)


def _numpy_ppr(edges, seeds, d=0.85, iters=10):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = {}
    for u, v in edges:
        adj.setdefault(idx[u], set()).add(idx[v])
    s = [idx[x] for x in seeds if x in idx]
    tele = np.zeros(n)
    tele[s] = 1.0 / len(s)
    r = tele.copy()
    for _ in range(iters):
        dangling = sum(r[i] for i in range(n) if i not in adj)
        new = (1 - d) * tele + d * dangling * tele
        for u, vs in adj.items():
            share = r[u] / len(vs)
            for v in vs:
                new[v] += d * share
        r = new
    return {nodes[i]: round(float(r[i]), 8) for i in range(n)}


def test_personalized_pagerank_matches_numpy_and_localizes(spark):
    import random

    rng = random.Random(17)
    edges = list({(rng.randrange(24), rng.randrange(24)) for _ in range(70)})
    edges = [(u, v) for u, v in edges if u != v]
    seeds = [0, 1]
    got = _run(spark, edges, seeds=seeds, iterations=12)
    want = _numpy_ppr(edges, seeds, iters=12)
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-7, (k, got[k], want[k])
    # dangling nodes 30 and 31 (no out-edges) return their mass to the
    # seed set only, never to all nodes
    dang = edges + [(0, 30), (5, 30), (1, 31)]
    got = _run(spark, dang, seeds=seeds, iterations=12)
    want = _numpy_ppr(dang, seeds, iters=12)
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-7, (k, got[k], want[k])
    # localization: on two disconnected triangles, seeding one leaves
    # the other with zero rank
    tri = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    loc = _run(spark, tri, seeds=[1])
    assert loc[10] == loc[11] == loc[12] == 0.0
    assert abs(sum(loc.values()) - 1.0) < 1e-6


def test_personalized_pagerank_validation(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _run(spark, [(1, 2)], seeds=[])
    with _pytest.raises(ValueError):
        _run(spark, [(1, 2)], seeds=[99])


def test_seed_trust_propagation_through_near_dup_graph(spark):
    """The graph family's pipeline use: personalized PageRank from a
    trusted seed doc propagates trust to its near-dup cluster (direct
    AND transitive neighbors) and gives unrelated clusters zero — the
    scores then feed quality_ensemble as one more signal."""
    from hazelcast_jet_contrib_spark.operators.curation import quality_ensemble
    from hazelcast_jet_contrib_spark.operators.graph import pagerank

    # two near-dup clusters: {1,2,3} (3 only linked via 2) and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    # near-dup edges are symmetric
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = {r["node"]: r["rank"] for r in pagerank(
        edges, seeds=[1], iterations=20
    ).collect()}
    # node 2 is the cluster hub (collects from BOTH neighbors) and may
    # outrank the seed itself; the robust claims: the seed beats its
    # transitive neighbor, and every cluster member holds positive rank
    assert pr[1] > pr[3] > 0 and pr[2] > 0, pr
    assert pr[10] == pr[11] == 0.0
    # as an ensemble signal: trusted cluster outranks the unrelated one
    sig = spark.createDataFrame(
        [(k, v) for k, v in pr.items()], "doc_id long, trust double"
    )
    q = {r["doc_id"]: r["quality"] for r in quality_ensemble(
        sig, "doc_id", {"trust": 1}
    ).collect()}
    assert min(q[1], q[2], q[3]) > max(q[10], q[11])


def test_pagerank_warm_start_fixpoint_and_incremental_advantage(spark):
    """init_ranks warm start (the incremental path for evolving
    graphs): (a) a converged rank vector is a fixpoint — warm-starting
    from it moves nothing beyond rounding; (b) after an edge delta,
    warm-starting from the OLD graph's converged ranks lands strictly
    closer to the new graph's fixpoint than a cold start at the same
    (small) sweep count; (c) seeds + init_ranks is rejected."""
    import random

    rng = random.Random(12)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    df = spark.createDataFrame(edges, "src long, dst long")
    converged = pagerank(df, iterations=40)

    # (a) fixpoint invariance
    warm = pagerank(df, iterations=2, init_ranks=converged)
    c = {r["node"]: r["rank"] for r in converged.collect()}
    w = {r["node"]: r["rank"] for r in warm.collect()}
    assert max(abs(c[n] - w[n]) for n in c) < 1e-6

    # (b) incremental advantage on an edge delta
    delta = [(41, 1), (1, 41), (42, 41), (7, 42), (41, 7)]
    df2 = spark.createDataFrame(edges + delta, "src long, dst long")
    truth = {r["node"]: r["rank"] for r in pagerank(df2, iterations=40).collect()}

    def err(ranks_df):
        got = {r["node"]: r["rank"] for r in ranks_df.collect()}
        return sum(abs(got[n] - truth[n]) for n in truth)

    e_warm = err(pagerank(df2, iterations=3, init_ranks=converged))
    e_cold = err(pagerank(df2, iterations=3))
    assert e_warm < e_cold, (e_warm, e_cold)

    # (c) mutually exclusive with personalized teleport
    with pytest.raises(ValueError, match="mutually exclusive"):
        pagerank(df, iterations=2, seeds=[1], init_ranks=converged)


def test_streaming_pagerank_tracks_fixpoint_across_restart(spark, tmp_path):
    """Incremental PageRank over an edge stream: each micro-batch folds
    its delta and warm-starts 3 sweeps from the previous epoch's ranks.
    The committed vector must (a) track the FINAL graph's converged
    fixpoint within a small L1 gap — the moving-fixpoint contraction
    argument, measured; (b) stay mass-1; (c) survive a query restart
    mid-stream and skip replayed epochs idempotently."""
    import random

    from hazelcast_jet_contrib_spark.streaming import message_log
    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    rng = random.Random(11)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
    segs = [edges[:50], edges[50:90], edges[90:]]
    root = str(tmp_path / "log")
    state = str(tmp_path / "pr_state")
    ckpt = str(tmp_path / "ckpt")
    spr = StreamingPageRank(state, delta_iterations=3)

    def run(new_segs):
        for seg in new_segs:
            message_log.append_segment(
                root, "s", [{"key": str(u), "value": str(v)} for u, v in seg]
            )
        message_log.register(spark)
        src = (
            spark.readStream.format("message_log")
            .option("path", root)
            .load()
            .select(
                F.col("key").cast("long").alias("src"),
                F.col("value").cast("long").alias("dst"),
            )
        )
        q = (
            src.writeStream.foreachBatch(spr.foreach_batch())
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run(segs[:2])
    run([segs[2]])  # restart mid-stream; earlier epochs must not re-fold

    got = {r["node"]: r["rank"] for r in spr.ranks(spark).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    df = spark.createDataFrame(edges, "src long, dst long")
    truth = {
        r["node"]: r["rank"] for r in pagerank(df, iterations=40).collect()
    }
    assert set(got) == set(truth)
    l1 = sum(abs(got[n] - truth[n]) for n in truth)
    # 3 warm sweeps after a 25%-edge delta: error contracts by ~d^3
    # from the post-delta gap — bounded, not accumulating
    assert l1 < 0.05, f"streaming ranks drifted from fixpoint: L1={l1:.4f}"
    # and the warm start earns its keep: strictly closer to the
    # fixpoint than a cold start given the same 3 sweeps
    cold = {
        r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()
    }
    l1_cold = sum(abs(cold[n] - truth[n]) for n in truth)
    assert l1 < l1_cold, (l1, l1_cold)
    # the accumulated committed edge set equals the stream's distinct edges
    stored = {
        (r["src"], r["dst"]) for r in spr.edges(spark).collect()
    }
    assert stored == set(edges)


def test_streaming_pagerank_crash_before_commit_replays_cleanly(spark, tmp_path):
    """The epoch-commit discipline under a crash INSIDE the window:
    edges/ranks written but the commit marker not yet moved. The
    leftovers are invisible (readers take the marker), and the
    replayed epoch rewrites them deterministically — same final state
    as the crash-free run; a second replay of a COMMITTED epoch is a
    no-op."""
    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    edges0 = [(1, 2), (2, 3), (3, 1)]
    edges1 = [(3, 4), (4, 1)]
    df0 = spark.createDataFrame(edges0, "src long, dst long")
    df1 = spark.createDataFrame(edges1, "src long, dst long")

    state = str(tmp_path / "s1")
    spr = StreamingPageRank(state, delta_iterations=4)
    spr.apply_batch(df0, 0)
    committed0 = {r["node"]: r["rank"] for r in spr.ranks(spark).collect()}

    # crash simulation: epoch 1's dirs land but the marker never moves
    spr.apply_batch(df1, 1)
    spr.commit_log.commit(0)  # marker still points at epoch 0
    # readers see ONLY epoch 0 state
    assert {r["node"]: r["rank"] for r in spr.ranks(spark).collect()} == committed0
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == set(edges0)

    # replayed epoch rewrites the leftovers and commits
    spr.apply_batch(df1, 1)
    after_replay = {r["node"]: r["rank"] for r in spr.ranks(spark).collect()}
    assert spr.commit_log.committed() == 1
    # identical to the crash-free reference run
    ref = StreamingPageRank(str(tmp_path / "s2"), delta_iterations=4)
    ref.apply_batch(df0, 0)
    ref.apply_batch(df1, 1)
    want = {r["node"]: r["rank"] for r in ref.ranks(spark).collect()}
    assert after_replay == want
    # committed-epoch replay is a no-op
    spr.apply_batch(df1, 1)
    assert {r["node"]: r["rank"] for r in spr.ranks(spark).collect()} == want


def test_streaming_pagerank_rewound_epoch_raises(spark, tmp_path):
    """A query restarted with a FRESH checkpoint replays epoch ids from 0
    against existing state: an epoch below the marker must raise, not be
    skipped as if it were a replay (the batch would be lost)."""
    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    spr = StreamingPageRank(str(tmp_path / "s"), delta_iterations=2)
    spr.apply_batch(spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long"), 0)
    spr.apply_batch(spark.createDataFrame([(2, 3)], "src long, dst long"), 1)
    fresh = spark.createDataFrame([(3, 4)], "src long, dst long")
    with pytest.raises(RuntimeError, match="rewinds behind"):
        spr.apply_batch(fresh, 0)
    assert spr.commit_log.committed() == 1
    assert (3, 4) not in {(r["src"], r["dst"]) for r in spr.edges(spark).collect()}


def test_streaming_pagerank_reads_state_written_before_the_shared_record(
    spark, tmp_path
):
    """An uncompacted state directory keeps its layout (``_CURRENT`` N,
    ``edges/e{N}``, ``ranks/e{N}``): it is read, and the next epoch
    warm-starts from its ranks instead of cold-starting over the delta."""
    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    state = tmp_path / "s"
    e0, e1 = [(1, 2), (2, 1)], [(2, 3), (3, 1)]
    spark.createDataFrame(e0, "src long, dst long").write.parquet(str(state / "edges" / "e0"))
    spark.createDataFrame(e1, "src long, dst long").write.parquet(str(state / "edges" / "e1"))
    ranks1 = pagerank(spark.createDataFrame(e0 + e1, "src long, dst long"), iterations=10)
    ranks1.write.parquet(str(state / "ranks" / "e1"))
    (state / "_CURRENT").write_text("1")

    spr = StreamingPageRank(str(state), delta_iterations=2)
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == set(e0 + e1)
    want = {r["node"]: r["rank"] for r in ranks1.collect()}
    assert {r["node"]: r["rank"] for r in spr.ranks(spark).collect()} == want
    spr.apply_batch(spark.createDataFrame([(3, 4)], "src long, dst long"), 2)
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == set(
        e0 + e1 + [(3, 4)]
    )
    all_edges = spark.createDataFrame(e0 + e1 + [(3, 4)], "src long, dst long")
    warm = {
        r["node"]: r["rank"]
        for r in pagerank(all_edges, iterations=2, init_ranks=ranks1).collect()
    }
    got = {r["node"]: r["rank"] for r in spr.ranks(spark).collect()}
    assert set(got) == set(warm)
    assert all(abs(got[n] - warm[n]) < 1e-9 for n in warm), (got, warm)


def test_streaming_pagerank_compaction_preserves_state(spark, tmp_path):
    """Edge-epoch compaction: dirs collapse to one edges + one ranks
    epoch; the edge set, the committed ranks, and subsequent epochs'
    results are identical before/after — and a crash-shaped layout
    (duplicate rows across dirs) is harmless because the reader
    dedups by set semantics."""
    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    state = str(tmp_path / "s")
    spr = StreamingPageRank(state, delta_iterations=4)
    segs = [[(1, 2), (2, 3)], [(3, 1), (3, 4)], [(4, 1)]]
    for i, seg in enumerate(segs):
        spr.apply_batch(spark.createDataFrame(seg, "src long, dst long"), i)
    edges_before = {(r["src"], r["dst"]) for r in spr.edges(spark).collect()}
    ranks_before = {r["node"]: r["rank"] for r in spr.ranks(spark).collect()}

    stats = spr.compact(spark)
    assert stats["dirs_after"] < stats["dirs_before"], stats
    assert stats["dirs_after"] == 2  # one edges dir + one ranks dir
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == edges_before
    assert {r["node"]: r["rank"] for r in spr.ranks(spark).collect()} == ranks_before

    # next epoch folds on top of the compacted layout identically to a
    # never-compacted reference
    nxt = spark.createDataFrame([(5, 1), (1, 5)], "src long, dst long")
    spr.apply_batch(nxt, 3)
    ref = StreamingPageRank(str(tmp_path / "ref"), delta_iterations=4)
    for i, seg in enumerate(segs):
        ref.apply_batch(spark.createDataFrame(seg, "src long, dst long"), i)
    ref.apply_batch(nxt, 3)
    assert {r["node"]: r["rank"] for r in spr.ranks(spark).collect()} == {
        r["node"]: r["rank"] for r in ref.ranks(spark).collect()
    }
    # remote URIs refused at construction (the commit marker and epoch
    # listing are driver-local file I/O, like compact_stream)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="driver-local"):
        StreamingPageRank("s3a://b/x")


def test_streaming_pagerank_compaction_crash_windows_lose_nothing(spark, tmp_path):
    """Generation compaction's two crash windows: (a) after the new
    generation is written but BEFORE the marker flips — readers still
    see the old layout, intact; (b) after the flip but before cleanup
    — superseded epoch dirs linger, readers exclude them by the
    generation floor. Re-running compact converges both."""
    import os

    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    state = str(tmp_path / "s")
    spr = StreamingPageRank(state, delta_iterations=4)
    segs = [[(1, 2), (2, 3)], [(3, 1), (3, 4)]]
    for i, seg in enumerate(segs):
        spr.apply_batch(spark.createDataFrame(seg, "src long, dst long"), i)
    all_edges = {(r["src"], r["dst"]) for r in spr.edges(spark).collect()}

    # (a) crash before the flip: generation dir exists, marker unchanged
    spr.edges(spark).write.mode("overwrite").parquet(
        spr.commit_log.generation_dir("edges", 1)
    )
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == all_edges
    stats = spr.compact(spark)  # converges: rewrites g1, flips, cleans
    assert spr.commit_log.compaction() == (1, 1)
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == all_edges

    # (b) crash after the flip: plant a superseded epoch dir; the
    # reader must exclude it (gen floor), and compact cleans it up
    stale = os.path.join(state, "edges", "e0")
    spark.createDataFrame([(9, 9)], "src long, dst long").write.mode(
        "overwrite"
    ).parquet(stale)
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == all_edges
    spr.compact(spark)
    assert not os.path.isdir(stale)
    assert {(r["src"], r["dst"]) for r in spr.edges(spark).collect()} == all_edges
    assert stats["dirs_after"] <= stats["dirs_before"]


def test_warm_start_rejects_degenerate_mass(spark):
    """Zero-total, negative, and NULL init vectors raise instead of
    dividing into silent all-null ranks (review finding r10)."""
    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    zero = spark.createDataFrame([(1, 0.0), (2, 0.0)], "node long, rank double")
    with pytest.raises(ValueError, match="positive total mass"):
        pagerank(df, iterations=1, init_ranks=zero)
    neg = spark.createDataFrame([(1, 1.5), (2, -0.5)], "node long, rank double")
    with pytest.raises(ValueError, match="positive total mass"):
        pagerank(df, iterations=1, init_ranks=neg)
    withnull = spark.createDataFrame(
        [(1, 1.0), (2, None)], "node long, rank double"
    )
    with pytest.raises(ValueError, match="positive total mass"):
        pagerank(df, iterations=1, init_ranks=withnull)


def _jobs(spark, fn) -> int:
    spark.catalog.clearCache()
    return spark_jobs(spark, fn)[1]


def test_sweep_job_counts_are_pinned(spark):
    """A PageRank sweep and a connected-components round each run one
    Spark job (plus the query stages AQE submits on their own): the
    dangling mass and the changed-label count are observed on the
    checkpoint job, and the state folds into the sweep's one aggregate.
    The counts repeat exactly, so a broadcast aggregate, a count job or
    a join back to the state shows here as a larger count."""
    from hazelcast_jet_contrib_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 5), (5, 6)], "src long, dst long"
    )
    assert _jobs(spark, lambda: pagerank(edges, iterations=5).collect()) == PAGERANK_JOBS
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    assert _jobs(spark, lambda: connected_components(chain).collect()) == CC_JOBS


@pytest.mark.skipif(
    not os.path.exists(f"{CORRECTNESS_SF}/events.parquet"),
    reason="sf0.01 fixture not on disk",
)
def test_pagerank_event_graph_job_count_is_pinned(spark):
    from hazelcast_jet_contrib_spark.registry import QUERIES, table

    # the events schema is inferred once per file (registry.table), so
    # read it first: the count is then the same whatever ran before
    table(spark, CORRECTNESS_SF, "events")
    q = QUERIES["pagerank_event_graph"]
    assert _jobs(spark, lambda: q(spark, CORRECTNESS_SF).collect()) == EVENT_GRAPH_JOBS
