"""Physical-plan assertions for the headline queries: the properties
that decide 100 TB viability — pushdown reaching the scan, column
pruning, broadcast where a side is small, no row-at-a-time Python, and
no unexpected shuffle growth. The reference cannot express these checks
(no optimizer); for this engine they ARE the performance contract."""

from __future__ import annotations

import pytest

from hazelcast_jet_contrib_spark.plans.audit import audit
from hazelcast_jet_contrib_spark.registry import QUERIES, RETIRED_QUERIES

SF = "/root/testdata/sf0.001"


def test_q6_filters_pushed_to_scan(spark):
    a = audit(RETIRED_QUERIES["q6_forecast_revenue"](spark, SF))
    assert a.pushed_filters(), "q6's date/discount/quantity filters must reach the scan"
    assert a.scans_read_only(
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    ), a.notes


def test_q3_broadcasts_small_dimensions(spark):
    """customer (and orders at sf-small) are broadcast-able sides; the
    plan must not shuffle lineitem for them unnecessarily."""
    a = audit(QUERIES["q3_order_revenue"](spark, SF))
    assert a.broadcast_joins() >= 1, "expected at least one broadcast join"


def test_zset_catalyst_pushdown_removes_range_from_plan(spark):
    """DSv2 path: the user's .filter() range comparisons must be
    absorbed by pushFilters — the executed plan keeps only the isnotnull
    residual; the range constants appearing in a post-scan Filter means
    Spark re-evaluated what the store already did."""
    a = audit(QUERIES["zset_range_catalyst_pushdown"](spark, SF))
    pushed = a.pushed_filters()
    assert any("GreaterThanOrEqual(score" in p for p in pushed), pushed
    assert any("LessThanOrEqual(score" in p for p in pushed), pushed
    # the residual Filter node may keep only the null check — the range
    # constants in it would mean Spark re-evaluated what the store did
    import re

    for m in re.finditer(r"^\(\d+\) Filter.*\n((?:.+\n)*?)\n", a.plan, re.M):
        assert "10.0" not in m.group(1) and "50.0" not in m.group(1), (
            f"score range re-evaluated Spark-side:\n{m.group(1)}"
        )


def test_docstore_catalyst_pushdown_splits_pushed_and_residual(spark):
    """DSv2 docstore: the range + equality comparisons are absorbed into
    the store's find document (PushedFilters); the startswith predicate
    has no find-language counterpart and MUST come back as a residual the
    Spark-side Filter re-checks — while the absorbed constants must NOT
    reappear there."""
    a = audit(QUERIES["docstore_catalyst_pushdown"](spark, SF))
    pushed = a.pushed_filters()
    assert any("GreaterThanOrEqual(n_chars" in p for p in pushed), pushed
    assert any("LessThanOrEqual(n_chars" in p for p in pushed), pushed
    assert any("EqualTo(lang" in p for p in pushed), pushed
    import re

    residuals = [
        m.group(1)
        for m in re.finditer(r"^\(\d+\) Filter.*\n((?:.+\n)*?)\n", a.plan, re.M)
    ]
    assert residuals, "expected a residual Filter node for the startswith"
    body = "\n".join(residuals)
    assert "StartsWith" in body, body
    for absorbed in ("100", "400", "= en", ", en)"):
        assert absorbed not in body, f"absorbed predicate re-evaluated:\n{body}"


def test_kv_hash_catalyst_pushdown_splits_pushed_and_residual(spark):
    """DSv2 kv/hash store: the key-prefix predicate is absorbed as a
    server-side SCAN MATCH (PushedFilters); the contains predicate on the
    VALUE has no key-op counterpart and MUST come back as a residual the
    Spark-side Filter re-checks — while the absorbed prefix must NOT
    reappear there."""
    a = audit(QUERIES["kv_hash_catalyst_pushdown"](spark, SF))
    pushed = a.pushed_filters()
    assert any("StringStartsWith(key" in p for p in pushed), pushed
    import re

    residuals = [
        m.group(1)
        for m in re.finditer(r"^\(\d+\) Filter.*\n((?:.+\n)*?)\n", a.plan, re.M)
    ]
    assert residuals, "expected a residual Filter node for the value contains"
    body = "\n".join(residuals)
    assert "Contains(value" in body, body
    assert "Customer#0000001" not in body, f"absorbed prefix re-evaluated:\n{body}"
    assert a.exchanges() == 0 and a.python_stages() == 0


def test_timeseries_catalyst_pushdown_splits_pushed_and_residual(spark):
    """DSv2 time-series store: the time-range comparisons are absorbed
    into the store's row-group pruning + arrow mask (PushedFilters); the
    tag inequality has no time-range counterpart and MUST come back as a
    residual the Spark-side Filter re-checks — while the absorbed time
    constants must NOT reappear there."""
    a = audit(QUERIES["timeseries_catalyst_pushdown"](spark, SF))
    pushed = a.pushed_filters()
    assert any("GreaterThanOrEqual(time" in p for p in pushed), pushed
    assert any("LessThan(time" in p for p in pushed), pushed
    import re

    residuals = [
        m.group(1)
        for m in re.finditer(r"^\(\d+\) Filter.*\n((?:.+\n)*?)\n", a.plan, re.M)
    ]
    assert residuals, "expected a residual Filter node for the tag inequality"
    body = "\n".join(residuals)
    assert "click" in body, body
    assert "2024-01-10" not in body and "2024-01-12" not in body, (
        f"absorbed time range re-evaluated Spark-side:\n{body}"
    )
    assert a.exchanges() == 0


def test_text_stats_stays_jvm_side(spark):
    """Scale guard: text functions are Catalyst expressions, never
    Python. text_stats retired r09 (⊂ text_quality_scores +
    token_length_profile) — the guard moves to the subsuming LIVE
    queries and keeps covering the retired (still-shipped) one."""
    for name in ("text_quality_scores", "token_length_profile"):
        a = audit(QUERIES[name](spark, SF))
        assert a.python_stages() == 0, f"{name}: text fns must stay Catalyst"
        assert a.arrow_python_stages() == 0, name
    a = audit(RETIRED_QUERIES["text_stats"](spark, SF))
    assert a.python_stages() == 0 and a.arrow_python_stages() == 0


def test_dedup_minhash_no_python_no_rowudf(spark):
    a = audit(QUERIES["minhash_lsh_near_dup"](spark, SF))
    assert a.python_stages() == 0


def test_ann_topk_broadcasts_queries_not_corpus(spark):
    """Scale guard: the ANN query side broadcasts; the corpus never
    shuffles for the join. ann_cosine_topk retired r09 (⊂
    ivf_recall_at_nprobe's exact-truth side) — the guard covers both
    the retired (still-shipped) query and the subsuming live one."""
    a = audit(RETIRED_QUERIES["ann_cosine_topk"](spark, SF))
    assert a.broadcast_joins() >= 1, "query side must broadcast"
    assert a.shuffle_joins() == 0, "corpus must never shuffle for the join"
    # the live subsumer's gate stage legitimately shuffle-joins two
    # k×queries-bounded relations (approx vs exact top-k), so its
    # corpus-side discipline is guarded by its own Arrow-stage pin in
    # the blanket test, not by shuffle_joins()==0 here


def test_no_headline_query_uses_row_at_a_time_python(spark):
    """Blanket guard: BatchEvalPython (pickled row loop) is banned
    across the whole registry; vectorized Arrow stages are allowed only
    where the operator declares them (multimodal decode, LSH sketch)."""
    # vectorized Arrow boundaries that ARE the operator's declared
    # design: connector client reads (mapInPandas partition functions)
    # and the Python kernels (LSH hyperplane sketch, stub decode, IVF
    # cell assignment). Counts are PINNED, not just allowlisted: a
    # regression adding an extra undeclared Arrow stage to an exempted
    # query fails here too.
    # Counts are PHYSICAL kernels (unique plan-node ids — see
    # PlanAudit.arrow_python_stages): the decode/sketch kernel of a
    # persisted relation counts once no matter how many consumers scan
    # the cache, because it runs once at cache build.
    allowed_arrow = {
        "media_image_features": 1,
        "media_image_resize": 1,
        "media_video_frame_sample": 1,
        "media_audio_frames": 1,
        "media_phash_dup_groups": 1,  # image_features decode kernel (retired)
        "media_phash_near_dup": 1,  # image_features decode, persisted once
        "embedding_near_dup": 1,  # persisted hyperplane sketch, shared by both join sides
        "ivf_cosine_topk": 3,  # cell_of (corpus) + cell_of/probe_cells (retired)
        "ivf_recall_at_nprobe": 3,
        "service_token_stats": 1,  # mapUsingService is by definition an Arrow stage
        "paged_rest_parts": 1,
        # round-9 registrations whose Arrow stage IS the declared design:
        "bpe_encode_pinned": 1,  # Arrow-batched trie encode (bpe.py)
        "video_near_dup_frames": 1,  # frame-decode kernel, persisted once
        # round-11: the LAZY tar-shard read — the untar mapInPandas
        # stage is exactly what the registration exists to prove
        # (binaryFile scan + one Arrow stage, no LocalTableScan)
        "webdataset_roundtrip": 1,
        # r17: SimHash vote counting moved from a 128-column JVM sum
        # aggregate to one vectorized Arrow kernel (guide §4.2 —
        # measured 3.45s -> 0.78s at sf0.1, OPTIMIZATION_r17.md §5;
        # value-equality pinned by
        # test_simhash_arrow_kernel_matches_sum_formulation)
        "simhash128_near_dup": 1,
        # r17: MinHash signatures fused row-local (array-hash + family
        # kernel, zero exchanges — measured in OPTIMIZATION_r17.md §16;
        # value-equality pinned by
        # test_minhash_fused_kernel_matches_aggregate_formulation).
        # decontamination counts 2: the persisted corpus kernel + the
        # (unpersisted, broadcast-side) probe kernel.
        "minhash_lsh_near_dup": 1,
        "decontamination_near_dup": 2,
        "curation_pipeline_end2end": 1,
        # round-7 additions: all pure Catalyst, and the two eager
        # queries (training_shards_roundtrip, ivf_index_probe_topk)
        # return local relations — their kernels run inside the query
        # body and are pinned by their own operator tests.
    }
    offenders = []
    # retired queries stay under the same blanket guard: they remain
    # shipped API surface even though the driver no longer runs them
    for name, fn in {**QUERIES, **RETIRED_QUERIES}.items():
        a = audit(fn(spark, SF))
        if a.python_stages() > 0:
            offenders.append(name)
        arrow = a.arrow_python_stages()
        expected = allowed_arrow.get(name, 0)
        if arrow != expected:
            offenders.append(f"{name} (arrow {arrow} != pinned {expected})")
    assert not offenders, f"row-at-a-time/undeclared Python stages in: {offenders}"


def test_embedding_near_dup_has_no_quadratic_join(spark):
    """Near-dup plans must be the LSH-bucketed shape: the only join is
    an equi-join on the bucket key (hash join). A
    BroadcastNestedLoopJoin / CartesianProduct here means the O(n²)
    brute-force pair join leaked back in — a scale-killer at 100×.
    embedding_near_dup retired r09 (⊂ semantic_dedup_pairs) — the
    guard keeps covering the retired (still-shipped) query; the live
    subsumer's plan carries a deliberate BNLJ — the k-row broadcast
    centroid crossJoin of its ASSIGN stage (O(n·k), the declared IVF
    bucketing design), so its pair-join discipline is bounded by its
    exchange budget in test_new_sketch_and_clustering_shuffle_budgets
    instead of a blanket BNLJ ban."""
    a = audit(RETIRED_QUERIES["embedding_near_dup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in a.plan, "O(n²) pair join in near-dup plan"
    assert "CartesianProduct" not in a.plan, "cartesian join in near-dup plan"


def test_minhash_shuffle_budget(spark):
    """Regression guard on shuffle count: the minhash pipeline plans 3
    real exchanges fresh (shared id-aggregate, candidate banding join,
    verification joins) — the shared aggregate is persisted, so its
    scan-side shuffle runs once, not per consumer — plus one numbered
    AQE node once an earlier run in the same session materialized the
    cache. An edit that accidentally adds a corpus-wide shuffle (e.g.
    losing the cache, losing the ids-only candidate join) shows up
    here first."""
    a = audit(QUERIES["minhash_lsh_near_dup"](spark, SF))
    assert a.exchanges() <= 6, f"minhash shuffle count grew: {a.exchanges()}"


def test_neardup_clusters_shuffle_budget(spark):
    """Label propagation accumulates one join+agg round per iteration in
    the final plan (per-round persist bounds recompute, not plan size).
    At sf0.001 convergence takes a handful of rounds — a budget of 20
    exchanges catches an edit that loses the per-round persist or adds a
    corpus-wide shuffle per round (which would explode multiplicatively
    with iteration count at scale)."""
    a = audit(QUERIES["neardup_clusters"](spark, SF))
    assert a.exchanges() <= 20, f"neardup_clusters shuffle count grew: {a.exchanges()}"


def test_sketch_queries_shuffle_budget(spark):
    """Mergeable-sketch queries must keep their exchange inventory flat:
    partial sketches merge at the exchange, so each query's shuffle
    count is a small constant regardless of data volume. Budgets pinned
    at the PLANS.md-recorded counts (+0 slack — these plans are stable)."""
    budgets = {
        "sketch_hll_rollup_union": 4,
        "sketch_theta_retention_overlap": 5,
        "sketch_kll_price_quantiles": 3,
        "sketch_topk_event_types": 1,
    }
    for name, budget in budgets.items():
        a = audit(QUERIES[name](spark, SF))
        assert a.exchanges() <= budget, (
            f"{name} shuffle count grew: {a.exchanges()} > {budget}"
        )


def test_round3_curation_queries_plan_budgets(spark):
    """Budgets for the round-3/4 additions (PLANS.md-recorded counts):
    chunking and quantization are pure per-row Catalyst (ZERO exchanges,
    zero Python — a shuffle appearing means someone grouped what should
    be a projection); tf-idf plans 4 exchanges (tf aggregate, df
    aggregate, n_docs aggregate, top-5 window) with the term-weight side
    broadcast back — an SMJ here would mean the doc-sized side started
    shuffling for the join."""
    for name in ("doc_chunking_overlap", "embedding_quantization",
                 "docstore_catalyst_pushdown"):
        a = audit(QUERIES[name](spark, SF))
        assert a.exchanges() == 0, f"{name} grew a shuffle: {a.exchanges()}"
        assert a.python_stages() == 0 and a.arrow_python_stages() == 0

    a = audit(QUERIES["tfidf_salient_terms"](spark, SF))
    assert a.exchanges() <= 4, f"tfidf shuffle count grew: {a.exchanges()}"
    assert a.broadcast_joins() >= 2, "term-weight sides must broadcast"
    assert a.shuffle_joins() == 0, "no doc-sized side may shuffle for a join"
    assert a.python_stages() == 0 and a.arrow_python_stages() == 0


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """Both sides bucketed by the join key -> the join plans with no
    Exchange at all: the shuffle was paid once at write time. This is
    the co-location strategy for repeated fact-fact joins at 100 TB."""
    from hazelcast_jet_contrib_spark.operators.skew import bucketed, write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_bkt", "l_orderkey", num_buckets=8)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_bkt",
        "l_orderkey",
        num_buckets=8,
    )
    joined = bucketed(spark, "li_bkt").join(bucketed(spark, "ord_bkt"), "l_orderkey")
    # disable broadcast so the test exercises the co-located SMJ path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = audit(joined)
        assert a.exchanges() == 0, f"bucketed join still shuffles: {a.exchanges()}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_salted_join_matches_plain_join(spark):
    """salted_join is semantics-preserving: same multiset of rows as the
    plain join, with the hot key spread across `salt` sub-partitions."""
    from hazelcast_jet_contrib_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", 0), ("miss", 9)],
        "k string, lv long",
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("other", "O")], "k string, rv string"
    )
    plain = left.join(right, "k").groupBy("k", "rv").count()
    salted = salted_join(left, right, "k", salt=8).groupBy("k", "rv").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    left_rows = salted_join(left, right, "k", salt=8, how="left").count()
    assert left_rows == 502  # 'miss' preserved by the left join


def test_bucketed_aggregation_has_zero_exchanges(spark):
    """groupBy on the bucket key rides the same write-time layout: the
    partial+final aggregation collapses into one stage with no shuffle
    between (vs exactly one Exchange for the plain read) — and produces
    identical results."""
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark.operators.skew import bucketed, write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(li, "li_agg_bkt", "l_orderkey", num_buckets=8)
    try:
        agg = (
            bucketed(spark, "li_agg_bkt")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        a = audit(agg)
        assert a.exchanges() == 0, f"bucketed aggregation still shuffles:\n{a.plan}"
        plain = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty"))
        assert audit(plain).exchanges() == 1
        got = {(r["l_orderkey"], float(r["qty"])) for r in agg.collect()}
        want = {(r["l_orderkey"], float(r["qty"])) for r in plain.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_agg_bkt")


def test_unigram_lm_quality_broadcasts_model_two_shuffles(spark):
    """LM scoring reads the corpus twice (token-count build, per-doc
    scoring) and the vocabulary model comes back as a broadcast, never
    a shuffle join; everything stays JVM-side. Budget note (round 14):
    the vocabulary-sized counts relation is now CACHED (it feeds the
    scalar-totals action and the broadcast model — caching cut the
    corpus tokenize from three executions to two and the count
    exchange from two executions to one), and the audit counts plan
    NODES, so the cached build's exchange appears alongside the
    per-doc aggregation's: <= 3 nodes, strictly fewer executions than
    the old <= 2-node plan."""
    # retired round 16 (⊂ bigram_lm_quality) — the plan contract still
    # holds and still runs here, off the RETIRED surface
    a = audit(RETIRED_QUERIES["unigram_lm_quality"](spark, SF))
    assert a.exchanges() <= 3, f"LM scoring shuffle count grew:\n{a.plan}"
    assert a.broadcast_joins() >= 1, "vocabulary model must broadcast"
    assert a.shuffle_joins() == 0, "corpus-side shuffle join crept in"
    assert a.python_stages() == 0 and a.arrow_python_stages() == 0


def test_decontamination_probe_sides_broadcast(spark):
    """Decontamination's scale contract: the eval-set band keys and
    shingle sets arrive as broadcasts (two probe-side broadcast joins);
    the corpus never band-shuffles — total exchanges stay bounded by
    the candidate dedup, with the two declared Arrow kernel stages
    (corpus + probe fused signature passes, r17) and no other Python."""
    a = audit(QUERIES["decontamination_near_dup"](spark, SF))
    assert a.broadcast_joins() >= 2, f"probe sides must broadcast:\n{a.plan}"
    # every JOIN is broadcast — the corpus never shuffles to meet the
    # probes; remaining exchanges are the candidate-pair dedup and
    # probe-side (eval-set-sized) work. The corpus signature pass is
    # row-local since r17 (fused kernel), so its exchange is GONE.
    assert a.shuffle_joins() == 0, f"corpus shuffled to meet probes:\n{a.plan}"
    assert a.exchanges() <= 6, f"exchange budget regressed:\n{a.plan}"
    assert a.python_stages() == 0 and a.arrow_python_stages() == 2


def test_crossdoc_dup_blocks_shuffles_fingerprints_only(spark):
    """Only 8-byte block fingerprints shuffle: block carving is pure
    Catalyst (no exchange before the hash), the per-block distinct-doc
    count + join-back + per-doc rollup bound the exchanges, and no block
    TEXT column survives past the fingerprinting projection."""
    a = audit(QUERIES["crossdoc_dup_blocks"](spark, SF))
    assert a.exchanges() <= 4, f"fingerprint shuffle budget regressed:\n{a.plan}"
    assert a.python_stages() == 0 and a.arrow_python_stages() == 0
    import re

    post_hash = a.plan.split("xxhash64", 1)[-1]
    assert "chunk_text" not in re.sub(r"xxhash64\([^)]*\)", "", post_hash) or \
        "chunk_text" not in post_hash.split("Exchange", 1)[-1], \
        "block text crossed an exchange"


def test_date_partition_pruning_reads_only_matching_files(spark, tmp_path):
    """Hive-style date partitioning — the other write-time layout lever
    (bucketing co-locates joins; partitioning prunes scans). A
    day-filtered query over a day-partitioned table must (a) carry the
    predicate as a PartitionFilter, not a data filter, and (b) provably
    open only that day's files — asserted from the executed scan's
    numFiles metric, not the plan text."""
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark.plans.audit import executed_scan_stats
    from hazelcast_jet_contrib_spark.registry import table

    ev = table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(path)
    n_days = ev.select("day").distinct().count()
    assert n_days > 1, "fixture must span multiple days"

    part = spark.read.parquet(path)
    one_day = ev.select(F.min("day")).collect()[0][0]
    q = part.filter(F.col("day") == F.lit(one_day))
    rows = q.collect()

    a = audit(q)
    assert "PartitionFilters" in a.plan and str(one_day) in a.plan.split(
        "PushedFilters"
    )[0], f"day predicate must be a partition filter:\n{a.plan}"

    pruned = executed_scan_stats(q)
    full_df = part.select(F.count(F.lit(1)))
    full_df.collect()
    full = executed_scan_stats(full_df)
    assert pruned["files"] * n_days <= full["files"] * 2, (
        f"pruning read {pruned['files']} files vs {full['files']} total "
        f"across {n_days} days"
    )
    # ground truth: same rows as filtering the unpartitioned frame
    want = ev.filter(F.col("day") == F.lit(one_day)).count()
    assert len(rows) == want > 0


def test_temperature_resample_broadcasts_rates_no_corpus_shuffle(spark):
    """The per-group rates (a handful of rows) broadcast back; the
    corpus itself never shuffles — the only exchange is the group-count
    aggregation that REDUCES to the group domain."""
    a = audit(QUERIES["temperature_resample_by_lang"](spark, SF))
    assert a.broadcast_joins() >= 1, f"rates must broadcast:\n{a.plan}"
    assert a.shuffle_joins() == 0
    assert a.exchanges() <= 1, f"corpus shuffle crept in:\n{a.plan}"
    assert a.python_stages() == 0 and a.arrow_python_stages() == 0


def test_new_sketch_and_clustering_shuffle_budgets(spark):
    """Round-4 additions: Bloom build+probe is two small aggregations
    plus a broadcast join; CMS is the same in counter form; k-means
    must keep ASSIGN broadcast (no corpus shuffle per iteration beyond
    the argmin aggregate) and RECOMPUTE bounded. Budgets pinned at the
    observed plan shapes; growth means a broadcast was lost or a
    corpus-wide exchange crept in."""
    budgets = {
        "bloom_membership_filter": 5,
        "cms_user_frequency": 6,
        "kmeans_cluster_profile": 14,
        # 1 since r17: the six-way union re-scan collapsed to ONE scan +
        # an exploded variant array, and _spread's conditional round-robin
        # repartition fires on the 1-2-split local fixture (no-op on a
        # real many-split corpus) — the exchange trades 5 redundant
        # corpus scans for one local shuffle (measured 2.2 s -> 1.25 s)
        "gopher_quality_flags": 1,
        "hash_split_assignment": 2,
        "winnowing_fingerprints": 1,
        # retired r14 (window slot for mqtt_subscribe_spool_roundtrip)
        # but the shuffle-budget pin stays: retirement keeps the
        # implementation and every proof, it never deletes one
        "winnowing_shared_overlap": 6,
        "curriculum_quality_phases": 2,
        "semantic_dedup_pairs": 8,
    }
    for name, budget in budgets.items():
        fn = QUERIES.get(name) or RETIRED_QUERIES[name]
        a = audit(fn(spark, SF))
        assert a.exchanges() <= budget, (
            f"{name} shuffle count grew: {a.exchanges()} > {budget}"
        )
        assert a.python_stages() == 0, f"{name} must stay JVM-side"


def test_aqe_splits_planted_skew_join(spark):
    """100 TB posture check: a hot key owning ~90% of a fact table must
    be detected and split by AQE's skew-join handling, not serialized
    into one straggler task. Executes the join through its own adaptive
    plan and asserts the finalized plan carries SortMergeJoin(skew=true)
    with a skewed AQEShuffleRead on the fact side."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("payload_payload_payload_"), F.col("id").cast("string")).alias("p"),
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
        j = fact.join(dim, "k")
        plan = j._jdf.queryExecution().executedPlan()
        plan.executeCollect()  # finalize THIS adaptive plan, not a sibling QE
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in s
        assert "skew=true" in s, s
        assert "skewed" in s, s
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_dup_span_extraction_plan_budget(spark):
    """Exact-substring span dedup must stay pure Catalyst and linear:
    3 exchanges (two-phase distinct-doc count per shingle + the
    per-document island window) and NOT a 4th — the final (id, island)
    rollup must reuse the window's hash partitioning on id (subset
    rule). A 4th exchange means that reuse broke; any Python stage
    means the shingle path left codegen."""
    a = audit(QUERIES["dup_span_extraction"](spark, SF))
    assert a.exchanges() <= 3, f"dup_span exchange count grew: {a.exchanges()}"
    assert a.python_stages() == 0 and a.arrow_python_stages() == 0


def test_bm25_multi_term_union_is_broadcast_data_not_literals(spark):
    """VERDICT r17 item 8: bm25_topk_multi's term union must ride a
    one-row broadcast relation, NOT an F.array of up to 100k literals —
    a plan-size/codegen hazard at the cap (every optimizer rule re-walks
    a 100k-node expression tree). With the fix the terms are DATA: none
    of them may appear in the optimized plan."""
    from hazelcast_jet_contrib_spark.cache import release_tracked
    from hazelcast_jet_contrib_spark.operators.retrieval import bm25_topk_multi

    docs = spark.createDataFrame(
        [(i, f"xyzzy{i}x0 common xyzzy{i}x1 words") for i in range(20)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(i, [f"xyzzy{i}x{j}" for j in range(40)]) for i in range(50)],
        "query_id long, terms array<string>",
    )
    out = bm25_topk_multi(docs, queries, k=3)
    try:
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "xyzzy" not in plan, (
            "term union leaked into the plan as literals "
            f"(plan {len(plan)} chars)"
        )
        assert out.count() > 0  # and the plan still executes
    finally:
        release_tracked()
