"""Scale rehearsal for the dedup family: measured evidence (not a
docstring claim) that MinHash-LSH work grows LINEARLY with corpus size.

All other dedup bench evidence is sf0.1 (~60 k docs). Here we generate a
synthetic corpus twice — at 1x and 8x — with an identical near-dup rate,
run the full `minhash_lsh_pairs` pipeline on both, and assert from the
executed plan's shuffle metrics (the SparkListener-bus accumulators) and
the band-bucket distribution that an 8x corpus costs ~8x, not 64x:

  * shuffled records grow ≤ 2·8x (and far below the 64x a quadratic
    candidate join would show),
  * the in-bucket join work Σ |bucket|·(|bucket|−1)/2 grows ≤ 2·8x,
  * the max band-bucket size stays O(duplicate-cluster size), scale-free,
  * the verified pair count is exactly the planted n/10 at both scales.

The corpus is generated with pure Catalyst expressions (xxhash64-driven
word choice), so the generator itself is scale-independent and
deterministic across runs; near-dups are planted by giving every 10th
doc the same word sequence as its predecessor plus one extra word
(Jaccard 28/29 ≈ 0.97 on 3-word shingles — solidly above the 0.6
threshold), while unrelated docs share shingles only by 64-bit hash
accident. Measured 1x/8x numbers are recorded in SCALE.md §dedup.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import (
    band_keys,
    hashed_shingle_sets,
    minhash_lsh_pairs,
    minhash_signatures,
)
from hazelcast_jet_contrib_spark.plans.audit import executed_shuffle_stats

N1 = 2_000  # 1x corpus size; 8x = 16_000
WORDS = 30  # words per document
VOCAB = 5_000  # word universe ("w0".."w4999")


def _write_corpus(spark, path: str, n_docs: int) -> None:
    """n_docs documents of WORDS hash-random words; every 10th document
    repeats its predecessor's words plus one unique extra word (a planted
    near-dup pair). Pure Catalyst — no driver-side text generation."""
    is_dup = (F.col("id") % 10) == 9
    src = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS - 1)),
        lambda p: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(src, p), F.lit(VOCAB)).cast("string")
        ),
    )
    text = F.concat_ws(" ", words)
    text = F.when(
        is_dup, F.concat(text, F.lit(" extra"), F.col("id").cast("string"))
    ).otherwise(text)
    (
        spark.range(n_docs)
        .select("id", text.alias("text"))
        .repartition(8)
        .write.mode("overwrite")
        .parquet(path)
    )


def _bucket_stats(spark, path: str) -> tuple[int, int]:
    """(max band-bucket size, Σ C(size,2)) of the LSH banding — the
    in-bucket candidate-join work the self-join actually performs."""
    df = spark.read.parquet(path)
    sig = minhash_signatures(hashed_shingle_sets(df, "id", "text", 3), 128)
    sizes = band_keys(sig, 128, 64).groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = sizes.agg(
        F.max("n").alias("maxb"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("work"),
    ).collect()[0]
    return int(row["maxb"]), int(row["work"])


def _run_scale(spark, path: str, n_docs: int) -> dict[str, int]:
    _write_corpus(spark, path, n_docs)
    df = spark.read.parquet(path)
    pairs = minhash_lsh_pairs(
        df, "id", "text", threshold=0.6, max_bucket_size=64
    )
    rows = pairs.collect()
    shuffles = executed_shuffle_stats(pairs)
    maxb, work = _bucket_stats(spark, path)
    spark.catalog.clearCache()  # drop the pipeline's internal persist()
    return {
        "n_docs": n_docs,
        "pairs": len(rows),
        "pair_set_ok": all(b == a + 1 and a % 10 == 8 for a, b in rows),
        "shuffle_records": shuffles["shuffle_records"],
        "shuffle_bytes": shuffles["shuffle_bytes"],
        "max_bucket": maxb,
        "join_work": work,
    }


@pytest.mark.slow
def test_minhash_lsh_scales_linearly(spark, tmp_path):
    # Disable auto-broadcast for the measurement: at 1x the per-id
    # aggregate fits under the broadcast threshold (the verify join
    # ships no shuffle) while at 8x it doesn't, so the two scales would
    # run different plan shapes and the ratio would measure the plan
    # change, not the growth law. At 100 TB nothing broadcasts — the
    # all-shuffle shape IS the one whose linearity matters.
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k, None) for k in keys]
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        s1 = _run_scale(spark, str(tmp_path / "c1"), N1)
        s8 = _run_scale(spark, str(tmp_path / "c8"), N1 * 8)
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    # correctness at both scales: exactly the planted pairs, nothing else
    assert s1["pairs"] == N1 // 10 and s1["pair_set_ok"]
    assert s8["pairs"] == N1 * 8 // 10 and s8["pair_set_ok"]

    # shuffle volume: linear in corpus size. A quadratic candidate join
    # would be ~64x; allow 2x slack over the ideal 8x for partial-agg
    # ratio drift between scales.
    rec_ratio = s8["shuffle_records"] / max(1, s1["shuffle_records"])
    assert 4 <= rec_ratio <= 16, f"shuffle records grew {rec_ratio:.1f}x for 8x docs"
    byte_ratio = s8["shuffle_bytes"] / max(1, s1["shuffle_bytes"])
    assert byte_ratio <= 16, f"shuffle bytes grew {byte_ratio:.1f}x for 8x docs"

    # in-bucket join work: Σ C(|bucket|,2) must scale with the planted
    # duplicate count (linear), and bucket sizes must stay cluster-sized
    # (≈2 for planted pairs), independent of corpus size.
    work_ratio = s8["join_work"] / max(1, s1["join_work"])
    assert work_ratio <= 16, f"candidate-join work grew {work_ratio:.1f}x for 8x docs"
    assert s8["max_bucket"] <= 4, f"band bucket of {s8['max_bucket']} docs at 8x"

    # executable record of the measured numbers (mirrored into SCALE.md)
    print(f"scale rehearsal: 1x={s1} 8x={s8}")


@pytest.mark.slow
def test_decontamination_corpus_cost_linear_probe_fixed(spark, tmp_path):
    """The asymmetric probe's growth law: with a FIXED eval set, an 8x
    corpus costs ~8x in what it reads and nothing more in what it
    shuffles — the corpus-side signature pass is row-local with no
    exchange (OPTIMIZATION_r17.md §16), so only the fixed probe side
    shuffles. A corpus-side exchange coming back grows the shuffle with
    the corpus and fails the second bound. The match count must stay
    exactly the planted overlap at both scales, because only planted
    probe copies clear the 0.6 threshold."""
    from hazelcast_jet_contrib_spark.operators.dedup import minhash_decontaminate

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k, None) for k in keys]
    # unlike the self-join rehearsal, the probe side is SUPPOSED to
    # broadcast — keep defaults so the asymmetric plan shape is the one
    # measured.
    results = {}
    try:
        for tag, n in (("c1", N1), ("c8", N1 * 8)):
            path = str(tmp_path / tag)
            _write_corpus(spark, path, n)
            corpus = spark.read.parquet(path)
            # probes: every 100th corpus doc verbatim (planted hits) — a
            # fixed-size eval set at both scales reads the SAME first
            # N1/100 docs so probe cost is constant by construction
            probes = (
                corpus.filter((F.col("id") % 100 == 0) & (F.col("id") < N1))
                .select((F.col("id") + 10_000_000).alias("id"), "text")
            )
            flagged = minhash_decontaminate(corpus, probes, "id", "text", 0.6)
            rows = flagged.collect()
            from hazelcast_jet_contrib_spark.plans.audit import (
                executed_scan_stats,
                executed_shuffle_stats,
            )

            stats = executed_shuffle_stats(flagged)
            scan = executed_scan_stats(flagged)
            spark.catalog.clearCache()
            results[tag] = {
                "rows": rows,
                "shuffle": stats["shuffle_records"],
                "scan_bytes": scan["bytes"],
            }
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    n_probes = N1 // 100
    # every probe is a verbatim copy of a corpus doc: J=1.0 hit. Its
    # planted near-dup twin (id%10==9 follows id%10==8... ids %100==0
    # are %10==0, no twin) — so exactly one hit per probe.
    for tag, expect_corpus in (("c1", N1), ("c8", N1 * 8)):
        hits = results[tag]["rows"]
        assert len(hits) == n_probes, (tag, len(hits))
        assert all(pid - 10_000_000 == cid for cid, pid, _ in hits)
    scan_ratio = results["c8"]["scan_bytes"] / max(1, results["c1"]["scan_bytes"])
    assert 4 <= scan_ratio <= 16, f"corpus scan grew {scan_ratio:.1f}x for 8x docs"
    ratio = results["c8"]["shuffle"] / max(1, results["c1"]["shuffle"])
    assert ratio <= 2, (
        f"shuffle grew {ratio:.1f}x for 8x docs: the corpus side is "
        f"transiting an exchange"
    )
    print(
        f"decontamination rehearsal: probes={n_probes} "
        f"1x_scan={results['c1']['scan_bytes']} 8x_scan={results['c8']['scan_bytes']} "
        f"scan_ratio={scan_ratio:.2f} "
        f"1x_shuffle={results['c1']['shuffle']} 8x_shuffle={results['c8']['shuffle']} "
        f"ratio={ratio:.2f}"
    )


# ---------------------------------------------------------------------------
# Vector family (VERDICT r04 item 4): semantic dedup + IVF top-k growth laws.
# ---------------------------------------------------------------------------

DIM = 16


def _write_embeddings(spark, path: str, n: int) -> None:
    """n deterministic hash-random vectors; every 10th is an EXACT copy
    of its predecessor (a planted semantic dup pair). Pure Catalyst."""
    src = F.when((F.col("id") % 10) == 9, F.col("id") - 1).otherwise(F.col("id"))
    v = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda p: (F.pmod(F.xxhash64(src, p), F.lit(1000)) / 500.0 - 1.0),
    )
    (
        spark.range(n)
        .select(F.col("id").alias("vec_id"), v.alias("embedding"))
        .repartition(8)
        .write.mode("overwrite")
        .parquet(path)
    )


def _cell_pair_work(spark, path: str, k: int) -> tuple[int, int]:
    """(max cell size, Σ C(|cell|,2)) of the k-means-cell bucketing —
    the within-cell candidate-join work semantic_dedup_pairs performs."""
    from hazelcast_jet_contrib_spark.operators.clustering import kmeans_assign

    from pyspark.sql import Window

    pts = spark.read.parquet(path).select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        pts.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).alias("cidx"),
            F.col("v").alias("c"),
        )
    )
    sizes = kmeans_assign(pts, cent).groupBy("cidx").agg(F.count(F.lit(1)).alias("n"))
    row = sizes.agg(
        F.max("n").alias("maxc"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("work"),
    ).collect()[0]
    return int(row["maxc"]), int(row["work"])


@pytest.mark.slow
def test_semantic_dedup_scales_linearly_with_cells_proportional(spark, tmp_path):
    """The 100 TB contract of semantic_dedup_pairs is 'within-cell joins
    only': with the cell count grown in proportion to the corpus
    (constant expected cell size — the knob a real deployment turns),
    an 8x corpus must cost ~8x candidate-join work and ~8x shuffle, not
    64x, while recall of planted exact duplicates stays 100%."""
    from hazelcast_jet_contrib_spark.operators.clustering import semantic_dedup_pairs

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k, None) for k in keys]
    for key in keys:
        spark.conf.set(key, "-1")
    results = {}
    try:
        for tag, n, k in (("c1", N1, 16), ("c8", N1 * 8, 128)):
            path = str(tmp_path / tag)
            _write_embeddings(spark, path, n)
            df = spark.read.parquet(path)
            pairs = semantic_dedup_pairs(df, "vec_id", "embedding", k=k, min_cosine=0.999)
            rows = pairs.collect()
            stats = executed_shuffle_stats(pairs)
            maxc, work = _cell_pair_work(spark, path, k)
            spark.catalog.clearCache()
            results[tag] = {
                "n": n,
                "pairs": rows,
                "shuffle": stats["shuffle_records"],
                "max_cell": maxc,
                "work": work,
            }
    finally:
        for key, v in zip(keys, saved):
            spark.conf.set(key, v) if v is not None else spark.conf.unset(key)

    # recall: exactly the planted duplicate pairs at both scales —
    # identical vectors always co-locate, and nothing coincidental
    # clears cos >= 0.999 in a 16-dim hash-random corpus
    for tag, n in (("c1", N1), ("c8", N1 * 8)):
        got = {(a, b) for a, b, _ in results[tag]["pairs"]}
        assert got == {(i - 1, i) for i in range(9, n, 10)}, tag

    work_ratio = results["c8"]["work"] / max(1, results["c1"]["work"])
    assert work_ratio <= 16, f"within-cell pair work grew {work_ratio:.1f}x for 8x docs"
    shuffle_ratio = results["c8"]["shuffle"] / max(1, results["c1"]["shuffle"])
    assert 4 <= shuffle_ratio <= 16, f"shuffle grew {shuffle_ratio:.1f}x for 8x docs"
    # cell sizes stay O(n/k) — the bucketing really is bounding the join
    assert results["c8"]["max_cell"] <= 8 * results["c1"]["max_cell"]
    print(
        "semantic dedup rehearsal: "
        f"1x(work={results['c1']['work']}, shuffle={results['c1']['shuffle']}, "
        f"max_cell={results['c1']['max_cell']}) "
        f"8x(work={results['c8']['work']}, shuffle={results['c8']['shuffle']}, "
        f"max_cell={results['c8']['max_cell']})"
    )


@pytest.mark.slow
def test_ivf_topk_corpus_cost_linear_queries_fixed(spark, tmp_path):
    """IVF's growth law: with a FIXED query set and fixed nlist/nprobe,
    an 8x corpus costs ~8x (each query exactly-scores only its nprobe
    cells, each ~n/nlist vectors). Recall sanity at both scales: every
    query is a verbatim corpus vector, so its rank-1 neighbor must be
    itself (cos=1 in its own home cell — immune to boundary effects)."""
    from hazelcast_jet_contrib_spark.operators.similarity import ivf_topk

    results = {}
    for tag, n in (("c1", N1), ("c8", N1 * 8)):
        path = str(tmp_path / tag)
        _write_embeddings(spark, path, n)
        corpus = spark.read.parquet(path)
        queries = corpus.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < N1))
        topk = ivf_topk(queries, corpus, k=5, nlist=16, nprobe=4)
        rows = topk.collect()
        stats = executed_shuffle_stats(topk)
        # candidate volume: same operator with the rank cutoff unbounded,
        # so the WindowGroupLimit pushdown prunes nothing and the
        # exchange carries every exactly-scored (query, candidate) row
        allc = ivf_topk(queries, corpus, k=10**9, nlist=16, nprobe=4)
        n_candidates = allc.count()
        spark.catalog.clearCache()
        results[tag] = {
            "rows": rows,
            "shuffle": stats["shuffle_records"],
            "candidates": n_candidates,
        }

    n_queries = N1 // 100
    for tag in ("c1", "c8"):
        rank1 = {r["query_id"]: r["neighbor_id"] for r in results[tag]["rows"] if r["rank"] == 1}
        assert len(rank1) == n_queries, tag
        assert all(q == nb for q, nb in rank1.items()), tag  # self is rank-1
    # exactly-scored candidates: ~nprobe/nlist of the corpus per query —
    # linear in corpus size at fixed queries/nlist/nprobe
    cand_ratio = results["c8"]["candidates"] / max(1, results["c1"]["candidates"])
    assert 4 <= cand_ratio <= 16, f"IVF candidates grew {cand_ratio:.1f}x for 8x corpus"
    # shuffle volume of the PRODUCTION top-k is better than linear: the
    # broadcast probe join never shuffles the corpus, and Spark's
    # WindowGroupLimit pushes rank<=k below the exchange, so what
    # shuffles is O(partitions x queries x k) — corpus-size-independent
    shuffle_ratio = results["c8"]["shuffle"] / max(1, results["c1"]["shuffle"])
    assert shuffle_ratio <= 2, f"top-k shuffle grew {shuffle_ratio:.1f}x for 8x corpus"
    print(
        f"ivf rehearsal: queries={n_queries} "
        f"1x(cand={results['c1']['candidates']}, shuffle={results['c1']['shuffle']}) "
        f"8x(cand={results['c8']['candidates']}, shuffle={results['c8']['shuffle']})"
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (operators.curation.duplicate_spans)
# ---------------------------------------------------------------------------


def _span_scale(spark, path: str, n_docs: int) -> dict[str, int]:
    from hazelcast_jet_contrib_spark.operators.curation import duplicate_spans

    _write_corpus(spark, path, n_docs)
    df = spark.read.parquet(path)
    spans = duplicate_spans(df, "id", "text", shingle_tokens=8, min_docs=2)
    rows = spans.collect()
    stats = executed_shuffle_stats(spans)
    # planted truth: each pair (i-1, i) with i%10==9 shares its full
    # 30-word sequence -> exactly one maximal [0, 29] span per member
    ok = all(
        (r["span_start"], r["span_end"], r["span_tokens"]) == (0, 29, 30)
        and (r["id"] % 10 == 9 or r["id"] % 10 == 8)
        for r in rows
    )
    return {
        "n_docs": n_docs,
        "spans": len(rows),
        "span_set_ok": ok,
        "shuffle_records": stats["shuffle_records"],
        "shuffle_bytes": stats["shuffle_bytes"],
    }


@pytest.mark.slow
def test_duplicate_spans_scale_linearly(spark, tmp_path):
    """8x corpus -> ~8x shuffled records for span extraction (shingle
    volume is linear in corpus tokens; the distinct-doc count and the
    per-doc island window shuffle only (id, pos, hash) rows), with
    planted-span recall exact at BOTH scales. A quadratic step anywhere
    (e.g. a shingle-text join instead of the hash join) would show as
    a 64x record blowup."""
    r1 = _span_scale(spark, str(tmp_path / "c1"), N1)
    r8 = _span_scale(spark, str(tmp_path / "c8"), N1 * 8)
    assert r1["span_set_ok"] and r8["span_set_ok"]
    # one span per member of each planted pair: 2 * n/10
    assert r1["spans"] == 2 * (N1 // 10)
    assert r8["spans"] == 2 * (N1 * 8 // 10)
    growth = r8["shuffle_records"] / max(r1["shuffle_records"], 1)
    assert growth <= 2 * 8, f"span-dedup shuffle grew {growth:.1f}x for 8x corpus"
    print(
        f"SPAN-SCALE 1x: {r1['shuffle_records']} rec "
        f"{r1['shuffle_bytes']//1000} KB; 8x: {r8['shuffle_records']} rec "
        f"{r8['shuffle_bytes']//1000} KB; growth {growth:.2f}x"
    )


# ---------------------------------------------------------------------------
# 64-bit hamming band probe join (operators.dedup.band_probe_pairs_64)
# ---------------------------------------------------------------------------


def _band_probe_scale(spark, n_left: int) -> dict[str, int]:
    from hazelcast_jet_contrib_spark.operators.dedup import band_probe_pairs_64

    # left: n random 64-bit signatures; right: every 5th left id with
    # <=3 bits flipped (positions derived from the id — deterministic)
    left = spark.range(n_left).select(
        F.col("id"), F.xxhash64("id").alias("sig")
    )
    flips = F.expr(
        "shiftleft(1L, cast(pmod(xxhash64(id, 1), 64) as int)) | "
        "shiftleft(1L, cast(pmod(xxhash64(id, 2), 64) as int))"
    )
    right = left.filter(F.col("id") % 5 == 0).select(
        (F.col("id") + 10_000_000).alias("id"),
        F.col("sig").bitwiseXOR(flips).alias("sig"),
    )
    # disable auto-broadcast so both scales run the 100 TB all-shuffle
    # plan shape (at real scale the probe side exceeds any broadcast
    # threshold); restore afterwards
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = band_probe_pairs_64(left, right, max_hamming=3, bands=4)
        rows = pairs.collect()
        stats = executed_shuffle_stats(pairs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # accidental <=3-hamming pairs between random 64-bit signatures are
    # possible (and fine); recall is asserted on the PLANTED subset
    planted = sum(1 for a, b, _h in rows if b == a + 10_000_000 and a % 5 == 0)
    return {
        "n": n_left,
        "pairs": len(rows),
        "planted_found": planted,
        "shuffle_records": stats["shuffle_records"],
    }


@pytest.mark.slow
def test_band_probe_pairs_scale_linearly(spark, tmp_path):
    """8x corpus + 8x probe side -> ~8x shuffled records for the
    hamming band join (only (id, sig, 16-bit band) rows move; buckets
    are 65536-way so in-bucket work grows linearly), with 100% planted
    recall at both scales — pigeonhole over 4 bands is exact for
    hamming <= 3. A signature-side cross join would show 64x."""
    r1 = _band_probe_scale(spark, 20_000)
    r8 = _band_probe_scale(spark, 160_000)
    # exact recall of every planted pair (1-2 flipped bits < 4 bands)
    assert r1["planted_found"] == 20_000 // 5
    assert r8["planted_found"] == 160_000 // 5
    growth = r8["shuffle_records"] / max(r1["shuffle_records"], 1)
    assert growth <= 2 * 8, f"band probe shuffle grew {growth:.1f}x for 8x input"
    print(
        f"BAND-PROBE 1x: {r1['shuffle_records']} rec ({r1['pairs']} pairs); "
        f"8x: {r8['shuffle_records']} rec ({r8['pairs']} pairs); growth {growth:.2f}x"
    )


def test_pq_topk_shuffle_is_corpus_size_independent(spark, tmp_path):
    """PQ's growth law (round 7): the ADC pass is a broadcast join over
    the code relation — the corpus never shuffles, and WindowGroupLimit
    keeps the exchange at O(partitions x queries x k) regardless of
    corpus size. 8x corpus => ~1x shuffle records; and the codes are
    what scans, not the vectors. PQ over the whole corpus is an IVF-PQ
    index probed at nprobe = nlist. Self-recall sanity at both scales
    with a 50-deep exact re-rank: every query is a verbatim corpus
    vector and must come back rank 1."""
    from hazelcast_jet_contrib_spark.cache import release_tracked
    from hazelcast_jet_contrib_spark.operators.similarity import (
        build_ivf_index,
        ivf_pq_topk,
    )

    results = {}
    for tag, n in (("c1", N1), ("c8", N1 * 8)):
        path = str(tmp_path / tag)
        _write_embeddings(spark, path, n)
        corpus = spark.read.parquet(path)
        queries = corpus.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < N1))
        index = str(tmp_path / f"{tag}_ivfpq")
        build_ivf_index(corpus, index, nlist=8, pq_m=8, pq_kcent=16)
        topk = ivf_pq_topk(spark, index, queries, k=5, nprobe=8, rerank=50)
        rows = topk.collect()
        stats = executed_shuffle_stats(topk)
        release_tracked()
        spark.catalog.clearCache()
        results[tag] = {"rows": rows, "shuffle": stats["shuffle_records"]}

    n_queries = N1 // 100
    for tag in ("c1", "c8"):
        rank1 = {
            r["query_id"]: r["neighbor_id"]
            for r in results[tag]["rows"]
            if r["rank"] == 1
        }
        assert len(rank1) == n_queries, tag
        assert all(q == nb for q, nb in rank1.items()), (
            f"{tag}: PQ+rerank lost a verbatim self-match"
        )
    shuffle_ratio = results["c8"]["shuffle"] / max(1, results["c1"]["shuffle"])
    assert shuffle_ratio <= 2, (
        f"PQ top-k shuffle grew {shuffle_ratio:.1f}x for 8x corpus"
    )
    print(
        f"pq rehearsal: queries={n_queries} "
        f"1x shuffle={results['c1']['shuffle']} "
        f"8x shuffle={results['c8']['shuffle']} (ratio {shuffle_ratio:.2f})"
    )


@pytest.mark.slow
def test_lsh_banded_relation_shuffles_once_not_per_join_side(spark, tmp_path):
    """The LSH candidate self-join reads the (id, band, bh) relation
    cached PRE-PARTITIONED on the bucket key (dedup.py round 13), so
    under the at-scale join shape (broadcast disabled) BOTH join sides
    satisfy their clustering from the same cache: the banded relation
    transits the shuffle ONCE at build instead of once per join side.
    Measured live (cache-build exchanges excluded): pre-change this
    corpus shuffled ~155k records over 5 exchanges per run; the cached
    layout shuffles ~4k over 3. The bound asserts the banded relation's
    |id x bands| rows (2 sides' worth) stay out of the live shuffle."""
    from hazelcast_jet_contrib_spark.operators.dedup import minhash_lsh_pairs
    from hazelcast_jet_contrib_spark.plans.audit import executed_shuffle_stats

    n, bands = 2_000, 32
    path = str(tmp_path / "lsh_nobc_docs")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(30)),
        lambda p: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("doc_id"), p), F.lit(300)).cast("string"),
        ),
    )
    base = spark.range(n).select(F.col("id").alias("doc_id")).select(
        "doc_id", F.concat_ws(" ", words).alias("text")
    )
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
    )
    docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    n_docs = docs.count()
    banded_rows = 2 * n_docs * bands  # what the two join sides would ship

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
        pairs = minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.6, num_hashes=64, bands=bands
        )
        rows = pairs.collect()
        live = executed_shuffle_stats(pairs, include_cached=False)
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

    assert len(rows) == n // 5, "planted near-dups must all surface"
    assert live["shuffle_records"] < banded_rows // 4, (
        f"live shuffle {live['shuffle_records']} records vs {banded_rows} "
        f"banded join-side rows: the banded relation is transiting the "
        f"candidate join's shuffle"
    )
    print(
        f"LSH-NOBC docs={n_docs} banded_side_rows={banded_rows} "
        f"live={live['shuffle_records']} rec/{live['exchanges']} exch"
    )


@pytest.mark.slow
def test_simhash128_prepartition_bands_shuffles_once_not_per_join_side(
    spark, tmp_path
):
    """simhash128_pairs' only path since round 14 (staged r13, flipped
    at the registry call sites inside the r14 re-prove window, the
    option later removed) caches the banded relation hash-partitioned
    on the bucket key, so under the at-scale join shape (broadcast
    disabled) the candidate self-join satisfies both sides from the
    same cache — the banded |id x bands| rows transit the shuffle once
    at build instead of once per join side. The pair values are pinned
    against brute force by
    test_dedup_similarity.py::test_simhash128_recall_matches_brute_force."""
    from hazelcast_jet_contrib_spark.operators.dedup import simhash128_pairs
    from hazelcast_jet_contrib_spark.plans.audit import executed_shuffle_stats

    n, bands = 2_000, 4
    path = str(tmp_path / "sh128_nobc_docs")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(30)),
        lambda p: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("doc_id"), p), F.lit(300)).cast("string"),
        ),
    )
    base = spark.range(n).select(F.col("id").alias("doc_id")).select(
        "doc_id", F.concat_ws(" ", words).alias("text")
    )
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
    )
    docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    n_docs = docs.count()
    banded_rows = 2 * n_docs * bands

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
        pre = simhash128_pairs(docs, "doc_id", "text", max_hamming=3, bands=bands)
        pre_rows = pre.collect()
        live = executed_shuffle_stats(pre, include_cached=False)
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

    assert pre_rows, "planted near-dups must surface"
    assert live["shuffle_records"] < banded_rows // 4, (
        f"live shuffle {live['shuffle_records']} records vs {banded_rows} "
        f"banded join-side rows: the banded relation is transiting the "
        f"candidate join's shuffle"
    )
    print(
        f"SIMHASH128-NOBC docs={n_docs} banded_side_rows={banded_rows} "
        f"live={live['shuffle_records']} rec/{live['exchanges']} exch"
    )


@pytest.mark.slow
def test_semantic_dedup_cells_shuffle_once_not_per_join_side(spark, tmp_path):
    """semantic_dedup_pairs caches the assigned-cell relation
    hash-partitioned on cidx, so under the at-scale join shape
    (broadcast disabled) the in-cell pair join satisfies BOTH sides
    from the same cache — the |N|-row vector relation (plus the argmin
    assignment that produced it) runs and transits the shuffle ONCE at
    build instead of once per join side."""
    from hazelcast_jet_contrib_spark.operators.clustering import semantic_dedup_pairs
    from hazelcast_jet_contrib_spark.plans.audit import executed_shuffle_stats

    n, k = 2_000, 16
    path = str(tmp_path / "semdedup_nobc")
    _write_embeddings(spark, path, n)
    df = spark.read.parquet(path)

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(kk, None) for kk in keys]
    try:
        for kk in keys:
            spark.conf.set(kk, "-1")
        pre = semantic_dedup_pairs(df, "vec_id", "embedding", k=k, min_cosine=0.999)
        pre_rows = pre.collect()
        live = executed_shuffle_stats(pre, include_cached=False)
    finally:
        for kk, v in zip(keys, saved):
            spark.conf.set(kk, v) if v is not None else spark.conf.unset(kk)
        from hazelcast_jet_contrib_spark.cache import release_tracked

        release_tracked()
        spark.catalog.clearCache()

    assert pre_rows, "planted exact-dup pairs must surface"
    # the two join sides would ship 2n (cidx, id, v, nrm) rows; live
    # (cache-build-excluded) shuffle must stay well under that — only
    # the found pairs and bounded aggregates may transit
    assert live["shuffle_records"] < n // 2, (
        f"live shuffle {live['shuffle_records']} records vs {2 * n} "
        f"cell join-side rows: the cell relation is transiting the "
        f"pair join's shuffle"
    )
    print(
        f"SEMDEDUP-NOBC n={n} cell_side_rows={2 * n} "
        f"live={live['shuffle_records']} rec/{live['exchanges']} exch"
    )


@pytest.mark.slow
def test_crossdoc_blocks_relation_shuffles_once_per_consumer(spark, tmp_path):
    """The block-fingerprint relation feeds two consumers (the
    per-block distinct-doc count and the join back). It is cached, so
    the tokenize/chunk/fingerprint kernel runs once; the cache is not
    laid out on bh, so under the at-scale join shape (broadcast
    disabled) each consumer shuffles the cached relation exactly once.
    The record bound is derived from the plan's exchanges: the live
    plan has exactly four — the count's (bh, id) distinct stage and its
    (bh) merge, the join's block side, and the per-doc rollup — and
    every relation feeding one of them is at most one row per block, so
    no exchange may carry more than ``n_blocks`` records. Measured on
    the 2,000-doc corpus (4,000 blocks): 4,000 + 3,800 + 4,000 + 2,000
    = 13,800 live records, under the 16,000 bound."""
    from hazelcast_jet_contrib_spark.operators.curation import (
        crossdoc_duplicate_blocks,
    )
    from hazelcast_jet_contrib_spark.plans.audit import (
        _sql_metrics,
        _walk_executed_plan,
        executed_scan_stats,
    )

    n = 2_000
    path = str(tmp_path / "xdoc_nobc")
    _write_corpus(spark, path, n)
    df = spark.read.parquet(path)
    n_blocks = 2 * n  # 30-word docs / 20-token blocks -> 2 blocks per doc

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(kk, None) for kk in keys]
    live: list[int] = []

    def visit(cname, node, in_cached):
        if "ShuffleExchange" in cname and not in_cached:
            live.append(int(_sql_metrics(node).get("shuffleRecordsWritten", 0)))

    try:
        for kk in keys:
            spark.conf.set(kk, "-1")
        prof = crossdoc_duplicate_blocks(df, "id", "text", block_tokens=20)
        rows = prof.collect()
        _walk_executed_plan(prof, visit)
        scans = executed_scan_stats(prof)["scans"]
    finally:
        for kk, v in zip(keys, saved):
            spark.conf.set(kk, v) if v is not None else spark.conf.unset(kk)
        from hazelcast_jet_contrib_spark.cache import release_tracked

        release_tracked()
        spark.catalog.clearCache()

    assert len(rows) == n
    # planted near-dups (every 10th doc repeats its predecessor) share
    # their FIRST 20-token block verbatim -> dup_ratio > 0 for both
    dup_docs = {r["id"] for r in rows if r["dup_blocks"] > 0}
    assert {8, 9} <= {d % 10 for d in dup_docs}
    # the kernel runs once: both consumers read the one cached build
    assert scans == 1, f"{scans} corpus scans: the block kernel runs per consumer"
    assert len(live) == 4, f"live exchanges {live}: expected 4"
    assert max(live) <= n_blocks, (
        f"live exchanges {live} vs {n_blocks} block rows: an exchange "
        f"carries more than the block relation"
    )
    print(
        f"XDOC-NOBC docs={n} block_rows={n_blocks} "
        f"live={sum(live)} rec/{len(live)} exch ({live})"
    )
