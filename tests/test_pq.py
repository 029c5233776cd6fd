"""Product-quantization ANN tests: code determinism, the ADC scoring
contract (pure Catalyst over byte-codes — no Python per corpus row),
self-match sanity, and the recall gates with and without exact
re-ranking (the HLL ±tolerance pattern applied to ANN). PQ without
partition pruning is `build_ivf_index(pq_m=…)` + `ivf_pq_topk` probed
at nprobe = nlist: every cell is read, so the ADC pass scores the whole
corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.cache import release_tracked
from hazelcast_jet_contrib_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    ivf_pq_topk,
    train_pq_codebooks,
)
from hazelcast_jet_contrib_spark.registry import table
from tests.conftest import CORRECTNESS_SF

NLIST = 8


def _emb(spark):
    return table(spark, CORRECTNESS_SF, "embeddings")


def _pq_full_probe(spark, path, q, corpus, k, m=8, kcent=16, rerank=None):
    """PQ top-k over the whole corpus: an IVF-PQ index probed at
    nprobe = nlist, collected (the probed queries are released)."""
    build_ivf_index(corpus, path, nlist=NLIST, pq_m=m, pq_kcent=kcent)
    try:
        return ivf_pq_topk(spark, path, q, k=k, nprobe=NLIST, rerank=rerank).collect()
    finally:
        release_tracked()


def test_codebooks_shape_and_determinism(spark):
    emb = _emb(spark)
    b1 = train_pq_codebooks(emb, m=8, kcent=16)
    b2 = train_pq_codebooks(emb, m=8, kcent=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2), "training must be deterministic (seeded, hash-ordered sample)"
    with pytest.raises(ValueError):
        train_pq_codebooks(emb, m=7)  # 64 % 7 != 0


def test_encode_emits_valid_codes(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(emb, path, nlist=NLIST, pq_m=8, pq_kcent=16)
    enc = spark.read.parquet(path).select("cid", "codes").collect()
    assert len(enc) == 500
    for r in enc:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])


def test_planted_duplicate_ranks_first_with_rerank(spark, tmp_path):
    """A corpus row identical to the query must come back rank 1 after
    exact re-ranking (cos=1.0 beats everything)."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    dup = q.select((F.col("vec_id") + 9000).alias("vec_id"), "embedding", "label")
    corpus = emb.filter(F.col("vec_id") >= 10).unionByName(dup)
    out = _pq_full_probe(spark, str(tmp_path / "ivfpq"), q, corpus, k=3, rerank=50)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top1 == {i: i + 9000 for i in range(5)}, top1


def test_recall_gates_adc_and_rerank(spark, tmp_path):
    """Recall@5 vs exact brute force on the near-uniform synthetic
    embeddings — ANN's WORST case (no cluster structure, distances
    concentrate), so these floors are conservative; clustered real
    corpora land far higher. Measured sweep (this dataset): m=8/k=16
    ADC-only 0.22, m=8/k=128 0.48, m=16/k=64 0.70. Gates: the quality
    config (m=16, kcent=64 — 16x at-rest compression) must clear 0.5
    ADC-only; the cheap config (m=8, kcent=16 — 32x compression, 4-bit
    codes) must recover to 0.7 via a 50-deep exact re-rank, the
    production serving topology."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, c, k=5).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in _pq_full_probe(spark, str(tmp_path / "q"), q, c, k=5, m=16, kcent=64)
    }
    rr = {
        (r["query_id"], r["neighbor_id"])
        for r in _pq_full_probe(spark, str(tmp_path / "rr"), q, c, k=5, rerank=50)
    }
    recall_adc = len(truth & adc) / len(truth)
    recall_rr = len(truth & rr) / len(truth)
    assert recall_adc >= 0.5, f"quality-config ADC recall@5 too low: {recall_adc}"
    assert recall_rr >= 0.7, f"cheap-config re-ranked recall@5 too low: {recall_rr}"


def test_adc_scoring_is_pure_catalyst_and_corpus_never_shuffles(spark, tmp_path):
    """The scale contract: the two declared Arrow kernels (query cell
    probe, query LUT) are all the Python there is — ADC scoring and
    ranking run in codegen over the broadcast join; the corpus side
    joins without a shuffle."""
    from hazelcast_jet_contrib_spark.plans.audit import audit

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(c, path, nlist=NLIST, pq_m=8, pq_kcent=16)
    try:
        a = audit(ivf_pq_topk(spark, path, q, k=5, nprobe=NLIST))
    finally:
        release_tracked()
    assert a.python_stages() == 0, "row-at-a-time Python in the ADC path"
    assert a.arrow_python_stages() == 2, "exactly probe + LUT kernels"
    assert a.broadcast_joins() >= 1, "query/LUT side must broadcast"
    assert a.shuffle_joins() == 0, "corpus must never shuffle for the join"
    assert "CartesianProduct" not in a.plan


def test_empty_corpus_names_the_empty_training_sample(spark, tmp_path):
    """Every ANN trainer draws its sample through one function, which
    must fail with a named error on an empty corpus — not a numpy
    AxisError / IndexError from deep inside k-means."""
    from hazelcast_jet_contrib_spark.operators.similarity import ivf_topk

    emb = _emb(spark)
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        train_pq_codebooks(empty, m=8, kcent=16)
    with pytest.raises(ValueError, match="empty"):
        build_ivf_index(empty, str(tmp_path / "idx"), nlist=4)
    with pytest.raises(ValueError, match="empty"):
        ivf_topk(emb.filter(F.col("vec_id") < 3), empty, k=5, nlist=4)


def test_ivf_pq_index_probe_prunes_columns_and_partitions(spark, tmp_path):
    """The full IVF-PQ serving stack: build once (cells + codes +
    sidecars), probe with ADC reading ONLY (cid, codes) from the pruned
    cells — the vectors must be absent from the ADC scan's ReadSchema
    (parquet column pruning is the memory win) — then exact re-rank
    recovers recall using vectors for the shortlist alone."""
    import os

    from hazelcast_jet_contrib_spark.plans.audit import audit

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(c, path, nlist=8, pq_m=8, pq_kcent=16)
    assert os.path.exists(os.path.join(path, "_centroids.json"))
    assert os.path.exists(os.path.join(path, "_pq_codebooks.json"))

    try:
        # ADC-only probe: codes read, vectors NOT read
        adc_out = ivf_pq_topk(spark, path, q, k=5, nprobe=8)
        a = audit(adc_out)
        index_schemas = [s for s in a.read_schemas() if "codes" in s]
        assert index_schemas, f"no codes scan found: {a.read_schemas()}"
        assert all("cv" not in s for s in index_schemas), (
            f"ADC probe read the vectors: {index_schemas}"
        )
        assert a.python_stages() == 0

        # exact re-rank at full probe width: recall vs brute force
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(q, c, k=5).collect()
        }
        rr = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_pq_topk(spark, path, q, k=5, nprobe=8, rerank=50).collect()
        }
        recall = len(truth & rr) / len(truth)
        assert recall >= 0.7, f"IVF-PQ re-ranked recall@5 too low: {recall}"
        # a narrower probe still returns k results per query
        narrow = ivf_pq_topk(spark, path, q, k=5, nprobe=2, rerank=20)
        per_q = {r["query_id"] for r in narrow.collect() if r["rank"] == 1}
        assert len(per_q) == 10
    finally:
        release_tracked()


def test_rerank_smaller_than_k_rejected(spark, tmp_path):
    """ADVICE r07: the ADC shortlist caps at `rerank` rows per query,
    so rerank < k could never fill k neighbors — the PQ probe must
    reject it up front instead of silently under-returning."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, nlist=4, pq_m=8, pq_kcent=16)
    with pytest.raises(ValueError, match="rerank"):
        ivf_pq_topk(spark, path, q, k=10, nprobe=2, rerank=5)


def test_probe_of_pq_less_index_names_required_build(spark, tmp_path):
    """ADVICE r07: probing an index built WITHOUT pq_m must fail with
    an actionable error naming build_ivf_index(..., pq_m=...), not a
    bare FileNotFoundError on the sidecar."""
    emb = _emb(spark)
    path = str(tmp_path / "plain_idx")
    build_ivf_index(emb, path, nlist=4)  # no PQ layer
    with pytest.raises(ValueError, match="pq_m"):
        ivf_pq_topk(spark, path, emb.filter(F.col("vec_id") < 3), k=5)
