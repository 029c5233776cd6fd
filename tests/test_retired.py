"""Retired-query gate (REGISTRY-SIZE POLICY rule a, registry.py):
every retired query keeps running the EXACT driver comparison (row
count + schema + normalized value multiset vs its DuckDB oracle) in
pytest, each round, at the driver's correctness SF — retirement moves
the proof from the driver window to this file. A retired query leaves
only when it is deleted together with the code only it still ran.
"""

from __future__ import annotations

import pytest

from hazelcast_jet_contrib_spark.registry import (
    QUERIES,
    RETIRED_ORACLES,
    RETIRED_QUERIES,
    RETIRED_REASONS,
)
from tests.conftest import compare_with_oracle

EXPECTED_RETIRED = {
    "media_phash_dup_groups",
    "hll_events_users_accuracy",
    "ivf_cosine_topk",
    "rollup_order_status",
    "q6_forecast_revenue",
    "top10_parts_by_price",
    "media_image_resize",
    # round-9 retirements (ROUND9_PLAN.md)
    "ivf_index_probe_topk",
    "ann_cosine_topk",
    "embedding_near_dup",
    "dup_span_removal",
    "ngram_jaccard_pairs",
    "fingerprint_dedup",
    "text_stats",
    "stratified_sample_by_lang",
    # round-10 retirements (ROUND10_PLAN.md)
    "media_image_features",
    "q14_promo_effect",
    "parts_never_bulk_ordered",
    # round-14 retirements (ROUND14_PLAN.md / ROUND13_PLAN.md §Round-14)
    "minhash_index_probe",
    "winnowing_shared_overlap",
    # round-15 retirement (ROUND15_PLAN.md §Window)
    "bm25_topk_multi_docs",
    # round-16 retirements (ROUND16_PLAN.md: cap slots for the two
    # red-row re-proofs + the SSE sink row)
    "unigram_lm_quality",
    "hash64_distinct_customers",
    # round-17 retirements (ROUND17_PLAN.md: window demand was 51 after
    # the three r16 oracle-fix re-proofs; the second subsumption funded
    # the stream_sink_2pc_roundtrip registration)
    "ngram_vocab_top100",
    "rolling_running_total",
}


def test_retired_set_is_exactly_the_documented_one():
    assert set(RETIRED_QUERIES) == EXPECTED_RETIRED
    assert set(RETIRED_ORACLES) == EXPECTED_RETIRED, "every retired query keeps its oracle"
    # disjoint from the live registry, and every reason names the
    # subsuming live query
    assert not set(RETIRED_QUERIES) & set(QUERIES)
    for name, reason in RETIRED_REASONS.items():
        assert reason, f"{name}: retirement must document its subsuming query"
        assert any(live in reason for live in QUERIES), (
            f"{name}: reason must name a live registry query: {reason}"
        )


@pytest.mark.parametrize("name", sorted(EXPECTED_RETIRED))
def test_retired_query_still_matches_oracle(spark, name):
    compare_with_oracle(
        spark, name, queries=RETIRED_QUERIES, oracles=RETIRED_ORACLES
    )
