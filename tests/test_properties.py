"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just the fixtures — a dimension the reference's test suite
doesn't have (it is integration-only, SURVEY.md §5). Spark jobs are
slow per example, so examples are capped and data is driven through
one shared SparkSession."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import dedup_exact
from hazelcast_jet_contrib_spark.operators.skew import salted_join

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=20
)


@given(texts)
@_settings
def test_dedup_exact_total_and_deterministic(spark, docs):
    """For any corpus: output has exactly one row per distinct text, the
    kept id is the minimum for that text, and no text is lost."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = dedup_exact(df, subset=["text"], order_by=["doc_id"]).collect()
    by_text = {}
    for i, t in enumerate(docs):
        by_text.setdefault(t, i)
    assert {(r["doc_id"], r["text"]) for r in out} == {
        (i, t) for t, i in by_text.items()
    }


@given(
    st.lists(st.tuples(st.sampled_from("abc"), st.integers(0, 99)),
             min_size=0, max_size=25),
    st.lists(st.tuples(st.sampled_from("abcd"), st.sampled_from("XY")),
             min_size=0, max_size=8),
)
@_settings
def test_salted_join_equals_plain_join(spark, left_rows, right_rows):
    """salted_join must equal the plain join as a multiset for ANY
    input, including empty sides and keys present on only one side."""
    left = spark.createDataFrame(left_rows, "k string, lv long") if left_rows else (
        spark.createDataFrame([], "k string, lv long")
    )
    right = spark.createDataFrame(right_rows, "k string, rv string") if right_rows else (
        spark.createDataFrame([], "k string, rv string")
    )
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "k", salt=4).collect()))
    assert plain == salted


@given(st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=50))
@_settings
def test_hll_estimate_bounded_error(spark, values):
    """approx_count_distinct at precision 14 on small-n inputs must be
    exact-ish: |est - true| <= max(1, 5% of true) for any value set
    (HLL++ uses exact sparse counting far below 2^14 registers)."""
    from hazelcast_jet_contrib_spark.functions.probabilistic import hyper_log_log

    df = spark.createDataFrame([(v,) for v in values], "v long")
    est = df.agg(hyper_log_log("v", precision=14).alias("e")).collect()[0]["e"]
    true = len(set(values))
    assert abs(est - true) <= max(1, int(0.05 * true))


def _py_word_shingles(t: str, n: int) -> set[str]:
    """Distinct word n-grams of ``t`` under the engine's tokenization
    (lower(trim(text)) split on whitespace runs)."""
    toks = t.strip().lower().split()
    toks = toks if t.strip() else [""]  # split('\s+') on '' yields ['']
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


@given(texts)
@_settings
def test_word_shingles_match_python_reference(spark, docs):
    """The Catalyst shingle expression must agree with a direct Python
    reimplementation for any text (incl. empty/whitespace-only)."""
    from hazelcast_jet_contrib_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select("doc_id", word_shingles("text", 2).alias("sh")).collect()
    }
    for i, t in enumerate(docs):
        expect = sorted(_py_word_shingles(t, 2))
        assert got[i] == expect, (t, got[i], expect)


@given(texts, st.data())
@_settings
def test_jaccard_pairs_match_python_reference(spark, docs, data):
    """jaccard_pairs must return exactly the id pairs whose distinct
    word-2-gram sets have Jaccard >= threshold, for any corpus. Every
    corpus also carries fixed empty, whitespace-only, sub-width (no
    shingle: never paired) and duplicate-shingle documents ("a a a" vs
    "a a a b" is 1/2 on distinct sets, more on shingle multisets). The
    threshold is drawn from the corpus's own positive Jaccard values,
    so some pair always sits exactly on the boundary."""
    from hazelcast_jet_contrib_spark.operators.dedup import jaccard_pairs

    docs = ["", "   ", "a", "a a", "a a a", "a a a b", *docs]
    sets = {i: _py_word_shingles(t, 2) for i, t in enumerate(docs)}
    jac = {}
    for i, a in sets.items():
        for j, b in sets.items():
            inter = len(a & b)
            if i < j and inter:
                jac[(i, j)] = inter / (len(a) + len(b) - inter)
    threshold = data.draw(st.sampled_from(sorted(set(jac.values()))))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            df, "doc_id", "text", threshold=threshold, shingle_words=2
        ).collect()
    }
    assert got == {p for p, v in jac.items() if v >= threshold}, (docs, threshold)


@given(
    st.lists(st.integers(1, 200), min_size=1, max_size=6),
    st.integers(2, 12),
    st.integers(1, 12),
)
@_settings
def test_chunking_covers_every_token_exactly(spark, doc_lens, chunk, stride):
    """For ANY document lengths and any (chunk_tokens, stride <=
    chunk_tokens): chunk 0 starts at token 0; consecutive chunks start
    exactly stride apart; every token of every document appears in at
    least one chunk; full chunks are exactly chunk_tokens long; and
    reassembling stride-aligned prefixes reproduces the document."""
    from hazelcast_jet_contrib_spark.operators.curation import chunk_documents

    stride = min(stride, chunk)
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(doc_lens)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=chunk, stride=stride)
    got: dict[int, dict[int, list[str]]] = {}
    for r in out.collect():
        got.setdefault(r["id"], {})[r["chunk_idx"]] = r["chunk_text"].split()
    for i, n in enumerate(doc_lens):
        chunks = got[i]
        assert set(chunks) == set(range(len(chunks)))  # contiguous idx
        covered = set()
        for idx, toks in chunks.items():
            assert toks == [f"t{i}_{j}" for j in range(idx * stride,
                                                       min(idx * stride + chunk, n))]
            covered.update(range(idx * stride, idx * stride + len(toks)))
        assert covered == set(range(n)), f"doc {i}: token gap"


@given(texts)
@_settings
def test_crossdoc_blocks_invariants(spark, docs):
    """For any corpus: every doc appears exactly once; dup_blocks <=
    n_blocks; dup_ratio == dup_blocks / n_blocks (up to rounding); and
    duplication is symmetric — a block flagged in one doc implies some
    OTHER doc contains the same block text (verified against a Python
    reference on the same disjoint-block carving)."""
    from hazelcast_jet_contrib_spark.operators.curation import (
        crossdoc_duplicate_blocks,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = {r["id"]: r for r in crossdoc_duplicate_blocks(
        df, "doc_id", "text", block_tokens=3
    ).collect()}
    assert set(out) == set(range(len(docs)))

    # python reference: same whitespace carving, disjoint 3-token blocks
    def blocks(t):
        toks = t.strip().split()
        if not toks:
            toks = [""]  # F.split("") yields [""] — one empty block
        return [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]

    per_doc = {i: blocks(t) for i, t in enumerate(docs)}
    owners = {}
    for i, bs in per_doc.items():
        for b in bs:
            owners.setdefault(b, set()).add(i)
    for i, bs in per_doc.items():
        r = out[i]
        want_dup = sum(1 for b in bs if len(owners[b]) > 1)
        assert r["n_blocks"] == len(bs)
        assert r["dup_blocks"] == want_dup
        assert abs(r["dup_ratio"] - round(want_dup / len(bs), 6)) < 1e-9


@given(texts, st.integers(1, 3))
@_settings
def test_unigram_lm_probability_mass_and_support(spark, docs, alpha_thirds):
    """For any corpus: every doc with at least one token is scored;
    token counts are exact; and the smoothed model is a proper
    sub-distribution (Σ p(tok) <= 1 over the observed vocabulary, the
    deficit being the smoothing mass reserved implicitly)."""
    from hazelcast_jet_contrib_spark.operators.curation import unigram_lm_score

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = unigram_lm_score(df, "doc_id", "text", alpha=alpha_thirds / 3.0).collect()
    import re

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    expect = {i: len(toks(t)) for i, t in enumerate(docs) if toks(t)}
    got = {r["id"]: r for r in out}
    assert {i for i in got} == set(expect)
    for i, n in expect.items():
        assert got[i]["n_tokens"] == n
        # a single-token vocabulary gives p = (c+α)/(n+αv) = 1 exactly,
        # so 0 bits is attainable — the bound is >= 0, not > 0
        assert got[i]["bits_per_token"] >= 0
        assert got[i]["mean_inv_p"] >= 1.0  # every p <= 1


key_sets = st.lists(
    st.integers(min_value=0, max_value=10**12), min_size=1, max_size=60, unique=True
)


@given(key_sets, key_sets)
@_settings
def test_bloom_membership_properties(spark, members, probes):
    """For ANY member set and probe set: every member probes positive
    (no false negatives, the Bloom contract), and with a spacious
    bitmap relative to these tiny sets, any false positive is at least
    never a member misclassified — i.e. probe verdicts partition
    consistently."""
    from hazelcast_jet_contrib_spark.functions.sketches import bloom_build, bloom_probe

    mdf = spark.createDataFrame([(k,) for k in members], "k long")
    bitmap = bloom_build(mdf, "k", m_bits=1 << 14, k=5)
    # all members positive
    got = bloom_probe(mdf, "k", bitmap, m_bits=1 << 14, k=5)
    assert got.filter(~F.col("bloom_member")).count() == 0
    # probes: any key also in members must be positive
    pdf = spark.createDataFrame([(k,) for k in probes], "k long")
    res = {
        r["k"]: r["bloom_member"]
        for r in bloom_probe(pdf, "k", bitmap, m_bits=1 << 14, k=5).collect()
    }
    for k in probes:
        if k in set(members):
            assert res[k] is True


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=120)
)
@_settings
def test_cms_point_estimates_never_undercount(spark, keys):
    """For ANY multiset of keys and a deliberately tiny grid (w=8, d=2,
    guaranteed collisions): est(k) >= true_count(k) for every key, and
    the total of any counter row equals the input size (mass
    conservation per hash row)."""
    from hazelcast_jet_contrib_spark.functions.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sketch = cms_build(df, "k", w=8, d=2)
    # mass conservation: each of the d rows holds every increment once
    per_row = {r["i"]: r["s"] for r in sketch.groupBy("i").agg(F.sum("cnt").alias("s")).collect()}
    assert per_row == {0: len(keys), 1: len(keys)}
    est = cms_estimate(df.distinct(), "k", sketch, w=8, d=2)
    import collections

    true = collections.Counter(keys)
    for r in est.collect():
        assert r["est"] >= true[r["k"]], (r["k"], r["est"], true[r["k"]])


@given(
    st.lists(
        st.text(alphabet="abcd fgh", min_size=10, max_size=80), min_size=1, max_size=8
    )
)
@_settings
def test_winnowing_coverage_guarantee(spark, docs):
    """For ANY corpus: (a) every complete window of w consecutive
    k-grams contains a selected fingerprint position (the winnowing
    guarantee that makes >= w+k-1-word overlaps detectable), and
    (b) a doc with at least one k-gram always keeps >= 1 fingerprint."""
    from hazelcast_jet_contrib_spark.operators.dedup import winnowing_fingerprints

    K, W = 3, 3
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    sel = winnowing_fingerprints(df, "id", "text", k=K, w=W)
    by_doc: dict[int, set[int]] = {}
    for r in sel.collect():
        by_doc.setdefault(r["id"], set()).add(r["fp_pos"])
    for i, d in enumerate(docs):
        toks = d.strip().lower().split()
        n_kg = max(0, len(toks) - K + 1)
        if n_kg == 0:
            assert i not in by_doc
            continue
        assert by_doc.get(i), f"doc {i} with {n_kg} kgrams kept no fingerprint"
        for s in range(0, max(n_kg - W, 0) + 1):
            window = set(range(s, min(s + W, n_kg)))
            assert window & by_doc[i], (
                f"window [{s},{s + W}) of doc {i} has no fingerprint: {by_doc[i]}"
            )


def _ref_duplicate_spans(docs, k, min_docs):
    """Pure-Python reference for duplicate_spans: shingle occurrence
    sets -> duplicated positions -> maximal consecutive runs."""
    toks = {i: t.split() for i, t in docs}
    occ: dict[tuple, set] = {}
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            occ.setdefault(tuple(ts[p : p + k]), set()).add(i)
    expect = set()
    for i, ts in toks.items():
        dup = sorted(
            p
            for p in range(len(ts) - k + 1)
            if len(occ[tuple(ts[p : p + k])]) >= min_docs
        )
        runs: list[list[int]] = []
        for p in dup:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for s, e in runs:
            expect.add((i, s, e + k - 1, e - s + k))
    return expect


@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    )
)
@_settings
def test_duplicate_spans_match_python_reference(spark, token_lists):
    """For ANY corpus (tiny vocab forces heavy shingle sharing):
    duplicate_spans(k=2) returns exactly the maximal runs of positions
    whose 2-shingle occurs in >= 2 distinct documents — byte-for-byte
    the pure-Python reference, including empty docs, all-identical
    docs, and single-token docs (no shingles)."""
    from hazelcast_jet_contrib_spark.operators.curation import duplicate_spans

    docs = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = duplicate_spans(df, "doc_id", "text", shingle_tokens=2, min_docs=2)
    got = {
        (r["id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in out.collect()
    }
    assert got == _ref_duplicate_spans(docs, 2, 2)


@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=10),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_remove_spans_complements_duplicate_spans(spark, token_lists):
    """For ANY corpus: remove_spans keeps exactly the tokens outside
    the union of duplicate_spans intervals, in original order, and
    kept + removed == doc token count."""
    from hazelcast_jet_contrib_spark.operators.curation import (
        duplicate_spans,
        remove_spans,
    )

    docs = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = duplicate_spans(df, "doc_id", "text", shingle_tokens=2, min_docs=2)
    expect_spans = _ref_duplicate_spans(docs, 2, 2)
    out = {
        r["id"]: (r["cleaned_text"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in remove_spans(df, spans, "doc_id", "text").collect()
    }
    for i, ts in enumerate(token_lists):
        covered = set()
        for sid, s, e, _n in expect_spans:
            if sid == i:
                covered.update(range(s, e + 1))
        kept = [t for p, t in enumerate(ts) if p not in covered]
        # empty doc: split(trim('')) yields [''] in Spark — one token
        n_toks = len(ts) if ts else 1
        expect_kept = " ".join(kept) if ts else ""
        got = out[i]
        assert got[0] == expect_kept, (i, got, kept)
        assert got[1] + got[2] == n_toks, (i, got, n_toks)
        assert got[2] == len(covered), (i, got, covered)


@given(
    st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=16),
        min_size=1,
        max_size=12,
    ),
    st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=1, max_size=3, unique=True),
)
@_settings
def test_bm25_doc_order_invariant_and_match_complete(spark, docs, terms):
    """For ANY corpus and query: (1) permuting the corpus changes no
    score; (2) exactly the documents containing >= 1 query term appear;
    (3) scores are non-negative (Lucene non-negative idf)."""
    from hazelcast_jet_contrib_spark.operators.retrieval import bm25_score_all

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    rev = spark.createDataFrame(
        [(i, t) for i, t in reversed(list(enumerate(docs)))],
        "doc_id long, text string",
    )
    a = {(r["doc_id"], r["score"]) for r in bm25_score_all(df, terms).collect()}
    b = {(r["doc_id"], r["score"]) for r in bm25_score_all(rev, terms).collect()}
    assert a == b
    tset = {t.lower() for t in terms}
    expect_ids = {
        i for i, t in enumerate(docs)
        if tset & set(t.lower().strip().split())
    }
    assert {i for i, _ in a} == expect_ids
    assert all(s >= 0 for _, s in a)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),                      # user
            st.integers(0, 30),                     # ts
            st.sampled_from(["s1", "s2", "s3", "x"]),
        ),
        min_size=0,
        max_size=40,
    )
)
@_settings
def test_funnel_monotone_and_reference(spark, events):
    """For ANY event set: step counts are non-increasing along the
    funnel, and equal a direct per-user reference computation of the
    strict-order semantics."""
    from hazelcast_jet_contrib_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(
        events or [(0, 0, "never")], "user_id long, ts long, event_type string"
    )
    steps = ["s1", "s2", "s3"]
    got = {
        r["step"]: r["users"] for r in funnel_steps(df, steps).collect()
    }
    assert got[1] >= got[2] >= got[3]
    # reference: per user, earliest completion chain
    by_user: dict[int, list[tuple[int, str]]] = {}
    for u, ts, typ in events:
        by_user.setdefault(u, []).append((ts, typ))
    want = {1: 0, 2: 0, 3: 0}
    for evs in by_user.values():
        prev = None
        for k, s in enumerate(steps):
            cand = [
                ts for ts, typ in evs
                if typ == s and (k == 0 or (prev is not None and ts > prev))
            ]
            if not cand:
                break
            prev = min(cand)
            want[k + 1] += 1
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=15,
    ).map(lambda ps: [(a, b) for a, b in ps if a != b])
)
@_settings
def test_keep_best_partition_properties(spark, pairs):
    """For ANY pair graph over a fixed corpus: every doc appears exactly
    once, exactly one canonical per component, cluster_size sums to the
    corpus size, and the canonical has the component's max quality."""
    from hazelcast_jet_contrib_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(i, float((i * 7) % 11)) for i in range(15)], "doc_id long, q double"
    )
    pdf = spark.createDataFrame(
        pairs or [(990, 991)], "id_a long, id_b long"
    )  # out-of-corpus sentinel pair when empty -> all singletons
    out = keep_best_per_cluster(docs, pdf, "doc_id", "q").collect()
    ids = [r["doc_id"] for r in out]
    assert sorted(ids) == list(range(15)), "exactly one row per doc"
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r["component_id"], []).append(r)
    qual = {i: float((i * 7) % 11) for i in range(15)}
    n_docs = 0
    for comp, rows in by_comp.items():
        if comp >= 900:
            continue  # sentinel component (not in corpus -> no rows)
        canon = [r for r in rows if r["is_canonical"]]
        assert len(canon) == 1, f"component {comp}: {len(canon)} canonicals"
        assert all(r["cluster_size"] == len(rows) for r in rows)
        n_docs += len(rows)
        best = max(qual[r["doc_id"]] for r in rows)
        assert qual[canon[0]["doc_id"]] == best
    assert n_docs == 15


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from("abcd")),  # key (None = keyless)
            st.integers(0, 9),                              # value payload
        ),
        min_size=0,
        max_size=24,
    ),
    st.integers(1, 5),  # records per segment
)
@_settings
def test_compaction_final_state_equivalence_for_any_log(tmp_path_factory, recs, per_seg):
    """For ANY keyed record sequence and ANY segmentation: compaction
    preserves (a) the latest-value-per-key final state, (b) every
    keyless record, (c) the set of segment seqs on disk, and (d) is
    idempotent."""
    import json as _json
    import os as _os

    from hazelcast_jet_contrib_spark.streaming import message_log
    from hazelcast_jet_contrib_spark.streaming.message_log import (
        _segments,
        compact_stream,
    )

    root = str(tmp_path_factory.mktemp("log"))
    records = [
        ({"key": k, "value": str(v)} if k is not None else {"value": str(v)})
        for k, v in recs
    ]
    for i in range(0, len(records), per_seg):
        message_log.append_segment(root, "s", records[i : i + per_seg])

    def state():
        sdir = _os.path.join(root, "s")
        final, keyless, n = {}, [], 0
        for seq in _segments(sdir):
            with open(_os.path.join(sdir, f"{seq:06d}.jsonl")) as f:
                for line in f:
                    r = _json.loads(line)
                    n += 1
                    if "key" in r:
                        final[r["key"]] = r["value"]
                    else:
                        keyless.append(r["value"])
        return final, sorted(keyless), n, _segments(sdir)

    f0, kl0, n0, segs0 = state()
    stats = compact_stream(root, "s")
    f1, kl1, n1, segs1 = state()
    assert f1 == f0 and kl1 == kl0 and segs1 == segs0
    assert n1 == stats["records_after"] and n0 - n1 == stats["dropped"]
    again = compact_stream(root, "s")
    assert again["dropped"] == 0 and state() == (f1, kl1, n1, segs1)


# -- streaming cohort retention: the pure IVM transition --------------------
# For ANY event multiset split into ANY micro-batch sequence, replaying
# _cohort_fold and summing the emitted deltas must equal the full set's
# (cohort, offset) pair set — the algebra behind the Spark operator's
# batch-equivalence (tests/test_stateful.py runs the end-to-end twin).

_epochs = st.lists(
    st.integers(min_value=1704067200, max_value=1704067200 + 200 * 86400),
    min_size=1,
    max_size=60,
)


@given(
    _epochs,
    st.data(),
    st.sampled_from(["day", "week", "month"]),
    st.integers(min_value=1, max_value=10),
)
@settings(max_examples=200, deadline=None)
def test_cohort_fold_deltas_sum_to_full_pairs_any_split(
    epochs, data, period, max_periods
):
    from hazelcast_jet_contrib_spark.streaming.stateful import (
        _cohort_fold,
        _cohort_pairs,
        _cohort_period_start,
    )

    # random batch split of the (arbitrarily ordered) event sequence
    order = data.draw(st.permutations(epochs))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(0, len(order)), min_size=0, max_size=5
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(order)]:
        if c > prev:
            batches.append(order[prev:c])
            prev = c

    state: list[int] = []
    net: dict[tuple[int, int], int] = {}
    for b in batches:
        state, gained, lost = _cohort_fold(state, b, period, max_periods)
        assert len(state) <= max_periods + 1, "state bound violated"
        assert state == sorted(set(state))
        for pair in gained:
            net[pair] = net.get(pair, 0) + 1
        for pair in lost:
            net[pair] = net.get(pair, 0) - 1
        assert all(v in (0, 1) for v in net.values()), (
            "net delta per pair must stay 0/1 — no double emission"
        )

    full = sorted(
        set(_cohort_period_start(t, period) for t in epochs)
    )
    cohort = full[0]
    from hazelcast_jet_contrib_spark.streaming.stateful import _cohort_offset

    full = [
        p for p in full if _cohort_offset(p, cohort, period) <= max_periods
    ]
    want = _cohort_pairs(full, period, max_periods)
    got = {pair for pair, v in net.items() if v == 1}
    assert got == want
