"""Persisted MinHash-LSH index tests: build-once/probe-many recall on
planted near-dups, exact-Jaccard verification parity, bucket-predicate
pushdown at the probe scan, parameter-sidecar round-trip, and the
epoch-commit crash contract of append and compaction."""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import types

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.dedup import (
    INDEX_KIND,
    append_to_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    jaccard_pairs,
    probe_minhash_index,
    read_index_epochs,
)
from hazelcast_jet_contrib_spark.registry import table
from hazelcast_jet_contrib_spark.streaming import exactly_once
from hazelcast_jet_contrib_spark.streaming.exactly_once import EpochCommitLog
from tests.conftest import CORRECTNESS_SF


@pytest.fixture(scope="module")
def mh_index(spark):
    docs = table(spark, CORRECTNESS_SF, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="mhidx_")
    build_minhash_index(docs, path)
    yield docs, path
    shutil.rmtree(path, ignore_errors=True)


def _probes(docs):
    return docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy")).alias("text"),
    )


def _probe_list(spark, path, probes):
    """The full sorted (probe_id, corpus_id, jaccard) list."""
    return sorted(
        (r["probe_id"], r["corpus_id"], r["jaccard"])
        for r in probe_minhash_index(spark, path, probes, threshold=0.6).collect()
    )


def _read_index(spark, path):
    dirs = EpochCommitLog(path, "test").epoch_dirs(INDEX_KIND)
    return read_index_epochs(spark, dirs, "bigint")


class _Crash(Exception):
    """Stands for the process dying at the patched step."""


def test_probe_finds_planted_near_dups_and_verifies_exactly(spark, mh_index):
    docs, path = mh_index
    out = probe_minhash_index(spark, path, _probes(docs), threshold=0.6)
    rows = out.collect()
    hits = {(r["probe_id"], r["corpus_id"]) for r in rows}
    planted = {(d + 5_000_000, d) for d in range(0, 500, 97)}
    assert planted <= hits, f"missing planted pairs: {planted - hits}"
    # verification is EXACT jaccard on hashed shingles: every reported
    # pair must also pass the exact pair computation on raw text
    aug = docs.unionByName(_probes(docs))
    exact = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in jaccard_pairs(aug, "doc_id", "text", threshold=0.6).collect()
    }
    for p, c in hits:
        assert tuple(sorted((p, c))) in exact, (p, c)
    assert all(0.6 <= r["jaccard"] <= 1.0 for r in rows)


def test_probe_scan_pushes_bucket_predicate(spark, mh_index):
    # since r18 the band scan runs in the bounded candidate-pair job,
    # not the returned verify plan — the pin asserts on the EXECUTED
    # candidate plan via the probe's observability seam
    docs, path = mh_index
    obs: dict = {}
    out = probe_minhash_index(
        spark, path, _probes(docs), threshold=0.6, _observe=obs
    )
    out.collect()
    plan = obs["candidates"]._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m and "In(bh" in m.group(1), (
        "probe must push the bh bucket-key IN-predicate to the index scan "
        "(row-group pruning on the sorted column)"
    )


def test_probe_is_repeatable_without_rebuild(spark, mh_index):
    docs, path = mh_index
    a = {
        (r["probe_id"], r["corpus_id"], r["jaccard"])
        for r in probe_minhash_index(spark, path, _probes(docs)).collect()
    }
    b = {
        (r["probe_id"], r["corpus_id"], r["jaccard"])
        for r in probe_minhash_index(spark, path, _probes(docs)).collect()
    }
    assert a == b and a


def test_probe_threshold_filters(spark, mh_index):
    docs, path = mh_index
    # unrelated probes (reversed word soup from other docs' ids) find nothing
    unrelated = docs.filter(F.col("doc_id") % 97 == 1).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.reverse("text").alias("text"),
    )
    out = probe_minhash_index(spark, path, unrelated, threshold=0.6).collect()
    assert out == []


def test_incremental_append_probes_across_old_and_new(spark, tmp_path):
    """Index half the corpus, append the other half as a delta, then
    probe: planted near-dups of BOTH halves are found, and the probe
    still pushes its bucket predicate (pruning applies to old and new
    files alike)."""
    docs = table(spark, CORRECTNESS_SF, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    path = str(tmp_path / "idx")
    build_minhash_index(old, path)
    append_to_minhash_index(new, path)

    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy")).alias("text"),
    )
    obs: dict = {}
    out = probe_minhash_index(spark, path, probes, threshold=0.6, _observe=obs)
    hits = {(r["probe_id"], r["corpus_id"]) for r in out.collect()}
    planted = {(d + 5_000_000, d) for d in range(0, 500, 97)}
    assert planted <= hits, f"missing: {planted - hits}"
    # both halves contribute (97*2=194 < 250 <= 291)
    assert any(c < 250 for _, c in hits) and any(c >= 250 for _, c in hits)
    plan = obs["candidates"]._jdf.queryExecution().executedPlan().toString()
    assert "In(bh" in plan


def test_compaction_is_probe_identical_and_reduces_files(spark, tmp_path):
    """The append-epoch lifecycle (VERDICT r08 item 7): build + 3 delta
    appends accumulate one file per band per epoch; compaction must (a)
    cut the per-band file count back to one sorted run, (b) leave probe
    results EXACTLY identical — for any split of the corpus into base +
    deltas — and (c) keep the bucket predicate pushed."""
    docs = table(spark, CORRECTNESS_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_minhash_index(docs.filter(F.col("doc_id") < 125), path)
    for lo, hi in ((125, 250), (250, 375), (375, 10**9)):
        append_to_minhash_index(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), path
        )

    probes = _probes(docs)
    before = sorted(
        (r["probe_id"], r["corpus_id"], r["jaccard"])
        for r in probe_minhash_index(spark, path, probes, threshold=0.6).collect()
    )
    stats = compact_minhash_index(spark, path)
    assert stats["files_after"] < stats["files_before"], stats
    obs: dict = {}
    out = probe_minhash_index(spark, path, probes, threshold=0.6, _observe=obs)
    after = sorted(
        (r["probe_id"], r["corpus_id"], r["jaccard"]) for r in out.collect()
    )
    assert after == before, "compaction changed probe results"
    assert before, "vacuous: no probe hits at all"
    plan = obs["candidates"]._jdf.queryExecution().executedPlan().toString()
    assert "In(bh" in plan, "bucket predicate no longer pushed after compaction"
    # idempotent: a second compaction converges
    stats2 = compact_minhash_index(spark, path)
    assert stats2["files_after"] <= stats["files_after"]
    again = sorted(
        (r["probe_id"], r["corpus_id"], r["jaccard"])
        for r in probe_minhash_index(spark, path, probes, threshold=0.6).collect()
    )
    assert again == before


def _appended_index(spark, tmp_path):
    """Build + one appended epoch, and the probe list before any
    maintenance."""
    docs = table(spark, CORRECTNESS_SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_minhash_index(docs.filter(F.col("doc_id") < 250), path)
    append_to_minhash_index(docs.filter(F.col("doc_id") >= 250), path)
    probes = _probes(docs)
    want = _probe_list(spark, path, probes)
    assert want, "vacuous: no probe hits"
    return path, probes, want


def test_compaction_crash_before_swap_leaves_probes_identical(
    spark, tmp_path, monkeypatch
):
    """A compaction that dies after writing its generation but before
    the _COMPACTED swap: the generation is on disk but unreferenced, so
    every probe is identical to the pre-compaction probe; the next
    compaction converges to the same probe."""
    path, probes, want = _appended_index(spark, tmp_path)
    replace = EpochCommitLog._replace

    def crash_at_swap(self, name, *values):
        if name == "_COMPACTED":
            raise _Crash
        replace(self, name, *values)

    monkeypatch.setattr(EpochCommitLog, "_replace", crash_at_swap)
    with pytest.raises(_Crash):
        compact_minhash_index(spark, path)
    monkeypatch.undo()
    assert os.listdir(os.path.join(path, "compacted")), "no generation written"
    assert EpochCommitLog(path, "test").compaction() is None
    assert _probe_list(spark, path, probes) == want

    stats = compact_minhash_index(spark, path)
    assert stats["files_after"] < stats["files_before"], stats
    assert _probe_list(spark, path, probes) == want


def test_compaction_crash_after_swap_leaves_probes_identical(
    spark, tmp_path, monkeypatch
):
    """A compaction that dies after the _COMPACTED swap but before it
    deletes the superseded epochs: readers take the generation and skip
    the epochs at or below its floor, so every probe is identical to the
    pre-compaction probe; the next compaction finishes the cleanup."""
    path, probes, want = _appended_index(spark, tmp_path)

    def crash(*_a, **_kw):
        raise _Crash

    monkeypatch.setattr(exactly_once, "shutil", types.SimpleNamespace(rmtree=crash))
    with pytest.raises(_Crash):
        compact_minhash_index(spark, path)
    monkeypatch.undo()
    epochs = os.path.join(path, INDEX_KIND)
    assert sorted(os.listdir(epochs)) == ["e0", "e1"], "cleanup ran"
    assert EpochCommitLog(path, "test").compaction() == (1, 1)
    assert _probe_list(spark, path, probes) == want

    compact_minhash_index(spark, path)
    assert os.listdir(epochs) == []
    assert _probe_list(spark, path, probes) == want


def test_append_crash_before_commit_is_invisible_and_replaced(
    spark, tmp_path, monkeypatch
):
    """An append that dies after writing its epoch but before the commit:
    its rows are on disk but no probe reads them, and the next append
    takes the same epoch and replaces them — the index then probes
    exactly like one built over base + the second delta."""
    docs = table(spark, CORRECTNESS_SF, "documents").select("doc_id", "text")
    probes = _probes(docs)
    path = str(tmp_path / "idx")
    build_minhash_index(docs.filter(F.col("doc_id") < 250), path)
    base = _probe_list(spark, path, probes)

    def crash_at_commit(self, epoch_id):
        raise _Crash

    monkeypatch.setattr(EpochCommitLog, "commit", crash_at_commit)
    with pytest.raises(_Crash):
        append_to_minhash_index(docs.filter(F.col("doc_id") >= 250), path)
    monkeypatch.undo()
    assert os.listdir(os.path.join(path, INDEX_KIND, "e1")), "no rows written"
    assert _probe_list(spark, path, probes) == base

    append_to_minhash_index(
        docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 375)), path
    )
    ref = str(tmp_path / "ref")
    build_minhash_index(docs.filter(F.col("doc_id") < 375), ref)
    want = _probe_list(spark, ref, probes)
    assert want != base, "vacuous: the second delta adds no probe hit"
    assert _probe_list(spark, path, probes) == want


def test_probe_and_append_refuse_uncommitted_build(spark, tmp_path):
    """A build that died before committing epoch 0 leaves band=N rows
    on disk; probing or appending to it raises instead of reading a
    partial index."""
    docs = _tiny_corpus(spark)
    path = str(tmp_path / "idx")
    build_minhash_index(docs, path, num_hashes=64, bands=16)
    os.remove(os.path.join(path, "_CURRENT"))
    assert os.listdir(os.path.join(path, INDEX_KIND, "e0"))
    with pytest.raises(ValueError, match="no committed epoch"):
        probe_minhash_index(spark, path, docs)
    with pytest.raises(ValueError, match="no committed epoch"):
        append_to_minhash_index(docs, path)


def test_compaction_rejects_remote_uris(spark):
    """The index is an EpochCommitLog state directory (driver-local
    marker and sidecar I/O): build, probe and compaction all refuse a
    URI before touching anything."""
    docs = _tiny_corpus(spark)
    uri = "s3a://bucket/minhash_index"
    with pytest.raises(ValueError, match="driver-local"):
        build_minhash_index(docs, uri)
    with pytest.raises(ValueError, match="driver-local"):
        probe_minhash_index(spark, uri, docs)
    with pytest.raises(ValueError, match="driver-local"):
        compact_minhash_index(spark, uri)


def test_probe_side_collect_is_capped_with_clear_error(spark, mh_index):
    """The probe side materializes on the driver (that is what makes it
    a broadcast): the boundedness contract is enforced — an oversized
    probe set raises with a swap-sides instruction instead of silently
    collecting a corpus (VERDICT r09 item 6)."""
    docs, path = mh_index
    with pytest.raises(ValueError, match="[Ss]wap sides"):
        probe_minhash_index(
            spark, path, _probes(docs), threshold=0.6, max_probe_band_rows=3
        )
    with pytest.raises(ValueError, match="max_probe_band_rows"):
        probe_minhash_index(
            spark, path, _probes(docs), threshold=0.6, max_probe_band_rows=0
        )


def test_unified_layout_band_rows_narrow_and_sets_written_once(spark, mh_index):
    """r17 unified layout: the verification set ``hs`` must NOT ride
    the band unpivot ×bands anymore — band rows (band >= 0) carry NULL
    hs, and the band=-1 sets partition holds exactly one (id, hs) row
    per indexed document."""
    docs, path = mh_index
    idx = _read_index(spark, path)
    assert set(idx.columns) == {"id", "band", "bh", "hs"}
    assert idx.filter((F.col("band") >= 0) & F.col("hs").isNotNull()).count() == 0
    sets = idx.filter(F.col("band") < 0)
    assert sets.filter(F.col("hs").isNull()).count() == 0
    n_docs = docs.filter(F.length(F.trim("text")) > 0).count()
    assert 0 < sets.count() <= n_docs  # <=: docs under 3 words have no row
    assert sets.groupBy("id").count().filter("count > 1").count() == 0


def test_probe_pushes_candidate_id_predicate_into_sets_scan(spark, mh_index):
    """The sets re-attach must stay bounded the same way the band scan
    does: the candidate `id IN (...)` predicate reaches the band=-1
    sets scan (row-group pruning on the id-sorted run)."""
    docs, path = mh_index
    obs: dict = {}
    out = probe_minhash_index(
        spark, path, _probes(docs), threshold=0.6, _observe=obs
    )
    out.collect()
    # the returned verify plan scans ONLY the sets run since r18: the
    # candidate-id pushdown lives there, the bucket pushdown in the
    # executed candidate job (observability seam)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("In(id" in p for p in pushed), (
        "probe must push the candidate-id IN-predicate into the sets scan"
    )
    assert not any("In(bh" in p for p in pushed), (
        "the returned verify plan must not re-scan the band partitions"
    )
    cplan = obs["candidates"]._jdf.queryExecution().executedPlan().toString()
    assert "In(bh" in cplan, cplan[:2000]


def test_probe_candidate_id_collect_is_capped_with_clear_error(spark, mh_index):
    """Second boundedness contract of the split layout (the probe-side
    collect's twin): the candidate-id collect that drives the sets
    scan's pruning raises loudly when a flooded bucket blows the cap,
    instead of silently shipping a corpus-sized id list."""
    docs, path = mh_index
    with pytest.raises(ValueError, match="candidate set exceeds"):
        probe_minhash_index(
            spark, path, _probes(docs), threshold=0.6, max_candidate_ids=1
        )
    with pytest.raises(ValueError, match="max_candidate_ids"):
        probe_minhash_index(
            spark, path, _probes(docs), threshold=0.6, max_candidate_ids=0
        )


def test_index_files_physically_sorted(spark, mh_index, tmp_path):
    """r17: the epoch sort LEADS with the partition column, so the
    dynamic-partition writer preserves the secondary order — band
    files non-decreasing in bh, the band=-1 sets run non-decreasing in
    id — in the built epoch and in a compacted generation alike. (The
    former sortWithinPartitions("bh") was silently destroyed
    by the writer's own re-sort on `band`: 0/32 band files were
    actually bh-sorted, making row-group min/max pruning ineffective.)
    Single-file reads collect in file order (one partition, no
    shuffle), so the assertion observes on-disk order directly."""
    import glob
    import json

    _docs, path = mh_index
    with open(os.path.join(path, "_minhash_params.json")) as f:
        n_bands = json.load(f)["bands"]
    compacted = str(tmp_path / "compacted_copy")
    shutil.copytree(path, compacted)
    compact_minhash_index(spark, compacted)
    band_dirs = glob.glob(os.path.join(path, INDEX_KIND, "e*", "band=*")) + glob.glob(
        os.path.join(compacted, "compacted", "g*", INDEX_KIND, "band=*")
    )
    checked = 0
    for d in sorted(band_dirs):
        col = "id" if os.path.basename(d) == "band=-1" else "bh"
        for fpath in glob.glob(os.path.join(d, "*.parquet")):
            vals = [
                r[col]
                for r in spark.read.parquet(fpath).select(col).collect()
            ]
            assert vals == sorted(vals), (fpath, col)
            checked += 1
    assert checked >= 2 * (n_bands + 1), f"only {checked} files checked"


def _tiny_corpus(spark):
    rows = [
        (i, " ".join(f"w{i}t{j}" for j in range(12))) for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_probe_and_append_refuse_pre_unified_layout(spark, tmp_path):
    """ADVICE r17 #1: probing a pre-unified index silently returns ZERO
    matches (no band=-1 sets run -> every candidate fails verification)
    and appending mixes layouts; a unified-v2 index (band=N dirs at the
    root, no commit record) would probe as empty — all must refuse
    loudly and ask for a rebuild instead."""
    import json

    docs = _tiny_corpus(spark)
    path = str(tmp_path / "idx")
    build_minhash_index(docs, path, num_hashes=64, bands=16)
    side = os.path.join(path, "_minhash_params.json")
    with open(side) as f:
        params = json.load(f)
    # what a pre-r17 sidecar looks like, then a unified-v2 one
    for layout, shown in ((None, "None"), ("unified-v2", "'unified-v2'")):
        params.pop("layout", None)
        if layout is not None:
            params["layout"] = layout
        with open(side, "w") as f:
            json.dump(params, f)
        refusal = f"layout {shown}, not .* rebuild it with build_minhash_index"
        with pytest.raises(ValueError, match=refusal):
            probe_minhash_index(spark, path, _tiny_corpus(spark))
        with pytest.raises(ValueError, match=refusal):
            append_to_minhash_index(docs, path)


def test_duplicate_sets_rows_do_not_duplicate_probe_pairs(spark, tmp_path):
    """ADVICE r17 #2: a re-run append of the same delta leaves duplicate
    (id, hs) sets rows; the probe must still emit each
    (probe_id, corpus_id) pair exactly once."""
    docs = _tiny_corpus(spark)
    base = docs.filter(F.col("doc_id") < 20)
    delta = docs.filter(F.col("doc_id") >= 20)
    path = str(tmp_path / "idx")
    build_minhash_index(base, path, num_hashes=64, bands=16)
    append_to_minhash_index(delta, path)
    append_to_minhash_index(delta, path)  # retried/re-run delta
    idx = _read_index(spark, path)
    dup_sets = (
        idx.filter(F.col("band") < 0).groupBy("id").count().filter("count > 1")
    )
    assert dup_sets.count() > 0, "vacuous: no duplicate sets rows planted"
    probes = docs.filter(F.col("doc_id") >= 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = probe_minhash_index(spark, path, probes, threshold=0.9).collect()
    pairs = [(r["probe_id"], r["corpus_id"]) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate output pairs"
    assert {(d + 1_000_000, d) for d in range(20, 30)} <= set(pairs)
