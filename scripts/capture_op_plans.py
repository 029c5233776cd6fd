"""Capture .explain("formatted") for operator-level relations whose
registry queries are eager / lineage-cut (so the query-level plan shows
only the final leg). Usage:

    python scripts/capture_op_plans.py <tag> <op> [...]

ops: jaccard_pairs, index_rows, bm25_topk_multi, minhash_probe (the
probe's executed candidate relation, then its returned verify plan with
the sets scan, on an index built over half the corpus with the other
half appended as a second epoch), ivf_pq_probe (an IVF-PQ index,
nlist=8, m=8, kcent=16, over embeddings vec_id >= 10, probed at
nprobe=4 by the 10 queries vec_id < 10 three ways: ivf_index_topk,
ivf_pq_topk ADC-only, ivf_pq_topk with rerank=20). Files land in
plans/r<N>/OP_<op>_<tag>.txt, N being ``registry._ROTATION_ROUND``
(same rule as capture_plans.py).
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hazelcast_jet_contrib_spark.registry import _ROTATION_ROUND  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = REPO / "plans" / f"r{_ROTATION_ROUND}"


def main() -> None:
    tag = sys.argv[1]
    ops = sys.argv[2:]
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark import get_spark
    from hazelcast_jet_contrib_spark.registry import table

    spark = get_spark(app_name=f"capture_op_plans_{tag}")
    OUT.mkdir(parents=True, exist_ok=True)

    def docs_sub5():
        docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
        docs = docs.filter(F.col("doc_id") % 5 == 0)
        return docs.unionByName(
            docs.select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text"),
            )
        )

    cleanup: list[str] = []  # index dirs to delete after the captures

    def build(op):
        """The op's relation(s); a list is captured plan after plan."""
        if op == "jaccard_pairs":
            from hazelcast_jet_contrib_spark.operators.dedup import jaccard_pairs

            return jaccard_pairs(docs_sub5(), "doc_id", "text", threshold=0.6)
        if op == "index_rows":
            from hazelcast_jet_contrib_spark.operators.dedup import index_rows

            docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
            return index_rows(docs, "doc_id", "text", 64, 32, 3)
        if op == "bm25_topk_multi":
            from hazelcast_jet_contrib_spark.operators.retrieval import (
                bm25_topk_multi,
            )

            docs = table(spark, SF_DIR, "documents")
            qs = spark.createDataFrame(
                [(1, ["data", "model"]), (2, ["training", "sort"]),
                 (3, ["window", "join"])],
                "query_id long, terms array<string>",
            )
            return bm25_topk_multi(docs, qs, k=10)
        if op == "minhash_probe":
            from hazelcast_jet_contrib_spark.operators.dedup import (
                append_to_minhash_index,
                build_minhash_index,
                probe_minhash_index,
            )

            docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
            probes = docs.filter(F.col("doc_id") % 97 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"),
                F.concat("text", F.lit(" zz yy")).alias("text"),
            )
            path = tempfile.mkdtemp(prefix="capture_minhash_probe_")
            build_minhash_index(
                docs.filter(F.col("doc_id") % 2 == 0), path,
                num_hashes=64, bands=32,
            )
            append_to_minhash_index(docs.filter(F.col("doc_id") % 2 == 1), path)
            obs: dict = {}
            out = probe_minhash_index(spark, path, probes, _observe=obs)
            out.collect()
            cleanup.append(path)
            return [obs["candidates"], out]
        if op == "ivf_pq_probe":
            from hazelcast_jet_contrib_spark.operators.similarity import (
                build_ivf_index,
                ivf_index_topk,
                ivf_pq_topk,
            )

            emb = table(spark, SF_DIR, "embeddings")
            q = emb.filter(F.col("vec_id") < 10)
            path = tempfile.mkdtemp(prefix="capture_ivf_pq_probe_")
            build_ivf_index(
                emb.filter(F.col("vec_id") >= 10), path, nlist=8, pq_m=8, pq_kcent=16
            )
            cleanup.append(path)
            return [
                ivf_index_topk(spark, path, q, k=5, nprobe=4),
                ivf_pq_topk(spark, path, q, k=5, nprobe=4),
                ivf_pq_topk(spark, path, q, k=5, nprobe=4, rerank=20),
            ]
        raise ValueError(op)

    for op in ops:
        dfs = build(op)
        plan = "\n".join(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            for df in (dfs if isinstance(dfs, list) else [dfs])
        )
        out = OUT / f"OP_{op}_{tag}.txt"
        out.write_text(plan)
        print(f"wrote {out.relative_to(REPO)} ({len(plan)} chars)")
        spark.catalog.clearCache()
    spark.stop()
    for path in cleanup:
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
