"""Queries exercising the remaining connector shapes and extension
operators through the driver's oracle gate: paged-REST batch source
(S7), SimHash near-dup, and multimodal binary-column plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.registry import query, retired_query, table


# S7 TwitterSources.search — paged REST walk. The 'API' serves the part
# table in pages of 500 rows per brand (pyarrow-backed fake client with
# real pagination tokens); the oracle is the whole selected table.
@query(
    "paged_rest_parts",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part
    WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
    """,
)
def paged_rest_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hazelcast_jet_contrib_spark.sources.paged_rest import paged_rest_source

    path = f"{sf_dir}/part.parquet"

    def fetch_page(client, brand, token):
        import pyarrow.dataset as ds

        start = 0 if token is None else token
        tbl = (
            ds.dataset(path, format="parquet")
            .to_table(
                columns=["p_partkey", "p_brand", "p_retailprice"],
                filter=ds.field("p_brand") == brand,
            )
            .sort_by("p_partkey")
        )
        page = tbl.slice(start, 500).to_pylist()
        next_token = start + 500 if start + 500 < tbl.num_rows else None
        return [(r["p_partkey"], r["p_brand"], r["p_retailprice"]) for r in page], next_token

    return paged_rest_source(
        spark,
        "parts-by-brand",
        schema="p_partkey long, p_brand string, p_retailprice double",
        fetch_page=fetch_page,
        partitions=["Brand#11", "Brand#22", "Brand#33"],
    )


def _media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic multimodal table: payload bytes derived from document
    text, with planted magic-byte headers (doc_id%3==0 → JPEG,
    doc_id%3==1 → PNG) — both engines construct it identically."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    body = F.encode("text", "UTF-8")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.unhex(F.lit("FFD8FF")), body))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.unhex(F.lit("89504E47")), body))
        .otherwise(body)
    )
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


@query(
    "media_metadata_sniff",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN unhex('FFD8FF') || encode(text)
                    WHEN doc_id % 3 = 1 THEN unhex('89504E47') || encode(text)
                    ELSE encode(text) END AS payload
        FROM documents
    )
    SELECT media_id,
           CASE WHEN media_id % 3 = 0 THEN 'image/jpeg'
                WHEN media_id % 3 = 1 THEN 'image/png'
                ELSE 'application/octet-stream' END AS mime,
           octet_length(payload) AS n_bytes
    FROM m
    """,
)
def media_metadata_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path: mime sniffed from actual magic bytes
    (expression-level, payload column prunable), byte size. The oracle
    derives mime from the construction rule — equality proves the
    sniffer reads the right bytes."""
    from hazelcast_jet_contrib_spark.operators.multimodal import with_media_metadata

    media = _media_frame(spark, sf_dir)
    return with_media_metadata(media).select(
        "media_id",
        F.col("meta.mime").alias("mime"),
        F.octet_length("payload").alias("n_bytes"),
    )


# Image-feature extraction over binary payloads. The decode kernel is
# the documented deterministic STUB (no codec libs in this environment)
# built on exact integer arithmetic, so the oracle reproduces EVERY
# output column in SQL: geometry from the Adler-style checksum
# (s1 = sum of bytes, s2 = positionally weighted sum), n_bytes, and the
# full 64-bit average-hash over the repeated-payload gray plane
# (threshold = exact int-sum / count in float64 on both sides).
@retired_query(
    "media_image_features",
    reason="r10: media_phash_near_dup runs the exact image_features "
    "operator (same Arrow decode kernel, same _media_frame plumbing) as "
    "its persisted first stage; the feature columns stay oracle-proven "
    "every pytest here",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN unhex('FFD8FF') || encode(text)
                    WHEN doc_id % 3 = 1 THEN unhex('89504E47') || encode(text)
                    ELSE encode(text) END AS payload
        FROM documents
    ),
    g AS (
        SELECT media_id, hex(payload) AS ph, octet_length(payload) AS n FROM m
    ),
    idx AS (
        SELECT media_id, ph, unnest(generate_series(0, n - 1)) AS i FROM g
    ),
    sums AS (
        SELECT media_id,
               SUM(CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)) AS s1,
               SUM(CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)
                   * (i + 1)) AS s2
        FROM idx GROUP BY media_id
    ),
    geo AS (
        SELECT media_id,
               CAST(16 + s2 % 16 AS INT) AS width,
               CAST(16 + s1 % 16 AS INT) AS height
        FROM sums
    ),
    pidx AS (
        SELECT g.media_id, g.ph, g.n,
               unnest(generate_series(0, geo.width * geo.height - 1)) AS j
        FROM g JOIN geo USING (media_id)
    ),
    plane AS (
        SELECT media_id, j,
               CAST(('0x' || substr(ph, 2 * (j % n) + 1, 2)) AS BIGINT) AS byte
        FROM pidx
    ),
    stats AS (
        SELECT media_id, CAST(SUM(byte) AS DOUBLE) / COUNT(*) AS mean
        FROM plane GROUP BY media_id
    ),
    bits AS (
        SELECT p.media_id, p.j,
               CASE WHEN CAST(p.byte AS DOUBLE) >= s.mean THEN 1 ELSE 0 END AS bit
        FROM plane p JOIN stats s USING (media_id)
        WHERE p.j < 64
    ),
    bytes8 AS (
        SELECT media_id, j // 8 AS k,
               SUM(bit * (1 << CAST(7 - (j % 8) AS INT))) AS val
        FROM bits GROUP BY media_id, j // 8
    ),
    ph64 AS (
        SELECT media_id,
               string_agg(lpad(lower(hex(val)), 2, '0'), '' ORDER BY k) AS phash
        FROM bytes8 GROUP BY media_id
    )
    SELECT g.media_id, geo.width, geo.height, CAST(g.n AS INT) AS n_bytes,
           ph64.phash
    FROM g JOIN geo USING (media_id) JOIN ph64 USING (media_id)
    """,
)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hazelcast_jet_contrib_spark.operators.multimodal import image_features

    return image_features(_media_frame(spark, sf_dir))


@retired_query(
    "media_image_resize",
    reason="r08: the 1-to-1 binary->binary Arrow transform contract "
    "(schema, stub decode, bounded batch) is media_video_frame_sample's "
    "1-to-N shape restricted to N=1, over the same _media_frame "
    "plumbing; feature extraction keeps its own entry via "
    "media_image_features",
    oracle="""
    SELECT doc_id AS media_id, 8 AS width, 8 AS height, 64 AS n_bytes
    FROM documents
    """,
)
def media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing contract: one output row per input, payload
    exactly width*height bytes. The oracle pins multiplicity and the
    size invariant (resized bytes themselves come from the stub decoder
    and have no SQL mirror)."""
    from hazelcast_jet_contrib_spark.operators.multimodal import image_resize

    return image_resize(_media_frame(spark, sf_dir), width=8, height=8).select(
        "media_id", "width", "height", F.octet_length("payload").alias("n_bytes")
    )


@query(
    "media_video_frame_sample",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 3 WHEN doc_id % 3 = 1 THEN 4
                    ELSE 0 END + octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    counts AS (
        SELECT media_id,
               LEAST(CAST(CEIL(GREATEST(n_bytes // 64, 1) / 10.0) AS BIGINT),
                     8) AS n_kept
        FROM m
    )
    SELECT media_id, CAST((k - 1) * 10 AS INT) AS frame_idx
    FROM counts, generate_series(1, 8) AS gs(k)
    WHERE k <= n_kept
    """,
)
def media_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling contract: every 10th fixed-size frame, at most 8
    per clip. The oracle reproduces the stride/cap arithmetic from the
    payload length alone — equality proves the fan-out is bounded and
    deterministic. The per-frame signature column is stub-decoder
    output, so the query projects the oracle-checkable columns."""
    from hazelcast_jet_contrib_spark.operators.multimodal import video_frame_sample

    return video_frame_sample(
        _media_frame(spark, sf_dir), every_n=10, max_frames=8, frame_bytes=64
    ).select("media_id", "frame_idx")


@query(
    "media_audio_frames",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN unhex('FFD8FF') || encode(text)
                    WHEN doc_id % 3 = 1 THEN unhex('89504E47') || encode(text)
                    ELSE encode(text) END AS payload
        FROM documents
    ),
    g AS (
        SELECT media_id, hex(payload) AS ph, octet_length(payload) AS n FROM m
    ),
    f AS (
        SELECT media_id, n, GREATEST(n // 256, 1) AS n_frames FROM g
    ),
    bidx AS MATERIALIZED (
        SELECT g.media_id, g.ph, f.n_frames,
               unnest(generate_series(0, g.n - 1)) AS i
        FROM g JOIN f USING (media_id)
    ),
    b AS (
        SELECT media_id, i // 256 AS frame_idx,
               CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT) - 128 AS d
        FROM bidx WHERE i < n_frames * 256
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           ROUND(sqrt(CAST(SUM(d * d) AS DOUBLE) / (COUNT(*) * 16384.0)), 6)
               AS rms
    FROM b GROUP BY media_id, frame_idx
    """,
)
def media_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-energy fan-out (1 clip → N fixed-size frames with RMS
    energy). The stub decoder keeps the energy math exact-integer until
    one final IEEE division + sqrt, so the oracle reproduces the RMS
    bit-for-bit from the payload bytes; fan-out shape and determinism are
    additionally pinned by tests/test_multimodal.py."""
    from hazelcast_jet_contrib_spark.operators.multimodal import audio_frame_energy

    return audio_frame_energy(_media_frame(spark, sf_dir), frame_samples=256)


@retired_query(
    "ivf_cosine_topk",
    reason="r07: same degenerate-exact (nprobe=nlist) gate now proven "
    "through the persisted-index path by ivf_index_probe_topk; r09: that "
    "query retired in turn — the gate lives on in ivf_pq_probe_exact_topk "
    "(same persisted pipeline plus the PQ layer)",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id >= 10),
    scored AS (
        SELECT qid, cid, ROUND(list_cosine_similarity(qv, cv), 6) AS cos FROM q, c
    )
    SELECT qid AS query_id, cid AS neighbor_id, rank FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        FROM scored
    ) t WHERE rank <= 5
    """,
)
def ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k in its degenerate-exact configuration (nprobe=nlist:
    every cell probed), which must reproduce brute-force cosine_topk
    exactly — the oracle pins the whole cell-assign/probe/join/rank
    machinery; approximate recall at nprobe<nlist is pinned by
    tests/test_dedup_similarity.py."""
    from hazelcast_jet_contrib_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return ivf_topk(queries_df, corpus, k=5, nlist=8, nprobe=8)


@query(
    "ivf_recall_at_nprobe",
    oracle="""
    SELECT CAST(1 AS INT) AS recall_ok
    """,
)
def ivf_recall_at_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN scale path proven as an accuracy gate (the HLL ±5%
    pattern, HyperLogLogTest.java:70-127): IVF at nprobe=5 < nlist=8
    must keep recall@5 >= 0.6 against exact brute force. The synthetic
    embeddings are near-uniform — IVF's worst case, where expected
    recall ~= nprobe/nlist — so clearing 0.6 shows the probe ranking
    works; clustered real corpora concentrate far higher."""
    from hazelcast_jet_contrib_spark.operators.similarity import cosine_topk, ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    truth = cosine_topk(q, c, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(q, c, k=5, nlist=8, nprobe=5).select("query_id", "neighbor_id")
    # n_hit and n_truth from ONE aggregate over a left join (hits carry
    # a marker): the old inner-join + separate count evaluated the
    # brute-force truth subtree twice (r17 census — no exchange reuse
    # across its two references). count("__hit__") skips the NULLs of
    # unmatched truth rows, so the counts are identical by construction.
    marked = truth.join(
        approx.withColumn("__hit__", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_truth"), F.count("__hit__").alias("n_hit")
    ).select(
        ((F.col("n_hit") / F.col("n_truth")) >= 0.6).cast("int").alias("recall_ok")
    )


# §2.5 JSON scalar work — the reference parses JSON payloads in-stream
# (timestamp_ms extraction TwitterSources.java:249-253, JSON bean
# mapping HttpListenerSourceBuilder.java:236-246). Spark-first:
# get_json_object / from_json over the raw string column; DuckDB mirror
# via json_extract. Oracle pins both the path extraction and the
# null-on-absent-key semantics.
@query(
    "json_props_extraction",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_null_missing
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
    GROUP BY event_type
    """,
)
def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One from_json parse per row (projected before filter/agg) instead of
    # re-running get_json_object per expression — the JSON is parsed once
    # and the struct fields are free column accesses afterwards.
    events = table(spark, sf_dir, "events")
    props = F.from_json("props", "k INT, missing STRING")
    parsed = events.select("event_type", props.alias("p")).select(
        "event_type", F.col("p.k").alias("k"), F.col("p.missing").alias("missing")
    )
    return (
        parsed.filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.sum(F.when(F.col("missing").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_missing"),
        )
    )


# SimHash near-dup as an oracle-checked recall gate. The raw pair set
# is not SQL-expressible (the signature depends on the engine's 64-bit
# tokenizer hashes, which DuckDB cannot reproduce), so — like the HLL
# and IVF accuracy gates — the query reduces to a deterministic
# contract SQL CAN state: every planted exact copy (identical text ⇒
# identical signature ⇒ hamming 0 ⇒ guaranteed band collision) must
# come back as a pair through the 4x32-bit banding, with hamming 0.
# The pair-set semantics beyond the gate are pinned against planted
# near-dups and brute force in tests/test_dedup_similarity.py
# (test_simhash_finds_planted_near_dups,
# test_simhash128_recall_matches_brute_force).
@query(
    "simhash128_near_dup",
    oracle="""
    SELECT COUNT(*) AS planted_total,
           COUNT(*) AS planted_found,
           COUNT(*) AS planted_hamming0
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def simhash128_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hazelcast_jet_contrib_spark.operators.dedup import simhash128_pairs

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 2 == 0)
    )
    # one exploded scan instead of a 2-way unionByName re-reading the
    # parquet per branch (r17, guide §6/§2.4 — same rows, one scan)
    aug = docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
                F.struct(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    F.col("text").alias("text"),
                ),
            )
        ).alias("__v__")
    ).select(
        F.col("__v__.doc_id").alias("doc_id"), F.col("__v__.text").alias("text")
    )
    pairs = simhash128_pairs(aug, "doc_id", "text", max_hamming=3, bands=4)
    planted = pairs.filter(
        (F.col("id_a") < 1000000) & (F.col("id_b") == F.col("id_a") + 1000000)
    )
    return docs.agg(F.count("*").alias("planted_total")).join(
        planted.agg(
            F.count("*").alias("planted_found"),
            F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0)).alias(
                "planted_hamming0"
            ),
        )
    )


@retired_query(
    "media_phash_dup_groups",
    reason="r07: exact-dup tier subsumed by media_phash_near_dup "
    "(hamming radius 0 of the same signature relation)",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN unhex('FFD8FF') || encode(text)
                    WHEN doc_id % 3 = 1 THEN unhex('89504E47') || encode(text)
                    ELSE encode(text) END AS payload
        FROM (
            SELECT doc_id, text FROM documents
            UNION ALL  -- planted byte-identical copies; +3000000 keeps
                       -- doc_id%3 (the header rule) intact
            SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 7 = 0
        )
    ),
    g AS (
        SELECT media_id, hex(payload) AS ph, octet_length(payload) AS n FROM m
    ),
    idx AS (
        SELECT media_id, ph, unnest(generate_series(0, n - 1)) AS i FROM g
    ),
    sums AS (
        SELECT media_id,
               SUM(CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)) AS s1,
               SUM(CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)
                   * (i + 1)) AS s2
        FROM idx GROUP BY media_id
    ),
    geo AS (
        SELECT media_id,
               CAST(16 + s2 % 16 AS INT) AS width,
               CAST(16 + s1 % 16 AS INT) AS height
        FROM sums
    ),
    pidx AS (
        SELECT g.media_id, g.ph, g.n,
               unnest(generate_series(0, geo.width * geo.height - 1)) AS j
        FROM g JOIN geo USING (media_id)
    ),
    plane AS (
        SELECT media_id, j,
               CAST(('0x' || substr(ph, 2 * (j % n) + 1, 2)) AS BIGINT) AS byte
        FROM pidx
    ),
    stats AS (
        SELECT media_id, CAST(SUM(byte) AS DOUBLE) / COUNT(*) AS mean
        FROM plane GROUP BY media_id
    ),
    bits AS (
        SELECT p.media_id, p.j,
               CASE WHEN CAST(p.byte AS DOUBLE) >= s.mean THEN 1 ELSE 0 END AS bit
        FROM plane p JOIN stats s USING (media_id)
        WHERE p.j < 64
    ),
    bytes8 AS (
        SELECT media_id, j // 8 AS k,
               SUM(bit * (1 << CAST(7 - (j % 8) AS INT))) AS val
        FROM bits GROUP BY media_id, j // 8
    ),
    ph64 AS (
        SELECT media_id,
               string_agg(lpad(lower(hex(val)), 2, '0'), '' ORDER BY k) AS phash
        FROM bytes8 GROUP BY media_id
    )
    SELECT phash, MIN(media_id) AS keeper, COUNT(*) AS n_members
    FROM ph64
    GROUP BY phash
    HAVING COUNT(*) > 1
    """,
)
def media_phash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual hash: plant byte-identical copies of
    every 7th payload (offset +3000000 preserves the doc_id%3 header
    rule), decode + average-hash every image, and group identical
    phashes — keeper is the minimum media_id, the exact-dedup
    keep-first convention applied to the image modality. The oracle
    recomputes the full decode+hash pipeline in SQL, so group keys,
    keepers, and member counts are all value-hash checked. Scale: the
    group-by key is a 16-char hash — the same narrow-shuffle shape as
    text exact dedup; near-dup images would band the 64-bit phash
    exactly like band_probe_pairs_64."""
    from hazelcast_jet_contrib_spark.operators.multimodal import image_features

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    body = F.encode("text", "UTF-8")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.unhex(F.lit("FFD8FF")), body))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.unhex(F.lit("89504E47")), body))
        .otherwise(body)
    )
    media = aug.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return (
        image_features(media)
        .groupBy("phash")
        .agg(F.min("media_id").alias("keeper"), F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


@query(
    "media_phash_near_dup",
    oracle="""
    WITH m0 AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN unhex('FFD8FF') || encode(text)
                    WHEN doc_id % 3 = 1 THEN unhex('89504E47') || encode(text)
                    ELSE encode(text) END AS payload
        FROM documents
    ),
    pert AS (
        -- planted near-identical copies: last payload byte += 16
        -- (mod 256). +-16 keeps the byte-sum residues the decoder's
        -- geometry rule depends on, so the perturbed image decodes to
        -- the same plane and its average-hash differs by only the few
        -- bits the changed byte swings.
        SELECT media_id + 3000000 AS media_id,
               unhex(substr(hex(payload), 1, 2 * octet_length(payload) - 2)
                     || lpad(hex((CAST(('0x' || substr(hex(payload),
                            2 * octet_length(payload) - 1, 2)) AS INT)
                            + 16) % 256), 2, '0')) AS payload
        FROM m0
        WHERE media_id % 5 = 0 AND octet_length(payload) >= 1
    ),
    m AS (SELECT * FROM m0 UNION ALL SELECT * FROM pert),
    g AS (
        SELECT media_id, hex(payload) AS ph, octet_length(payload) AS n FROM m
    ),
    idx AS (
        SELECT media_id, ph, unnest(generate_series(0, n - 1)) AS i FROM g
    ),
    sums AS (
        SELECT media_id,
               SUM(CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)) AS s1,
               SUM(CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)
                   * (i + 1)) AS s2
        FROM idx GROUP BY media_id
    ),
    geo AS (
        SELECT media_id,
               CAST(16 + s2 % 16 AS INT) AS width,
               CAST(16 + s1 % 16 AS INT) AS height
        FROM sums
    ),
    pidx AS (
        SELECT g.media_id, g.ph, g.n,
               unnest(generate_series(0, geo.width * geo.height - 1)) AS j
        FROM g JOIN geo USING (media_id)
    ),
    plane AS (
        SELECT media_id, j,
               CAST(('0x' || substr(ph, 2 * (j % n) + 1, 2)) AS BIGINT) AS byte
        FROM pidx
    ),
    stats AS (
        SELECT media_id, CAST(SUM(byte) AS DOUBLE) / COUNT(*) AS mean
        FROM plane GROUP BY media_id
    ),
    bits AS (
        SELECT p.media_id, p.j,
               CASE WHEN CAST(p.byte AS DOUBLE) >= s.mean THEN 1 ELSE 0 END AS bit
        FROM plane p JOIN stats s USING (media_id)
        WHERE p.j < 64
    ),
    bytes8 AS (
        SELECT media_id, j // 8 AS k,
               SUM(bit * (1 << CAST(7 - (j % 8) AS INT))) AS val
        FROM bits GROUP BY media_id, j // 8
    ),
    ph64 AS (
        SELECT media_id,
               string_agg(lpad(lower(hex(val)), 2, '0'), '' ORDER BY k) AS phash
        FROM bytes8 GROUP BY media_id
    ),
    nib AS (
        -- exact hamming between each original and its planted twin,
        -- nibble-wise (no 64-bit unsigned parse needed)
        SELECT o.media_id,
               CAST(('0x' || substr(o.phash, k, 1)) AS INT) AS na,
               CAST(('0x' || substr(p.phash, k, 1)) AS INT) AS nb
        FROM ph64 o
        JOIN ph64 p ON p.media_id = o.media_id + 3000000
        CROSS JOIN generate_series(1, 16) AS gs(k)
        WHERE o.media_id < 3000000
    )
    SELECT media_id, CAST(SUM(bit_count(xor(na, nb))) AS INT) AS hamming
    FROM nib GROUP BY media_id
    HAVING SUM(bit_count(xor(na, nb))) <= 3
    """,
)
def media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual NEAR-dup image dedup (VERDICT r04 item 5): plant a
    near-identical copy of every 5th payload (last byte += 16 mod 256 —
    geometry-preserving, so the decoded plane changes by one byte),
    average-hash everything, and recover the planted pairs whose phash
    hamming distance is <= 3 via the SimHash pigeonhole banding
    (dedup.band_probe_pairs_64: 4 bands x 16 bits; some band must match
    exactly when hamming < 4, so recall of qualifying pairs is 100% by
    construction — which is exactly what the exact-SQL oracle checks).
    Scale: probe-pattern band join (originals x planted) — vectors
    never shuffle, buckets are 16-bit band values, no corpus self-join.
    Reference parity: extends media_phash_dup_groups (byte-identical
    only) the way SimHash extends exact text dedup."""
    from hazelcast_jet_contrib_spark.operators.dedup import band_probe_pairs_64
    from hazelcast_jet_contrib_spark.operators.multimodal import image_features

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    body = F.encode("text", "UTF-8")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.unhex(F.lit("FFD8FF")), body))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.unhex(F.lit("89504E47")), body))
        .otherwise(body)
    )
    m0 = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    last_byte = F.conv(
        F.expr("substring(hex(payload), 2 * octet_length(payload) - 1, 2)"), 16, 10
    ).cast("int")
    perturbed = F.unhex(
        F.concat(
            F.expr("substring(hex(payload), 1, 2 * octet_length(payload) - 2)"),
            F.lpad(F.hex((last_byte + 16) % 256), 2, "0"),
        )
    )
    # One-scan conditional explode instead of the former
    # m0.unionByName(pert) (r17 change #9 family, guide §6): the union
    # re-read the documents parquet once per branch. Same measured
    # family as video_near_dup_frames / dedup_exact_keepfirst
    # (OPTIMIZATION_r17.md §11: union vs plain explode a local wash,
    # _spread rejected) — the persisted signature relation below means
    # the corpus subtree runs once either way, so the one-scan shape is
    # a pure corpus-read win at scale.
    orig_s = F.struct(F.col("media_id").alias("media_id"), F.col("payload").alias("payload"))
    pert_s = F.struct(
        (F.col("media_id") + 3000000).alias("media_id"), perturbed.alias("payload")
    )
    aug = m0.select(
        F.explode(
            F.when(
                (F.col("media_id") % 5 == 0) & (F.octet_length("payload") >= 1),
                F.array(orig_s, pert_s),
            ).otherwise(F.array(orig_s))
        ).alias("__v__")
    ).select("__v__.media_id", "__v__.payload")
    feats = image_features(aug)
    sig = F.shiftleft(
        F.conv(F.substring("phash", 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(F.conv(F.substring("phash", 9, 8), 16, 10).cast("long"))
    # Persist the 64-bit signatures: band_probe_pairs_64's two sides
    # both derive from this relation, and without the persist each side
    # re-runs image_features' full-payload Arrow decode — the dominant
    # cost at scale, paid twice (VERDICT r05 #1). Persisted, the decode
    # kernel appears once in the plan (2 Arrow stages, pinned) and the
    # cached relation carries only (id, sig) — 16 bytes/row, payloads
    # never enter the cache. Lifetime: tracked (cache.release_tracked()
    # reclaims it in long-lived sessions).
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    sig_df = tracked_persist(
        feats.select(F.col("media_id").alias("id"), sig.alias("sig"))
    )
    pairs = band_probe_pairs_64(
        sig_df.filter(F.col("id") < 3000000),
        sig_df.filter(F.col("id") >= 3000000),
        max_hamming=3,
        bands=4,
    )
    return pairs.filter(F.col("id_b") == F.col("id_a") + 3000000).select(
        F.col("id_a").alias("media_id"), F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Round-9: video near-dup from sampled frame signatures
# ---------------------------------------------------------------------------


@query(
    "video_near_dup_frames",
    oracle="""
    WITH vids AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS h
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000, hex(encode(text || repeat(' qq', 30)))
        FROM documents WHERE doc_id % 7 = 0
    ),
    frames AS (
        SELECT DISTINCT media_id,
               substring(h, k * 128 + 1, 128) AS fr
        FROM vids, generate_series(0, 7) AS gs(k)
        WHERE k < LEAST(GREATEST(CAST(floor(length(h) / 128.0) AS INT), 1), 8)
    ),
    sizes AS (SELECT media_id, COUNT(*) AS sz FROM frames GROUP BY media_id),
    inter AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS i
        FROM frames a JOIN frames b
          ON a.fr = b.fr AND a.media_id < b.media_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.media_id = id_a
    JOIN sizes sb ON sb.media_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    """,
)
def video_near_dup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level near-dup over synthetic clips (document bytes as
    concatenated 64-byte frames) ∪ re-encoded copies (same bytes plus an
    appended tail): videos whose sampled-frame SETS overlap at Jaccard
    >= 0.5 pair up. The stub signature is sha-exact, so signature-set
    equality ≡ frame-byte-slice equality and the oracle mirrors the
    whole pipeline on hex substrings of the same payloads. Scale:
    per-video state is capped at max_frames signatures; candidates join
    ONLY on shared frame hashes (the sparse-join shingle shape) — no
    all-pairs anywhere (operators/multimodal.py video_near_dup_pairs,
    video_frame_sample)."""
    from hazelcast_jet_contrib_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # One-scan conditional explode instead of the former 2-way
    # unionByName (r17 change #9 family, guide §6): the union re-read
    # the documents parquet once per branch. Interleaved A/B at sf0.1
    # (OPTIMIZATION_r17.md §11, noop sink, row-set equality asserted):
    # union min 0.668 s vs explode min 0.684 s — a local wash, so the
    # one-scan shape wins on the corpus-read count at scale. _spread
    # REJECTED here (min 0.937 s): the signature relation downstream is
    # persisted and the Arrow kernel is cheap on this payload, so the
    # spread exchange never pays for itself (crossdoc_dup_blocks'
    # finding, reconfirmed).
    orig = F.struct(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    copy = F.struct(
        (F.col("doc_id") + 1000000).alias("media_id"),
        F.encode(
            F.concat("text", F.expr("repeat(' qq', 30)")), "UTF-8"
        ).alias("payload"),
    )
    vids = docs.select(
        F.explode(
            F.when(F.col("doc_id") % 7 == 0, F.array(orig, copy)).otherwise(
                F.array(orig)
            )
        ).alias("__v__")
    ).select("__v__.media_id", "__v__.payload")
    return video_near_dup_pairs(
        vids, threshold=0.5, every_n=1, max_frames=8, frame_bytes=64
    )


# ---------------------------------------------------------------------------
# WebDataset tar-shard roundtrip as a driver-comparable query
# (registered round 11, ROUND11_PLAN.md). The result DataFrame is the
# LAZY binaryFile + untar mapInPandas read — NOT a collected local
# relation (VERDICT r10 What's-wrong #1: collecting the corpus to the
# driver and re-creating it would "prove" a LocalTableScan and OOM at
# scale). The shard scratch dir therefore has to outlive this function
# so the driver can execute the returned plan; dirs are reaped at the
# next invocation in the same process and at interpreter exit.
# ---------------------------------------------------------------------------
WEBDATASET_ROUNDTRIP_ORACLE = """
SELECT lpad(CAST(doc_id AS VARCHAR), 12, '0') AS key,
       text,
       octet_length(encode(text)) AS n_bytes
FROM documents
"""

_WDS_SCRATCH: list[str] = []
_WDS_REAPED: list[str] = []
_WDS_SCRATCH_LOCK = __import__("threading").Lock()
# how many invocations' shard dirs stay readable at once: the newest
# TWO by default, so "build plan A; build plan B; execute A" (EXPLAIN
# sweeps, plan-hash harnesses) still works — only on the THIRD
# invocation does A's scratch go away. Bounded so repeated bench/driver
# runs in one process can't accumulate corpus copies on disk. Callers
# that hold MORE live result DataFrames raise the bound via the
# SPARK_GRAFT_WDS_SCRATCH_KEEP env var (ADVICE r11 #4).
_WDS_SCRATCH_KEEP = 2
_WDS_TOMBSTONE = "_SCRATCH_REAPED.txt"


def _wds_keep() -> int:
    import os

    return max(1, int(os.environ.get("SPARK_GRAFT_WDS_SCRATCH_KEEP",
                                     str(_WDS_SCRATCH_KEEP))))


def _wds_scratch_dir() -> str:
    """A fresh shard scratch dir whose lifetime matches the LAZY result
    DataFrame's: the newest keep-N invocations' dirs stay on disk
    (their plans may not have executed yet), older ones are reaped
    here, the survivors at interpreter exit. Thread-safe.

    Reaping deletes the SHARDS but leaves the directory behind with a
    tombstone file (_SCRATCH_REAPED.txt) naming the lifetime policy —
    so when a caller executes a stale plan and Spark reports the shard
    file missing, the directory itself explains why instead of having
    vanished (ADVICE r11 #4). Tombstone dirs are removed at exit."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="wds_roundtrip_q_")
    keep = _wds_keep()
    with _WDS_SCRATCH_LOCK:
        _WDS_SCRATCH.append(path)
        doomed = _WDS_SCRATCH[:-keep]
        del _WDS_SCRATCH[:-keep]
        _WDS_REAPED.extend(doomed)
        if not getattr(_wds_scratch_dir, "_atexit_armed", False):
            atexit.register(
                lambda: [
                    shutil.rmtree(p, ignore_errors=True)
                    for p in _WDS_SCRATCH + _WDS_REAPED
                ]
            )
            _wds_scratch_dir._atexit_armed = True
    import os

    for old in doomed:
        shutil.rmtree(old, ignore_errors=True)
        try:
            os.makedirs(old, exist_ok=True)
            with open(os.path.join(old, _WDS_TOMBSTONE), "w") as f:
                f.write(
                    "webdataset_roundtrip scratch shards reaped: only the "
                    f"newest {keep} invocations' result DataFrames stay "
                    "executable per process (set SPARK_GRAFT_WDS_SCRATCH_KEEP "
                    "to hold more live results).\n"
                )
        except OSError:
            pass  # tombstone is best-effort; the reap itself succeeded
    return path


@query("webdataset_roundtrip", oracle=WEBDATASET_ROUNDTRIP_ORACLE)
def webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table as WebDataset tar shards (text payload
    + JSON sidecar), read it back through the binaryFile + untar path,
    and emit (key, text, n_bytes) — value-hash-identical to the plain
    SQL over documents iff no sample was lost, duplicated, truncated,
    or re-keyed anywhere in the shard write/read
    (operators/webdataset.py). The write runs distributed here; the
    READ is the returned plan itself — the driver's collect executes
    the untar Arrow stage, so the green row proves the distributed
    shard-read path (plan shape asserted by tests/test_webdataset.py).
    Scale: one tar shard is one binaryFile row, so read memory per task
    is the write-time shard budget; parallelism = shard count (the
    repartition below)."""
    from hazelcast_jet_contrib_spark.operators.webdataset import (
        read_webdataset,
        write_webdataset_shards,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.to_json(F.struct("doc_id", "lang")).alias("meta"),
    )
    out = _wds_scratch_dir()
    write_webdataset_shards(
        docs.repartition(8), out, "doc_id",
        {"payload": "bin", "meta": "json"},
    )
    return read_webdataset(spark, out).select(
        "key",
        F.decode(F.col("fields")["bin"], "utf-8").alias("text"),
        F.octet_length(F.col("fields")["bin"]).cast("long").alias("n_bytes"),
    )


def _sse_data_rows(text: str) -> list[str]:
    """The DATA rows of a raw SSE stream joined to text: split on the
    blank-line event delimiter, keep ``data: `` blocks, and drop every
    block that carries ``_eof`` or is not a JSON object. Every genuine
    row precedes the sentinel and comes from toJSON, so a non-object can
    only be the sentinel cut mid-frame by a client's stop callback
    (pinned in tests/test_http_listener.py)."""
    import json as _json

    out: list[str] = []
    for block in text.split("\n\n"):
        if not block.startswith("data: "):
            continue
        payload = block[len("data: "):].strip()
        try:
            parsed = _json.loads(payload)
        except ValueError:
            continue
        if not isinstance(parsed, dict) or "_eof" in parsed:
            continue
        out.append(payload)
    return out


def _audit_message_keys(posted: dict, got: list, what: str) -> None:
    """Raise naming every lost, duplicated, unknown-key or corrupted
    message, so a red roundtrip names its messages instead of showing
    as an opaque oracle mismatch. ``posted`` maps each unique message
    key to its payload tuple; ``got`` holds the delivered (key, payload)
    pairs. Payloads compare by exact equality: both sides come from the
    same JSON serialization, with no arithmetic."""
    from collections import Counter

    counts = Counter(k for k, _ in got)
    missing = sorted(k for k in posted if counts[k] == 0)
    duplicated = sorted(k for k, c in counts.items() if c > 1 and k in posted)
    unknown = sorted(k for k in counts if k not in posted)
    corrupted = sorted({k for k, v in got if k in posted and posted[k] != v})
    if missing or duplicated or unknown or corrupted:
        raise RuntimeError(
            f"{what}: readback diverged from the posted message set "
            f"({len(posted)} posted, {len(got)} read): "
            f"{len(missing)} missing {missing[:20]}, "
            f"{len(duplicated)} duplicated {duplicated[:20]}, "
            f"{len(unknown)} unknown-key {unknown[:20]}, "
            f"{len(corrupted)} corrupted {corrupted[:20]}"
        )


def _roundtrip(
    spark: SparkSession,
    name: str,
    fixture: DataFrame,
    transport,
    columns: list[str],
    scale: int,
) -> DataFrame:
    """The checking half of every connector roundtrip query: collect the
    bounded ``(key, group, value)`` fixture once, hand its rows to
    ``transport`` (which pushes them through one connector and returns
    the delivered ``(key, group, value)`` tuples), audit the delivered
    set message by message, and aggregate it per group as ``columns``:
    count, the sum of ``round(value * scale)`` as a bigint (integer
    addition commutes, so the result is immune to summation order), and
    min/max key. The aggregate runs over the rows the audit already
    holds, so the transport's scratch state is gone before it returns."""
    rows = [tuple(r) for r in fixture.collect()]
    got = transport(rows)
    _audit_message_keys(
        {k: (g, v) for k, g, v in rows}, [(k, (g, v)) for k, g, v in got], name
    )
    group, n, total, lo, hi = columns
    return (
        spark.createDataFrame(got, f"k long, {group} string, v double")
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias(n),
            F.sum(F.round(F.col("v") * scale).cast("long")).alias(total),
            F.min("k").alias(lo),
            F.max("k").alias(hi),
        )
    )


def _spool_readback(
    spark: SparkSession, root: str, select: list, posted: int
) -> list[tuple]:
    """Every record under the message-log ``root`` as the ``select``
    columns (key, group, value expressions over the records' ``key`` and
    ``value``), in one collect. The stream dirs are the ones that EXIST,
    not the ones the fixture expects: a record in an unexpected stream
    stays visible to the audit as an unknown key, and an empty spool
    names every posted message missing instead of failing in Spark's
    PATH_NOT_FOUND. Dir paths, not a segment glob: a glob past
    parallelPartitionDiscovery.threshold launches a distributed listing
    job with one task per segment file."""
    import os

    names = os.listdir(root) if os.path.isdir(root) else []
    dirs = sorted(
        p for p in (os.path.join(root, d) for d in names) if os.path.isdir(p)
    )
    if not dirs:
        raise RuntimeError(
            f"no stream dirs under {root}: all {posted} posted messages "
            "are missing"
        )
    read = spark.read.schema("key string, value string").json(dirs)
    return [tuple(r) for r in read.select(*select).collect()]


def _run_threads(fns: dict, what: str) -> dict:
    """Run each ``name → fn()`` on its own thread; return ``name →
    result``. A thread hung past 120 s or raising fails the roundtrip
    here, by name, instead of as an opaque oracle mismatch later."""
    import threading

    results: dict = {}
    errors: list[str] = []

    def run(name: str, fn) -> None:
        try:
            results[name] = fn()
        except Exception as ex:  # surfaced after join
            errors.append(f"{name}: {ex!r}")

    threads = [threading.Thread(target=run, args=kv) for kv in fns.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        if t.is_alive():
            raise RuntimeError(f"{what} hung past 120s")
    if errors:
        raise RuntimeError(f"{what} failed: {errors}")
    return results


_EOF = '{"_eof": 1}'


def _push_fanout(sink, src: DataFrame, clients: dict) -> list[tuple]:
    """Publish ``src`` through the started push ``sink``'s foreachBatch
    adapter (toJSON → toLocalIterator → publish) plus the sentinel, then
    connect every client (``name → fn()`` returning the payloads read
    up to the sentinel) and return the rows as ``src``-column tuples.
    Every client must receive the same rows: fan-out is broadcast, not
    round-robin. Publishing before the clients connect keeps the whole
    fixture in the sink's buffer, so a late joiner reads the same
    content and a loaded host cannot truncate a stream in the handler's
    5 s idle window; liveness is pinned in tests/test_http_listener.py."""
    import json as _json

    try:
        sink.foreach_batch()(src, 0)
        sink.publish(_EOF)
        results = _run_threads(clients, "push clients")
    finally:
        sink.stop()
    first = next(iter(results.values()))
    if any(sorted(r) != sorted(first) for r in results.values()):
        raise RuntimeError(
            "fan-out diverged: "
            + ", ".join(f"{n} {len(r)} rows" for n, r in results.items())
        )
    return [tuple(row[c] for c in src.columns) for row in map(_json.loads, first)]


# S14 — subscribe-side MQTT adapter


@query(
    "mqtt_subscribe_spool_roundtrip",
    oracle="""
    SELECT 'events/' || event_type AS topic,
           COUNT(*) AS n_msgs,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli
    FROM events
    WHERE event_id % 97 = 0
    GROUP BY 1
    """,
)
def mqtt_subscribe_spool_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14's subscribe side through the LIVE adapter's glue
    (real_clients.PahoSubscribeSource — the exact callback →
    bounded-queue → flusher → spool code a real paho client drives;
    MqttSourceBuilder.java:42-180, Subscription.java:85-127,
    impl/SourceContext.java:58-124): events with event_id % 97 publish
    through an in-process broker stub into the adapter's real
    on_message callback, one topic per event type under a wildcard
    ``events/#`` QoS-1 subscription; the flusher spools per-topic
    message-log segments, which are read back as (event_id, topic,
    value). Scale: the adapter is the parallelism-one half of the
    reference source (one MQTT session) — see real_clients.py's scale
    note on fanning out via shared subscriptions."""
    import json as _json
    import shutil
    import tempfile

    from hazelcast_jet_contrib_spark.real_clients import (
        MqttStubModule,
        PahoSubscribeSource,
    )

    def transport(rows: list[tuple]) -> list[tuple]:
        spool = tempfile.mkdtemp(prefix="mqtt_spool_q_")
        try:
            mod = MqttStubModule()
            src = PahoSubscribeSource(
                "fixture-broker",
                spool,
                [("events/#", 1)],
                client_id="sg-driver-row",
                flush_seconds=0.02,
                mqtt_module=mod,
            ).start()
            try:
                c = mod.clients[0]
                if c.subscribed != [[("events/#", 1)]]:
                    raise RuntimeError(
                        f"expected one events/# QoS-1 subscribe call: {c.subscribed}"
                    )
                for k, topic, v in rows:
                    c.deliver(topic, _json.dumps({"event_id": k, "value": v}), 1)
            finally:
                src.stop()  # final drain flushes every queued message
            return _spool_readback(
                spark,
                spool,
                [
                    F.get_json_object("value", "$.event_id").cast("long"),
                    "key",
                    F.get_json_object("value", "$.value").cast("double"),
                ],
                len(rows),
            )
        finally:
            shutil.rmtree(spool, ignore_errors=True)

    fixture = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .select(
            "event_id", F.concat(F.lit("events/"), "event_type"), "value"
        )
    )
    return _roundtrip(
        spark,
        "mqtt_subscribe_spool_roundtrip",
        fixture,
        transport,
        ["topic", "n_msgs", "sum_milli", "min_id", "max_id"],
        1000,
    ).select("topic", "n_msgs", "sum_milli")


# S15 — HTTP(S) listener source


@query(
    "http_listener_spool_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 101 = 0
    GROUP BY 1
    """,
)
def http_listener_spool_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15's listener source through the LIVE embedded server over REAL
    sockets (sources/http_listener.py; HttpListenerSourceBuilder.java:
    36-254): orders with o_orderkey % 101 are POSTed as JSON webhook
    bodies, most over eight keep-alive HTTP/1.1 connections in parallel
    (the durable-ack group-commit path), a deterministic 1-in-10 slice
    over ONE multiplexed h2c prior-knowledge HTTP/2 connection
    (http2.post_h2c — the embedded RFC 7540 path, ENABLE_HTTP2 parity,
    HttpListenerSourceContext.java:80), plus one malformed-JSON POST
    that must get a 400 and not be spooled (Undertow 400 parity,
    HttpListenerSourceContext.java:103-107). The listener spools each
    accepted body BEFORE its 200 (durable_ack); the spool is read back
    as (o_orderkey, priority, totalprice). Scale: the listener is the
    parallelism-one half of the reference source (one ingest endpoint,
    HttpListenerSinkBuilder.java:253-263)."""
    import json as _json
    import shutil
    import socket
    import tempfile
    import threading
    from http.client import HTTPConnection

    from hazelcast_jet_contrib_spark.sources import http2
    from hazelcast_jet_contrib_spark.sources.http_listener import HttpListenerSource

    def transport(rows: list[tuple]) -> list[tuple]:
        bodies = [
            _json.dumps({"k": k, "p": p, "t": t}).encode() for k, p, t in rows
        ]
        h2_bodies = bodies[::10]
        h11_bodies = iter(b for i, b in enumerate(bodies) if i % 10 != 0)
        lock = threading.Lock()
        spool = tempfile.mkdtemp(prefix="http_spool_q_")
        try:
            src = HttpListenerSource(
                spool, require_json=True, durable_ack=True
            ).start()
            try:
                host, port = src._server.server_address[:2]
                c = HTTPConnection(host, port, timeout=30)
                c.request("POST", "/", b'{"k": not json')
                resp = c.getresponse()
                resp.read()
                c.close()
                if resp.status != 400:
                    raise RuntimeError(
                        f"malformed JSON must get a 400, got {resp.status}"
                    )

                def h11_producer() -> None:
                    conn = HTTPConnection(host, port, timeout=30)
                    conn.connect()
                    # http.client writes headers and body separately;
                    # with Nagle on, the body write stalls behind the
                    # server's delayed ACK (~18ms/request measured)
                    conn.sock.setsockopt(
                        socket.IPPROTO_TCP, socket.TCP_NODELAY, 1
                    )
                    try:
                        while True:
                            with lock:
                                body = next(h11_bodies, None)
                            if body is None:
                                return
                            conn.request(
                                "POST", "/", body,
                                {"Content-Type": "application/json"},
                            )
                            r = conn.getresponse()
                            r.read()
                            if r.status != 200:
                                raise RuntimeError(f"HTTP {r.status}")
                    finally:
                        conn.close()

                # the h2c slice posts concurrently with the HTTP/1.1
                # producers: the two legs carry disjoint bodies
                producers = {f"h11-{i}": h11_producer for i in range(8)}
                producers["h2c"] = lambda: http2.post_h2c(host, port, h2_bodies)
                statuses = _run_threads(producers, "HTTP producers")["h2c"]
                if statuses != ["200"] * len(h2_bodies):
                    raise RuntimeError(f"h2c statuses: {statuses}")
            finally:
                src.stop()
            return _spool_readback(
                spark,
                spool,
                [
                    F.get_json_object("value", f"$.{f}").cast(t)
                    for f, t in (("k", "long"), ("p", "string"), ("t", "double"))
                ],
                len(rows),
            )
        finally:
            shutil.rmtree(spool, ignore_errors=True)

    fixture = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    return _roundtrip(
        spark,
        "http_listener_spool_roundtrip",
        fixture,
        transport,
        ["priority", "n_orders", "cents", "min_key", "max_key"],
        100,
    )


# K8 — SSE and WebSocket push sinks

SSE_PUSH_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    WHERE event_id % 89 = 0
    GROUP BY 1
"""


@query("sse_push_roundtrip", oracle=SSE_PUSH_ROUNDTRIP_ORACLE)
def sse_push_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8's SSE push sink (HttpListenerSinks.java:41-146, accumulation
    contract HttpListenerSinkContext.java:128-152): events with
    event_id % 89 are published to TWO live clients reading the SAME
    endpoint concurrently — one HTTP/1.1 SSE client and one multiplexed
    h2c client (http2.get_h2c_stream, each event its own DATA frame,
    flow-control replenished). Scale: the sink is the parallelism-one
    serving point of the reference (forceTotalParallelismOne,
    HttpListenerSinkBuilder.java:253-263); rows stream through the
    driver partition-at-a-time (bounded memory)."""
    import urllib.request

    from hazelcast_jet_contrib_spark.sources import http2
    from hazelcast_jet_contrib_spark.sources.http_listener import SsePushSink

    fixture = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 89 == 0)
        .select("event_id", "event_type", "value")
    )

    def transport(rows: list[tuple]) -> list[tuple]:
        sink = SsePushSink(max_buffer=500_000).start()
        host, port = sink._server.server_address[:2]

        def h11_client() -> list[str]:
            out: list[str] = []
            with urllib.request.urlopen(sink.address, timeout=120) as resp:
                for line in resp:
                    text = line.decode().strip()
                    if text == f"data: {_EOF}":
                        break
                    if text.startswith("data: "):
                        out.append(text[len("data: "):])
            return out

        def h2_client() -> list[str]:
            # frames split at 16KB boundaries, not event boundaries:
            # match the sentinel on a rolling tail so a split sentinel
            # still stops the client, and let _sse_data_rows drop the
            # sentinel's possibly truncated block by parsing payloads
            tail = {"b": b""}

            def _stop(c: bytes) -> bool:
                tail["b"] = (tail["b"] + c)[-64:]
                return b'"_eof"' in tail["b"]

            _, chunks = http2.get_h2c_stream(host, port, timeout=120, stop=_stop)
            return _sse_data_rows(b"".join(chunks).decode())

        return _push_fanout(sink, fixture, {"h11": h11_client, "h2": h2_client})

    return _roundtrip(
        spark,
        "sse_push_roundtrip",
        fixture,
        transport,
        ["event_type", "n_events", "sum_milli", "min_id", "max_id"],
        1000,
    )


# Not registered (the registry takes no new queries);
# tests/test_http_listener.py runs its oracle comparison.
WS_PUSH_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    WHERE event_id % 83 = 0
    GROUP BY 1
"""


def _ws_client_collect(address: str, timeout: float = 120.0) -> list[str]:
    """Minimal RFC 6455 client for the driver row: handshake, then read
    unmasked server->client TEXT frames until one parses as a JSON
    object containing ``_eof``. Frame boundaries are the server's (one
    frame per row), but TCP segmentation is arbitrary — the reader
    buffers across recv() calls and handles all three payload-length
    encodings (7-bit, 16-bit, 64-bit)."""
    import base64
    import hashlib
    import json as _json
    import os as _os
    import socket
    from urllib.parse import urlparse

    u = urlparse(address)
    s = socket.create_connection((u.hostname, u.port), timeout=timeout)
    try:
        key = base64.b64encode(_os.urandom(16)).decode()
        s.sendall(
            (
                f"GET / HTTP/1.1\r\nHost: {u.hostname}:{u.port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = s.recv(4096)
            if not chunk:
                raise ConnectionError("connection closed during WS handshake")
            buf += chunk
        header, data = buf.split(b"\r\n\r\n", 1)
        if b"101" not in header.split(b"\r\n")[0]:
            raise ConnectionError(f"WS upgrade refused: {header[:120]!r}")
        guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
        expect = base64.b64encode(
            hashlib.sha1((key + guid).encode()).digest()
        ).decode()
        if f"Sec-WebSocket-Accept: {expect}".encode() not in header:
            raise ConnectionError("bad Sec-WebSocket-Accept")
        out: list[str] = []
        while True:
            # parse one complete frame from the buffer, else recv more
            ln = data[1] & 0x7F if len(data) >= 2 else None
            off = 2
            if ln == 126:
                ln = int.from_bytes(data[2:4], "big") if len(data) >= 4 else None
                off = 4
            elif ln == 127:
                ln = int.from_bytes(data[2:10], "big") if len(data) >= 10 else None
                off = 10
            if ln is None or len(data) < off + ln:
                chunk = s.recv(65536)
                if not chunk:
                    raise ConnectionError(
                        f"connection closed mid-stream after {len(out)} frames"
                    )
                data += chunk
                continue
            if data[0] != 0x81:
                raise ConnectionError(f"expected FIN text frame, got {data[0]:#x}")
            payload = data[off : off + ln].decode()
            data = data[off + ln :]
            try:
                parsed = _json.loads(payload)
            except ValueError:
                parsed = None
            # sentinel check only on JSON objects: a non-dict payload
            # (bare scalar/array) must count as a data frame, not raise
            # TypeError from the `in` test (ADVICE r16 #5)
            if isinstance(parsed, dict) and "_eof" in parsed:
                return out
            out.append(payload)
    finally:
        s.close()


def ws_push_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8's WebSocket push sink (the websocket variant of
    HttpListenerSinks.java:41-146; same accumulation contract
    HttpListenerSinkContext.java:128-152): events with event_id % 83 are
    published to TWO live RFC 6455 clients on the SAME endpoint, each
    completing the real upgrade handshake and reading text frames until
    the sentinel. Scale: the sink is the parallelism-one serving point
    of the reference (forceTotalParallelismOne,
    HttpListenerSinkBuilder.java:253-263)."""
    from hazelcast_jet_contrib_spark.sources.http_listener import WebSocketPushSink

    fixture = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 83 == 0)
        .select("event_id", "event_type", "value")
    )

    def transport(rows: list[tuple]) -> list[tuple]:
        sink = WebSocketPushSink(max_buffer=500_000).start()

        clients = {t: lambda: _ws_client_collect(sink.address) for t in ("ws1", "ws2")}
        return _push_fanout(sink, fixture, clients)

    return _roundtrip(
        spark,
        "ws_push_roundtrip",
        fixture,
        transport,
        ["event_type", "n_events", "sum_milli", "min_id", "max_id"],
        1000,
    )


# K4 + S8 — Redis-stream sink's 2PC epoch-committed writer

STREAM_SINK_2PC_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n_msgs,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    WHERE event_id % 79 = 0
    GROUP BY 1
"""


@query("stream_sink_2pc_roundtrip", oracle=STREAM_SINK_2PC_ROUNDTRIP_ORACLE)
def stream_sink_2pc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4's stream sink through the FULL streaming loop the reference
    closes between RedisSources.stream and RedisSinks.stream
    (RedisSinks.java:269-349; exactly-once offsets
    RedisSources.java:273-395): events with event_id % 79 are produced
    into a source message-log stream; a REAL Structured Streaming query
    reads it with the DSv2 message_log source (offset-tracked segments),
    routes every record to a per-event-type output stream via the
    writer's row-routed ``stream`` column, and lands it through the
    per-epoch two-phase writer (streaming/message_log.py
    MessageLogStreamWriter — invisible staged dotfiles, deterministic
    segment numbers, idempotent os.link promotion; the XA
    prepared-transaction analog, JdbcXaTest.java:62-97). The output
    streams are read back as (event_id, event_type, value). Scale:
    segments are the parallelism unit on both sides; the 2PC writer's
    staged-file protocol is per-partition with a driver-side O(files)
    commit."""
    import json as _json
    import shutil
    import tempfile

    from hazelcast_jet_contrib_spark.streaming.message_log import (
        append_segment,
        register,
    )

    register(spark)

    def transport(rows: list[tuple]) -> list[tuple]:
        root = tempfile.mkdtemp(prefix="stream2pc_q_")
        src_root, dst_root, ckpt = f"{root}/src", f"{root}/dst", f"{root}/ckpt"
        try:
            # fixture → source stream in 8 segments = 8 read tasks
            chunk = max(1, (len(rows) + 7) // 8)
            for i in range(0, len(rows), chunk):
                append_segment(
                    src_root,
                    "events_src",
                    [
                        {
                            "key": str(k),
                            "value": _json.dumps(
                                {"event_id": k, "event_type": g, "value": v}
                            ),
                        }
                        for k, g, v in rows[i : i + chunk]
                    ],
                )
            q = (
                spark.readStream.format("message_log")
                .option("path", src_root)
                .load()
                .select(
                    F.concat(
                        F.lit("out_"), F.get_json_object("value", "$.event_type")
                    ).alias("stream"),
                    "key",
                    "value",
                )
                .writeStream.format("message_log")
                .option("path", dst_root)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                # a query leaked past the rmtree below would keep
                # polling the deleted src/checkpoint for the session
                q.stop()
            q.awaitTermination()
            return _spool_readback(
                spark,
                dst_root,
                [
                    F.get_json_object("value", f"$.{f}").cast(t)
                    for f, t in (
                        ("event_id", "long"),
                        ("event_type", "string"),
                        ("value", "double"),
                    )
                ],
                len(rows),
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    fixture = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 79 == 0)
        .select("event_id", "event_type", "value")
    )
    return _roundtrip(
        spark,
        "stream_sink_2pc_roundtrip",
        fixture,
        transport,
        ["event_type", "n_msgs", "sum_milli", "min_id", "max_id"],
        1000,
    )
