"""Text-analysis queries over the documents table: per-doc statistics,
quality scoring, language-ID, bag-of-words fingerprinting. Every
function is a Catalyst expression with an exact DuckDB mirror (see
functions/text.py docstrings) — the oracle pins the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.functions import text as TX
from hazelcast_jet_contrib_spark.registry import query, retired_query, table

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_WC_SQL = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKENS_SQL}) END"
_SW_LIST = ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS)
_SW_COUNT_SQL = f"len(list_filter({_TOKENS_SQL}, t -> list_contains([{_SW_LIST}], t)))"
_NOISE_SQL = (
    "len(regexp_extract_all(text, '[.,;:!?''\"()\\[\\]{}<>\\-]'))"
    " + len(regexp_extract_all(text, '[0-9]'))"
)


@retired_query(
    "text_stats",
    reason="r09: word/char/stopword/noise counts computed inside text_quality_scores (same _WC_SQL/_SW_COUNT_SQL kernels); token histograms keep token_length_profile",
    oracle=f"""
    SELECT doc_id,
           {_WC_SQL} AS word_cnt,
           length(text) AS char_cnt,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS token_est,
           {_SW_COUNT_SQL} AS stopword_cnt
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.word_count("text").alias("word_cnt"),
        TX.char_count("text").alias("char_cnt"),
        TX.token_estimate("text").alias("token_est"),
        TX.stopword_count("text").alias("stopword_cnt"),
    )


@query(
    "text_quality_scores",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id,
               CAST({_WC_SQL} AS DOUBLE) AS wc,
               CAST(length(text) AS DOUBLE) AS cc,
               CAST({_SW_COUNT_SQL} AS DOUBLE) AS sw,
               CAST({_NOISE_SQL} AS DOUBLE) AS noise
        FROM documents
    )
    SELECT doc_id,
           ROUND(0.4 * least(1.0, wc / 100.0)
                 + 0.3 * least(1.0, 4.0 * (CASE WHEN wc = 0 THEN 0.0 ELSE sw / wc END))
                 + 0.3 * (1.0 - least(1.0, CASE WHEN cc = 0 THEN 1.0
                                                ELSE 4.0 * noise / cc END)),
                 4) AS quality
    FROM stats
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(TX.quality_score("text"), 4).alias("quality"))


@query(
    "lang_id_distribution",
    oracle=f"""
    SELECT {TX.lang_id_oracle_sql('text')} AS lang_pred, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(TX.lang_id("text").alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@retired_query(
    "fingerprint_dedup",
    reason="r09: canonicalize-hash-groupBy is dedup_exact_keepfirst with a computed key; positional fingerprinting keeps its row via winnowing_fingerprints",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        -- token-reordered copies: same bag of words, different string
        SELECT doc_id + 1000000,
               array_to_string(list_reverse(regexp_split_to_array(lower(trim(text)), '\\s+')), ' ')
        FROM documents
    )
    SELECT md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(trim(text)), '\\s+'))), ' ')) AS fp,
           MIN(doc_id) AS keeper,
           COUNT(*) AS n_members
    FROM aug
    GROUP BY 1
    """,
)
def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: a token-reordered copy of every document maps
    to the same fingerprint, so each cluster keeps the original id —
    content-defined dedup robust to token order."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    reordered = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(TX.tokens("text"))).alias("text"),
    )
    aug = docs.unionByName(reordered)
    return aug.groupBy(TX.fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_members")
    )


# --------------------------------------------------------------------------
# Corpus distribution profile: exact interpolated percentiles of the
# token-count distribution per language — the "what does this corpus
# look like" pass a filtering pipeline runs before choosing quality
# thresholds. Exact `percentile` (not percentile_approx) so the DuckDB
# quantile_cont oracle matches value-for-value; at 100 TB swap in
# approx_percentile with the same query shape (one shuffle on lang,
# sketches merged at the exchange) and assert tolerance instead.
# --------------------------------------------------------------------------
@query(
    "token_length_profile",
    oracle="""
    WITH t AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
                    AS DOUBLE) AS tok
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(quantile_cont(tok, 0.5), 4) AS p50,
           ROUND(quantile_cont(tok, 0.9), 4) AS p90,
           ROUND(quantile_cont(tok, 0.99), 4) AS p99,
           ROUND(AVG(tok), 4) AS mean_tokens
    FROM t
    GROUP BY lang
    """,
)
def token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = TX.token_estimate("text").cast("double")
    return (
        docs.select("lang", tok.alias("tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.percentile("tok", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("tok", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("tok", F.lit(0.99)), 4).alias("p99"),
            F.round(F.avg("tok"), 4).alias("mean_tokens"),
        )
    )


# --------------------------------------------------------------------------
# mapUsingService through the oracle gate: the service is a compiled-
# regex "tokenizer resource" constructed once per partition (the
# reference's sharedService amortization contract,
# HashingSupport.java:42-48 / HyperLogLogTest.java:83,112); the per-
# batch map is Arrow-vectorized. The oracle recomputes the same token
# counts in pure SQL, proving the service path end-to-end — lifecycle
# counts are pinned separately by tests/test_service.py.
# --------------------------------------------------------------------------
@query(
    "service_token_stats",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END
           AS n_tokens
    FROM documents
    """,
)
def service_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    import pandas as pd

    from hazelcast_jet_contrib_spark.operators.service import (
        ServiceFactory,
        map_using_service,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    factory = ServiceFactory(create_fn=lambda: re.compile(r"\s+"))

    def count_tokens(svc: re.Pattern, batch: pd.DataFrame) -> pd.DataFrame:
        stripped = batch["text"].fillna("").str.strip()
        return pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "n_tokens": [
                    0 if s == "" else len(svc.split(s.lower())) for s in stripped
                ],
            }
        )

    return map_using_service(
        docs, factory, count_tokens, "doc_id long, n_tokens long"
    )


@query(
    "gopher_quality_flags",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL  -- symbol soup: one '#' per word -> f_sym must fail
      SELECT doc_id + 2000000,
             text || repeat(' #', CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END)
      FROM documents
      UNION ALL  -- bulletized: every line starts '- ' -> f_bullet must fail
      SELECT doc_id + 3000000, '- ' || regexp_replace(text, '\s+', e'\n- ', 'g')
      FROM documents
      UNION ALL  -- dealphabetized -> f_alpha must fail
      SELECT doc_id + 4000000, regexp_replace(text, '[a-zA-Z]', '7', 'g')
      FROM documents
      UNION ALL  -- every line ends '...' -> f_ellipsis must fail
      SELECT doc_id + 5000000, regexp_replace(text, '\s+', e'...\n', 'g') || '...'
      FROM documents
      UNION ALL  -- stopword-enriched -> f_stop passes; full battery CAN pass
      SELECT doc_id + 6000000, text || ' the be to of and that have with'
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS wc,
             len(regexp_replace(trim(text), '\s+', '', 'g')) AS wchars,
             regexp_split_to_array(text, '\n') AS lines,
             len(regexp_extract_all(text, '#|\.\.\.')) AS nsym
      FROM aug
    ),
    f AS (
      SELECT doc_id,
        CASE WHEN wc >= 50 AND wc <= 100000 THEN 1 ELSE 0 END AS f_wc,
        CASE WHEN wc > 0 AND wchars >= 3 * wc AND wchars <= 10 * wc
             THEN 1 ELSE 0 END AS f_mwl,
        CASE WHEN 10 * nsym <= wc THEN 1 ELSE 0 END AS f_sym,
        CASE WHEN 10 * len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
                  <= 9 * len(lines) THEN 1 ELSE 0 END AS f_bullet,
        CASE WHEN 10 * len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$')))
                  <= 3 * len(lines) THEN 1 ELSE 0 END AS f_ellipsis,
        CASE WHEN wc > 0 AND
                  5 * len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]')))
                  >= 4 * wc THEN 1 ELSE 0 END AS f_alpha,
        CASE WHEN len(list_filter(['the','be','to','of','and','that','have','with'],
                                  w -> list_contains(toks, w))) >= 2
             THEN 1 ELSE 0 END AS f_stop,
        CASE WHEN 10 * (len(lines) - len(list_distinct(lines))) <= 3 * len(lines)
             THEN 1 ELSE 0 END AS f_dupline
      FROM t
    )
    SELECT doc_id, f_wc, f_mwl, f_sym, f_bullet, f_ellipsis, f_alpha, f_stop,
           f_dupline,
           f_wc * f_mwl * f_sym * f_bullet * f_ellipsis * f_alpha * f_stop
             * f_dupline AS passes
    FROM f
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality rule battery (Rae et al. 2021, Table
    A1) per document: word-count bounds, mean-word-length bounds,
    symbol ratio, bullet/ellipsis line ratios, alphabetic-word ratio,
    minimum distinct stopwords — plus the conjunction. Every rule is an
    integer cross-multiplied comparison, so all eight columns are
    engine-exact with no rounding. This is the standard public filter a
    web corpus passes before training; at 100 TB it is one codegen'd
    projection over the scan."""
    from hazelcast_jet_contrib_spark.operators.dedup import _spread

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    wc = TX.word_count("text")
    # The six corpus variants ride ONE scan as an exploded struct array
    # (r17, guide §6/§2.4): the former six-way unionByName re-read the
    # documents parquet once per branch (6 scans in the plan; at 100 TB
    # that is six corpus reads for one logical pass). Per-variant
    # expressions are unchanged, so the row set is identical. _spread
    # first: the local fixture is 1-2 splits, and without it the 6x
    # regex battery runs on 1-2 cores (the old unions accidentally
    # bought 6x scan tasks — measured 2.2 s -> 7.4 s without the
    # spread, 6 underused cores); on a real corpus (thousands of
    # splits) _spread is a no-op and the single scan wins outright.
    variants = [
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.struct(  # symbol soup: one '#' per word -> f_sym must fail
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat("text", F.repeat(F.lit(" #"), wc)).alias("text"),
        ),
        F.struct(  # bulletized: every line starts '- ' -> f_bullet must fail
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat(F.lit("- "), F.regexp_replace("text", r"\s+", "\n- ")).alias("text"),
        ),
        F.struct(  # dealphabetized -> f_alpha must fail
            (F.col("doc_id") + 4000000).alias("doc_id"),
            F.regexp_replace("text", "[a-zA-Z]", "7").alias("text"),
        ),
        F.struct(  # every line ends '...' -> f_ellipsis must fail
            (F.col("doc_id") + 5000000).alias("doc_id"),
            F.concat(F.regexp_replace("text", r"\s+", "...\n"), F.lit("...")).alias("text"),
        ),
        F.struct(  # stopword-enriched -> f_stop passes; battery CAN pass
            (F.col("doc_id") + 6000000).alias("doc_id"),
            F.concat("text", F.lit(" the be to of and that have with")).alias("text"),
        ),
    ]
    aug = docs.select(F.explode(F.array(*variants)).alias("__v__")).select(
        F.col("__v__.doc_id").alias("doc_id"), F.col("__v__.text").alias("text")
    )
    g = TX.gopher_flags("text")
    flags = aug.select("doc_id", g.alias("g")).select("doc_id", "g.*")
    passes = (
        F.col("f_wc") * F.col("f_mwl") * F.col("f_sym") * F.col("f_bullet")
        * F.col("f_ellipsis") * F.col("f_alpha") * F.col("f_stop")
        * F.col("f_dupline")
    )
    return flags.select("*", passes.alias("passes"))


# ---------------------------------------------------------------------------
# Round-9: BPE encoding with a pinned merge list
# ---------------------------------------------------------------------------

# Pinned, corpus-independent merge list (training determinism is proven
# separately against a single-process reference in tests/test_bpe.py —
# the driver row pins the ENCODE path, which is the corpus-sized one).
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("d", "a"), ("da", "t"), ("dat", "a"), ("data", "</w>"),
    ("r", "o"), ("ro", "w"), ("row", "</w>"),
    ("a", "n"), ("e", "</w>"), ("s", "</w>"), ("o", "r"),
    ("t", "</w>"), ("i", "n"),
]


def _bpe_oracle() -> str:
    """DuckDB mirror of the greedy left-to-right BPE merge fold.

    Encoding trick: a word's symbol list is rendered as
    SEP + join(symbols, SEP+SEP) + SEP — every symbol wrapped in
    separators on BOTH sides, adjacent symbols sharing none — so ONE
    global non-overlapping replace of SEP+a+SEP+SEP+b+SEP with
    SEP+ab+SEP per merge is exactly the kernel's left-to-right pass
    (operators/bpe.py _apply_merges_py): the consumed trailing SEP and
    the next symbol's leading SEP reconstitute the SEP+SEP boundary, so
    consecutive pairs merge in the same sweep, while symbol fragments
    ('a' inside 'ta', 'b' as a prefix of 'bc') can never match."""
    sep = "chr(31)"

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    expr = (
        f"{sep} || array_to_string(list_transform(range(1, length(w) + 1), "
        f"i -> w[i]), {sep} || {sep}) || {sep} || {sep} || '</w>' || {sep}"
    )
    for a, b in _BPE_MERGES:
        pat = f"{sep} || {lit(a)} || {sep} || {sep} || {lit(b)} || {sep}"
        rep = f"{sep} || {lit(a + b)} || {sep}"
        expr = f"replace({expr}, {pat}, {rep})"
    word_tokens = f"list_filter(string_split({expr}, chr(31)), x -> x <> '')"
    return f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE flatten(list_transform(
                    regexp_split_to_array(lower(trim(text)), '\\s+'),
                    w -> {word_tokens}))
             END AS tokens
      FROM documents
    )
    SELECT doc_id, CAST(len(tokens) AS INT) AS n_tokens,
           array_to_string(tokens, ' ') AS toks_str
    FROM toks
    """


@query("bpe_encode_pinned", oracle=_bpe_oracle())
def bpe_encode_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-encode the documents corpus with a pinned 16-merge list —
    the full token stream (order-preserving) AND the per-doc token
    count are value-hash checked against a pure-SQL mirror of the
    greedy merge fold. Scale: encoding is one Arrow-batched pandas UDF
    pass with a per-batch word cache (each distinct word encodes once
    per batch); no shuffle at all — the hot corpus-sized path of the
    tokenizer family (operators/bpe.py bpe_encode)."""
    from hazelcast_jet_contrib_spark.operators.bpe import bpe_encode

    docs = table(spark, sf_dir, "documents")
    return bpe_encode(docs, _BPE_MERGES).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.array_join("tokens", " ").alias("toks_str"),
    )
