"""Training-data curation operators: stratified sampling, token-budget
sequence packing, n-gram vocabulary building, and PII redaction.

Not in the reference (these are the LLM-pipeline extensions mandated by
SURVEY.md §7 phase 6) — each is designed scale-first:

- ``stratified_sample``: per-stratum Bernoulli sampling by a
  deterministic hash of the row key. ZERO shuffle — the sample is a
  scan-level filter Catalyst can push down, which is the only sampling
  strategy that survives 100 TB (an exact-N-per-stratum sample needs a
  per-stratum global sort; see ``topn_per_stratum`` for the
  small-stratum path).
- ``pack_token_budget``: assigns documents to fixed-token-budget packs
  (context-window packing). Packing is inherently sequential, so it
  shards first (deterministic hash shard) and packs independently
  within each shard: the window runs per shard — ~n/shards rows each,
  balanced by the hash — never one global sort.
- ``ngram_vocab``: corpus-wide top-k n-grams. Explode → partial-agg →
  one shuffle on the n-gram key; the top-k is a driver-bounded limit.
- ``redact_pii`` / ``pii_match_counts``: regex redaction as pure
  Catalyst expressions (no Python in the row path).

The deterministic sample hash is a Knuth multiplicative LCG on the key
((key * 2654435761) mod 2^32) — chosen over xxhash64 because every SQL
engine can evaluate it, so DuckDB oracles can reproduce the exact
sample; swap ``sample_u32`` for xxhash64 when cross-engine parity is
not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LCG_A = 2654435761  # Knuth's multiplicative constant (2^32 / phi)
LCG_M = 2**32


def sample_u32(key: Column | str) -> Column:
    """Deterministic uniform-ish value in [0, 2^32) from an integer key."""
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(k.cast("bigint") * F.lit(LCG_A), F.lit(LCG_M))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli sample: keep a row iff its key's hash falls
    under the stratum's rate threshold. Deterministic (same rows every
    run), zero-shuffle (pure filter), and composable with pushdown —
    the curation primitive for rebalancing a 100 TB corpus mix."""
    thresh = F.lit(int(default_rate * LCG_M))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * LCG_M))
        ).otherwise(thresh)
    return df.filter(sample_u32(key_col) < thresh)


def topn_per_stratum(
    df: DataFrame, strata_col: str, key_col: str, n: int
) -> DataFrame:
    """Exact N rows per stratum, chosen by the deterministic sample hash
    (pseudo-random but reproducible). Needs a per-stratum sort, so the
    window shuffles on the stratum — the small-stratum/exact-count path;
    prefer ``stratified_sample`` when strata are huge or skewed."""
    w = Window.partitionBy(strata_col).orderBy(sample_u32(key_col), F.col(key_col))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__")
    )


def pack_token_budget(
    df: DataFrame,
    key_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 64,
) -> DataFrame:
    """Context-window packing: documents are assigned (in deterministic
    key order, independently within each of ``n_shards`` hash shards) to
    consecutive packs of at most ``budget`` tokens — a document whose
    preceding shard-cumulative reaches the budget starts the next pack.
    A single document larger than the budget gets a pack of its own
    (first-fit-with-overflow; bins never split a document).

    Output: input columns + (shard int, pack_id bigint). Pack ids are
    per-shard; (shard, pack_id) is the global pack key.
    """
    shard = F.pmod(sample_u32(key_col), F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn("shard", shard).withColumn(
        "__cum_before__", F.coalesce(F.sum(token_col).over(w), F.lit(0))
    )
    # floor(cumulative-before / budget) reproduces first-fit-with-
    # overflow exactly when no document exceeds the budget; oversized
    # documents may pull successors into their overflow pack, which is
    # the accepted semantic (documented above) and what the SQL oracle
    # computes too.
    return out.withColumn(
        "pack_id", F.floor(F.col("__cum_before__") / F.lit(budget)).cast("bigint")
    ).drop("__cum_before__")


def ngram_vocab(
    df: DataFrame, text_col: str, n: int = 2, top_k: int = 100
) -> DataFrame:
    """Corpus-wide n-gram vocabulary: top_k n-grams by document-token
    frequency. One explode (linear), one shuffle on the n-gram key with
    map-side partial aggregation, and a bounded top-k sort — the shape
    that survives a 100 TB corpus because the reduce side only carries
    distinct n-grams. Ties break lexicographically for determinism.
    Output: (ngram string, n bigint)."""
    from hazelcast_jet_contrib_spark.functions.text import shingle_list_of_tokens, tokens

    # materialize the token array as its own column BEFORE the n-gram
    # transform: referencing the split() expression inside it would
    # re-split the text once per element (the HOF re-evaluation pitfall
    # functions/text.py documents); docs with fewer than n tokens yield
    # no n-grams
    return (
        df.select(tokens(text_col).alias("__t__"))
        .select(F.explode(shingle_list_of_tokens("__t__", n)).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(top_k)
    )


# Conservative patterns evaluable identically by Java regex and RE2
# (DuckDB) — no backreferences, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_match_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind match counts as Catalyst expressions."""
    c = F.col(text) if isinstance(text, str) else text
    return {kind: F.regexp_count(c, F.lit(pat)) for kind, pat in PII_PATTERNS.items()}


def redact_pii(text: Column | str, replacement: str = "[PII]") -> Column:
    """Replace every PII match with ``replacement`` — a chain of
    regexp_replace expressions, whole-stage-codegen friendly."""
    c = F.col(text) if isinstance(text, str) else text
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, replacement)
    return c


def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination detection: for each training document,
    count how many DISTINCT word-``n``-grams it shares with the
    benchmark corpus. Emits (id, hits, doc_ngrams, overlap_ratio) for
    contaminated docs only (hits > 0).

    Scale shape (tightened round 14): the benchmark n-gram set is tiny
    by definition (eval sets are thousands of rows, the corpus is the
    100 TB side), so it is DISTINCT-aggregated and broadcast; the
    corpus side streams through explode → broadcast LEFT join (a
    distinct bench set makes the join multiplicity exactly 1, so the
    per-doc total and the hit count both fall out of ONE aggregation)
    → per-doc count. The tokenize/explode kernel — the dominant linear
    cost — runs ONCE, the corpus n-grams never shuffle, and the only
    exchange in the whole plan is the final per-doc-id aggregation,
    keyed by the 8-byte id (previously: two kernel passes, two
    aggregations, and an aggregate-join)."""
    from hazelcast_jet_contrib_spark.functions.text import shingles_of_tokens, tokens

    def doc_ngrams(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col).alias("id")] if with_id else []
        toked = df.select(*cols, tokens(text_col).alias("__toks__"))
        sh = toked.select(
            *(["id"] if with_id else []),
            F.explode(shingles_of_tokens("__toks__", n)).alias("s"),
        )
        return sh

    bench_set = doc_ngrams(benchmark, with_id=False).distinct().withColumn(
        "__hit__", F.lit(1)
    )
    d = doc_ngrams(docs, with_id=True)
    return (
        d.join(F.broadcast(bench_set), "s", "left")
        .groupBy("id")
        .agg(
            F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("doc_ngrams"),
        )
        .filter(F.col("hits") > 0)
        .select(
            "id",
            "hits",
            "doc_ngrams",
            F.round(F.col("hits") / F.col("doc_ngrams"), 6).alias("overlap_ratio"),
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style intra-document repetition: per document, the
    fraction of word-``n``-grams that are repeats of an earlier
    occurrence (0.0 = all distinct, →1.0 = the document is one phrase
    looping). Pure Catalyst higher-order functions — no explode, no
    shuffle, no Python: each row computes its own ratio in one pass,
    which is the only shape that matters when the filter runs over
    every document of a 100 TB corpus.

    Output: (id, ngrams, distinct_ngrams, dup_ratio)."""
    from hazelcast_jet_contrib_spark.functions.text import (
        shingle_list_of_tokens,
        tokens,
    )

    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks__")
    ).select("id", shingle_list_of_tokens("__toks__", n).alias("__sh__"))
    total = F.size("__sh__")
    distinct = F.size(F.array_distinct("__sh__"))
    return toked.select(
        "id",
        total.alias("ngrams"),
        distinct.alias("distinct_ngrams"),
        F.when(total > 0, F.round((total - distinct) / total, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    fingerprint_cols: list[str],
) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots keyed by
    ``key_col``: one row per key present in either side, with
    ``status`` ∈ added | removed | changed | unchanged. Content
    equality is decided by an md5 fingerprint over
    ``fingerprint_cols`` — the incremental-curation primitive (what
    changed between crawl N and crawl N+1 drives which documents
    re-enter the dedup/filter pipeline).

    Scale shape: each side reduces to (key, 16-byte fingerprint) AT
    SCAN TIME, so the full-outer join shuffles ~24-byte rows — never
    document payloads, which dominate row width at 100 TB. With both
    snapshots bucketed by key the join is a zero-exchange merge; the
    fingerprint compare keeps wide-column equality out of the join
    condition entirely.
    """

    def fp(df: DataFrame, out: str) -> DataFrame:
        cols = [F.col(c).cast("string") for c in fingerprint_cols]
        return df.select(
            F.col(key_col).alias("key"),
            F.md5(F.concat_ws("\x1f", *cols)).alias(out),
        )

    j = fp(old, "__fp_old__").join(fp(new, "__fp_new__"), "key", "full_outer")
    status = (
        F.when(F.col("__fp_old__").isNull(), F.lit("added"))
        .when(F.col("__fp_new__").isNull(), F.lit("removed"))
        .when(F.col("__fp_old__") == F.col("__fp_new__"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("key").alias(key_col), status.alias("status"))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with overlap — the
    context-window chunking every embedding/pretraining pipeline runs
    before tokenizer-level packing. Chunk i covers whitespace tokens
    [i*stride, i*stride + chunk_tokens); the last chunk may be short; a
    document shorter than one chunk yields exactly one chunk.

    Scale shape: pure Catalyst — split once, posexplode a bounded
    sequence (ceil((n - chunk)/stride) + 1 entries), slice the token
    array per chunk. Linear in corpus size, no shuffle at all; output
    row count is input tokens x (chunk/stride) overlap factor, known in
    advance. ``stride < chunk_tokens`` gives overlapping windows;
    ``stride == chunk_tokens`` gives disjoint blocks.

    Output: (id, chunk_idx int, chunk_text string, n_tokens int).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks__")).withColumn(
        "__n__", F.size("__toks__")
    )
    n_chunks = F.when(
        F.col("__n__") <= chunk_tokens, F.lit(1)
    ).otherwise(
        F.ceil((F.col("__n__") - chunk_tokens) / F.lit(stride)).cast("int") + 1
    )
    exploded = base.select(
        "id",
        "__toks__",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "__s__"),
    )
    piece = F.slice(
        F.col("__toks__"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return exploded.select(
        "id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("int").alias("n_tokens"),
    )


def unigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.5,
    min_count: int | None = None,
) -> DataFrame:
    """Unigram-LM quality scoring — the CCNet/Gopher-style perplexity
    filter every pretraining pipeline runs: train a smoothed unigram
    language model on the corpus token counts, score each document by
    its per-token surprise. Documents far above the corpus median are
    rare-token noise (mojibake, hex dumps); far below are boilerplate.

    Emits per document:
      * ``n_tokens``        — scored token occurrences,
      * ``bits_per_token``  — cross-entropy avg(-log2 p(tok)) under the
        additive-smoothed model p = (c + α) / (N + αV),
      * ``mean_inv_p``      — avg(1/p), a fully rational perplexity
        proxy (monotone in token rarity) for consumers that need
        bit-reproducible scores across engines (libm log2 is not).

    Scale shape: tokenize + explode once (linear); token counts are one
    shuffle that REDUCES to the vocabulary; the model (token → p) is
    broadcast back, so scoring adds zero shuffle beyond the per-doc
    aggregation. Two scalar actions (N, V) are driver-side but O(1).
    At open-web scale the raw vocabulary is unbounded (typos, hashes) —
    pass ``min_count`` to collapse tokens below the threshold into one
    OOV bucket, which bounds the broadcast at the true vocabulary size
    (the same move CCNet makes by scoring with a fixed tokenizer). The
    collapsed tokens' observed counts are AGGREGATED into the OOV
    bucket (its probability is (Σc_rare + α) / (N + α(V'+1)) with V'
    the kept vocabulary) — rare tokens score with their combined
    mass, not as near-unseen.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # counts is VOCABULARY-sized (tiny next to the corpus) and feeds
    # both the scalar totals action below and the broadcast model in
    # the returned plan — cached, the corpus tokenize+explode kernel
    # runs twice total (counts build + per-doc scoring) instead of
    # three times (round 14; released via cache.release_tracked())
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    counts = tracked_persist(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    )
    mc = 0 if min_count is None else min_count
    tot = counts.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") >= mc, 1).otherwise(0)).alias("v_kept"),
        F.sum(F.when(F.col("c") < mc, F.col("c")).otherwise(0)).alias("oov_c"),
    ).collect()[0]
    # an all-empty corpus aggregates to sum(c) = NULL and zero vocab;
    # the per-doc output is empty either way, but the model constants
    # must stay finite (found by hypothesis, tests/test_properties.py)
    n_total, v_kept = int(tot["n"] or 0), int(tot["v_kept"] or 0)
    denom = float(n_total) + alpha * (v_kept + (1 if min_count else 0)) or 1.0
    model = counts if min_count is None else counts.filter(F.col("c") >= min_count)
    probs = model.select(
        "tok", ((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("p")
    )
    if min_count is None:
        scored = toks.join(F.broadcast(probs), "tok")
    else:
        # rare tokens fall back to the OOV bucket, which carries their
        # aggregated observed mass plus one smoothing pseudo-count
        oov_p = (int(tot["oov_c"] or 0) + alpha) / denom
        scored = toks.join(F.broadcast(probs), "tok", "left").withColumn(
            "p", F.coalesce(F.col("p"), F.lit(oov_p))
        )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.avg(-F.log2("p")).alias("bits_per_token"),
        F.avg(F.lit(1.0) / F.col("p")).alias("mean_inv_p"),
    )


def mix_to_target(
    df: DataFrame,
    group_col: str,
    id_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Downsample-only mixture rebalancing to EXPLICIT target weights —
    the data-mixing step where the recipe prescribes proportions per
    source/domain (e.g. 60% web / 30% code / 10% reference) rather than
    a power-law transform (that is ``temperature_resample``).

    The output is the LARGEST corpus achievable by pure downsampling
    whose group shares match ``targets``: with w_g the normalized
    target weight and c_g the group count, total N = min_g(c_g / w_g)
    and each group keeps rate r_g = w_g * N / c_g (the binding group
    keeps everything). Groups absent from ``targets`` are dropped.

    A POSITIVE-weight target group with zero rows in the data is an
    error (``ValueError``), not a silent re-mix: the only conforming
    mixture would be empty, and the overwhelmingly likely cause is a
    typo'd group name — which previously returned 100% of the present
    groups at full size, a silently wrong training mixture.

    Scale shape: one count aggregation reduced to the (tiny) group
    domain, rates computed on the driver from those scalars, and a
    deterministic Knuth-hash accept per row — the corpus itself never
    shuffles, identical to ``stratified_sample``. Rates use only
    IEEE-754 +,*,/ (correctly rounded), so an external SQL oracle can
    replay every accept decision bit-exactly.
    """
    if not targets or any(w < 0 for w in targets.values()):
        raise ValueError("targets must be a non-empty {group: weight>=0} map")
    tot_w = float(sum(targets.values()))
    if tot_w <= 0:
        raise ValueError("target weights sum to zero")
    counts = {
        r[group_col]: r["__c__"]
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c__")).collect()
        if r[group_col] in targets
    }
    missing = sorted(g for g, w in targets.items() if w > 0 and g not in counts)
    if missing:
        raise ValueError(
            f"positive-weight target group(s) absent from the data: {missing}; "
            "the only mixture conforming to the targets is empty — check the "
            "group names (a typo here would otherwise silently re-mix over the "
            "present groups only)"
        )
    # binding group: the one whose supply runs out first. Zero-weight
    # targets contribute no supply constraint (their rate is 0); every
    # positive-weight group is present (checked above), so supplies is
    # non-empty whenever tot_w > 0.
    supplies = [counts[g] / (targets[g] / tot_w) for g in counts if targets[g] > 0]
    n_total = min(supplies)
    p = 2147483647
    rate_expr = None
    for g in counts:
        w = targets[g] / tot_w
        r_g = min(1.0, (w * n_total) / counts[g])
        if rate_expr is None:
            rate_expr = F.when(F.col(group_col) == g, F.lit(r_g))
        else:
            rate_expr = rate_expr.when(F.col(group_col) == g, F.lit(r_g))
    rate = rate_expr.otherwise(F.lit(-1.0))  # group not targeted: drop
    accept = (
        ((F.col(id_col) % p) * F.lit(2654435761 % p)) % p
    ).cast("double") < rate * F.lit(float(p))
    return df.filter(accept)


def bigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.5,
    interp: float = 0.7,
) -> DataFrame:
    """Interpolated bigram-LM quality scoring — the context-aware step
    up from ``unigram_lm_score`` toward the n-gram-KenLM filters CCNet
    ships: token i scores under
    ``p = interp * p_bigram + (1-interp) * p_unigram`` with
    ``p_bigram = (c(prev,cur)+α)/(c(prev)+αV)`` and the additive-
    smoothed unigram as backoff; each document's FIRST token scores
    with the unigram alone (no left context). Catches what a unigram
    cannot: shuffled/boilerplate word salad whose tokens are all
    common but whose transitions never co-occur in the corpus.

    Emits per document: ``n_tokens``, ``bits_per_token``
    (avg -log2 p), and ``mean_inv_p`` (avg 1/p — the fully rational
    perplexity proxy; division is IEEE-correctly-rounded so external
    engines replay it exactly, unlike libm log2).

    Scale shape: tokenization explodes once per token and once per
    bigram (both linear, pure Catalyst HOFs — no self-join to form
    pairs); counts reduce to the unigram/bigram vocabularies; scoring
    joins each doc's bigram rows to the two count relations by key.
    At test scale those model sides broadcast; at open-web scale the
    bigram table outgrows any broadcast and the join degrades
    gracefully to a hash join on the bigram key — still linear, and
    AQE skew-splits stopword-pair hot keys. Driver-side scalars are
    O(1) (N, V). The count relations are not cached: materializing them
    measured +60% on 8×-longer documents (4.68 s uncached vs 7.48 s
    cached) and never won on the corpus-count axis (SCALE.md
    §Bigram-LM scoring).
    """
    toks_arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )
    base = df.select(F.col(id_col).alias("id"), toks_arr.alias("__t__")).withColumn(
        "__n__", F.size("__t__")
    )
    uni = base.select("id", F.explode("__t__").alias("tok"))
    # bigram rows via HOF slice — no positional self-join
    big = base.filter(F.col("__n__") >= 2).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(2), F.col("__n__")),
                lambda i: F.struct(
                    F.element_at("__t__", i - 1).alias("prev"),
                    F.element_at("__t__", i).alias("cur"),
                ),
            )
        ).alias("__i__", "bg"),
    ).select("id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))

    ucounts = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    bcounts = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb"))
    tot = ucounts.agg(F.sum("cu").alias("n"), F.count(F.lit(1)).alias("v")).collect()[0]
    n_total, vocab = int(tot["n"] or 0), int(tot["v"] or 0)
    udenom = float(n_total) + alpha * vocab or 1.0

    p_uni = (F.col("cu") + F.lit(alpha)) / F.lit(udenom)
    # first token of every doc: unigram only
    first = base.filter(F.col("__n__") >= 1).select(
        "id", F.element_at("__t__", 1).alias("tok")
    )
    first_scored = first.join(ucounts, "tok").select(
        "id", p_uni.alias("p")
    )
    prev_c = ucounts.select(F.col("tok").alias("prev"), F.col("cu").alias("cprev"))
    cur_c = ucounts.select(F.col("tok").alias("cur"), F.col("cu").alias("ccur"))
    p_big = (F.col("cb") + F.lit(alpha)) / (
        F.col("cprev") + F.lit(alpha * vocab)
    )
    p_cur = (F.col("ccur") + F.lit(alpha)) / F.lit(udenom)
    rest_scored = (
        big.join(bcounts, ["prev", "cur"])
        .join(prev_c, "prev")
        .join(cur_c, "cur")
        .select(
            "id",
            (F.lit(interp) * p_big + F.lit(1.0 - interp) * p_cur).alias("p"),
        )
    )
    return (
        first_scored.unionByName(rest_scored)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.avg(-F.log2("p")).alias("bits_per_token"),
            F.avg(F.lit(1.0) / F.col("p")).alias("mean_inv_p"),
        )
    )


def temperature_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    temperature: float = 0.5,
) -> DataFrame:
    """Mixture temperature resampling — the multilingual/domain
    balancing step (GPT-3-style p ∝ cᵀ): deterministically downsample
    each group so effective sizes follow ``count^temperature``, keeping
    the smallest group intact. Per-group keep rate is
    ``(c_min / c_g)^(1 - T)`` — T=1 keeps everything, T=0 levels every
    group down to the smallest.

    Scale shape: one count aggregation that reduces to the group
    domain, one O(1) driver scalar (the min), rates broadcast back, and
    a deterministic hash-threshold accept per row (the same Knuth-hash
    convention as ``stratified_sample`` — reproducible across runs and
    engines, no RNG state). The corpus itself never shuffles.

    T = 0.5 (and 0.25, 0.75 via chained sqrt) uses ``sqrt``, which IEEE
    754 requires correctly rounded — so an external SQL oracle can pin
    every accept decision bit-exactly. Other temperatures fall back to
    ``pow``, which libm does NOT guarantee identical across engines;
    fine for production, not for exact cross-engine replay.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c__"))
    cmin = counts.agg(F.min("__c__")).collect()[0][0]
    if cmin is None:
        return df.limit(0)
    ratio = F.lit(float(cmin)) / F.col("__c__")
    expo = 1.0 - temperature
    if abs(expo - 0.5) < 1e-12:
        rate = F.sqrt(ratio)
    elif abs(expo - 0.25) < 1e-12:
        rate = F.sqrt(F.sqrt(ratio))
    elif abs(expo - 0.75) < 1e-12:
        rate = F.sqrt(ratio) * F.sqrt(F.sqrt(ratio))
    else:
        rate = F.pow(ratio, F.lit(expo))
    rates = counts.withColumn("__rate__", rate)
    # accept hash mod the Mersenne prime 2^31-1 with the multiplier
    # pre-reduced (2654435761 % P): every intermediate stays below
    # 2^62, so the decision is exact in int64 for ANY id — the raw
    # Knuth product overflows signed 64-bit at id ≈ 3.5e9, going
    # negative and accepting everything past that point
    p = 2147483647
    accept = (
        ((F.col(id_col) % p) * F.lit(2654435761 % p)) % p
    ).cast("double") < F.col("__rate__") * F.lit(float(p))
    # null-safe group join: NULL is a real group (counted above) and
    # must keep its rows — a plain equi-join would silently drop it
    return (
        df.join(
            F.broadcast(rates),
            df[group_col].eqNullSafe(rates[group_col]),
        )
        .drop(rates[group_col])
        .filter(accept)
        .drop("__c__", "__rate__")
    )


def crossdoc_duplicate_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_tokens: int = 20,
) -> DataFrame:
    """Cross-document duplicated-block detection — the distributed
    approximation of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): carve every document
    into disjoint ``block_tokens``-token blocks, fingerprint each block,
    and report per document how much of it also appears verbatim in
    OTHER documents. High ``dup_ratio`` with a low near-dup Jaccard is
    the boilerplate signature (shared headers/footers/license blocks)
    that document-level dedup cannot see.

    Scale shape: the block fingerprint relation feeds TWO consumers —
    the distinct-doc count and the join back — so it is CACHED: the
    tokenize/chunk/fingerprint kernel runs ONCE, not once per consumer
    (a strict win at every scale — measured interleaved at sf0.1:
    kernel dedup alone beats the recompute shape). Only 8-byte
    fingerprints shuffle after that. The cache is not laid out on bh:
    that extra materialization exchange measured ~0.3 s at local
    scale, where AQE broadcasts the count side anyway (SCALE.md
    §Cross-document duplicated blocks). The cache stays alive for the
    returned lazy plan —
    long-lived sessions call ``cache.release_tracked()`` between
    stages. A 64-bit fingerprint collision merges two blocks with
    probability ~(#blocks)²/2⁶⁴ — negligible below ~10¹² blocks; at
    true 100 TB block counts, widen to two seeded xxhash64 columns.

    Output: (id, n_blocks int, dup_blocks int, dup_ratio double) —
    dup_ratio = fraction of the doc's blocks found in ≥2 distinct docs.
    """
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    blocks = tracked_persist(
        chunk_documents(
            df, id_col, text_col, chunk_tokens=block_tokens, stride=block_tokens
        ).select("id", F.xxhash64("chunk_text").alias("bh"))
    )
    counts = blocks.groupBy("bh").agg(
        F.count_distinct("id").alias("nd")
    )
    dup = F.when(F.col("nd") > 1, 1).otherwise(0)
    return (
        blocks.join(counts, "bh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_blocks"),
            F.sum(dup).cast("int").alias("dup_blocks"),
            F.round(F.avg(dup.cast("double")), 6).alias("dup_ratio"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL cross-document duplicated-span extraction — the
    actionable form of exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    where ``crossdoc_duplicate_blocks`` scores how much of a document
    is duplicated, this returns the exact token intervals to cut.

    Method (pure Catalyst, no Python stages): slide a
    ``shingle_tokens``-token window at stride 1 over each document's
    whitespace tokens; a shingle occurring verbatim in >= ``min_docs``
    distinct documents is duplicated; runs of consecutive duplicated
    positions merge into maximal spans via gaps-and-islands (lag +
    running sum over a per-document window). A run of positions p..q
    covers tokens [p, q + shingle_tokens - 1], so every returned span
    is a maximal interval in which EVERY shingle_tokens-gram is shared
    — Lee et al.'s >= threshold-length repeated substring, at token
    granularity.

    Scale shape: after the split, only (id, pos, 8-byte xxhash64)
    rows move — one shuffle to count distinct docs per shingle
    (map-side partial), one hash join back onto positions, one
    per-document window for the island assignment; the final
    (id, island) rollup reuses the window's hash partitioning on id
    (subset rule), adding no exchange. Everything is linear in corpus
    token count; the window is per-document, so no single task ever
    holds more than one document's positions beyond the shuffle
    partition it lives in. 64-bit fingerprint collisions merge foreign
    shingles with probability ~(#shingles)²/2⁶⁴ — negligible below
    ~10¹² shingles; widen to two seeded hashes at true 100 TB.

    Output: (id, span_start int, span_end int, span_tokens int) —
    0-based inclusive token indices, one row per maximal span. Spans
    are maximal runs of consecutive duplicated SHINGLE positions; two
    runs separated by a gap shorter than ``shingle_tokens`` produce
    token intervals that overlap (each is independently maximal) — a
    removal pass should union the intervals per document first.
    """
    if shingle_tokens < 2:
        raise ValueError("shingle_tokens must be >= 2")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks__")).withColumn(
        "__n__", F.size("__toks__")
    )
    from hazelcast_jet_contrib_spark.cache import tracked_persist

    # persist the (id, pos, hash) shingle relation: it feeds BOTH the
    # distinct-doc count and the join back — without the persist the
    # split + posexplode + hash lineage (the corpus tokenization, the
    # dominant linear cost) runs once per consumer (same persist
    # precedent as minhash_lsh_pairs' shared signature aggregate).
    # Lifetime: tracked — long-lived sessions reclaim it via
    # cache.release_tracked() (the bench harness clearCache()s per
    # query anyway).
    pos_df = tracked_persist(
        base.filter(F.col("__n__") >= shingle_tokens)
        .select(
            "id",
            F.posexplode(
                F.sequence(F.lit(0), F.col("__n__") - shingle_tokens)
            ).alias("pos", "__s__"),
            F.xxhash64(
                F.concat_ws(
                    " ", F.slice("__toks__", F.col("__s__") + 1, shingle_tokens)
                )
            ).alias("__sh__"),
        )
        .drop("__s__")
    )
    counts = pos_df.groupBy("__sh__").agg(F.count_distinct("id").alias("__nd__"))
    dup = (
        pos_df.join(counts, "__sh__")
        .filter(F.col("__nd__") >= min_docs)
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    islands = dup.withColumn(
        "__new__",
        F.when(F.col("pos") - F.lag("pos", 1).over(w) <= 1, 0).otherwise(1),
    ).withColumn("__isl__", F.sum("__new__").over(w))
    return (
        islands.groupBy("id", "__isl__")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + shingle_tokens - 1).cast("int").alias("span_end"),
            (F.max("pos") - F.min("pos") + shingle_tokens).cast("int").alias(
                "span_tokens"
            ),
        )
        .drop("__isl__")
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The CUT half of exact-substring dedup: given ``duplicate_spans``
    output (id, span_start, span_end), produce each document's cleaned
    text with every covered token removed. Overlapping spans (adjacent
    islands closer than one shingle — see duplicate_spans) are unioned
    here by construction: covered positions are collected as a set.

    Scale shape: only SPAN rows explode (one row per covered token —
    bounded by corpus duplicated-token count, not corpus size); the
    covered-position set joins back to documents by id (8-byte key) and
    the token filter runs as higher-order functions over the already-
    split token array — documents are never exploded, no Python stages,
    one shuffle for the per-doc position set + the id join.

    Output: (id, cleaned_text string, n_tokens_kept int,
    n_tokens_removed int). Documents with no spans pass through
    unchanged (left join; removed = 0).
    """
    covered = (
        spans.select(
            "id",
            F.explode(F.sequence("span_start", "span_end")).alias("__pos__"),
        )
        .groupBy("id")
        .agg(F.collect_set("__pos__").alias("__cov__"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks__"))
    kept = F.filter(
        F.transform("__toks__", lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.coalesce(
            F.array_contains("__cov__", s["i"]), F.lit(False)
        ),
    )
    return (
        base.join(covered, "id", "left")
        .withColumn("__kept__", kept)
        .select(
            "id",
            F.concat_ws(
                " ", F.transform("__kept__", lambda s: s["t"])
            ).alias("cleaned_text"),
            F.size("__kept__").cast("int").alias("n_tokens_kept"),
            (F.size("__toks__") - F.size("__kept__")).cast("int").alias(
                "n_tokens_removed"
            ),
        )
    )


def rarity_weighted_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Per-document top-k salient terms by tf x corpus-rarity — the
    tf-idf-style keyword extraction used for corpus exploration and
    topic balancing. The rarity weight is the BM25-style rational
    (N - df + 0.5) / (df + 0.5) instead of an ln()-based idf:
    transcendental functions are not bit-reproducible across engines'
    libm implementations, while one rational division is — so an
    external SQL oracle can pin every score exactly.

    Scale shape: tokenize once (linear), aggregate (doc, term) counts
    (one shuffle), aggregate term document-frequencies from that (one
    more shuffle over distinct terms — already reduced, tiny next to
    the corpus), broadcast-join the term weights back, per-doc top-k via
    window. Ties break by term for determinism. The (id, term, tf)
    relation is not cached for its two consumers: materializing it
    measured slower than re-running the tokenize kernel on both the
    corpus-count and document-length axes (0.83/1.01 s and 1.31/1.48 s
    uncached/cached, SCALE.md §Salient terms).

    Output: (id, term, tf bigint, score double, rank int).
    """
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    # tf rows are unique per (id, term) by construction, so document
    # frequency is a plain count — no distinct-aggregate expansion
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weight = (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "id", "term", "tf", F.round(F.col("tf") * weight, 6).alias("score")
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select("id", "term", "tf", "score", "rank")
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fractions: tuple[int, int, int] = (90, 5, 5),
) -> DataFrame:
    """Train/val/test assignment that can never leak near-duplicates
    across splits: the unit of assignment is the near-dup COMPONENT,
    not the document. A plain per-doc hash split puts two near-copies
    of the same page on both sides of the train/test boundary — the
    classic eval-contamination bug ordinary `hash_split` cannot see;
    here every member of a cluster inherits the cluster's split, and
    singletons fall back to their own id, so isolated documents get
    exactly the per-doc behavior.

    Determinism: the split is a pure function of (component id,
    fractions) via the engine-portable affine-mod-Mersenne hash — the
    same content-stable property as hash_split_assignment, now at
    cluster granularity, so the assignment survives re-sharding and
    incremental corpus growth (a NEW near-dup of an assigned doc joins
    its component and therefore its split).

    Scale: components come from the pair graph only; one left join of
    the corpus against them (AQE broadcasts the small side); no window
    over the corpus. ``pairs`` is any (id_a, id_b) near-dup relation.

    Output: one row per doc — (``id_col``, component_id, split string).
    """
    if sum(fractions) != 100 or any(f < 0 for f in fractions):
        raise ValueError("fractions must be non-negative and sum to 100")
    from hazelcast_jet_contrib_spark.functions.sketches import affine_hash
    from hazelcast_jet_contrib_spark.operators.dedup import connected_components

    comps = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("component").alias("component_id")
    )
    with_comp = docs.select(id_col).join(comps, id_col, "left").select(
        id_col,
        F.coalesce(F.col("component_id"), F.col(id_col)).alias("component_id"),
    )
    bucket = affine_hash("component_id", 0) % 100
    train_cut, val_cut = fractions[0], fractions[0] + fractions[1]
    split = (
        F.when(bucket < train_cut, F.lit("train"))
        .when(bucket < val_cut, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return with_comp.select(id_col, "component_id", split.alias("split"))


def quality_ensemble(
    signals: DataFrame,
    id_col: str,
    directions: dict[str, int],
    weights: dict[str, float] | None = None,
    clip: float = 3.0,
) -> DataFrame:
    """Combine heterogeneous per-document quality signals (LM
    bits-per-token, Gopher ratios, classifier scores, lengths …) into
    ONE robust score — the ensembling step pipelines run before a
    single keep/drop threshold, since no individual filter survives
    every failure mode (unigram misses word salad, the classifier
    misses rare-token noise, …).

    Method: each signal is robust-standardized against the corpus —
    (x - median) / IQR from ONE `percentile_approx` aggregation
    broadcast back (never a global sort or rank window, which would
    single-partition the corpus) — then sign-aligned by ``directions``
    (+1 = higher is better, -1 = lower is better), SOFT-clipped by the
    strictly monotone squash clip*z / (clip + |z|) (bounded to ±clip
    so one wild signal cannot dominate, but never collapsing order the
    way a hard clip does when the inlier spread is tiny relative to
    the outliers), and weight-averaged.

    Output: (``id_col``, quality double) — higher is better; NULL
    signals contribute 0 (corpus-typical) rather than poisoning the
    row. Scale: one aggregation pass + one broadcast join; everything
    else is per-row arithmetic in codegen.
    """
    if not directions:
        raise ValueError("directions must name at least one signal column")
    for c, d in directions.items():
        if d not in (1, -1):
            raise ValueError(f"direction for {c} must be +1 or -1")
        if c not in signals.columns:
            raise ValueError(f"signal column {c} not in input")
    w = {c: 1.0 for c in directions} if weights is None else dict(weights)
    if set(w) != set(directions):
        raise ValueError("weights must cover exactly the direction columns")
    total_w = sum(w.values())
    if total_w <= 0:
        raise ValueError("weights must sum positive")

    stats = signals.agg(
        *[
            F.percentile_approx(F.col(c).cast("double"), [0.25, 0.5, 0.75])
            .alias(f"__q_{c}__")
            for c in directions
        ]
    )
    parts = []
    for c, d in directions.items():
        q = F.col(f"__q_{c}__")
        med = q[1]
        iqr = F.greatest(q[2] - q[0], F.lit(1e-12))
        z = (F.col(c).cast("double") - med) / iqr * F.lit(float(d))
        z = F.lit(clip) * z / (F.lit(clip) + F.abs(z))
        parts.append(F.coalesce(z, F.lit(0.0)) * F.lit(w[c] / total_w))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return signals.join(F.broadcast(stats)).select(
        F.col(id_col), F.round(score, 6).alias("quality")
    )
