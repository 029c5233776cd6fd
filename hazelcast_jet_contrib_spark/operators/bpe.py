"""Distributed byte-pair-encoding (BPE) vocabulary training and
encoding — the subword-tokenizer induction step of an LLM data
pipeline, run as Spark dataflow.

Reference lineage: the reference tokenizes only by whitespace split
inside its hashing service (HashingSupport.java:42-48); BPE is the
standard next step every training pipeline takes before token
counting/packing (functions/text.py, operators/curation.py), so the
trainer joins the engine's text family.

Scale shape — the part worth reading:
  * ONE corpus-sized pass, ever: the initial word-frequency count
    (tokenize → explode → groupBy word). Everything after runs on the
    WORD-FREQUENCY relation (|vocab| rows, corpus-size-independent):
    training cost does not grow when the corpus does, only when the
    vocabulary does.
  * Each merge round is one shuffle over that small relation: adjacent
    symbol pairs are built by a HOF zip of the symbol array with its
    own tail (no explode of characters to rows until the pair count),
    weighted by word frequency, aggregated, and the argmax pair — ONE
    row — comes to the driver (deterministic tiebreak: highest count,
    then lexicographic pair).
  * The merge is APPLIED in pure Catalyst: a left-to-right
    non-overlapping fold over each word's symbol array (F.aggregate),
    exactly classic BPE's merge order. No Python runs over words
    during training.
  * Lineage is cut per round (localCheckpoint) — iterative plans
    otherwise double per iteration (see operators/graph.py).

Encoding a corpus with the trained merges is the hot path and uses an
Arrow-batched pandas UDF (k sequential HOF folds would nest expression
trees k deep); the per-batch merge application is the same
deterministic algorithm, shared via `_apply_merges_py`.

Determinism: seeded by nothing — word counts, pair counts and
tiebreaks are exact, so the merge list is a pure function of the
corpus (asserted against a single-process reference implementation in
tests/test_bpe.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.functions.text import tokens

END = "</w>"  # end-of-word sentinel (classic BPE)


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(
            F.explode(tokens(text_col)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    # ["h","e","y","</w>"]
    return F.concat(
        F.split(word, ""), F.array(F.lit(END))
    )


def _merge_expr(symbols: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) into a+b,
    as a pure-Catalyst fold — classic BPE merge order."""
    merged = a + b
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
            # guard: the trailing `a` must not itself be the result of a
            # merge in THIS round... it cannot be: the merged token a+b
            # only ever replaces the pair, and a+b != a (b non-empty)
            ,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns the merge
    list in order — a pure function of the corpus (deterministic
    tiebreaks). Stops early when no pair reaches ``min_pair_count``."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    words = _word_counts(docs, text_col).select(
        _initial_symbols(F.col("word")).alias("sym"), "freq"
    )
    merges: list[tuple[str, str]] = []
    last_cp = None  # superseded checkpoint snapshots freed per round
    for _ in range(num_merges):
        words = words.localCheckpoint(eager=True)  # cut per-round lineage
        from hazelcast_jet_contrib_spark.cache import checkpoint_rdd_handle

        if last_cp is not None:
            # the new checkpoint materialized FROM last round's — free
            # its blocks now instead of at driver GC (at most two
            # word-table snapshots resident at any moment)
            last_cp.unpersist(False)
        last_cp = checkpoint_rdd_handle(words)
        pairs = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("sym"), 1, F.size("sym") - 1),
                        F.slice(F.col("sym"), 2, F.size("sym") - 1),
                        lambda x, y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(
                F.col("n").desc(), F.col("p.a").asc(), F.col("p.b").asc()
            )
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["n"] < min_pair_count:
            break
        a, b = pairs[0]["p"]["a"], pairs[0]["p"]["b"]
        merges.append((a, b))
        words = words.select(
            _merge_expr(F.col("sym"), a, b).alias("sym"), "freq"
        )
    # the merge list is the output — the last word-table snapshot has
    # no consumer past this point
    if last_cp is not None:
        last_cp.unpersist(False)
    return merges


def _apply_merges_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Single-word reference/encode kernel: same algorithm as
    `_merge_expr`, applied merge-by-merge in training order."""
    sym = list(word) + [END]
    for a, b in merges:
        out: list[str] = []
        for x in sym:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        sym = out
    return sym


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize a corpus with a trained merge list. Output:
    (``id_col``, tokens array<string>, n_tokens int). Arrow-batched
    pandas UDF with a per-batch word cache — each distinct word in a
    batch is encoded once regardless of its frequency."""
    from pyspark.sql.functions import pandas_udf

    mlist = list(merges)

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(t: str) -> list[str]:
            out: list[str] = []
            for w in (t or "").lower().strip().split():
                if w not in cache:
                    cache[w] = _apply_merges_py(w, mlist)
                out.extend(cache[w])
            return out

        return texts.map(enc)

    return docs.select(
        F.col(id_col),
        encode(F.col(text_col)).alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens"))


__all__ = ["train_bpe", "bpe_encode", "END"]
