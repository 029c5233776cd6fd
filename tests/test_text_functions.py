"""Unit tests for text-analysis functions on hand-written (non-synthetic)
multilingual samples — validates the heuristics themselves, independent
of the oracle mirror checks in test_correctness_oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.functions import text as TX


@pytest.fixture(scope="module")
def samples(spark):
    rows = [
        (1, "en", "The cat sat on the mat and it was happy with this."),
        (2, "es", "El perro corre por el parque y los gatos duermen como una piedra."),
        (3, "de", "Der Hund läuft durch den Park und die Katze ist nicht da."),
        (4, "fr", "Le chien court dans le parc et les chats dorment pour une heure."),
        (5, "zh", "猫坐在垫子上它很开心"),
        (6, "und", "xyzzy plugh foobar"),
    ]
    return spark.createDataFrame(rows, "id long, expected string, text string")


def test_lang_id_on_real_sentences(spark, samples):
    out = samples.select("expected", TX.lang_id("text").alias("got")).collect()
    for r in out:
        assert r["got"] == r["expected"], r


def test_fingerprint_invariant_under_reorder(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha")], "id long, text string"
    )
    fps = [r["fp"] for r in df.select(TX.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_word_shingles_edges(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, ""), (4, "one two three")], "id long, text string"
    )
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", TX.word_shingles("text", 3).alias("sh")).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []
    assert got[3] == []
    assert got[4] == ["one two three"]


def test_quality_score_orders_sensibly(spark):
    df = spark.createDataFrame(
        [
            (1, "The report describes the data and the methods in detail " * 5),
            (2, "!!! ??? 123 456 ... ;;; %%% "),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["q"] for r in df.select("id", TX.quality_score("text").alias("q")).collect()}
    assert got[1] > got[2]
    assert 0.0 <= got[2] < got[1] <= 1.0


def test_token_estimate_counts_symbols(spark):
    df = spark.createDataFrame([(1, "hello, world! 42")], "id long, text string")
    # hello , world ! 42  -> 5
    assert df.select(TX.token_estimate("text").alias("t")).collect()[0]["t"] == 5


def test_gopher_flags_each_rule_fires(spark):
    """One crafted document per rule, plus one that passes the whole
    battery — each flag is exercised in both directions."""
    from hazelcast_jet_contrib_spark.functions.text import gopher_flags

    good = (
        "the quick brown fox jumps over that lazy dog and we have gone "
        "to market with all of our wares because it was a fine day " * 3
    )
    docs = [
        ("good", good),
        ("short", "too few words here"),  # f_wc
        ("longwords", " ".join(["pneumonoultramicroscopic"] * 60)),  # f_mwl
        ("symbols", good + " " + "# " * 40),  # f_sym
        ("bullets", "- a\n- b\n- c"),  # f_bullet
        ("ellipsis", "first line...\nsecond line...\nthird..."),  # f_ellipsis
        ("numeric", " ".join(["12345"] * 60)),  # f_alpha
        ("nostop", " ".join(["lorem", "ipsum", "dolor"] * 30)),  # f_stop
        ("duplines", "same line here\n" * 10 + "one other line"),  # f_dupline
    ]
    df = spark.createDataFrame(docs, "name string, text string")
    out = {
        r["name"]: r
        for r in df.select("name", gopher_flags("text").alias("g")).select(
            "name", "g.*"
        ).collect()
    }
    g = out["good"]
    assert all(
        g[f] == 1
        for f in ("f_wc", "f_mwl", "f_sym", "f_bullet", "f_ellipsis", "f_alpha",
                  "f_stop", "f_dupline")
    ), dict(g.asDict())
    assert out["short"]["f_wc"] == 0
    assert out["longwords"]["f_mwl"] == 0
    assert out["symbols"]["f_sym"] == 0
    assert out["bullets"]["f_bullet"] == 0
    assert out["ellipsis"]["f_ellipsis"] == 0
    assert out["numeric"]["f_alpha"] == 0
    assert out["nostop"]["f_stop"] == 0
    assert out["duplines"]["f_dupline"] == 0
