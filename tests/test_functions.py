"""Scalar-function tests: hashing parity with DuckDB, fingerprints vs a
Python oracle, text statistics on crafted inputs, URL canonicalization."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from ubdc_airbnb_spark.functions import hashing, textstats


def test_md5_long_matches_duckdb(spark):
    samples = ["", "a", "hello world", "ünïcode ✓", "0123456789" * 10]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r.s: r.h for r in df.select("s", hashing.md5_long("s").alias("h")).collect()}
    for s in samples:
        expected = duckdb.sql(
            "SELECT " + hashing.md5_long_sql("?").replace("?", "$tok$" + s + "$tok$")
        ).fetchall()[0][0]
        assert got[s] == expected, s


def test_rolling_fingerprint_matches_python_oracle(spark):
    def oracle(s: str, base=131, mod=hashing.MERSENNE31) -> int:
        acc = 0
        for ch in s:
            acc = (acc * base + ord(ch)) % mod
        return acc

    samples = ["abc", "the quick brown fox", "x" * 500]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r.s: r.fp for r in df.select("s", hashing.rolling_fingerprint("s").alias("fp")).collect()}
    for s in samples:
        assert got[s] == oracle(s), s


def test_lang_id_on_marker_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze ist hier"),
            (3, "le chat et la maison les arbres"),
            (4, "xyzzy plugh foobar"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", textstats.lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_bounds_and_ordering(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    bad = "@@@@ #### !!!! %%%% ^^^^ &&&&"
    df = spark.createDataFrame([(1, good), (2, bad)], "id long, text string")
    got = {r.id: r.q for r in df.select("id", textstats.quality_score("text").alias("q")).collect()}
    assert 0.0 <= got[2] < got[1] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "id long, text string")
    r = df.select(
        textstats.whitespace_token_count("text").alias("ws"),
        textstats.regex_token_count("text").alias("rx"),
    ).collect()[0]
    assert r.ws == 4
    # Hello , world ! 42 times -> 6 regex tokens
    assert r.rx == 6


def test_char_and_word_ngrams_edges(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "abcd"), (3, "a b c d")], "id long, text string")
    got = {
        r.id: (list(r.cg), list(r.wg))
        for r in df.select(
            "id",
            textstats.char_ngrams("text", 3).alias("cg"),
            textstats.word_ngrams("text", 3).alias("wg"),
        ).collect()
    }
    assert got[1] == ([], [])  # shorter than n
    assert got[2][0] == ["abc", "bcd"]
    assert got[3][1] == ["a b c", "b c d"]


# --------------------------------------------------------- charset profile


def test_script_profile_counts(spark):
    df = spark.createDataFrame([("ab1 \tZ",)], "text string")
    row = df.select(*textstats.script_profile("text")).collect()[0]
    assert row.n_chars_total == 6
    assert row.n_ascii_letters == 3
    assert row.n_digits == 1
    assert row.n_whitespace == 2
    assert row.n_non_ascii == 0
    assert row.ascii_letter_ratio == 0.5


def test_mojibake_gate(spark):
    df = spark.createDataFrame(
        [("clean english text", False), ("éééé x", True)],
        "text string, want boolean",
    )
    got = df.select("want", textstats.is_mojibake_suspect("text").alias("sus")).collect()
    for r in got:
        assert r.sus == r.want


# ---------------------------------------------------- URL canonicalization


def test_canonical_url_variants_collapse(spark):
    from ubdc_airbnb_spark.functions import urltools

    df = spark.createDataFrame(
        [
            ("HTTPS://Example.COM/a/?b=2&a=1&utm_source=x#frag",),
            ("https://example.com/a?a=1&b=2&fbclid=zzz",),
            ("https://example.com/a?a=1&b=2",),
        ],
        "url string",
    )
    got = df.select(urltools.canonical_url("url").alias("c")).distinct().collect()
    assert len(got) == 1
    assert got[0].c == "https://example.com/a?a=1&b=2"


def test_canonical_url_keeps_non_tracking_and_empty_query(spark):
    from ubdc_airbnb_spark.functions import urltools

    df = spark.createDataFrame(
        [
            ("http://h.io/p?utm_campaign=c",),   # only tracking -> no query
            ("http://h.io/p",),
            ("http://h.io/p?id=7",),            # non-tracking survives
        ],
        "url string",
    )
    got = [r.c for r in df.select(urltools.canonical_url("url").alias("c")).collect()]
    assert got[0] == "http://h.io/p"
    assert got[1] == "http://h.io/p"
    assert got[2] == "http://h.io/p?id=7"
