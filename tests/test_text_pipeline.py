"""Tests for the text-pipeline operators: sliding-window chunking,
sequence packing, PII redaction, random-hyperplane LSH, corpus mixing,
token-budget curation and the Zipf slope."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ubdc_airbnb_spark.functions import textstats
from ubdc_airbnb_spark.operators import chunking, sampling, similarity
from ubdc_airbnb_spark.sources.tables import load_table

from conftest import SF_DIR


# ---------------------------------------------------------------- chunking
def _chunk_rows(spark, texts, size, stride):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return (
        chunking.sliding_chunks(df, "doc_id", "text", size=size, stride=stride)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )


def test_chunks_cover_every_word(spark):
    texts = ["w" + " w".join(str(i) for i in range(n)) for n in (1, 5, 39, 40, 41, 95, 100)]
    rows = _chunk_rows(spark, texts, size=40, stride=30)
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in enumerate(texts):
        n = len(text.split())
        covered = set()
        for r in by_doc[doc_id]:
            covered.update(range(r.start_word, r.start_word + r.n_words))
        assert covered == set(range(1, n + 1)), f"doc {doc_id} not fully covered"


def test_chunk_overlap_and_no_suffix_tails(spark):
    rows = _chunk_rows(spark, [" ".join(f"t{i}" for i in range(95))], size=40, stride=30)
    starts = [r.start_word for r in rows]
    assert starts == [1, 31, 61]  # start 91 would be a pure suffix of 61..95
    # consecutive chunks overlap by size - stride = 10 words
    first, second = rows[0], rows[1]
    tail = first.chunk_text.split()[30:]
    head = second.chunk_text.split()[:10]
    assert tail == head


def test_chunk_text_reassembles(spark):
    text = " ".join(f"w{i}" for i in range(70))
    rows = _chunk_rows(spark, [text], size=40, stride=30)
    words = text.split()
    for r in rows:
        assert r.chunk_text.split() == words[r.start_word - 1 : r.start_word - 1 + r.n_words]
        assert r.n_words <= 40


# ------------------------------------------------------------- PII redact
def test_pii_redaction_removes_all_matches(spark):
    df = spark.createDataFrame(
        [
            (0, "reach me at jane.doe+x@mail.example.org thanks"),
            (1, "call +44 20 7946 0958 or +1-555-0042 now"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c.d@e.f.gov one phone +33 1 23 45 67 89"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        textstats.pii_email_count("text").alias("e"),
        textstats.pii_phone_count("text").alias("p"),
        textstats.pii_redact("text").alias("red"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].e == 1 and by_id[0].p == 0
    assert by_id[1].e == 0 and by_id[1].p == 2
    assert by_id[2].e == 0 and by_id[2].p == 0
    assert by_id[3].e == 2 and by_id[3].p == 1
    for r in out:
        assert not re.search(textstats.EMAIL_REGEX, r.red)
        assert not re.search(textstats.PHONE_REGEX, r.red)
        if r.e:
            assert "<EMAIL>" in r.red
        if r.p:
            assert "<PHONE>" in r.red


# ----------------------------------------------------- random-hyperplane LSH
def test_rp_planes_deterministic_and_balanced():
    a = similarity.rp_planes(16, 64)
    b = similarity.rp_planes(16, 64)
    assert a == b
    flat = [c for row in a for c in row]
    assert set(flat) == {1.0, -1.0}
    # md5-seeded signs should be roughly balanced
    pos = sum(1 for c in flat if c > 0)
    assert 0.4 < pos / len(flat) < 0.6


def test_rp_lsh_pairs_subset_of_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        (r.id_a, r.id_b)
        for r in similarity.rp_lsh_pairs(emb, threshold=0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.threshold_pairs(emb, threshold=0.4).collect()
    }
    # precision 1 after the verify step: every emitted pair is a true pair
    assert got <= exact
    # identical docs (duplicate vectors) must always collide in every band;
    # sanity: if exact pairs exist at this threshold, LSH should find some
    if exact:
        assert got


def test_rp_identical_vectors_always_pair(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(5)
    dup = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    pairs = {
        (r.id_a, r.id_b) for r in similarity.rp_lsh_pairs(both, threshold=0.99).collect()
    }
    for r in emb.select("vec_id").collect():
        assert (r.vec_id, r.vec_id + 100000) in pairs


# ------------------------------------------------------------ corpus mix
def test_hash_sample_fraction_tolerance(spark):
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    for frac in (0.25, 0.5):
        kept = sampling.hash_sample(docs, F.col("doc_id").cast("string"), frac).count()
        assert abs(kept / n - frac) < 0.15


def test_corpus_mix_rates_monotone(spark):
    from ubdc_airbnb_spark.queries import ns_corpus_mix

    rows = ns_corpus_mix(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r.n_kept <= r.n_total
        if r.rate_ppm == 1_000_000:
            assert r.n_kept == r.n_total


# ----------------------------------------------------------- token budget
def test_token_budget_maximal_prefix(spark):
    from ubdc_airbnb_spark.queries import ns_token_budget

    rows = (
        ns_token_budget(spark, SF_DIR)
        .orderBy(F.col("quality").desc(), "doc_id")
        .collect()
    )
    assert rows, "budget selected nothing"
    # cumulative sums are consistent and within budget
    run = 0
    for r in rows:
        run += r.n_tokens
        assert r.cum_tokens == run
        assert r.cum_tokens <= 10000
    # qualities are non-increasing (highest-quality docs first)
    quals = [r.quality for r in rows]
    assert quals == sorted(quals, reverse=True)


def test_lang_id_ngram_real_sentences(spark):
    """The trigram classifier must identify genuine language text — the
    discriminativeness check the synthetic corpus (whose lang label is
    independent of its text) cannot provide."""
    from ubdc_airbnb_spark.functions.textstats import lang_id_ngram

    sents = [
        ("en", "the quick brown fox jumps over the lazy dog and it is nothing special to think about"),
        ("de", "der schnelle braune fuchs springt über den faulen hund und ist nicht besonders wichtig"),
        ("fr", "le renard brun rapide saute par dessus le chien paresseux et ce n'est pas très spécial"),
        ("es", "el rápido zorro marrón salta sobre el perro perezoso y no es nada especial para pensar"),
        ("und", "zzz qqq 12345"),
    ]
    df = spark.createDataFrame(sents, "lang string, text string")
    got = {r.lang: r.p for r in df.select("lang", lang_id_ngram("text").alias("p")).collect()}
    assert got == {l: l for l, _ in sents}


def test_bm25_ranking_sanity(spark):
    """More query-term occurrences in a shorter doc must outrank fewer in
    a longer one; docs without any query term are absent."""
    from ubdc_airbnb_spark.operators.tfidf import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark fast"),
            (2, "spark " + "filler " * 50),
            (3, "nothing relevant here"),
            (4, "spark join"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["spark", "join"], k=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids
    assert ids[0] == 4 or ids[0] == 1  # both strong; doc 2 (diluted) must be last
    assert ids[-1] == 2
    assert [r.rank for r in out] == [1, 2, 3]
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


# -------------------------------------------------------- sequence packing


def test_sequence_pack_budget_invariants(spark):
    from ubdc_airbnb_spark.operators import chunking

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("toks")
    )
    out = chunking.sequence_pack(df, "doc_id", F.col("toks"), budget=128).collect()
    by_id = sorted(out, key=lambda r: r.doc_id)
    stream = 0
    for r in by_id:
        assert r.pack_id == stream // 128
        assert r.pack_offset == stream % 128
        stream += r.n_tokens


def test_zipf_slope_near_minus_one_for_zipfian_text(spark):
    from ubdc_airbnb_spark.operators.tfidf import zipf_slope

    # freq(rank r) = 120 // r for 12 word types: a discrete Zipf head
    toks = []
    for r in range(1, 13):
        toks += [f"w{r:02d}"] * (120 // r)
    df = spark.createDataFrame([(1, "z", " ".join(toks))], "doc_id long, source string, text string")
    got = zipf_slope(df, "source", "text", max_rank=12).collect()[0]
    assert got.n_ranks == 12
    assert -1.15 < got.slope < -0.85  # near the natural-language ideal
    assert got.slope == got.slope_num / got.slope_den  # ratio contract


def test_zipf_slope_flat_for_uniform_template(spark):
    from ubdc_airbnb_spark.operators.tfidf import zipf_slope

    text = " ".join([f"tok{i}" for i in range(30)] * 5)  # every type freq 5
    df = spark.createDataFrame([(1, "t", text)], "doc_id long, source string, text string")
    got = zipf_slope(df, "source", "text", max_rank=30).collect()[0]
    assert got.slope == 0.0  # constant y: templated feed, flat head
