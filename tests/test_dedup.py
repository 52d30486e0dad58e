"""Near-duplicate detection operators: sorted-neighborhood and SimHash
pairs, cluster resolution, LSH bucket caps and the digest-contracted
candidate generators against the naive compositions."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


# ----------------------------------- sorted-neighborhood and SimHash pairs


def test_sorted_neighborhood_finds_adjacent_twins(spark):
    from ubdc_airbnb_spark.operators import dedup

    sk = spark.createDataFrame(
        [(1, 0b1010), (2, 0b1011), (3, 0b1111_0000_1010_0101), (4, 0b1010)],
        "doc_id long, simhash long",
    )
    got = {
        (r.id_a, r.id_b)
        for r in dedup.sorted_neighborhood_pairs(sk, window=3, max_hamming=1).collect()
    }
    # 1,2,4 sort adjacently (values 10,11,10); 3 is far in hamming space
    assert (1, 4) in got and (1, 2) in got and (2, 4) in got
    assert not any(3 in p for p in got)


def test_sorted_neighborhood_pairs_all_within_radius(spark):
    from ubdc_airbnb_spark.operators import dedup
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sk = dedup.simhash(docs, "doc_id", "text", bits=32)
    pairs = dedup.sorted_neighborhood_pairs(sk, window=3, max_hamming=3)
    joined = (
        pairs.join(sk.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha")), "id_a")
        .join(sk.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb")), "id_b")
    )
    bad = joined.filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) > 3).count()
    assert bad == 0 and pairs.count() > 0


def test_simhash_hamming_pairs_matches_bruteforce(spark):
    """The scale-shaped decomposition (hamming-0 via sketch-value groups
    + banded pigeonhole over DISTINCT sketches, verify inside the join)
    must emit byte-identical pairs to the brute-force all-pairs scan —
    including exact-dup multiplicity (groups of identical sketches)."""
    from ubdc_airbnb_spark.operators import dedup

    # crafted sketches: an identical triple, a hamming-1/2/3 chain off
    # it, a hamming-4 outsider (excluded), and a far singleton
    base = 0b1011_0110_1100_0011_0101_1010_0110_1001
    rows = [
        (1, base), (2, base), (3, base),
        (4, base ^ 0b1),                 # hamming 1
        (5, base ^ 0b110),               # hamming 2
        (6, base ^ (1 << 31) ^ (1 << 15) ^ 1),  # hamming 3
        (7, base ^ 0b1111),              # hamming 4 from base
        (8, 0x0F0F0F0F),
    ]
    sk = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_hamming_pairs(sk, "doc_id").collect()
    }
    want = set()
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1:]:
            d = bin(ha ^ hb).count("1")
            if d <= 3:
                want.add((min(ida, idb), max(ida, idb), d))
    assert got == want
    assert (1, 2, 0) in want and (7, 4, 3) not in got  # sanity on the fixture


def test_simhash_hamming_pairs_on_corpus(spark):
    """sf0.001 corpus: exact equivalence to the brute-force pair scan."""
    from ubdc_airbnb_spark.operators import dedup
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sk = dedup.simhash(docs, "doc_id", "text", bits=32)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_hamming_pairs(sk, "doc_id").collect()
    }
    vals = [(r.doc_id, r.simhash) for r in sk.collect()]
    want = set()
    for i, (ida, ha) in enumerate(vals):
        for idb, hb in vals[i + 1:]:
            d = bin(ha ^ hb).count("1")
            if d <= 3:
                want.add((min(ida, idb), max(ida, idb), d))
    assert got == want


def test_simhash_hamming_pairs_max_group_viral_cap(spark):
    """r07: max_group drops sketch values above the member cap from pair
    generation ENTIRELY (both the hamming-0 expansion and near-pair
    membership) — the brute-force reference is the all-pairs scan over
    the SURVIVING rows only; cap=None keeps full parity (tested above)."""
    from ubdc_airbnb_spark.operators import dedup

    base = 0b1011_0110_1100_0011_0101_1010_0110_1001
    rows = (
        [(i, base) for i in range(1, 7)]        # viral group, 6 members
        + [(10, base ^ 0b1), (11, base ^ 0b1)]  # hamming-1 pair group of 2
        + [(12, base ^ 0b110)]                  # hamming-2 singleton
    )
    sk = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_hamming_pairs(sk, "doc_id", max_group=3).collect()
    }
    surviving = [(i, h) for i, h in rows if i >= 10]  # the 6-group is dropped
    want = set()
    for i, (ida, ha) in enumerate(surviving):
        for idb, hb in surviving[i + 1:]:
            d = bin(ha ^ hb).count("1")
            if d <= 3:
                want.add((min(ida, idb), max(ida, idb), d))
    assert got == want
    assert (10, 11, 0) in got         # small groups keep their pairs
    assert not any(a <= 6 or b <= 6 for a, b, _ in got)  # viral group gone


# --------------------------------------------------- clusters and LSH caps


def test_canonical_per_cluster_picks_best_and_counts(spark):
    from ubdc_airbnb_spark.operators.dedup import canonical_per_cluster

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "id long, component long",
    )
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.2), (6, 0.2)],
        "doc_id long, q double",
    )
    out = {
        r.component: (r.canonical_id, r.n_members)
        for r in canonical_per_cluster(comp, docs, prefer=F.col("q")).collect()
    }
    # cluster 1: quality tie 2 vs 3 -> min id 2; singleton keeps itself;
    # cluster 5: tie 5 vs 6 -> 5
    assert out == {1: (2, 3), 4: (4, 1), 5: (5, 2)}


def test_lsh_viral_bucket_cap(spark):
    """max_bucket drops boilerplate mega-clusters from pair expansion
    (B^2 blowup) while keeping ordinary near-dup pairs; exact_duplicates
    recovers the dropped cluster in O(B)."""
    from ubdc_airbnb_spark.operators.dedup import (
        exact_duplicates,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "empty page please enable javascript to continue") for i in range(40)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=16, ngram=3, shingle="word")

    uncapped = lsh_candidate_pairs(sigs, "doc_id", 16, 4)
    capped = lsh_candidate_pairs(sigs, "doc_id", 16, 4, max_bucket=10)
    # the 40-clone cluster contributes 780 pairs uncapped, none capped
    assert uncapped.filter(F.col("id_a") < 100).count() == 40 * 39 // 2
    assert capped.filter(F.col("id_a") < 100).count() == 0
    # the genuine near-dup pair survives the cap
    assert [(r.id_a, r.id_b) for r in capped.collect()] == [(100, 101)]
    # and the dropped cluster is exactly what the O(B) exact pass resolves
    ex = exact_duplicates(docs, "doc_id", "text").filter(F.col("n_docs") > 1).collect()
    assert len(ex) == 1 and ex[0].n_docs == 40 and ex[0].keep_id == 0


# ------------------------------------------------------ digest contraction


_CONTRACTION_BASE = [
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy dog today",
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs right now",
    "pack my box with five dozen liquor jugs right here",
    "completely unrelated text about spark catalyst optimizer plans",
    "",      # zero grams: all-NULL signature, 0/0 jaccard edge
    "   ",   # different digest, same degenerate signature
]


def _replicated_docs(spark, replicas=3):
    rows = [
        (i * 100 + r, t)
        for i, t in enumerate(_CONTRACTION_BASE)
        for r in range(replicas)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _naive_lsh(docs, max_bucket=None):
    from ubdc_airbnb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=16, ngram=3, shingle="word")
    return lsh_candidate_pairs(sigs, "doc_id", 16, 4, max_bucket=max_bucket)


def test_minhash_lsh_contraction_equivalence(spark):
    """r08: the digest-contracted candidate generator must be
    SET-IDENTICAL to the naive banded self-join on a replicated corpus
    (exact dups, near-dups, zero-gram docs), with and without
    max_bucket — the r07-deferral acceptance criterion."""
    from ubdc_airbnb_spark.operators.dedup import minhash_lsh_pairs

    docs = _replicated_docs(spark)
    naive = {(r.id_a, r.id_b) for r in _naive_lsh(docs).collect()}
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", 16, 4).collect()
    }
    assert got == naive and len(naive) > 30
    # within-group pairs present (identical sigs share every band)
    assert (0, 1) in got and (600, 601) in got
    # zero-gram docs pair across digest groups (shared degenerate bands)
    assert (600, 700) in got

    # member-weighted max_bucket: naive bucket occupancy counts DOCS,
    # and the fox family (9 members across 3 near-dup groups) overflows
    # a cap of 8 wherever the three groups agree on a band
    for cap in (8, 2):
        naive_c = {(r.id_a, r.id_b) for r in _naive_lsh(docs, max_bucket=cap).collect()}
        got_c = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", 16, 4, max_bucket=cap
            ).collect()
        }
        assert got_c == naive_c, cap
    assert len(naive_c) < len(naive)


def test_lsh_jaccard_contraction_equivalence(spark):
    """r08: contracted candidates + rep-level jaccard verify vs the
    naive composition the gate ran through r07 — full-row set equality."""
    from ubdc_airbnb_spark.functions.textstats import word_ngrams_expr
    from ubdc_airbnb_spark.operators.dedup import lsh_jaccard_pairs

    docs = _replicated_docs(spark)

    def _naive_jaccard(pairs):
        return {
            tuple(r)
            for r in spark.sql(
                f"""
                WITH grams AS (
                  SELECT doc_id, array_distinct({word_ngrams_expr('`text`', 3)}) AS g
                  FROM {{docs}}
                ),
                scored AS (
                  SELECT p.id_a, p.id_b,
                         size(array_intersect(ga.g, gb.g)) AS inter,
                         size(ga.g) + size(gb.g)
                           - size(array_intersect(ga.g, gb.g)) AS union_n
                  FROM {{pairs}} p
                  JOIN grams ga ON ga.doc_id = p.id_a
                  JOIN grams gb ON gb.doc_id = p.id_b
                )
                SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
                       CAST(union_n AS BIGINT) AS union_n
                FROM scored WHERE inter * 10 >= union_n * 3
                """,
                docs=docs,
                pairs=pairs,
            ).collect()
        }

    naive = _naive_jaccard(_naive_lsh(docs))
    got = {
        tuple(r)
        for r in lsh_jaccard_pairs(docs, "doc_id", "text", 16, 4, 3, 0.3).collect()
    }
    assert got == naive
    # sanity: the 0/0 degenerate pairs are IN (naive semantics), and
    # within-group rows carry inter == union_n (J = 1)
    zero = {t for t in naive if t[2] == 0}
    assert zero and all(t[3] == 0 for t in zero)
    assert {t for t in naive if t[0] == 0 and t[1] == 1}.pop()[2] > 0

    # r09 (ADVICE cap-parity): member-weighted max_bucket on the jaccard
    # composition must match the naive capped composition exactly — the
    # near-dup viral-bucket guard minhash_lsh_pairs already had
    for cap in (8, 2):
        naive_c = _naive_jaccard(_naive_lsh(docs, max_bucket=cap))
        got_c = {
            tuple(r)
            for r in lsh_jaccard_pairs(
                docs, "doc_id", "text", 16, 4, 3, 0.3, max_bucket=cap
            ).collect()
        }
        assert got_c == naive_c, cap
    assert len(naive_c) < len(naive)


def test_digest_max_group_composition(spark):
    """max_group drops viral digest groups from pair generation in both
    contracted emitters; exact_duplicates recovers them in O(B) — the
    cap-parity twin of test_lsh_viral_bucket_cap."""
    from ubdc_airbnb_spark.operators.dedup import (
        exact_duplicates,
        lsh_jaccard_pairs,
        minhash_lsh_pairs,
        ngram_containment_pairs,
    )

    rows = [(i, "empty page please enable javascript to continue") for i in range(40)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
        (102, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (
        lambda d, **kw: minhash_lsh_pairs(d, "doc_id", "text", 16, 4, **kw),
        lambda d, **kw: lsh_jaccard_pairs(d, "doc_id", "text", 16, 4, 3, 0.3, **kw),
        lambda d, **kw: ngram_containment_pairs(d, "doc_id", "text", 3, 0.5, **kw),
    ):
        capped = fn(docs, max_group=10).select("id_a", "id_b")
        ids = {r.id_a for r in capped.collect()} | {r.id_b for r in capped.collect()}
        assert ids and ids <= {100, 101, 102}          # viral cluster gone
        assert capped.filter("id_a = 100 and id_b = 101").count() == 1
    ex = exact_duplicates(docs, "doc_id", "text").filter(F.col("n_docs") > 1)
    assert {(r.keep_id, r.n_docs) for r in ex.collect()} == {(0, 40), (100, 2)}
