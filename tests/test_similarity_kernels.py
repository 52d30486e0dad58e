"""Cosine kernel contract tests.

The engine has one cosine kernel, the sequential ``zip_with`` +
``aggregate`` fold that the DuckDB oracle replays. Pinned here:

- NULL / ragged / zero-length / zero-norm rows come out NULL, and a
  NaN component comes out NaN;
- the fold sums left to right: a pair whose cosine IS the threshold is
  included, and one ulp above it is not;
- no cosine call site plans a Python evaluation node, including the
  persisted-index serve path and frames whose size is unknown.

Product quantization and group-centroid similarity, the other
``similarity`` operators checked here, follow the kernel tests.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from ubdc_airbnb_spark import queries as q
from ubdc_airbnb_spark.operators import similarity as sim

from conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_pairs(spark, rows):
    return spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )


def test_null_and_ragged_rows_yield_null_not_crash(spark):
    rows = [
        (0, [1.0, 2.0, 2.0], [1.0, 2.0, 2.0]),   # cos = 1
        (1, None, [1.0, 0.0, 0.0]),               # NULL left
        (2, [1.0, 0.0, 0.0], None),               # NULL right
        (3, [1.0, 0.0], [1.0, 0.0, 0.0]),         # ragged pair
        (4, [], []),                              # zero-length
        (5, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),    # zero-norm
        (6, [3.0, 4.0, 0.0], [4.0, 3.0, 0.0]),    # cos = 24/25
        (7, [float("nan"), 1.0], [1.0, 1.0]),     # NaN component
    ]
    out = {
        r["id"]: r["cos"]
        for r in _mk_pairs(spark, rows)
        .select("id", sim.cosine_cols("a", "b").alias("cos"))
        .collect()
    }
    assert out[0] == pytest.approx(1.0)
    assert out[6] == pytest.approx(24.0 / 25.0)
    for bad in (1, 2, 3, 4, 5):
        assert out[bad] is None, f"row {bad} must be NULL, got {out[bad]}"
    # NaN orders above every number on Spark and DuckDB alike
    assert out[7] is not None and math.isnan(out[7])


def _toy_corpus(spark, n=40, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_index_serve_plans_no_python_eval(spark):
    """The persisted-index serve path reranks with the same fold as
    inline routing, so both rank last-ulp ties identically."""
    plan = _plan(q.ns_embed_ivf_index(spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_unsized_ivf_assignment_plans_no_python_eval(spark):
    """A createDataFrame frame has no size estimate; its assignment
    still runs the fold (the streaming IVF fold's micro-batches take
    this path)."""
    vecs = _toy_corpus(spark, n=20)
    cents = _toy_corpus(spark, n=3, seed=5).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    plan = _plan(sim.assign_ivf_buckets(vecs, cents))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_near_threshold_membership_pins_kernel_semantics(spark):
    """Threshold membership is exact against a left-to-right Python
    sum, the oracle's summation order: a pair whose cosine IS the
    threshold is included, and the next double above it excludes the
    pair. A kernel that reorders the sum fails here instead of
    drifting the oracle."""
    rng = np.random.default_rng(3)
    a = [float(x) for x in rng.normal(size=64)]
    b = [float(x) for x in rng.normal(size=64)]

    def fold_dot(x, y):
        acc = 0.0
        for xi, yi in zip(x, y):
            acc += xi * yi
        return acc

    def fold_norm(x):
        acc = 0.0
        for xi in x:
            acc += xi * xi
        return math.sqrt(acc)

    thr = fold_dot(a, b) / (fold_norm(a) * fold_norm(b))
    df = _mk_pairs(spark, [(0, a, b)])
    for cos in (sim.cosine_cols("a", "b"), sim.cosine(F.col("a"), F.col("b"))):
        assert df.select(cos.alias("c")).first()["c"] == thr
        assert df.filter(cos >= F.lit(thr)).count() == 1
        assert df.filter(cos >= F.lit(math.nextafter(thr, math.inf))).count() == 0


def test_centroid_probes_with_no_centroids_gives_no_rows(spark):
    vecs = _toy_corpus(spark, n=5)
    cents = spark.createDataFrame(
        [], "centroid_id long, centroid_vec array<double>"
    )
    out = sim.centroid_probes(vecs, cents, probes=2)
    assert out.columns == ["vec_id", "embedding", "centroid_id"]
    assert out.collect() == []


# ---------------------------------------------------- product quantization


def test_pq_codes_shape_and_range(spark):
    from ubdc_airbnb_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    cb = similarity.pq_codebook_from_seeds(emb, n_centroids=16, m=4, dim=64)
    codes = similarity.pq_codes(emb, cb, m=4, dim=64)
    assert codes.count() == n * 4  # m codes per vector
    rng = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).collect()[0]
    assert 0 <= rng.lo and rng.hi < 16


def test_pq_rerank_recall_vs_brute_force(spark):
    """An untrained 16-seed codebook over near-random 64-dim vectors has
    weak direct ADC recall (expected — PQ is a shortlist generator, not
    a ranker); the production shortlist+exact-rerank pattern must pull
    recall@5 up sharply (0.88 measured at shortlist=100 on this data)."""
    from ubdc_airbnb_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    cb = similarity.pq_codebook_from_seeds(emb, n_centroids=16, m=4, dim=64)
    codes = similarity.pq_codes(emb, cb, m=4, dim=64)
    adc = similarity.pq_adc_topk(codes, queries, cb, m=4, dim=64, k=5).collect()
    adc_set = {(r.query_id, r.neighbor_id) for r in adc}
    adc_recall = len(exact_set & adc_set) / len(exact_set)
    rr = similarity.pq_rerank_topk(
        emb, codes, queries, cb, m=4, dim=64, k=5, shortlist=100
    ).collect()
    rr_set = {(r.query_id, r.neighbor_id) for r in rr}
    rr_recall = len(exact_set & rr_set) / len(exact_set)
    assert rr_recall >= 0.6, f"rerank recall {rr_recall}"
    assert rr_recall >= adc_recall, (rr_recall, adc_recall)


def test_group_centroid_similarity_identical_groups_cos_one(spark):
    from ubdc_airbnb_spark.operators.similarity import group_centroid_similarity

    rows = [
        (1, "a", [1.0, 0.0]), (2, "a", [1.0, 0.5]),
        (3, "b", [1.0, 0.0]), (4, "b", [1.0, 0.5]),  # same centroid as a
        (5, "c", [0.0, 1.0]), (6, "c", [0.0, 2.0]),  # orthogonal-ish
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    got = {
        (r.label_a, r.label_b): r.cos
        for r in group_centroid_similarity(df, "label").collect()
    }
    assert got[("a", "b")] == 1.0  # identical centroids
    assert got[("a", "c")] < 0.5  # near-orthogonal centroids
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
