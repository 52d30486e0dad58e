"""Cosine kernel contract tests (r11, VERDICT item 1 + ADVICE r10).

Pins the three-way contract between the Arrow-vectorized einsum kernel,
the sequential-fold HOF kernel, and the cardinality-gated dispatch in
``cosine_cols``:

- NULL / ragged / zero-length embedding rows must not crash the
  vectorized stage and must come out NULL (the HOF semantics) —
  the ADVICE r10 medium;
- NaN-component vectors are OUT OF CONTRACT and the divergence is
  pinned here (vectorized -> NULL, HOF -> NaN) — the ADVICE r10 low;
- both kernels produce identical top-k ranks on the same frame
  (the dispatch-safety invariant for ordering-only call sites);
- the dispatch itself: a sized call site below VECTORIZED_MIN_ROWS
  plans the HOF fold (no Python eval node), above it the Arrow kernel;
- a pair constructed within an ulp of a threshold pins kernel ==
  row-wise np.einsum semantics at the membership boundary, so a future
  kernel/BLAS change fails HERE instead of drifting the oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from ubdc_airbnb_spark.operators import similarity as sim


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_pairs(spark, rows):
    return spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )


def _cos_col(df, vectorized: bool):
    if vectorized:
        return sim.cosine(F.col("a"), F.col("b"))
    return sim.cosine_cols_exact("a", "b")


@pytest.mark.parametrize("vectorized", [True, False], ids=["arrow", "hof"])
def test_null_and_ragged_rows_yield_null_not_crash(spark, vectorized):
    rows = [
        (0, [1.0, 2.0, 2.0], [1.0, 2.0, 2.0]),   # cos = 1
        (1, None, [1.0, 0.0, 0.0]),               # NULL left
        (2, [1.0, 0.0, 0.0], None),               # NULL right
        (3, [1.0, 0.0], [1.0, 0.0, 0.0]),         # ragged pair
        (4, [], []),                              # zero-length
        (5, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),    # zero-norm
        (6, [3.0, 4.0, 0.0], [4.0, 3.0, 0.0]),    # cos = 24/25
    ]
    out = {
        r["id"]: r["cos"]
        for r in _mk_pairs(spark, rows)
        .select("id", _cos_col(_mk_pairs(spark, rows), vectorized).alias("cos"))
        .collect()
    }
    assert out[0] == pytest.approx(1.0)
    assert out[6] == pytest.approx(24.0 / 25.0)
    for bad in (1, 2, 3, 4, 5):
        assert out[bad] is None, f"row {bad} must be NULL, got {out[bad]}"


def test_all_invalid_batch_does_not_crash(spark):
    # a batch with NO valid row exercises the fallback's empty-groups path
    df = _mk_pairs(spark, [(0, None, [1.0]), (1, [1.0, 2.0], [3.0])])
    got = df.select(sim.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert [r["c"] for r in got] == [None, None]


def test_nan_component_contract_pinned(spark):
    """NaN components: HOF yields NaN (ordered above every number by
    both Spark and DuckDB), the Arrow kernel yields NULL (pandas->Arrow
    cannot carry NaN distinct from null). Out of contract — pinned so
    a kernel change that silently alters it is visible."""
    rows = [(0, [float("nan"), 1.0], [1.0, 1.0])]
    hof = _mk_pairs(spark, rows).select(
        sim.cosine_cols_exact("a", "b").alias("c")
    ).collect()[0]["c"]
    assert hof is not None and math.isnan(hof)
    vec = _mk_pairs(spark, rows).select(
        sim.cosine(F.col("a"), F.col("b")).alias("c")
    ).collect()[0]["c"]
    assert vec is None


def _toy_corpus(spark, n=40, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_topk_ranks_identical_across_kernels(spark, monkeypatch, tmp_path):
    """The dispatch-safety invariant (VERDICT r10 item 1): for an
    ordering-only operator, both kernels must produce the same
    (query_id, neighbor_id, rank) set on the same frame."""
    path = str(tmp_path / "emb_topk.parquet")
    _toy_corpus(spark).write.parquet(path)
    corpus = spark.read.parquet(path)  # footer-sized for the dispatch
    queries = _toy_corpus(spark, n=5, seed=11)
    # force each kernel through the size dispatch: a threshold above the
    # corpus size picks the HOF fold, a zero threshold the Arrow kernel
    monkeypatch.setattr(sim, "VECTORIZED_MIN_ROWS", 1 << 62)
    hof_df = sim.brute_force_topk(corpus, queries, k=4)
    assert "ArrowEvalPython" not in _plan(hof_df)
    hof = sorted(map(tuple, hof_df.collect()))
    monkeypatch.setattr(sim, "VECTORIZED_MIN_ROWS", 0)
    vec_df = sim.brute_force_topk(corpus, queries, k=4)
    assert "ArrowEvalPython" in _plan(vec_df)
    vec = sorted(map(tuple, vec_df.collect()))
    assert hof == vec


def test_dispatch_small_parquet_plans_hof(spark, tmp_path):
    """A sized call site under VECTORIZED_MIN_ROWS source rows must plan
    the HOF fold — no Python eval node at all (the Arrow per-query
    floor is what the dispatch exists to avoid at toy scale)."""
    path = str(tmp_path / "emb.parquet")
    _toy_corpus(spark, n=50).write.parquet(path)
    corpus = spark.read.parquet(path)
    queries = corpus.limit(3)
    plan = _plan(sim.brute_force_topk(corpus, queries, k=3))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dispatch_big_parquet_plans_arrow(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sim, "VECTORIZED_MIN_ROWS", 10)
    path = str(tmp_path / "emb_big.parquet")
    _toy_corpus(spark, n=50).write.parquet(path)
    corpus = spark.read.parquet(path)
    plan = _plan(sim.brute_force_topk(corpus, corpus.limit(3), k=3))
    assert "ArrowEvalPython" in plan


def test_footer_rows_estimate(spark, tmp_path):
    path = str(tmp_path / "emb_est.parquet")
    _toy_corpus(spark, n=37).write.parquet(path)
    df = spark.read.parquet(path)
    assert sim._footer_rows(df) == 37
    # derived frames still resolve to the source scan's footers
    assert sim._footer_rows(df.filter(F.col("vec_id") > 5).select("embedding")) == 37
    # in-memory frames: unknown -> None
    assert sim._footer_rows(_toy_corpus(spark, n=3)) is None


def test_plan_stats_rows_covers_cached_and_local_frames(spark, tmp_path):
    """The warm-cache case the footer path cannot see (r11): a frame
    whose optimized plan is a materialized InMemoryRelation has empty
    inputFiles but EXACT stats — the dispatch must still size it."""
    path = str(tmp_path / "emb_cached.parquet")
    _toy_corpus(spark, n=41).write.parquet(path)
    cached = spark.read.parquet(path).repartition(4).cache()
    cached.count()  # materialize so the cache stats are exact
    try:
        # a NEW frame over the same plan resolves to the InMemoryRelation
        probe = cached.select("vec_id", "embedding")
        assert probe.inputFiles() == []  # the footer path is blind here
        assert sim._approx_rows(probe) == 41
        # RDD-backed frames (createDataFrame) carry no rowCount stat:
        # unknown -> None -> the dispatch assumes BIG (the safe side)
        assert sim._approx_rows(_toy_corpus(spark, n=7)) is None
        # and the HOF dispatch engages on the cached frame
        plan = _plan(
            sim.brute_force_topk(probe, probe.limit(3), k=3)
        )
        assert "ArrowEvalPython" not in plan
    finally:
        cached.unpersist()


def test_near_threshold_membership_pins_kernel_semantics(spark):
    """ADVICE r10: threshold membership is ulp-sensitive when the HOF
    fold and the einsum kernel differ in summation order. Build a pair
    whose HOF cosine IS the threshold (exact equality, included), and
    pin the vectorized kernel's membership to row-wise np.einsum
    computed HERE — a future kernel/BLAS change that flips a
    near-threshold pair now fails this test instead of drifting the
    oracle. The data-dependence of threshold gates is documented at
    sim.cosine_cols."""
    rng = np.random.default_rng(3)
    a = [float(x) for x in rng.normal(size=64)]
    b = [float(x) for x in rng.normal(size=64)]

    # sequential left-to-right fold — the HOF/DuckDB summation order
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
    hof_in = df.filter(sim.cosine_cols_exact("a", "b") >= F.lit(thr)).count()
    assert hof_in == 1  # exact equality: the fold reproduces itself

    A = np.asarray([a])
    B = np.asarray([b])
    ein = float(
        np.einsum("ij,ij->i", A, B)[0]
        / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))[0]
    )
    expected_vec_in = 1 if ein >= thr else 0
    vec_in = df.filter(sim.cosine(F.col("a"), F.col("b")) >= F.lit(thr)).count()
    assert vec_in == expected_vec_in


def test_near_threshold_membership_under_both_dispatch_branches(spark, tmp_path):
    """r12 (VERDICT r11 item 8): run the ulp-boundary pair through the
    ``cosine_cols`` DISPATCH itself, under a sized_by frame on each side
    of VECTORIZED_MIN_ROWS — a future retune of the threshold (or a
    stats-estimation change) that silently flips a threshold gate's
    kernel now fails here, at the membership boundary, instead of
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

    # below the dispatch floor: the HOF fold runs (no Python eval node)
    # and exact threshold equality is INCLUDED, like the DuckDB oracle
    small = spark.range(sim.VECTORIZED_MIN_ROWS - 1).selectExpr("id AS doc_id")
    cond_small = df.filter(sim.cosine_cols("a", "b", sized_by=small) >= F.lit(thr))
    plan_small = _plan(cond_small)
    assert "ArrowEvalPython" not in plan_small and "BatchEvalPython" not in plan_small
    assert cond_small.count() == 1

    # at/above the floor: the Arrow kernel runs and membership must
    # match row-wise np.einsum computed here
    A = np.asarray([a])
    B = np.asarray([b])
    ein = float(
        np.einsum("ij,ij->i", A, B)[0]
        / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))[0]
    )
    big = spark.range(sim.VECTORIZED_MIN_ROWS).selectExpr("id AS doc_id")
    cond_big = df.filter(sim.cosine_cols("a", "b", sized_by=big) >= F.lit(thr))
    assert "ArrowEvalPython" in _plan(cond_big)
    assert cond_big.count() == (1 if ein >= thr else 0)
