"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.density import MAX_LEVEL, DensityModel, predict_discovery  # noqa: E402
from perfbench.inputs import build_inputs, dup20_documents  # noqa: E402
from perfbench.stats import result_digest, tail  # noqa: E402
from perfbench.workloads import Workload  # noqa: E402


# --- the tail rule: highest percentile with >= 10 samples beyond it ------

def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, beyond = tail(xs)
    assert value == 90.0 and beyond == 10
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0


def test_tail_ignores_input_order_and_small_samples():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
    value, pct, beyond = tail(xs)
    assert (value, beyond) == (1.0, 10)  # 12 samples: only the 2nd lowest qualifies
    assert pct == pytest.approx(100 * 2 / 12)
    assert tail([3.0, 1.0]) == (3.0, 100.0, 0)
    assert tail([]) == (0.0, 0.0, 0)


# --- output checks ---------------------------------------------------------

class _FakeQE:
    def executedPlan(self):
        return None


class _FakeJdf:
    def queryExecution(self):
        return _FakeQE()


class _FakeFrame:
    def __init__(self, pdf):
        self._jdf = _FakeJdf()
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Spec:
    name = "fake_query"

    def __init__(self, pdf):
        self._pdf = pdf

    def spark(self, spark, data_dir):
        return _FakeFrame(self._pdf)


def test_corrupted_expected_digest_counts_as_failure():
    pdf = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    good = result_digest(pdf)
    w = Workload(spark=None, seed=1, tracer=None)
    w.run_query(_Spec(pdf), "unused", good)
    assert (w.s.attempted, w.s.failed) == (1, 0)
    corrupted = good[:-1] + ("0" if good[-1] != "0" else "1")
    w.run_query(_Spec(pdf), "unused", corrupted)
    assert (w.s.attempted, w.s.failed) == (2, 1)
    assert len(w.s.by_op["fake_query"]) == 2  # timed, then judged


def test_failing_query_counts_as_failure():
    class Boom(_Spec):
        def spark(self, spark, data_dir):
            raise ValueError("boom")

    w = Workload(spark=None, seed=1, tracer=None)
    w.run_query(Boom(None), "unused", "x")
    assert (w.s.attempted, w.s.failed, w.s.by_op) == (1, 1, {})


def test_digest_is_order_insensitive_and_value_exact():
    a = pd.DataFrame({"x": [1.0, 2.0], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2.0, 1.0]})
    assert result_digest(a) == result_digest(b)
    c = pd.DataFrame({"x": [1.0, 2.0000000000000004], "y": ["a", "b"]})
    assert result_digest(a) != result_digest(c)


# --- inputs ------------------------------------------------------------------

def test_inputs_are_seeded_and_published_whole(tmp_path):
    import pyarrow.parquet as pq

    base1, dup1 = build_inputs(str(tmp_path / "a"), 7)
    base2, _ = build_inputs(str(tmp_path / "b"), 7)
    base3, _ = build_inputs(str(tmp_path / "c"), 8)
    t1 = pq.read_table(os.path.join(base1, "lineitem.parquet"))
    assert t1.equals(pq.read_table(os.path.join(base2, "lineitem.parquet")))
    assert not t1.equals(pq.read_table(os.path.join(base3, "lineitem.parquet")))
    assert not [p for p in os.listdir(os.path.dirname(base1)) if ".tmp" in p]
    # dup20 shares every non-document table with base
    assert os.path.realpath(os.path.join(dup1, "orders.parquet")) == os.path.realpath(
        os.path.join(base1, "orders.parquet")
    )
    docs = pq.read_table(os.path.join(base1, "documents.parquet"))
    dup = dup20_documents(docs, np.random.default_rng(7)).column("text").to_pylist()
    # every fifth document carries one of ten templates, in turn: ~20%
    # duplicate mass in ten equal clusters
    assert len(set(dup[::5])) == 10 and dup[::5][:10] * (len(dup) // 50) == dup[::5]
    assert dup[1::5] == docs.column("text").to_pylist()[1::5]


# --- the density model against the engine's discovery ----------------------

def test_fetcher_pickles_by_reference():
    import pickle

    m = DensityModel(seed=3, seed_tiles_per_side=1)
    m2 = pickle.loads(pickle.dumps(m))
    assert m2("search", m.seed_quadkeys[0], 0) == m("search", m.seed_quadkeys[0], 0)


def test_prediction_covers_every_listing_reachable():
    m = DensityModel(seed=5, search_failures=0)
    p = predict_discovery(m)
    # no 429/503: every listing is found, and each grid holds its tile's count
    assert p.listing_ids == {r.listing_id for r in m.listings}
    assert sum(p.grids.values()) == len(m.listings)
    assert all(len(qk) <= MAX_LEVEL for qk in p.grids)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from ubdc_airbnb_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    yield s


def test_predicted_bfs_equals_discover(spark):
    from ubdc_airbnb_spark.plans.discovery import discover

    # one seed tile that splits, a hot child that paginates at the cap,
    # and a retriable rate high enough to hit some fetches
    model = DensityModel(
        seed=20, seed_tiles_per_side=1, background_per_tile=14, hot_tiles=1,
        search_failures=1,
    )
    want = predict_discovery(model)
    assert (want.waves, want.fetches, len(want.splits), want.retriable) == (3, 6, 1, 1)
    res = discover(spark, model, model.seed_quadkeys, max_level=MAX_LEVEL)
    assert (res.waves, res.fetches, sorted(res.splits)) == (
        want.waves, want.fetches, sorted(want.splits)
    )
    assert {r.quadkey: r.estimated_listings for r in res.grids.collect()} == want.grids
    assert {r.listing_id for r in res.listings.collect()} == want.listing_ids
    assert res.bronze.filter("is_retriable").count() == want.retriable

