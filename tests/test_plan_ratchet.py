"""Plan-size ratchet for every iterative driver loop (r11, VERDICT r10
item 3).

The r10 hot-tile hang is a CLASS, not an instance: any wave/fixpoint
loop whose next state references its previous state twice doubles its
analyzed logical plan per round, and the failure mode is a
Catalyst-analysis HANG — no artifact, no detector, no stack trace. The
fix class is lineage severing via ``CheckpointChain``; this file is the
regression ratchet: run >=10 rounds of each iterative site and assert
the per-step input-plan node count (recorded by the ``chain_sizes``
fixture, which wraps ``CheckpointChain.step``) stays FLAT across
steady-state rounds. Reverting a site's CheckpointChain wiring
makes its steady-state sizes double per round — this fails in seconds,
long before the round count where analysis would hang. Discovery
avoids the class instead of severing it: no wave reads the previous
wave's state, and its one resolution over all waves is bounded to
linear growth.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ubdc_airbnb_spark.operators.iterstate import CheckpointChain, plan_node_count

#: steady-state flatness: sizes[2:] of any chain with >= MIN_STEPS steps
#: may wobble by at most this many nodes (a doubling loop adds the
#: whole previous plan per round — hundreds of nodes by round 4)
_SLACK = 2
_ABS_BOUND = 250  # absolute sanity cap on any recorded step plan


@pytest.fixture
def chain_sizes(monkeypatch):
    """Per-chain lists of the analyzed-plan node count of each
    ``CheckpointChain.step`` input, recorded for the test's duration —
    operators create their chains internally, so the sizes are taken at
    the step boundary instead of from loop locals."""
    sizes: dict[CheckpointChain, list[int]] = {}
    step = CheckpointChain.step

    def recording_step(self, df, eager=True):
        sizes.setdefault(self, []).append(plan_node_count(df))
        return step(self, df, eager)

    monkeypatch.setattr(CheckpointChain, "step", recording_step)
    return sizes


def _assert_flat_chains(
    chain_sizes: dict, min_steps: int, expect_chains: int = 1
) -> None:
    """Every recorded chain with >= min_steps steps must be flat in its
    steady state; at least ``expect_chains`` such chains must exist (so
    reverting the chain wiring fails the test instead of passing it
    vacuously)."""
    deep = [s for s in chain_sizes.values() if len(s) >= min_steps]
    assert len(deep) >= expect_chains, (
        f"expected >= {expect_chains} chains with >= {min_steps} steps, "
        f"got sizes {list(chain_sizes.values())}"
    )
    for sizes in deep:
        # interior steps only: step 0 is the seed (smaller by design)
        # and the final step may be a post-loop flatten of an
        # already-checkpointed frame (smaller by design)
        tail = sizes[1:-1]
        assert max(tail) - min(tail) <= _SLACK, f"plan growth across rounds: {sizes}"
        assert sizes[-1] <= max(tail) + _SLACK, f"plan growth at the end: {sizes}"
        assert max(sizes) <= _ABS_BOUND, f"plan unexpectedly large: {sizes}"


def test_connected_components_plan_flat_across_rounds(spark, chain_sizes):
    """A 700-node path graph: pointer-jumping needs ~10 propagation
    rounds — every round's label-state plan must be the same size."""
    from ubdc_airbnb_spark.operators.graph import connected_components

    n = 700
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).coalesce(4)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long").coalesce(4)
    out = connected_components(edges, nodes, src="id_a", dst="id_b")
    assert out.filter(F.col("component") != 0).count() == 0
    _assert_flat_chains(chain_sizes, min_steps=5)


def test_pagerank_plan_flat_across_iterations(spark, chain_sizes):
    from ubdc_airbnb_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(120)], "src long, dst long"
    ).coalesce(4)
    ranks = pagerank(edges, iterations=10, checkpoint_every=1)
    assert ranks.count() > 0
    _assert_flat_chains(chain_sizes, min_steps=10)


def test_bpe_train_plan_flat_across_merges(spark, chain_sizes):
    from ubdc_airbnb_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, "low lower lowest newer newest wide widen slow slower") for i in range(30)],
        "doc_id long, text string",
    ).coalesce(2)
    merges = bpe_train(docs, n_merges=12, min_count=2, checkpoint_every=1)
    assert merges.count() >= 10
    _assert_flat_chains(chain_sizes, min_steps=10)


#: analyzed-plan nodes of discovery's resolved listings after 12 waves
#: (measured: 56, 4 per wave; a per-wave MERGE that referenced its
#: previous state twice would double per wave — thousands by wave 12)
_DISCOVER_12_WAVE_BOUND = 64


def test_discover_resolution_plan_linear_in_waves(spark, monkeypatch):
    """A max-depth pagination chain (the real city-center shape): 12
    pages = 12 BFS waves — the site that hung at 52 waves while it
    MERGEd every wave into the accumulated listings. Discovery now keeps
    each wave's listings as a run and resolves the runs once, so the
    plan of the resolution may grow by a constant per wave, no more."""
    from ubdc_airbnb_spark.plans import discovery
    from ubdc_airbnb_spark.sources import payloads
    from ubdc_airbnb_spark.sources.mock_api import MockAirbnbApi

    deep = "0313131311" + "0" * 12  # depth 22 == MAX_GRID_LEVEL
    api = MockAirbnbApi(auto=False)
    pages = 12
    for p in range(pages):
        api.enqueue(
            200,
            payloads.search_payload(
                deep,
                has_next_page=(p < pages - 1),
                items_offset=10 * p,
            ),
        )
    resolve = discovery._resolve
    seen: list[list] = []
    monkeypatch.setattr(discovery, "_resolve", lambda waves: seen.append(waves) or resolve(waves))
    res = discovery.discover(spark, api, [deep], max_level=22)
    assert res.waves == pages and res.fetches == pages
    assert len(seen) == 1 and len(seen[0]) == pages
    sizes = [plan_node_count(resolve(seen[0][:k])) for k in range(1, pages + 1)]
    # from two runs on (the first union), each wave adds the same nodes
    steps = {b - a for a, b in zip(sizes[1:], sizes[2:])}
    assert len(steps) == 1, f"plan growth is not linear in waves: {sizes}"
    assert sizes[-1] <= _DISCOVER_12_WAVE_BOUND, f"plan unexpectedly large: {sizes}"


def test_plan_node_count_detects_doubling(spark):
    """The counter itself: an un-severed self-referencing merge must
    show multiplicative growth round over round — the signal every
    test above asserts the absence of."""
    state = spark.range(50).select(F.col("id"), F.lit(0).alias("v"))
    sizes = []
    for i in range(4):
        delta = spark.range(10).select(F.col("id"), F.lit(i + 1).alias("v"))
        # the MERGE shape: keep unmatched state rows + update matched
        # ones — references `state` TWICE, so the plan doubles per round
        state = state.join(delta, "id", "left_anti").unionByName(
            state.join(delta.select("id"), "id", "left_semi")
            .select("id", F.lit(i + 1).alias("v"))
        )
        sizes.append(plan_node_count(state))
    assert sizes[-1] > sizes[0] * 4, sizes
