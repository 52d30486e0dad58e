"""Connected components over a pair graph (north-star dedup): resolve
near-duplicate PAIRS (LSH / SimHash / embedding candidates) into
CLUSTERS, so "keep one canonical doc per duplicate set" is one join
away.

Algorithm: min-label propagation — every node starts labeled with its
own id; each round a node adopts the minimum label in its neighborhood;
fixpoint = every node carries the minimum id of its component. Each
round is one shuffle-on-key join + groupBy (all set-based); rounds
needed = graph diameter, and near-dup clusters are shallow (pairs share
a sketch bucket), so convergence is a handful of rounds. The loop is a
driver loop of set-based steps with ``localCheckpoint`` per round to
sever lineage — the quadtree-BFS pattern. At extreme diameters switch
to large-star/small-star (same primitive, O(log n) rounds).

Oracle: DuckDB replays the fixpoint with a recursive CTE
(`ns_dedup_components`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "id",
    max_iter: int = 25,
    label_col: str | None = None,
    on_round=None,
) -> DataFrame:
    """(id, component) for every node in ``nodes``; component = min node
    id in the connected component (singletons keep their own id).

    ``label_col`` (optional) seeds each node with an arbitrary initial
    label instead of its own id; the fixpoint then computes the MIN
    INITIAL LABEL per component. This is what makes graph contraction
    work: run the propagation over contracted super-nodes (e.g. one per
    distinct sketch value) seeded with ``min(member id)``, and the
    result is exactly the member-level min-id component labeling — the
    member graph never materializes (see dedup.simhash_components).

    ``edges`` may be directed/deduplicated — it is symmetrized here.
    Raises if the fixpoint is not reached within ``max_iter`` rounds
    (i.e. diameter > max_iter): no silently-wrong output.

    Storage is O(1) rounds, not O(diameter): each round's label
    checkpoint is freed as soon as the convergence diff has consumed it
    (``CheckpointChain``) — without that, a D-round run pins D
    node-cardinality RDDs simultaneously (OOMed an 8 GiB JVM at sf1 in
    the r05 registry sweep; fatal at any heap size at 100 TB).

    Rounds are O(log diameter), not O(diameter) (r08): each round
    combines the one-hop neighbor-min with a POINTER JUMP through the
    previous round's (checkpointed) labels — ``component :=
    min(component, min over neighbors, label(component))`` — the
    classic label-doubling device. Min-propagation alone needs
    diameter-many full-data rounds; a 100 TB near-dup graph with chain
    diameter 50 pays 50 corpus shuffles vs ~7. Jumping requires
    component values to BE node ids, so the fixpoint always runs in
    node-id space; ``label_col`` seeds are applied AFTERWARD as
    min-seed-per-component (one aggregate + one join on the bounded
    component table) — the same min-initial-label-per-component result,
    algebraically: min over a component of seeds = min of seeds grouped
    by the id-space component.
    """
    from .iterstate import CheckpointChain

    spark = edges.sparkSession
    edge_chain = CheckpointChain(spark)  # sym lives for the whole loop
    label_chain = CheckpointChain(spark)
    sym = edge_chain.step(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = label_chain.step(
        nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    )

    def _with_seeds(comp: DataFrame) -> DataFrame:
        if label_col is None:
            return comp
        seeds = nodes.select(
            F.col(id_col).alias("id"), F.col(label_col).alias("__seed")
        )
        seed_min = (
            comp.join(seeds.hint("shuffle_hash"), "id")
            .groupBy("component")
            .agg(F.min("__seed").alias("__lbl"))
        )
        return (
            comp.join(seed_min.hint("shuffle_hash"), "component")
            .select("id", F.col("__lbl").alias("component"))
        )

    # ``on_round`` (r09, smoke instrumentation): called after every
    # fixpoint round with (round_index, n_changed, round_wall_sec) so
    # scale evidence can record the O(log diameter) convergence without
    # wrapping the loop externally.
    import time as _time

    try:
        for _round in range(max_iter):
            _t0 = _time.perf_counter()
            nbr_min = (
                sym.join(labels.hint("shuffle_hash"), sym["b"] == labels["id"])
                .groupBy("a")
                .agg(F.min("component").alias("nbr_component"))
            )
            # pointer jump through the PREVIOUS labels (checkpointed —
            # the second scan is an InMemory/local read, not a recompute)
            ptr = labels.select(
                F.col("id").alias("__cid"), F.col("component").alias("__cc")
            )
            new_labels = label_chain.step(
                labels.join(
                    nbr_min.hint("shuffle_hash"), labels["id"] == nbr_min["a"], "left"
                )
                .join(
                    ptr.hint("shuffle_hash"),
                    F.col("component") == F.col("__cid"),
                    "left",
                )
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                        F.coalesce(F.col("__cc"), F.col("component")),
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o").hint("shuffle_hash"), "id")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            label_chain.retire(keep=1)  # prior round consumed — free it
            labels = new_labels
            if on_round is not None:
                on_round(_round, changed, _time.perf_counter() - _t0)
            if changed == 0:
                return _with_seeds(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        edge_chain.close()  # returned labels are checkpointed: sym is dead
        label_chain.close(keep_last=True)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """PageRank over an edge list — the canonical iterative distributed
    graph computation (entity/domain importance scoring for corpus
    weighting: rank sources by who links/buys/cites them).

        r_v ← (1-d)/N + d · Σ_{u→v} r_u / outdeg(u)

    Spark-first shape per iteration: one equi-join of the rank table to
    the edge list on the source key + one groupBy on the destination —
    both map-side combinable hash-shuffles on vertex ids; the degree
    table is computed once. No windows, no driver-side graph state; the
    lineage grows linearly with iterations (checkpoint every ~10 for
    long runs — at 2-4 iterations, typical for importance *scoring* as
    opposed to convergence studies, it is irrelevant).

    Determinism: each incoming contribution is quantized to integer
    parts-per-billion (floor of an IEEE-identical double) BEFORE the
    destination sum, so the per-vertex total is exact int64 arithmetic —
    rank values are bit-identical across engines and partition orders
    (same device as operators/lm.py; a raw double sum would depend on
    combine order).

    Dangling vertices (no out-edges): strict PageRank — their mass is
    redistributed uniformly each iteration (one extra anti-join +
    scalar aggregate, ppb-quantized like every other sum), so total rank
    is conserved instead of leaking (fixed round 4; the r1-r3 builds
    documented the leak as a simplification).

    Output: (vertex, rank) for every vertex appearing as src or dst;
    an empty edge list gives an empty frame."""
    from .iterstate import CheckpointChain

    # materialize the STATIC graph tables once — without the checkpoint,
    # every iteration re-evaluates `e`'s full upstream (the caller's
    # fact-table join + distinct): at the 100x smoke that was one whole
    # input re-scan per use per iteration (pagerank wall was pure scan
    # growth). verts/outdeg then derive from the checkpointed edge list.
    spark = edges.sparkSession
    static_chain = CheckpointChain(spark)
    e = static_chain.step(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    verts = static_chain.step(
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        static_chain.close()
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("vertex", e.schema["src"].dataType),
                    T.StructField("rank", T.DoubleType()),
                ]
            ),
        )
    outdeg = static_chain.step(e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
    rank_chain = CheckpointChain(spark)
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            e.join(ranks.hint("shuffle_hash"), e["src"] == ranks["vertex"])
            .join(outdeg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("vertex"),
                F.floor((F.col("rank") / F.col("outdeg")) * F.lit(1e9))
                .cast("long")
                .alias("c_ppb"),
            )
            .groupBy("vertex")
            .agg(F.sum("c_ppb").alias("in_ppb"))
        )
        # dangling mass: ranks of vertices with no out-edge, ppb-exact
        dang = (
            ranks.join(outdeg.hint("shuffle_hash"), ranks["vertex"] == outdeg["src"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.floor(F.col("rank") * F.lit(1e9)).cast("long")), F.lit(0)
                ).alias("d_ppb")
            )
        )
        ranks = (
            verts.join(contribs.hint("shuffle_hash"), "vertex", "left")
            .join(F.broadcast(dang))
            .select(
                "vertex",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_ppb"), F.lit(0)).cast("double")
                        / F.lit(1e9)
                        + (F.col("d_ppb").cast("double") / F.lit(1e9)) / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        # ranks_{i+1} references ranks_i twice (contribs + dangling), so
        # an unchecked plan tree doubles per round — flatten periodically,
        # freeing the superseded generation immediately (O(1) storage)
        if rank_chain.live_generations() == 0 or (_ + 1) % checkpoint_every == 0:
            ranks = rank_chain.step(ranks)
            rank_chain.retire(keep=1)
    # materialize the final ranks BEFORE releasing the static graph
    # tables: the returned frame reads its own checkpoint, never the
    # (now-freed) edge/degree storage
    ranks = rank_chain.step(ranks)
    rank_chain.close(keep_last=True)
    static_chain.close()
    return ranks
