"""Bounded-storage checkpoint chains for iterative operators.

Driver-loop algorithms (label propagation, BPE merge folds) must sever
lineage every round — the state expression references the previous
state twice, so an un-checkpointed plan tree doubles per round and a
25-round loop would build a 2^25-node plan. ``localCheckpoint`` severs
the lineage, but it PINS each round's materialized state in executor
storage until the driver garbage-collects the DataFrame: a D-round
loop holds D corpus-sized RDDs simultaneously. That is a genuine
scale-killer — at sf1 a registry-wide sweep OOMed an 8 GiB JVM inside
``connected_components`` (observed r05), and at 100 TB it is fatal at
any heap size, because the leak grows with both corpus and diameter.

``CheckpointChain`` keeps the storage bound at O(1) rounds instead of
O(D): each ``step`` localCheckpoints the next state and records which
persistent-RDD ids the checkpoint created (snapshot diff of
``SparkContext.getPersistentRDDs`` — single-threaded driver loops make
the diff unambiguous); ``retire`` then frees every superseded
generation promptly via ``unpersistRDD``. Freeing is safe because each
generation is itself checkpointed (its data does not depend on earlier
generations) — the caller just must not read a retired frame again,
which is the same contract MLlib's iterative algorithms follow with
their persist/unpersist-previous pattern.

Reference behavior anchor: the reference's recursive quadtree scan
(ubdc-airbnb src/ubdc_airbnb/ubdc_airbnb/operations/discovery.py)
holds only the frontier, never every visited level — this is the same
frontier-only discipline for Spark state chains. The engine's own
quadtree discovery (``plans.discovery``) needs no chain: no wave reads
the previous wave's listings, so it keeps each wave's delta as an
immutable run and resolves the runs once after the last wave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def plan_node_count(df: DataFrame) -> int:
    """Node count of the analyzed logical plan — the ratchet metric for
    iterative loops (r11, VERDICT r10 item 3): state that references
    its previous generation twice DOUBLES this per round unless the
    lineage is severed, and the failure mode is a Catalyst-analysis
    HANG (the r10 discovery MERGE at 52 waves), which no artifact or
    detector sees. tests/test_plan_ratchet.py records it for each
    ``CheckpointChain.step`` input and asserts per-step flatness for
    every chained site; discovery no longer chains (its waves are
    independent runs, resolved once), so there it bounds the one
    resolution plan to linear growth in waves."""
    lp = df._jdf.queryExecution().analyzed()
    return lp.treeString().count("\n") + 1


def _persistent_ids(scala_sc) -> set[int]:
    ids: set[int] = set()
    it = scala_sc.getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


class CheckpointChain:
    """Lineage-severing state chain with O(1)-generation storage.

    Usage::

        chain = CheckpointChain(spark)
        state = chain.step(initial_expr)          # gen 0
        while ...:
            new_state = chain.step(next_expr)     # gen N, keeps gen N-1
            ... consume state AND new_state ...   # e.g. convergence diff
            chain.retire(keep=1)                  # free all but gen N
            state = new_state
        chain.close(keep_last=True)               # free all but returned
    """

    def __init__(self, spark: SparkSession):
        self._scala_sc = spark.sparkContext._jsc.sc()
        self._gens: list[set[int]] = []

    def step(self, df: DataFrame, eager: bool = True) -> DataFrame:
        before = _persistent_ids(self._scala_sc)
        # Serialized-with-spill storage, NOT the deserialized default:
        # chain generations are written once and read back at most twice
        # (next round's join + convergence diff), so row-object access
        # speed is irrelevant — but footprint is the scale limit. On the
        # dense sf1 near-dup graph (~400M sym-edge rows) deserialized
        # generations were ~1.2 GiB per partition and 32 concurrent
        # cache-builds OOMed even a 48 GiB JVM; serialized blocks are a
        # fraction of that and degrade to clean disk spill, never heap
        # death (r07 plan-audit finding). NB: pyspark 4 names the
        # serialized level plain MEMORY_AND_DISK; the deserialized
        # default localCheckpoint uses is MEMORY_AND_DISK_DESER.
        from pyspark.storagelevel import StorageLevel

        out = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)
        ids: set[int] | None = None
        try:
            # precise attribution: the checkpointed Dataset's analyzed
            # plan is a LogicalRDD wrapping exactly the persisted RDD —
            # claim THAT id, nothing else. (A snapshot diff would also
            # swallow any foreign cache — e.g. a prefixsum._pin — whose
            # RDD first materializes during this checkpoint job, and
            # retire() would then free storage the chain does not own.)
            lp = out._jdf.queryExecution().analyzed()
            if lp.getClass().getName() == "org.apache.spark.sql.execution.LogicalRDD":
                ids = {lp.rdd().id()}
        except Exception:
            ids = None
        if ids is None:  # fallback: snapshot diff (over-approximates)
            ids = _persistent_ids(self._scala_sc) - before
        self._gens.append(ids)
        return out

    def retire(self, keep: int = 1) -> None:
        """Free storage of all but the newest ``keep`` generations."""
        while len(self._gens) > keep:
            for rid in self._gens.pop(0):
                self._scala_sc.unpersistRDD(rid, False)

    def close(self, keep_last: bool = False) -> None:
        """Free every tracked generation (all but the newest when
        ``keep_last`` — for the frame the operator returns)."""
        self.retire(keep=1 if keep_last else 0)
        self._gens.clear()

    def live_generations(self) -> int:
        return len(self._gens)
