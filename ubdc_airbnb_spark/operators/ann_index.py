"""Persisted IVF index — the build-once / serve-many ANN lifecycle that
inline `ivf_topk` (which trains and assigns per query) graduates into at
production scale: train k-means centroids once, assign the corpus once,
and lay the assignments out on disk PARTITIONED BY BUCKET so that a
probe query reads ONLY its probed buckets from storage.

That layout is the entire point: at 100 TB, `ivf_topk`'s hash join still
scans the whole corpus to route it; the persisted index turns a probe
into a partition-pruned scan — `centroid_id IN (probed...)` reaches the
file listing (`PartitionFilters` in the plan, asserted in tests), so a
16-probe query against a 4096-bucket index touches ~0.4% of the files.
The serve path never shuffles the corpus: probed buckets stream through
an exact-cosine rerank against the broadcast query batch.

Index layout under ``path``:
- ``centroids/``    — (centroid_id, centroid_vec): k rows.
- ``assignments/``  — (vec_id, embedding) partitioned by centroid_id.
- ``params/``       — 1-row provenance (k, iters, dim, n_vectors).

Citations: reference has no ANN surface; training-data-pipeline
extension (SURVEY §2.12, NS7/NS61 lineage).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .similarity import assign_ivf_buckets, centroid_probes, cosine_cols, kmeans_centroids


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    streaming: bool = False,
    object_store_safe: bool = False,
) -> None:
    """Train centroids (deterministic Lloyd, decimal-exact means) — or
    take pre-supplied ones — and write the bucket-partitioned index.

    ``streaming=True`` lays the assignments out one partition level
    deeper — ``centroid_id/__batch`` with the build as generation ``-1``
    — and stamps ``__max_batch_id = -1`` into params, so the index can
    be maintained by ``streaming.jobs.foreach_batch_ivf_append`` (stream
    batch ids start at 0). The probe is unaffected: it selects columns
    by name and partition-prunes on the first level.

    ``object_store_safe=True`` lays every component out as a
    manifest-managed generation table (``sources.layout``), same as
    ``build_bm25_index``: full-table replaces (params merges,
    compaction) swap a one-line pointer file instead of renaming
    directories — atomic on S3-class stores. Probes and appends resolve
    components through ``current_path`` transparently."""
    from ..sources.layout import current_path, manifest_init

    spark = vectors.sparkSession
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    )
    cents_path = os.path.join(path, "centroids")
    if object_store_safe:
        manifest_init(cents, cents_path)
    else:
        cents.write.mode("overwrite").parquet(cents_path)
    cents = spark.read.parquet(current_path(cents_path))
    assigned = assign_ivf_buckets(vectors, cents, id_col, vec_col)
    parts = ["centroid_id"]
    if streaming:
        assigned = assigned.withColumn("__batch", F.lit(-1).cast("long"))
        parts.append("__batch")
    assigned = assigned.repartition("centroid_id")
    if object_store_safe:
        manifest_init(assigned, os.path.join(path, "assignments"), parts)
    else:
        (
            assigned.write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(os.path.join(path, "assignments"))
        )
    n = vectors.count()
    first = vectors.select(vec_col).first()
    dim = len(first[0]) if first is not None and first[0] is not None else 0
    # params record the index as BUILT: pre-supplied centroids override the
    # k/iters arguments (no training ran), so k = actual bucket count
    if centroids is not None:
        k, iters = cents.count(), 0
    if streaming:
        params = spark.createDataFrame(
            [(k, iters, dim, n, -1)],
            "k int, iters int, dim int, n_vectors long, __max_batch_id long",
        )
    else:
        params = spark.createDataFrame(
            [(k, iters, dim, n)], "k int, iters int, dim int, n_vectors long"
        )
    # params last: a crashed build leaves no readable index, never a
    # wrong-constant one
    if object_store_safe:
        manifest_init(params, os.path.join(path, "params"))
    else:
        params.write.mode("overwrite").parquet(os.path.join(path, "params"))


def load_ivf_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) — assignments carry the partition column
    ``centroid_id`` back as a regular column."""
    from ..sources.layout import current_path

    cents = spark.read.parquet(current_path(os.path.join(path, "centroids")))
    assigned = spark.read.parquet(current_path(os.path.join(path, "assignments")))
    return cents, assigned


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Partition-pruned probe: assign the query batch to its ``probes``
    nearest centroids (broadcast argmax — queries are batch-sized), read
    ONLY those bucket partitions from the index, exact-cosine rerank.

    Output: (query_id, neighbor_id, rank) — same contract as
    ``similarity.ivf_topk``; identical results for identical centroids.
    """
    cents, assigned = load_ivf_index(spark, path)
    q_assigned = (
        assign_ivf_buckets(queries, cents, id_col, vec_col)
        if probes == 1
        else centroid_probes(queries, cents, probes, id_col, vec_col)
    )
    q = q_assigned.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "centroid_id",
    )
    probed = [r["centroid_id"] for r in q.select("centroid_id").distinct().collect()]
    bucket = assigned.filter(F.col("centroid_id").isin(probed)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec"), "centroid_id"
    )
    scored = (
        bucket.join(broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_cols("q_vec", "n_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def add_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a NEW batch to the existing
    centroids and append it into the bucket partitions — no retraining,
    no rewrite of existing buckets (parquet append creates new files
    inside each touched partition directory only).

    This is how a daily embedding drop joins a 100 TB index: the batch
    routes via the same broadcast argmax as the original build, so
    serving semantics are unchanged; drift is handled by re-running
    ``build_ivf_index`` on a schedule (compare ``kmeans_inertia`` of old
    vs fresh centroids to decide), not per batch. Update ``params`` last
    so a crashed append under-counts rather than phantom-counts.

    Single-appender contract, ENFORCED (r09): the whole append — params
    read, data append, params swap — runs under the index root's writer
    lease, so a second concurrent appender raises ``LeaseHeld`` loudly.
    Two interleaved appends are NOT commutative: the params update is a
    read-modify-write (both appenders would read the same ``n_vectors``
    and one increment would be silently lost), and two Spark jobs
    appending into the same directory race on the shared ``_temporary``
    staging dir (the first commit's cleanup can delete the second job's
    staged files). A crashed appender's lease expires and is broken by
    the next writer."""
    from ..sources.layout import _writer_lease, current_path

    spark = new_vectors.sparkSession
    params_path = os.path.join(path, "params")
    with _writer_lease(path) as lease:
        _add_to_ivf_index_locked(
            new_vectors, path, id_col, vec_col, spark, params_path, lease
        )


def _add_to_ivf_index_locked(
    new_vectors, path, id_col, vec_col, spark, params_path, lease=None
):
    from ..sources.layout import current_path

    [p] = spark.read.parquet(current_path(params_path)).collect()
    if "__max_batch_id" in p.asDict():
        # streaming-maintained layout: assignments live one level deeper
        # (centroid_id/__batch) — appending at centroid_id depth would
        # mix partition depths, and the params swap below would drop the
        # exactly-once marker
        raise ValueError(
            "add_to_ivf_index: index at %r is streaming-maintained "
            "(params carries __max_batch_id); use "
            "streaming.jobs.foreach_batch_ivf_append to fold new "
            "vectors into it" % path
        )
    cents = spark.read.parquet(current_path(os.path.join(path, "centroids")))
    assigned = assign_ivf_buckets(new_vectors, cents, id_col, vec_col)
    # ownership check BEFORE the first irreversible commit (ADVICE r09):
    # a stalled refresher means a second writer may hold the lease now —
    # committing would interleave two read-modify-write params swaps
    if lease is not None:
        lease.verify()
    (
        # append into the LIVE generation on manifest layouts (a no-op
        # resolver for plain ones) — appends are new files only, so no
        # pointer swap is needed
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(current_path(os.path.join(path, "assignments")))
    )
    n_new = new_vectors.count()
    from .upsert import replace_parquet

    if lease is not None:
        lease.verify()  # and again before the params pointer swap
    replace_parquet(
        spark.createDataFrame(
            [(p.k, p.iters, p.dim, p.n_vectors + n_new)],
            "k int, iters int, dim int, n_vectors long",
        ),
        params_path,
    )


def compact_ivf_index(spark: SparkSession, path: str) -> int:
    """Small-file compaction for an IVF index's assignments table —
    collapses the per-append (or per-micro-batch) file sets into one
    per centroid partition, preserving the layout the probe
    partition-prunes on. Streaming-maintained layouts keep their
    ``__batch`` exactly-once marker (orphaned uncommitted batches are
    dropped so redelivery stays idempotent).

    Single-writer contract, ENFORCED (r10): compaction holds the index
    ROOT's writer lease — the same lease ``add_to_ivf_index`` takes —
    so an appender arriving mid-compaction raises ``LeaseHeld`` loudly
    and retries after, instead of appending files into an assignments
    tree the rename-swap is about to discard. Returns the parquet file
    count after compaction."""
    from ..sources.layout import (
        _writer_lease,
        compact_partitioned,
        compact_streaming_partitioned,
        current_path,
    )

    with _writer_lease(path):
        [p] = spark.read.parquet(current_path(os.path.join(path, "params"))).collect()
        d = p.asDict()
        base = os.path.join(path, "assignments")
        if "__max_batch_id" in d:
            return compact_streaming_partitioned(
                spark, base, ["centroid_id"], int(d["__max_batch_id"])
            )
        return compact_partitioned(spark, base, ["centroid_id"])
