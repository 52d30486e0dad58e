"""Structured Streaming analogs of the reference's incremental semantics
(SURVEY §2.10): the reference emulates streaming with cron-driven Celery
beats (T1); here the same jobs are real streams.

- windowed_counts     — T1: the tumbling-window aggregation (the batch
                        twin is queries.st_tumbling_window; equality is
                        asserted in tests/test_streaming.py)
- dedup_stream        — T2: the 24 h in-flight dedup as
                        withWatermark + dropDuplicates
- foreach_batch_upsert— J10/T6: MERGE-per-microbatch into a parquet
                        table (Delta MERGE stand-in)

All entry points accept any streaming DataFrame; tests feed them with a
file-source stream over the events parquet. ``Trigger.AvailableNow``
(``availableNow=True``) gives the reference's cron-batch behavior: drain
everything pending, then stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import upsert_parquet


def windowed_counts(
    stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """T1: tumbling-window counts + decimal-exact value sums with late
    data bounded by the watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session-window aggregation: events of one key closer than ``gap``
    merge into one session; the window closes ``gap`` after the last
    event. Streaming state is bounded by the watermark. Batch twin /
    oracle: ``st_session_window`` (gaps-and-islands SQL)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            key_col,
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding (hopping) window counts: every event lands in
    window/slide overlapping windows. Batch twin / oracle:
    ``st_sliding_window``."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right-side events within ``window``
    AFTER a left-side event of the same key. Both sides carry
    watermarks, and the time-range join condition bounds the state the
    engine must keep (rows age out once the watermark passes their
    window) — the streaming twin of ``operators/joins.interval_join``.
    """
    l = left.select(
        F.col(key),
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("__rk"),
        F.col("event_id").alias("r_id"),
        F.col("event_type").alias("r_type"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        (F.col(key) == F.col("__rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window}"))
        & (F.col("r_id") != F.col("l_id")),
    ).select(key, "l_id", "l_ts", "r_id", "r_type", "r_ts")


def dedup_stream(
    stream: DataFrame,
    key: str,
    watermark: str = "24 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """T2: the in-flight dedup window as streaming state —
    ``withWatermark(24h) + dropDuplicates([key])`` keeps exactly the
    reference's 'one task per listing per day' guarantee with bounded
    state."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates([key])


def run_available_now(stream_df: DataFrame, query_name: str):
    """Drain-everything-then-stop execution — the streaming equivalent of
    one cron tick (T1). Results land in an in-memory table named
    ``query_name``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_upsert(stream: DataFrame, target_path: str, keys: list[str]):
    """J10 in streaming form: MERGE every micro-batch into the target
    table (Delta ``MERGE INTO`` stand-in over parquet)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch_df, target_path, keys)

    q = stream.writeStream.foreachBatch(_merge).trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def foreach_batch_drift_state(
    stream: DataFrame,
    state_path: str,
    value,
    in_slice_a,
    lo: float,
    width: float,
    bins: int,
):
    """Streaming twin of the drift monitor (the NS43 pattern): each
    micro-batch reduces to its (grp, bin) partial counts and merges into
    the parquet state table — the monitoring family's counts are
    sum-mergeable, so ``drift_state_report(state)`` equals the batch
    ``histogram_drift`` over everything ingested (pytest-asserted).
    State is O(2·bins) rows regardless of volume; exactly-once via the
    shared ``__max_batch_id`` device."""
    from ..operators.drift import binned_slices

    binned = binned_slices(stream, value, in_slice_a, lo, width, bins).withColumn(
        "__one", F.lit(1)
    )
    return foreach_batch_incremental_agg(binned, state_path, ["grp", "bin"], "__one")


def drift_state_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Finalize a drift state table into the (bin, p_a, p_b, contrib)
    report — identical output contract to ``histogram_drift``."""
    from ..operators.drift import drift_from_bin_counts

    state = spark.read.parquet(state_path)
    return drift_from_bin_counts(state.select("grp", "bin", F.col("cnt").alias("n")))


def foreach_batch_rate_state(
    stream: DataFrame,
    state_path: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
):
    """Streaming twin of the event-rate anomaly detector: per-batch
    (entity, day) partial counts merged into parquet state (entity-day
    grain — the natural retention unit; age out old days by partition
    drop). ``rate_state_report(state)`` == batch ``rate_anomaly`` over
    everything ingested, because the flags are exact functions of the
    summed integer counts."""
    keyed = stream.select(
        F.col(entity_col).alias("ent"),
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
    ).withColumn("__one", F.lit(1))
    return foreach_batch_incremental_agg(keyed, state_path, ["ent", "day"], "__one")


def rate_state_report(
    spark: SparkSession, state_path: str, entity_col: str = "user_id", sigma: float = 3.0
) -> DataFrame:
    """Finalize a rate state table into the anomaly report — identical
    output contract to ``rate_anomaly``."""
    from ..operators.drift import rate_anomaly_from_daily

    state = spark.read.parquet(state_path)
    daily = state.select("ent", "day", F.col("cnt").alias("c"))
    return rate_anomaly_from_daily(daily, entity_col, sigma)


def foreach_batch_incremental_agg(
    stream: DataFrame, state_path: str, keys: list[str], value_col: str
):
    """Incremental aggregate maintenance in streaming form: every
    micro-batch is reduced to its per-key partial state (scans only the
    batch) and merged into the parquet state table with the
    count->sum/decimal-sum/min/max algebra — the streaming twin of
    operators/incremental.py, with the same invariant:
    finalize(state) == direct aggregate over everything ingested.

    Exactly-once under foreachBatch's at-least-once delivery (ADVICE r2):
    the state table carries a ``__max_batch_id`` column written in the
    SAME atomic rename-swap as the data, so a redelivered batch with
    ``batch_id <= __max_batch_id`` is skipped instead of double-counted
    (``finalize`` selects only the metric columns, so the marker never
    leaks). 'First batch' is decided by a VERIFIED missing path after
    ``recover_swap`` repairs any interrupted swap — a transient read
    error re-raises instead of silently resetting history."""
    from ..operators.incremental import merge_states, partial_state

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.upsert import recover_swap, replace_parquet

        spark = batch_df.sparkSession
        batch_state = partial_state(batch_df, keys, value_col)
        stamped = batch_state.withColumn("__max_batch_id", F.lit(batch_id).cast("long"))
        if not recover_swap(state_path):  # VERIFIED missing -> first batch
            # write-then-rename even for the FIRST batch: a crash mid-
            # write must leave a lone partial tmp (which recover_swap
            # discards on redelivery) — a partial table AT state_path
            # would wedge every subsequent read (r06 exactly-once audit)
            import os

            tmp = state_path.rstrip("/") + ".__tmp__"
            stamped.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, state_path.rstrip("/"))
            return
        existing = spark.read.parquet(state_path)  # real errors re-raise
        if "__max_batch_id" in existing.columns:
            last = existing.agg(F.max("__max_batch_id")).first()[0]
            if last is not None and batch_id <= int(last):
                return  # redelivery of an already-merged batch
            existing = existing.drop("__max_batch_id")
        merged = merge_states(existing, batch_state, keys).withColumn(
            "__max_batch_id", F.lit(batch_id).cast("long")
        )
        replace_parquet(merged, state_path)

    q = stream.writeStream.foreachBatch(_merge).trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def foreach_batch_checksum_state(stream: DataFrame, state_path: str, text_col: str = "text"):
    """Streaming twin of the order-invariant corpus checksum: each
    micro-batch reduces to (n_docs, content_xor, n_chars) and merges
    into a ONE-ROW parquet state — counts add, the md5-60bit XOR xors,
    so ``checksum_state_report(state)`` equals the batch
    ``ns_corpus_checksum`` over everything ingested (XOR and + are both
    commutative/associative — the same mergeability that makes the
    batch aggregate order-invariant makes the stream state exact).
    Exactly-once via the shared ``__max_batch_id`` device."""
    from ..functions.hashing import md5_long
    from ..operators.upsert import recover_swap, replace_parquet

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = batch_df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.bit_xor(md5_long(F.col(text_col))), F.lit(0))
            .cast("long")
            .alias("content_xor"),
            F.coalesce(F.sum(F.length(text_col)), F.lit(0))
            .cast("long")
            .alias("n_chars"),
        )
        stamped = part.withColumn("__max_batch_id", F.lit(batch_id).cast("long"))
        if not recover_swap(state_path):
            # first-batch write-then-rename (see foreach_batch_incremental_agg)
            import os

            tmp = state_path.rstrip("/") + ".__tmp__"
            stamped.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, state_path.rstrip("/"))
            return
        existing = spark.read.parquet(state_path)
        last = existing.agg(F.max("__max_batch_id")).first()[0]
        if last is not None and batch_id <= int(last):
            return
        merged = (
            existing.drop("__max_batch_id")
            .unionByName(part)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.bit_xor("content_xor").cast("long").alias("content_xor"),
                F.sum("n_chars").cast("long").alias("n_chars"),
            )
            .withColumn("__max_batch_id", F.lit(batch_id).cast("long"))
        )
        replace_parquet(merged, state_path)

    return stream.writeStream.foreachBatch(_merge).outputMode("update")


def checksum_state_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Finalize the checksum state — identical output contract to the
    batch ``ns_corpus_checksum`` gate."""
    return spark.read.parquet(state_path).select("n_docs", "content_xor", "n_chars")


def foreach_batch_norm_state(
    stream: DataFrame,
    state_path: str,
    group_col: str = "label",
    vec_col: str = "embedding",
):
    """Streaming twin of the embedding norm-health monitor (the NS43
    pattern): each micro-batch reduces to (group, is_zero) partial
    count/sum/min/max state over the ppm-quantized squared norms and
    merges into the parquet state table — every statistic in the report
    is count/sum/min/max-mergeable, so ``norm_state_report(state)``
    equals the batch ``embedding_norm_health`` over everything ingested
    (pytest-asserted). Exactly-once via the shared ``__max_batch_id``
    device; state is O(2·|groups|) rows regardless of volume."""
    from ..operators.profile import norm2_ppm

    keyed = stream.select(
        F.col(group_col), norm2_ppm(vec_col).alias("__n2")
    ).withColumn("__zero", (F.col("__n2") == 0).cast("int"))
    return foreach_batch_incremental_agg(keyed, state_path, [group_col, "__zero"], "__n2")


def norm_state_report(
    spark: SparkSession, state_path: str, group_col: str = "label"
) -> DataFrame:
    """Finalize a norm state table into the per-group health report —
    identical output contract to ``embedding_norm_health``."""
    state = spark.read.parquet(state_path)
    if "__max_batch_id" in state.columns:
        state = state.drop("__max_batch_id")
    return state.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("__zero") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        F.min("min_v").alias("min_norm2_ppm"),
        F.max("max_v").alias("max_norm2_ppm"),
        F.sum("sum_v").cast("long").alias("sum_norm2_ppm"),
    )


def foreach_batch_hll_state(
    stream: DataFrame,
    state_path: str,
    keys: list[str],
    col,
    b: int = 12,
):
    """Streaming twin of the grouped HLL distinct counter: each
    micro-batch's (keys, bucket, rho) observations merge into the state
    table where ``max_v`` IS the HLL register — HLL's union algebra is
    elementwise register MAX, exactly the max side of the shared
    incremental-state device, so ``hll_state_report(state)`` equals the
    batch ``hll_registers_by``+``hll_estimate_by`` over everything
    ingested (pytest-asserted). State is O(|keys|·2^b) rows regardless
    of volume; exactly-once via the shared ``__max_batch_id`` device."""
    from ..operators.sketches import hll_rows

    keyed = hll_rows(stream, keys, col, b)
    return foreach_batch_incremental_agg(keyed, state_path, [*keys, "bucket"], "rho")


def hll_state_report(
    spark: SparkSession, state_path: str, keys: list[str], b: int = 12
) -> DataFrame:
    """Finalize an HLL state table into per-key cardinality estimates —
    identical output contract to ``hll_estimate_by``."""
    from ..operators.sketches import hll_estimate_by

    state = spark.read.parquet(state_path)
    regs = state.select(*keys, "bucket", F.col("max_v").cast("int").alias("m_j"))
    return hll_estimate_by(regs, keys, b)


def foreach_batch_bm25_append(
    stream: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    checkpoint: str | None = None,
):
    """Persisted-BM25 maintenance in streaming form (the NS96 index fed
    by a document stream): every micro-batch tokenizes ONLY its own
    documents and folds into the inverted-index layout, so the index
    stays queryable (`query_bm25_index`, unchanged) while ingestion
    runs — no full-corpus retokenization, ever.

    Exactly-once under foreachBatch's at-least-once delivery, with a
    TWO-level device (the non-atomic multi-directory append needs more
    than the `__max_batch_id` marker alone):

    - `params` carries `__max_batch_id` in the same atomic swap as the
      merged corpus constants — a redelivered batch that COMPLETED is
      skipped outright.
    - `postings`/`doclen` are additionally partitioned by `__batch` and
      written with DYNAMIC partition overwrite, so redelivery of a batch
      that crashed mid-append (files landed, params not yet swapped)
      overwrites its own partitions instead of double-appending: the
      fold is idempotent per batch id, and the constants merge stays
      exact because params still holds the pre-crash values.

    The `__batch` partition column is invisible to the probe
    (`query_bm25_index` selects by name) and keeps a natural retention/
    compaction grain. A batch-built index (no `__batch` level) cannot be
    streaming-maintained — mixed partition depths break parquet
    discovery — so that case raises instead of corrupting the layout.
    """
    import os

    from pyspark.sql import Window

    from ..operators.prefixsum import _pin, unpin
    from ..operators.tfidf import doc_terms, term_bucket
    from ..operators.upsert import recover_swap, replace_parquet
    from ..sources.layout import _writer_lease, current_path

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # single-writer contract (r10): the fold holds the index ROOT's
        # writer lease — the same lease compact_bm25_index and
        # add_to_bm25_index take — so a fold arriving mid-compaction
        # fails the batch loudly (LeaseHeld) and the stream's redelivery
        # retries it idempotently after compaction finishes
        with _writer_lease(index_path):
            _fold_locked(batch_df, batch_id)

    def _fold_locked(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        params_path = os.path.join(index_path, "params")
        p = None
        if recover_swap(params_path):  # params exists (repaired if needed)
            [p] = spark.read.parquet(current_path(params_path)).collect()
            if "__max_batch_id" not in p.asDict():
                raise ValueError(
                    "foreach_batch_bm25_append: index at %r was built by "
                    "build_bm25_index (no __batch partition level); "
                    "streaming maintenance would mix partition depths — "
                    "use add_to_bm25_index for batch drops, or start the "
                    "streaming index at a fresh path" % index_path
                )
            if batch_id <= p["__max_batch_id"]:
                return  # completed batch redelivered: skip
        nb = int(p.n_buckets) if p is not None else n_buckets
        # pin: postings write, doclen write, and the tot collect all
        # derive from this one tokenization — unpinned, each re-tokenizes
        # the micro-batch
        terms = _pin(doc_terms(batch_df, id_col, text_col))
        try:
            dl = terms.groupBy(id_col).agg(F.sum("tf").alias("dl"))
            post = terms.withColumn(
                "dl", F.sum("tf").over(Window.partitionBy(id_col))
            )
            mode_key = "spark.sql.sources.partitionOverwriteMode"
            old_mode = spark.conf.get(mode_key, "static")
            spark.conf.set(mode_key, "dynamic")
            try:
                (
                    post.withColumn("term_bucket", term_bucket(F.col("term"), nb))
                    .withColumn("__batch", F.lit(batch_id).cast("long"))
                    .repartition("term_bucket")
                    .write.mode("overwrite")
                    .partitionBy("term_bucket", "__batch")
                    .parquet(current_path(os.path.join(index_path, "postings")))
                )
                (
                    dl.withColumn("__batch", F.lit(batch_id).cast("long"))
                    .write.mode("overwrite")
                    .partitionBy("__batch")
                    .parquet(current_path(os.path.join(index_path, "doclen")))
                )
            finally:
                spark.conf.set(mode_key, old_mode)
            tot = dl.agg(
                F.sum("dl").cast("long").alias("toktot"),
                F.count(F.lit(1)).alias("n_docs"),
            ).collect()[0]
        finally:
            unpin(terms)
        replace_parquet(
            spark.createDataFrame(
                [
                    (
                        (p.n_docs if p is not None else 0) + tot.n_docs,
                        (p.toktot if p is not None else 0) + (tot.toktot or 0),
                        nb,
                        batch_id,
                    )
                ],
                "n_docs long, toktot long, n_buckets int, __max_batch_id long",
            ),
            params_path,
        )

    w = stream.writeStream.foreachBatch(_fold)
    if checkpoint is not None:
        # a DURABLE checkpoint keeps batch ids monotone across runs —
        # required for continued ingestion (a temp checkpoint restarts
        # ids at 0, which the marker then treats as redelivery)
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def foreach_batch_ivf_append(
    stream: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Persisted-IVF maintenance in streaming form (NS76 fed by an
    embedding stream): every micro-batch routes through the index's own
    centroids (broadcast argmax — the same assignment the batch build
    ran) and folds into the bucket-partitioned layout, so the index
    stays queryable (``query_ivf_index``, unchanged) while ingestion
    runs. Centroids never retrain per batch — drift is a scheduled
    rebuild decision, exactly as in ``add_to_ivf_index``.

    Exactly-once under foreachBatch's at-least-once delivery — the same
    TWO-level device as ``foreach_batch_bm25_append``:

    - ``params`` carries ``__max_batch_id`` in the same atomic swap as
      the merged ``n_vectors`` count — a redelivered batch that
      COMPLETED is skipped outright.
    - ``assignments`` is additionally partitioned by ``__batch`` and
      written with DYNAMIC partition overwrite, so redelivery of a batch
      that crashed mid-append overwrites its own partitions instead of
      double-appending.

    Requires a ``build_ivf_index(..., streaming=True)`` layout (the
    ``__batch`` level must exist from the start — mixed partition depths
    break parquet discovery — and the stream cannot bootstrap an index:
    centroids need training). Compact between ingests with
    ``sources.layout.compact_streaming_partitioned`` at the current
    marker."""
    import os

    from ..operators.similarity import assign_ivf_buckets
    from ..operators.upsert import recover_swap, replace_parquet
    from ..sources.layout import _writer_lease, current_path

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # single-writer contract (r10): see foreach_batch_bm25_append —
        # mutual exclusion with compact_ivf_index / add_to_ivf_index
        with _writer_lease(index_path):
            _fold_locked(batch_df, batch_id)

    def _fold_locked(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        params_path = os.path.join(index_path, "params")
        if not recover_swap(params_path):
            raise ValueError(
                "foreach_batch_ivf_append: no index at %r — build one "
                "first with build_ivf_index(..., streaming=True) (the "
                "stream cannot train centroids)" % index_path
            )
        [p] = spark.read.parquet(current_path(params_path)).collect()
        if "__max_batch_id" not in p.asDict():
            raise ValueError(
                "foreach_batch_ivf_append: index at %r was built without "
                "streaming=True (no __batch partition level); streaming "
                "maintenance would mix partition depths — use "
                "add_to_ivf_index for batch drops, or rebuild with "
                "build_ivf_index(..., streaming=True)" % index_path
            )
        if batch_id <= p["__max_batch_id"]:
            return  # completed batch redelivered: skip
        cents = spark.read.parquet(current_path(os.path.join(index_path, "centroids")))
        assigned = assign_ivf_buckets(batch_df, cents, id_col, vec_col)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(mode_key, "static")
        spark.conf.set(mode_key, "dynamic")
        try:
            (
                assigned.withColumn("__batch", F.lit(batch_id).cast("long"))
                .repartition("centroid_id")
                .write.mode("overwrite")
                .partitionBy("centroid_id", "__batch")
                .parquet(current_path(os.path.join(index_path, "assignments")))
            )
        finally:
            spark.conf.set(mode_key, old_mode)
        n_new = batch_df.count()
        replace_parquet(
            spark.createDataFrame(
                [(p.k, p.iters, p.dim, p.n_vectors + n_new, batch_id)],
                "k int, iters int, dim int, n_vectors long, __max_batch_id long",
            ),
            params_path,
        )

    w = stream.writeStream.foreachBatch(_fold)
    if checkpoint is not None:
        # durable checkpoint keeps batch ids monotone across runs (a
        # temp checkpoint restarts ids at 0 = treated as redelivery)
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def foreach_batch_lsh_append(
    stream: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
):
    """Persisted-LSH-dedup maintenance in streaming form (NS97 fed by a
    document stream): every micro-batch is shingled/MinHashed/banded
    with the index's OWN recorded constants and folds into the
    bucket-partitioned banding, so the index stays queryable
    (``query_lsh_index``, unchanged) while ingestion runs.

    Same two-level exactly-once device as ``foreach_batch_ivf_append``
    (marker in params' atomic swap + per-``__batch`` dynamic partition
    overwrite). Requires a ``build_lsh_index(..., streaming=True)``
    layout — banding constants are fixed at build, so the stream cannot
    bootstrap an index either. Compact between ingests with
    ``sources.layout.compact_streaming_partitioned``."""
    import os

    from ..operators.dedup import banded_signatures, minhash_signatures
    from ..operators.dedup_index import _key_bucket
    from ..operators.upsert import recover_swap, replace_parquet
    from ..sources.layout import _writer_lease, current_path

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # single-writer contract (r10): see foreach_batch_bm25_append —
        # mutual exclusion with compact_lsh_index / add_to_lsh_index
        with _writer_lease(index_path):
            _fold_locked(batch_df, batch_id)

    def _fold_locked(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        params_path = os.path.join(index_path, "params")
        if not recover_swap(params_path):
            raise ValueError(
                "foreach_batch_lsh_append: no index at %r — build one "
                "first with build_lsh_index(..., streaming=True) (the "
                "banding constants are fixed at build)" % index_path
            )
        [p] = spark.read.parquet(current_path(params_path)).collect()
        if "__max_batch_id" not in p.asDict():
            raise ValueError(
                "foreach_batch_lsh_append: index at %r was built without "
                "streaming=True (no __batch partition level); streaming "
                "maintenance would mix partition depths — use "
                "add_to_lsh_index for batch drops, or rebuild with "
                "build_lsh_index(..., streaming=True)" % index_path
            )
        if batch_id <= p["__max_batch_id"]:
            return  # completed batch redelivered: skip
        sigs = minhash_signatures(
            batch_df, id_col, text_col, p.num_perm, p.ngram, p.shingle
        )
        banded = banded_signatures(sigs, id_col, p.num_perm, p.bands)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(mode_key, "static")
        spark.conf.set(mode_key, "dynamic")
        try:
            (
                banded.withColumn("key_bucket", _key_bucket(p.n_buckets))
                .withColumn("__batch", F.lit(batch_id).cast("long"))
                .repartition("key_bucket")
                .write.mode("overwrite")
                .partitionBy("key_bucket", "__batch")
                .parquet(current_path(os.path.join(index_path, "banded")))
            )
        finally:
            spark.conf.set(mode_key, old_mode)
        replace_parquet(
            spark.createDataFrame(
                [(p.num_perm, p.bands, p.ngram, p.shingle, p.n_buckets, batch_id)],
                "num_perm int, bands int, ngram int, shingle string, "
                "n_buckets int, __max_batch_id long",
            ),
            params_path,
        )

    w = stream.writeStream.foreachBatch(_fold)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
