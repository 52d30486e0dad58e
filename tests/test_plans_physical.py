"""Physical-plan assertions: the scale claims (pushdown, broadcast,
shuffle-freeness) verified mechanically from `.explain` output, so a
regression that silently de-optimizes a plan fails CI."""

from __future__ import annotations

from pyspark.sql import functions as F

from ubdc_airbnb_spark import queries as q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _plan(q.q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: only the 6 referenced columns, never the full 11
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(q.q5_region_volume(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastExchange") >= 3  # supplier, nation, region


def test_j1_prefix_cover_is_pure_filter(spark):
    """The spatial semi-join kernel must compile to a scan+filter with no
    shuffle and no join when the cover is driver-resident."""
    plan = _plan(q.j1_prefix_cover_semi(spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_minhash_signatures_no_shuffle(spark):
    from ubdc_airbnb_spark.operators.dedup import minhash_signatures
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(minhash_signatures(docs, "doc_id", "text", 16, 3, "word"))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_minhash_signatures_single_split_per_row(spark):
    """r11 toks factoring: the word-array derivation (regex split over
    the whole document) must appear exactly ONCE in the physical plan —
    the inlined gram builder re-ran it 7x per row (2·ngram+1 references,
    and HOFs are CodegenFallback, so no subexpression elimination). A
    regression re-inlining it (e.g. a CollapseProject behavior change or
    an edit collapsing the projection steps) shows up as extra split()
    occurrences."""
    from ubdc_airbnb_spark.operators.dedup import minhash_signatures
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    for shingle in ("word", "char"):
        plan = _plan(minhash_signatures(docs, "doc_id", "text", 16, 3, shingle))
        assert plan.count("split(") == 1, (shingle, plan.count("split("))


def test_semi_anti_join_strategies(spark):
    plan = _plan(q.j4_semi_exists(spark, SF))
    assert "LeftSemi" in plan
    plan = _plan(q.j6_anti_join(spark, SF))
    assert "LeftAnti" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(q.w1_topk_stalest(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_discovery_fetch_runs_in_spark_tasks(spark):
    """VERDICT r1 #1: the BFS wave fetch must execute as Spark tasks
    (mapInPandas workers), not a sequential driver loop. Proven by
    execution: a fetcher that reports its process id must never report
    the driver's pid (Python workers are separate processes even in
    local mode)."""
    import json
    import os

    from ubdc_airbnb_spark.plans.discovery import discover
    from ubdc_airbnb_spark.sources import payloads

    driver_pid = os.getpid()

    def pid_fetcher(kind, key, offset):
        body = payloads.search_payload(key, items_offset=int(offset), has_next_page=False)
        return 200, body, f"pid://{os.getpid()}"

    res = discover(spark, pid_fetcher, ["0313131311", "0313131312"])
    urls = [r.url for r in res.bronze.select("url").collect()]
    pids = {int(u.split("//")[1]) for u in urls}
    assert pids, "no fetches recorded"
    assert driver_pid not in pids, "fetch executed on the driver"


def test_discovery_wave_fetch_is_map_in_pandas(spark):
    """Structural twin of the pid test: fetch_batch's plan is a
    MapInPandas stage over the work set."""
    from ubdc_airbnb_spark.sources.http_fetch import fetch_batch, mock_fetcher

    work = spark.createDataFrame(
        [("search", "0313131311", 0)], "kind string, key string, offset long"
    )
    plan = _plan(fetch_batch(work, mock_fetcher))
    assert "MapInPandas" in plan


def test_fetch_batch_fans_out_single_partition_work(spark):
    """r07 pipeline-smoke finding: due-selection plans end in
    orderBy().limit(k) — TakeOrderedAndProject — whose output is ONE
    partition, so an inheriting fetch stage would run the whole harvest
    single-threaded. fetch_batch must default to defaultParallelism
    workers, not the upstream layout."""
    from ubdc_airbnb_spark.sources.http_fetch import fetch_batch, mock_fetcher

    work = (
        spark.range(64)
        .selectExpr(
            "'search' as kind",
            "concat('03131313', lpad(cast(id as string), 2, '0')) as key",
            "0L as offset",
        )
        .orderBy("key")
        .limit(32)
    )
    assert work.rdd.getNumPartitions() == 1  # the hazard being guarded
    fetched = fetch_batch(work, mock_fetcher)
    expect = spark.sparkContext.defaultParallelism
    assert fetched.rdd.getNumPartitions() == expect
    # explicit partitions still models a fixed worker fleet
    assert fetch_batch(work, mock_fetcher, partitions=3).rdd.getNumPartitions() == 3


def test_cosine_pairs_gate_has_no_allpairs_join(spark):
    """VERDICT r1 #2: the embedding near-dup gate must generate candidates
    from IVF buckets (hash join on centroid_id), never a nested-loop join
    over corpus x corpus."""
    plan = _plan(q.ns_embed_cosine_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_probe_assignment_is_narrow(spark):
    """Multi-probe IVF assignment is a pure narrow select: no Exchange,
    no Join — the corpus never shuffles to find its buckets."""
    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.operators.similarity import centroid_probes
    from ubdc_airbnb_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid_vec"),
    )
    plan = _plan(centroid_probes(emb, cents, probes=2))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_q7_broadcasts_nations(spark):
    plan = _plan(q.q7_nation_volume(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the shipdate band reaches the lineitem scan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_q19_pushes_per_side_residuals(spark):
    """Catalyst must extract the common equi-key from the OR-of-ANDs and
    push the single-side residual bands below the join."""
    plan = _plan(q.q19_disjunctive_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    # the l_quantity disjunction is pushed to the lineitem parquet scan
    assert any("l_quantity" in l for l in scans), scans


def test_q21_compiles_to_semi_and_anti(spark):
    plan = _plan(q.q21_lone_returner(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_hll_registers_single_shuffle(spark):
    from ubdc_airbnb_spark.operators.sketches import hll_registers
    from ubdc_airbnb_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    plan = _plan(hll_registers(ev, F.col("user_id").cast("string")))
    # formatted explain repeats node names in the detail section; count
    # the numbered node headers only
    n_exchanges = len(
        [l for l in plan.splitlines() if l.startswith("(") and "Exchange" in l]
    )
    assert n_exchanges <= 1
    assert "Join" not in plan


def test_consistent_split_is_narrow(spark):
    plan = _plan(q.ns_consistent_split(spark, SF))
    assert "Exchange" not in plan and "Join" not in plan


def test_simhash_sketch_no_shuffle(spark):
    """The per-row SimHash formulation (vote sum = 2*popcount_b - n over
    the distinct-word hash array) must stay a pure narrow select — no
    explode/groupBy shuffle, no join."""
    from ubdc_airbnb_spark.operators.dedup import simhash
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(simhash(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_rp_lsh_candidates_shuffle_on_band_keys_only(spark):
    """RP-LSH pair generation: the only Exchanges are the band-key
    equi-join shuffles (hash on band_id/band_key) — no nested-loop or
    cartesian join over the corpus."""
    from ubdc_airbnb_spark.operators.similarity import rp_lsh_pairs
    from ubdc_airbnb_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(rp_lsh_pairs(emb, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunking_is_narrow(spark):
    from ubdc_airbnb_spark.operators.chunking import sliding_chunks
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(sliding_chunks(docs))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_salted_agg_is_two_exchange_phases(spark):
    """Phase 1 shuffles on (key, salt), phase 2 on key — exactly two
    aggregate exchanges, both preceded by partial HashAggregates."""
    from ubdc_airbnb_spark.operators import skew
    from ubdc_airbnb_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    out = skew.salted_agg(
        li, ["l_returnflag"], F.col("l_orderkey").cast("string"),
        [skew.count_agg("n")], fanout=16,
    )
    tree = _plan(out).split("\n\n")[0]  # tree section: one line per node
    assert tree.count("Exchange") == 2
    assert tree.count("HashAggregate") == 4  # partial+final per phase


def test_bloom_build_single_shuffle_probe_none(spark):
    from ubdc_airbnb_spark.operators import bloomfilter
    from ubdc_airbnb_spark.sources.tables import load_table

    supp = load_table(spark, SF, "supplier").select(
        F.col("s_suppkey").cast("string").alias("k")
    )
    bloom = bloomfilter.bloom_build(supp, "k")
    tree = _plan(bloom).split("\n\n")[0]
    assert tree.count("Exchange") == 1  # word-id groupBy only
    li = load_table(spark, SF, "lineitem").select(
        F.col("l_suppkey").cast("string").alias("k")
    )
    probe_plan = _plan(bloomfilter.bloom_probe(li, "k", bloom))
    assert "Exchange" not in probe_plan
    assert "Join" not in probe_plan


def test_histogram_sketch_single_shuffle(spark):
    from ubdc_airbnb_spark.operators import sketches
    from ubdc_airbnb_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    tree = _plan(sketches.histogram_sketch(li, "l_extendedprice", 100.0)).split("\n\n")[0]
    assert tree.count("Exchange") == 1


def test_pq_adc_never_joins_raw_vectors(spark):
    """ADC scoring must touch only the codes + broadcast LUT — the raw
    embedding column may appear solely under the LUT/codebook branches
    (query slices), never in a non-broadcast join input."""
    from ubdc_airbnb_spark.operators import similarity
    from ubdc_airbnb_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    cb = similarity.pq_codebook_from_seeds(emb, n_centroids=16, m=4, dim=64)
    codes = similarity.pq_codes(emb, cb, m=4, dim=64)
    out = similarity.pq_adc_topk(
        codes, emb.filter(F.col("vec_id") < 10), cb, m=4, dim=64, k=5
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_script_profile_is_narrow(spark):
    from ubdc_airbnb_spark.functions import textstats
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(docs.select("doc_id", *textstats.script_profile("text")))
    assert "Exchange" not in plan and "Join" not in plan


def test_canonical_url_is_narrow(spark):
    from ubdc_airbnb_spark.functions.urltools import canonical_url
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    df = docs.select(F.concat(F.lit("https://h.io/p?a=1&utm_s=x#f")).alias("url"))
    plan = _plan(df.select(canonical_url("url").alias("c")))
    assert "Exchange" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# VERDICT r2 #1: the global-window family must never move raw table rows
# into one partition. Rule checked mechanically on the physical tree: every
# `Exchange SinglePartition` subtree must contain a HashAggregate between
# the exchange and any parquet scan — i.e. only *bounded* (sketch / bucket
# total / histogram) data may ever be single-partitioned.
# ---------------------------------------------------------------------------


def _unbounded_single_partition_subtrees(df) -> list[str]:
    import re

    txt = df._jdf.queryExecution().executedPlan().toString()
    lines = txt.splitlines()

    def depth(line: str) -> int:
        return len(re.match(r"[\s:+|-]*", line).group(0))

    bad = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d0 = depth(line)
        sub = []
        for nxt in lines[i + 1 :]:
            if not nxt.strip() or depth(nxt) <= d0:
                break
            sub.append(nxt)
        body = "\n".join(sub)
        scans = (
            "Scan parquet" in body
            or "FileScan" in body
            or "InMemoryTableScan" in body  # pinned inputs are still corpus-scale
        )
        if scans and "HashAggregate" not in body:
            bad.append(line.strip() + "\n" + body)
    return bad


def _force_twopass(monkeypatch):
    """The size dispatch picks the (optimal) single-partition plan below
    the threshold; these tests assert the AT-SCALE plan, so drop the
    threshold to force the two-pass path."""
    from ubdc_airbnb_spark.operators import prefixsum

    monkeypatch.setattr(prefixsum, "SINGLE_PARTITION_MAX_BYTES", -1)


def test_sequence_pack_no_unbounded_single_partition(spark, monkeypatch):
    from ubdc_airbnb_spark.functions import textstats as ts
    from ubdc_airbnb_spark.operators.chunking import sequence_pack
    from ubdc_airbnb_spark.sources.tables import load_table

    _force_twopass(monkeypatch)
    docs = load_table(spark, SF, "documents")
    out = sequence_pack(docs, "doc_id", ts.whitespace_token_count("text"), budget=512)
    assert not _unbounded_single_partition_subtrees(out)
    # and the corpus window itself is partitioned (hash on the bucket id)
    plan = _plan(out)
    assert "Window" in plan


def test_token_budget_no_unbounded_single_partition(spark, monkeypatch):
    _force_twopass(monkeypatch)
    out = q.ns_token_budget(spark, SF)
    assert not _unbounded_single_partition_subtrees(out)


def test_sorted_neighborhood_no_unbounded_single_partition(spark, monkeypatch):
    from ubdc_airbnb_spark.operators import dedup
    from ubdc_airbnb_spark.sources.tables import load_table

    _force_twopass(monkeypatch)
    docs = load_table(spark, SF, "documents")
    sk = dedup.simhash(docs, "doc_id", "text", bits=32)
    out = dedup.sorted_neighborhood_pairs(sk, "doc_id", "simhash", window=3, max_hamming=3)
    assert not _unbounded_single_partition_subtrees(out)


def test_batch_assign_no_unbounded_single_partition(spark, monkeypatch):
    from ubdc_airbnb_spark.operators.windows import assign_batches
    from ubdc_airbnb_spark.sources.tables import load_table

    _force_twopass(monkeypatch)
    ev = load_table(spark, SF, "events").select("event_id")
    out = assign_batches(ev, "event_id", 100)
    assert not _unbounded_single_partition_subtrees(out)


def test_w3_rank_is_take_ordered_then_bounded_window(spark):
    """w3 ranks only the TakeOrdered top-k result — the unpartitioned
    window sees k rows, never the orders table."""
    plan = _plan(q.w3_ranked_sort(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_partitioned_cumsum_matches_global_window(spark, monkeypatch):
    """Exactness of the two-pass prefix sum vs the naive global window,
    including duplicate bucket keys straddling boundaries."""
    from pyspark.sql import Window

    from ubdc_airbnb_spark.operators.prefixsum import partitioned_cumsum, partitioned_row_number

    _force_twopass(monkeypatch)
    rows = [(i % 37, i, (i * 7) % 11 + 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    got = partitioned_cumsum(
        df, order=[F.col("k"), F.col("id")], value=F.col("v"),
        out_col="cum", bucket_key=F.col("k"), num_buckets=8,
    )
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(got.collect()) == sorted(want.collect())

    got_rn = partitioned_row_number(
        df, order=[F.col("k"), F.col("id")], out_col="rn",
        bucket_key=F.col("k"), num_buckets=8,
    )
    w2 = Window.orderBy("k", "id")
    want_rn = df.withColumn("rn", F.row_number().over(w2).cast("long"))
    assert sorted(got_rn.collect()) == sorted(want_rn.collect())


def test_neighborhood_carry_matches_global_lag(spark, monkeypatch):
    """Sorted-neighborhood two-pass sweep finds exactly the pairs the
    global-window LAG formulation finds, across many tiny buckets (forces
    multi-boundary carries)."""
    from ubdc_airbnb_spark.operators.dedup import sorted_neighborhood_pairs

    _force_twopass(monkeypatch)

    rows = [(i, (i * 2654435761) % 256) for i in range(300)]
    sk = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = sorted(
        sorted_neighborhood_pairs(sk, "doc_id", "simhash", window=4, max_hamming=2).collect()
    )
    # naive reference: sort rows, compare each to its 4 predecessors
    data = sorted((r.simhash, r.doc_id) for r in sk.collect())
    want = set()
    for i in range(len(data)):
        for j in range(max(0, i - 4), i):
            if bin(data[i][0] ^ data[j][0]).count("1") <= 2:
                want.add((min(data[i][1], data[j][1]), max(data[i][1], data[j][1])))
    assert {(r.id_a, r.id_b) for r in got} == want


def test_centroid_probes_large_set_uses_broadcast_not_literal(spark):
    """VERDICT r2 #5: above the inline guard the centroid array must
    travel as broadcast DATA (a 1-row broadcast join of the aggregated
    centroid array), never as a multi-MB SQL literal — and the corpus
    side still must not shuffle. Both paths must agree exactly."""
    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.operators.similarity import centroid_probes
    from ubdc_airbnb_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid_vec"),
    )
    small = centroid_probes(emb, cents, probes=2)  # inline path
    big = centroid_probes(emb, cents, probes=2, inline_limit=0)  # broadcast path
    plan = _plan(big)
    # the 1-row build side makes the nested-loop join a pure broadcast —
    # the build subtree must be the bounded centroid aggregate
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan
    assert "HashAggregate" in plan  # collect_list of centroids, 1 output row
    assert "CartesianProduct" not in plan
    # no shuffle of the corpus: every non-broadcast Exchange is the tiny
    # single-partition aggregate of the centroid set
    simple = big._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        l for l in simple.splitlines() if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert all("SinglePartition" in l for l in shuffles), shuffles
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_canonical_per_cluster_is_aggregate_only(spark):
    """Viral-cluster safety: cluster resolution must be a map-side
    combinable aggregate (argmax via struct-max), never a per-component
    window sort."""
    from ubdc_airbnb_spark.operators.dedup import canonical_per_cluster

    comp = spark.createDataFrame([(1, 1), (2, 1)], "id long, component long")
    docs = spark.createDataFrame([(1, 0.5), (2, 0.9)], "doc_id long, q double")
    out = canonical_per_cluster(comp, docs, prefer=F.col("q"))
    plan = _plan(out)
    assert "Window" not in plan
    # struct-max compiles to SortAggregate (struct ordering isn't
    # hash-aggregable) — still partial-aggregated map-side, which is the
    # property that matters
    assert "HashAggregate" in plan or "SortAggregate" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Aggregate") >= 2  # partial + final around the exchange


def test_lsh_query_serving_broadcasts_query_side(spark):
    """rp_lsh_query_topk must probe the corpus in place: the banded
    query batch broadcasts, the corpus reaches the join with no
    Exchange, and no SortMergeJoin/Cartesian appears anywhere."""
    from ubdc_airbnb_spark.operators.similarity import rp_lsh_query_topk
    from ubdc_airbnb_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(rp_lsh_query_topk(emb, emb.filter(F.col("vec_id") < 4), k=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    # the corpus must never shuffle on the band keys (that would mean the
    # probe join hash-partitioned the corpus instead of broadcasting the
    # query batch); the only hash Exchanges are candidate-space (query_id)
    # for dedup + top-k
    assert "hashpartitioning(band" not in plan


def test_tfidf_cosine_pairs_shuffles_on_term_keys_only(spark):
    """Inverted-index all-pairs join: no cartesian/nested-loop; the df
    prune side is a broadcast; pair fragments join on the term key."""
    from ubdc_airbnb_spark.operators.tfidf import cosine_similar_pairs
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(cosine_similar_pairs(docs, max_df=50))
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the df<=50 term prune


def test_bigram_lm_no_cartesian_and_vocab_broadcast(spark):
    from ubdc_airbnb_spark.operators.lm import score_documents
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(score_documents(docs))
    assert "Cartesian" not in plan
    # the single-row vocab size attaches by broadcast, never a shuffle join
    assert "BroadcastExchange" in plan


def test_perceptron_training_is_single_aggregate_per_iteration(spark):
    """Each perceptron iteration must be one partial+final aggregate pair
    over the features — no join, no window, no shuffle beyond the F-long
    partial exchange."""
    from ubdc_airbnb_spark.operators.classifier import english_features
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    names = [f"f{i}" for i in range(6)]
    feats = docs.select(
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        *[c.alias(n) for c, n in zip(english_features("text"), names)],
    )
    grad = feats.agg(*[F.sum(F.when((F.col("y") * F.lit(0)) <= 0, F.col("y") * F.col(n))).alias(n) for n in names])
    plan = _plan(grad)
    assert "Join" not in plan and "Window" not in plan
    # exactly one Exchange node in the tree: the partial->final agg hop
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "partial_sum" in plan  # map-side combine confirmed


def test_funnel_no_window_and_slice_pushdown(spark):
    """The funnel must be conditional aggregates + joins — no Window —
    and each step's type predicate must reach the scan."""
    from ubdc_airbnb_spark.operators.funnel import funnel
    from ubdc_airbnb_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    plan = _plan(funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]))
    assert "Window" not in plan
    assert "Cartesian" not in plan
    # the step-type filters exist (pushed to scan for uncached parquet;
    # cached tables filter at the InMemoryRelation boundary)
    assert plan.count("view") >= 1 and plan.count("purchase") >= 1


def test_snapshot_diff_single_outer_join(spark):
    from ubdc_airbnb_spark.operators.diff import snapshot_diff
    from ubdc_airbnb_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select("event_id", "event_type", "value")
    plan = _plan(snapshot_diff(ev, ev.limit(500), ["event_id"]))
    tree = plan.split("\n\n")[0]
    assert tree.count("FullOuter") == 1
    assert "Window" not in plan


def test_bm25_probe_filters_at_source_and_takeordered(spark):
    """BM25: the query-term IN filter must prune before any aggregation,
    and the top-k must be TakeOrdered (never a global sort of the
    score table)."""
    from ubdc_airbnb_spark.operators.tfidf import bm25_topk
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(bm25_topk(docs, ["spark", "join"], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan


def test_collocations_topk_is_take_ordered(spark):
    from ubdc_airbnb_spark.operators.lm import collocations
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(collocations(docs, min_count=3, top=10))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan


def test_dsir_bucket_models_broadcast(spark):
    """DSIR's two unigram-model tables (≤ buckets rows) must broadcast
    back to the (doc, bucket) stream — the big side never sort-merges."""
    from ubdc_airbnb_spark.operators.curation import dsir_weights
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = _plan(dsir_weights(docs, F.col("lang") == "en", buckets=256))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pair_counts_single_pair_shuffle(spark):
    """BPE pair counts: the pair explode stays narrow; the only wide op
    is the pair-key hash aggregate (map-side combined), so exactly the
    exchanges of word-count + pair-count — never a join."""
    from ubdc_airbnb_spark.operators import bpe
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = _plan(bpe.pair_counts(bpe.initial_symbols(bpe.word_frequencies(docs, "doc_id", "text"))))
    assert "Join" not in plan
    # tree nodes render as "Exchange (n)"; map-side combine means exactly
    # two: the word-count shuffle and the pair-count shuffle
    assert plan.count("Exchange (") <= 2, plan.count("Exchange (")


def test_lsh_index_probe_no_corpus_wide_shuffle(spark, tmp_path):
    """The dedup-index probe joins banded corpus rows to the batch on
    (band_id, band_key); the corpus side must arrive partition-pruned
    (asserted in test_dedup_index) and the plan must not re-shuffle the
    corpus on anything except the band key."""
    from ubdc_airbnb_spark.operators.dedup_index import build_lsh_index, query_lsh_index
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = str(tmp_path / "lsh")
    build_lsh_index(docs.filter(F.col("doc_id") < 40), idx, n_buckets=8)
    plan = _plan(query_lsh_index(spark, idx, docs.filter(F.col("doc_id") >= 40)))
    assert "band_key" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Round-4 second wave: plan shapes of the new operators
# ---------------------------------------------------------------------------


def test_dedup_spans_no_unbounded_single_partition(spark):
    df = q.ns_dedup_spans(spark, SF)
    assert _unbounded_single_partition_subtrees(df) == []
    plan = _plan(df)
    # gram election + join, then the union+hash-agg zero-fill — no SMJ
    # sort on the doc id reassembly path
    assert "Union" in plan


def test_embed_quantize_broadcasts_stats_no_corpus_shuffle(spark):
    df = q.ns_embed_quantize(spark, SF)
    plan = _plan(df)
    # the packed (mn, mx) stats row arrives by broadcast; the corpus
    # side is a narrow zip_with — no corpus-keyed exchange above the scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert _unbounded_single_partition_subtrees(df) == []


def test_length_buckets_window_over_histogram_only(spark):
    df = q.ns_length_buckets(spark, SF)
    # the single-partition window is fed by the bounded histogram
    # aggregate, never raw doc rows
    assert _unbounded_single_partition_subtrees(df) == []


def test_contamination_spans_broadcasts_eval_grams(spark):
    plan = _plan(q.ns_contamination_spans(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ccnet_buckets_no_doc_level_lang_sort(spark):
    df = q.ns_ccnet_buckets(spark, SF)
    # cutoffs broadcast back; only histogram rows pass through windows
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert _unbounded_single_partition_subtrees(df) == []


def test_unigram_kl_bounded_bucket_aggregate(spark):
    df = q.ns_unigram_kl(spark, SF)
    assert _unbounded_single_partition_subtrees(df) == []


def test_line_filter_zero_exchange(spark):
    plan = _plan(q.ns_line_filter(spark, SF))
    assert "Exchange" not in plan


def test_hashing_tf_single_doc_bucket_shuffle(spark):
    plan = _plan(q.ns_hashing_tf(spark, SF))
    # one hashpartitioning exchange for the (doc,bucket) combine; the
    # doc-keyed norm window reuses that partitioning or adds one more —
    # never a SinglePartition over corpus rows
    df = q.ns_hashing_tf(spark, SF)
    assert _unbounded_single_partition_subtrees(df) == []


def test_apply_mixture_broadcasts_rates(spark):
    from ubdc_airbnb_spark.operators.sampling import apply_mixture

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], "doc_id long, grp string"
    )
    plan = _plan(apply_mixture(df, ["grp"], "doc_id", budget=30))
    # the quota table must reach the corpus as a broadcast, never a
    # corpus-wide shuffle join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_recall_truth_join_is_equi_on_gram(spark):
    from ubdc_airbnb_spark.operators.dedup import lsh_recall_eval

    df = spark.createDataFrame(
        [(i, f"word{i} common tokens shared here {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(lsh_recall_eval(df, "doc_id", "text", sample_fraction=0.5))
    # the quadratic truth branch must hash on the gram key (id_a < id_b
    # rides along as a post-join filter), never a nested-loop all-pairs
    assert "CartesianProduct" not in plan


def test_group_centroid_similarity_corpus_never_joins(spark):
    from ubdc_airbnb_spark.operators.similarity import group_centroid_similarity

    df = spark.createDataFrame(
        [(i, i % 4, [float(i), 1.0]) for i in range(40)],
        "vec_id long, label int, embedding array<float>",
    )
    plan = _plan(group_centroid_similarity(df, "label"))
    # only the k-row centroid table may pair-join (broadcast inequality);
    # the corpus side is aggregates only, so exactly one join appears
    # and it is a broadcast
    assert plan.count("Join") >= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_embedding_norm_health_single_shuffle(spark):
    from ubdc_airbnb_spark.operators.profile import embedding_norm_health

    df = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0]) for i in range(20)],
        "vec_id long, label int, embedding array<float>",
    )
    plan = _plan(embedding_norm_health(df, "label"))
    # narrow quantize + one keyed aggregate: no join, one Exchange
    # (tree form "Exchange (n)" — the detail section repeats the node)
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1


def test_report_query_names_all_registered(spark):
    from ubdc_airbnb_spark import cli
    from ubdc_airbnb_spark import queries as q_mod

    names = {s.name for s in q_mod.registry()}
    missing = [n for n in cli._REPORT_QUERIES if n not in names]
    assert missing == []


def test_build_vocab_topk_before_rank(spark):
    """VERDICT r09 item 1: the vocab build must bound the distinct-word
    table with TakeOrderedAndProject BEFORE the ranking window — the old
    rank-then-filter shape sorted the FULL corpus vocabulary (billions
    of junk tokens at web scale) on one reducer, and Spark's
    InferWindowGroupLimit rescue never fires on a predicate over
    row_number()-1 (rank arithmetic, not the raw rank attribute)."""
    from ubdc_airbnb_spark.operators.tfidf import build_vocab

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta word%d" % (i % 7)) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(build_vocab(df, size=5))
    assert "TakeOrderedAndProject" in plan
    # the Window's child must be the bounded top-k, not a full-table
    # single-partition sort: formatted plans list nodes child-first, so
    # TakeOrdered must appear in the tree ABOVE (before) the Window line
    tree = plan.split("\n\n")[0].splitlines()
    win = next(i for i, l in enumerate(tree) if "Window" in l)
    tko = next(i for i, l in enumerate(tree) if "TakeOrderedAndProject" in l)
    assert tko > win, "TakeOrderedAndProject must be the Window's child"
    # and no full-vocab single-partition exchange feeds the Window
    assert "SinglePartition" not in plan


def test_rank_filter_rescue_fires_only_on_raw_rank(spark):
    """The Catalyst lesson behind the build_vocab trap, encoded: Spark
    rescues filter-over-row_number ONLY when the predicate is on the
    RAW rank attribute. On a PARTITIONED window, InferWindowGroupLimit
    inserts a WindowGroupLimit (per-partition top-k before the sort);
    on a GLOBAL window, LimitPushDownThroughWindow turns it into
    TakeOrderedAndProject under the Window. `rn <= k` gets the rescue;
    `rn - 1 < k` (rank arithmetic) defeats BOTH rules and leaves the
    full table sorting on one reducer — which is why top-k-then-rank
    must be written explicitly whenever the filtered column is derived
    from the rank rather than the rank itself."""
    from pyspark.sql import Window

    df = spark.range(100).select(
        (F.col("id") % 10).alias("g"), F.col("id").alias("v")
    )
    # global window: rescue = TakeOrderedAndProject below the Window
    wg = Window.orderBy(F.desc("v"))
    rescued_g = df.withColumn("rn", F.row_number().over(wg)).filter(F.col("rn") <= 5)
    defeated_g = (
        df.withColumn("rn", F.row_number().over(wg) - 1).filter(F.col("rn") < 5)
    )
    assert "TakeOrderedAndProject" in _plan(rescued_g)
    pd_plan = _plan(defeated_g)
    assert "TakeOrderedAndProject" not in pd_plan
    assert "SinglePartition" in pd_plan  # the full-table trap
    # partitioned window: rescue = WindowGroupLimit
    wp = Window.partitionBy("g").orderBy(F.desc("v"))
    rescued_p = df.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= 5)
    defeated_p = (
        df.withColumn("rn", F.row_number().over(wp) - 1).filter(F.col("rn") < 5)
    )
    assert "WindowGroupLimit" in _plan(rescued_p)
    assert "WindowGroupLimit" not in _plan(defeated_p)
