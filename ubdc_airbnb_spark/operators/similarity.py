"""Similarity search over embedding columns (north-star): brute-force
cosine top-k as the exact baseline, and an IVF (inverted-file) variant as
the scale path.

One cosine kernel: the sequential higher-order-function fold
(``zip_with`` + ``aggregate``) in :func:`dot` / :func:`norm`, with the
Spark-SQL text twins :func:`dot_expr` / :func:`norm_expr` /
:func:`cosine_expr` that the SQL-string call sites use. The fold sums
left to right, the order the DuckDB oracle replays, so every cosine the
engine produces -- an output float, a rank or a threshold membership --
is bit-identical to the oracle's. Catalyst runs the fold interpreted
(``ArrayAggregate`` and ``ArrayTransform`` are ``CodegenFallback``), and
no Python worker is ever involved.

Scale notes: brute force is O(n·q) dot products — fine when the query set
is broadcastable. IVF turns it into O(n/k · q · probes) by bucketing both
sides on nearest-centroid id and equi-joining on the bucket, which is a
hash-partitioned join instead of a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .windows import first_row_per_key


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Column form of :func:`cosine_expr`.

    NULL (not NaN, not an error) when either norm is zero: under
    Spark 4's default ANSI mode a bare ``x / 0.0`` THROWS
    DIVIDE_BY_ZERO, so one all-zero embedding would kill every cosine
    gate. NULL fails every ``>= threshold`` predicate, so zero-norm
    vectors are deterministically "similar to nothing" on every engine,
    instead of inheriting NaN's engine-specific comparison order (Spark
    treats NaN as GREATER than any number, which would make a zero-norm
    vector similar to everything). A NULL operand, a dimension mismatch
    (``zip_with`` pads with NULL) and an empty array also give NULL; a
    NaN component gives NaN, as in DuckDB."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def dot_expr(a_sql: str, b_sql: str) -> str:
    """Spark-SQL text twin of :func:`dot` (single-parse construction;
    double literals carry the D suffix so arithmetic is IEEE-double
    exactly like the Column form)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def norm_expr(a_sql: str) -> str:
    """Spark-SQL text twin of :func:`norm`."""
    return (
        f"sqrt(aggregate(transform({a_sql}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def cosine_expr(a_sql: str, b_sql: str) -> str:
    """Spark-SQL text twin of :func:`cosine` — one parse instead of ~90
    py4j round trips per use (three HOF folds built element-wise).
    Same zero-norm → NULL contract (ANSI-safe, see :func:`cosine`)."""
    return (
        f"({dot_expr(a_sql, b_sql)} / "
        f"nullif({norm_expr(a_sql)} * {norm_expr(b_sql)}, 0.0D))"
    )


def cosine_cols(a_name: str, b_name: str) -> Column:
    """:func:`cosine` over two NAMED columns, built from one parse of
    :func:`cosine_expr`."""
    return F.expr(cosine_expr(f"`{a_name}`", f"`{b_name}`"))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the query set, cross-join
    against the corpus, per-query top-k via window rank.

    Output: (query_id, neighbor_id, rank). Plan: BroadcastNestedLoopJoin
    over the corpus scan (one pass, no corpus shuffle) then a partial
    top-k per partition folded by the rank window on query_id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    scored = (
        v.join(broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_cols("q_vec", "n_vec"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def threshold_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    detection. Exact all-pairs; at scale gate it behind IVF buckets.

    Threshold membership is exact against the oracle: the cosine is the
    same left-to-right fold DuckDB evaluates, so a pair whose cosine
    equals ``threshold`` is included on both engines (pinned by
    test_similarity_kernels.py against a Python left-to-right sum)."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        a.join(broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_cols("vec_a", "vec_b"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


def assign_ivf_buckets(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """IVF assignment: nearest centroid (max cosine) per vector via
    broadcast join + per-vector argmax. Centroid count is small (√n rule
    of thumb), so the broadcast never shuffles the corpus."""
    scored = vectors.join(broadcast(centroids)).withColumn(
        "cos", cosine_cols(vec_col, centroid_vec)
    )
    best = first_row_per_key(
        scored,
        [id_col],
        [F.col("cos").desc(), F.col(centroid_id).asc()],
    )
    return best.select(id_col, vec_col, centroid_id)


def centroid_probes(
    vectors: DataFrame,
    centroids: DataFrame,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    inline_limit: int = 10_000,
) -> DataFrame:
    """Multi-probe IVF assignment with NO shuffle of the corpus.

    Each vector scores every centroid with a higher-order ``transform``
    over an ``array<struct<cid,cvec>>``, sorts by (-cosine, cid) and
    keeps the top ``probes``. How the centroid array reaches the workers
    depends on its size:

    - **small** (``count * dim <= inline_limit``): collected and inlined
      as a literal expression — a pure narrow select, zero plan nodes
      beyond the scan (the pattern that made MinHash signatures narrow).
    - **large** (the √n rule puts 10^10 vectors at ~10^5 centroids —
      tens of MB that would melt the SQL parser/plan serializer as a
      literal): the centroids are collapsed into ONE array row by a
      bounded aggregate and attached via a broadcast join (Catalyst
      folds the constant key into a 1-row BroadcastNestedLoopJoin —
      with a single-row build side that is exactly a broadcast, not an
      all-pairs join). The corpus side still never shuffles, and the
      centroid payload travels as broadcast data, not as SQL text.

    Output: one row per (vector, probed centroid):
    (id_col, vec_col, centroid_id). Ordering matches the SQL oracle's
    ``row_number() OVER (ORDER BY cos DESC, centroid_id)``.
    """

    def _probed(cents: Column) -> Column:
        vec = F.col(vec_col)
        # reference the materialized __vnorm column, NOT the norm(vec)
        # fold: a captured expression re-evaluates per array element
        # (the HOF-capture trap), paying the O(D) query-norm once per
        # CENTROID instead of once per row
        # nullif: ANSI mode throws DIVIDE_BY_ZERO on a zero-norm vector
        # or centroid (r07 finding — one all-zero embedding would kill
        # the assignment job). Spark struct ordering is NULLS FIRST, so
        # a bare NULL negcos would make a degenerate centroid everyone's
        # TOP probe (r07 advice); coalesce to 2.0 — strictly greater
        # than any real negcos in [-1, 1] — so degenerate operands
        # genuinely sort last, matching the SQL oracle's
        # ORDER BY cos DESC (NULLS LAST).
        scores = F.transform(
            cents,
            lambda c: F.struct(
                F.coalesce(
                    -(
                        dot(vec, c["cvec"])
                        / F.nullif(F.col("__vnorm") * norm(c["cvec"]), F.lit(0.0))
                    ),
                    F.lit(2.0),
                ).alias("negcos"),
                c["cid"].alias("cid"),
            ),
        )
        return F.slice(F.array_sort(scores), 1, probes)

    n_cent = centroids.count()
    dim_row = centroids.select(F.size(centroid_vec).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row and dim_row["d"] is not None else 0
    if n_cent * max(dim, 1) <= inline_limit:
        rows = centroids.select(centroid_id, centroid_vec).collect()
        cents_sql = ", ".join(
            "named_struct('cid', {}L, 'cvec', array({}))".format(
                int(r[0]), ", ".join(f"CAST({v!r} AS DOUBLE)" for v in r[1])
            )
            for r in sorted(rows, key=lambda r: int(r[0]))
        )
        src = vectors
        # an empty array() is array<void>, which the struct access below
        # rejects; zero centroids get the typed empty array instead
        cents_col = F.expr(
            f"array({cents_sql})"
            if rows
            else "CAST(array() AS array<struct<cid:bigint,cvec:array<double>>>)"
        )
    else:
        cents_one = centroids.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(centroid_id).cast("long").alias("cid"),
                        F.transform(
                            F.col(centroid_vec), lambda x: x.cast("double")
                        ).alias("cvec"),
                    )
                )
            ).alias("__cents")
        ).withColumn("__one", F.lit(1))
        src = vectors.withColumn("__one", F.lit(1)).join(
            broadcast(cents_one), "__one"
        ).drop("__one")
        cents_col = F.col("__cents")
    return (
        src.withColumn("__vnorm", norm(F.col(vec_col)))
        .select(id_col, vec_col, F.explode(_probed(cents_col)).alias("__pr"))
        .select(id_col, vec_col, F.col("__pr.cid").alias(centroid_id))
    )


def _value_nodes(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    max_group: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Contract exact-duplicate vectors to value super-nodes — the
    embedding analog of the distinct-sketch contraction in
    ``dedup.sketch_value_pairs`` (SCALE.md r07): on a replicated corpus
    every duplicate re-enters the bucket join, so candidate cost grows
    with corpus multiplicity instead of content diversity.

    Returns ``(vals, members)``: ``vals`` is one row per DISTINCT vector
    value — ``(__vid, vec_col)`` with ``__vid = min(member id)`` — and
    ``members`` maps every input row to its value node ``(__mid,
    __vid)``. Both joins/aggregates key on the raw array value (exact
    float equality — the contract for "identical vector").

    ``max_group`` (r08 cap parity): value groups with more than
    ``max_group`` members are dropped from pair generation ENTIRELY —
    a B-member group's expansion emits B² member pairs into the
    partitions owning its key (2.4B output rows at sf100 was
    output-inherent but unguarded). Capped groups are exact-duplicate
    vectors by construction; the O(B) exact pass
    (``groupBy(vec).agg(min(id))`` — ``ns_embed_norms``-style) resolves
    them, so the dedup composition loses nothing the cheap path doesn't
    recover. Default ``None`` (off) — gate-parity behavior."""
    m = vectors.select(F.col(id_col).alias("__mid"), F.col(vec_col).alias("__mvec"))
    vals = m.groupBy("__mvec").agg(
        F.min("__mid").alias("__vid"), F.count(F.lit(1)).alias("__gn")
    )
    if max_group is not None:
        vals = vals.filter(F.col("__gn") <= max_group)
    vals = vals.drop("__gn")
    # shuffle_hash pin: vals is post-aggregate (structurally tiny size
    # estimate — the class-1 auto-broadcast hazard on a corpus table)
    members = m.join(vals.hint("shuffle_hash"), "__mvec").select("__mid", "__vid")
    return vals.select("__vid", F.col("__mvec").alias(vec_col)), members


def _expand_value_pairs(
    members: DataFrame,
    vals: DataFrame,
    val_pairs: DataFrame,
    vec_col: str,
    threshold: float,
    surviving: DataFrame | None = None,
) -> DataFrame:
    """Member-level (id_a < id_b) pairs from verified VALUE pairs:

    - identical-vector pairs (the hamming-0 analog): all member pairs
      within a value group, gated on the SAME ``cosine >= threshold``
      predicate the pairwise form would have evaluated for them
      (``cosine(v, v)`` — handles zero-norm vectors identically);
    - cross-value pairs: verified ``(vid_a, vid_b)`` × the members of
      each side. Groups partition the ids, so the two branches are
      disjoint by construction.

    ``surviving`` (r09, with ``max_bucket``): when bucket capping is in
    play, a group keeps its within-pairs only while it still appears in
    ≥1 surviving bucket — the rows the uncapped banded join would have
    generated (same semantics as ``dedup.minhash_lsh_pairs``)."""
    ok = vals.filter(
        cosine_cols(vec_col, vec_col) >= F.lit(threshold)
    ).select("__vid")
    if surviving is not None:
        ok = ok.join(surviving.hint("shuffle_hash"), "__vid", "semi")
    mx = members.select("__vid", F.col("__mid").alias("id_a"))
    my = members.select("__vid", F.col("__mid").alias("id_b"))
    zero = (
        mx.join(my.hint("shuffle_hash"), "__vid")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(ok.hint("shuffle_hash"), "__vid", "semi")
        .select("id_a", "id_b")
    )
    cross = (
        val_pairs.join(
            members.select(
                F.col("__vid").alias("vid_a"), F.col("__mid").alias("__ida")
            ).hint("shuffle_hash"),
            "vid_a",
        )
        .join(
            members.select(
                F.col("__vid").alias("vid_b"), F.col("__mid").alias("__idb")
            ).hint("shuffle_hash"),
            "vid_b",
        )
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
        )
    )
    return zero.unionByName(cross)


def _ivf_value_pairs(
    vals: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    threshold: float,
    probes: int,
) -> DataFrame:
    """Verified ``(vid_a, vid_b)`` value pairs sharing a probed IVF
    bucket, cosine verify INSIDE the join — nothing unverified is ever
    shuffled (probe assignment depends only on the vector value, so
    value-level bucket sharing is exactly member-level bucket sharing)."""
    assigned = centroid_probes(vals, centroids, probes, "__vid", vec_col)
    a = assigned.select(
        "centroid_id", F.col("__vid").alias("vid_a"), F.col(vec_col).alias("vec_a")
    )
    b = assigned.select(
        "centroid_id", F.col("__vid").alias("vid_b"), F.col(vec_col).alias("vec_b")
    )
    return (
        a.join(
            b.hint("shuffle_hash"),
            (a["centroid_id"] == b["centroid_id"])
            & (F.col("vid_a") < F.col("vid_b"))
            & (cosine_cols("vec_a", "vec_b") >= F.lit(threshold)),
        )
        .select("vid_a", "vid_b")
        .distinct()  # pairs sharing >1 probe bucket — verified rows only
    )


def ivf_threshold_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    probes: int = 2,
    max_group: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs at scale: IVF-bucketed candidate
    generation → exact cosine verify (the embedding analog of what
    ``ns_dedup_ngram_jaccard`` does for text: never all-pairs).

    Candidates are value pairs sharing at least one probed centroid
    bucket — a hash equi-join on ``centroid_id`` costing Σ|bucket|² over
    DISTINCT vector values, never n² and never corpus multiplicity: the
    naive per-document form (r07 sf1 smoke: 702 s, a ~600 GB shuffle of
    unverified wide candidate rows through a dropDuplicates) contracts
    to value super-nodes with the verify inside the join, then expands
    members — byte-identical output (pytest-asserted vs the naive
    shape). Multi-probe (default 2) recovers most boundary pairs
    single-probe IVF would miss; recall < 1 remains by construction and
    is the documented contract (``threshold_pairs`` stays available as
    the exact small-data baseline)."""
    vals, members = _value_nodes(vectors, id_col, vec_col, max_group)
    val_pairs = _ivf_value_pairs(vals, centroids, vec_col, threshold, probes)
    return _expand_value_pairs(members, vals, val_pairs, vec_col, threshold)


def embedding_components(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    probes: int = 2,
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) over the IVF-verified cosine near-dup graph
    WITHOUT ever materializing document-level pairs — the embedding twin
    of ``dedup.simhash_components``. Component = min member id, exactly
    the labeling ``connected_components(ivf_threshold_pairs(...))``
    produces (pytest-asserted).

    Contraction: identical vectors are pairwise-connected by definition
    (when ``cosine(v, v) >= threshold`` — evaluated, so zero-norm /
    degenerate thresholds keep the pairwise semantics), so each distinct
    vector value is one super-node whose seed label ``__vid`` is already
    ``min(member id)``; edges are the verified value pairs; members
    inherit their value node's fixpoint label — or keep their own id
    when the self-pair predicate fails (those groups have no internal
    edges in the pairwise form)."""
    from .graph import connected_components

    vals, members = _value_nodes(vectors, id_col, vec_col)
    edges = _ivf_value_pairs(vals, centroids, vec_col, threshold, probes)
    comp = connected_components(
        edges,
        vals.select("__vid"),
        src="vid_a",
        dst="vid_b",
        id_col="__vid",
        max_iter=max_iter,
    )
    selfok = vals.select(
        "__vid",
        (cosine_cols(vec_col, vec_col) >= F.lit(threshold)).alias("__selfok"),
    )
    return (
        members.join(comp.withColumnRenamed("id", "__vid").hint("shuffle_hash"), "__vid")
        .join(selfok.hint("shuffle_hash"), "__vid")
        .select(
            F.col("__mid").alias("id"),
            F.when(F.col("__selfok"), F.col("component"))
            .otherwise(F.col("__mid"))
            .alias("component"),
        )
    )


def rp_planes(num_planes: int, dim: int, salt: str = "rp") -> list[list[float]]:
    """Deterministic ±1 random-hyperplane components, seeded by md5 of
    (salt, plane, dim) — Python-side constants, so the Spark plan and the
    SQL oracle inline the *same* literals. Rademacher (±1) hyperplanes
    preserve the SimHash cosine-collision guarantee and keep every dot
    product exactly representable (no float literals to round-trip)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{salt}:{p}:{d}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def rp_signature(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    salt: str = "rp",
    dim: int = 64,
) -> DataFrame:
    """SimHash-for-vectors: a ``num_planes``-bit signature string where
    bit p = sign(v · plane_p). Pure narrow select (hyperplanes are inlined
    literals — no join, no shuffle, the corpus is never moved), the same
    shape that makes MinHash signatures scale-free."""
    planes = F.array(
        *[
            F.array(*[F.lit(c) for c in plane])
            for plane in rp_planes(num_planes, dim, salt)
        ]
    )
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bits = F.transform(
        planes, lambda p: F.when(dot(vec, p) >= 0, F.lit("1")).otherwise(F.lit("0"))
    )
    return vectors.select(
        id_col, vec_col, F.array_join(bits, "").alias("rp_sig")
    )


def rp_lsh_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    salt: str = "rp",
    dim: int = 64,
    max_group: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH banding: the
    data-independent alternative to IVF (no centroid training step).

    Signature → split into ``bands`` contiguous bit-bands → explode →
    self-equi-join on (band_id, band_key) over DISTINCT vector values
    with the exact cosine verify INSIDE the join → member expansion
    (signatures depend only on the vector value, so value-level band
    sharing is exactly member-level band sharing; same contraction as
    ``ivf_threshold_pairs`` — nothing unverified is ever shuffled, and
    candidate cost follows content diversity, not corpus multiplicity).
    Join cost is Σ|bucket|² over 2^(bits/band)-way buckets per band —
    never n². Same contract as ``ivf_threshold_pairs``: recall < 1 by
    construction, precision 1 after the verify.

    ``max_bucket`` (r09, cap parity with ``dedup.lsh_jaccard_pairs``):
    the viral NEAR-dup bucket guard — ``max_group`` only bounds
    exact-duplicate vector groups (one value node each), so a dense
    cluster of DISTINCT near-identical embeddings (augmented copies,
    re-encoded crops) still concentrates one band bucket and goes
    quadratic in the band self-join. Bucket occupancy is
    member-weighted (Σ group sizes — the count the uncapped join sees);
    buckets over the cap drop out of pair generation; a group keeps its
    within-pairs only while it survives in ≥1 bucket."""
    width = num_planes // bands
    vals, members = _value_nodes(vectors, id_col, vec_col, max_group)
    sigs = rp_signature(vals, "__vid", vec_col, num_planes, salt, dim)
    banded = sigs.select(
        "__vid",
        vec_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.substring(F.col("rp_sig"), b * width + 1, width),
            )
        ).alias("band_id", "band_key"),
    )
    surviving = None
    if max_bucket is not None:
        from pyspark.sql import Window

        gsz = members.groupBy("__vid").agg(F.count(F.lit(1)).alias("__gn"))
        w = Window.partitionBy("band_id", "band_key")
        banded = (
            banded.join(gsz.hint("shuffle_hash"), "__vid")
            .withColumn("__bw", F.sum("__gn").over(w))
            .filter(F.col("__bw") <= max_bucket)
            .drop("__bw", "__gn")
        )
        surviving = banded.select("__vid").distinct()
    a = banded.select(
        "band_id", "band_key", F.col("__vid").alias("vid_a"), F.col(vec_col).alias("vec_a")
    )
    b = banded.select(
        "band_id", "band_key", F.col("__vid").alias("vid_b"), F.col(vec_col).alias("vec_b")
    )
    val_pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (a["band_id"] == b["band_id"])
            & (a["band_key"] == b["band_key"])
            & (F.col("vid_a") < F.col("vid_b"))
            & (cosine_cols("vec_a", "vec_b") >= F.lit(threshold)),
        )
        .select("vid_a", "vid_b")
        .distinct()
    )
    return _expand_value_pairs(
        members, vals, val_pairs, vec_col, threshold, surviving=surviving
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the iterative-algorithm
    pattern (driver loop of set-based steps, like the quadtree BFS):
    assign to nearest centroid (broadcast argmax, no corpus shuffle) →
    recompute centroids as element-wise means (posexplode → groupBy
    (cluster, dim) → reassemble with array_sort). Seeds = first k vectors
    by id (deterministic). Returns (centroid_id, centroid_vec).

    Feeds IVF: running a few Lloyd iterations before assign_ivf_buckets
    gives far better bucket balance than raw seed vectors."""
    from pyspark.sql import Window

    centroids = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid_vec"),
        )
    )
    for _ in range(iters):
        assigned = assign_ivf_buckets(
            vectors, centroids, id_col, vec_col, "centroid_id", "centroid_vec"
        )
        dims = assigned.select(
            "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        # mean via DECIMAL-exact sum, quantized to 9 dp: double addition
        # is not associative, so a float avg would drift with partition
        # order; the decimal sum is order-independent and the 1e-9
        # quantization absorbs the cross-engine double->decimal cast ulp
        # (Spark casts via the shortest string repr, other engines
        # convert exactly), making every Lloyd iteration reproducible
        # across runs, partitionings, and the DuckDB oracle
        means = dims.groupBy("centroid_id", "pos").agg(
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("m")
        )
        centroids = (
            means.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
                    lambda s: s["m"],
                ).alias("centroid_vec")
            )
        )
    return centroids


def kmeans_inertia(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Sum of (1 - cosine-to-assigned-centroid) — the objective the Lloyd
    loop should not increase (asserted in tests)."""
    scored = vectors.join(broadcast(centroids)).withColumn(
        "cos", cosine_cols(vec_col, "centroid_vec")
    )
    best = first_row_per_key(scored, [id_col], [F.col("cos").desc(), F.col("centroid_id").asc()])
    return best.agg(F.sum(F.lit(1.0) - F.col("cos"))).collect()[0][0]


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: both sides bucketed by nearest centroid, join on
    bucket id (hash join, not cross join), per-query top-k within the
    probed bucket(s). Recall < 1 by construction; verified in tests
    against brute force.

    ``probes > 1`` is the recall lever: the query side probes its top-p
    centroids (corpus stays single-assigned, so probe cost scales with
    the query set only — p·|q| bucket lookups, corpus untouched)."""
    bucketed = assign_ivf_buckets(vectors, centroids, id_col, vec_col)
    q_assigned = (
        assign_ivf_buckets(queries, centroids, id_col, vec_col)
        if probes == 1
        else centroid_probes(queries, centroids, probes, id_col, vec_col)
    )
    q_bucketed = q_assigned.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("centroid_id"),
    )
    v = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec"), "centroid_id"
    )
    scored = (
        v.join(broadcast(q_bucketed), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_cols("q_vec", "n_vec"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN for the 100 TB tier
# ---------------------------------------------------------------------------


def pq_codes(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: split each vector into ``m`` subvectors and replace
    each with the id of its nearest codebook centroid in that subspace —
    the IVF-PQ layout every billion-scale ANN system uses. Nearness is
    max inner product (consistent with the dot-product ADC metric, and
    the same primitive the IVF gates already replay bit-for-bit in the
    oracle; L2 argmin would need an engine-identical subtraction fold).
    A d-dim float vector becomes ``m`` small ints: ~64x compression,
    which is what makes the corpus *shuffle-able* and cache-resident at
    100 TB raw.

    ``codebook``: (subspace, centroid_id, centroid_sub) — broadcast
    (m × n_centroids rows). Encoding: explode each vector into its m
    subvectors (narrow), broadcast-join the codebook per subspace, pick
    the argmax-dot code with a deterministic ``min(struct(-dot,
    centroid_id))`` per (vector, subspace). One shuffle on (id, subspace) — at scale,
    map-side combinable because each group holds n_centroids rows.

    Output: (``id_col``, subspace, code).
    """
    sub = dim // m
    slices = F.array(
        *[
            F.slice(F.col(vec_col), s * sub + 1, sub).alias(f"s{s}")
            for s in range(m)
        ]
    )
    exploded = vectors.select(
        F.col(id_col), F.posexplode(slices).alias("subspace", "subvec")
    )
    pdot = F.aggregate(
        F.zip_with(
            F.col("subvec"),
            F.col("centroid_sub"),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # min over (-dot, centroid_id): largest dot wins, ties to smallest id
    scored = exploded.join(broadcast(codebook), "subspace").select(
        F.col(id_col),
        F.col("subspace"),
        F.struct((-pdot).alias("d"), F.col("centroid_id").alias("c")).alias("dc"),
    )
    return (
        scored.groupBy(id_col, "subspace")
        .agg(F.min("dc").alias("best"))
        .select(F.col(id_col), F.col("subspace"), F.col("best.c").alias("code"))
    )


def pq_codebook_from_seeds(
    vectors: DataFrame,
    n_centroids: int = 16,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic codebook: the first ``n_centroids`` vectors by id
    donate their subvectors per subspace (the same seeding discipline as
    the IVF gates; swap in kmeans_centroids per subspace for production
    training — the encode/ADC algebra is identical)."""
    sub = dim // m
    seeds = vectors.filter(F.col(id_col) < n_centroids)
    slices = F.array(
        *[F.slice(F.col(vec_col), s * sub + 1, sub) for s in range(m)]
    )
    return seeds.select(
        F.col(id_col).alias("centroid_id"),
        F.posexplode(slices).alias("subspace", "centroid_sub"),
    ).select("subspace", "centroid_id", "centroid_sub")


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: per query, build the (subspace,
    centroid) → partial-dot lookup table (m × n_centroids rows per
    query — tiny, broadcast), join it to the corpus *codes* (the raw
    vectors are never touched), and sum the m partial dots per
    (query, vector).

    The per-pair score sums its m partials in FIXED subspace order
    (one conditional sum per subspace, added 0..m-1) so double addition
    is deterministic and the DuckDB oracle replays it bit-for-bit.

    Output: (query_id, neighbor_id, rank), rank ≤ k by approx dot desc.
    """
    sub = dim // m
    qslices = F.array(
        *[F.slice(F.col(vec_col), s * sub + 1, sub) for s in range(m)]
    )
    qsub = queries.select(
        F.col(id_col).alias("query_id"), F.posexplode(qslices).alias("subspace", "qsub")
    )
    pdot = F.aggregate(
        F.zip_with(
            F.col("qsub"),
            F.col("centroid_sub"),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = qsub.join(broadcast(codebook), "subspace").select(
        "query_id", "subspace", F.col("centroid_id").alias("code"), pdot.alias("pdot")
    )
    joined = codes.join(
        broadcast(lut),
        ["subspace", "code"],
    ).filter(F.col("query_id") != F.col(id_col))
    # fixed-order sum: one single-element conditional sum per subspace
    per_sub = [
        F.sum(F.when(F.col("subspace") == s, F.col("pdot"))).alias(f"p{s}")
        for s in range(m)
    ]
    scored = joined.groupBy("query_id", F.col(id_col).alias("neighbor_id")).agg(*per_sub)
    score = scored["p0"]
    for s in range(1, m):
        score = score + scored[f"p{s}"]
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("approx_dot", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_rerank_topk(
    vectors: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
    k: int = 5,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ pattern: ADC over the compressed codes produces
    a per-query ``shortlist`` (cheap, corpus never decompressed), then
    ONLY the shortlisted raw vectors are fetched and reranked by exact
    cosine. At 100 TB the exact pass touches ``q × shortlist`` vectors
    instead of the corpus — the join against ``vectors`` is an equi-join
    on id over a tiny candidate set. Recall@k at shortlist=20k is the
    recall lever (asserted ≥ in tests vs plain ADC).

    Output: (query_id, neighbor_id, rank) with exact cosine ranking."""
    from pyspark.sql import Window

    cands = pq_adc_topk(
        codes, queries, codebook, m=m, dim=dim, k=shortlist,
        id_col=id_col, vec_col=vec_col,
    )
    nv = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    scored = (
        cands.join(nv, "neighbor_id")
        .join(broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_cols("__qv", "__nv").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def rp_lsh_query_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    salt: str = "rp",
    dim: int = 64,
) -> DataFrame:
    """ANN *query serving* over random-hyperplane LSH buckets — the
    read path that complements ``rp_lsh_pairs``'s corpus self-dedup:
    a small query batch probes the banded signature space and only the
    colliding corpus vectors are scored exactly.

    Physical plan (the point of the operator): both sides compute their
    signatures as zero-shuffle narrow selects with the SAME inlined
    hyperplanes; the banded QUERY side — batch-sized by definition — is
    ``broadcast()``, so the corpus is probed in place: no corpus shuffle,
    no corpus sort, cost = Σ |colliding bucket| exact cosines instead of
    n·q brute force. Recall < 1 by construction (a near neighbor sharing
    no band with the query is missed — multi-band collision probability
    is the standard 1-(1-s^w)^b curve); precision 1 after the exact
    rerank.

    Output: (query_id, neighbor_id, cos, rank) with rank ≤ k per query,
    ties broken by neighbor id; self-matches excluded."""
    cb = rp_signature(corpus, id_col, vec_col, num_planes, salt, dim)
    qb = rp_signature(queries, id_col, vec_col, num_planes, salt, dim)
    width = num_planes // bands

    def banded(sigs: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.substring(F.col("rp_sig"), b * width + 1, width),
                )
            ).alias("band_id", "band_key"),
        )

    # cosine BEFORE the dedup so the (query, neighbor) distinct shuffles
    # narrow (id, id, double) rows, not two 64-double vectors per row —
    # the cosine is deterministic per pair, so scoring band-duplicate
    # candidates twice is map-side work that buys a payload-free shuffle
    cand = (
        banded(cb, "neighbor_id", "cvec")
        .join(broadcast(banded(qb, "query_id", "qvec")), ["band_id", "band_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_cols("qvec", "cvec"))
        .select("query_id", "neighbor_id", "cos")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def embedding_outliers(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual outlier gate: vectors whose cosine to their OWN (nearest)
    centroid falls below ``threshold`` sit in no real cluster — noise,
    corrupted encodes, or poisoning attempts — and should be quarantined
    before they smear IVF bucket boundaries or surface as spurious ANN
    neighbors.

    Same physical shape as `assign_ivf_buckets` (broadcast argmax — the
    corpus never shuffles) plus a narrow flag column; the cosine to the
    nearest centroid is already computed by the assignment, so the gate
    is free on top of an index build.

    Output: (vec_id, centroid_id, cos, outlier)."""
    scored = vectors.join(broadcast(centroids)).withColumn(
        "cos", cosine_cols(vec_col, "centroid_vec")
    )
    best = first_row_per_key(
        scored, [id_col], [F.col("cos").desc(), F.col("centroid_id").asc()]
    )
    return best.select(
        id_col,
        "centroid_id",
        "cos",
        (F.col("cos") < F.lit(float(threshold))).alias("outlier"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    const: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of ANN rankers — the standard hybrid-
    retrieval combiner (Cormack et al.): each input ranking contributes
    ``1/(const + rank)`` and candidates are re-ranked by the sum, so
    methods with incomparable scores (IVF cosine vs LSH bucket order vs
    BM25) fuse without calibration, and a candidate surfaced by several
    independent rankers beats a single ranker's top hit.

    Inputs are (query_id, neighbor_id, rank) frames; missing membership
    contributes 0 (COALESCE over the outer join, a fixed-order double
    sum of ≤len(rankings) terms — deterministic). Joins are equi-joins
    on (query, neighbor); per-query re-rank windows are k·len-bounded.

    Output: (query_id, neighbor_id, score, rank ≤ k)."""
    fused = None
    for i, r in enumerate(rankings):
        part = r.select(
            "query_id",
            "neighbor_id",
            F.col("rank").alias(f"__r{i}"),
        )
        fused = part if fused is None else fused.join(
            part, ["query_id", "neighbor_id"], "full_outer"
        )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(const) + F.col(f"__r{i}")).cast("double"), F.lit(0.0)
        )
        score = term if score is None else score + term
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("neighbor_id"))
    return (
        fused.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def scalar_quantize_stats(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Int8-style scalar quantization (per-dimension min/max affine
    codes, the FAISS ``SQ8`` / vector-DB storage recipe) with a
    per-vector reconstruction-error report — the gate you run before
    switching a 100 TB embedding store from float32 to 1-byte codes:

        code_d = round((x_d − mn_d) / ((mx_d − mn_d) / levels))
        deq_d  = mn_d + code_d · (mx_d − mn_d) / levels

    Output: (id_col, mse, max_err) per vector, where ``mse`` is the mean
    squared reconstruction error and ``max_err`` the max |deq − x|.

    Scale shape: the per-dim min/max pass is a posexplode → groupBy(dim)
    with map-side partial MIN/MAX (dim-count keys, tiny result); the
    stats pack into ONE broadcast row of (mn, mx) structs so the scoring
    pass is a narrow zip_with over each vector — the corpus is scanned
    twice and never shuffled. Determinism: codes and errors are pure
    IEEE double expressions evaluated in a fixed order; the per-vector
    error sum quantizes err² to integer picounits before folding, so the
    MSE is bit-stable across engines and partition orders (max is
    order-free already).
    """
    dims = vectors.select(F.posexplode(F.col(vec_col)).alias("d", "x0")).select(
        "d", F.col("x0").cast("double").alias("x")
    )
    stats = dims.groupBy("d").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    packed = (
        stats.agg(F.array_sort(F.collect_list(F.struct("d", "mn", "mx"))).alias("sts0"))
        .select(
            F.transform(
                "sts0", lambda s: F.struct(s["mn"].alias("mn"), s["mx"].alias("mx"))
            ).alias("sts")
        )
    )
    lv = float(levels)

    def qerr(x: Column, s: Column) -> Column:
        xd = x.cast("double")
        rng = s["mx"] - s["mn"]
        scale = rng / F.lit(lv)
        code = F.least(
            F.greatest(F.round((xd - s["mn"]) / scale), F.lit(0.0)), F.lit(lv)
        )
        deq = F.when(rng > 0, s["mn"] + code * scale).otherwise(s["mn"])
        return deq - xd

    errs = vectors.crossJoin(broadcast(packed)).select(
        F.col(id_col),
        F.zip_with(F.col(vec_col), F.col("sts"), qerr).alias("errs"),
    )
    return errs.select(
        F.col(id_col),
        (
            F.aggregate(
                F.col("errs"),
                F.lit(0).cast("long"),
                lambda acc, e: acc + F.floor(e * e * F.lit(1e12)).cast("long"),
            ).cast("double")
            / F.lit(1e12)
            / F.size("errs").cast("double")
        ).alias("mse"),
        F.aggregate(
            F.col("errs"), F.lit(0.0), lambda acc, e: F.greatest(acc, F.abs(e))
        ).alias("max_err"),
    )


def power_iteration_top_pc(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """Top principal direction of an embedding corpus by power iteration
    — the building block of 'all-but-the-top' post-processing (Mu 2018:
    removing the dominant direction de-biases embedding similarity) and
    of PCA-based dimensionality checks:

        v ← normalize( Σ_i (x_i · v) x_i ),  v₀ = 1/√D · 𝟙

    Scale shape: each iteration is ONE corpus scan — the projection
    x·v folds row-locally against a literal v (narrow), the update
    vector Σ proj·x reduces by a bounded groupBy(dim) with map-side
    combine (D keys), and only the D-sized result reaches the driver
    (the k-means centroid discipline). No corpus-sized join or window.

    Determinism: projections quantize per-dim products to integer
    nano-units (order-free integer sums), the dim sums accumulate in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so no overflow at any
    corpus size, and the norm comes from the EXACT integer Σ s_d² — the
    oracle unrolls the same iterations in SQL and matches bit-for-bit.

    Output: (d, v) — one row per dimension of the unit top component.
    """
    import math

    first = vectors.select(vec_col).first()
    if first is None:
        raise ValueError(
            "power_iteration_top_pc: vectors table is empty — no principal "
            "direction to estimate"
        )
    dim = len(first[0])
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(iters):
        lit_v = F.array(*[F.lit(float(x)) for x in v])
        proj_u = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                lit_v,
                lambda x, vd: F.floor(x.cast("double") * vd * F.lit(1e9)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        # materialize the O(D) projection fold as a real column BEFORE the
        # per-element transform: a captured expression re-evaluates per
        # array element (O(D^2)/row), a column reference does not
        terms = (
            vectors.withColumn("__proj_u", proj_u)
            .select(
                F.posexplode(
                    F.transform(
                        F.col(vec_col),
                        lambda x: F.floor(
                            (F.col("__proj_u").cast("double") / F.lit(1e9))
                            * x.cast("double")
                            * F.lit(1e9)
                        ).cast("long"),
                    )
                ).alias("d", "t_u")
            )
        )
        s_rows = (
            terms.groupBy("d")
            .agg(F.sum(F.col("t_u").cast("decimal(38,0)")).alias("s"))
            .collect()
        )
        s = [0] * dim
        for r in s_rows:
            s[r["d"]] = int(r["s"])
        norm = math.sqrt(float(sum(x * x for x in s)))
        if norm == 0.0:
            # degenerate corpus (all projections quantize to zero):
            # keep the previous iterate rather than divide by zero
            break
        v = [float(x) / norm for x in s]
    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(d, v[d]) for d in range(dim)], "d long, v double"
    )


def remove_top_pc(
    vectors: DataFrame,
    component: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """'All-but-the-top' de-biasing (Mu 2018): subtract the projection on
    the dominant direction, x' = x − (x·v)v, and report per-vector norms
    before/after — the isotropy gain every embedding-similarity pipeline
    checks before trusting cosine scores.

    Narrow one-pass transform against the literal component (no joins,
    no shuffle); both norms and the projection quantize per-dim terms to
    integer nano-units before their order-free sums, so the numbers are
    engine- and partitioning-stable.

    Output: (id_col, proj, norm_before, norm_after).
    """
    lit_v = F.array(*[F.lit(float(x)) for x in component])

    def q9_sum(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, t: acc + t)

    proj_u_expr = q9_sum(
        F.zip_with(
            F.col(vec_col),
            lit_v,
            lambda x, vd: F.floor(x.cast("double") * vd * F.lit(1e9)).cast("long"),
        )
    )
    # materialize the projection as a real column before it is captured
    # inside the residual zip_with lambda — a captured expression
    # re-evaluates per array element (O(D^2)/row), a column ref is O(1)
    staged = vectors.withColumn("__proj_u", proj_u_expr)
    proj = F.col("__proj_u").cast("double") / F.lit(1e9)
    resid = F.zip_with(
        F.col(vec_col), lit_v, lambda x, vd: x.cast("double") - proj * vd
    )
    nb_u = q9_sum(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * x.cast("double") * F.lit(1e9)).cast(
                "long"
            ),
        )
    )
    na_u = q9_sum(
        F.transform(resid, lambda r: F.floor(r * r * F.lit(1e9)).cast("long"))
    )
    return staged.select(
        F.col(id_col),
        proj.alias("proj"),
        F.sqrt(nb_u.cast("double") / F.lit(1e9)).alias("norm_before"),
        F.sqrt(na_u.cast("double") / F.lit(1e9)).alias("norm_after"),
    )


def group_centroid_similarity(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Pairwise cosine between per-group embedding centroids — the
    domain-similarity map a corpus-mixing plan reads before deciding
    which sources can substitute for each other (and the drift check
    between corpus versions: re-run, diff the matrix).

    Per-dim means use the NS88 device: ppm-quantized exact integer sums
    per (group, dim) — one map-side-combinable groupBy over
    |groups|·dims keys — so the means are bit-identical on any engine
    and partitioning; the k centroids (k = #groups, bounded) then
    cross-join k²/2 with a broadcast, and the cosine is the sequential
    ``dot``/``norm`` fold, matching DuckDB's ``list_dot_product``
    evaluation order exactly. The corpus is scanned once; nothing wide
    ever shuffles.

    Output: (label_a, label_b, cos) for label_a < label_b.
    """
    e = df.select(
        F.col(group_col).alias("g"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    q = e.groupBy("g", "pos").agg(
        F.sum(F.floor(F.col("x").cast("double") * F.lit(1e6)).cast("long")).alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    m = q.select(
        "g",
        "pos",
        ((F.col("sx").cast("double") / F.lit(1e6)) / F.col("n").cast("double")).alias("mu"),
    )
    cent = (
        m.groupBy("g")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
        .select("g", F.transform("pm", lambda s: s["mu"]).alias("ce"))
    )
    a = cent.select(F.col("g").alias("label_a"), F.col("ce").alias("ca"))
    b = cent.select(F.col("g").alias("label_b"), F.col("ce").alias("cb"))
    pairs = a.join(broadcast(b), F.col("label_a") < F.col("label_b"))
    return pairs.select(
        "label_a",
        "label_b",
        (dot(F.col("ca"), F.col("cb")) / (norm(F.col("ca")) * norm(F.col("cb")))).alias("cos"),
    )
