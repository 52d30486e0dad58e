"""Deduplication operators for the training-data pipeline (north-star):
exact, MinHash-LSH, SimHash, and n-gram Jaccard — all built from native
expressions + hash-groupBy/joins, designed so the only shuffles are on
hash keys (band buckets / gram ids), never all-pairs.

Scale notes
-----------
- Exact dedup: one hash-groupBy on a 60-bit digest — map-side partial
  aggregation, no skew (digests are uniform).
- MinHash-LSH: signatures are per-row narrow work (explode grams →
  groupBy doc, min per perm); candidate pairs come from a self-join on
  (band_id, band_hash) buckets, so cost is Σ bucket² not n².
- SimHash: per-row 64-bit sketch; near-dup = equal sketch (or banded
  sketch pieces), again a groupBy not a cross join.
- n-gram Jaccard: exact verification join on shared grams — used to
  verify LSH candidates, not as the primary path at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.psql import psql

from fractions import Fraction



def _corpus_rows(df: DataFrame) -> int:
    """Exact corpus row count for the LSH-recall sample threshold —
    metadata first, never memoized (r12, VERDICT r11 item 1a: the r11
    semanticHash-keyed memo let the bench's untimed plan-warming pass
    pre-pay the count job for the timed runs — cross-run state in a
    query path, removed). The metadata path is EXACT-or-nothing, unlike
    the estimate-grade ``_approx_rows``: walk the optimized plan down
    through row-preserving Project nodes only; a bare file relation
    reads its parquet footer row totals (driver-side, no job), a
    materialized InMemoryRelation / LocalRelation reports its exact
    stats rowCount. Any other shape (Filter, Join, ...) — where footer
    totals would be WRONG, not just approximate — falls back to an
    honest per-build count job."""
    from ..sources.tables import _footer_rows, _plan_stats_rows

    rows, stop = _plan_stats_rows(df)
    if rows is None and stop == "LogicalRelation":
        rows = _footer_rows(df)
    return df.count() if rows is None else rows


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """Small exact num/den for the integer cross-multiplied threshold
    compare. ``float.as_integer_ratio()`` yields denominators up to
    ~2^52 for non-dyadic thresholds (0.3 → 5404319552844595/2^54), so
    ``inter * den`` overflows int64 once a pair shares ≥512 grams and
    silently wraps under non-ANSI Spark. ``limit_denominator(10**6)``
    keeps den ≤ 1e6 (exact for every decimal the API will ever see, and
    within 1e-12 otherwise), bounding the product at ~1e6·n_grams —
    int64-safe past 10^12 shared grams."""
    frac = Fraction(threshold).limit_denominator(10**6)
    return frac.numerator, frac.denominator


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with the
    canonical (min) id and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    ngram: int = 3,
    shingle: str = "char",
) -> DataFrame:
    """MinHash signature per document: explode shingles (char n-grams or
    word n-grams), hash each under ``num_perm`` salted hash functions,
    take per-perm minima.

    ``shingle="word"`` is the scale default for document-level dedup:
    ~10× fewer shingles per doc and far better discrimination than char
    grams on natural text.

    Output: (id, sig: array<long> of length num_perm). The heavy operation
    is one groupBy(id) with map-side partial min aggregation.
    """
    toks_sql, hv_sql, sig_sql = _sig_exprs(
        f"`{text_col}`", num_perm, ngram, shingle
    )
    # ONE parse + ONE analysis for the three projection steps (r11):
    # each eager DataFrame step re-analyzed its growing subtree, ~3x the
    # driver latency of this chained-CTE form. Single-reference CTEs are
    # inlined by the optimizer, so the logical plan is identical to the
    # selectExpr chain (three stacked Projects — the toks/hv factoring
    # survives because each alias is non-cheap and multiply referenced).
    return psql(
        f"""
        WITH toksed AS (
          SELECT `{id_col}`, `{text_col}`, {toks_sql} AS __toks FROM {{df}}
        ),
        base AS (SELECT `{id_col}`, {hv_sql} AS hv FROM toksed)
        SELECT `{id_col}`, {sig_sql} AS sig FROM base
        """,
        df=df,
    )


def _sig_exprs(
    text_sql: str, num_perm: int, ngram: int, shingle: str
) -> tuple[str, str, str]:
    """The MinHash signature as three SQL expression strings —
    ``(toks_expr(text), hv_expr(__toks), sig_expr(hv))`` — shared by the
    per-doc signature pass and the digest-contracted band join so both
    produce BIT-IDENTICAL signatures (the gate oracle replays these
    exact seeded constants in DuckDB SQL).

    The token array is FACTORED into its own projection step (r11):
    the zip_with gram builder references its input array 2·ngram+1
    times, and higher-order functions are CodegenFallback, so the
    inlined form re-ran the regex split (a full pass over the document)
    7× per row for ngram=3 — measured 25% of the signature stage at
    sf0.1. Callers project ``{toks} AS __toks`` (carrying the text
    column — the char path's guard reads its cheap ``length()``), then
    ``{hv} AS hv``, then ``{sig} AS sig``; Spark keeps the extra
    Project because the alias is non-cheap and multiply referenced
    (CollapseProject's collapseProjectAlwaysInline=false default).

    Classic affine-rehash MinHash: ONE md5 per shingle, then each of
    the num_perm "permutations" is h_i(g) = (a_i*h(g) + b_i) mod p —
    cheap 64-bit arithmetic, a pure narrow select (array transforms
    inside whole-stage codegen): no explode, no shuffle, no join.
    a_i < p and h < p keep products under 2^62. Assembled as SQL
    strings and parsed JVM-side in ONE call each: the per-element
    Column-lambda equivalent costs hundreds of py4j round-trips
    (~0.07 s of pure driver latency per query at any scale)."""
    from ..functions.hashing import MERSENNE31
    from ..functions.textstats import (
        char_ngrams_arr_expr,
        word_ngrams_arr_expr,
        words_expr,
    )

    import random as _random

    rnd = _random.Random(42)
    params = [
        (rnd.randrange(1, MERSENNE31), rnd.randrange(0, MERSENNE31)) for _ in range(num_perm)
    ]
    if shingle == "char":
        toks = f"split({text_sql}, '')"
        sh_expr = char_ngrams_arr_expr("`__toks`", ngram, f"length({text_sql})")
    else:
        toks = words_expr(text_sql)
        sh_expr = word_ngrams_arr_expr("`__toks`", ngram)
    hv = (
        f"transform(array_distinct({sh_expr}), "
        f"g -> CAST(CONV(SUBSTRING(MD5(g), 1, 15), 16, 10) AS BIGINT) % {MERSENNE31}L)"
    )
    terms = ",".join(
        f"array_min(transform(hv, h -> (h * {a}L + {b}L) % {MERSENNE31}L))"
        for a, b in params
    )
    return toks, hv, f"array({terms})"


def banded_signatures(
    sigs: DataFrame, id_col: str, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band_id, band_key) rows — the LSH banding stage, shared by
    the in-session candidate join and the persisted dedup index. One SQL
    string, one parse: per-band md5 over its signature slice (the same
    single-parse discipline as the signature fold — per-element Column
    construction costs ~100 py4j round-trips of pure driver latency)."""
    band_sql = ",".join(_band_key_terms(num_perm, bands))
    return sigs.selectExpr(
        id_col, f"posexplode(array({band_sql})) AS (band_id, band_key)"
    )


def _band_key_terms(num_perm: int, bands: int, sig: str = "sig") -> list[str]:
    """Per-band key expressions over a signature array column — shared
    by the per-doc banding pass and the digest-contracted band join so
    bucket keys are BIT-IDENTICAL across shapes."""
    rows_per_band = num_perm // bands
    return [
        "md5(concat_ws(',',{}))".format(
            ",".join(
                f"cast({sig}[{b * rows_per_band + r}] as string)"
                for r in range(rows_per_band)
            )
        )
        for b in range(bands)
    ]


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` rows of
    ``num_perm/bands`` values, hash each band, self-join on
    (band_id, band_key) buckets → candidate pairs (a < b), deduplicated.

    The self-join shuffles on the band bucket key only; bucket sizes are
    tiny for non-duplicate data, so the pair expansion is Σ|bucket|².

    ``max_bucket`` is the viral-bucket guard for corpus scale: a band
    bucket with B members expands to B² pairs, and web corpora have
    boilerplate clusters (empty pages, error templates) with B in the
    millions — one such bucket turns the join quadratic. Capping drops
    buckets with more than ``max_bucket`` members from pair generation;
    those clusters are near-exact duplicates by construction (they agree
    on a whole band at extreme multiplicity) and are exactly what
    ``exact_duplicates`` / ``segment_dedup`` already resolve in O(B),
    so the composition loses no coverage the cheap paths don't recover.
    The cap costs one extra map-side-combinable count over the banded
    rows. Default ``None`` (off) — gate-parity behavior."""
    # SHUFFLE_HASH pin (r12): same rationale as _contracted_band_join —
    # unhinted, the planner picks the strategy from the banded subtree's
    # size ESTIMATE, which is unreliable for derived inputs (a filtered
    # sample reads tiny → broadcast; a post-aggregate frame lies). A
    # broadcast here duplicates the whole signature+banding computation
    # per side (nothing to reuse) and on a real corpus the banded table
    # is corpus-sized = driver OOM; the hash-partitioned self-join makes
    # both sides the IDENTICAL exchange, so ReusedExchange computes the
    # signature pipeline ONCE (plan-verified: lsh_recall's candidate
    # branch dropped from two Generate+sig subtrees to one).
    join_tail = f"""
        SELECT /*+ SHUFFLE_HASH(a, b) */
               DISTINCT a.`{id_col}` AS id_a, b.`{id_col}` AS id_b
        FROM {{banded}} a JOIN {{banded}} b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.`{id_col}` < b.`{id_col}`
        """
    if max_bucket is None:
        # banding + self-join as ONE parse (r11): the banding projection
        # becomes a multi-reference CTE — deterministic CTEs inline, so
        # the logical plan (duplicated banded subtree, recovered by
        # ReusedExchange) is identical to the two-step form; one
        # parse+analysis replaces two. Same band_sql fragment → keys
        # bit-identical across shapes.
        band_sql = ",".join(_band_key_terms(num_perm, bands))
        return psql(
            f"""
            WITH banded AS (
              SELECT `{id_col}`,
                     posexplode(array({band_sql})) AS (band_id, band_key)
              FROM {{sigs}}
            )
            {join_tail.format(banded="banded")}
            """,
            sigs=sigs,
        )
    banded = banded_signatures(sigs, id_col, num_perm, bands)
    small = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("band_id", "band_key")
    )
    banded = banded.join(small, ["band_id", "band_key"], "left_semi")
    # the self-join tail as ONE parameterized parse (same plan; the
    # alias/condition Column chain is ~20 py4j calls of driver latency)
    return psql(join_tail, banded=banded)


def _digest_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_group: int | None = None,
) -> DataFrame:
    """Contract exact-duplicate texts to digest super-nodes — the shared
    first stage of every contracted text-dedup shape (SCALE.md r07/r08):
    on a corpus with duplicate mass, every copy re-enters every gram
    list / LSH bucket, so candidate cost grows with corpus multiplicity
    instead of content diversity. Identical texts (same md5 — the
    ``exact_duplicates`` contract) collapse to one representative.

    Returns ONE row per distinct text: (__vid, __text, __mids) with
    ``__vid = min(member id)``, ``__text`` the representative text and
    ``__mids`` every member id (group size = ``size(__mids)``). Carrying
    the member list as an array (instead of a members side-table) makes
    the whole contraction a SINGLE hash aggregate: no members join, no
    reps semi-join, and the within-group pair expansion becomes a
    narrow double-explode off this frame — the r08 A/B measured the
    three-join formulation ~15% slower than the naive shape on a
    dup-free corpus purely from exchange count. Shuffle volume is ids
    (map-side list concat) + one text per (digest, map partition)
    (``first`` partial-aggregates), i.e. the same bytes the reps
    semi-join would have moved.

    Row width: a B-member group holds B ids in one row (8 B each). That
    is the same key-concentration the join-based expansion has (B² rows
    on the partition owning the key); both are what ``max_group``
    bounds — the viral-group guard (digest twin of
    ``simhash_hamming_pairs``'s cap): groups with more than
    ``max_group`` members are dropped from pair generation ENTIRELY.
    A 1M-member boilerplate cluster at web scale would otherwise put
    10¹² member pairs on one reducer; capped groups are exact-duplicate
    mass by construction and ``exact_duplicates`` resolves them in
    O(B), so the dedup composition loses nothing the cheap path doesn't
    recover. Default ``None`` (off) — gate-parity behavior.

    Downstream joins on this frame need shuffle_hash pins: it is
    post-aggregate (structurally tiny size estimate — the class-1
    auto-broadcast hazard on a corpus table)."""
    # group on the text itself, not a digest: the map-side partial
    # aggregate collapses per-partition duplicates either way (shuffled
    # bytes = distinct texts per partition in both forms — a digest
    # variant still ships the text as a first() value), and keeping the
    # text as the GROUPING KEY means no branch can prune it away, so the
    # per-branch aggregate variants stay canonically closer for
    # exchange/stage reuse
    # ONE parse (the groupBy/agg Column chain is ~10 py4j round-trips of
    # pure driver latency per plan build). The HAVING is an ALWAYS-TRUE
    # barrier (a group has ≥1 member by construction; the optimizer
    # can't prove it): collect_list forces a non-codegen
    # ObjectHashAggregate, and without a node in between CollapseProject
    # merges downstream projections (the shingle-hash transform, gram
    # arrays) INTO the aggregate's result expressions, where they run
    # INTERPRETED per group — measured +1.4 s on 5k docs at sf0.1 (r08).
    # The Filter keeps heavy projections in a whole-stage-codegen span
    # above the aggregate. Side benefit: every consumer branch now
    # carries the same (min, collect_list) aggregate shape, keeping the
    # exchange subtrees canonically identical for reuse.
    cap = f" AND size(__mids) <= {int(max_group)}" if max_group is not None else ""
    return psql(
        f"""
        SELECT `{text_col}` AS __text,
               min(`{id_col}`) AS __vid,
               collect_list(`{id_col}`) AS __mids
        FROM {{df}} GROUP BY `{text_col}`
        HAVING size(__mids) > 0{cap}
        """,
        df=df,
    )


def _contracted_band_join(
    g: DataFrame,
    num_perm: int,
    bands: int,
    ngram: int,
    shingle: str,
    gram_expr: str | None = None,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The LSH band self-join over digest super-nodes, with the member
    lists (and optionally the distinct-gram arrays) CARRIED THROUGH the
    join — the key to a contraction that doesn't lose to the naive
    shape on a dup-free corpus: no members side-table, no expansion
    joins, no re-aggregation per branch, and (uncapped) no DISTINCT.

    Uncapped, each qualifying rep pair is emitted from exactly ONE band
    — the earliest band whose BAND KEY matches (r12: the earlier-bands
    check compares the carried ``__bkeys`` md5 array elementwise, one
    null-safe string compare per band, instead of re-comparing the four
    raw signature slots per band — a ~4× smaller join-condition tree
    and strictly consistent with the join's own ``band_key`` equality,
    so even a hypothetical md5 collision dedups exactly like the naive
    DISTINCT would). That makes the join output DISTINCT by
    construction, saving the pair-dedup exchange. With
    ``max_bucket`` the first-agreeing band may have been capped away
    while a later band survives, so that mode emits per surviving
    bucket and dedups explicitly; bucket occupancy is member-weighted
    (Σ size(__mids) — the count the naive shape would have seen) via a
    window over the bucket key, which rides the join's own partitioning
    without an extra exchange.

    Returns ``(pairs, banded)``: pairs = (vid_a, vid_b, __ma, __mb
    [, __ga, __gb]); banded = the capped banded rep rows (for
    within-group survival checks) when ``max_bucket`` is set, else
    ``None`` (uncapped callers never read it, and the uncapped path
    fuses banding + self-join into one parse)."""
    toks_sql, hv_sql, sig_sql = _sig_exprs("`__text`", num_perm, ngram, shingle)
    carry = ["__vid", "__mids"]
    # token array factored into its own projection (see _sig_exprs):
    # the regex split runs once per rep row, not once per slice/size
    # reference of the gram builder. gram_expr (optional) is a SQL
    # fragment over the same `__toks` column, so a caller's gram carry
    # shares the single split too. The four projection steps assemble as
    # ONE psql parse + analysis (r11): each eager DataFrame step
    # re-analyzed its growing subtree, ~3x the driver latency of this
    # chained-CTE form; single-reference CTEs inline, so the logical
    # plan is identical to the selectExpr chain.
    extra = [f"array_distinct({gram_expr}) AS __garr"] if gram_expr else []
    carry2 = carry + (["__garr"] if gram_expr else [])
    band_terms = ",".join(_band_key_terms(num_perm, bands))
    banded_ctes = f"""
        WITH toksed AS (
          SELECT {", ".join(carry)}, __text, {toks_sql} AS __toks FROM {{g}}
        ),
        base AS (
          SELECT {", ".join(carry + extra)}, {hv_sql} AS hv FROM toksed
        ),
        sigd AS (SELECT {", ".join(carry2)}, {sig_sql} AS sig FROM base),
        bk AS (
          SELECT {", ".join(carry2)}, array({band_terms}) AS __bkeys FROM sigd
        ),
        banded AS (
          SELECT {", ".join(carry2)}, __bkeys,
                 posexplode(__bkeys) AS (band_id, band_key)
          FROM bk
        )
        """

    def _band_eq(j: int) -> str:
        return f"(a.__bkeys[{j}] <=> b.__bkeys[{j}])"

    first_match = (
        "CASE a.band_id WHEN 0 THEN true "
        + " ".join(
            f"WHEN {k} THEN NOT ({' OR '.join(_band_eq(j) for j in range(k))})"
            for k in range(1, bands)
        )
        + " END"
    )
    gsel = ", a.__garr AS __ga, b.__garr AS __gb" if gram_expr else ""
    dedup_cond = "true" if max_bucket is not None else first_match
    # SHUFFLE_HASH pin: both sides derive from the digest aggregate,
    # whose post-aggregate size estimate is structurally tiny — unhinted,
    # Catalyst BROADCASTS one side (observed at sf0.1), which on a real
    # corpus is a distinct-texts-sized table = driver OOM (the class-1
    # hazard, same lesson as the r07 containment rewrite)
    join_sql = f"""
        SELECT /*+ SHUFFLE_HASH(a, b) */
               a.__vid AS vid_a, b.__vid AS vid_b,
               a.__mids AS __ma, b.__mids AS __mb{gsel}
        FROM {{banded}} a JOIN {{banded}} b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.__vid < b.__vid
         AND {dedup_cond}
        """
    if max_bucket is None:
        # CTEs + self-join in ONE parse (r11): `banded` becomes a
        # multi-reference CTE — deterministic CTEs inline, so the logical
        # plan (duplicated banded subtree, recovered physically by
        # ReusedExchange) is identical to the two-psql form; one
        # parse+analysis replaces two. Plan-shape + checksum equality
        # verified by tests/test_cte_fusion.py; callers never read
        # `banded` in this mode (it only feeds the max_bucket survival
        # checks), so None is returned in its place.
        pairs = psql(banded_ctes + join_sql.format(banded="banded"), g=g)
        return pairs, None
    banded = psql(banded_ctes + "SELECT * FROM banded", g=g)
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key")
    banded = (
        banded.withColumn("__bw", F.sum(F.size("__mids")).over(w))
        .filter(F.col("__bw") <= max_bucket)
        .drop("__bw")
    )
    pairs = psql(join_sql, banded=banded)
    pairs = pairs.dropDuplicates(["vid_a", "vid_b"])
    return pairs, banded


def _expand_pairs(g: DataFrame, val_pairs: DataFrame, *stat_cols: str) -> DataFrame:
    """Member pairs from verified VALUE pairs: attach each side's member
    list (two shuffle_hash joins — ``g`` is post-aggregate, its size
    estimate lies) and double-explode. ``val_pairs`` may contain self
    pairs (vid, vid) for within-group expansion: a cross pair (a < b)
    emits each unordered member pair exactly once by construction
    (groups partition the ids); a self pair emits both orders, so those
    keep only ``__ida < __idb``. The B² blowup is output-inherent and
    lands exactly where the join-based expansion would put it."""
    ga = g.select(F.col("__vid").alias("vid_a"), F.col("__mids").alias("__ma"))
    gb = g.select(F.col("__vid").alias("vid_b"), F.col("__mids").alias("__mb"))
    return (
        val_pairs.join(ga.hint("shuffle_hash"), "vid_a")
        .join(gb.hint("shuffle_hash"), "vid_b")
        .select("vid_a", "vid_b", *stat_cols, F.explode("__ma").alias("__ida"), "__mb")
        .select("vid_a", "vid_b", *stat_cols, "__ida", F.explode("__mb").alias("__idb"))
        .filter((F.col("vid_a") != F.col("vid_b")) | (F.col("__ida") < F.col("__idb")))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            *stat_cols,
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    shingle: str = "word",
    max_bucket: int | None = None,
    max_group: int | None = None,
) -> DataFrame:
    """Digest-contracted MinHash+LSH candidate pairs — set-identical to
    ``lsh_candidate_pairs(minhash_signatures(df, ...), ...)`` (pytest
    equivalence on a replicated corpus, with and without ``max_bucket``)
    but sub-linear on duplicate-heavy corpora.

    Why (SCALE.md r08, the r07 deferral): identical texts produce
    identical signatures and re-enter every LSH bucket, so the banded
    self-join's Σ|bucket|² candidate expansion grows quadratically with
    duplicate multiplicity — the sf10 smoke measured 3.5×/decade growth
    on the naive shape. Contraction runs shingling, signatures, banding
    and the bucket self-join over DISTINCT texts only (constant across
    replicas); member pairs are expanded from verified VALUE pairs, so
    the quadratic part is confined to the OUTPUT itself (within-group
    pairs — exact-duplicate mass, every pair a true candidate because
    identical signatures share every band).

    ``max_bucket`` keeps the naive shape's semantics exactly: bucket
    occupancy is member-weighted (Σ group sizes), a bucket over the cap
    drops out of rep-pair generation, and a group contributes its
    within-pairs only while it still appears in ≥1 surviving bucket —
    precisely the rows the naive banded join would have generated.

    Output: (id_a, id_b), id_a < id_b, deduplicated by construction
    (groups partition the ids: within- and cross-group branches are
    disjoint; rep pairs are distinct; member expansion is unique)."""
    g = _digest_groups(df, id_col, text_col, max_group)
    pairs, banded = _contracted_band_join(
        g, num_perm, bands, ngram, shingle, max_bucket=max_bucket
    )
    gw = g
    if max_bucket is not None:
        # a group's within-pairs survive while it still appears in ≥1
        # surviving (member-weighted) bucket
        gw = g.join(
            banded.select("__vid").distinct().hint("shuffle_hash"), "__vid", "semi"
        )
    # within-group self pairs + member double-explode as ONE parse (r11):
    # the UNION ALL / explode / least-greatest chain is expression-
    # identical to the former unionByName + _explode_pairs DataFrame
    # chain (single-reference CTEs inline — same logical plan), but one
    # parse+analysis replaces ~6 growing-subtree re-analyses of pure
    # driver latency. Checksum + plan-shape equality:
    # tests/test_cte_fusion.py.
    return psql(
        """
        WITH allp AS (
          SELECT * FROM {pairs}
          UNION ALL
          SELECT __vid AS vid_a, __vid AS vid_b,
                 __mids AS __ma, __mids AS __mb
          FROM {gw} WHERE size(__mids) > 1
        ),
        e1 AS (SELECT vid_a, vid_b, explode(__ma) AS __ida, __mb FROM allp),
        e2 AS (SELECT vid_a, vid_b, __ida, explode(__mb) AS __idb FROM e1)
        SELECT least(__ida, __idb) AS id_a, greatest(__ida, __idb) AS id_b
        FROM e2 WHERE vid_a != vid_b OR __ida < __idb
        """,
        pairs=pairs,
        gw=gw,
    )


def lsh_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.3,
    shingle: str = "word",
    max_group: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Digest-contracted LSH candidates + exact word-n-gram Jaccard
    verify — set-identical to the production composition (LSH candidate
    pairs, then per-pair ``array_intersect`` over the documents' gram
    arrays, threshold as exact integer cross-multiplication) but with
    BOTH stages running over DISTINCT texts only.

    Identical texts have identical gram sets, so within-group member
    pairs have inter = union = |g(rep)| (J = 1, or the 0/0 ≥ 0 edge for
    gram-less docs — the naive verify keeps those too), and cross-group
    member pairs inherit their representatives' statistics verbatim.
    The quadratic member expansion is output-inherent; everything
    upstream of it is a function of content diversity.

    Verify shape: the rep gram arrays form ONE side-table computed once
    and joined into both verify sides (an r08 A/B that carried the gram
    arrays through the band join instead re-evaluated the gram
    transform per branch and per pushed-down predicate, +1.5 s at
    sf0.1). Both verify joins are SHUFFLE_HASH: the gram table derives
    from the digest aggregate whose size estimate lies structurally, and
    on a real corpus it is distinct-texts-sized — a forced broadcast is
    the class-1 driver-OOM hazard (caught by the r08 plan-audit ratchet;
    bench A/B puts the two strategies within noise of each other at
    sf0.1).

    ``max_bucket`` (r09, ADVICE cap-parity fix): the viral NEAR-dup
    bucket guard, same member-weighted semantics as
    ``minhash_lsh_pairs`` — ``max_group`` only bounds EXACT-duplicate
    clusters (one digest group each), so a boilerplate cluster of
    distinct-but-similar texts still concentrated one band bucket and
    went quadratic in the band self-join. Buckets over the cap drop out
    of rep-pair generation; a group keeps its within-pairs only while it
    survives in ≥1 bucket (the rows the naive banded join would keep).

    Output: (id_a, id_b, inter, union_n), id_a < id_b, counts as BIGINT
    (matching DuckDB's len())."""
    from ..functions.textstats import (
        char_ngrams_arr_expr,
        word_ngrams_arr_expr,
        words_expr,
    )

    num, den = _threshold_ratio(threshold)
    g = _digest_groups(df, id_col, text_col, max_group)
    # token array factored into its own CTE step (r11, see _sig_exprs):
    # the gram builder references its input 2·ngram+1 times and HOFs are
    # CodegenFallback, so the inlined form re-ran the regex split 7× per
    # rep row
    if shingle == "char":
        g_toks = "split(`__text`, '')"
        g_arr = char_ngrams_arr_expr("`__toks`", ngram, "length(`__text`)")
    else:
        g_toks = words_expr("`__text`")
        g_arr = word_ngrams_arr_expr("`__toks`", ngram)
    pairs, banded = _contracted_band_join(
        g, num_perm, bands, ngram, shingle, max_bucket=max_bucket
    )
    gs = g
    if max_bucket is not None:
        gs = g.join(
            banded.select("__vid").distinct().hint("shuffle_hash"), "__vid", "semi"
        )
    # within-group pairs ride the SAME verify + expansion via self value
    # pairs: the verify of (v, v) computes inter = union = |g(rep)| and
    # the shared threshold filter keeps/drops them exactly as the naive
    # per-member verify would (including the 0/0 ≥ 0 edge for gram-less
    # docs and the threshold > 1 rejection)
    # union + verify + member double-explode as ONE parse (r11): every
    # CTE below is single-reference except `grams` (which was already a
    # multi-reference inlined CTE in the two-call form), so the logical
    # plan is identical to the former unionByName + psql +
    # _explode_pairs chain while one parse+analysis replaces ~8
    # growing-subtree re-analyses of pure driver latency. Checksum +
    # plan-shape equality: tests/test_cte_fusion.py.
    return psql(
        f"""
        WITH allp AS (
          SELECT * FROM {{pairs}}
          UNION ALL
          SELECT __vid AS vid_a, __vid AS vid_b,
                 __mids AS __ma, __mids AS __mb
          FROM {{gs}} WHERE size(__mids) > 1
        ),
        toks AS (
          SELECT __vid, __text, {g_toks} AS __toks FROM {{reps}}
        ),
        grams AS (
          SELECT __vid, array_distinct({g_arr}) AS gr FROM toks
        ),
        verified AS (
          SELECT /*+ SHUFFLE_HASH(ga), SHUFFLE_HASH(gb) */
                 p.vid_a, p.vid_b, p.__ma, p.__mb,
                 CAST(size(array_intersect(ga.gr, gb.gr)) AS BIGINT) AS inter,
                 CAST(size(ga.gr) + size(gb.gr)
                      - size(array_intersect(ga.gr, gb.gr)) AS BIGINT) AS union_n
          FROM allp p
          JOIN grams ga ON ga.__vid = p.vid_a
          JOIN grams gb ON gb.__vid = p.vid_b
          WHERE size(array_intersect(ga.gr, gb.gr)) * {den}
                >= (size(ga.gr) + size(gb.gr)
                    - size(array_intersect(ga.gr, gb.gr))) * {num}
        ),
        e1 AS (SELECT vid_a, vid_b, explode(__ma) AS __ida, __mb,
                      inter, union_n FROM verified),
        e2 AS (SELECT vid_a, vid_b, __ida, explode(__mb) AS __idb,
                      inter, union_n FROM e1)
        SELECT least(__ida, __idb) AS id_a, greatest(__ida, __idb) AS id_b,
               inter, union_n
        FROM e2 WHERE vid_a != vid_b OR __ida < __idb
        """,
        pairs=pairs,
        gs=gs,
        reps=g,
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash sketch: each distinct word votes ±1 on every bit of its
    60-bit hash; sketch bit b is 1 iff the vote sum is positive.

    Computed entirely per-row (ZERO shuffle): the distinct-word hash
    array stays inside its row, and the ±1 vote sum for bit b is
    ``2 * popcount_b - n_words`` where ``popcount_b`` counts array
    elements with bit b set — a higher-order ``filter``/``size`` per
    bit. This makes the sketch a pure narrow select like the MinHash
    signatures: no explode, no groupBy, the corpus is never moved.
    Rows with no words produce no sketch (same semantics as the
    explode+aggregate formulation this replaces)."""
    # All per-bit vote folds are assembled as ONE SQL expression string and
    # parsed JVM-side in a single call — the equivalent per-bit Column
    # construction is ~400 py4j round-trips (~0.8 s of driver latency per
    # query). popcount of bit b is an arithmetic fold (cheaper than
    # filter+size: no per-bit array allocation); vote sum = 2*cnt - n.
    from ..functions.textstats import words_expr

    sketch_sql = " + ".join(
        f"IF(2 * aggregate(__hs, 0, (acc, h) -> acc"
        f" + CAST(shiftright(h, {b}) & 1 AS INT)) - size(__hs) > 0, {1 << b}L, 0L)"
        for b in range(bits)
    )
    return (
        df.selectExpr(
            f"`{id_col}`",
            f"transform(array_distinct({words_expr(f'`{text_col}`')}), "
            "w -> CAST(CONV(SUBSTRING(MD5(w), 1, 15), 16, 10) AS BIGINT)) AS __hs",
        )
        .filter("size(__hs) > 0")
        .selectExpr(f"`{id_col}`", f"({sketch_sql}) AS simhash")
    )


def sketch_value_pairs(
    dsk: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs of DISTINCT sketch values within ``max_hamming``: the
    pigeonhole banded self-join with the popcount verify INSIDE the
    join, so only verified near-dup value pairs reach the distinct.
    Input ``dsk`` must be one column ``__sk`` of distinct values.
    Output: (sk_a, sk_b, hamming), ``sk_a < sk_b``."""
    if max_hamming >= bands:
        raise ValueError("pigeonhole needs max_hamming < bands")
    width = bits // bands
    mask = (1 << width) - 1
    banded = dsk.select(
        "__sk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.call_function("shiftright", F.col("__sk"), (b * width).cast("int"))
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                ),
            )
        ).alias("bd"),
    ).select(
        "__sk",
        F.col("bd.band_id").alias("band_id"),
        F.col("bd.band_val").alias("band_val"),
    )
    ham = F.bit_count(F.col("a.__sk").bitwiseXOR(F.col("b.__sk")))
    # shuffle_hash pin: both sides derive from a distinct (post-aggregate
    # size estimates are structurally tiny — the class-1 broadcast hazard)
    return (
        banded.alias("a")
        .join(
            banded.alias("b").hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.__sk") < F.col("b.__sk"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.__sk").alias("sk_a"),
            F.col("b.__sk").alias("sk_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def simhash_components(
    sketches: DataFrame,
    id_col: str,
    sketch_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_iter: int = 25,
    on_round=None,
) -> DataFrame:
    """(id, component) over the hamming<=max near-dup graph WITHOUT ever
    materializing document-level pairs — component = min member id, the
    same labeling ``connected_components`` over the pair list produces.

    Contraction: documents with identical sketches are connected by
    definition (hamming 0), so each distinct sketch VALUE is one
    super-node seeded with ``min(member id)``; edges are the verified
    near-dup sketch-value pairs; the min-label fixpoint then yields
    min-member-id per component, and members join their sketch's label
    back in one hash join. On the dense sf1 replica graph this is the
    difference between propagating over ~430M doc-level sym edges
    (what killed the r06/r07 audit JVMs) and ~5k sketch nodes: the
    doc-pair expansion is OUTPUT-inherent for the pairs operator, but
    components never needed it.
    """
    from .graph import connected_components

    sk = sketches.select(F.col(id_col).alias("__id"), F.col(sketch_col).alias("__sk"))
    groups = sk.groupBy("__sk").agg(F.min("__id").alias("__lbl"))
    edges = sketch_value_pairs(
        groups.select("__sk"), bits=bits, bands=bands, max_hamming=max_hamming
    )
    comp = connected_components(
        edges,
        groups,
        src="sk_a",
        dst="sk_b",
        id_col="__sk",
        label_col="__lbl",
        max_iter=max_iter,
        on_round=on_round,
    )
    return sk.join(
        comp.withColumnRenamed("id", "__sk").hint("shuffle_hash"), "__sk"
    ).select(F.col("__id").alias("id"), "component")


def simhash_hamming_pairs(
    sketches: DataFrame,
    id_col: str,
    sketch_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_group: int | None = None,
) -> DataFrame:
    """Every document pair within ``max_hamming`` — exact, scale-shaped.

    The naive form (band-bucket self-join over DOCUMENTS, then
    ``distinct``, then the hamming verify) is quadratic in corpus size
    twice over: the band key space is fixed (``bands * 2**(bits/bands)``
    values), so bucket occupancy grows linearly with the corpus and the
    candidate expansion Σ|bucket|² grows quadratically — and the old
    shape shuffled that UNVERIFIED candidate set through a distinct.
    The r07 plan-audit re-run caught it empirically: at sf1 the distinct
    materialized ~768 MiB blocks until the 8 GiB JVM died (the failure
    the r06 sweep mis-filed as infrastructure).

    Decomposition with identical output:

    - **hamming = 0**: identical sketches — one hash-shuffle on the
      sketch VALUE (key space ``2**bits``, never the fixed band space);
      pairs are generated inside each sketch group, so the expansion
      equals the output size by construction.
    - **hamming 1..max**: the pigeonhole banded join runs over DISTINCT
      sketch values (exact-duplicate multiplicity — the dominant mass in
      web corpora — collapses to one row per value), and the popcount
      verify sits INSIDE the join, so only verified near-dup sketch
      pairs reach the distinct / member-expansion joins. Candidate cost
      becomes a function of content diversity, not corpus multiplicity.

    ``max_group`` is the viral-group guard for corpus scale (the pair
    twin of ``lsh_candidate_pairs``'s ``max_bucket``): a sketch value
    with B members emits B² member pairs INTO THE PARTITIONS OWNING
    THAT KEY — the r07 sf1 sweep measured max/median 25.8M/1.3M rows per
    partition on the synthetic replica corpus, and a 1M-member
    boilerplate cluster at web scale would put 10¹² pairs on one
    reducer. Capping drops sketch values with more than ``max_group``
    members from pair generation entirely (both the hamming-0 expansion
    and near-pair membership); those groups are exact-duplicate mass at
    extreme multiplicity — ``exact_duplicates`` resolves them in O(B),
    so the dedup composition loses nothing the cheap path doesn't
    recover. Costs one map-side-combinable count over the sketch rows.
    Default ``None`` (off) — gate-parity behavior.

    Requires ``max_hamming < bands`` (pigeonhole: a qualifying pair
    shares at least one untouched band). Output: (id_a, id_b, hamming),
    ``id_a < id_b`` — byte-identical to the naive banded join.
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole needs max_hamming < bands")
    width = bits // bands
    mask = (1 << width) - 1
    sk = sketches.select(F.col(id_col).alias("__id"), F.col(sketch_col).alias("__sk"))
    if max_group is not None:
        small = (
            sk.groupBy("__sk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_group)
            .select("__sk")
        )
        sk = sk.join(small.hint("shuffle_hash"), "__sk", "left_semi")

    zero = (
        sk.alias("x")
        .join(sk.alias("y").hint("shuffle_hash"), F.col("x.__sk") == F.col("y.__sk"))
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )

    sk_pairs = sketch_value_pairs(
        sk.select("__sk").distinct(), bits=bits, bands=bands, max_hamming=max_hamming
    )
    near = (
        sk_pairs.join(
            sk.select(F.col("__sk").alias("sk_a"), F.col("__id").alias("ida")).hint(
                "shuffle_hash"
            ),
            "sk_a",
        )
        .join(
            sk.select(F.col("__sk").alias("sk_b"), F.col("__id").alias("idb")).hint(
                "shuffle_hash"
            ),
            "sk_b",
        )
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "hamming",
        )
    )
    return zero.unionByName(near)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: docs → distinct grams →
    self-join on gram → per-pair intersection counts → Jaccard =
    |∩| / (|A|+|B|-|∩|) ≥ threshold. Returns (id_a, id_b, inter, union_n).

    At scale this runs *after* LSH candidate generation (join the pair
    list first); standalone it is quadratic in gram-collision volume.
    Jaccard is compared as exact integer cross-multiplication, so engine
    float behavior can't flip the threshold."""
    from ..functions.textstats import char_ngrams_arr_expr

    # char array factored into its own projection (r11, see _sig_exprs):
    # one split('') pass per row instead of one per slice/size reference
    # of the gram builder
    toksed = df.selectExpr(
        f"`{id_col}` AS id", f"`{text_col}` AS __text",
        f"split(`{text_col}`, '') AS __toks",
    )
    grams = toksed.selectExpr(
        "id",
        "explode(array_distinct("
        + char_ngrams_arr_expr("`__toks`", ngram, "length(`__text`)")
        + ")) AS gram",
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("n_b"))
    num, den = _threshold_ratio(threshold)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("union_n", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * den >= F.col("union_n") * num)
        .select("id_a", "id_b", "inter", "union_n")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
    max_group: int | None = None,
) -> DataFrame:
    """Asymmetric containment join: C(A,B) = |A∩B| / min(|A|,|B|) over
    distinct word n-gram sets. Catches subset duplicates — a short
    document wholly embedded in a longer one (quote pages, scraped
    excerpts, page n of a serialized article) — which symmetric Jaccard
    misses because the union is dominated by the longer side; MinHash
    banding misses them too, because MinHash estimates Jaccard, and
    J(A,B) ≈ |A|/|B| is tiny for a short-in-long pair even at full
    containment.

    Same physical shape as ``ngram_jaccard_pairs`` (distinct-gram explode
    → gram equi-join → per-pair intersection counts → size join). Word
    n-grams keep gram-collision volume proportional to genuinely shared
    phrasing, so the pair join is quadratic only in real text overlap;
    at corpus scale drop ultra-common grams first (the ``max_bucket``
    guard pattern of ``lsh_candidate_pairs``) or restrict side A to the
    short-document slice being screened. The threshold compare is exact
    integer cross-multiplication, so engine float behavior can't flip it.

    r07 contraction: the gram self-join is quadratic in each gram's
    doc-list, and on a corpus with exact-duplicate mass every duplicate
    re-enters every one of its gram lists — the sf1 registry sweep
    measured the pairwise form at 249 s (10× replicas → 100× gram-join
    output). Identical texts (same md5 — the ``exact_duplicates``
    contract) are contracted to one representative before the gram
    machinery; within-group member pairs have inter = min_n = n_grams
    and containment 1.0 by definition, and cross-group pairs inherit
    their representatives' statistics verbatim, so the expansion is
    byte-identical to the pairwise form (pytest set-equality on a
    replicated corpus).

    ``max_group`` (r08): drop digest groups with more than ``max_group``
    members from pair generation entirely — see ``_digest_groups``.

    Output: (id_a, id_b, inter, min_n, containment) with id_a < id_b."""
    num, den = _threshold_ratio(threshold)
    g = _digest_groups(df, id_col, text_col, max_group)

    from ..functions.textstats import word_ngrams_arr_expr, words_expr

    # word array factored into its own projection (r11, see _sig_exprs):
    # one regex split per rep row instead of 7.
    # r12 (guide §2.3/§2.4, same device as lsh_recall_eval's truth
    # branch): each rep's distinct-gram count rides the exploded rows —
    # n is functionally determined by id, so adding it to the GROUP BY
    # changes no groups — which deletes the separate `sizes` aggregate
    # (a third traversal of the gram derivation + its own exchange) and
    # both size joins.
    toksed = g.selectExpr("__vid", f"{words_expr('`__text`')} AS __toks")
    grams = toksed.selectExpr(
        "`__vid` AS id",
        f"array_distinct({word_ngrams_arr_expr('`__toks`', ngram)}) AS garr",
    ).selectExpr("id", "size(garr) AS n", "explode(garr) AS gram")
    a = grams.alias("a")
    # shuffle_hash pin: grams now derives from the contraction's semi
    # join, whose post-aggregate size estimate is structurally tiny —
    # unhinted, Catalyst BROADCASTS the corpus-sized gram table (caught
    # by the r07 plan-audit ratchet on this very rewrite; the pre-
    # contraction grams came straight off the scan with honest stats).
    # Both sides hinted: the identical gram-keyed exchanges let
    # ReusedExchange compute the gram derivation once.
    b = grams.alias("b").hint("shuffle_hash")
    inter = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("vid_a"),
            F.col("b.id").alias("vid_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    val_pairs = (
        inter.withColumn("min_n", F.least(F.col("n_a"), F.col("n_b")))
        .filter(F.col("inter") * den >= F.col("min_n") * num)
        .select(
            "vid_a",
            "vid_b",
            "inter",
            "min_n",
            (F.col("inter").cast("double") / F.col("min_n").cast("double")).alias(
                "containment"
            ),
        )
    )
    # within-group pairs ride the same expansion as cross pairs via
    # self value-pairs: containment 1.0 with inter = min_n = the rep's
    # distinct-gram count, computed per (filtered, multi-member) rep row
    # — no sizes join; the n >= 1 filter keeps the naive semantics (a
    # gram-less doc can never pair in the gram self-join).
    # Excluded entirely for threshold > 1 (containment 1 can't qualify).
    if num <= den:
        selfp = (
            g.filter(F.size("__mids") > 1)
            .selectExpr("__vid", f"{words_expr('`__text`')} AS __toks")
            .selectExpr(
                "__vid AS vid_a",
                "__vid AS vid_b",
                f"size(array_distinct({word_ngrams_arr_expr('`__toks`', ngram)})) AS n_grams",
            )
            .filter(F.col("n_grams") >= 1)
            .select(
                "vid_a",
                "vid_b",
                F.col("n_grams").alias("inter"),
                F.col("n_grams").alias("min_n"),
                F.lit(1.0).alias("containment"),
            )
        )
        val_pairs = val_pairs.unionByName(selfp)
    return _expand_pairs(g, val_pairs, "inter", "min_n", "containment").select(
        "id_a", "id_b", "inter", "min_n", "containment"
    )


def sorted_neighborhood_pairs(
    sketches: DataFrame,
    id_col: str = "doc_id",
    sketch_col: str = "simhash",
    window: int = 3,
    max_hamming: int = 3,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate generation — the join-free
    alternative to banding: sort the corpus by its sketch value and
    compare each row only to its ``window`` predecessors (LAG 1..w over
    the sort order). Near-identical sketches sort adjacently, so true
    near-dups land in the same neighborhood; total comparisons are
    exactly ``n·w`` regardless of bucket skew — the property banding
    loses when one bucket goes viral.

    Scale: NOT a global window. Rows are range-bucketed on the sketch
    value (``operators/prefixsum.py``), each bucket's last ``window``
    rows are shipped as carry rows into the next occupied bucket, and
    the LAG sweep runs ``partitionBy(bucket)`` — every task sees exactly
    the predecessors a global sort would give, with no
    single-partition Exchange in the plan (plan-asserted in
    tests/test_plans_physical.py). Pairs are emitted only for non-carry
    rows, so boundary pairs appear exactly once.

    Output: (id_a, id_b) with id_a < id_b and hamming ≤ ``max_hamming``.
    Complements ``simhash_hamming_pairs``: band-join finds *all* pairs
    within the radius (pigeonhole-complete); sorted-neighborhood is the
    bounded-cost sweep used when skew or memory rules the join out.
    """
    from pyspark.sql import Window

    from .prefixsum import neighborhood_with_carry

    aug, bucket_col, carry_col = neighborhood_with_carry(
        sketches,
        order=[F.col(sketch_col), F.col(id_col)],
        bucket_key=F.col(sketch_col),
        window=window,
        size_of=size_of,
    )
    # the whole sweep as two parsed statements (lag projection + pair
    # extraction): the per-lag Column-chain equivalent costs ~100 py4j
    # round-trips of pure driver latency per plan build
    over = f"OVER (PARTITION BY {bucket_col} ORDER BY {sketch_col}, {id_col})"
    lags = aug.selectExpr(
        id_col,
        sketch_col,
        carry_col,
        *[f"lag({id_col}, {i}) {over} AS prev_id_{i}" for i in range(1, window + 1)],
        *[f"lag({sketch_col}, {i}) {over} AS prev_sk_{i}" for i in range(1, window + 1)],
    )
    cand = ",".join(
        f"IF(prev_id_{i} IS NOT NULL"
        f" AND bit_count({sketch_col} ^ prev_sk_{i}) <= {max_hamming},"
        f" named_struct('id_a', least({id_col}, prev_id_{i}),"
        f" 'id_b', greatest({id_col}, prev_id_{i})), NULL)"
        for i in range(1, window + 1)
    )
    return (
        lags.filter(f"NOT {carry_col}")
        .selectExpr(f"inline(array_compact(array({cand})))")
        .distinct()
    )


def canonical_per_cluster(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component",
    prefer: Column | None = None,
) -> DataFrame:
    """Resolve near-dup CLUSTERS into one kept document each — the step
    after ``connected_components`` that actually dedups the corpus: per
    component keep the doc with the highest ``prefer`` score (ties → min
    id), and report cluster size. One equi-join on the id plus ONE
    aggregation: the deterministic argmax is ``max(struct(score, -id))``
    (struct comparison is lexicographic, so max score wins and the
    negated id breaks ties toward the smallest id), which
    partial-aggregates map-side — no per-component window, so a viral
    cluster costs O(|cluster|) combine work spread across its input
    partitions, never a single-task sort. Requires a numeric id column
    (every id in this engine is a long).

    Output: (component, canonical_id, n_members). Join the corpus
    against ``canonical_id`` (semi) to materialize the deduped corpus.
    Reference analog: the reference keeps one AirBnBListing row per
    listing_id upsert (managers get_or_create); clusters generalize that
    to fuzzy identity."""
    scored = components.join(docs, components["id"] == docs[id_col]).select(
        components["id"].alias("__id"),
        F.col(component_col),
        (prefer if prefer is not None else F.lit(0.0)).alias("__score"),
    )
    best = F.max(
        F.struct(F.col("__score"), (-F.col("__id")).alias("__negid"))
    )
    return scored.groupBy(component_col).agg(
        (-best["__negid"]).cast("long").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def lsh_recall_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.3,
    sample_fraction: float = 1.0,
    sample_rows: int | None = None,
    salt: str = "lshrecall",
) -> DataFrame:
    """Self-evaluation harness for the MinHash-LSH pipeline: measure
    candidate recall/precision against EXACT ground truth on a
    hash-sampled eval slice — the calibration run that justifies the
    (num_perm, bands) choice before trusting LSH dedup at corpus scale.

    Ground truth is the exact all-pairs word-``ngram`` Jaccard >=
    ``threshold`` — quadratic in gram-collision volume, which is exactly
    why it runs on a deterministic hash slice, never the full corpus.
    Prefer ``sample_rows`` (an ABSOLUTE target doc count): the hash
    threshold is ``sample_rows * 1e6 // count(*)`` in pure integers, so
    calibration cost is O(sample_rows²-bounded) — CONSTANT as the corpus
    grows — while ``sample_fraction`` (legacy) scales the quadratic
    branch with corpus size. Hash slices NEST (a smaller threshold keeps
    a strict subset of a larger one's keys), so metrics stay comparable
    across corpus versions at comparable N; the count(*) that sizes the
    threshold is a parquet metadata read, not a scan. Candidates are the
    production banding on the same slice. Both sides reduce to counts:

        n_truth   true pairs in the slice
        n_cand    LSH candidate pairs (pre-verification)
        n_hit     candidates that are true pairs

    so recall = n_hit/n_truth and the verify-stage workload factor =
    n_cand/n_hit fall out driver-side; integer counts only, no floats.

    Scale shape: the truth branch is one gram-bucket self-join over the
    bounded sample (Σ|bucket|²); the candidate branch is the standard
    narrow-signature banding; the final compare is a full outer join of
    two pair lists orders of magnitude smaller than the corpus.
    """
    from ..functions.textstats import word_ngrams_arr_expr, words_expr
    from .sampling import _M, hash_bucket, hash_sample

    if sample_rows is not None:
        n = _corpus_rows(df)  # corpus constant: parquet/cache metadata, no memo
        # floor of 1: past n > sample_rows*_M docs the integer ratio
        # floors to 0 and the slice would silently go EMPTY — keep at
        # least the 1-per-million hash bucket so the harness always
        # measures something (and shrinks the slice no further)
        thr = min(_M, max(1, (sample_rows * _M) // max(n, 1)))
        samp = df.filter(hash_bucket(F.col(id_col).cast("string"), salt) < thr)
    elif sample_fraction < 1.0:
        samp = hash_sample(df, F.col(id_col).cast("string"), sample_fraction, salt)
    else:
        samp = df

    sigs = minhash_signatures(samp, id_col, text_col, num_perm=num_perm, ngram=ngram, shingle="word")
    cand = lsh_candidate_pairs(sigs, id_col, num_perm=num_perm, bands=bands).select("id_a", "id_b")

    num, den = _threshold_ratio(threshold)
    # the truth branch + compare assemble as ONE spark.sql parse (same
    # plan shapes as the equivalent DataFrame chain: gram-bucket
    # self-join bounded by the sample, integer cross-multiplied
    # threshold, full-outer pair compare).
    # r12 truth-branch restructure (guide §2.3/§2.4, VERDICT r11 items
    # 3/4 family): the r11 shape derived the sample's gram set THREE
    # times — once per self-join side (the planner broadcast one side
    # off the sample-filter's tiny estimate, so no exchange to reuse)
    # and once more for the `sizes` aggregate — and then paid two joins
    # to attach n_a/n_b. Now each doc's distinct-gram count rides the
    # exploded rows (one extra int per gram row; n is functionally
    # determined by id, so adding it to the GROUP BY changes no groups),
    # which deletes the sizes aggregate and both size joins, and the
    # self-join is pinned SHUFFLE_HASH — both sides become the IDENTICAL
    # gram-keyed exchange, so ReusedExchange computes the tokenize +
    # gram build ONCE for the whole branch. Same rationale as the
    # contracted band join's pin: estimate-driven broadcasts of a
    # derived table are the class-1 hazard; here the sample is bounded,
    # but the hash-partitioned plan is both safe and strictly less work.
    return psql(
        f"""
        WITH t AS (
          SELECT `{id_col}` AS id,
                 {words_expr(f'`{text_col}`')} AS __toks
          FROM {{samp}}
        ),
        g AS (
          SELECT id, size(garr) AS n, explode(garr) AS gram
          FROM (SELECT id,
                       array_distinct({word_ngrams_arr_expr('`__toks`', ngram)}) AS garr
                FROM t)
        ),
        inter AS (
          SELECT /*+ SHUFFLE_HASH(a, b) */
                 a.id AS id_a, b.id AS id_b,
                 a.n AS n_a, b.n AS n_b, COUNT(*) AS inter
          FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id
          GROUP BY a.id, b.id, a.n, b.n
        ),
        truth AS (
          SELECT id_a, id_b FROM inter
          WHERE inter * {den} >= (n_a + n_b - inter) * {num}
        ),
        j AS (
          SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 END AS t,
                 CASE WHEN c.id_a IS NOT NULL THEN 1 END AS c
          FROM truth t FULL OUTER JOIN {{cand}} c
            ON t.id_a = c.id_a AND t.id_b = c.id_b
        )
        SELECT CAST(SUM(coalesce(t, 0)) AS BIGINT) AS n_truth,
               CAST(SUM(coalesce(c, 0)) AS BIGINT) AS n_cand,
               CAST(SUM(CASE WHEN t IS NOT NULL AND c IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM j
        """,
        samp=samp,
        cand=cand,
    )
