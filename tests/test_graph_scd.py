"""PageRank and SCD2 operators vs pure-Python oracles."""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import functions as F


def test_pagerank_matches_python_oracle(spark):
    from ubdc_airbnb_spark.operators.graph import pagerank

    E = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {r.vertex: r.rank for r in pagerank(edges, iterations=3, damping=0.85).collect()}

    verts = sorted({v for e in E for v in e})
    n = len(verts)
    out: dict[int, int] = {}
    for s, _ in E:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in verts}
    for _ in range(3):
        in_ppb = {v: 0 for v in verts}
        for s, d in E:
            in_ppb[d] += math.floor((r[s] / out[s]) * 1e9)
        r = {v: (1.0 - 0.85) / n + 0.85 * (in_ppb[v] / 1e9) for v in verts}
    assert got == r  # exact, including doubles (integer-ppb sums)

    # dangling vertex 4 holds exactly the teleport mass
    assert got[4] == (1.0 - 0.85) / n


def test_pagerank_partitioning_invariant(spark):
    from ubdc_airbnb_spark.operators.graph import pagerank

    E = [(i, (i * 7) % 50) for i in range(200)] + [(i, (i * 3) % 50) for i in range(200)]
    edges = spark.createDataFrame(E, "src long, dst long")
    a = sorted(map(tuple, pagerank(edges, iterations=2).collect()))
    b = sorted(map(tuple, pagerank(edges.repartition(11), iterations=2).collect()))
    assert a == b


def test_pagerank_empty_graph(spark):
    from ubdc_airbnb_spark.operators.graph import pagerank

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = pagerank(spark.createDataFrame([], "src long, dst long"))
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("vertex", "bigint"),
        ("rank", "double"),
    ]
    # the static graph chain is closed, so no checkpoint stays cached
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_scd2_intervals_collapse_and_close(spark):
    from ubdc_airbnb_spark.operators.scd import scd2_intervals

    T = datetime
    rows = [
        # key 1: A A B A  -> versions A[t1,t3) B[t3,t4) A[t4,∞)
        (1, T(2024, 1, 1), 1, "A"),
        (1, T(2024, 1, 2), 2, "A"),
        (1, T(2024, 1, 3), 3, "B"),
        (1, T(2024, 1, 4), 4, "A"),
        # key 2: NULL NULL X -> NULL[t1,t3) X[t3,∞)  (null-safe compare)
        (2, T(2024, 1, 1), 5, None),
        (2, T(2024, 1, 2), 6, None),
        (2, T(2024, 1, 3), 7, "X"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = sorted(
        (
            (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_intervals(
                df, ["user_id"], "ts", ["event_type"], tiebreak="event_id"
            ).collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert out == [
        (1, "A", T(2024, 1, 1), T(2024, 1, 3), False),
        (1, "B", T(2024, 1, 3), T(2024, 1, 4), False),
        (1, "A", T(2024, 1, 4), None, True),
        (2, None, T(2024, 1, 1), T(2024, 1, 3), False),
        (2, "X", T(2024, 1, 3), None, True),
    ]


def test_scd2_windows_are_key_partitioned(spark):
    """No global window: every Window in the SCD2 plan partitions by the
    entity key."""
    from ubdc_airbnb_spark.operators.scd import scd2_intervals
    from ubdc_airbnb_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    df = scd2_intervals(ev, ["user_id"], "ts", ["event_type"], tiebreak="event_id")
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_connected_components_long_chain_log_rounds(spark):
    """r08 pointer jumping: a diameter-1999 path converges within
    max_iter=25 (the one-hop fixpoint needed ~2000 rounds and ERRORED);
    seeded labels still resolve to min initial label per component."""
    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.operators.graph import connected_components

    n = 2000
    edges = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    nodes = spark.range(n).withColumnRenamed("id", "id")
    comp = connected_components(edges, nodes, max_iter=25)
    got = comp.select("component").distinct().collect()
    assert [r.component for r in got] == [0]
    # seeded: min INITIAL label per component (labels are NOT node ids)
    seeded = spark.range(n).select("id", (F.lit(5_000_000) - F.col("id")).alias("lbl"))
    comp2 = connected_components(edges, seeded, max_iter=25, label_col="lbl")
    vals = {r.component for r in comp2.select("component").distinct().collect()}
    assert vals == {5_000_000 - (n - 1)}
