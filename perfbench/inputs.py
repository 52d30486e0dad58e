"""Seeded benchmark inputs.

Every table the query registry reads is generated from the workload seed
with the same schema and value domains as the engine's TPC-H-ish test
tables (``region nation customer supplier part orders lineitem events
documents embeddings``), at roughly a hundredth of TPC-H scale factor 1.
Money and rates are rounded to cents exactly as the reference tables are,
so the engine's exact-cents arithmetic meets its DuckDB oracle bit for
bit.

Each input set (a seed, a stream and a scale) has two directories:

- ``base/`` holds every table;
- ``dup20/`` holds a corpus with ~20% duplicate mass (every fifth
  document carries one of ten seeded template texts) and symlinks every
  other table to ``base/``, so non-document inputs are byte-identical.

A query workload uses two sets per seed: a small warm-up set and the
timed set. Beside each directory the DuckDB oracle's result digests are
kept as the expected outputs.

Each directory is written under a temporary name and renamed into place,
so an interrupted run never leaves a partial input set that a later run
would mistake for a complete one.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: size of the warm-up inputs relative to the timed ones
WARMUP_SCALE = 0.2

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows per table (documents/embeddings sized for the corpus gates)
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 600,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "big"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "filter order group stream vector"
).split()

_EPOCH_1995 = datetime(1995, 1, 1)
_EPOCH_2024 = datetime(2024, 1, 1)


def _days(start: datetime, offsets: np.ndarray) -> pa.Array:
    us = (offsets.astype("int64") * 86_400_000_000) + int(
        (start - datetime(1970, 1, 1)) / timedelta(microseconds=1)
    )
    return pa.array(us, type=pa.timestamp("us"))


def _cents(values: np.ndarray) -> np.ndarray:
    return np.round(values * 100.0) / 100.0


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n = {k: max(50, int(v * scale)) for k, v in SIZES.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["customer"])),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["supplier"])),
    })
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, np_), rng.choice(_PART_NOUN, np_))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PART_TYPES, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, np_) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": _days(_EPOCH_1995, rng.integers(0, 2404, no)),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, nl)),
        "l_discount": _cents(rng.uniform(0.0, 0.1, nl)),
        "l_tax": _cents(rng.uniform(0.0, 0.08, nl)),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(_EPOCH_1995 + timedelta(days=1), rng.integers(0, 2499, nl)),
    })
    ne = n["events"]
    # strictly increasing event time across January 2024, microseconds
    gaps = rng.integers(1, 518_000_000, ne)
    ts_us = np.cumsum(gaps) + int(
        (_EPOCH_2024 - datetime(1970, 1, 1)) / timedelta(microseconds=1)
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": _cents(rng.uniform(0.01, 490.02, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_VOCAB, int(k)))
        for k in rng.integers(8, 90, n)
    ]
    # a handful of natural exact duplicates, as in a raw crawl
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        texts[int(i)] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def dup20_documents(docs: pa.Table, rng: np.random.Generator) -> pa.Table:
    """bench.py's dup20 construction with seeded template choice: every
    fifth document's text is replaced by one of ten template texts, in
    turn, so each of the ten clusters holds a tenth of the ~20%
    duplicate mass. The templates are a seeded pick among the twenty
    documents closest to 50 words long, so the duplicate mass weighs the
    same for every seed."""
    texts = docs.column("text").to_pylist()
    mid = sorted(range(len(texts)), key=lambda i: (abs(len(texts[i].split()) - 50), i))[:20]
    templates = [texts[int(i)] for i in rng.choice(mid, 10, replace=False)]
    out = list(texts)
    for i in range(0, len(out), 5):
        out[i] = templates[(i // 5) % 10]
    return docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(out, pa.string())
    ).set_column(
        docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(x) for x in out], pa.int64()),
    )


def build_inputs(root: str, seed: int, stream: int = 0, scale: float = 1.0) -> tuple[str, str]:
    """Return ``(base_dir, dup20_dir)`` for ``seed`` under ``root``,
    generating whichever is missing. ``stream`` selects an independent
    input set for the same seed, and ``scale`` its size relative to
    ``SIZES`` (the warm-up set is a small one)."""
    seed_dir = os.path.abspath(os.path.join(root, f"seed-{seed}.{stream}-x{scale:g}"))
    base, dup = os.path.join(seed_dir, "base"), os.path.join(seed_dir, "dup20")
    os.makedirs(seed_dir, exist_ok=True)
    if not os.path.isdir(base):
        tmp = f"{base}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        for name, table in _tables(np.random.default_rng([seed, stream]), scale).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, base)
    if not os.path.isdir(dup):
        tmp = f"{dup}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        for name in TABLES:
            if name != "documents":
                os.symlink(
                    os.path.join("..", "base", f"{name}.parquet"),
                    os.path.join(tmp, f"{name}.parquet"),
                )
        docs = pq.read_table(os.path.join(base, "documents.parquet"))
        rng = np.random.default_rng([seed, stream, 20])
        pq.write_table(dup20_documents(docs, rng), os.path.join(tmp, "documents.parquet"))
        os.rename(tmp, dup)
    return base, dup


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, str]:
    """Result digests of each query's DuckDB oracle twin over
    ``data_dir``: the expected outputs, computed once per input set and
    kept beside it."""
    cache = f"{data_dir}.oracle.json"
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if all(n in got for n in names):
            return got
    import duckdb

    import __spark_entry__ as entry

    from .stats import result_digest

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        got = {n: result_digest(con.execute(sql[n]).fetchdf()) for n in names}
    finally:
        con.close()
    tmp = f"{cache}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
    os.replace(tmp, cache)
    return got


def prepare(root: str, seed: int, workload: str) -> list[tuple[str, dict[str, str]]]:
    """The query workload's ``(data_dir, oracle digests)`` pairs: the
    small warm-up set first, then the timed set."""
    from .workloads import CORPUS_GATES, OPS_QUERIES

    names, pick = {
        "ops_queries": (OPS_QUERIES, 0),  # base tables
        "corpus_queries": (CORPUS_GATES, 1),  # the dup20 corpus
    }[workload]
    out = []
    for stream, scale in ((1, WARMUP_SCALE), (0, 1.0)):
        data_dir = build_inputs(root, seed, stream, scale)[pick]
        out.append((data_dir, oracle_digests(data_dir, names)))
    return out


if __name__ == "__main__":
    # python3 -m perfbench.inputs <root> <seed> <workload>: build the
    # inputs and oracle digests in a process of their own, so the
    # benchmark process starts its timed work with none of their
    # allocations or threads
    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3])
