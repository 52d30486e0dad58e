"""Corpus CLI commands: train-bpe, screen-drop, dsir-score,
write-shards and compact-index."""

from __future__ import annotations

from pyspark.sql import functions as F

from ubdc_airbnb_spark import cli
from ubdc_airbnb_spark.sources.tables import load_table

from conftest import SF_DIR


def test_cli_train_bpe(spark, tmp_path, capsys):
    out = str(tmp_path / "merges")
    rc = cli.main(["train-bpe", "--sf-dir", SF_DIR, "--merges", "6", "--output", out])
    assert rc == 0
    merges = spark.read.parquet(out)
    assert merges.count() == 6
    assert [f.name for f in merges.schema.fields] == ["step", "left", "right", "cnt"]


def test_cli_screen_drop_build_probe_add(spark, tmp_path, capsys):
    docs = load_table(spark, SF_DIR, "documents")
    corpus_p = str(tmp_path / "corpus")
    drop_p = str(tmp_path / "drop")
    docs.filter(F.col("doc_id") < 40).write.parquet(corpus_p)
    # the drop contains an exact copy of a corpus doc -> must collide
    docs.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text", "lang", "source", "n_chars"
    ).write.parquet(drop_p)
    idx = str(tmp_path / "idx")
    pairs_p = str(tmp_path / "pairs")
    rc = cli.main(
        ["screen-drop", "--index", idx, "--build", corpus_p, "--drop", drop_p,
         "--add", "--output", pairs_p]
    )
    assert rc == 0
    pairs = {(r.corpus_id, r.new_id) for r in spark.read.parquet(pairs_p).collect()}
    assert (3, 1003) in pairs
    # after --add, a re-screen of the same drop also collides with itself
    rc = cli.main(["screen-drop", "--index", idx, "--drop", drop_p, "--output", pairs_p])
    assert rc == 0
    pairs = {(r.corpus_id, r.new_id) for r in spark.read.parquet(pairs_p).collect()}
    assert (3, 1003) in pairs and (1003, 1003) not in pairs


def test_cli_dsir_score(spark, tmp_path, capsys):
    out = str(tmp_path / "weights")
    rc = cli.main(
        ["dsir-score", "--sf-dir", SF_DIR, "--target-sql", "lang = 'en'", "--output", out]
    )
    assert rc == 0
    w = spark.read.parquet(out)
    assert w.count() > 0
    assert set(w.columns) == {"doc_id", "weight", "n_tokens"}


def test_write_shards_cli(tmp_path, capsys):
    from ubdc_airbnb_spark.cli import main

    out = str(tmp_path / "shards")
    rc = main(
        [
            "write-shards",
            "--sf-dir",
            SF_DIR,
            "--n-shards",
            "2",
            "--output",
            out,
        ]
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("shard=")]
    assert len(lines) == 2


def test_cli_compact_index_bm25_streaming(spark, tmp_path, capsys):
    """compact-index on a streaming-maintained BM25 layout collapses the
    per-batch generations without changing probe scores."""
    import os

    from ubdc_airbnb_spark.operators.tfidf import query_bm25_index
    from ubdc_airbnb_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    idx = str(tmp_path / "bm25")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    jobs.foreach_batch_bm25_append(stream, idx, n_buckets=8)
    want = [tuple(r) for r in query_bm25_index(spark, idx, ["spark", "join"], k=5).collect()]

    def _n_files():
        return sum(
            1
            for _r, _d, fs in os.walk(os.path.join(idx, "postings"))
            for f in fs
            if f.endswith(".parquet")
        )

    before = _n_files()
    rc = cli.main(["compact-index", "--path", idx, "--kind", "bm25"])
    assert rc == 0
    assert _n_files() < before
    got = [tuple(r) for r in query_bm25_index(spark, idx, ["spark", "join"], k=5).collect()]
    assert got == want and len(got) > 0


def test_cli_compact_index_ivf_and_lsh(spark, tmp_path, capsys):
    import os

    from ubdc_airbnb_spark.operators.ann_index import (
        add_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from ubdc_airbnb_spark.operators.dedup_index import add_to_lsh_index, build_lsh_index

    emb = load_table(spark, SF_DIR, "embeddings")
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), ivf, k=4, iters=1)
    add_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), ivf)
    qs = emb.filter(F.col("vec_id") < 3)
    want = sorted(tuple(r) for r in query_ivf_index(spark, ivf, qs, k=5).collect())
    rc = cli.main(["compact-index", "--path", ivf, "--kind", "ivf"])
    assert rc == 0
    got = sorted(tuple(r) for r in query_ivf_index(spark, ivf, qs, k=5).collect())
    assert got == want and len(got) > 0

    docs = load_table(spark, SF_DIR, "documents")
    lsh = str(tmp_path / "lsh")
    build_lsh_index(docs.filter(F.col("doc_id") % 2 == 0), lsh, n_buckets=8)
    add_to_lsh_index(docs.filter(F.col("doc_id") % 2 == 1).limit(50), lsh)
    rc = cli.main(["compact-index", "--path", lsh, "--kind", "lsh"])
    assert rc == 0
    assert os.path.exists(os.path.join(lsh, "banded"))
