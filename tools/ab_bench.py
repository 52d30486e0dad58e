"""Interleaved same-session A/B for named query shapes — the committed
discipline for closing "is it box noise or a real regression?" questions
(VERDICT r07 item 2, r08 contraction walls).

Each round builds FRESH frames for every variant (fresh lineage — no
cross-run shuffle reuse), interleaves A/B/A/B within the round, and
times with the bench.py protocol: wall = build + plan + execute of the
xxhash64-checksum collect; exec = execute only. Reports best-of-N and
the full series. One JSON line to stdout; pass --out to also write a
replay artifact.

Usage:
  python tools/ab_bench.py <suite> [--rounds 5] [--sf DIR] [--out FILE]

Suites live in AB_SUITES below: name -> dict of variant -> builder.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _checksum(df):
    return df.agg(F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))))


# --- variant builders -------------------------------------------------

def _gate(name):
    """A registry gate as an A/B variant (measures the exact bench
    shape). Used for variance suites: when the compared codepaths are
    IDENTICAL across rounds (git-diff-proven), the honest artifact is a
    same-session repeated measure, not a fake A/B."""

    def run(spark, docs, sf_dir):
        from ubdc_airbnb_spark import queries as q_mod

        spec = next(s for s in q_mod.registry() if s.name == name)
        return spec.spark(spark, sf_dir)

    return run


AB_SUITES = {
    # BENCH_r07 vs r06 flagged these three as regressed (+75%/+45%/+20%)
    # but their code paths are byte-identical r06→r07 (git diff 05d5ac2
    # cf73946 touches neither multimodal/, bpe, nor the recall gate) —
    # this suite records the same-session variance band that the
    # driver's one-shot artifact samples from.
    "driver_trio": {
        "mm_decode_png": _gate("mm_decode_png"),
        "ns_bpe_pair_counts": _gate("ns_bpe_pair_counts"),
        "ns_lsh_recall": _gate("ns_lsh_recall"),
    },
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("suite", choices=sorted(AB_SUITES))
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out")
    args = ap.parse_args()

    from ubdc_airbnb_spark.session import get_spark
    from ubdc_airbnb_spark.sources.tables import load_table

    spark = get_spark(f"ab-{args.suite}")
    docs = load_table(spark, args.sf, "documents")
    variants = AB_SUITES[args.suite]

    # warm: one full pass per variant (codegen, JIT, page cache)
    for fn in variants.values():
        _checksum(fn(spark, docs, args.sf)).collect()

    series: dict[str, dict[str, list[float]]] = {
        k: {"wall": [], "exec": []} for k in variants
    }
    for _ in range(args.rounds):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            cs = _checksum(fn(spark, docs, args.sf))
            cs._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            cs.collect()
            t2 = time.perf_counter()
            series[name]["wall"].append(round(t2 - t0, 3))
            series[name]["exec"].append(round(t2 - t1, 3))
    out = {
        "suite": args.suite,
        "sf": args.sf,
        "rounds": args.rounds,
        "best": {
            k: {m: min(v[m]) for m in v} for k, v in series.items()
        },
        "series": series,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
