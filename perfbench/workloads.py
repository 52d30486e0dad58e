"""The three benchmark workloads.

Each workload is an untimed warm-up over small inputs and a timed run: a
fixed number of whole units — a pass over its queries, or one harvest
cycle — repeated until ``seconds`` of wall have also elapsed. Every
output is checked; the raw samples go to ``run.py``, which turns them
into metrics. See ``WORKLOADS`` at the end.
"""

from __future__ import annotations

import random
import re
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from types import SimpleNamespace

from .density import CALENDAR_DAYS, MAX_LEVEL, DensityModel, predict_discovery
from .stats import result_digest
from .trace import Tracer

#: the ops_queries set: every non-corpus query of bench.py's headline
#: set, plus at least one query of each remaining operator family (the
#: TPC-H shapes and the a/p/j/w/x/g/t/u/c/st families)
OPS_QUERIES = [
    "q1_pricing_summary", "q3_top_revenue", "q5_region_volume",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_orders",
    "p4_icontains", "p9_json_haskey",
    "j1_prefix_cover_semi", "j9_bridge_join", "j13_asof_attribution",
    "a2_grouped_tally",
    "w2_latest_per_key", "w5_availability_streak", "w6_batch_assign",
    "u1_union_dedup", "c7c8_digests", "t2_inflight_dedup",
    "st_tumbling_window", "g1_quadkey_codec",
    "x1_search_extract", "x11_calendar_extract",
]

#: the corpus gates: the slowest dedup/recall gates of the baseline
#: (ROADMAP direction 4's targets), exact dedup (the digest contraction
#: the duplicate mass exercises) and the Arrow/Python boundary (mm_)
CORPUS_GATES = [
    "ns_dedup_exact", "ns_dedup_minhash_lsh", "ns_dedup_ngram_jaccard",
    "ns_dedup_sorted_neighborhood", "mm_decode_png",
]

#: calendar harvest cap; above any cycle's discovered listing count, so
#: every discovered listing is due
CALENDAR_CAP = 5_000


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


@dataclass
class Samples:
    attempted: int = 0
    failed: int = 0
    latencies: list[float] = field(default_factory=list)
    by_op: dict[str, list[float]] = field(default_factory=dict)
    query_wall: float = 0.0
    queries: int = 0  # completed
    stage_s: dict[str, list[float]] = field(default_factory=dict)
    items: int = 0
    timed_wall: float = 0.0
    # per-layer raw numbers (filled in the traced run)
    build: list[float] = field(default_factory=list)
    plan: list[float] = field(default_factory=list)
    exec_by: dict[str, float] = field(default_factory=dict)
    pins_released: int | None = 0
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"FAIL {what}: {detail}", file=sys.stderr)


def _release_pins() -> int | None:
    # operators.prefixsum.release_pins is slated for removal; call it
    # only while it exists
    from ubdc_airbnb_spark.operators import prefixsum

    fn = getattr(prefixsum, "release_pins", None)
    return fn() if fn else None


class Workload:
    def __init__(self, spark, seed: int, tracer: Tracer | None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.s = Samples()
        self.rng = random.Random(f"order-{seed}")
        self._groups = 0

    def _group(self, desc: str) -> str | None:
        if self.tracer is None:
            return None
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self.spark.sparkContext.setJobGroup(gid, desc)
        return gid

    def run_query(self, spec, data_dir: str, expected: str) -> float | None:
        """Build, plan and execute one registry query, collecting its
        result; check it against the oracle digest. Returns the latency,
        or None when the query raised."""
        s = self.s
        s.attempted += 1
        gid = self._group(spec.name)
        try:
            t0 = time.perf_counter()
            df = spec.spark(self.spark, data_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            pdf = df.toPandas()
            t3 = time.perf_counter()
        except Exception:  # a failed query is counted, never swallowed
            s.fail(spec.name, traceback.format_exc())
            return None
        finally:
            released = _release_pins()
            s.pins_released = None if released is None else (s.pins_released or 0) + released
        s.by_op.setdefault(spec.name, []).append(t3 - t0)
        s.build.append(t1 - t0)
        s.plan.append(t2 - t1)
        s.exec_by[spec.name] = s.exec_by.get(spec.name, 0.0) + (t3 - t2)
        if self.tracer is not None:
            self.tracer.add_plan_metrics(df)
            self.tracer.count_jobs(self.spark.sparkContext, gid, "exec")
        got = result_digest(pdf)
        if got != expected:
            s.fail(spec.name, f"result digest {got} != oracle {expected}")
        return t3 - t0

    def loop(self, seconds: float, unit, units: int = 1) -> None:
        """Run ``unit(i)`` at least ``units`` times and until ``seconds``
        of wall have elapsed."""
        t0 = time.perf_counter()
        i = 0
        while i < units or time.perf_counter() - t0 < seconds:
            unit(i)
            i += 1
        self.s.timed_wall += time.perf_counter() - t0


def _specs(names: list[str]) -> list:
    import __spark_entry__ as entry

    fns = entry.queries()
    missing = [n for n in names if n not in fns]
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")

    return [SimpleNamespace(name=n, spark=fns[n]) for n in names]


def query_pass(
    w: Workload, names: list[str], data_dir: str, expected: dict[str, str], suite: bool
) -> None:
    """Every query in ``names`` once. A ``suite`` runs in the listed
    order and its latency sample is the whole pass; otherwise the order
    is seed-shuffled and each query is a latency sample."""
    specs = _specs(names)
    if not suite:
        w.rng.shuffle(specs)
    t0 = time.perf_counter()
    for spec in specs:
        lat = w.run_query(spec, data_dir, expected[spec.name])
        if lat is not None:
            w.s.queries += 1
            if not suite:
                w.s.latencies.append(lat)
    wall = time.perf_counter() - t0
    w.s.query_wall += wall
    if suite:
        w.s.latencies.append(wall)


def curation(w: Workload, data_dir: str) -> None:
    """One ``run_curation`` pass over the corpus, until the curated
    corpus is collected; its invariants are checked."""
    from ubdc_airbnb_spark.plans.curation import run_curation
    from ubdc_airbnb_spark.sources.tables import load_table

    w.s.attempted += 1
    w._group("run_curation")
    try:
        t0 = time.perf_counter()
        docs = load_table(w.spark, data_dir, "documents")
        evals = docs.filter("doc_id % 97 = 3").select("doc_id", "text")
        res = run_curation(w.spark, docs, eval_docs=evals)
        pdf = res.corpus.toPandas()
        t1 = time.perf_counter()
    except Exception:
        w.s.fail("run_curation", traceback.format_exc())
        return
    finally:
        _release_pins()
    w.s.stage_s.setdefault("curation_s", []).append(t1 - t0)
    w.s.timed_wall += t1 - t0
    for stage, sec in res.stage_seconds.items():
        w.s.layer[f"curation.stage_s.{stage}"] = sec
    for stage, n in res.report.items():
        w.s.layer[f"curation.survivors.{stage}"] = n
    problems = _curation_problems(res.report, pdf)
    if problems:
        w.s.fail("run_curation", "; ".join(problems))


def _curation_problems(report: dict[str, int], pdf) -> list[str]:
    """Invariants of the curated corpus that hold whatever the stage
    internals: a shrinking funnel that ends at the corpus size, the
    quality gate's language filter, no duplicate text past exact dedup,
    and a split label per doc."""
    out = []
    counts = list(report.values())
    if any(b > a for a, b in zip(counts, counts[1:])):
        out.append(f"funnel grows: {report}")
    if len(pdf) != counts[-1]:
        out.append(f"corpus has {len(pdf)} rows, report says {counts[-1]}")
    if len(pdf) == 0:
        out.append("empty corpus")
    if (pdf["lang"] != "en").any():
        out.append("non-en document survived the quality gate")
    if pdf["text"].duplicated().any() or pdf["doc_id"].duplicated().any():
        out.append("duplicate survived dedup")
    split_col = [c for c in pdf.columns if c not in ("doc_id", "text", "lang", "source", "n_chars")]
    if not split_col or pdf[split_col[0]].isna().any():
        out.append(f"no split label column in {list(pdf.columns)}")
    return out


def harvest_cycle(w: Workload, model: DensityModel) -> None:
    """Discovery BFS over one seeded area, then the calendar harvest of
    every listing it found."""
    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.plans.discovery import discover
    from ubdc_airbnb_spark.plans.ops import run_calendar_harvest

    spark = w.spark
    want = predict_discovery(model)
    w.s.attempted += 2
    gid = w._group("discover")
    try:
        t0 = time.perf_counter()
        with w.tracer.span("discovery") if w.tracer else nullcontext():
            res = discover(spark, model, model.seed_quadkeys, max_level=MAX_LEVEL)
        ids = {r.listing_id for r in res.listings.select("listing_id").collect()}
        grids = {r.quadkey: r.estimated_listings for r in res.grids.collect()}
        t1 = time.perf_counter()
    except Exception:
        w.s.fail("discover", traceback.format_exc())
        w.s.failed += 1  # the calendar harvest cannot run either
        return
    w.s.stage_s.setdefault("discovery_s", []).append(t1 - t0)
    retriable = res.bronze.filter(F.col("is_retriable")).count()
    got = (res.waves, res.fetches, sorted(res.splits), grids, ids, retriable)
    exp = (want.waves, want.fetches, sorted(want.splits), want.grids,
           want.listing_ids, want.retriable)
    if got != exp:
        w.s.fail("discover", _diff(
            ("waves", "fetches", "splits", "grids", "listing ids", "retriable"), got, exp))
    if w.tracer is not None:
        w.tracer.count_jobs(spark.sparkContext, gid, "discovery")
        w.s.layer["discovery.waves"] = w.s.layer.get("discovery.waves", 0) + res.waves
        w.s.layer["discovery.fetches"] = w.s.layer.get("discovery.fetches", 0) + res.fetches
        w.s.layer["discovery.splits"] = w.s.layer.get("discovery.splits", 0) + len(res.splits)
        w.s.layer["fetch.retriable"] = w.s.layer.get("fetch.retriable", 0) + retriable

    listings = res.listings.withColumn("calendar_updated_at", F.lit(None).cast("timestamp"))
    covers = spark.createDataFrame(
        [(model.area, True)], "qk_prefix string, collect_calendars boolean"
    )
    w._group("calendar")
    try:
        t2 = time.perf_counter()
        h = run_calendar_harvest(spark, listings, covers, fetcher=model, how_many=CALENDAR_CAP)
        days = h.calendar_days.count()
        stamped = h.listings.filter(F.col("calendar_updated_at").isNotNull()).count()
        t3 = time.perf_counter()
    except Exception:
        w.s.fail("run_calendar_harvest", traceback.format_exc())
        return
    finally:
        _release_pins()
    w.s.stage_s.setdefault("calendar_harvest_s", []).append(t3 - t2)
    w.s.latencies.append((t1 - t0) + (t3 - t2))
    w.s.items += res.fetches + h.n_due
    ok = sum(1 for lid in ids if model.status("calendar", str(lid), 0) == 200)
    got = (h.n_due, days, stamped)
    exp = (len(ids), CALENDAR_DAYS * ok, ok)
    if got != exp:
        w.s.fail("run_calendar_harvest", _diff(("due", "calendar days", "stamped"), got, exp))
    if w.tracer is not None:
        w.s.layer["calendar.due"] = w.s.layer.get("calendar.due", 0) + h.n_due
        w.s.layer["calendar.day_rows"] = w.s.layer.get("calendar.day_rows", 0) + days
        w.s.layer["fetch.retriable"] += len(ids) - ok


def _diff(names, got, exp) -> str:
    return ", ".join(
        f"{n}: got {g!r:.200} want {e!r:.200}"
        for n, g, e in zip(names, got, exp) if g != e
    )


# --- the workloads: (untimed warm-up, timed run) ---------------------------

def _warm_ops(w: Workload, data) -> None:
    query_pass(w, OPS_QUERIES, *data, suite=False)


def _run_ops(w: Workload, seconds: float, data) -> None:
    """One seed-shuffled pass over the ops queries; latency per query."""
    w.loop(seconds, lambda i: query_pass(w, OPS_QUERIES, *data, suite=False))


def _warm_corpus(w: Workload, data) -> None:
    query_pass(w, CORPUS_GATES, *data, suite=True)


def _run_corpus(w: Workload, seconds: float, data) -> None:
    """Five passes over the gate suite, latency per pass, then one
    curation pass. Five gates of distinct cost make a per-gate median
    jump between neighbouring gates from run to run; the suite's time
    does not. The first passes still speed up, so the median is taken
    over five."""
    w.loop(seconds, lambda i: query_pass(w, CORPUS_GATES, *data, suite=True), units=5)
    curation(w, data[0])


def _warm_harvest(w: Workload, seed: int) -> None:
    # one seed tile: the same three waves as a timed cycle, few listings
    harvest_cycle(w, DensityModel(
        seed=seed * 1000 + 500, seed_tiles_per_side=1, background_per_tile=14,
        hot_tiles=1, search_failures=1,
    ))


def _run_harvest(w: Workload, seconds: float, seed: int) -> None:
    """One cycle over a new area."""
    w.loop(seconds, lambda i: harvest_cycle(w, DensityModel(seed=seed * 1000 + i)))


WORKLOADS = {
    "ops_queries": (_warm_ops, _run_ops),
    "corpus_queries": (_warm_corpus, _run_corpus),
    "harvest_cycle": (_warm_harvest, _run_harvest),
}
