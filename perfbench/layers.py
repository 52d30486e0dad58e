"""Per-layer metrics of the traced run, named by the engine module they
measure. Every workload reports every name; a layer the workload does
not reach reports 0 and is listed on the ``layers n/a`` line."""

from __future__ import annotations

import json
import time

from .stats import median
from .workloads import CORPUS_GATES, OPS_QUERIES, family

FAMILIES = sorted({family(n) for n in OPS_QUERIES})
CURATION_STAGES = ("raw", "quality_funnel", "exact_dedup", "neardup_dedup", "decontaminated")

LAYER_METRICS: dict[str, str] = {
    "tables.warm_cache_s": "s",
    "queries.build_s": "s",
    "queries.build_p50_s": "s",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    **{f"exec_s.{f}": "s" for f in FAMILIES},
    **{f"exec_s.{g}": "s" for g in CORPUS_GATES},
    "exec.shuffle_bytes": "bytes",
    "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes",
    "exec.agg_sort_fallback_tasks": "count",
    "exec.join_build_bytes": "bytes",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "pins.released": "count",
    "curation_s": "s",
    **{f"curation.stage_s.{st}": "s" for st in CURATION_STAGES},
    **{f"curation.survivors.{st}": "count" for st in CURATION_STAGES},
    "fetch.items": "count",
    "fetch.s": "s",
    "fetch.retriable": "count",
    "discovery_s": "s",
    "discovery.waves": "count",
    "discovery.wave_p50_s": "s",
    "discovery.wave_max_s": "s",
    "discovery.fetch_s": "s",
    "discovery.merge_s": "s",
    "discovery.self_s": "s",
    "discovery.jobs": "count",
    "discovery.useful_fetch_ratio": "ratio",
    "calendar_harvest_s": "s",
    "calendar.due": "count",
    "calendar.fetch_s": "s",
    "calendar.rest_s": "s",
    "calendar.day_rows": "count",
    "spark.noop_job_s": "s",
    "trace.overhead_share": "ratio",
}


def _waves(tracer) -> list[float]:
    """Discovery waves, each from its fetch barrier to the next wave's
    (the last to the end of ``discover``)."""
    out = []
    for d in (s for s in tracer.spans if s.name == "discovery"):
        starts = sorted(c.start for c in tracer.spans
                        if c.parent == d.id and c.name == "discovery.fetch")
        out += [b - a for a, b in zip(starts, starts[1:] + [d.end])]
    return out


def noop_job_s(spark, runs: int = 5) -> float:
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, 4, 1, numPartitions=4).selectExpr("count(1)").collect()
        times.append(time.perf_counter() - t0)
    return median(times)


def layer_metrics(spark, tracer, w, layer: dict, workload: str) -> dict:
    s = w.s
    m: dict[str, float] = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update(layer)
    m.update({k: v for k, v in s.layer.items() if k in m})
    m.update({k: v for k, v in tracer.counters.items() if k in m})
    if s.latencies and workload != "harvest_cycle":
        m["queries.build_s"] = sum(s.build)
        m["queries.build_p50_s"] = median(s.build)
        m["catalyst.plan_s"] = sum(s.plan)
        m["exec.s"] = sum(s.exec_by.values())
        for name, sec in s.exec_by.items():
            key = f"exec_s.{name}" if name in CORPUS_GATES else f"exec_s.{family(name)}"
            m[key] += sec
        if s.pins_released is None:
            tracer.unavailable["pins.released"] = "operators.prefixsum.release_pins is gone"
        else:
            m["pins.released"] = s.pins_released
    for k, v in s.stage_s.items():
        m[k] = median(v)
    waves = _waves(tracer)
    if workload == "harvest_cycle":
        m["discovery.wave_p50_s"] = median(waves)
        m["discovery.wave_max_s"] = max(waves, default=0.0)
        m["discovery.fetch_s"] = tracer.total("discovery.fetch")
        m["discovery.merge_s"] = tracer.total("discovery.merge")
        m["discovery.self_s"] = sum(waves) - m["discovery.fetch_s"] - m["discovery.merge_s"]
        m["calendar.fetch_s"] = tracer.total("calendar.fetch")
        m["calendar.rest_s"] = sum(s.stage_s.get("calendar_harvest_s", [])) - m["calendar.fetch_s"]
        m["fetch.s"] = m["discovery.fetch_s"] + m["calendar.fetch_s"]
        fetches = s.layer.get("discovery.fetches", 0)
        splits = s.layer.get("discovery.splits", 0)
        m["discovery.useful_fetch_ratio"] = (fetches - splits) / fetches if fetches else 0.0
        m["fetch.items"] = fetches + s.layer.get("calendar.due", 0)
    m["spark.noop_job_s"] = noop_job_s(spark)
    m["trace.overhead_share"] = tracer.cost / s.timed_wall if s.timed_wall else 0.0

    reached = {
        "ops_queries": ("tables.", "queries.", "catalyst.", "exec", "pins.", "spark.", "trace."),
        "corpus_queries": ("tables.", "queries.", "catalyst.", "exec", "pins.", "curation",
                           "spark.", "trace."),
        "harvest_cycle": ("fetch.", "discovery", "calendar", "spark.", "trace."),
    }[workload]
    na = [k for k in m if not k.startswith(reached)]
    na += [k for k in m if k.startswith("exec_s.") and k not in na and m[k] == 0.0]
    print("layers n/a " + json.dumps(sorted(na)))
    if tracer.unavailable:
        print("layers unavailable " + json.dumps(tracer.unavailable))
    return {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in m.items()}
