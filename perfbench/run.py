"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ops_queries --seed 1 --seconds 3 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced run. Lines before it report the host, the
checks and per-workload details. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ops_queries", "corpus_queries", "harvest_cycle")


def _configure_env() -> None:
    """Everything Spark reads from the environment, set before the JVM
    starts: the core count, the Python workers' import path (the fetch
    workers unpickle the benchmark's fetcher and the engine's modules),
    and scratch space inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # the JVM's own scratch (native libraries, artifact dirs) goes there
    # too, and it writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"


def _host() -> dict:
    model = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model}


def _process_tree(root: int) -> set[int]:
    """``root`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    pids, stack = set(), [root]
    while stack:
        pid = stack.pop()
        pids.add(pid)
        stack.extend(children.get(pid, []))
    return pids


def _peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of this process, the driver JVM and the JVM's Python
    workers."""
    def hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    return sum(hwm(p) for p in _process_tree(jvm_pid) | {os.getpid()}) / 1024.0


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and its
    Python workers have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = _process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ubdc_airbnb_spark", "session.py")):
        print(f"no engine sources under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    _configure_env()
    sys.path.insert(0, ROOT)

    from . import workloads as wl
    from .inputs import prepare
    from .layers import layer_metrics
    from .stats import median, tail
    from .trace import Tracer

    # input generation and the oracle digests are excluded from setup_s
    t_gen = time.perf_counter()
    warmup, run = wl.WORKLOADS[args.workload]
    queries = args.workload != "harvest_cycle"
    if queries:
        # built in a process of their own, so this one starts its timed
        # work with none of the generator's allocations or threads
        root = os.path.join(WORK, "data")
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", root, str(args.seed), args.workload],
            check=True, cwd=ROOT,
        )
        warm_in, timed_in = prepare(root, args.seed, args.workload)  # reads what was built
    else:
        warm_in = timed_in = args.seed  # the density models derive from the seed
    gen_s = time.perf_counter() - t_gen

    # set-up, as users pay it: the session, the warm table cache, and one
    # untimed warm-up unit over small inputs of the same shape (checked
    # like the timed work)
    from ubdc_airbnb_spark.session import get_spark
    from ubdc_airbnb_spark.sources.tables import warm_cache

    layer: dict[str, float] = {}
    spark = get_spark(f"perfbench-{args.workload}")
    if queries:
        t0 = time.perf_counter()
        for data_dir, _ in (warm_in, timed_in):
            warm_cache(spark, data_dir)
        layer["tables.warm_cache_s"] = time.perf_counter() - t0
    warm = wl.Workload(spark, args.seed, None)
    t0 = time.perf_counter()
    warmup(warm, warm_in)
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START - gen_s

    tracer = Tracer() if args.trace else None
    w = wl.Workload(spark, args.seed, tracer)
    w.rng = warm.rng  # the query order continues the seeded sequence
    if tracer is not None:
        _install_hooks(tracer)
    try:
        run(w, args.seconds, timed_in)
    finally:
        if tracer is not None:
            tracer.uninstall()
    s = w.s
    peak = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)

    attempted = warm.s.attempted + s.attempted
    failed = warm.s.failed + s.failed
    lat_tail, pct, beyond = tail(s.latencies)
    if args.workload == "harvest_cycle":
        busy = sum(sum(v) for v in s.stage_s.values())
        throughput = s.items / busy if busy else 0.0
    else:
        throughput = s.queries / s.query_wall if s.query_wall else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_s": (median(s.latencies), "s"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **_host(),
        "warmup_s": round(warmup_s, 3),
        "input_generation_s": round(gen_s, 3),
        "timed_wall_s": round(s.timed_wall, 3),
        "latency_samples": len(s.latencies),
        "latency_tail_s": round(lat_tail, 4),
        "latency_tail_percentile": round(pct, 1),
        "latency_tail_samples_beyond": beyond,
        "failed_op_share": failed / attempted,
        "peak_rss_mb": round(peak, 1),
        **{k: round(median(v), 4) for k, v in s.stage_s.items()},
        "latency_by_op_s": {k: [round(x, 3) for x in v] for k, v in s.by_op.items()},
        "warmup_latency_by_op_s": {k: [round(x, 3) for x in v] for k, v in warm.s.by_op.items()},
    }
    if args.workload == "harvest_cycle":
        report["harvest_items_per_s"] = round(throughput, 3)
    print("report " + json.dumps(report))

    if tracer is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        metrics = layer_metrics(spark, tracer, w, layer, args.workload)
    correct = failed == 0 and s.attempted > 0 and bool(s.latencies)
    _shutdown(spark)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _install_hooks(tracer) -> None:
    tracer.wrap("ubdc_airbnb_spark.plans.discovery", "materialize", "discovery.fetch", "discovery.fetch_s")
    tracer.wrap("ubdc_airbnb_spark.plans.ops", "materialize", "calendar.fetch", "calendar.fetch_s")
    tracer.wrap("ubdc_airbnb_spark.operators.iterstate", "CheckpointChain.step",
                "discovery.merge", "discovery.merge_s")


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: import the benchmark as the ``perfbench``
        # package so the fetch workers can unpickle its classes
        sys.path.insert(0, ROOT)
        __package__ = "perfbench"
        import perfbench  # noqa: F401
    sys.exit(main())
