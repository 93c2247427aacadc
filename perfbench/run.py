#!/usr/bin/env python3
"""Warehouse benchmark: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The run:

1. generates the workload's inputs from ``--seed`` in a child process
   (cached under ``.perfbench/cache``; never timed);
2. sets up ``SETUP_CYCLES`` times -- ``get_spark``, catalog registration of
   the workload's tables, one discarded warm-up op -- stopping the session
   between cycles; ``setup_s`` is the median cycle;
3. measures units for ``--seconds`` (at least one): batch passes straight
   after set-up, like a nightly job; dashboard queries after an untimed
   prime, like a long-running server;
4. checks every output against the generator or a DuckDB oracle, untimed;
5. prints one JSON object as its last stdout line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
window with every Spark job tagged by the engine layer that ran it, and
reports the per-layer metrics read from the status REST API afterwards.
See ``perfbench/README.md`` for every metric and what it should move.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import math
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
SETUP_CYCLES = 3
# Input scale factor per workload.
SIZES = {"etl_nightly": "0.01", "dashboard_mix": "0.01"}
SMOKE_SIZES = {"etl_nightly": "0.001", "dashboard_mix": "0.001"}
WORKLOADS = tuple(SIZES)

E2E_UNITS = {
    "setup_s": "s",
    "units_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
}


def pin_environment(work: str) -> dict:
    """Pin cores, memory and scratch locations; return the record."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mb = min(4096, ram_mb // 4)
    tmp = os.path.join(work, "tmp")
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # Keep every job and stage of a run in the status store, so the
            # per-layer read at the end of a traced run sees all of them.
            "--conf spark.ui.retainedJobs=20000",
            "--conf spark.ui.retainedStages=20000",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })
    return {
        "nproc": cores,
        "ram_mb": ram_mb,
        "driver_memory_mb": driver_mb,
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
    }


def generate(workload: str, seed: int, size: str) -> tuple[str, dict]:
    cache = os.path.join(STATE, "cache")
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), cache, workload, str(seed), size],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def count_catalog_calls(tracer, stats: dict) -> None:
    """Wrap ``catalog.table`` so calls made inside tagged spans are counted
    and timed. Installed before any other engine module is imported, so
    their ``from ... import table`` binds the wrapper."""
    from bbt_etl_dw_spark import catalog

    inner = catalog.table

    def table(*args, **kwargs):
        if not tracer.current_tagged():
            return inner(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return inner(*args, **kwargs)
        finally:
            with stats["lock"]:
                stats["calls"] += 1
                stats["s"] += time.perf_counter() - t0

    catalog.table = table


def jvm_peak_rss_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_process():
    """The JVM child PySpark launched, or None before launch / after stop."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def kill_children(state: dict) -> None:
    """Last resort on any exit path: no JVM or oracle process outlives us."""
    for proc in (jvm_process(), getattr(state.get("workload"), "child", None)):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()


def pct(values: list[float], q: int) -> float:
    """q-th percentile by the Harrell-Davis estimator: the mean of all order
    statistics weighted by a Beta((n+1)p, (n+1)(1-p)) density. Dashboard
    latencies are a mix of query kinds with gaps between them; a single
    order statistic jumps across a gap from run to run, the weighted mean
    moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    p = q / 100
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(t: float) -> float:
        if not 0 < t < 1:
            return 0.0
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)

    # Weight of order statistic i = Beta CDF(i/n) - CDF((i-1)/n), each by
    # Simpson's rule over 64 panels.
    panels, weights = 64, []
    for i in range(n):
        h = 1 / (n * panels)
        ys = [density(i / n + k * h) for k in range(panels + 1)]
        weights.append(h / 3 * (ys[0] + ys[-1] + 4 * sum(ys[1:-1:2]) + 2 * sum(ys[2:-1:2])))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument(
        "--expect-wrong", action="store_true",
        help="self-test: corrupt one expected result; the run must report it",
    )
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import bbt_etl_dw_spark  # noqa: F401  -- fail fast without the engine

    # Each run owns a scratch dir named by its pid; dirs of dead runs go.
    os.makedirs(STATE, exist_ok=True)
    for name in os.listdir(STATE):
        if name.startswith("work-") and not os.path.exists(f"/proc/{name[5:]}"):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    state: dict = {}

    def abort() -> None:  # a hung run still ends, without a result
        faulthandler.dump_traceback(all_threads=True)
        kill_children(state)
        os._exit(1)

    watchdog = threading.Timer(170, abort)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work, state)
    finally:
        watchdog.cancel()
        kill_children(state)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, state: dict) -> int:
    run_id = uuid.uuid4().hex[:8]
    env = pin_environment(work)
    size = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
    data, manifest = generate(args.workload, args.seed, size)
    marks = {"generated": time.perf_counter() - T0}

    sys.path.insert(0, HERE)
    import tracing as tr

    tracer = tr.Tracer(run_id)
    cat = {"calls": 0, "s": 0.0, "lock": threading.Lock()}
    if args.trace:
        count_catalog_calls(tracer, cat)
    from bbt_etl_dw_spark import catalog
    from bbt_etl_dw_spark.session import get_spark

    import workloads as wl

    common = (data, manifest, os.path.join(work, "out"), args.expect_wrong)
    if args.workload == "etl_nightly":
        w = wl.EtlNightly(*common)
        unit_count = manifest["injected"]["row_count"]
    else:
        w = wl.DashboardMix(*common, seed=args.seed)
        unit_count = None
    state["workload"] = w

    marks["imported"] = time.perf_counter() - T0
    # --- set-up, several times; the median cycle is setup_s -------------
    setups, get_spark_s = [], []
    for i in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        get_spark_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        for t in w.tables:
            catalog.table(spark, data, t).schema
        w.warmup(spark)
        setups.append(time.perf_counter() - t0)
        if i < SETUP_CYCLES - 1:
            spark.stop()
    marks["set_up"] = time.perf_counter() - T0
    tracer.bind(spark)
    spark_version = spark.version
    java_version = spark._jvm.java.lang.System.getProperty("java.version")

    attempted = failed = 0
    errors: list[str] = []

    def guarded(fn, *a):
        nonlocal failed
        try:
            return fn(*a)
        except Exception as e:  # counted and reported, never swallowed
            traceback.print_exc()
            failed += 1
            errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None

    # --- the measured window -------------------------------------------
    # The dashboard is a long-running server: it is primed with every query
    # once (untimed; the results feed the oracle check). The batch workloads
    # run the way a nightly job does, in the freshly set-up session.
    if hasattr(w, "prime"):
        guarded(w.prime, spark)
        attempted += 1
    marks["primed"] = time.perf_counter() - T0
    ops: list[tuple[str, float]] = []
    unit_walls: list[float] = []
    traced = bool(args.trace)
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    if args.workload == "dashboard_mix":
        lock = threading.Lock()
        by_position: list[tuple[int, float]] = []

        def client() -> None:
            nonlocal attempted
            while time.perf_counter() < deadline:
                r = guarded(w.query, spark, tracer, traced)
                with lock:
                    attempted += 1
                    if r is not None:
                        ops.append(r[:2])
                        by_position.append((r[2], r[1]))

        threads = [threading.Thread(target=client) for _ in range(w.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        throughput = len(ops) / (time.perf_counter() - t_start)
        # Latency percentiles use the whole schedule blocks issued first, so
        # every run's samples hold the same query mix (see zipf_schedule).
        whole = len(by_position) // wl.BLOCK * wl.BLOCK or len(by_position)
        unit_walls = [wall for _, wall in sorted(by_position)[:whole]]
    else:
        # Another pass starts only if the last one predicts it ends inside
        # the window: the pass count cannot flip on a knife edge at the
        # deadline, which would move the figures between identical runs.
        while not unit_walls or time.perf_counter() + unit_walls[-1] <= deadline:
            r = guarded(w.unit, spark, tracer, traced)
            attempted += len(r) if r else 1
            if r is None:
                break
            ops += r
            unit_walls.append(sum(x for _, x in r))
        throughput = unit_count * len(unit_walls) / sum(unit_walls) if unit_walls else 0.0
    window = time.perf_counter() - t_start
    n_units = len(ops) if args.workload == "dashboard_mix" else len(unit_walls)
    peak_rss_mb = (
        jvm_peak_rss_kb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    ) / 1024

    layer: dict[str, float] = {}
    if args.trace:
        layer = per_layer(w, tracer, spark, env["nproc"], n_units, get_spark_s, cat)
        layer["process.peak_rss_mb"] = peak_rss_mb

    marks["measured"] = time.perf_counter() - T0
    fails = guarded(w.check, spark) or []
    attempted += 1
    failed += len(fails)
    errors += fails
    marks["checked"] = time.perf_counter() - T0
    stop_spark(spark)
    marks["stopped"] = time.perf_counter() - T0

    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    tracer.dump(os.path.join(runs, f"{args.workload}-{run_id}-spans.json"))
    for old in sorted(
        (os.path.join(runs, n) for n in os.listdir(runs)), key=os.path.getmtime
    )[:-20]:
        os.remove(old)

    # A latency sample is what a user waits for: one query on the
    # dashboard, one whole pass of a batch workload (its steps are
    # heterogeneous, so their percentiles would jump between step kinds).
    lat = [x * 1e3 for x in unit_walls]
    p90 = pct(lat, 90) if lat else 0.0
    if args.trace:
        metrics = layer
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "units_per_s": throughput,
            "op_p50_ms": pct(lat, 50) if lat else 0.0,
            "op_p90_ms": p90,
        }
    samples = {"setup_s": SETUP_CYCLES, "units_per_s": n_units}
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "input": {"dir": os.path.relpath(data, ROOT), "size": size},
        "env": dict(env, spark=spark_version, java=java_version),
        "setup_cycles_s": setups,
        "window_s": window,
        "marks_s": {k: round(v, 2) for k, v in marks.items()},
        "units": n_units,
        "latency_samples": len(lat),
        "beyond_p90": sum(x > p90 for x in lat),
        "peak_rss_mb": peak_rss_mb,
        "op_ms_by_name": {
            n: sorted(round(x * 1e3) for m, x in ops if m == n) for n in sorted({m for m, _ in ops})
        },
        "error_rate": failed / attempted,
        "errors": errors[:20],
    }
    print(json.dumps(record))
    for name, v in metrics.items():
        n = samples.get(name, len(lat)) if not args.trace else 1
        print(f"{name} = {v:.6g} {unit_of(name)} (samples: {n})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    import tracing

    return E2E_UNITS.get(name) or tracing.unit_of(name)


def per_layer(w, tracer, spark, cores, n_units, get_spark_s, cat) -> dict:
    """Per-layer metrics, normalized per unit (pass or query) where they
    are totals; ``core_util`` and the ``*.median`` phase times are not."""
    import tracing as tr

    t0 = time.perf_counter()
    layer, group_jobs = tr.layer_metrics(tracer, spark, cores)
    collect_ms = (time.perf_counter() - t0) * 1e3
    n = max(1, n_units)
    out = {k: v if k.endswith(".core_util") else v / n for k, v in layer.items()}
    out["session.get_spark_s"] = statistics.median(get_spark_s)
    out["catalog.table_calls"] = cat["calls"] / n
    out["catalog.table_ms"] = cat["s"] * 1e3 / n
    # publish wall minus the Spark jobs it ran: manifest, staging, commit
    star_job_s = sum(
        j["completed"] - j["submitted"]
        for j in group_jobs.get("plans.star", [])
        if j["completed"] and j["submitted"]
    )
    star_wall = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "plans.star")
    out["sources.publish.commit_ms"] = max(0.0, star_wall - star_job_s) * 1e3 / n
    phase = getattr(w, "phase_ms", {})
    for p in ("build", "plan", "exec"):
        out[f"suite.{p}_ms"] = statistics.median(phase.get(p) or [0.0])
    out["operators.audit.jobs"] = len(group_jobs.get("operators.audit", [])) / n
    out["etl.write_amp"] = w.write_amp() if hasattr(w, "write_amp") else 0.0
    # Inside the timed spans a traced unit differs from an untraced one only
    # by the job-group calls, so their summed time is traced - untraced wall.
    out["trace.overhead_ms"] = sum(s.get("tag_s", 0.0) for s in tracer.spans) * 1e3 / n
    out["trace.collect_ms"] = collect_ms
    return out


if __name__ == "__main__":
    sys.exit(main())
