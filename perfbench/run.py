"""Benchmark entry point.

    python3 perfbench/run.py --workload royalty_backfill --seed 1 \\
        --seconds 15 --trace 0

Runs one workload (see ``workloads.py``) on ``local[nproc]`` from one
client process, from the root of a source checkout. Two workloads, not
three: a run pays a JVM start and a cold warm pass of 30 s or more, and
the streaming corpus ingest as a third workload put the benchmark's runs
over their time budget; analyst_mix's traced run probes it instead.

1. set-up (``setup_s`` is its wall time): build the SparkSession while
   a side thread generates the seeded inputs and computes the reference
   outputs, then run the untimed warm pass;
2. timed section: whole passes over the workload's unit of work until
   ``--seconds`` have passed (the last pass runs over); every
   operation's output is checked; per-pass figures are medians over the
   passes, and latency figures rest on one median latency per distinct
   operation;
3. box state: load, steal, other tenants' CPU share and the calibration
   probes of ``bench.py``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` timed passes alternate untraced and traced, and the
line carries the per-layer metrics instead (plus the tracing overhead:
median traced pass minus median untraced pass). The line before it is a
detail record: workload sizes, failed fraction, the tail percentile and
its sample count, set-up parts and the box state. Spans of a traced run are written to
``.perfbench_work/spans/``. ``--smoke`` shrinks every input for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _configure(work: Path) -> None:
    """Environment for a reproducible local run, set before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # one JVM holds driver and executors; leave most of the box to others
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, mem_mb // 6)}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = str(work / "artifacts")
    # Python workers import the program and the benchmark's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])
    for p in (ROOT, ROOT / "tools", HERE):
        sys.path.insert(0, str(p))


def op_latencies(ops: list) -> dict[str, float]:
    """One latency per distinct operation (a query, a backfill job): its
    median over the run's passes. The latency figures rest on these, so
    their samples are the same operations whether two or three passes fit
    the window, and one slow pass moves no operation's figure."""
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.latency_s)
    return {n: statistics.median(v) for n, v in sorted(by_name.items())}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the latency tail: the highest percentile
    that leaves at least ten samples beyond it, but never below p75. Under
    40 samples that is p75, interpolated between neighbours, with fewer
    than ten beyond it; the detail line states the sample count. (A p90
    of the twenty-odd queries of a run rested on its two or three slowest
    and swung twice as much from run to run.)"""
    v = sorted(values)
    if len(v) >= 40:
        return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v)
    if len(v) == 1:
        return v[0], 75.0
    return statistics.quantiles(v, n=4, method="inclusive")[-1], 75.0


def _box_begin() -> dict:
    from bench import _proc_stat_jiffies, _proc_tree_cpu_sec

    return {"load": os.getloadavg(), "jiffies": _proc_stat_jiffies(),
            "cpu": _proc_tree_cpu_sec(), "t": time.perf_counter()}


def _box_end(b: dict, spark) -> dict:
    from bench import (
        _calib_cpu_sec,
        _calib_shuffle_sec,
        _proc_stat_jiffies,
        _proc_tree_cpu_sec,
    )

    busy1, tot1, steal1 = _proc_stat_jiffies()
    busy0, tot0, steal0 = b["jiffies"]
    wall = time.perf_counter() - b["t"]
    ncpu = os.cpu_count() or 1
    box_busy = (busy1 - busy0) / (tot1 - tot0) if tot1 > tot0 else 0.0
    self_busy = (_proc_tree_cpu_sec() - b["cpu"]) / (wall * ncpu)
    return {
        "loadavg_before": [round(x, 2) for x in b["load"]],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "steal_frac": round((steal1 - steal0) / (tot1 - tot0), 4)
        if tot1 > tot0 else 0.0,
        "other_busy_frac": round(max(0.0, box_busy - self_busy), 4),
        "calib_cpu_sec": _calib_cpu_sec(),
        "calib_shuffle_sec": _calib_shuffle_sec(spark),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the gateway JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _prepare(wl, root: str, rng) -> tuple[dict, dict]:
    """Seeded inputs, then the reference outputs; (input size, timings)."""
    t0 = time.perf_counter()
    size = wl.generate(root, rng)
    t1 = time.perf_counter()
    wl.reference()
    return size, {"generate_s": t1 - t0,
                  "reference_s": time.perf_counter() - t1}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    work = (ROOT / ".perfbench_work"
            / f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure(work)
    import numpy as np

    import layers
    from probes import CpuSplit, PeakRss, Tracer, gc_seconds
    from workloads import WORKLOADS

    from etl_transparencia_sergipe_spark.session import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.smoke)
    box = _box_begin()
    spark = None
    try:
        t_setup = time.perf_counter()
        # inputs and reference outputs are made on a side thread while the
        # JVM starts: the set-up is one process start, not the sum of parts
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(_prepare, wl, str(work / "in"),
                                   np.random.default_rng(args.seed))
            # a fixed, pre-touched heap: a heap left to grow on demand
            # settled at sizes 2x apart from run to run, and peak memory
            # and job walls moved with it
            spark = get_spark("perfbench", extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                    "-XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false"})
            build_s = time.perf_counter() - t_setup
            size, parts = prepared.result()
        t0 = time.perf_counter()
        wl.warm(spark)
        parts.update(build_s=build_s, warm_s=time.perf_counter() - t0)
        setup_s = time.perf_counter() - t_setup

        off, on = Tracer(False), Tracer(True)
        sc = spark.sparkContext
        cpu = CpuSplit()
        passes: list[tuple[bool, float, list]] = []  # (traced, wall, ops)
        jvm_s = py_s = gc_s = 0.0
        deadline = time.perf_counter() + args.seconds
        with PeakRss() as rss:
            while True:
                # a traced run alternates untraced and traced passes, so
                # both kinds see the same drift of the box
                tracing = args.trace == 1 and len(passes) % 2 == 1
                tr = on if tracing else off
                if tracing:
                    cpu.start()
                    gc0 = gc_seconds(sc)
                t0 = time.perf_counter()
                with tr.span("pass"):
                    got = wl.run_pass(spark, tr)
                wall = time.perf_counter() - t0
                if tracing:
                    j, p = cpu.stop()
                    jvm_s, py_s = jvm_s + j, py_s + p
                    gc_s += gc_seconds(sc) - gc0
                passes.append((tracing, wall, got))
                # whole passes until the window is spent, so the number of
                # passes moves little with the box's speed; a traced run
                # makes one pass of each kind
                if time.perf_counter() >= deadline and (
                        args.trace == 0 or len(passes) >= 2):
                    break
        probed = wl.probe(spark, on) if args.trace == 1 else []
        box = _box_end(box, spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for _, _, got in passes for o in got]
    plain = [(w, got) for t, w, got in passes if not t]
    traced = [w for t, w, _ in passes if t]
    per_op = op_latencies(ops)
    lat = list(per_op.values())
    raw = [round(o.latency_s, 4) for o in ops]
    ops += probed  # checked, but no part of the latency figures
    failed = sum(not o.ok for o in ops)
    tail_s, tail_pct = tail(lat)
    detail = {
        "workload": args.workload, "seed": args.seed, "item": wl.item,
        "input_size": size, "passes": len(passes),
        "failed_frac": failed / len(ops),
        "failed_ops": sorted({o.name for o in ops if not o.ok}),
        "latency_samples": len(lat),
        "latencies_s": raw,
        "op_median_s": {n: round(v, 4) for n, v in per_op.items()},
        "latency_tail_percentile": round(tail_pct, 1),
        "setup_parts": {k: round(v, 3) for k, v in parts.items()},
        "box": box,
    }
    if args.trace == 0:
        # medians over passes: one slow pass (a neighbour's burst on a
        # shared box) moves neither figure
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(w for w, _ in plain),
            "throughput_per_s": statistics.median(
                sum(o.items for o in got if o.ok) / w for w, got in plain),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_s,
            "peak_rss_mb": rss.peak_mb,
        }
    else:
        n = len(traced)
        values = layers.per_layer(on, wl, n, {
            "session.build_s": build_s, "jvm.gc_s": gc_s / n,
            "cpu.jvm_s": jvm_s / n, "cpu.python_s": py_s / n,
            "trace.overhead_s": statistics.median(traced)
            - statistics.median(w for w, _ in plain),
        })
        on.dump(str(ROOT / ".perfbench_work" / "spans" /
                    f"{args.workload}-seed{args.seed}.json"),
                {"detail": detail})
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
