"""One workload run in a fresh interpreter (and so a fresh JVM): set-up,
timed loop, oracle checks and, when traced, the per-layer probes.
Writes one JSON result file; ``perfbench/run.py`` starts this module and
owns the process tree.

    python3 -m perfbench.worker --workload tile_join --seed 1 --seconds 16 \\
        --trace 0 --size full --work-dir .perfbench_work/x --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback

from . import metrics
from .trace import PHASE_PROPERTY, RssSampler, Tracer, spark_metrics
from .workloads import SIZES, WORKLOADS

GEN_REPEATS = 3  # input generation is repeated and its median reported


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the "steal" column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _timed_loop(wl, spark, seconds: float, phase: str, rss: RssSampler) -> list[tuple]:
    """Iterations over the full inputs until ``seconds`` have passed (at
    least one): (wall seconds, outputs or None, traceback or None, steal
    seconds).  Steal is reported as a diagnostic only."""
    sc = spark.sparkContext
    sc.setLocalProperty(PHASE_PROPERTY, phase)
    rss.active = True
    iters = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        t = time.perf_counter()
        st = _steal_s()
        try:
            with wl.tracer.span("iteration"):
                out, err = wl.iteration(), None
        except Exception:  # counted as failed jobs, run continues
            out, err = None, traceback.format_exc()
        iters.append((time.perf_counter() - t, out, err, _steal_s() - st))
        spark.catalog.clearCache()
    rss.active = False
    sc.setLocalProperty(PHASE_PROPERTY, None)
    return iters


def run(args) -> dict:
    from s2geometry_spark.sources.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](
        spark, tracer, args.work_dir, args.seed, SIZES[args.size], cpus
    )
    gen_s = statistics.median(_seconds(wl.generate) for _ in range(GEN_REPEATS))
    prepare_s = _seconds(wl.prepare)
    warm_s = _seconds(wl.warm_up)
    spark.catalog.clearCache()
    setup_s = session_s + gen_s + prepare_s + warm_s

    reference: list[tuple] = []
    with RssSampler(os.getpid()) as rss:
        if args.trace:
            # reference loop without spans first, then the traced loop
            tracer.enabled = False
            reference = _timed_loop(wl, spark, args.seconds, "untraced", rss)
            tracer.enabled = True
        timed = _timed_loop(wl, spark, args.seconds, "timed", rss)

    # oracles run after the timed region
    wl.expected()
    attempted = failed = 0
    problems: list[str] = []
    for _, out, err, _ in reference + timed:
        attempted += len(wl.jobs)
        if out is None:
            failed += len(wl.jobs)
            problems.append(err)
            continue
        for probs in wl.check(out).values():
            failed += bool(probs)
            problems.extend(probs)
        wl.cleanup(out)

    ok = [it[0] for it in timed if it[1] is not None]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:20],
        "iter_s": [it[0] for it in timed],
        "iter_steal_s": [it[3] for it in timed],
        "metrics": {
            "setup_s": setup_s,
            "rows_per_s": statistics.median(wl.rows / dt for dt in ok) if ok else 0.0,
            "peak_rss_mb": rss.peak / 2**20,
        },
        "setup_parts_s": {"session": session_s, "generate": gen_s, "prepare": prepare_s, "warm_up": warm_s},
    }
    if args.trace:
        last = next((it[1] for it in reversed(timed) if it[1] is not None), None)
        layer = {name: 0.0 for name in metrics.PER_LAYER}
        layer["sources.session_start_s"] = session_s
        layer["trace.overhead_frac"] = statistics.median(it[0] for it in timed) / statistics.median(
            it[0] for it in reference
        ) - 1.0
        layer.update(wl.span_metrics())
        if last is not None:
            layer.update(wl.probe(last))
        spark.stop()
        eng = spark_metrics(args.event_log_dir, "timed")
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s", "task_skew"):
            layer[f"spark.{k}"] = eng[k]
        for k in ("python_run_s", "python_init_s", "python_bytes_sent"):
            layer[f"functions.{k}"] = eng[k]
        result["layer"] = layer
        tracer.write(os.path.join(args.trace_dir, f"spans-{args.workload}-{args.seed}.json"))
    else:
        spark.stop()
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--trace-dir", default="")
    ap.add_argument("--event-log-dir", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
