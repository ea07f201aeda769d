"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py            # every workload, one summary table

Each workload runs in a fresh child interpreter (its own JVM and Python
workers) started in its own session, so the whole process tree can be
sampled for RSS and is always stopped before this process exits.

With --workload, the last stdout line is one JSON object: correct,
attempted, failed and metrics (end-to-end metrics with --trace 0;
per-layer metrics with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402

# The session factory's 48g default does not fit a small box; this is
# the only factory setting the benchmark overrides.
DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 170
WORKLOADS = ("tile_join", "image_audit_resume")


def _session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the child and everything it
    started: the JVM, and the PySpark daemon, which makes its own process
    group but stays in the session)."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while we scanned
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Terminate every process left in the child's session and wait
    until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def run_child(workload: str, seed: int, seconds: float, trace: int, size: str, work: Path) -> dict:
    """One workload in a fresh interpreter; raises on failure."""
    if work.exists():
        shutil.rmtree(work)
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "eventlog", ROOT / ".perfbench_work" / "traces"):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        {
            "PYTHONPATH": str(ROOT),  # Python workers import s2geometry_spark
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    if trace:
        # event log only for the traced run: one uncompressed file (Spark 4
        # defaults to rolling zstd files; zstandard is not a dependency)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'} "
            "--conf spark.eventLog.rolling.enabled=false "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    out = work / "result.json"
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--size", size, "--work-dir", str(work),
        "--trace-dir", str(ROOT / ".perfbench_work" / "traces"),
        "--event-log-dir", str(work / "eventlog"), "--out", str(out),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_session(proc.pid)
        proc.wait()
    if rc != 0 or not out.exists():
        raise RuntimeError(f"{workload} worker failed (exit {rc})")
    result = json.loads(out.read_text())
    shutil.rmtree(work, ignore_errors=True)
    return result


def _with_units(values: dict, catalogue: dict) -> dict:
    return {name: {"value": values[name], "unit": catalogue[name][0]} for name in catalogue}


def _report(workload: str, result: dict) -> None:
    """Diagnostics on stderr: iteration times, set-up parts, oracle problems."""
    it = result["iter_s"]
    parts = " ".join(f"{k}={v:.2f}s" for k, v in result["setup_parts_s"].items())
    times = " ".join(f"{t:.2f}" for t in it)
    steal = " ".join(f"{t:.2f}" for t in result["iter_steal_s"])
    print(
        f"{workload}: {len(it)} iterations [{times}] s, CPU steal [{steal}] s; setup {parts}",
        file=sys.stderr,
    )
    for p in result["problems"]:
        print(f"{workload}: {p}", file=sys.stderr)


def one_workload(args, work: Path) -> dict:
    r = run_child(args.workload, args.seed, args.seconds, args.trace, args.size, work)
    _report(args.workload, r)
    if args.trace:
        values = _with_units(r["layer"], metrics.PER_LAYER)
    else:
        values = _with_units(r["metrics"], metrics.END_TO_END)
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": values,
    }


def summary(args, work: Path) -> None:
    """Every workload untraced, one table with units, failed_frac included."""
    rows = []
    for w in WORKLOADS:
        r = run_child(w, args.seed, args.seconds, 0, args.size, work)
        for name, (unit, _) in metrics.END_TO_END.items():
            rows.append((w, name, r["metrics"][name], unit))
        rows.append((w, metrics.FAILED_FRAC[0], r["failed"] / r["attempted"], metrics.FAILED_FRAC[1]))
        _report(w, r)
    for w, name, value, unit in rows:
        print(f"{w:20s} {name:12s} {value:14.4f} {unit}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        if args.workload is None:
            summary(args, work)
            return 0
        result = one_workload(args, work)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
