"""Benchmark entry point.

    python3 perfbench/run.py --workload map_frames --seed 1 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one after another

Run from the repository root.  Each run gets a fresh directory under
``perfbench/.work/`` holding its warehouse, Spark local dirs, temp dir and
frame output; it is removed at the end (a traced run's spans are kept in
``perfbench/.work/traces/``).  The Spark driver is a separate process
(``driver.py``) launched with the repository root on ``PYTHONPATH``, so
Python UDF workers import the package too.

The last line of standard output is the result: one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer metrics).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
FIXTURES = HERE / "fixtures" / "sf0.01"
WORK = HERE / ".work"
TIMEOUT_S = 160.0
_PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    with open(f"/proc/self/task/{os.getpid()}/children") as f:
        return [int(p) for p in f.read().split()]


def _reap(grace_s: float) -> None:
    """Wait for every remaining descendant (re-parented to this process,
    a child subreaper) to end; kill whatever outlives ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_one(workload: str, seed: int, trace: int) -> dict:
    """Launch one driver process and return its result dict."""
    run_dir = WORK / f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "frames"):
        (run_dir / sub).mkdir(parents=True)
    tmp = run_dir / "tmp"
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        PYTHONPATH=str(ROOT),
        # Keep temp files of Python, the JVM and its native libraries inside
        # the run directory.  The JVM writes its perf-data file to /tmp
        # whatever java.io.tmpdir says, so that file is turned off.
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=" ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                          f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"])
        ),
    )
    result_path = run_dir / "result.json"
    log_path = run_dir / "driver.log"
    proc = None
    try:
        with open(log_path, "w") as log:
            t_launch = time.monotonic()
            proc = subprocess.Popen(
                [
                    sys.executable, str(HERE / "driver.py"),
                    "--workload", workload, "--seed", str(seed), "--trace", str(trace),
                    "--sf-dir", str(FIXTURES), "--run-dir", str(run_dir),
                    "--result", str(result_path), "--t-launch", repr(t_launch),
                ],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL,
            )
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not result_path.exists():
            tail = log_path.read_text(errors="replace").splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            raise SystemExit(f"perfbench: driver for {workload} ended with {code}")
        result = json.loads(result_path.read_text())
        if trace:
            kept = WORK / "traces" / f"{workload}-seed{seed}.jsonl"
            kept.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(run_dir / "trace.jsonl", kept)
            result["trace_file"] = str(kept.relative_to(ROOT))
        return result
    finally:
        # a SIGTERM arriving now must not cut the clean-up short
        previous = signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if proc is not None and proc.poll() is None:
                proc.kill()
            _reap(grace_s=10.0)
            shutil.rmtree(run_dir, ignore_errors=True)
        finally:
            signal.signal(signal.SIGTERM, previous)


def report(result: dict, trace: int, spec: dict) -> dict:
    """Print the human summary; return the contract's result object."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = result["layers"] if trace else result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        raise SystemExit(f"perfbench: driver reported no {missing}")
    attempted, failed = result["attempted"], result["failed"]
    print(
        f"{result['workload']} seed={result['seed']} trace={trace}: "
        f"correct={failed == 0} attempted={attempted} failed={failed} "
        f"failed_frac={failed / attempted:.4f}"
    )
    for f in result["failures"]:
        print(f"  FAILED {f['op']} (pass {f['pass']}): {f['error']}")
    for m in wanted:
        print(f"  {m['name']:<24} {source[m['name']]:>14.6f} {m['unit']}")
    times = ", ".join(f"{s:.3f}{'*' if traced else ''}" for traced, s in result["pass_times"])
    print(f"  pass times, cold first (* traced): {times} s; check pass {result['check_s']:.1f} s")
    if trace:
        print(
            f"  per-layer values: median over {result['traced_passes']} traced warm "
            f"passes of per-pass sums; per-operation medians below; spans and records in "
            f"{result['trace_file']}"
        )
        ops: dict[str, list[dict]] = {}
        for rec in result["op_records"]:
            if rec["pass"] > 0:
                ops.setdefault(rec["name"], []).append(rec)
        for name, recs in sorted(ops.items()):
            med = {
                k: round(statistics.median(r[k] for r in recs), 4)
                for k in recs[0] if k not in ("op", "name", "pass")
            }
            print(f"  op {name}: {json.dumps(med)}")
    else:
        print(
            f"  op_s.tail is the {result['op_s_tail']} operation samples from "
            f"{result['warm_passes']} warm passes"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    # The run length is set by the benchmark alone (BENCHMARK.json's
    # run_seconds, workloads.WARM_PASSES); --seconds, if given, must repeat it.
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "awsbatch_mapreduce_spark" / "__init__.py").exists() or not (
        ROOT / "tests" / "oracle_utils.py"
    ).exists():
        raise SystemExit(f"perfbench: no awsbatch_mapreduce_spark package in {ROOT}")
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]] if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        raise SystemExit(f"perfbench: unknown workload {unknown}; known: {sorted(WORKLOADS)}")
    if args.seconds is not None and args.seconds != spec["run_seconds"]:
        raise SystemExit(
            f"perfbench: --seconds {args.seconds:g} differs from run_seconds "
            f"{spec['run_seconds']} in BENCHMARK.json, which sets the run length"
        )

    # Orphaned grandchildren (Spark's Python worker daemon) re-parent here,
    # so the run can wait for every process it started.
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # on SIGTERM, still stop the driver and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for name in names:
        out = report(run_one(name, args.seed, args.trace), args.trace, spec)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
