"""The benchmark's Spark driver process (started by ``run.py``).

One process, one ``local[nproc]`` session, one closed-loop client: each
operation starts only after the previous one has returned.  The run is

1. set-up: ``session.get_spark`` plus a trivial first job;
2. the first pass, cold;
3. an untimed check of every operation's output from the first pass
   against its DuckDB oracle;
4. a fixed number of warm passes (``workloads.WARM_PASSES``).

With ``--trace 1`` the warm passes are untraced and traced in a
palindrome; the traced ones give the per-layer numbers and the
difference from the untraced ones is the tracing overhead.  The result is
written as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from layers import Tracer
from workloads import PIPELINE_OP, WARM_PASSES, WORKLOADS, check_op, collected_rows

from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.session import get_spark


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_pid() -> int | None:
    """The java child of this process (the py4j gateway's JVM)."""
    for task in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{task}/children") as f:
            for pid in f.read().split():
                try:
                    with open(f"/proc/{pid}/comm") as c:
                        if c.read().strip() == "java":
                            return int(pid)
                except FileNotFoundError:
                    continue
    return None


class Run:
    def __init__(self, args, spark, ops: tuple[str, ...]):
        self.spark = spark
        self.ops = ops
        self.sf_dir = args.sf_dir
        self.run_dir = Path(args.run_dir)
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[dict] = []
        self.tracer = None
        self.first_output: dict = {}  # what the first pass returned, for the check
        self._frame_cls = type(spark.range(0))  # the class that implements collect
        self._op_seq = 0

    def _out_dir(self, op_id: str) -> Path:
        return self.run_dir / "frames" / op_id

    def _call(self, name: str, op_id: str, tracer):
        """Builder call plus action; returns (output, build_s, action_s), the
        output being a query's DataFrame or the pipeline's (rows, manifest)."""
        build = tracer.phase(op_id, "build") if tracer else nullcontext()
        action = tracer.phase(op_id, "exec") if tracer else nullcontext()
        t0 = time.perf_counter()
        if name == PIPELINE_OP:
            t1 = t0
            with action, collected_rows(self._frame_cls) as rows:
                manifest = run_reference_pipeline(self.spark, self.sf_dir, self._out_dir(op_id))
            output = rows, manifest
        else:
            with build:
                output = QUERIES[name].builder(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with action:
                output.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if tracer:
            if name != PIPELINE_OP:
                tracer.span(op_id, "plans.build", t0, t1, "op")
            tracer.span(op_id, "exec.action", t1, t2, "op")
        return output, t1 - t0, t2 - t1

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        """One pass over the workload in seed order; returns its timings."""
        order = list(self.ops)
        self.rng.shuffle(order)
        tracer = self.tracer if traced else None
        op_times = []
        for name in order:
            self._op_seq += 1
            op_id = f"op{self._op_seq:04d}"
            self.attempted += 1
            started_epoch = time.time()
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.observe(op_id) as obs:
                        output, build_s, action_s = self._call(name, op_id, tracer)
                else:
                    output, build_s, action_s = self._call(name, op_id, None)
            except Exception:
                self.failures.append(
                    {"op": name, "pass": pass_no, "error": traceback.format_exc(limit=3)}
                )
            else:
                wall = time.perf_counter() - t0
                op_times.append(wall)
                if pass_no == 0:
                    self.first_output[name] = output
                if tracer:
                    tracer.span(op_id, "op", t0, t0 + wall, None)
                    tracer.record(op_id, name, pass_no, obs, wall, build_s, action_s,
                                  started_epoch)
            if pass_no > 0:  # the check still reads the first pass's frames
                shutil.rmtree(self._out_dir(op_id), ignore_errors=True)
        return {"pass": pass_no, "traced": traced, "s": sum(op_times), "op_s": op_times}

    def check_pass(self) -> None:
        # the checker's own imports (DuckDB, pandas) stay out of set-up
        from tests.oracle_utils import duckdb_con

        con = duckdb_con(self.sf_dir)
        try:
            for name in self.ops:
                self.attempted += 1
                out = self.run_dir / "frames" / "check"
                try:
                    problems = check_op(
                        self.spark, con, name, self.sf_dir, out, self.first_output.get(name)
                    )
                except Exception:
                    problems = [traceback.format_exc(limit=3)]
                if problems:
                    self.failures.append({"op": name, "pass": "check", "error": problems})
        finally:
            con.close()
            self.first_output.clear()
            for d in (self.run_dir / "frames").iterdir():
                shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t-launch", type=float, required=True)
    args = ap.parse_args()

    t0 = time.monotonic()
    warehouse = Path(args.run_dir) / "warehouse"
    spark = get_spark(extra_conf={"spark.sql.warehouse.dir": str(warehouse)})
    t1 = time.monotonic()
    spark.range(1).collect()
    t2 = time.monotonic()

    run = Run(args, spark, WORKLOADS[args.workload])
    if args.trace:
        run.tracer = Tracer(
            spark, [warehouse, Path(args.run_dir) / "frames", Path(args.run_dir) / "tmp"]
        )

    first = run.run_pass(0, traced=False)
    t_check = time.monotonic()
    run.check_pass()
    check_s = time.monotonic() - t_check
    # With tracing, untraced and traced warm passes form a palindrome
    # (U T U, U T T U), so a steady warming trend cancels out of the
    # overhead estimate.
    n = WARM_PASSES[args.workload]
    warm = [
        run.run_pass(i + 1, traced=bool(args.trace) and min(i, n - 1 - i) % 2 == 1)
        for i in range(n)
    ]

    jvm = _jvm_pid()
    if jvm is None:
        raise RuntimeError("no java child process found for peak_rss_mb")
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)

    untraced = [p for p in warm if not p["traced"]]
    op_s = sorted(s for p in untraced for s in p["op_s"])
    # the highest rank with ten samples beyond it, else the maximum
    if len(op_s) > 10:
        tail_rank = len(op_s) - 10
        tail_label = f"p{100 * tail_rank / len(op_s):.0f}: rank {tail_rank} of {len(op_s)}"
    else:
        tail_rank = len(op_s)
        tail_label = f"max of {len(op_s)}"
    metrics = {
        "setup_s": t2 - args.t_launch,
        "pass_s": statistics.median(p["s"] for p in untraced),
        "op_s.tail": op_s[tail_rank - 1],
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "metrics": metrics,
        "op_s_tail": tail_label,
        "warm_passes": len(untraced),
        "check_s": check_s,
        "pass_times": [(p["traced"], p["s"]) for p in [first] + warm],
    }
    if run.tracer:
        traced = [p for p in warm if p["traced"]]
        layer = run.tracer.per_pass([p["pass"] for p in traced])
        layer["session.get_spark_s"] = t1 - t0
        layer["session.first_job_s"] = t2 - t1
        layer["first_pass_s"] = first["s"]
        layer["peak_rss_mb"] = rss
        layer["trace.overhead_s"] = (
            statistics.median(p["s"] for p in traced) - metrics["pass_s"]
        )
        result["layers"] = layer
        result["traced_passes"] = len(traced)
        result["op_records"] = run.tracer.ops
        trace_path = Path(args.result).with_name("trace.jsonl")
        run.tracer.write(trace_path)
    Path(args.result).write_text(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
