"""Tracing for the per-layer run: spans plus Spark job, stage and SQL counts.

Everything here lives in the benchmark, around the calls it makes into
the package.  Each operation gets an id; its builder call and its action
run under the Spark job groups ``<id>:build`` and ``<id>:exec``.  After
the operation returns, outside its timed window, the Spark UI REST API is
read for those groups.  Spans stay in memory and are written once, at
the end of the run.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

# Per-operation layer metrics, in report order.  ``exec.jobs`` counts the
# action's jobs and ``plans.build_jobs`` the builder's; the other exec.*
# metrics cover every job of the operation.
OP_METRICS: tuple[str, ...] = (
    "plans.build_s",
    "plans.build_jobs",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.job_span_s",
    "exec.executor_run_s",
    "exec.executor_cpu_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.shuffle_read_mb",
    "exec.spill_mb",
    "exec.task_skew",
    "driver.gap_s",
    "sources.input_mb",
    "sources.input_rows",
    "plan.exchanges",
    "plan.broadcasts",
    "store.output_mb",
    "store.files_written",
    "render.s",
    "render.frames",
    "pipeline.rows_collected",
)

_MB = 1e6


def _epoch(stamp: str) -> float:
    """Seconds since the epoch from a REST timestamp such as
    ``2026-01-02T03:04:05.678GMT``."""
    return dt.datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _files_since(roots: list[Path], since: float) -> tuple[int, int]:
    """(files, bytes) under ``roots`` modified at or after ``since``."""
    n = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for name in names:
                try:
                    st = os.stat(os.path.join(dirpath, name))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= since:
                    n += 1
                    size += st.st_size
    return n, size


class Tracer:
    """Spans and layer counts for the operations of one traced run."""

    def __init__(self, spark, store_roots: list[Path]):
        self._sc = spark.sparkContext
        self._base = (
            f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        )
        self._store_roots = store_roots
        self._frame_cls = type(spark.range(0))  # the class that implements collect
        self._sql_seen = 0
        self.spans: list[dict] = []
        self.ops: list[dict] = []

    # -- spans ---------------------------------------------------------
    def span(self, op_id: str, name: str, start: float, end: float, parent: str | None):
        self.spans.append(
            {"op": op_id, "span": name, "start": start, "end": end, "parent": parent}
        )

    @contextmanager
    def phase(self, op_id: str, phase: str):
        """Run one phase (``build`` or ``exec``) under its own job group."""
        self._sc.setJobGroup(f"{op_id}:{phase}", phase)
        try:
            yield
        finally:
            self._sc.setJobGroup(None, None)

    @contextmanager
    def observe(self, op_id: str):
        """Count the calls into the render layer and the rows collected to
        the driver while one operation runs."""
        import awsbatch_mapreduce_spark.operators.render as render
        import awsbatch_mapreduce_spark.pipeline as pipeline

        rec = {"render.s": 0.0, "render.frames": 0, "pipeline.rows_collected": 0}
        real_shade, real_png = render.eq_hist_shade, render.write_png
        real_stitch, real_collect = pipeline.stitch_video, self._frame_cls.collect

        def timed(name, fn):
            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    t1 = time.perf_counter()
                    rec["render.s"] += t1 - t0
                    rec["render.frames"] += name == "write_png"
                    self.span(op_id, f"render.{name}", t0, t1, "exec.action")

            return wrapper

        def counted_collect(df):
            rows = real_collect(df)
            rec["pipeline.rows_collected"] += len(rows)
            return rows

        render.eq_hist_shade = timed("eq_hist_shade", real_shade)
        render.write_png = timed("write_png", real_png)
        pipeline.stitch_video = timed("stitch_video", real_stitch)
        self._frame_cls.collect = counted_collect
        try:
            yield rec
        finally:
            render.eq_hist_shade, render.write_png = real_shade, real_png
            pipeline.stitch_video, self._frame_cls.collect = real_stitch, real_collect

    # -- Spark UI REST API ---------------------------------------------
    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def _jobs(self, groups: set[str], timeout_s: float = 10.0) -> list[dict]:
        """The groups' jobs, once the status store has seen every one end."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._rest("jobs") if j.get("jobGroup") in groups]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def _new_executions(self, timeout_s: float = 10.0) -> list[dict]:
        """SQL executions started since the last call, once none is running.

        The SQL end event follows the end events of the execution's jobs on
        the same listener queue, so after it the jobs are in the store too.
        """
        deadline = time.monotonic() + timeout_s
        while True:
            batch = self._rest(
                f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=10000"
            )
            running = [e for e in batch if e.get("status") == "RUNNING"]
            if not running or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        self._sql_seen += len(batch)
        return batch

    def record(self, op_id: str, name: str, pass_no: int, traced: dict, wall: float,
               build_s: float, action_s: float, started_epoch: float) -> dict:
        """Read the operation's Spark counts and file output; keep one record."""
        executions = self._new_executions()
        jobs = self._jobs({f"{op_id}:build", f"{op_id}:exec"})
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._rest("stages")
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        span_s = _union_length(
            [
                (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                for j in jobs
                if "submissionTime" in j and "completionTime" in j
            ]
        )
        skew = 1.0
        if stages:
            slow = max(stages, key=lambda s: s.get("executorRunTime", 0))
            summary = self._rest(
                f"stages/{slow['stageId']}/{slow['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )
            median, peak = summary["executorRunTime"]
            skew = peak / median if median > 0 else 1.0
        nodes = [
            n["nodeName"]
            for e in executions
            if job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", []))
            for n in e.get("nodes", [])
        ]
        files, size = _files_since(self._store_roots, started_epoch)

        def total(key: str) -> float:
            return sum(s.get(key, 0) for s in stages)

        rec = {
            "op": op_id,
            "name": name,
            "pass": pass_no,
            "op_s": wall,
            "plans.build_s": build_s,
            "plans.build_jobs": sum(j.get("jobGroup") == f"{op_id}:build" for j in jobs),
            "exec.action_s": action_s,
            "exec.jobs": sum(j.get("jobGroup") == f"{op_id}:exec" for j in jobs),
            "exec.stages": len(stages),
            "exec.tasks": total("numCompleteTasks"),
            "exec.job_span_s": span_s,
            "exec.executor_run_s": total("executorRunTime") / 1e3,
            "exec.executor_cpu_s": total("executorCpuTime") / 1e9,
            "exec.gc_s": total("jvmGcTime") / 1e3,
            "exec.shuffle_write_mb": total("shuffleWriteBytes") / _MB,
            "exec.shuffle_read_mb": total("shuffleReadBytes") / _MB,
            "exec.spill_mb": total("diskBytesSpilled") / _MB,
            "exec.task_skew": skew,
            "driver.gap_s": wall - span_s,
            "sources.input_mb": total("inputBytes") / _MB,
            "sources.input_rows": total("inputRecords"),
            "plan.exchanges": sum(n == "Exchange" for n in nodes),
            "plan.broadcasts": sum(n == "BroadcastExchange" for n in nodes),
            "store.output_mb": size / _MB,
            "store.files_written": files,
            **traced,
        }
        self.ops.append(rec)
        return rec

    def per_pass(self, passes: list[int]) -> dict[str, float]:
        """Median over ``passes`` of each metric summed over a pass's
        operations (``exec.task_skew``: the pass's worst operation)."""
        out = {}
        for key in OP_METRICS:
            per = []
            for p in passes:
                vals = [r[key] for r in self.ops if r["pass"] == p]
                per.append(max(vals) if key == "exec.task_skew" else sum(vals))
            out[key] = statistics.median(per)
        return out

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({"kind": "span", **rec}) + "\n")
            for rec in self.ops:
                f.write(json.dumps({"kind": "op", **rec}) + "\n")
