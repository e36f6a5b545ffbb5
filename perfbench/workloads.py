"""Workload definitions and their untimed correctness checks.

A workload is a fixed list of operations.  Each operation is either a
registry query (``QUERIES[name].builder(spark, sf_dir)`` followed by an
action) or the reference map->reduce pipeline
(``pipeline.run_reference_pipeline``).  The seed only permutes the order
of the operations inside each pass.

This module imports nothing heavy at top level so that ``run.py`` can
read workload names without starting Spark.
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

PIPELINE_OP = "run_reference_pipeline"


# Why each declared workload was chosen is recorded in BENCHMARK.json and
# README.md.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "map_frames": (PIPELINE_OP,),
    "llm_dedup": (
        "dedup_minhash_lsh",
        "dedup_prefix_filter_capped",
        "dedup_embedding_cosine",
        "knn_bruteforce_cosine",
        "ann_ivf_topk",
        "corpus_curation_funnel",
        "multimodal_decode_features",
    ),
    # Not declared in BENCHMARK.json: one run of either does not fit the
    # benchmark's time budget (README.md, "Workloads").  Runnable with
    # --workload.
    "sql_analytics": (
        "frame_histogram2d",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_nation_revenue",
        "q6_forecast_revenue",
        "q10_returned_revenue",
        "window_top_orders_per_customer",
        "events_sessionization",
        "events_tumbling_hourly",
        "events_sliding_windows",
        "asof_join_purchase_attribution",
        "range_join_error_context",
    ),
    "index_lifecycle": (
        "codebook_pointer_lifecycle_adc",
        "codebook_tombstone_adc",
        "lsh_admission_gate",
    ),
}


# A fixed count of warm passes per workload, not a time budget, so that
# every run stops at the same point of JIT warm-up and ``pass_s`` compares
# like with like between runs and commits.  Each count makes the warm
# passes take about ``run_seconds`` on the 4-core host the benchmark was
# built on; ``map_frames`` passes are short and vary more from one to the
# next, so it gets one more.
WARM_PASSES: dict[str, int] = {
    "map_frames": 4,
    "llm_dedup": 3,
    "sql_analytics": 3,
    "index_lifecycle": 3,
}


@contextmanager
def collected_rows(frame_cls):
    """Gather every row that ``frame_cls.collect`` returns meanwhile.

    ``frame_cls`` is PySpark's concrete DataFrame class; wrapping its
    ``collect`` observes the rows the pipeline reduces to without calling
    into the package.
    """
    rows: list = []
    real_collect = frame_cls.collect

    def observed_collect(self):
        out = real_collect(self)
        rows.extend(out)
        return out

    frame_cls.collect = observed_collect
    try:
        yield rows
    finally:
        frame_cls.collect = real_collect


def _histogram_oracle_sql() -> str:
    """DuckDB form of the pipeline's per-month (px, py) bin counts."""
    from awsbatch_mapreduce_spark.plans.reference_parity import (
        _BBOX,
        _GRID_H,
        _GRID_W,
        _X_EXPR,
        _Y_EXPR,
    )

    def lit(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    xstep = (_BBOX["xmax"] - _BBOX["xmin"]) / _GRID_W
    ystep = (_BBOX["ymax"] - _BBOX["ymin"]) / _GRID_H
    return f"""
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS year_month,
               CAST(least(floor((x - {lit(_BBOX["xmin"])}) / {lit(xstep)}), {_GRID_W - 1})
                    AS INTEGER) AS px,
               CAST(least(floor((y - {lit(_BBOX["ymin"])}) / {lit(ystep)}), {_GRID_H - 1})
                    AS INTEGER) AS py,
               COUNT(*) AS count
        FROM (SELECT l_shipdate, {_X_EXPR} AS x, {_Y_EXPR} AS y FROM lineitem)
        WHERE x >= {lit(_BBOX["xmin"])} AND x <= {lit(_BBOX["xmax"])}
          AND y >= {lit(_BBOX["ymin"])} AND y <= {lit(_BBOX["ymax"])}
        GROUP BY ALL
    """


def check_pipeline(spark, con, sf_dir: str, out_dir: Path, output=None) -> list[str]:
    """Compare the pipeline's histogram and frames with DuckDB.

    ``output`` is ``(collected rows, manifest)`` of a timed pipeline call;
    without it the pipeline runs once more here, into ``out_dir``.  The
    collected rows are the histogram that feeds the frames, so it is
    compared cell by cell.
    """
    import pandas as pd

    from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
    from tests.oracle_utils import compare_frames

    if output is None:
        with collected_rows(type(spark.range(0))) as rows:
            output = rows, run_reference_pipeline(spark, sf_dir, out_dir)
    collected, manifest = output

    oracle = con.execute(_histogram_oracle_sql()).fetchdf()
    got = pd.DataFrame([r.asDict() for r in collected], columns=list(oracle.columns))
    problems = compare_frames(got, oracle)
    months = sorted(oracle["year_month"].unique())
    if manifest["months"] != months:
        problems.append(
            f"frame months differ: pipeline={len(manifest['months'])} duckdb={len(months)}"
        )
    frames = [Path(p) for p in manifest["frames"]]
    if len(frames) != len(months):
        problems.append(f"frame count {len(frames)} != {len(months)} months")
    bad = [p.name for p in frames if p.read_bytes()[:8] != b"\x89PNG\r\n\x1a\n"]
    if bad:
        problems.append(f"{len(bad)} frames are not PNG files, first {bad[0]}")
    return problems


def check_op(spark, con, name: str, sf_dir: str, out_dir: Path, output=None) -> list[str]:
    """Untimed oracle check of one operation; an empty list means it matched.

    ``output`` is what a timed call of the operation returned, if it
    returned: a query's DataFrame, whose plan the check then executes
    without a second builder call, or the pipeline's ``(rows, manifest)``.
    Without it the operation runs afresh."""
    if name == PIPELINE_OP:
        return check_pipeline(spark, con, sf_dir, out_dir, output)
    from awsbatch_mapreduce_spark.plans import QUERIES
    from tests.oracle_utils import check_query

    spec = QUERIES[name]
    builder = spec.builder if output is None else lambda *_: output
    return check_query(spark, con, name, builder, spec.oracle, sf_dir)
