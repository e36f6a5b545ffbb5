"""Reference pipeline: golden frame bytes and a single driver collect.

The frames are pinned by the sha256 of all 83 PNGs concatenated in
iteration order, so any change to the grid, the bbox, the bin
expressions, the shading law or the encoder shows up here.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest

from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
from tests.conftest import SF_BOTH

GOLDEN_FRAMES_SHA256 = {
    "sf0.001": "08dd7d8264b9c42e731b78fcb109e1dcc643dc7253b322bcdec714acc4ba2231",
    "sf0.01": "16c9edac84a7c40ba0b0edc6cbe08ded12d665a20fbfe6f1d9016fa1e50eb3c8",
}


@pytest.mark.parametrize("sf", SF_BOTH)
def test_pipeline_golden_frames_one_collect(spark, sf, tmp_path, monkeypatch):
    frame_cls = type(spark.range(0))
    real_collect = frame_cls.collect
    collects = []

    def counted_collect(df):
        collects.append(df.columns)
        return real_collect(df)

    monkeypatch.setattr(frame_cls, "collect", counted_collect)
    manifest = run_reference_pipeline(spark, sf, tmp_path)
    monkeypatch.undo()

    assert collects == [["year_month", "px", "py", "count"]]
    months = manifest["months"]
    assert (len(months), months[0], months[-1]) == (83, "1995-01", "2001-11")
    assert [Path(p).name for p in manifest["frames"]] == [
        f"output-iteration-{i:03d}.png" for i in range(83)
    ]
    frames = b"".join(Path(p).read_bytes() for p in manifest["frames"])
    assert hashlib.sha256(frames).hexdigest() == GOLDEN_FRAMES_SHA256[Path(sf).name]
