"""End-to-end launch-shape test: the north rule's production invocation,
`spark-submit --py-files dist/pipeline.zip job.py`, run as a real
subprocess from a directory where the package is NOT importable — every
import must come from the shipped archive, exactly as on a cluster where
executors receive only the zip.

Covers the full receiver→processor→exporter topology (parse → enrich →
route → sinks → aggregates), the lineage-manifest resume contract (second
run over the same --output skips committed sinks and reports identical
counts), and the dist-archive freshness that ADVICE round 2 flagged:
a stale zip would surface here as divergent behavior, not just a doc note.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(dest: str) -> str:
    """Fresh archive in tmp (same recipe as scripts/make_dist.sh) so the
    test is hermetic even if dist/ is mid-edit."""
    zip_path = os.path.join(dest, "pipeline.zip")
    pkg = "opentelemetry_collector_contrib_spark"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, pkg)):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    return zip_path


def _run(cmd: list[str], cwd: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_REPO"] = REPO  # fixture tables stay repo-rooted
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    proc = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stdout[-4000:]}\n{proc.stderr[-4000:]}"
    # job.py prints exactly one JSON result line
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON line in stdout:\n{proc.stdout[-4000:]}"
    return json.loads(lines[-1])


def test_spark_submit_py_files_end_to_end(tmp_path):
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on PATH")

    workdir = tmp_path / "launch"
    workdir.mkdir()
    zip_path = _build_zip(str(workdir))
    shutil.copy(os.path.join(REPO, "job.py"), workdir / "job.py")
    out = str(tmp_path / "out")

    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        str(workdir / "job.py"),
        "--input", "/root/testdata/sf0.001",
        "--output", out,
    ]
    first = _run(cmd, str(workdir))
    # fixture route table fans out into the four sinks + aggregate tables
    assert first["sinks"], first
    assert sum(first["sinks"].values()) > 0
    for route in ("errors", "tool_events"):
        assert route in first["sinks"], sorted(first["sinks"])
    assert first["metrics"]["input_rows"] > 0
    # every count job.py prints is observed on the write; it must equal the
    # rows that landed in the parquet
    landed = {name: _parquet_rows(os.path.join(out, name)) for name in first["sinks"]}
    assert first["sinks"] == landed
    # the testbed validator's sent == received: the move sinks partition
    # the input, and the stage counters agree with the sinks
    sinks, stages = first["sinks"], first["metrics"]["stage_rows"]
    assert sinks["errors"] + sinks["tool_events"] + sinks["general"] == first["metrics"]["input_rows"]
    assert stages["in"] == first["metrics"]["input_rows"]
    for route in ("errors", "tool_events", "general"):
        assert stages[f"route.{route}"] == sinks[route]
    assert stages["copy.human_turns"] == sinks["human_turns"]
    assert 0 <= stages["parse.unmatched"] <= stages["in"]
    assert 0 <= stages["enrich.tool_miss"] <= stages["in"]

    # idempotent resume: same --output, manifest marks sinks committed,
    # counts must not change (no duplicate rows appended)
    second = _run(cmd, str(workdir))
    assert second["sinks"] == first["sinks"]
    assert second["metrics"]["stage_rows"] == first["metrics"]["stage_rows"]
    assert sorted(second["metrics"]["resumed_sinks"]) == sorted(
        ("errors", "tool_events", "general", "human_turns")
    )


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
