"""The spark-submit entry points under ``jobs/``, run in process: the
argument wiring, the printed summary and resume."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job_main(name):
    spec = importlib.util.spec_from_file_location(f"job_{name}", os.path.join(REPO, "jobs", f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.main


def test_pipeline_job_prints_summary_and_resumes(spark, transcripts_path, tmp_path, monkeypatch, capsys):
    """jobs/pipeline.py on the active session: the printed summary shows
    four complete sinks whose trace/log/metric rows sum to the input, and a
    second call resumes without rewriting any sink."""
    out = tmp_path / "out"
    monkeypatch.setattr(sys, "argv", ["pipeline.py", "--input", transcripts_path, "--output", str(out)])
    main = _job_main("pipeline")

    def run():
        assert main() == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run()
    sinks = first["sinks"]
    assert set(sinks) == {"traces", "logs", "metrics", "sink_counts"}
    assert all(v["status"] == "complete" for v in sinks.values())
    assert sinks["traces"]["rows"] + sinks["logs"]["rows"] + sinks["metrics"]["rows"] == len(
        pd.read_parquet(transcripts_path)
    )
    assert first["turns_per_sec"] > 0 and first["resumed_partial"] is None

    def files():
        return {p: p.stat().st_mtime_ns for p in out.rglob("*") if p.name != "_manifest.json"}

    written = files()
    second = run()
    assert second["resumed_partial"]["sinks_this_run"] == []
    assert second["sinks"] == sinks
    assert files() == written, "the resumed run rewrote a committed sink"
