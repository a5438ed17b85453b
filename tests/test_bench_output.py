"""The bench final line must stay inside the grading driver's capture window.

Round-4 artifact-of-record failure (ADVICE item 1): the 81-query
single-line JSON outgrew the driver's ~2000-char stdout capture, so
BENCH_r04.json recorded ``parsed: null``. These tests pin the fix: the
compact line is small and complete regardless of how many headline
queries exist, and the full result round-trips through the detail file.
"""

import fnmatch
import importlib.util
import json
import os
import re
import subprocess

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BENCH = os.path.join(_ROOT, "bench.py")
_spec = importlib.util.spec_from_file_location("bench_mod", _BENCH)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _fake_full_result(n_queries: int) -> dict:
    queries = {f"q{i:02d}_long_operator_name_for_size_{i}": 0.123 + i * 0.01 for i in range(n_queries)}
    queries["pipeline"] = 6.29
    stall = {k: {"wall_sec_median": v, "stall_factor": 1.0 + (i % 7) / 10, "stall_max": 1.9}
             for i, (k, v) in enumerate(queries.items())}
    return {
        "metric": "total_bench_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": 32,
        "stall": stall,
        "probe_baseline_sec": 0.2006,
        "pipeline": {"turns": 600000, "turns_per_sec": 95400.0, "wall_sec": 6.29},
    }


def test_compact_line_fits_driver_capture_window():
    # even at 3x the current headline count the line stays < 1900 chars
    for n in (84, 150, 250):
        line = json.dumps(bench.compact_line(_fake_full_result(n), "BENCH/last_full_bench.json"))
        assert len(line) < 1900, (n, len(line))


def test_compact_line_carries_required_keys():
    out = bench.compact_line(_fake_full_result(84), "BENCH/last_full_bench.json")
    for key in ("metric", "value", "unit", "queries", "sf", "cpus",
                "n_queries", "queries_total_sec", "pipeline_turns_per_sec",
                "probe_baseline_sec", "worst_stall_factor", "detail_file"):
        assert key in out, key
    # driver-spec keys keep their semantics
    assert out["metric"] == "total_bench_sec"
    assert out["unit"] == "sec"
    assert out["queries"]["pipeline"] == 6.29
    assert out["n_queries"] == 84
    assert out["worst_stall_factor"] == 1.6
    # the line is valid single-line JSON
    line = json.dumps(out)
    assert "\n" not in line
    assert json.loads(line) == out


def test_compact_line_worst_stall_names_the_query():
    full = _fake_full_result(10)
    full["stall"]["q03_long_operator_name_for_size_3"]["stall_factor"] = 3.77
    out = bench.compact_line(full, "x.json")
    assert out["worst_stall_factor"] == 3.77
    assert out["worst_stall_query"] == "q03_long_operator_name_for_size_3"


# a BENCH/ json path or glob as cited in prose or code
_CITED = re.compile(r"BENCH/[\w*.-]+?\.json")
_CITING_DOCS = ("README.md", "SURVEY.md", "SCALE.md", "PLANS.md")


def _repo_files() -> list[str]:
    """Tracked files (git), else every file on disk under the repo root."""
    try:
        out = subprocess.run(["git", "ls-files"], cwd=_ROOT, capture_output=True, text=True, check=True)
        return out.stdout.splitlines()
    except (OSError, subprocess.CalledProcessError):
        return [os.path.relpath(os.path.join(d, f), _ROOT) for d, _, fs in os.walk(_ROOT) for f in fs]


def test_every_cited_bench_file_exists():
    """BENCH/ keeps only the files the docs and code still cite: each cited
    path or glob must resolve to a tracked file. bench.py's own output,
    BENCH/last_full_bench.json, is written at run time and never tracked."""
    files = _repo_files()
    tracked = [f for f in files if f.startswith("BENCH/")]
    cited = set()
    for name in (f for f in files if f in _CITING_DOCS or f.endswith(".py")):
        with open(os.path.join(_ROOT, name), encoding="utf-8") as fh:
            cited |= {(name, m) for m in _CITED.findall(fh.read()) if m != "BENCH/last_full_bench.json"}
    assert cited, "no BENCH/ citation found — the pattern no longer matches"
    missing = sorted((name, m) for name, m in cited if not fnmatch.filter(tracked, m))
    assert not missing, missing
