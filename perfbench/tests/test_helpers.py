"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys
import time

import pytest

import loadgen
import measure

HERE = os.path.dirname(os.path.abspath(__file__))


# --- inputs from the seed -----------------------------------------------------------


def _bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_transcripts(tmp_path):
    a = loadgen.write_transcripts(str(tmp_path / "a" / "bulk"), 5_000, loadgen.sub_seed(7, "bulk"), files=3)
    b = loadgen.write_transcripts(str(tmp_path / "b" / "bulk"), 5_000, loadgen.sub_seed(7, "bulk"), files=3)
    assert a == b
    assert sum(a["rows"].values()) == 5_000
    ba, bb = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert len(ba) == 3 and ba == bb
    c = loadgen.write_transcripts(str(tmp_path / "c.parquet"), 5_000, loadgen.sub_seed(8, "bulk"))
    assert _bytes(tmp_path / "a")["bulk/part-00000.parquet"] != open(tmp_path / "c.parquet", "rb").read()
    assert c != a


def test_sub_seeds_differ_by_tag_and_index():
    seeds = {loadgen.sub_seed(1, "small", i) for i in range(50)} | {loadgen.sub_seed(1, "bulk")}
    assert len(seeds) == 51
    assert loadgen.sub_seed(1, "small", 3) == loadgen.sub_seed(1, "small", 3)


def test_same_seed_gives_identical_read_tables_and_requests(tmp_path):
    pa = loadgen.write_read_tables(str(tmp_path / "a"), 3, scale=0.02)
    loadgen.write_read_tables(str(tmp_path / "b"), 3, scale=0.02)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert sorted(pa) == ["events", "lineitem", "orders"]
    r1, r2 = loadgen.request_stream(3, 300), loadgen.request_stream(3, 300)
    assert json.dumps(r1) == json.dumps(r2)
    assert json.dumps(r1) != json.dumps(loadgen.request_stream(4, 300))


def test_request_stream_has_fixed_repeat_share_and_mix():
    reqs = loadgen.request_stream(11, 300)
    repeats = [r for r in reqs if r["repeat"]]
    assert len(repeats) == 100
    seen = []
    for r in reqs:
        key = json.dumps({k: v for k, v in r.items() if k != "repeat"}, sort_keys=True)
        assert r["repeat"] == (key in seen) or not r["repeat"]
        if r["repeat"]:
            assert key in seen  # a repeat always re-sends an earlier set
        seen.append(key)
    new = [r for r in reqs if not r["repeat"]]
    assert [r["kind"] for r in new[:20]] == list(loadgen.KIND_CYCLE)


def test_read_oracle_clamps_and_filters(tmp_path):
    paths = loadgen.write_read_tables(str(tmp_path), 5, scale=0.02)
    req = {"kind": "logs", "filter": {"types_in": ["click", "error"], "min_value": 50.0},
           "sort": "value", "descending": True, "limit": 500, "offset": 0}
    got = loadgen.expected_response(paths, req)
    assert len(got["page"]) == 100  # limit 500 is clamped to the 100 maximum
    assert {t for t, _ in got["service_counts"]} <= {"click", "error"}
    assert got["total"] == sum(c for _, c in got["service_counts"])
    assert [t for t, _ in got["severity_counts"]][0] == "error"  # the rank ladder puts error first
    assert loadgen.check_response(paths, req, got) == []
    bad = dict(got, total=got["total"] + 1)
    assert loadgen.check_response(paths, req, bad)


# --- spans and self time --------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children_once():
    clock = FakeClock()
    tr = measure.Tracer(clock=clock)
    tr.new_trace()
    with tr.span("op"):  # 0 .. 10
        clock.t = 1.0
        with tr.span("a"):  # 1 .. 4, with a grandchild 2 .. 3
            clock.t = 2.0
            with tr.span("a.inner"):
                clock.t = 3.0
            clock.t = 4.0
        clock.t = 6.0
        with tr.span("b"):  # 6 .. 9
            clock.t = 9.0
        clock.t = 10.0
    spans = tr.spans
    names = [s.name for s in spans]
    assert names == ["op", "a", "a.inner", "b"]
    assert spans[0].duration == 10.0
    assert measure.self_time(spans, 0) == pytest.approx(10.0 - 3.0 - 3.0)
    assert measure.self_time(spans, 1) == pytest.approx(3.0 - 1.0)
    assert measure.self_time(spans, 2) == pytest.approx(1.0)
    assert spans[2].parent == 1 and spans[1].parent == 0 and spans[3].parent == 0
    assert {s.trace for s in spans} == {1}


def test_covered_merges_overlaps_and_clips():
    assert measure.covered([(1, 4), (3, 6), (8, 9)], 0, 10) == pytest.approx(6.0)
    assert measure.covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert measure.covered([], 0, 10) == 0.0
    assert measure.covered([(11, 12)], 0, 10) == 0.0


# --- the ten-samples-beyond percentile rule ---------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75), (100, 0.9), (200, 0.95), (1000, 0.99)],
)
def test_highest_reportable_percentile(n, expected):
    assert measure.highest_reportable_percentile(n) == expected


def test_class_median_total_ignores_one_outlier_per_class():
    walls = [1.0, 1.1, 9.0, 0.1, 0.1, 0.2]
    kinds = ["miss", "miss", "miss", "hit", "hit", "hit"]
    assert measure.class_median_total(walls, kinds) == pytest.approx(3 * 1.1 + 3 * 0.1)
    assert measure.class_median_total([2.0, 4.0], [None, None]) == pytest.approx(6.0)
    assert measure.class_median_total([5.0], ["once"]) == 5.0


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert measure.percentile(xs, 0.5) == pytest.approx(50.5)
    assert measure.percentile(xs, 0.9) == pytest.approx(90.1)
    assert measure.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        measure.percentile([], 0.5)


# --- /proc process-tree accounting -------------------------------------------------------------


def _fake_proc(root, procs, uptime=1000.0):
    """procs: pid -> (comm, ppid, utime, stime, cutime, cstime, starttime, hwm_kb)."""
    for pid, (comm, ppid, ut, st, cut, cst, start, hwm) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, ut, st, cut, cst, 20, 0, 1, 0, start]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(str(f) for f in fields) + " 0 0\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm} kB\nVmRSS:\t1 kB\n")
    (root / "uptime").write_text(f"{uptime} 0.0\n")


def test_tree_cpu_counts_descendants_and_reaped_children(tmp_path):
    tick = measure.CLK_TCK
    _fake_proc(tmp_path, {
        100: ("python3", 1, 1 * tick, 1 * tick, 0, 0, 50 * tick, 1000),
        200: ("java", 100, 10 * tick, 2 * tick, 3 * tick, 0, 60 * tick, 5000),  # reaped workers: 3 s
        300: ("python3 -m (daemon)", 200, 1 * tick, 0, 0, 0, 70 * tick, 300),  # odd command name
        400: ("helper", 100, 50 * tick, 0, 0, 0, 70 * tick, 9000),  # excluded load generator
        500: ("other", 1, 99 * tick, 0, 0, 0, 70 * tick, 9000),  # not in the tree
    })
    root = str(tmp_path)
    assert sorted(measure.tree_pids(100, frozenset({400}), root)) == [100, 200, 300]
    assert measure.tree_cpu_s(100, frozenset({400}), root) == pytest.approx(2 + 15 + 1)
    assert measure.tree_cpu_s(100, frozenset(), root) == pytest.approx(2 + 15 + 1 + 50)
    assert measure.tree_peak_rss_mb(100, frozenset({400}), root) == pytest.approx(6300 / 1024)
    assert sorted(measure.children(100, root)) == [200, 400]
    assert measure.process_age_s(100, root) == pytest.approx(1000.0 - 50.0)


def test_tree_cpu_sees_a_busy_grandchild():
    code = ("import subprocess, sys; "
            "subprocess.run([sys.executable, '-c', 'import time\\nt=time.time()\\nwhile time.time()-t<1.0: pass'])")
    before = measure.tree_cpu_s(os.getpid())
    proc = subprocess.Popen([sys.executable, "-c", code])
    time.sleep(0.6)
    mid = measure.tree_cpu_s(os.getpid())  # the spinning grandchild is live
    assert proc.wait(timeout=30) == 0
    after = measure.tree_cpu_s(os.getpid())  # reaped: its CPU moved into cutime
    assert mid - before > 0.2
    assert after - before > 0.8
    assert after >= mid


def test_reap_descendants_waits_for_orphans_and_kills_stragglers(tmp_path):
    # in a process of its own, so this test process does not become a subreaper
    code = f"""
import os, subprocess, sys, time
sys.path.insert(0, {os.path.dirname(HERE)!r})
import measure
measure.become_subreaper()
spawn = "import subprocess, sys; print(subprocess.Popen([sys.executable, '-c', %r], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"
short = subprocess.run([sys.executable, "-c", spawn % "import time; time.sleep(0.3)"], capture_output=True, text=True)
long = subprocess.run([sys.executable, "-c", spawn % "import time; time.sleep(300)"], capture_output=True, text=True)
orphans = [int(short.stdout), int(long.stdout)]
assert sorted(measure.children(os.getpid())) == sorted(orphans)  # re-parented here, not to init
t = time.monotonic()
measure.reap_descendants(grace_s=1.0)
assert 0.9 < time.monotonic() - t < 30, time.monotonic() - t
assert not any(os.path.exists(f"/proc/{{p}}") for p in orphans)
print("ok")
"""
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "ok", out.stderr


# --- the metric list matches BENCHMARK.json --------------------------------------------------


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run._unit(n) for n in run.per_layer_names()}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END_UNITS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
