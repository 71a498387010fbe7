"""bench.py, the front over perfbench: argument handling and output
contract, with ``perfbench/run.py`` replaced by a fake script in a copy of
the front so that no Spark job runs."""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Stands in for perfbench/run.py: logs its argv and prints a note line and
# the JSON result line. Throughput is 1000 pages/s per CPU it may use, so
# the N vs 4N pair scales perfectly.
FAKE_RUN = """
import json, os, sys
with open(os.path.join(os.path.dirname(__file__), "calls.log"), "a") as f:
    f.write(" ".join(sys.argv[1:]) + "\\n")
print("workload note line")
cpus = len(os.sched_getaffinity(0))
metrics = {
    "pages_per_s": 1000.0 * cpus,
    "cpu_s_per_kpage": 1.0,
    "recall": 1.0,
    "peak_rss_mb": 100.0,
    "setup_s": 2.0,
}
print(json.dumps({"correct": True, "attempted": 3, "failed": 0,
                  "metrics": {k: {"value": v, "unit": "u"}
                              for k, v in metrics.items()}}))
"""


@pytest.fixture
def front(tmp_path):
    """A copy of bench.py and BENCHMARK.json next to a fake perfbench."""
    shutil.copy(os.path.join(REPO, "bench.py"), tmp_path)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "perfbench" / "run.py").write_text(FAKE_RUN)
    return tmp_path


def _bench_dir_state():
    out = {}
    for root, _, files in os.walk(os.path.join(REPO, "BENCH")):
        for fn in files:
            st = os.stat(os.path.join(root, fn))
            out[os.path.join(root, fn)] = (st.st_size, st.st_mtime_ns)
    return out


def test_unknown_flag_exits_2_fast_without_jvm(front):
    before = _bench_dir_state()
    # runs the real bench.py in-process so the imported modules are visible
    probe = (
        "import runpy, sys\n"
        f"sys.argv = [{os.path.join(REPO, 'bench.py')!r}, '--help']\n"
        "try:\n"
        "    runpy.run_path(sys.argv[0], run_name='__main__')\n"
        "except SystemExit as e:\n"
        "    print('RC', e.code, 'pyspark' in sys.modules)\n"
    )
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, timeout=60
    )
    assert time.time() - t0 < 5
    assert proc.stdout.strip() == "RC 2 False", proc.stderr
    assert "python bench.py" in proc.stderr

    proc = subprocess.run(
        [sys.executable, str(front / "bench.py"), "--bogus"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 2
    assert not (front / "perfbench" / "calls.log").exists()
    assert _bench_dir_state() == before


def test_bare_run_prints_provisional_then_result(front):
    before = _bench_dir_state()
    proc = subprocess.run(
        [sys.executable, str(front / "bench.py")],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    lines = proc.stdout.splitlines()
    first, last = json.loads(lines[0]), json.loads(lines[-1])
    assert first["provisional"] is True and first["workloads"] is None
    assert last["provisional"] is False
    # the runs' own output goes to stderr, not between the JSON lines
    assert len(lines) == 2 and "workload note line" in proc.stderr

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(last["workloads"]) == sorted(names)
    for res in last["workloads"].values():
        assert res["correct"] is True
        for m in ("pages_per_s", "cpu_s_per_kpage", "recall", "peak_rss_mb",
                  "setup_s"):
            assert isinstance(res[m], float)

    calls = (front / "perfbench" / "calls.log").read_text().splitlines()
    for name in names:
        want = f"--workload {name} --seed 1 --seconds {spec['run_seconds']}"
        assert want in calls

    cores = len(os.sched_getaffinity(0))
    scaling = last["scaling"]
    if cores < 4:
        assert scaling["efficiency"] is None and "reason" in scaling
    else:
        n = cores // 4
        assert set(scaling["legs"]) == {str(n), str(4 * n)}
        assert scaling["legs"][str(n)]["pages_per_s"] == 1000.0 * n
        assert scaling["efficiency"] == pytest.approx(1.0)
        assert scaling["legs"][str(n)]["cpu_s_per_wall_s"] == pytest.approx(n)
    assert last["cores"] == cores
    assert not (front / "BENCH").exists()
    assert _bench_dir_state() == before


def test_import_has_no_disk_side_effects():
    before = _bench_dir_state()
    proc = subprocess.run(
        [sys.executable, "-c", "import bench"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert _bench_dir_state() == before
