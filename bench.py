#!/usr/bin/env python
"""Benchmark front over ``perfbench`` (the benchmark of record).

    python bench.py            # every BENCHMARK.json workload + N vs 4N pair
    python bench.py --queries  # every declared query at sf0.1, noop sink

A bare run prints a provisional JSON line first, then runs each workload
of ``BENCHMARK.json`` once as ``perfbench/run.py --workload W --seed 1
--seconds <run_seconds>``, then one N vs 4N pair on ``crawl-longpage``:
N = cores // 4 and 4N = 4 * N (all cores when their count is a multiple of
4), each leg pinned to its CPUs with ``sched_setaffinity`` (perfbench sizes
``local[n]`` from the affinity mask). Efficiency is
``pages_per_s(4N) / (4 * pages_per_s(N))``. Each leg also reports
``cpu_s_per_wall_s``, the CPU seconds its process tree spent per wall
second of a timed pass: well below the leg's core count means the host
did not grant it those cores. The result is the last JSON line; the runs'
own output goes to stderr. Nothing is written under ``BENCH/``.

Any other argument prints this text and exits 2 without starting a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SEED = 1
SCALING_WORKLOAD = "crawl-longpage"
QUERY_TRIALS = 3


def _cores() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def perfbench(workload: str, seconds: float, cpus: list[int] | None = None) -> dict:
    """One ``perfbench/run.py`` run: its ``correct`` flag and metric
    values, or ``error`` when it printed no JSON line."""
    cmd = [
        sys.executable,
        os.path.join(REPO, "perfbench", "run.py"),
        "--workload", workload,
        "--seed", str(SEED),
        "--seconds", str(seconds),
    ]
    proc = subprocess.run(
        cmd,
        cwd=REPO,
        stdout=subprocess.PIPE,
        text=True,
        preexec_fn=(lambda: os.sched_setaffinity(0, cpus)) if cpus else None,
    )
    sys.stderr.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        return {"error": f"perfbench exited {proc.returncode}, {len(lines)} JSON lines"}
    res = json.loads(lines[-1])
    return {
        "correct": res["correct"],
        **{k: m["value"] for k, m in res["metrics"].items()},
    }


def scaling(seconds: float) -> dict:
    cores = _cores()
    n = len(cores) // 4
    if n == 0:
        return {
            "efficiency": None,
            "reason": f"{len(cores)} cores: N = cores // 4 is 0",
        }
    legs = {}
    for k in (n, 4 * n):
        r = perfbench(SCALING_WORKLOAD, seconds, cores[:k])
        if "error" not in r:
            r["cpu_s_per_wall_s"] = r["cpu_s_per_kpage"] * r["pages_per_s"] / 1e3
        legs[str(k)] = r
    lo, hi = legs[str(n)], legs[str(4 * n)]
    ok = "error" not in lo and "error" not in hi and lo["pages_per_s"] > 0
    return {
        "workload": SCALING_WORKLOAD,
        "n": n,
        "legs": legs,
        "efficiency": hi["pages_per_s"] / (4 * lo["pages_per_s"]) if ok else None,
    }


def bare() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {"provisional": True, "cores": len(_cores()), "workloads": None, "scaling": None}
    print(json.dumps(out), flush=True)
    seconds = spec["run_seconds"]
    out["workloads"] = {
        wl["name"]: perfbench(wl["name"], seconds) for wl in spec["workloads"]
    }
    out["scaling"] = scaling(seconds)
    out["provisional"] = False
    print(json.dumps(out), flush=True)
    runs = [*out["workloads"].values(), *out["scaling"].get("legs", {}).values()]
    return 1 if any("error" in r for r in runs) else 0


def queries() -> int:
    """Median of QUERY_TRIALS noop-sink runs of every declared query."""
    sys.path.insert(0, REPO)
    import __spark_entry__
    from lsh_qd_spark.config import RuntimeConfig
    from lsh_qd_spark.session import get_spark

    # in local mode the tasks run inside the driver JVM, and its heap grows
    # towards the cap under load: keep the cap well below host memory
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    n = len(_cores())
    spark = get_spark(
        "bench_queries",
        master=f"local[{n}]",
        runtime=RuntimeConfig(shuffle_partitions=2 * n),
    )
    times = {}
    for name, fn in __spark_entry__.queries().items():
        trials = []
        for _ in range(QUERY_TRIALS):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            trials.append(time.perf_counter() - t0)
        print(name, [round(t, 3) for t in trials], file=sys.stderr)
        times[name] = {
            "median_s": statistics.median(trials),
            "min_s": min(trials),
            "max_s": max(trials),
        }
    spark.stop()
    print(json.dumps({"sf": SF_DIR, "cores": n, "trials": QUERY_TRIALS, "queries": times}))
    return 0


def main(argv: list[str]) -> int:
    if not argv:
        return bare()
    if argv == ["--queries"]:
        return queries()
    sys.stderr.write(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
