"""Dedup benchmark: warm-JVM throughput of ``DedupPipeline.run`` on seeded crawls.

    python3 perfbench/run.py --workload crawl-longpage --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run is one fresh driver process on
``local[<cores>]``:

1. build the session (``lsh_qd_spark.session.get_spark``, warm-up included);
2. write the workload's seeded pages to parquet (not counted anywhere);
3. run untimed warm-up passes, until JIT and caches settle;
4. ``--trace 0``: time whole passes for ``--seconds`` seconds and report
   the end-to-end metrics; ``--trace 1``: call each layer in turn under
   its own Spark job group and report the per-layer metrics (see
   ``traced.py``);
5. check the last result against the planted truth.

Each metric is printed by name with its unit; the last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import probes

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Ample for these corpora. The JVM grows its heap towards this cap under
# any load, so a small cap keeps peak_rss_mb steady from run to run.
DRIVER_MEM = "2g"

# name -> (unit, better)
END_TO_END = {
    "pages_per_s": ("pages/s", "higher"),
    "cpu_s_per_kpage": ("s/kpage", "lower"),
    "recall": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: Path) -> None:
    """Point every file Spark, the JVM and Python write into the run's
    directory, and let the Python workers import the checkout's code."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=str(tmp),
        SPARK_GRAFT_LOCAL_DIR=str(run_dir / "local"),
        SPARK_GRAFT_WAREHOUSE_DIR=str(run_dir / "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )


def _session():
    from lsh_qd_spark.config import RuntimeConfig
    from lsh_qd_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    runtime = RuntimeConfig(
        # the engine's rule of thumb: about two shuffle tasks per core
        shuffle_partitions=2 * cores,
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        }
    )
    return get_spark("perfbench", master=f"local[{cores}]", runtime=runtime)


def _stop(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every child process
    (JVM, PySpark daemon, workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(probes.process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def measure(spark, wl, docs, n_pages, seconds, meter, t_proc, gen_s):
    """Timed untraced passes; returns (result dict, printed lines)."""
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    import workloads

    pipe = DedupPipeline(workloads.BENCH_CFG)
    warm = workloads.warm_up(pipe, docs, n_pages)
    meter.sample()
    setup_s = time.time() - t_proc - gen_s

    walls, cpus, pys, failed, last = [], [], [], 0, None
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not (walls or failed):
        cpu0, py0 = meter.cpu()
        t0 = time.perf_counter()
        try:
            last = workloads.one_pass(pipe, docs)
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        walls.append(time.perf_counter() - t0)
        cpu1, py1 = meter.cpu()
        cpus.append(cpu1 - cpu0)
        pys.append(py1 - py0)
        meter.sample()

    rec, impure = (
        workloads.check(spark, wl, last["clusters"]) if last else (0.0, -1)
    )
    pipe.release()
    metrics = {
        "pages_per_s": n_pages / statistics.median(walls) if walls else 0.0,
        "cpu_s_per_kpage": (
            statistics.median(cpus) / (n_pages / 1000) if cpus else 0.0
        ),
        "recall": rec,
        "peak_rss_mb": meter.peak_rss_mb,
        "setup_s": setup_s,
    }
    ok = (
        failed == 0
        and rec >= workloads.MIN_RECALL
        and impure == 0
    )
    notes = [
        f"input generation {gen_s:.2f} s, warm-up passes "
        f"{[round(w, 3) for w in warm]}",
        f"timed passes: {len(walls)} in {sum(walls):.2f} s, "
        f"wall per pass {[round(w, 3) for w in walls]}, CPU per pass "
        f"{[round(c, 2) for c in cpus]} (Python workers "
        f"{[round(c, 2) for c in pys]})",
        f"impure clusters: {impure}",
        "summed peak RSS by part: "
        + ", ".join(
            f"{k} {v:.0f} MB" for k, v in sorted(meter.peaks_mb().items())
        ),
    ]
    return (
        {
            "correct": ok,
            "attempted": len(walls) + failed,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": END_TO_END[k][0]}
                for k, v in metrics.items()
            },
        },
        notes,
    )


def main(argv=None) -> int:
    t_proc = probes.process_start_time()
    args = _parse(argv)
    if not (ROOT / "lsh_qd_spark").is_dir():
        print(f"no lsh_qd_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.workload(args.workload, args.seed)

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)
    meter = probes.TreeMeter()
    spark = None
    try:
        t0 = time.time()
        spark = _session()
        session_s = time.time() - t0
        t0 = time.time()
        pages = str(run_dir / "pages")
        n_pages = workloads.write_pages(spark, wl, pages)
        docs = spark.read.parquet(pages)
        gen_s = time.time() - t0
        if args.trace:
            import traced

            result, notes = traced.run(
                spark, wl, docs, run_dir, meter, session_s, WORK
            )
        else:
            result, notes = measure(
                spark, wl, docs, n_pages, args.seconds, meter, t_proc, gen_s
            )
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {wl.name}: {n_pages} pages, seed {args.seed} ({wl.why})")
    for line in notes:
        print(line)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
