"""Tests of the benchmark itself. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import workloads  # noqa: E402


def _frame(rows):
    return pd.DataFrame(rows, columns=["doc_id", "truth", "tier", "found"])


def test_recall_counts_pairs_per_planted_and_found_cluster():
    nan = float("nan")
    frame = _frame(
        [
            # planted cluster 1 (3 pairs): docs 1 and 2 found together
            (1, 1, 0.95, 1),
            (2, 1, 0.95, 1),
            (3, 1, 0.95, nan),
            # planted cluster 10 (1 pair): found
            (10, 10, 0.75, 10),
            (11, 10, 0.75, 10),
            # tier 0.60 is below the verify threshold: not counted
            (20, 20, 0.60, nan),
            (21, 20, 0.60, nan),
        ]
    )
    assert workloads.recall(frame) == pytest.approx(2 / 4)
    assert workloads.impure_clusters(frame) == 0


def test_impure_clusters_flags_unplanted_and_mixed_members():
    nan = float("nan")
    frame = _frame(
        [
            (1, 1, 0.95, 1),
            (2, 1, 0.95, 1),
            (30, nan, nan, 1),  # unplanted page joined to cluster 1
            (10, 10, 0.75, 10),
            (20, 20, 0.85, 10),  # two planted clusters merged
            (40, 40, 0.85, 40),
            (41, 40, 0.85, 40),
        ]
    )
    assert workloads.impure_clusters(frame) == 2


def test_useful_ratio():
    assert workloads.useful_ratio(3, 4) == 0.75
    assert workloads.useful_ratio(0, 0) == 0.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from lsh_qd_spark.config import RuntimeConfig
    from lsh_qd_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        runtime=RuntimeConfig(shuffle_partitions=4),
    )
    yield s
    s.stop()


# pages in the tests' corpora, far fewer than the workloads run
TINY = 200


def _tiny(name, seed):
    wl = workloads.workload(name, seed)
    return dataclasses.replace(
        wl, synth=dataclasses.replace(wl.synth, n_docs=TINY)
    )


def _pages(spark, path, name, seed):
    wl = _tiny(name, seed)
    workloads.write_pages(spark, wl, str(path))
    return spark.read.parquet(str(path)).orderBy("doc_id").toPandas()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic_per_seed(spark, tmp_path, name):
    a = _pages(spark, tmp_path / "a", name, 5)
    b = _pages(spark, tmp_path / "b", name, 5)
    c = _pages(spark, tmp_path / "c", name, 6)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == len(c)
    assert not a["text"].equals(c["text"])


def test_check_scores_a_tiny_corpus_against_planted_truth(spark):
    from pyspark.sql import functions as F

    from lsh_qd_spark.synth import truth_clusters

    wl = _tiny("crawl-dupheavy", 3)
    perfect = truth_clusters(spark, wl.synth).where(
        F.col("tier") >= workloads.TRUTH_MIN_TIER
    )
    assert workloads.check(spark, wl, perfect) == (1.0, 0)
    # dropping every member but the first two of each planted cluster
    partial = perfect.where(F.col("doc_id") - F.col("cluster_id") < 2)
    rec, impure = workloads.check(spark, wl, partial)
    assert 0 < rec < 1 and impure == 0


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


# run.py's main with every workload cut to SMALL pages
SMALL = 1000
_SMALL_RUN = f"""
import sys
sys.path[:0] = [{str(BENCH)!r}, {str(ROOT)!r}]
import run, workloads
for _, kw in workloads.WORKLOADS.values():
    kw["n_docs"] = {SMALL}
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_output_carries_every_declared_metric(trace, section):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [
            sys.executable, "-c", _SMALL_RUN,
            "--workload", spec["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", str(trace),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    declared = {m["name"]: m["unit"] for m in spec[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == declared
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        assert f"{name} = " in out.stdout


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(
        "--workload", "crawl-longpage", "--seed", "1", "--seconds", "1",
        "--trace", "0", cwd=tmp_path,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
