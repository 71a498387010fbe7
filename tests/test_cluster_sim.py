"""Multi-executor parity: the dedup pipeline on a REAL multi-executor
topology (``local-cluster[2,2,1024]`` — separate executor JVMs, netty
shuffle, package shipped as a py-files zip) must produce exactly the
pairs and clusters the threaded ``local[4]`` session produces.

This is the in-sandbox stand-in for the north rule's "run via
spark-submit --py-files on a multi-executor cluster": it exercises the
cross-process boundaries a thread-local master never touches — pandas-UDF
kernels imported from the shipped zip inside executor python workers,
cross-JVM shuffle serialization of every intermediate schema, and
broadcast of the driver-built config into foreign processes.

The local-cluster leg runs in a subprocess because one python process
cannot host two SparkContexts with different masters.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_DOCS = 800

_CHILD = """
import json, os, sys, zipfile
sys.path.insert(0, {repo!r})
from lsh_qd_spark.config import DedupConfig, RuntimeConfig
from lsh_qd_spark.plans.pipeline import DedupPipeline
from lsh_qd_spark.session import get_spark

# the package as a py-files zip, the programmatic twin of
# `zip -qr pkg.zip lsh_qd_spark` + spark-submit --py-files; package data
# (e.g. data/lang_profiles.json) ships too
with zipfile.ZipFile({zip_path!r}, "w") as z:
    for root, dirs, files in os.walk(os.path.join({repo!r}, "lsh_qd_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if not fn.endswith((".pyc", ".pyo")):
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, {repo!r}))

spark = get_spark(
    app_name="cluster_sim",
    master="local-cluster[2,2,1024]",
    runtime=RuntimeConfig(
        shuffle_partitions=8,
        extra_confs={{"spark.executor.memory": "1024m"}},
    ),
)
spark.sparkContext.addPyFile({zip_path!r})
pages = spark.read.parquet({corpus!r})
out = DedupPipeline(DedupConfig(**json.loads({cfg!r}))).run(pages)
pairs = sorted(
    (r["id_a"], r["id_b"], round(r["jaccard"], 6))
    for r in out["verified"].collect()
)
clusters = sorted(
    (r["doc_id"], r["cluster_id"]) for r in out["clusters"].collect()
)
print("RESULT " + json.dumps({{"pairs": pairs, "clusters": clusters}}))
spark.stop()
"""

CFG = dict(
    shingle_k=5,
    rows_per_band=2,
    num_bands=8,
    jaccard_threshold=0.70,
    max_bucket_size=500,
    shingle_hash="fast",
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    from lsh_qd_spark.synth import SynthConfig, generate_pages

    path = str(tmp_path_factory.mktemp("lc_corpus") / "pages")
    generate_pages(spark, SynthConfig(n_docs=N_DOCS, seed=7)).coalesce(
        4
    ).write.parquet(path)
    return path


def _local_result(spark, corpus_path):
    from lsh_qd_spark.config import DedupConfig
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    out = DedupPipeline(DedupConfig(**CFG)).run(spark.read.parquet(corpus_path))
    pairs = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in out["verified"].collect()
    )
    clusters = sorted(
        (r["doc_id"], r["cluster_id"]) for r in out["clusters"].collect()
    )
    return {"pairs": pairs, "clusters": clusters}


def test_multi_executor_parity(spark, corpus_path, tmp_path):
    expected = _local_result(spark, corpus_path)
    assert expected["pairs"], "fixture must plant duplicates"

    script = _CHILD.format(
        repo=REPO,
        corpus=corpus_path,
        cfg=json.dumps(CFG),
        zip_path=str(tmp_path / "lsh_qd_spark.zip"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        timeout=420,
        cwd=REPO,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    )
    got = json.loads(line[len("RESULT ") :])
    # JSON round-trips tuples as lists; compare canonically
    norm = lambda res: {  # noqa: E731
        k: [tuple(x) for x in v] for k, v in res.items()
    }
    assert norm(got)["pairs"] == norm(expected)["pairs"]
    assert norm(got)["clusters"] == norm(expected)["clusters"]
