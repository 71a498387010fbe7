"""Checkpoint/resume + per-partition lineage (north rule: "resumable from
checkpointed signature/bucket/cluster stages, emitting per-partition lineage
and metrics").

Covers plans/pipeline.py StageStore:
- a checkpointed run writes one manifest per stage with config hash, row
  count and per-partition row lineage;
- a rerun with the same config reuses every completed stage (manifests
  untouched) and returns identical results;
- a config change invalidates the manifests and recomputes.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.plans.pipeline import DedupPipeline
from lsh_qd_spark.synth import SynthConfig, generate_pages

CFG = dict(
    shingle_k=3,
    rows_per_band=2,
    num_bands=8,
    jaccard_threshold=0.7,
    shingle_hash="fast",
)
STAGES = ["signatures", "buckets", "pairs", "verified", "clusters"]


@pytest.fixture(scope="module")
def docs(spark):
    return generate_pages(spark, SynthConfig(n_docs=300, seed=7)).cache()


def _manifests(root):
    out = {}
    for s in STAGES:
        p = os.path.join(root, f"{s}.manifest.json")
        if os.path.exists(p):
            with open(p) as f:
                out[s] = (json.load(f), os.path.getmtime(p))
    return out


def _clusters_set(result):
    return {
        (r["doc_id"], r["cluster_id"])
        for r in result["clusters"].collect()
    }


def test_checkpoint_writes_manifests_with_lineage(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt")
    pipe = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    result = pipe.run(docs)
    baseline = _clusters_set(result)

    manifests = _manifests(root)
    assert sorted(manifests) == sorted(STAGES)
    for stage, (m, _) in manifests.items():
        assert m["config_hash"] == pipe.config.config_hash()
        assert m["rows"] == sum(m["partition_rows"].values()), stage
        assert m["partitions"] == len(m["partition_rows"]), stage
        assert stage in pipe.metrics
    # a couple of synthetic pages are too short to shingle (empty-set skip)
    assert 250 <= manifests["signatures"][0]["rows"] <= 300

    # rerun with the same config: every stage loads from the store — no
    # manifest is rewritten, results identical
    mtimes_before = {s: t for s, (_, t) in manifests.items()}
    pipe2 = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    result2 = pipe2.run(docs)
    assert _clusters_set(result2) == baseline
    assert pipe2.metrics == {}  # nothing recomputed
    for s, (_, t) in _manifests(root).items():
        assert t == mtimes_before[s], f"{s} manifest rewritten on resume"


def test_partial_resume_recomputes_only_missing_stages(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt")
    pipe = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    baseline = _clusters_set(pipe.run(docs))

    # wipe the two final stage manifests: resume must recompute exactly those
    for s in ["verified", "clusters"]:
        os.remove(os.path.join(root, f"{s}.manifest.json"))
    before = _manifests(root)
    pipe2 = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    result2 = pipe2.run(docs)
    assert _clusters_set(result2) == baseline
    assert sorted(pipe2.metrics) == ["clusters", "verified"]
    after = _manifests(root)
    for s in ["signatures", "buckets", "pairs"]:
        assert after[s][1] == before[s][1], f"{s} recomputed despite manifest"


def test_config_change_invalidates(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt")
    DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root).run(docs)

    changed = dict(CFG, jaccard_threshold=0.9)
    pipe2 = DedupPipeline(DedupConfig(**changed), checkpoint_dir=root)
    pipe2.run(docs)
    assert sorted(pipe2.metrics) == sorted(STAGES)  # all recomputed
    for s, (m, _) in _manifests(root).items():
        assert m["config_hash"] == pipe2.config.config_hash(), s


def test_run_releases_previous_persists(spark, docs):
    """Without a checkpoint_dir, run() persists multi-consumer stages; a
    second run() (or release()) must unpersist the previous run's handles —
    otherwise every invocation stacks corpus-scale InMemoryRelation blocks
    in executor storage for the life of the session."""
    pipe = DedupPipeline(DedupConfig(**CFG))
    out1 = pipe.run(docs)
    out1["clusters"].count()  # materialize the caches
    first = list(pipe._persisted)
    assert first, "multi-consumer stages should have been persisted"
    assert all(df.storageLevel.useMemory for df in first)
    pipe.release()
    assert not pipe._persisted
    assert all(not df.storageLevel.useMemory for df in first)
    # a fresh run() re-persists (run() itself calls release() first; with
    # identical inputs the CacheManager may dedupe to the same entries —
    # the guarantee is no UNRELEASABLE accumulation, which the tracking
    # list + the release() semantics above pin)
    out2 = pipe.run(docs)
    assert pipe._persisted
    out2["clusters"].count()
    pipe.release()
    assert not pipe._persisted


def test_checkpoint_resume_over_uri_root(spark, docs, tmp_path):
    """A scheme-qualified checkpoint root (file:// here; hdfs:///s3a:// in
    production) must resume: manifests go through the URI-safe io helpers,
    not driver-local os.path (which would write them to a junk local
    './hdfs:/...' dir and silently re-run every stage on rerun)."""
    root = f"file://{tmp_path}/ckpt"
    pipe = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    out1 = pipe.run(docs)
    n1 = out1["clusters"].count()
    assert sorted(pipe.metrics) == sorted(STAGES)  # all stages computed
    pipe2 = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    out2 = pipe2.run(docs)
    assert pipe2.metrics == {}, "URI-root manifests were not found on rerun"
    assert out2["clusters"].count() == n1


def test_input_token_change_invalidates_stages(spark, docs, tmp_path):
    """Stage manifests bind to the INPUT identity, not only the config:
    resuming a checkpoint_dir against a different input (CLI: different
    --input or prep flags → different input_token) must rebuild, not
    silently return the old corpus's stages."""
    root = str(tmp_path / "ck")
    pipe = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root)
    out1 = pipe.run(docs, input_token="corpusA")
    n1 = out1["clusters"].count()
    n_sig1 = out1["signatures"].count()  # before corpusB overwrites files
    before = _manifests(root)

    # same token: every stage resumes (manifests untouched)
    pipe.run(docs, input_token="corpusA")
    assert {s: m for s, (m, _) in _manifests(root).items()} == {
        s: m for s, (m, _) in before.items()
    }
    for s, (_, mtime) in _manifests(root).items():
        assert mtime == before[s][1], f"{s} manifest rewritten on resume"

    # different corpus under the same config: stages must rebuild
    other = generate_pages(spark, SynthConfig(n_docs=120, seed=99)).cache()
    out2 = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root).run(
        other, input_token="corpusB"
    )
    assert out2["signatures"].count() != n_sig1
    # and a token-less library caller never matches a token-carrying
    # manifest (no silent cross-identity reuse in either direction)
    out3 = DedupPipeline(DedupConfig(**CFG), checkpoint_dir=root).run(docs)
    assert out3["clusters"].count() == n1


def test_include_singletons_in_clusters_identity(spark, docs, tmp_path):
    """include_singletons changes the clusters stage CONTENT but is not a
    DedupConfig field — a resumed run with the opposite setting must
    rebuild the clusters stage, not return the cached one."""
    root = str(tmp_path / "ck")
    cfg = DedupConfig(**CFG)
    no_single = DedupPipeline(cfg, checkpoint_dir=root).run(
        docs, include_singletons=False, input_token="t"
    )["clusters"].count()
    with_single = DedupPipeline(cfg, checkpoint_dir=root).run(
        docs, include_singletons=True, input_token="t"
    )["clusters"].count()
    n_docs_with_sig = docs.where(F.length("text") > 0).count()
    assert with_single > no_single
    assert with_single >= n_docs_with_sig * 0.9
    # flipping back also rebuilds (identity comparison, not a ratchet)
    again = DedupPipeline(cfg, checkpoint_dir=root).run(
        docs, include_singletons=False, input_token="t"
    )["clusters"].count()
    assert again == no_single


@pytest.mark.parametrize("shingle_hash", ["poly", "xxhash64"])
def test_run_rejects_non_fast_shingle_hash(docs, shingle_hash):
    """run() has one path, the fused kernel; any other shingle hash is
    refused up front with a pointer to the stage methods."""
    pipe = DedupPipeline(DedupConfig(**{**CFG, "shingle_hash": shingle_hash}))
    with pytest.raises(ValueError, match=r"shingle\(\), signatures\(\)"):
        pipe.run(docs)
