"""Incremental streaming dedup: batch-1 pages indexed, batch-2 near-dups
detected against the accumulated index."""

import os

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.streaming.incremental import IncrementalDedup
from lsh_qd_spark.synth import SynthConfig, generate_pages, truth_pairs


def test_incremental_dedup(spark, tmp_path):
    work = str(tmp_path / "work")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)

    cfg = SynthConfig(n_docs=300, seed=17)
    pages = generate_pages(spark, cfg).cache()
    dstart = cfg.dup_start

    # batch 1: everything except the last member of each dup cluster
    first = pages.where(
        (F.col("doc_id") < dstart) | ((F.col("doc_id") - dstart) % 3 != 2)
    )
    # batch 2: the held-out cluster members (guaranteed near-dups of batch 1)
    second = pages.where(
        (F.col("doc_id") >= dstart) & ((F.col("doc_id") - dstart) % 3 == 2)
    )
    first.coalesce(1).write.parquet(src + "/f1")
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=16, alpha=1), work
    )

    q = inc.start(spark, src + "/*")
    q.awaitTermination(120)

    # index built, no hits yet (single batch)
    assert os.path.isdir(inc.index_dir)

    second.coalesce(1).write.parquet(src + "/f2")
    q2 = inc.start(spark, src + "/*")
    q2.awaitTermination(120)

    hits = inc.hits(spark)
    held_out = [r["doc_id"] for r in second.select("doc_id").collect()]
    hit_new_docs = {r["new_doc"] for r in hits.collect()}
    # every held-out near-dup member (tier >= 0.6 shingle overlap) should
    # collide with its cluster siblings already in the index
    missing = set(held_out) - hit_new_docs
    recall = 1 - len(missing) / len(held_out)
    assert recall >= 0.95, f"missing {sorted(missing)[:5]}"
    # hits reference genuine cluster siblings
    for r in hits.limit(20).collect():
        assert (r["new_doc"] - dstart) // 3 == (r["existing_doc"] - dstart) // 3


def test_intra_batch_duplicates_detected(spark, tmp_path):
    """Two near-dups arriving in the SAME micro-batch must pair up
    (round-1 verdict: permanent recall gap when probing only the index)."""
    work = str(tmp_path / "work")
    cfg = SynthConfig(n_docs=120, seed=23)
    pages = generate_pages(spark, cfg).cache()
    # alpha=2: streaming hits are LSH candidates (no Jaccard verify against
    # the index), so require >=2 band collisions to suppress random
    # single-band noise; planted tiers (>=0.6) pass at p≈0.995/pair.
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=16, alpha=2), work
    )
    # single batch containing whole dup clusters — no pre-existing index
    inc.process_batch(pages, epoch_id=0)
    hits = inc.hits(spark).collect()
    assert hits, "intra-batch duplicates were not emitted"
    truth = {
        (r["id_a"], r["id_b"]) for r in truth_pairs(spark, cfg).collect()
    }
    got = set()
    for r in hits:
        assert r["existing_doc"] < r["new_doc"]  # canonical order
        got.add((r["existing_doc"], r["new_doc"]))
    # precision: every hit is a genuine planted pair (incl. boiler cluster)
    assert got <= truth, f"false pairs: {sorted(got - truth)[:5]}"
    # recall: nearly all planted pairs recovered within the single batch
    assert len(got & truth) >= 0.95 * len(truth)


def test_replayed_epoch_does_not_double_append(spark, tmp_path):
    """Structured Streaming replays a failed epoch: both sinks must be
    idempotent (dynamic partition overwrite keyed by epoch)."""
    work = str(tmp_path / "work")
    cfg = SynthConfig(n_docs=120, seed=29)
    pages = generate_pages(spark, cfg).cache()
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=16, alpha=1), work
    )
    inc.process_batch(pages, epoch_id=0)
    first_hits = sorted(
        (r["new_doc"], r["existing_doc"]) for r in inc.hits(spark).collect()
    )
    first_index = spark.read.parquet(inc.index_dir).count()
    inc.process_batch(pages, epoch_id=0)  # simulated replay
    replay_hits = sorted(
        (r["new_doc"], r["existing_doc"]) for r in inc.hits(spark).collect()
    )
    assert replay_hits == first_hits
    assert spark.read.parquet(inc.index_dir).count() == first_index


def test_many_shards_config(spark, tmp_path):
    """n_shards > 64: the per-batch shard-collect stays bounded by the
    configured shard count and pruning still finds every cross-batch dup
    (pins the loud-bound contract documented at the collect site)."""
    work = str(tmp_path / "work")
    cfg = SynthConfig(n_docs=120, seed=43)
    pages = generate_pages(spark, cfg).cache()
    dstart = cfg.dup_start
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=16, alpha=2), work, n_shards=256
    )
    first = pages.where(
        (F.col("doc_id") < dstart) | ((F.col("doc_id") - dstart) % 3 != 2)
    )
    second = pages.where(
        (F.col("doc_id") >= dstart) & ((F.col("doc_id") - dstart) % 3 == 2)
    )
    inc.process_batch(first, epoch_id=0)
    inc.process_batch(second, epoch_id=1)
    held_out = [r["doc_id"] for r in second.select("doc_id").collect()]
    hit_new_docs = {
        r["new_doc"]
        for r in inc.hits(spark).where(F.col("epoch") == 1).collect()
    }
    missing = set(held_out) - hit_new_docs
    assert len(missing) <= 0.05 * len(held_out), f"missing {sorted(missing)}"
    # shard values really span the configured modulus
    shards = {
        r["shard"]
        for r in spark.read.parquet(inc.index_dir)
        .select("shard")
        .distinct()
        .collect()
    }
    assert max(shards) >= 64 and len(shards) <= 256


def test_per_epoch_metrics_lineage(spark, tmp_path):
    """Each processed epoch writes a metrics file with per-shard lineage;
    a replayed epoch overwrites its own file idempotently (north rule:
    per-partition lineage + metrics, streaming half)."""
    import json

    work = str(tmp_path / "work")
    cfg = SynthConfig(n_docs=120, seed=61)
    pages = generate_pages(spark, cfg).cache()
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=16, alpha=1), work
    )
    inc.process_batch(pages, epoch_id=0)
    path = os.path.join(inc.metrics_dir, "epoch_0.json")
    with open(path) as f:
        m = json.load(f)
    assert m["epoch"] == 0
    assert m["bucket_rows"] == sum(m["shard_rows"].values())
    # every non-empty doc emits num_bands bucket rows
    assert m["bucket_rows"] > 0 and m["bucket_rows"] % 16 == 0
    assert m["hits"] == inc.hits(spark).count()
    inc.process_batch(pages, epoch_id=0)  # replay
    with open(path) as f:
        assert json.load(f) == m


def test_recrawled_doc_does_not_double_count_bands(spark, tmp_path):
    """A doc present in BOTH the accumulated index and the current batch
    (re-crawl of the same doc_id) contributes its buckets to the build
    side twice; n_bands must still count each band once, or sub-alpha
    pairs leak through the alpha filter."""
    work = str(tmp_path / "work")
    cfg = DedupConfig(rows_per_band=2, num_bands=16, alpha=1)
    inc = IncrementalDedup(cfg, work)
    text = "the quick brown fox jumps over the lazy dog again and again"
    b0 = spark.createDataFrame([(0, text)], "doc_id long, text string")
    inc.process_batch(b0, 0)
    # epoch 1: doc 0 re-crawled unchanged + an exact dup with a new id
    b1 = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    inc.process_batch(b1, 1)
    hits = {
        (r["new_doc"], r["existing_doc"]): r["n_bands"]
        for r in inc.hits(spark).collect()
    }
    # exact dup collides in every band — but never MORE than num_bands
    assert hits, "expected the exact duplicate to be detected"
    for pair, n_bands in hits.items():
        assert n_bands <= cfg.num_bands, f"{pair}: n_bands={n_bands}"
    assert max(hits.values()) == cfg.num_bands


def test_shard_layout_mismatch_fails_loudly(spark, tmp_path):
    """Resuming a stream over an index persisted with a different n_shards
    would silently join against the wrong partitions, and one persisted by
    a different kernel/config would probe new band keys against old ones
    (zero recall either way); process_batch must raise instead."""
    work = str(tmp_path / "work")
    cfg = DedupConfig(rows_per_band=2, num_bands=8, alpha=1)
    b = spark.createDataFrame([(0, "some page text here")], "doc_id long, text string")
    IncrementalDedup(cfg, work, n_shards=64).process_batch(b, 0)
    with pytest.raises(RuntimeError, match="n_shards"):
        IncrementalDedup(cfg, work, n_shards=128).process_batch(b, 1)
    other = DedupConfig(rows_per_band=4, num_bands=4)
    with pytest.raises(RuntimeError, match="config/kernel hash"):
        IncrementalDedup(other, work, n_shards=64).process_batch(b, 1)


def test_mega_bucket_emits_stars_not_quadratic(spark, tmp_path):
    """Boilerplate cluster far over max_bucket_size: the per-epoch join
    must emit O(n) star edges (rep preferred from the INDEXED side so the
    component stays connected across epochs), never O(n²) pairs."""
    from lsh_qd_spark.operators.cluster import connected_components

    work = str(tmp_path / "work")
    n = 400
    docs = spark.createDataFrame(
        [(i, "the same boilerplate navigation chrome text " * 5)
         for i in range(n)],
        "doc_id long, text string",
    )
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8, alpha=1, max_bucket_size=50),
        work,
    )
    inc.process_batch(docs.where(F.col("doc_id") < 200), epoch_id=0)
    inc.process_batch(docs.where(F.col("doc_id") >= 200), epoch_id=1)
    hits = inc.hits(spark)
    total = hits.count()
    # full pairs would be C(400,2) = 79,800; stars are one edge per new doc
    assert total < 3 * n, f"quadratic explosion: {total} hit rows"
    assert hits.where(F.col("via_star")).count() > 0
    # the star edges keep the WHOLE cluster connected across both epochs
    pairs = inc.pairs(spark)
    labels = connected_components(
        pairs.select("id_a", "id_b"), driver_edge_threshold=0
    )
    comp = {r["cluster_id"] for r in labels.collect()}
    assert comp == {0} and labels.count() == n


def test_stream_star_rep_prefers_indexed_doc(spark, tmp_path):
    """When a later epoch brings the bucket's global minimum, the star
    representative must still be the smallest INDEXED member: epoch 0
    indexes docs 200-399 of one boilerplate text, epoch 1 brings docs
    0-199. A plain min() rep (doc 0) would star the new docs onto each
    other and leave them disconnected from the indexed 200-399."""
    from lsh_qd_spark.operators.cluster import connected_components

    work = str(tmp_path / "work")
    docs = spark.createDataFrame(
        [(i, "the same boilerplate navigation chrome text " * 5)
         for i in range(400)],
        "doc_id long, text string",
    )
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8, alpha=1, max_bucket_size=50),
        work,
    )
    inc.process_batch(docs.where(F.col("doc_id") >= 200), epoch_id=0)
    inc.process_batch(docs.where(F.col("doc_id") < 200), epoch_id=1)
    labels = connected_components(
        inc.pairs(spark).select("id_a", "id_b"), driver_edge_threshold=0
    )
    comp = [r["cluster_id"] for r in labels.collect()]
    assert len(comp) == 400 and set(comp) == {0}


def test_start_forwards_reader_options(spark, tmp_path):
    """Extra read options must reach the stream reader: a pathGlobFilter
    that matches nothing processes zero files (silently dropped options
    used to read everything)."""
    src = str(tmp_path / "src")
    pages = generate_pages(spark, SynthConfig(n_docs=60, seed=5))
    pages.coalesce(1).write.parquet(src + "/f1")
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8), str(tmp_path / "w1")
    )
    q = inc.start(spark, src + "/*", pathGlobFilter="*.nomatch")
    q.awaitTermination(120)
    assert not inc._index_exists(), "filtered-out files were processed"
    inc2 = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8), str(tmp_path / "w2")
    )
    q2 = inc2.start(spark, src + "/*")
    q2.awaitTermination(120)
    assert inc2._index_exists()


def test_mixed_via_star_schema_keeps_legacy_hits(spark, tmp_path):
    """A hits sink with pre-via_star epochs continued by current code must
    surface the legacy rows with via_star=False — without mergeSchema +
    coalesce, legacy rows decode via_star as NULL and the
    where(~via_star)/where(via_star) split in pairs() drops every
    pre-upgrade duplicate with no error."""
    work = str(tmp_path / "work")
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8, alpha=1), work
    )
    # legacy epoch: written before the mega-bucket cap (no via_star col)
    spark.createDataFrame(
        [(10, 3, 5)], "new_doc long, existing_doc long, n_bands long"
    ).withColumn("epoch", F.lit(0)).write.partitionBy("epoch").parquet(
        inc.hits_dir
    )
    # current epoch: full schema
    spark.createDataFrame(
        [(20, 4, 0, True)],
        "new_doc long, existing_doc long, n_bands long, via_star boolean",
    ).withColumn("epoch", F.lit(1)).write.mode("append").partitionBy(
        "epoch"
    ).parquet(inc.hits_dir)

    rows = {r["new_doc"]: r for r in inc.hits(spark).collect()}
    assert set(rows) == {10, 20}
    assert rows[10]["via_star"] is False  # legacy row: coalesced, not NULL
    assert rows[20]["via_star"] is True
    # the split in pairs() must see BOTH rows (NULL would vanish from both)
    pairs = {(r["id_a"], r["id_b"]): r for r in inc.pairs(spark).collect()}
    assert (3, 10) in pairs and pairs[(3, 10)]["n_bands"] == 5
    assert (4, 20) in pairs and pairs[(4, 20)]["via_star"] is True


def test_compat_marker_written_before_data(spark, tmp_path):
    """The compat marker lands before the first index write: a crash
    between the two (spot preemption) must not brick resume — the replay
    would otherwise hit require_marker on data this kernel just wrote."""
    import json
    from unittest import mock

    from lsh_qd_spark.io import write_stage as real_write_stage

    work = str(tmp_path / "work")
    cfg = DedupConfig(rows_per_band=2, num_bands=8, alpha=1)
    inc = IncrementalDedup(cfg, work)
    b = spark.createDataFrame(
        [(0, "some page text here")], "doc_id long, text string"
    )

    calls = {"n": 0}

    def crash_on_index_write(df, ref, mode, partition_by=None):
        if ref == inc.index_dir:
            raise RuntimeError("preempted mid-write")
        return real_write_stage(df, ref, mode, partition_by)

    with mock.patch(
        "lsh_qd_spark.streaming.incremental.write_stage",
        side_effect=crash_on_index_write,
    ):
        with pytest.raises(RuntimeError, match="preempted"):
            inc.process_batch(b, 0)
    # marker exists despite the crash -> replay resumes cleanly
    marker = os.path.join(inc.index_dir, "_compat_meta.json")
    assert os.path.exists(marker)
    assert json.load(open(marker))["config_hash"] == cfg.key_hash()
    inc.process_batch(b, 0)  # replay: must not raise


def test_metrics_zero_hit_epoch_and_bounded_read(spark, tmp_path):
    """Metrics count only the freshly written epoch partition (not a
    whole-sink mergeSchema read that grows with stream age). A
    zero-duplicate batch writes no hits partition at all — the metrics
    path must record hits=0, not crash on the missing directory."""
    import json

    work = str(tmp_path / "work")
    pages = spark.createDataFrame(
        [
            (0, "alpha bravo charlie delta echo foxtrot golf hotel"),
            (1, "india juliet kilo lima mike november oscar papa"),
            (2, "quebec romeo sierra tango uniform victor whiskey xray"),
        ],
        "doc_id long, text string",
    )
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=4, num_bands=4, alpha=4), work
    )
    inc.process_batch(pages, epoch_id=0)
    with open(os.path.join(inc.metrics_dir, "epoch_0.json")) as f:
        m = json.load(f)
    assert m["hits"] == 0
    assert inc.hits(spark).count() == 0


def test_index_epoch_has_one_file_per_shard(spark, tmp_path):
    """The bucket index is shuffled on shard before its write: a batch read
    as several partitions still leaves ONE parquet file per (epoch, shard)
    directory, not one per task for every shard that task touches."""
    work = str(tmp_path / "work")
    pages = generate_pages(spark, SynthConfig(n_docs=300, seed=29)).repartition(4)
    assert pages.rdd.getNumPartitions() >= 2
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=16, alpha=1), work
    )
    inc.process_batch(pages, epoch_id=0)
    epoch_dir = os.path.join(inc.index_dir, "epoch=0")
    shard_dirs = [d for d in os.listdir(epoch_dir) if d.startswith("shard=")]
    assert len(shard_dirs) > 1
    for d in shard_dirs:
        files = [
            f
            for f in os.listdir(os.path.join(epoch_dir, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
