"""Round-6 optimization internals, pinned.

Three behaviors the optimization round introduced, each with a test that
fails loudly if a refactor silently undoes it:

- ``spread_small_input`` rescues unsplittable small scans and leaves
  well-split inputs untouched (guide §2.5);
- the pipeline's persisted bucket stage carries its hash partitioning so
  candidate_pairs' aggregations add no bucket-key Exchange (guide §2.4);
- the per-row norm-precompute cosine is bit-identical to the inline
  sequential-fold cosine (guide §1.2 — a value drift here would silently
  flip oracle hashes).
"""

import logging

from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.plans.pipeline import (
    DedupPipeline,
    _parse_bytes,
    spread_small_input,
)


def test_parse_bytes_units():
    assert _parse_bytes("16m") == 16 * 1024 * 1024
    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("4194304") == 4194304


def test_spread_rescues_single_row_group_file(spark, tmp_path):
    p = str(tmp_path / "one.parquet")
    spark.range(0, 2000).select(
        F.col("id"), F.col("id").cast("string").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    out = spread_small_input(df)
    # a 1-row-group file must gain read parallelism (bytes-proportional,
    # floor 4) and keep the exact same row set
    assert out.rdd.getNumPartitions() >= 4 > df.rdd.getNumPartitions()
    assert sorted(r["id"] for r in out.collect()) == list(range(2000))


def test_spread_leaves_well_split_input_alone(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "many.parquet")
    spark.range(0, 1000).repartition(n + 2).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    # >= core-count files: returned UNCHANGED (no repartition node)
    assert spread_small_input(df) is df


def test_spread_kill_switch(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "one.parquet")
    spark.range(0, 100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_SMALL_INPUT", "0")
    assert spread_small_input(df) is df


def test_spread_logs_failed_estimate_and_keeps_input(spark, monkeypatch, caplog):
    df = spark.range(0, 10)

    def boom():
        raise RuntimeError("no file listing")

    monkeypatch.setattr(df, "inputFiles", boom)
    with caplog.at_level(logging.WARNING, logger="lsh_qd_spark.plans.pipeline"):
        assert spread_small_input(df) is df
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "no file listing" in warnings[0].getMessage()


def test_spread_leaves_in_memory_frames_alone(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    # no backing files -> conservative no-op
    assert spread_small_input(df) is df


def test_persisted_buckets_share_one_exchange(spark, tmp_path):
    """The round-6 shuffle-removal invariant (guide §2.4): with the
    buckets stage persisted hash-partitioned, the pairs plan contains NO
    additional Exchange on the bucket key — the only bucket-key exchange
    is the REPARTITION_BY_COL that builds the cache, and the only other
    exchange is the fundamental pair-count hashpartitioning(id_a, id_b).
    """
    rows = [(i, f"tok{i % 7} " * 30) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pipe = DedupPipeline(
        DedupConfig(
            shingle_k=5,
            rows_per_band=2,
            num_bands=8,
            jaccard_threshold=0.7,
            max_bucket_size=500,
            shingle_hash="fast",
        )
    )
    try:
        out = pipe.run(docs)
        plan = out["pairs"]._jdf.queryExecution().executedPlan().toString()
        # ENSURE_REQUIREMENTS exchanges on the bucket key would mean the
        # aggregations stopped reusing the cache's partitioning
        for line in plan.splitlines():
            if "Exchange hashpartitioning(band_idx" in line:
                assert "REPARTITION_BY_COL" in line, line
    finally:
        pipe.release()


def test_cosine_from_norms_bit_identical(spark):
    """Norm precompute must not change a single bit of any cosine —
    oracle hashes compare these doubles exactly."""
    import random

    from lsh_qd_spark.operators.ann import (
        cosine_expr,
        cosine_from_norms,
        dot_expr,
        norm_expr,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ] + [(50, [0.0] * 16)]  # zero-norm row: NULL via try_divide both ways
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("e").alias("ea"),
        norm_expr(F.col("e")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("e").alias("eb"),
        norm_expr(F.col("e")).alias("nb"),
    )
    both = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            cosine_expr(F.col("ea"), F.col("eb")).alias("inline"),
            cosine_from_norms(
                dot_expr(F.col("ea"), F.col("eb")),
                F.col("na"),
                F.col("nb"),
            ).alias("pre"),
        )
        .collect()
    )
    assert len(both) == 51 * 50 // 2
    for r in both:
        if r["inline"] is None:
            assert r["pre"] is None
        else:
            # exact bit equality, not approx
            assert r["inline"] == r["pre"]
