"""Banding guards: a signature shorter than num_bands*rows_per_band must
fail the job loudly — F.slice past the array end would otherwise return the
empty array for EVERY doc and silently band the whole corpus into one
bucket per out-of-range band (corpus-wide mega-buckets, inflated n_bands).
Also the prefix property of tiered banding behind the ranked_tiers query.
"""

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.operators.band import band_buckets, tiered_buckets


def test_short_signature_fails_loudly(spark):
    sigs = spark.createDataFrame(
        [(1, list(range(8))), (2, list(range(8)))],
        "doc_id long, sig array<bigint>",
    )
    # 8 hashes banded as rows_per_band=2 x num_bands=8 needs 16
    with pytest.raises(Exception, match="shorter than"):
        band_buckets(sigs, 2, 8).collect()


def test_null_sig_passes_guard_and_emits_no_rows(spark):
    """Empty docs (null sig — the reference's empty-set skip) must not trip
    the length assert and must emit zero bucket rows."""
    sigs = spark.createDataFrame(
        [(1, None), (2, list(range(8)))], "doc_id long, sig array<bigint>"
    )
    rows = band_buckets(sigs, 2, 4).collect()
    assert len(rows) == 4
    assert {r["doc_id"] for r in rows} == {2}


def test_exact_length_signature_ok(spark):
    sigs = spark.createDataFrame(
        [(7, list(range(16)))], "doc_id long, sig array<bigint>"
    )
    rows = band_buckets(sigs, 2, 8).collect()
    assert len(rows) == 8
    assert sorted(r["band_idx"] for r in rows) == list(range(8))


def test_tiered_buckets_prefix_property(spark):
    from lsh_qd_spark.functions.minhash import production_minhash_udf

    df = spark.createDataFrame(
        [(1, list(range(100, 160))), (2, list(range(100, 160)))],
        "doc_id long, shingles array<long>",
    )
    udf = production_minhash_udf(24, seed=1)  # enough for (2,12) and (1,8)
    sigs = df.select("doc_id", udf("shingles").alias("sig")).cache()
    tiers = tiered_buckets(sigs, [(2, 12), (1, 8)])
    assert set(tiers) == {(2, 12), (1, 8)}
    # identical docs collide in every band of every tier
    for (k, l), b in tiers.items():
        n_shared = (
            b.groupBy("band_idx", "band_key")
            .count()
            .where(F.col("count") >= 2)
            .count()
        )
        assert n_shared == l
    # cross-tier keys don't collide even on identical slice values
    all_rows = tiers[(2, 12)].union(tiers[(1, 8)])
    assert (
        all_rows.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("x"))
        .where(F.col("x") > 2)  # >2 would mean tiers sharing a bucket key
        .count()
        == 0
    )
