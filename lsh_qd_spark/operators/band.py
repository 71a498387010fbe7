"""LSH banding: signature → (doc_id, band_idx, band_key) bucket rows.

The reference materializes ``l`` dict-of-list hash tables
(``/root/reference/lsh-qd.py:45-47``) keyed by ``hash(tuple(signature))``
(``lsh-qd.py:62``). Here a "table" is just the set of rows sharing a
``band_idx`` in ONE exploded DataFrame; the bucket id is the band's
signature slice itself (grouping equality ⇔ signature equality — exact
semantics, no Python-hash collisions), optionally compressed to a 64-bit
xxhash64 key to keep shuffle rows narrow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shard_expr(n_shards: int) -> Column:
    """``pmod(xxhash64(band_key), n_shards)`` — the shard derivation of the
    persisted streaming bucket index
    (streaming/incremental.IncrementalDedup). Every epoch's writer and
    every later batch's shard-pruned probe must share this exact
    expression: a drifted copy would silently mis-prune the probe against
    the written partitions (partial recall, no error — the n_shards layout
    marker cannot catch it because both sides would still record the same
    count)."""
    return F.pmod(F.xxhash64("band_key"), F.lit(n_shards)).cast("int")


def band_key_expr(band_sig: Column, mode: str = "xxhash64") -> Column:
    """Bucket key from a band's signature slice.

    ``xxhash64``: 64-bit key (narrow shuffle rows — production default).
    Hashes the slice ARRAY directly — xxhash64 folds array elements
    recursively, so equal slices hash equal and the per-row string
    materialization of the ``str`` encoding is skipped (~1.5x on the
    banding expression, measured at 8M band rows). False bucket
    collisions stay at the same 2^-64 as hashing the encoded string and
    are removed by the Jaccard verify either way.
    ``str``: the comma-joined slice itself — portable to DuckDB for the
    driver oracle, and collision-free by construction.
    """
    if mode == "xxhash64":
        return F.xxhash64(band_sig)
    if mode == "str":
        return F.concat_ws(
            ",", F.transform(band_sig, lambda v: v.cast("string"))
        )
    raise ValueError(f"unknown band key mode: {mode}")


def band_buckets(
    sig_df: DataFrame,
    rows_per_band: int,
    num_bands: int,
    key_mode: str = "xxhash64",
    sig_col: str = "sig",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode a flat band-major signature into per-band bucket rows.

    Signature layout matches the reference's coefficient order: band ``i``
    occupies ``sig[i*rows_per_band : (i+1)*rows_per_band]``
    (``/root/reference/lsh-qd.py:37-38`` list-comprehension order).
    Narrow op (posexplode) — pipelined with the signature stage, no shuffle.

    NULL signatures (empty documents — the reference's empty-set skip) emit
    ZERO bucket rows: the band array is null-guarded to empty, so the
    posexplode drops them. This replaces a `WHERE sig IS NOT NULL` upstream,
    which Catalyst would push below the signature projection and thereby
    re-evaluate the (expensive) signature UDF once for the filter and once
    for the output (see fast_shingle.make_text_minhash_udf).

    A signature SHORTER than ``num_bands * rows_per_band`` fails the job
    loudly (per-row assert, codegen-cheap): F.slice past the array end
    returns the empty array for EVERY doc, which would silently band the
    whole corpus into one bucket per out-of-range band — a quadratic pair
    explosion with inflated n_bands, not an error.
    """
    need = num_bands * rows_per_band
    # assert_true throws on NULL conditions too — make the null-sig
    # (empty-doc) case explicitly pass the assert
    guard = F.assert_true(
        F.col(sig_col).isNull() | (F.size(F.col(sig_col)) >= need),
        F.concat(
            F.lit(
                f"band_buckets: signature shorter than num_bands*rows_per_band"
                f"={need} (doc_id="
            ),
            F.col(id_col).cast("string"),
            F.lit(", len="),
            F.size(F.col(sig_col)).cast("string"),
            F.lit(") — was the sig table built with a smaller num_hashes?"),
        ),
    )
    bands = F.when(
        F.col(sig_col).isNotNull() & guard.isNull(),
        F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda i: F.slice(
                F.col(sig_col), i * rows_per_band + 1, rows_per_band
            ),
        ),
    ).otherwise(F.array().cast("array<array<bigint>>"))
    exploded = sig_df.select(
        F.col(id_col), F.posexplode(bands).alias("band_idx", "band_sig")
    )
    return exploded.select(
        id_col,
        "band_idx",
        band_key_expr(F.col("band_sig"), key_mode).alias("band_key"),
    )


def tiered_buckets(
    sig_df: DataFrame,
    tiers: list[tuple[int, int]],
    key_mode: str = "xxhash64",
    sig_col: str = "sig",
    id_col: str = "doc_id",
) -> dict[tuple[int, int], DataFrame]:
    """One signature, several (rows_per_band, num_bands) bandings — the
    RankedNeighborContainer (C3, /root/reference/lsh-qd.py:356-390) without
    re-hashing: each tier reads a PREFIX of the same flat signature (the
    coefficient stream is index-stable, so tier (k, l) uses hashes
    [0, k*l)). The signature must be at least max(k*l) long.

    Tier band keys incorporate (k, l) so different tiers never collide if
    their bucket rows are unioned into one table.
    """
    out: dict[tuple[int, int], DataFrame] = {}
    for k, l in tiers:
        b = band_buckets(sig_df, k, l, key_mode, sig_col, id_col)
        if key_mode == "str":
            b = b.withColumn(
                "band_key", F.concat_ws("|", F.lit(f"{k}x{l}"), F.col("band_key"))
            )
        else:
            b = b.withColumn(
                "band_key", F.xxhash64(F.lit(f"{k}x{l}"), F.col("band_key"))
            )
        out[(k, l)] = b
    return out
