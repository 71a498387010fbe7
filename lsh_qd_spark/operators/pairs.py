"""Candidate-pair generation from LSH buckets — the skew-critical stage.

Replaces the reference's query-time bucket probes and collision-frequency
dict (``/root/reference/lsh-qd.py:110-131``) with an all-pairs dataflow:
bucket-group → within-bucket pair explosion → pair-count aggregation →
alpha filter (AlphaLSH HAVING semantics, ``lsh-qd.py:286-297``).

Scale design (SURVEY.md §4): a boilerplate mega-bucket makes naive
self-joins quadratic. We therefore:
- aggregate bucket sizes + representative first (map-side partial agg
  on ``(band_idx, band_key)``) and broadcast the few oversized keys;
- buckets ≤ ``max_bucket_size``: exact within-bucket pairs, generated
  JVM-side from the collected member array (bounded memory: members are
  only collected once the oversized buckets are split off) — no join
  explosion AQE would have to repair;
- buckets > cap (near-always exact-dup boilerplate): STAR pairs
  ``(rep, member)`` — O(n) edges that keep the component connected for
  clustering without materializing O(n²) pairs. These bypass the alpha
  filter (they are tagged) since star edges undercount band collisions.

Pair order is canonicalized ``id_a < id_b`` (the dedup analog of the
reference's self-exclusion, ``lsh-qd.py:145-148``).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Row cap of bounded_broadcast for narrow corpus-derived sets (oversized-
# bucket keys, batch keys, flagged ids/windows, eval grams, fingerprints).
# Rows are narrow (int, short string, long ≈ 100 B) → 500k rows ≈ 50 MB
# broadcast. Above this the joins fall back to shuffle joins — still
# correct, one extra wide stage — rather than silently truncating.
BIG_KEY_BROADCAST_CAP = 500_000


def _full_pairs(members: Column) -> Column:
    """All ordered pairs (m[i], m[j]), i<j, from a sorted member array —
    pure JVM nested transform, stays in codegen."""
    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def bounded_broadcast(
    df: DataFrame, cap: int | None = None
) -> tuple[DataFrame, int]:
    """THE size gate: ``(frame, n)`` — ``df`` lazily localCheckpointed,
    its row count ``n``, and a broadcast hint on the frame only when
    ``n <= cap``. Over the cap the frame comes back unhinted, so its joins
    run as shuffle joins against the checkpointed rows: slower but correct
    at any size, never a silent truncation or a driver OOM (a hint
    bypasses ``autoBroadcastJoinThreshold``). ``cap`` defaults to
    ``BIG_KEY_BROADCAST_CAP``, read at call time.

    Lazy checkpoint + count: the count materializes the blocks in ONE
    full-parallel job, and every consumer after it (the joins, any
    bounded collect) reads cached blocks — the upstream plan runs once.
    Not ``limit(cap+1).collect()``: CollectLimit's incremental scale-up
    runs 3-4 sequential partial jobs.

    localCheckpoint, not persist(): downstream joins consume the frame
    lazily, so a plain persist could never be unpersisted here and would
    sit in executor storage for the life of the session; checkpoint blocks
    are reference-tracked and freed with the plan. Fault-tolerance trade
    (applies to every localCheckpoint in this package): blocks are
    non-replicated, so losing an executor mid-job fails the JOB instead of
    recomputing from lineage — a failed run re-runs and resumes from the
    DedupPipeline stage store. On clusters with aggressive dynamic
    allocation / preemption, prefer a checkpoint_dir so stage tables, not
    executor blocks, carry the state."""
    cap = BIG_KEY_BROADCAST_CAP if cap is None else cap
    df = df.localCheckpoint(eager=False)
    n = df.count()
    if n <= cap:
        return F.broadcast(df), n
    log.warning("%d rows over the broadcast cap %d: shuffle joins", n, cap)
    return df, n


def split_oversized_buckets(
    buckets: DataFrame,
    keys: list[str],
    rep: Column,
    max_bucket_size: int,
    cap: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``(small_buckets, big)``: the mega-bucket split shared by the batch
    (candidate_pairs) and streaming (IncrementalDedup) pair producers.

    One narrow aggregation over ``keys`` computes each bucket's size and
    the caller's representative aggregate ``rep``; the oversized buckets'
    ``(keys…, rep)`` rows go through ``bounded_broadcast`` (by
    construction at most total_rows / max_bucket_size of them, in practice
    a handful of boilerplate clusters). ``small_buckets`` is ``buckets``
    minus every oversized bucket's rows (an anti-join on ``keys``); ``big``
    is None — and ``small_buckets`` is ``buckets`` itself — when no bucket
    is oversized. Callers build their own star edges from ``big``."""
    big, n_big = bounded_broadcast(
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("bucket_n"), rep.alias("rep"))
        .where(F.col("bucket_n") > max_bucket_size)
        .select(*keys, "rep"),
        cap,
    )
    if not n_big:
        return buckets, None
    log.info("%d oversized buckets split into star edges", n_big)
    return buckets.join(big.select(*keys), keys, "left_anti"), big


def counted_plus_stars(
    counted: DataFrame, star_pairs: DataFrame | None
) -> DataFrame:
    """Union alpha-counted pairs with mega-bucket star edges under the
    consumer contract (see candidate_pairs): a pair that is BOTH counted
    (small buckets) and starred (a mega bucket in another band) keeps only
    the counted row; surviving star rows carry sentinel ``n_bands=0`` and
    ``via_star=True``. THE tail shared by every pair producer
    (candidate_pairs, ``IncrementalDedup``'s per-epoch hits and its
    ``pairs``) so the contract cannot drift between them.

    ``counted`` carries (id_a, id_b, n_bands) with the alpha cut already
    applied; ``star_pairs`` is the distinct (id_a, id_b) star edges, or
    None when there are none.
    ``counted`` is eagerly localCheckpointed: it feeds the union AND the
    anti-join, and column pruning canonicalizes the two subplans
    differently so exchange reuse does NOT kick in — without
    materialization the whole upstream chain executes twice (measured: 2x
    the pairs task time at 300k pages). Blocks are reference-tracked, and
    the checkpointed set is small (post-alpha pairs, not bucket rows)."""
    if star_pairs is None:
        return counted.withColumn("via_star", F.lit(False))
    counted = counted.withColumn("via_star", F.lit(False)).localCheckpoint(
        eager=True
    )
    stars = (
        star_pairs.select("id_a", "id_b")
        .join(counted.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
        .select(
            "id_a",
            "id_b",
            F.lit(0).cast("long").alias("n_bands"),
            F.lit(True).alias("via_star"),
        )
    )
    return counted.unionByName(stars)


def candidate_pairs(
    buckets: DataFrame,
    alpha: int = 1,
    max_bucket_size: int = 500,
    big_key_broadcast_cap: int = BIG_KEY_BROADCAST_CAP,
) -> DataFrame:
    """(id_a, id_b, n_bands, via_star) candidate pairs.

    ``n_bands`` = number of bands in which the pair shares a bucket (the
    reference's collision frequency, ``lsh-qd.py:118-131``); pairs must meet
    ``n_bands >= alpha`` (AlphaLSH filter, ``lsh-qd.py:295``). Star pairs
    from oversized buckets are kept regardless of alpha and flagged.

    CONSUMER CONTRACT: star rows carry the sentinel ``n_bands = 0`` (a star
    edge's true band count is never aggregated — that is the point of the
    O(n) star shortcut). Any downstream cut on ``n_bands`` must therefore
    be ``(n_bands >= a) | via_star``, or it silently drops exactly the
    mega-bucket edges the star mechanism exists to preserve
    (``query.alpha_tiers`` does this).
    """
    # Phase 1 (narrow shuffle): bucket sizes + representative; the few
    # oversized keys are broadcast into two map-side joins. This replaces
    # a full-table sort-merge join of bucket rows against their sizes.
    keys = ["band_idx", "band_key"]
    small_buckets, big = split_oversized_buckets(
        buckets, keys, F.min("doc_id"), max_bucket_size, big_key_broadcast_cap
    )
    large_pairs = None
    if big is not None:
        # STAR edges for mega-buckets: (rep, member) — O(n) per bucket,
        # keeps the component connected without O(n^2) pairs.
        large_pairs = (
            buckets.join(big, keys)
            .where(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
            .distinct()
        )
    # Phase 2 (one wide shuffle): bounded collect per bucket + JVM pair
    # explosion. Singleton buckets are dropped before expansion.
    # collect_set, not collect_list: duplicate (band, key, doc_id) rows
    # (dirty input with repeated doc_ids) would otherwise emit (d, d)
    # self-pairs and double-count n_bands
    members = (
        small_buckets.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("members"))
        .where(F.size("members") >= 2)
    )
    small_pairs = members.select(
        F.explode(_full_pairs(F.col("members"))).alias("pr")
    ).select(F.col("pr.id_a"), F.col("pr.id_b"))
    counted = (
        small_pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
        .where(F.col("n_bands") >= alpha)
    )
    return counted_plus_stars(counted, large_pairs)
