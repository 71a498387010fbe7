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

# Max number of oversized-bucket KEYS collected to the driver + broadcast.
# Rows are narrow (int, short string, long ≈ 100 B) → 500k keys ≈ 50 MB
# broadcast. Above this the code falls back to a shuffle join on the keys —
# still correct, one extra wide stage — rather than silently truncating.
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


def counted_plus_stars(counted: DataFrame, star_pairs: DataFrame) -> DataFrame:
    """Union alpha-counted pairs with mega-bucket star edges under the
    consumer contract (see candidate_pairs): a pair that is BOTH counted
    (small buckets) and starred (a mega bucket in another band) keeps only
    the counted row; surviving star rows carry sentinel ``n_bands=0`` and
    ``via_star=True``. THE tail shared by every pair producer
    (candidate_pairs, ``IncrementalDedup.pairs``) so the contract cannot
    drift between them.

    ``counted`` carries (id_a, id_b, n_bands) with the alpha cut already
    applied; ``star_pairs`` is the distinct (id_a, id_b) star edges.
    ``counted`` is eagerly localCheckpointed: it feeds the union AND the
    anti-join, and column pruning canonicalizes the two subplans
    differently so exchange reuse does NOT kick in — without
    materialization the whole upstream chain executes twice (measured: 2x
    the pairs task time at 300k pages). Blocks are reference-tracked, and
    the checkpointed set is small (post-alpha pairs, not bucket rows)."""
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
    # Phase 1 (narrow shuffle): bucket sizes + representative. Keys of
    # oversized buckets are COLLECTED to the driver and broadcast —
    # by construction there are at most (total_rows / cap) of them, and
    # in practice a handful (boilerplate/empty-page clusters). This
    # replaces a full-table sort-merge join of bucket rows against
    # their sizes with two map-side broadcast joins.
    sizes = buckets.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("bucket_n"), F.min("doc_id").alias("rep")
    )
    big = sizes.where(F.col("bucket_n") > max_bucket_size).select(
        "band_idx", "band_key", "rep"
    )
    # No silent truncation. localCheckpoint FIRST, then decide:
    # the old limit(cap+1).collect() decision ran CollectLimit's
    # incremental scale-up — 3-4 sequential partial jobs (1, 4, 20, …
    # partitions) since real big-key counts sit far below the cap —
    # a fixed serial-latency tax on every pairs call. The checkpoint
    # materializes `big` in ONE full-parallel job; the count and any
    # bounded collect after it read cached blocks. Truncated lineage
    # also guarantees the upstream signature kernel runs only once
    # (count+collect on the raw plan would re-run it over the corpus).
    #
    # localCheckpoint, not persist(): downstream joins consume
    # it lazily, so a plain persist could never be unpersisted from
    # here and would sit in executor storage for the life of the
    # session. Checkpoint blocks are reference-tracked — freed when
    # the returned plan is dropped.
    #
    # Fault-tolerance trade (applies to every localCheckpoint in this
    # package): blocks are non-replicated, so losing an executor
    # mid-job fails the JOB instead of recomputing the partition from
    # lineage. That is the accepted cost of not leaking
    # session-lifetime cache: a failed run re-runs and resumes from
    # the DedupPipeline stage store (the durable checkpoint layer).
    # On clusters with aggressive dynamic allocation / preemption,
    # prefer a checkpoint_dir so stage tables, not executor blocks,
    # carry the state.
    # lazy + count: the count materializes the checkpoint blocks in
    # the same full-parallel job (one action instead of eager-then-
    # count's two; cluster.py's loop uses the same pattern)
    big_ck = big.localCheckpoint(eager=False)
    n_big = big_ck.count()
    if n_big > 0:
        if n_big <= big_key_broadcast_cap:
            # broadcast straight off the cached blocks (two map-side
            # joins, no extra wide stage)
            big_df = F.broadcast(big_ck)
            log.info(
                "candidate_pairs: %d oversized-bucket keys (broadcast)", n_big
            )
        else:
            # beyond the budget the same joins run as shuffle joins
            # against the checkpointed keys — slower but correct at
            # ANY number of mega-buckets
            big_df = big_ck
            log.warning(
                "candidate_pairs: more than %d oversized-bucket keys; "
                "using shuffle joins for the mega-bucket split",
                big_key_broadcast_cap,
            )
        small_buckets = buckets.join(
            big_df.select("band_idx", "band_key"),
            ["band_idx", "band_key"],
            "left_anti",
        )
        # STAR edges for mega-buckets: (rep, member) — O(n) per bucket,
        # keeps the component connected without O(n^2) pairs.
        large_pairs = (
            buckets.join(big_df, ["band_idx", "band_key"])
            .where(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
            .distinct()
        )
    else:
        small_buckets = buckets
        large_pairs = None
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
    if large_pairs is None:
        return counted.withColumn("via_star", F.lit(False))
    return counted_plus_stars(counted, large_pairs)
