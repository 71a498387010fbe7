"""Candidate-pair verification: exact Jaccard over shingle sets.

The reference *declares* a Jaccard-threshold filter but never implements it
(docstring at ``/root/reference/lsh-qd.py:96-101``; similarity is only
recomputed post-hoc in its eval at ``lsh-qd.py:753,789``). Here it is a
first-class stage per the north rule: join candidate pairs back to their
shingle arrays and keep pairs with Jaccard ≥ threshold.

``verify_pairs_text`` (the production path ``DedupPipeline.run`` takes)
fetches candidate text and computes shingle sets + Jaccard in one batched
NumPy kernel; ``verify_pairs`` (the staged shingle-array path) stays
JVM-side with ``array_intersect``/``array_union`` on the (distinct) arrays.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lsh_qd_spark.config import VERIFY_BROADCAST_IDS_CAP
from lsh_qd_spark.operators.pairs import bounded_broadcast

logger = logging.getLogger(__name__)

# byte budget for broadcasting candidate texts into both pair joins
VERIFY_BROADCAST_BYTES_CAP = 512 * 1024 * 1024


def jaccard_expr(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays (1 - the scipy
    jaccard *distance* the reference imports at lsh-qd.py:12)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _auto_fetch(
    ids: DataFrame,
    t: DataFrame,
    broadcast_ids_cap: int,
    broadcast_bytes_cap: int,
) -> tuple[str, DataFrame | None]:
    """Pick the candidate-text fetch strategy for ``fetch='auto'``.

    Returns ``(mode, candidate_texts)`` where mode is one of

    - ``("shuffle", None)`` — the candidate-id COUNT already exceeds the
      row cap: candidates are corpus-scale, never materialize them; the
      caller joins pairs against the full docs table (sort-merge, and
      shuffle-free on the docs side when the corpus is bucketed by id).
    - ``("broadcast_ids", tchk)`` — candidate texts (semi-join against the
      broadcast id set, eager localCheckpoint) fit the byte cap: broadcast
      them into both pair joins. The corpus is scanned exactly ONCE.
    - ``("candidate_shuffle", tchk)`` — candidates fit the row cap but
      their texts exceed the byte cap: join the pairs against the
      CHECKPOINTED candidate texts with plain equi-joins. Only candidate
      texts move through the shuffle — strictly less IO than the full
      ``shuffle`` mode, whose two joins each rescan and reshuffle the
      whole corpus.

    The byte gate is EXACT — ``sum(octet_length(text))`` over the checkpointed
    candidate rows (one tiny candidate-sized job), not a sampled estimate;
    a head-of-corpus sample would be wrong twice over (parquet
    limit-pushdown reads whichever file lists first, and candidates can
    average 100x the corpus mean length). Null texts count as 0 bytes
    (they reach the kernel as empty shingle sets).

    Worst-case materialization is bounded by the ROW cap before anything
    runs: at most ``broadcast_ids_cap`` texts land in (distributed,
    reference-tracked) executor storage — comparable bytes to what the
    candidate_shuffle joins move anyway, and never driver-resident."""
    # gate FIRST: ``ids`` (a union+distinct shuffle over the pairs table)
    # has two consumers here — the count gate and the broadcast semi-join
    # build — and the gate's checkpoint runs that wide stage once. In the
    # over-cap (shuffle-mode) outcome the materialized id blocks go unused,
    # but they are reference-tracked (freed with the plan) and ids-only
    # rows are tiny relative to the two corpus scans that mode is about to
    # pay.
    ids, n_ids = bounded_broadcast(ids, broadcast_ids_cap)
    if n_ids > broadcast_ids_cap:
        # the one mode that rescans + reshuffles the whole corpus twice —
        # loud, so a run that fell off the candidate-bounded path is
        # visible without pulling physical plans from the REST API
        logger.warning(
            "verify fetch=shuffle: %d candidate ids > cap %d; "
            "pairs will join against the FULL corpus (2 scans + 2 "
            "corpus shuffles). If candidates are a small fraction of "
            "the corpus, raise verify_broadcast_ids_cap.",
            n_ids,
            broadcast_ids_cap,
        )
        return "shuffle", None
    # localCheckpoint: BOTH pair joins (and the byte gate) consume this —
    # without it the corpus scan + semi-join would re-run per consumer.
    # Blocks are reference-tracked (freed with the plan). Lazy: the byte
    # aggregate right below materializes it in the same job.
    tchk = t.join(ids, "_vid", "left_semi").localCheckpoint(eager=False)
    # octet_length, not length: the cap guards executor MEMORY, and on
    # non-ASCII corpora (CJK ~3 UTF-8 bytes/char) character count would
    # undercount the broadcast payload up to ~4x
    n_bytes = (
        tchk.agg(
            F.sum(F.coalesce(F.octet_length("_vtx"), F.lit(0))).alias("_b")
        ).first()["_b"]
        or 0
    )
    mode = (
        "broadcast_ids"
        if n_bytes + 24 * n_ids <= broadcast_bytes_cap
        else "candidate_shuffle"
    )
    logger.info(
        "verify fetch=%s: %d candidate ids, %d text bytes (byte cap %d)",
        mode,
        n_ids,
        n_bytes,
        broadcast_bytes_cap,
    )
    return mode, tchk


def _pairs_with_texts(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    fetch: str = "auto",
    broadcast_ids_cap: int = VERIFY_BROADCAST_IDS_CAP,
    broadcast_bytes_cap: int = VERIFY_BROADCAST_BYTES_CAP,
) -> DataFrame:
    """``pairs`` plus both sides' text as ``_tx_a``/``_tx_b`` — THE
    candidate-text fetch, shared by the Jaccard verify and
    ``suffix.exact_overlap``. ``verify_pairs_text`` documents the
    ``fetch`` modes; ``_auto_fetch`` the gates behind ``"auto"``."""
    if fetch not in ("auto", "broadcast_ids", "shuffle"):
        raise ValueError(f"unknown fetch mode: {fetch!r}")
    t = docs.select(F.col(id_col).alias("_vid"), F.col(text_col).alias("_vtx"))
    ids = (
        pairs.select(F.col("id_a").alias("_vid"))
        .union(pairs.select(F.col("id_b").alias("_vid")))
        .distinct()
    )
    if fetch == "auto":
        fetch, tchk = _auto_fetch(ids, t, broadcast_ids_cap, broadcast_bytes_cap)
        if tchk is not None:
            t = tchk
    elif fetch == "broadcast_ids":
        # eager localCheckpoint: BOTH pair joins consume t — without it the
        # corpus scan + semi-join would re-run per side. Blocks are
        # reference-tracked (freed with the plan), lineage is truncated.
        t = t.join(F.broadcast(ids), "_vid", "left_semi").localCheckpoint(
            eager=True
        )

    def side(alias: str):
        s = t.withColumnRenamed("_vid", alias)
        # hint applied per join side (a hint wrapped under later
        # projections is not guaranteed to survive resolution)
        return F.broadcast(s) if fetch == "broadcast_ids" else s

    return (
        pairs.join(side("id_a"), "id_a")
        .withColumnRenamed("_vtx", "_tx_a")
        .join(side("id_b"), "id_b")
        .withColumnRenamed("_vtx", "_tx_b")
    )


def verify_pairs_text(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float,
    shingle_k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    fetch: str = "auto",
    broadcast_ids_cap: int = VERIFY_BROADCAST_IDS_CAP,
    broadcast_bytes_cap: int = VERIFY_BROADCAST_BYTES_CAP,
) -> DataFrame:
    """Jaccard verify straight from text — the production path.

    Joins candidate pairs to the raw text of both sides (a ~300B string is
    far lighter through the shuffle than a materialized shingle array) and
    computes shingle sets + Jaccard in ONE Arrow-batched NumPy kernel with
    per-batch doc memoization (cluster members appear in several pairs).
    Avoids materializing/caching any corpus- or candidate-wide shingle
    column — the stage that profiling showed does not scale (cache-write
    contention on ~1 GB of array data).

    ``fetch`` picks how candidate text reaches the kernel:

    - ``"broadcast_ids"``: semi-join the corpus against the broadcast
      candidate-id set, localCheckpoint the surviving (id, text) rows, and
      broadcast THEM into both pair joins. The corpus is scanned exactly
      once and never shuffled — profiling showed the shuffle path's two
      full scans + two corpus shuffles were the single largest cost of the
      dedup job. Right whenever candidates are a small fraction of the
      corpus (the normal dedup regime).
    - ``"shuffle"``: plain two-sided equi-joins (sort-merge at scale).
      Right when candidates are a large fraction of a huge corpus — at
      10^12 docs with 10^9+ candidate ids neither the id set nor the
      candidate texts are broadcastable, and pre-bucketing the corpus by
      id (lsh_qd_spark.io bucketed tables) makes this path shuffle-free
      on the docs side.
    - ``"auto"`` (default): count distinct candidate ids (cheap when
      ``pairs`` is persisted — the pipeline persists it). Over the row cap
      → ``shuffle`` (corpus-scale candidates are never materialized).
      Under it, the candidate texts are semi-joined out of the corpus ONCE
      and checkpointed; their EXACT byte size (one candidate-sized
      aggregate over the checkpoint — no corpus re-scan, no sampled
      estimate) picks between broadcasting them into both pair joins and
      plain equi-joins against the checkpoint (only candidate texts ever
      shuffle). The row cap alone is not a memory bound: real crawl pages
      average 5–100 KB, so 1M candidate texts can be tens of GB — far
      beyond what the two text broadcasts may collect; the byte gate is
      what bounds the broadcast. See ``_auto_fetch``.
    """
    import numpy as np
    import pandas as pd

    from lsh_qd_spark.functions.fast_shingle import shingle_sets

    joined = _pairs_with_texts(
        pairs,
        docs,
        id_col,
        text_col,
        fetch,
        broadcast_ids_cap,
        broadcast_bytes_cap,
    )
    pair_cols = list(pairs.columns)  # plain strings: safe to close over
    schema_parts = [
        f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema.fields
    ]
    schema = ", ".join(schema_parts + ["jaccard double"])

    def kernel(batches):
        empty = np.empty(0, np.uint64)
        for pdf in batches:
            # Batch-dedup candidate docs, then shingle them in ONE batched
            # kernel call: cluster members appear in many pairs, and the
            # batched kernel (fast_shingle.shingle_sets) factorizes tokens
            # once across every doc in the Arrow batch instead of hashing
            # per scalar call.
            ids = pd.concat([pdf["id_a"], pdf["id_b"]], ignore_index=True)
            txts = pd.concat([pdf["_tx_a"], pdf["_tx_b"]], ignore_index=True)
            keep = ~ids.duplicated().to_numpy()
            sets = shingle_sets(list(txts[keep]), shingle_k)
            memo = {
                i: (empty if s is None else s)
                for i, s in zip(ids[keep], sets)
            }
            jac = np.empty(len(pdf), dtype=np.float64)
            for i, (ia, ib) in enumerate(
                zip(pdf["id_a"].to_numpy(), pdf["id_b"].to_numpy())
            ):
                sa, sb = memo[ia], memo[ib]
                if len(sa) == 0 or len(sb) == 0:
                    jac[i] = 0.0
                    continue
                if len(sa) > len(sb):
                    sa, sb = sb, sa
                # both sorted+unique (np.unique output): membership of the
                # smaller in the larger via one searchsorted — O(m log n)
                # vs intersect1d's O((m+n) log(m+n)) concat-sort
                idx = np.searchsorted(sb, sa)
                # position len(sb) means "greater than every element"; any
                # in-range slot is safe to compare (sb[0] < that element)
                idx[idx == len(sb)] = 0
                inter = int(np.count_nonzero(sb[idx] == sa))
                jac[i] = inter / (len(sa) + len(sb) - inter)
            out = pdf[pair_cols].copy()
            out["jaccard"] = jac
            yield out[out["jaccard"] >= threshold]

    return joined.mapInPandas(kernel, schema=schema)


def verify_pairs(
    pairs: DataFrame,
    shingle_df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
) -> DataFrame:
    """(id_a, id_b, n_bands, via_star, jaccard) for pairs meeting the
    threshold. Two equi-joins back to the shingle stage (the reference's
    point-store lookups, ``lsh-qd.py:789-790``, as real joins — sort-merge
    at scale, broadcast if the shingle side is small; left to AQE)."""
    sh = shingle_df.select(
        F.col(id_col).alias("_vid"), F.col(shingle_col).alias("_vsh")
    )
    out = (
        pairs.join(sh.withColumnRenamed("_vid", "id_a"), "id_a")
        .withColumnRenamed("_vsh", "_sh_a")
        .join(sh.withColumnRenamed("_vid", "id_b"), "id_b")
        .withColumnRenamed("_vsh", "_sh_b")
        .withColumn("jaccard", jaccard_expr(F.col("_sh_a"), F.col("_sh_b")))
        .where(F.col("jaccard") >= threshold)
        .drop("_sh_a", "_sh_b")
    )
    return out
