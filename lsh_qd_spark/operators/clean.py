"""Corpus cleaning: cross-document boilerplate-segment removal.

The transformation half of ``oracle.q_boilerplate_segments`` (which is the
oracle-checked accounting of the same rule): every fixed-size token window
that appears in ≥ ``df_threshold`` distinct documents is removed from ALL
documents carrying it, and each document's text is rebuilt from its
surviving windows — C4's line-dedup (Raffel et al. 2020, §2.2 "we removed
any line that occurred more than three times") re-expressed for flat token
streams.

Scale shape (100 TB):
- window explosion is narrow (each doc emits ``n/seg_len`` non-overlapping
  windows — bounded fan-out, unlike overlapping shingles);
- the document-frequency aggregation is one shuffle keyed by the window;
  keys are near-unique (boilerplate is by definition the small hot tail),
  and the ``>= df_threshold`` filter shrinks the flag set to a fraction
  the join back can often BROADCAST — counted first, broadcast only under
  ``pairs.BIG_KEY_BROADCAST_CAP`` (shuffle anti-join above it); in the
  common case the rebuild is one narrow aggregation per doc;
- rebuild order rides ``posexplode`` indices: no window function, one
  ``sort_array(collect_list(struct(pos, …)))`` per doc.

Output text is the normalized token join (the same normalization the
dedup pipeline hashes), so cleaning composes with every downstream
operator without re-normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_qd_spark.functions.text import tokens
from lsh_qd_spark.operators.pairs import bounded_broadcast


def token_segments(toks: F.Column, seg_len: int) -> F.Column:
    """Non-overlapping fixed-size token windows of ``toks`` (array<string>
    → array<string> of space-joined windows; the sub-window tail is NOT a
    segment). THE segmentation rule — shared by the cleaning
    transformation below and the oracle-checked accounting
    (oracle.q_boilerplate_segments), so the two cannot drift."""
    n_seg = F.floor(F.size(toks) / seg_len).cast("int")
    return F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * seg_len + 1, seg_len)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def remove_boilerplate(
    docs: DataFrame,
    seg_len: int = 10,
    df_threshold: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(<input columns, text rebuilt>, removed_segments): corpus with
    boilerplate windows removed. ``text_col`` is rebuilt from surviving
    windows plus the sub-window tail; documents shorter than ``seg_len``
    tokens pass through untouched (normalized). All other input columns
    pass through untouched (the sibling-operator convention —
    redact_docs/remove_repetitive/latest_snapshot); a pre-existing
    ``removed_segments`` audit column from an earlier pass is replaced,
    not duplicated."""
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    n_seg = F.floor(n / seg_len).cast("int")
    segs = token_segments(toks, seg_len)
    tail = F.concat_ws(
        " ", F.slice(toks, n_seg * seg_len + 1, F.lit(2_000_000_000))
    )
    # "_bp_id" (not the raw id name): passthrough may itself contain a
    # column called "doc_id" when id_col is something else
    passthrough = [
        c
        for c in docs.columns
        if c not in (id_col, text_col, "removed_segments")
    ]
    # Two-branch plan. The SEGMENT branch (id + segment array only) is
    # eagerly checkpointed because it has two consumers in one action
    # (flagged-aggregation and the kept anti-join, both via ``exploded``)
    # — without it the full-corpus tokenize+segment projection runs
    # twice (the multi-consumer re-execution pairs.py/pipeline.py
    # checkpoint against). The checkpoint is deliberately SKINNY: the
    # passthrough columns (which on crawl inputs include the raw ``html``
    # binary, typically 10-100× the text size) and the tail stay OUT of
    # block storage — the REBUILD branch below recomputes the two scalar
    # leftovers (segment count, tail string) in a narrow projection
    # instead. Net: tokenize runs 2× (once per branch, pipelined with the
    # scan, no shuffle) versus duplicating the corpus' dominant payload
    # in executor block storage and dragging it through the rebuild join.
    # Blocks are reference-tracked (freed with the plan).
    base = docs.select(
        F.col(id_col).alias("_bp_id"),
        segs.alias("_segs"),
    ).localCheckpoint(eager=True)
    exploded = base.select(
        "_bp_id", F.posexplode("_segs").alias("pos", "seg")
    )
    # the flagged set is corpus-derived (a boilerplate-heavy corpus flags
    # many windows): broadcast only under the size gate
    flagged, _ = bounded_broadcast(
        exploded.groupBy("seg")
        .agg(F.countDistinct("_bp_id").alias("seg_df"))
        .where(F.col("seg_df") >= df_threshold)
        .select("seg")
    )
    kept = exploded.join(flagged, "seg", "left_anti")
    rebuilt = kept.groupBy("_bp_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("seg")))
                ),
                lambda s: s.seg,
            ),
        ).alias("_kept_text"),
        F.count("*").alias("_n_kept"),
    )
    # REBUILD branch: id + the two skinny recomputed scalars + passthrough
    # straight off the input scan (narrow — no tokenized arrays, and the
    # fat passthrough payload rides only this branch, never the
    # checkpoint). ``n_seg`` equals size(_segs) by construction.
    rebuild_base = docs.select(
        F.col(id_col).alias("_bp_id"),
        n_seg.cast("long").alias("_n_segs"),
        tail.alias("_tail"),
        *passthrough,
    )
    out = (
        rebuild_base.join(rebuilt, "_bp_id", "left")
        .select(
            F.col("_bp_id").alias(id_col),
            F.trim(
                F.concat_ws(
                    " ", F.coalesce("_kept_text", F.lit("")), F.col("_tail")
                )
            ).alias(text_col),
            (
                F.col("_n_segs") - F.coalesce("_n_kept", F.lit(0))
            ).cast("long").alias("removed_segments"),
            *passthrough,
        )
    )
    return out
