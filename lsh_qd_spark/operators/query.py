"""Query-mode near-neighbor retrieval — the reference's primary API.

``AlphaLSH.query(x, alpha)`` (``/root/reference/lsh-qd.py:286-297``) finds,
for ONE query item, every indexed item colliding in ≥ alpha of l tables.
The distributed form answers a whole DataFrame of queries at once: hash the
queries with the same kernel, explode to bucket rows, equi-join against the
corpus buckets (SURVEY.md §2.4 J1), count collisions per (query, doc) pair
(A1), and alpha-filter (F2).

Semantics notes carried from the reference:
- the non-idx query path INCLUDES self-collisions (lsh-qd.py:129-131);
  ``exclude_self=True`` reproduces ``query_idx``'s self-exclusion
  (lsh-qd.py:145-148) by doc_id equality instead.
- the query side is small by contract → always broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.operators.band import band_buckets
from lsh_qd_spark.operators.pairs import bounded_broadcast
from lsh_qd_spark.plans.pipeline import DedupPipeline


def query_neighbors(
    corpus_buckets: DataFrame,
    query_buckets: DataFrame,
    alpha: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, doc_id, n_bands): corpus docs colliding with each query
    in ≥ alpha bands. Both inputs are (id, band_idx, band_key) bucket rows
    (build with DedupPipeline.buckets / band_buckets)."""
    q = F.broadcast(
        query_buckets.select(
            F.col("doc_id").alias("query_id"), "band_idx", "band_key"
        )
    )
    hits = corpus_buckets.join(q, ["band_idx", "band_key"])
    if exclude_self:
        hits = hits.where(F.col("doc_id") != F.col("query_id"))
    return (
        hits.groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_bands"))
        .where(F.col("n_bands") >= alpha)
    )


def query_text_neighbors(
    corpus_docs: DataFrame,
    query_docs: DataFrame,
    config: DedupConfig | None = None,
    alpha: int = 1,
    jaccard_threshold: float | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """End-to-end query mode over raw text tables: returns
    (query_id, doc_id, n_bands[, jaccard]). Queries and corpus are hashed
    with the same seed/coefficients, so bucket equality semantics match the
    reference's shared hash functions.

    ``exclude_self=False`` keeps id-equal pairs: when the query table's
    id space is INDEPENDENT of the corpus' (decontamination against an
    eval set numbered from 0), the default id-equality filter would
    silently drop true matches that happen to share an id — and the
    reference's non-indexed query path includes self-collisions too."""
    cfg = config or DedupConfig()
    pipe = DedupPipeline(cfg)
    cb = pipe.buckets(pipe.signatures_from_text(corpus_docs))
    qb = pipe.buckets(pipe.signatures_from_text(query_docs))
    out = query_neighbors(cb, qb, alpha=alpha, exclude_self=exclude_self)
    if jaccard_threshold is None:
        return out
    # eager localCheckpoint: the jaccard branch consumes ``out`` twice
    # (candidate-id semi-join + final join) — without it one action runs
    # the full signatures→buckets→join→groupBy pipeline over corpus AND
    # queries twice (the same double-execution shape pairs.py checkpoints
    # against). Blocks are reference-tracked (freed with the plan).
    out = out.localCheckpoint(eager=True)
    # bound the broadcast the same way verify.py does: a hot bucket
    # colliding with a query can return a large fraction of the corpus —
    # broadcasting an unbounded id set OOMs the driver; over the cap the
    # semi-join runs shuffled instead of truncating. The CONFIGURED cap,
    # not the module constant: a memory-constrained run that lowered
    # verify_broadcast_ids_cap must see it honored here too, or this path
    # broadcasts what verify just refused to
    cand_ids, _ = bounded_broadcast(
        out.select("doc_id").distinct(), cfg.verify_broadcast_ids_cap
    )
    csh = pipe.shingle(
        corpus_docs.join(cand_ids, "doc_id", "left_semi")
    )
    qsh = pipe.shingle(query_docs).select(
        F.col("doc_id").alias("query_id"), F.col("shingles").alias("q_sh")
    )
    # the query-shingle broadcast needs the same bound as cand_ids above
    # — and a far TIGHTER one, since each row carries a whole shingle
    # array (KBs) rather than one id. A corpus-scale query table (e.g.
    # corpus-vs-benchmark decontamination) falls back to a plain join.
    qsh_cap = max(1, cfg.verify_broadcast_ids_cap // 100)
    if query_docs.count() <= qsh_cap:
        qsh = F.broadcast(qsh)
    from lsh_qd_spark.operators.verify import jaccard_expr

    return (
        out.join(qsh, "query_id")
        .join(csh, "doc_id")
        .withColumn("jaccard", jaccard_expr(F.col("q_sh"), F.col("shingles")))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("query_id", "doc_id", "n_bands", "jaccard")
    )


def alpha_tiers(pairs: DataFrame, alphas: list[int]) -> dict[int, DataFrame]:
    """One candidate-pair DataFrame, several alpha cuts — the
    AlphaRankedNeighborContainer (C4, /root/reference/lsh-qd.py:408-439):
    all tiers share one pair-count aggregation; each tier is a HAVING cut.

    Star rows (``via_star``, mega-bucket edges with sentinel ``n_bands=0``)
    are kept in EVERY tier when the column is present: ``candidate_pairs``
    exempts them from the alpha filter (their true band count is never
    aggregated), so a plain ``n_bands >= a`` cut would silently drop every
    mega-bucket edge — see the consumer contract in ``candidate_pairs``."""
    cuts: dict[int, DataFrame] = {}
    for a in sorted(alphas):
        keep = F.col("n_bands") >= a
        if "via_star" in pairs.columns:
            keep = keep | F.col("via_star")
        cuts[a] = pairs.where(keep)
    return cuts
