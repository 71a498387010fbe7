"""Benchmark decontamination — n-gram overlap against a held-out set.

Before a web corpus trains a model, documents that share long token
n-grams with evaluation benchmarks are flagged or dropped (GPT-3
appendix C's 13-gram rule; Dolma and The Pile ship the same step). This
operator is that check as a Spark plan:

    train docs ── shingle(k) ── explode ──┐
                                          ├── hash-join ── groupBy(doc)
    eval  docs ── shingle(k) ── distinct ─┘   (broadcast)

Scale shape (100 TB training corpus, bounded eval set):
- the eval side is tiny by construction (benchmarks are thousands of
  documents, not billions) → its distinct gram set **broadcasts** (under
  the ``pairs.BIG_KEY_BROADCAST_CAP`` size gate), so
  the training corpus is never shuffled: scan → explode → broadcast-hash
  semi-join → partial-agg groupBy on doc_id. One narrow pass.
- grams are joined as 64-bit ``xxhash64`` ids (8-byte keys), not
  strings: the broadcast stays small and the probe side never carries
  gram text. (The oracle twin joins raw gram STRINGS instead —
  ``hash_family="string"`` — because exactness across engines matters
  more than width at oracle scale; a hash collision at 10^12 grams flags
  a doc spuriously at ~2^-64 per pair, an accepted false-positive rate
  for a cleaning step.)
- ``k`` defaults to 13 (the published rule); the oracle query uses the
  corpus' dedup shingle size so the driver tables show real overlap.

The reference has no corpus-hygiene surface; this is part of the
training-data-pipeline extension (SURVEY.md §2, LLM-pipeline block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_qd_spark.functions.text import tokens, word_grams
from lsh_qd_spark.operators.pairs import bounded_broadcast


def _strict_gram_strings(col, k: int):
    """Distinct k-grams, STRICT: documents with fewer than ``k`` tokens
    emit NO grams — the published rule's semantics. shingle_strings'
    sub-k whole-document fallback (right for dedup recall) would quietly
    change the contamination rule: a 10-token eval item could then only
    ever match a whole-document-identical train doc (its full-text gram
    never equals any 13-gram), and a sub-k train doc would get flagged on
    far less than k tokens of evidence."""
    return F.array_distinct(word_grams(tokens(col), k))


def _grams(
    docs: DataFrame, k: int, hash_family: str, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, gram) exploded distinct strict k-grams; hashed unless
    'string'."""
    g = F.explode(_strict_gram_strings(F.col(text_col), k)).alias("gram")
    out = docs.select(F.col(id_col).alias("doc_id"), g)
    if hash_family == "string":
        return out
    if hash_family == "xxhash64":
        return out.select("doc_id", F.xxhash64("gram").alias("gram"))
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 13,
    hash_family: str = "xxhash64",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_shared_grams): training documents sharing ≥ 1 distinct
    k-gram with ``eval_docs``, with how many distinct grams they share.

    The eval gram set goes through the size gate: the rare eval set too
    large to broadcast joins by shuffle instead (the plan is otherwise
    identical).
    """
    tg = _grams(train, k, hash_family, text_col, id_col)
    eg, _ = bounded_broadcast(
        _grams(eval_docs, k, hash_family, text_col, id_col)
        .select("gram")
        .distinct()
    )
    return (
        tg.join(eg, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


def remove_contaminated(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 13,
    min_shared: int = 1,
    hash_family: str = "xxhash64",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``train`` minus documents sharing ≥ ``min_shared`` distinct k-grams
    with the eval set — the corpus-cleaning transformation behind the
    ``contamination`` accounting. Anti-join on the flagged-id set, so the
    wide columns move zero times.

    The flagged set is "every contaminated training doc" — usually tiny,
    but UNBOUNDED (a boilerplate-heavy corpus with a small ``k`` or
    ``min_shared=1`` can flag a large fraction of the corpus), so it goes
    through the same size gate as the eval side: counted, broadcast under
    the cap, anti-joined via shuffle over it."""
    flagged, _ = bounded_broadcast(
        contamination(train, eval_docs, k, hash_family, text_col, id_col)
        .where(F.col("n_shared_grams") >= min_shared)
        .select(F.col("doc_id").alias(id_col))
    )
    return train.join(flagged, id_col, "left_anti")
