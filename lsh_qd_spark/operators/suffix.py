"""Suffix-array exact-overlap detection between candidate pairs.

Absent from the reference (SURVEY.md §2.2 H8); a north-rule addition for
exact-overlap detection (shared boilerplate, quoted passages, mirrored
articles). For each candidate pair, the longest common substring of the two
normalized texts is computed from the suffix array + LCP of the joined
string ``a + SEP + b``: the LCS is the maximum LCP between adjacent suffixes
that originate in different documents.

Spark shape: the pair table is joined back to the two texts (the same joins
as Jaccard verify) and the per-pair computation runs in an Arrow-batched
``mapInPandas`` — per-pair work is a genuinely sequential string algorithm,
so Python is the right layer (SURVEY.md §2.10), but batching amortizes
transfer. The kernel is NumPy rank-doubling (O(n log² n)) + Kasai LCP.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_qd_spark.operators.verify import _pairs_with_texts


def suffix_array(codes: np.ndarray) -> np.ndarray:
    """Suffix array by rank doubling (argsort-based), O(n log^2 n)."""
    n = len(codes)
    rank = np.asarray(codes, dtype=np.int64)
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        sa = order
        tmp[sa[0]] = 0
        prev = sa[:-1]
        cur = sa[1:]
        newgrp = (rank[cur] != rank[prev]) | (key2[cur] != key2[prev])
        tmp[cur] = np.cumsum(newgrp)
        rank = tmp.copy()
        if rank[sa[-1]] == n - 1:
            break
        k <<= 1
    return sa


def lcp_array(codes: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai's algorithm: lcp[i] = LCP(suffix sa[i], suffix sa[i-1]).

    The O(n) loop runs on plain Python lists/ints: NumPy scalar indexing
    costs ~1 µs per access, and this is the per-pair hot kernel — list
    access is ~20× cheaper for the same asymptotics."""
    n = len(codes)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    cl = codes.tolist()
    sa_l = sa.tolist()
    rank_l = rank.tolist()
    lcp = [0] * n
    h = 0
    for i in range(n):
        r = rank_l[i]
        if r > 0:
            j = sa_l[r - 1]
            while i + h < n and j + h < n and cl[i + h] == cl[j + h]:
                h += 1
            lcp[r] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    return np.asarray(lcp, dtype=np.int64)


def longest_common_substring(a: str, b: str) -> int:
    """Length of the longest exact substring shared by a and b."""
    if not a or not b:
        return 0
    ca = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    cb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    # shift codepoints by +2 so the separator (1) is unique and minimal
    codes = np.concatenate([ca + 2, [1], cb + 2])
    na = len(ca)
    sa = suffix_array(codes)
    lcp = lcp_array(codes, sa)
    side = sa < na  # suffix starts in a (the separator belongs to neither)
    # vectorized adjacent-pair scan (the old per-index Python loop paid
    # ~1 µs/char of NumPy-scalar overhead in the per-pair hot path)
    mask = (side[1:] != side[:-1]) & (sa[1:] != na) & (sa[:-1] != na)
    return int(lcp[1:][mask].max(initial=0))


def exact_overlap(
    pairs: DataFrame,
    docs: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text_norm",
    fetch: str = "auto",
) -> DataFrame:
    """(id_a, id_b, overlap_len) for pairs sharing an exact substring of at
    least ``min_len`` characters (in normalized-text space).

    Candidate text reaches the kernel through the SAME fetch as the
    Jaccard verify (operators/verify.py:_pairs_with_texts): semi-join the
    corpus against the candidate-id set and broadcast/checkpoint the
    surviving texts when they fit, falling back to plain equi-joins only
    when candidates are corpus-scale — a direct join of the pair list
    against the full docs table pays two corpus scans + shuffles."""
    joined = _pairs_with_texts(
        pairs.select("id_a", "id_b"), docs, id_col, text_col, fetch
    )

    def compute(batches):
        for pdf in batches:
            out = pdf[["id_a", "id_b"]].copy()
            out["overlap_len"] = [
                longest_common_substring(a or "", b or "")
                for a, b in zip(pdf["_tx_a"], pdf["_tx_b"])
            ]
            yield out

    # schema derived from the input, not hardcoded: the engine is
    # id-type generic (string doc ids are first-class everywhere else —
    # cluster.py, verify.py derive theirs the same way)
    schema = ", ".join(
        [
            f"id_a {pairs.schema['id_a'].dataType.simpleString()}",
            f"id_b {pairs.schema['id_b'].dataType.simpleString()}",
            "overlap_len long",
        ]
    )
    result = joined.mapInPandas(compute, schema=schema)
    return result.where(F.col("overlap_len") >= min_len)
