"""Deterministic synthetic Common-Crawl-style pages with planted duplicates.

The analog of the reference's planted-neighbor generators
(``/root/reference/datasets.py:87-133``, ``lsh-qd.py:661-715``): ground
truth is constructed, then the pipeline is scored against it. Text version:
- background pages: unique token streams (pairwise Jaccard ≈ 0);
- near-dup clusters: member 0 is a base page, members share a controlled
  token-prefix so shingle-Jaccard lands on a target tier (0.95/0.85/0.75/0.60
  — the multi-radius tiers of ``lsh-qd.py:1086-1101``);
- one boilerplate mega-cluster of byte-identical pages (the skew /
  mega-bucket case, SURVEY.md §4);
- edge cases: empty, whitespace-only, shorter-than-one-shingle pages
  (empty-set drop behavior, ``lsh-qd.py:196-197``).

Generation is distributed (``mapInPandas`` over ``spark.range``) and
deterministic per (seed, doc_id): page content depends only on those — the
same table at any parallelism, satisfying the byte-identical-text invariant.
Schema matches BASELINE.json input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string)
plus doc_id for truth bookkeeping.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 20_000
TIERS = (0.95, 0.85, 0.75, 0.60)
LANGS = ("en", "de", "fr", "es", "zh")
BASE_TS = 1_600_000_000  # 2020-09-13 UTC


@dataclass(frozen=True)
class SynthConfig:
    n_docs: int = 2000
    seed: int = 42
    shingle_k: int = 5
    cluster_size: int = 3
    dup_fraction: float = 0.30  # fraction of docs inside near-dup clusters
    boiler_fraction: float = 0.02  # byte-identical mega-cluster
    edge_fraction: float = 0.01  # empty/whitespace/short pages
    min_tokens: int = 80
    max_tokens: int = 200

    @property
    def n_edge(self) -> int:
        return max(3, int(self.n_docs * self.edge_fraction))

    @property
    def n_boiler(self) -> int:
        return max(4, int(self.n_docs * self.boiler_fraction))

    @property
    def n_dup(self) -> int:
        n = int(self.n_docs * self.dup_fraction)
        return (n // self.cluster_size) * self.cluster_size

    @property
    def n_background(self) -> int:
        return self.n_docs - self.n_edge - self.n_boiler - self.n_dup

    # id layout: [0, bg) background | [bg, bg+edge) edge |
    # [bg+edge, bg+edge+boiler) boiler | rest: dup clusters
    @property
    def dup_start(self) -> int:
        return self.n_background + self.n_edge + self.n_boiler


def _tokens(rng: np.random.Generator, n: int) -> list[str]:
    return [f"w{v:05d}" for v in rng.integers(0, VOCAB_SIZE, size=n)]


def _page_text(cfg: SynthConfig, doc_id: int) -> str:
    bg, edge, boiler = cfg.n_background, cfg.n_edge, cfg.n_boiler
    if doc_id < bg:
        rng = np.random.default_rng((cfg.seed, 1, doc_id))
        n = int(rng.integers(cfg.min_tokens, cfg.max_tokens))
        return " ".join(_tokens(rng, n))
    if doc_id < bg + edge:
        variant = (doc_id - bg) % 3
        if variant == 0:
            return ""
        if variant == 1:
            return "   \t\n "
        return f"tiny page {doc_id}"  # < shingle_k tokens, unique per doc
    if doc_id < bg + edge + boiler:
        rng = np.random.default_rng((cfg.seed, 2))
        return " ".join(_tokens(rng, 120))  # identical for every member
    # near-dup cluster member
    rel = doc_id - cfg.dup_start
    cluster, member = divmod(rel, cfg.cluster_size)
    rng = np.random.default_rng((cfg.seed, 3, cluster))
    n = int(rng.integers(cfg.min_tokens, cfg.max_tokens))
    base = _tokens(rng, n)
    if member == 0:
        return " ".join(base)
    # shared prefix length m chosen so shingle-Jaccard ≈ tier:
    # J = inter/(2S - inter), S = n-k+1, inter = m-k+1  →  inter = 2SJ/(1+J)
    tier = TIERS[cluster % len(TIERS)]
    k = cfg.shingle_k
    s_count = n - k + 1
    inter = int(round(2 * s_count * tier / (1 + tier)))
    inter = max(1, min(s_count, inter))
    m = inter + k - 1
    mrng = np.random.default_rng((cfg.seed, 4, cluster, member))
    fresh = _tokens(mrng, n - m)
    return " ".join(base[:m] + fresh)


def _batch(cfg: SynthConfig, ids: np.ndarray) -> pd.DataFrame:
    texts = [_page_text(cfg, int(i)) for i in ids]
    urls = [f"https://example.org/{cfg.seed}/{int(i):012d}" for i in ids]
    langs = [LANGS[int(i) % 10 if int(i) % 10 < len(LANGS) else 0] for i in ids]
    htmls = [
        f"<html><head><title>p{int(i)}</title></head><body><p>{t}</p></body></html>".encode()
        for i, t in zip(ids, texts)
    ]
    # % 86_400 (seconds per day), intent: all synthetic crawl timestamps
    # wrap within one day of BASE_TS. The old 86_400_000 (ms per day) let
    # corpora past 86k docs span ~1000 days, skewing any latest-per-url
    # scenario built on large synth inputs.
    ts = pd.to_datetime(BASE_TS + ids.astype(np.int64) % 86_400, unit="s")
    return pd.DataFrame(
        {
            "doc_id": ids.astype(np.int64),
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


PAGES_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def generate_pages(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    """Distributed deterministic pages table."""

    def gen(batches):
        for pdf in batches:
            yield _batch(cfg, pdf["id"].to_numpy())

    return spark.range(cfg.n_docs).mapInPandas(gen, schema=PAGES_SCHEMA)


def truth_clusters(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    """(doc_id, cluster_id, tier) planted ground truth — pure id arithmetic
    (analog of neighbor_idxs, /root/reference/datasets.py:125-132).
    cluster_id = min doc_id of the cluster (matches connected_components'
    labeling convention). Boiler pages are one exact-dup cluster, tier 1.0."""
    ids = spark.range(cfg.n_docs).select(F.col("id").alias("doc_id"))
    bstart = cfg.n_background + cfg.n_edge
    dstart = cfg.dup_start
    cs = cfg.cluster_size
    tier_arr = F.array(*[F.lit(t) for t in TIERS])
    return ids.select(
        "doc_id",
        F.when(
            (F.col("doc_id") >= bstart) & (F.col("doc_id") < dstart), F.lit(bstart)
        )
        .when(
            F.col("doc_id") >= dstart,
            dstart + ((F.col("doc_id") - dstart) / cs).cast("long") * cs,
        )
        .alias("cluster_id"),
        F.when(
            (F.col("doc_id") >= bstart) & (F.col("doc_id") < dstart), F.lit(1.0)
        )
        .when(
            F.col("doc_id") >= dstart,
            tier_arr[(((F.col("doc_id") - dstart) / cs) % len(TIERS)).cast("int")],
        )
        .alias("tier"),
    ).where(F.col("cluster_id").isNotNull())


def truth_pairs(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    """(id_a, id_b, tier) all intra-cluster pairs, id_a < id_b."""
    tc = truth_clusters(spark, cfg)
    a = tc.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id"), F.col("tier")
    )
    b = tc.select(F.col("doc_id").alias("id_b"), F.col("cluster_id"))
    return a.join(b, "cluster_id").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "tier"
    )


@dataclass(frozen=True)
class AnnulusConfig:
    """Multi-annulus planted dataset — gen_planted_rand_data_real
    (/root/reference/lsh-qd.py:661-715): around each query point, one
    planted neighbor per radius ring; ring i points land at Euclidean
    distance in (rs[i-1], rs[i]]; background points at distance in
    [rs[-1] + err_width, rs[-1] + err_width + epsilon] of a random query.
    Rings are the ground truth for ranked-neighbor retrieval (C3/C4)."""

    n_queries: int = 50
    n_data: int = 500
    n_dims: int = 100
    rs: tuple = (0.1, 0.2, 0.3)
    err_width: float = 0.3
    epsilon: float = 0.3
    seed: int = 42

    @property
    def n_ring_points(self) -> int:
        return self.n_queries * len(self.rs)


def _annulus_query_vec(cfg: AnnulusConfig, q: int) -> np.ndarray:
    """Query point q — uniform direction scaled into the reference's
    0.72-ball (gen_uni_rand_data_real, lsh-qd.py:637-658)."""
    rng = np.random.default_rng((cfg.seed, 30, q))
    v = rng.standard_normal(cfg.n_dims)
    return v / np.linalg.norm(v) * 0.72 * rng.random() ** (1.0 / cfg.n_dims)


def generate_annulus_queries(spark: SparkSession, cfg: AnnulusConfig) -> DataFrame:
    """(vec_id, embedding): the query points, ids [0, n_queries)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = [
                _annulus_query_vec(cfg, int(i)).astype(np.float32).tolist()
                for i in ids
            ]
            yield pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": rows})

    return spark.range(cfg.n_queries).mapInPandas(
        gen, schema="vec_id long, embedding array<float>"
    )


def generate_annulus_data(spark: SparkSession, cfg: AnnulusConfig) -> DataFrame:
    """(vec_id, embedding, query_id, ring): the corpus. Ring block layout
    follows the reference (ring i occupies positions [n_queries*i,
    n_queries*(i+1)), neighbor of query position % n_queries); ring=-1 =
    background. vec_ids are offset by n_queries so the corpus and query id
    spaces are disjoint (self-exclusion in query joins must not drop
    planted neighbors). Distances are exact by construction (float32
    storage adds ~1e-7). Deterministic per (seed, position)."""

    def one(vec_id: int) -> tuple[np.ndarray, int, int]:
        rng = np.random.default_rng((cfg.seed, 31, vec_id))
        u = rng.standard_normal(cfg.n_dims)
        u /= np.linalg.norm(u)
        if vec_id < cfg.n_ring_points:
            ring, q = divmod(vec_id, cfg.n_queries)
            r0 = 0.0 if ring == 0 else cfg.rs[ring - 1]
            d = r0 + rng.random() * (cfg.rs[ring] - r0)
        else:
            ring, q = -1, int(rng.integers(cfg.n_queries))
            d = cfg.rs[-1] + cfg.err_width + rng.random() * cfg.epsilon
        return _annulus_query_vec(cfg, q) + u * d, q, ring

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs, qs, rings = [], [], []
            for i in ids:
                v, q, ring = one(int(i))
                vecs.append(v.astype(np.float32).tolist())
                qs.append(q)
                rings.append(ring)
            yield pd.DataFrame(
                {
                    "vec_id": ids.astype(np.int64) + cfg.n_queries,
                    "embedding": vecs,
                    "query_id": qs,
                    "ring": rings,
                }
            )

    return spark.range(cfg.n_data).mapInPandas(
        gen, schema="vec_id long, embedding array<float>, query_id long, ring int"
    )
