"""Driver-oracle query set: paired (Spark DataFrame, DuckDB SQL) queries.

Each entry runs the engine's real operators on the driver's ``documents`` /
``embeddings`` parquet tables and has an ANSI-SQL twin that DuckDB evaluates
on the same files — the correctness gate of the build (CORRECTNESS_r{N}).

Value parity across engines is achieved by running the pipeline in its
*portable* hash mode: shingle IDs are polynomial character hashes mod
``HASH_M`` (functions/text.py:poly_hash) and band keys are the signature
slices themselves as strings — both expressible identically in DuckDB. The
production xxhash64 mode is benchmarked separately (bench.py); the math,
operators, and plans are byte-for-byte the same either way.

All floating-point folds (Jaccard, cosine) are written as *sequential*
reductions in both engines so IEEE results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_qd_spark.config import HASH_M, MERSENNE_P, DedupConfig
from lsh_qd_spark.functions.minhash import production_coefficients
from lsh_qd_spark.functions.text import normalize_text, poly_hash, tokens
from lsh_qd_spark.plans.pipeline import DedupPipeline

ORACLE_CFG = DedupConfig(
    shingle_k=5,
    rows_per_band=2,
    num_bands=8,
    alpha=1,
    jaccard_threshold=0.80,
    seed=42,
    shingle_hash="poly",
    max_bucket_size=100_000,  # stay on the exact-pairs path at oracle scale
)

ANN_N_QUERIES = 10
ANN_TOP_K = 5
NEAR_DUP_COSINE = 0.98


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lsh_qd_spark.io import read_pages
    from lsh_qd_spark.plans.pipeline import spread_small_input

    # the driver sf tables are single-row-group files: without the spread
    # every query's scan-side chain runs on ONE core (guide §2.5 — input
    # that cannot split). No-op for well-split inputs; row set unchanged.
    return spread_small_input(
        read_pages(spark, f"{sf_dir}/documents.parquet")
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lsh_qd_spark.io import read_pages
    from lsh_qd_spark.plans.pipeline import spread_small_input

    return spread_small_input(
        read_pages(spark, f"{sf_dir}/embeddings.parquet")
    )


# ---------------------------------------------------------------------------
# DuckDB SQL fragments mirroring functions/text.py exactly
# ---------------------------------------------------------------------------

# explicit whitespace class, NOT \s: Java's \s (Spark normalize_text) is
# [ \t\n\x0B\f\r] but RE2's \s (DuckDB) omits vertical tab \x0B — a \x0B in
# any document would silently desynchronize every token/shingle-derived twin.
#
# KNOWN cross-engine limit (documented, not fixable here): lower() itself
# diverges on Unicode SPECIAL casing — Spark lower('İ') is 'i̇'
# (two codepoints, the full Unicode mapping) while DuckDB's is 'i'. Text
# containing such characters (e.g. Turkish dotted capital I) desyncs every
# text-derived twin; the synthetic gate corpus is ASCII, and production
# correctness is unaffected (only the DuckDB CHECKER disagrees, since both
# Spark paths of a real run normalize identically).
DUCK_NORM = (
    "trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
)
DUCK_TOKS = (
    f"list_filter(string_split({DUCK_NORM}, ' '), x -> x <> '')"
)


def duck_poly(expr: str) -> str:
    """Polynomial char hash — twin of functions/text.py:poly_hash.

    Degenerate-input parity with the Spark side: an EMPTY string folds one
    zero step (Spark: split('','') -> [''], ascii('') = 0) where DuckDB's
    unicode('') is -1 — mapped to 0 here; a NULL input stays NULL (DuckDB's
    list_prepend(0, NULL) would otherwise fold to 0)."""
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL ELSE "
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        "c -> CASE WHEN c = '' THEN 0 ELSE unicode(c) END)), "
        f"(acc, x) -> (acc*31 + x) % {HASH_M}) END"
    )


def duck_shingles_cte(k: int) -> str:
    """CTEs: norm -> toks -> grams -> sh(doc_id, shingles bigint[])."""
    return f"""
toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {k} THEN
      list_transform(range(1, len(t) - {k - 2}),
                     i -> array_to_string(list_slice(t, i, i + {k - 1}), ' '))
    WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
    ELSE [] END AS g
  FROM toks
),
sh AS (
  SELECT doc_id, list_distinct(list_transform(g, s -> {duck_poly('s')})) AS shingles
  FROM grams
)"""


def duck_sig_exprs(cfg: DedupConfig) -> list[str]:
    a, b = production_coefficients(cfg.num_hashes, cfg.seed)
    return [
        (
            f"list_min(list_transform(shingles, h -> "
            f"(CAST({int(ai)} AS BIGINT) * h + {int(bi)}) % {MERSENNE_P}))"
        )
        for ai, bi in zip(a, b)
    ]


def duck_bands_cte(cfg: DedupConfig) -> str:
    """CTEs through bands(doc_id, band_idx, band_key). Band key = the
    comma-joined signature slice (operators/band.py 'str' mode)."""
    sig_exprs = duck_sig_exprs(cfg)
    sig_cols = ", ".join(
        f"{e} AS s{j}" for j, e in enumerate(sig_exprs)
    )
    band_selects = []
    r = cfg.rows_per_band
    for i in range(cfg.num_bands):
        parts = " || ',' || ".join(
            f"CAST(s{i * r + j} AS VARCHAR)" for j in range(r)
        )
        band_selects.append(
            f"SELECT doc_id, {i} AS band_idx, {parts} AS band_key FROM sigs"
        )
    return f"""{duck_shingles_cte(cfg.shingle_k)},
sigs AS (
  SELECT doc_id, {sig_cols} FROM sh WHERE len(shingles) > 0
),
bands AS (
  {' UNION ALL '.join(band_selects)}
)"""


DUCK_PAIRS_CTE = """
pairs AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_bands
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)"""


def duck_verified_cte(threshold: float) -> str:
    return f"""
verified AS (
  SELECT p.id_a, p.id_b,
         1.0 * len(list_intersect(sa.shingles, sb.shingles))
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b
  WHERE 1.0 * len(list_intersect(sa.shingles, sb.shingles))
      / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= {threshold}
)"""


# DuckDB twin of the sequential-fold cosine in operators/ann.py.
DUCK_COSINE = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
    "(acc, x) -> acc + x) / "
    "(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x)) * "
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x)))"
)


# ---------------------------------------------------------------------------
# Query registry
# ---------------------------------------------------------------------------


def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of normalized text; groups with ≥2 docs."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            F.md5(normalize_text(F.col("text"))).alias("text_md5"), "doc_id"
        )
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


SQL_EXACT_DUP = f"""
SELECT md5({DUCK_NORM}) AS text_md5, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1 HAVING COUNT(*) >= 2
"""


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token / shingle / normalized-char counts per document."""
    docs = _docs(spark, sf_dir)
    pipe = DedupPipeline(ORACLE_CFG)
    shingled = pipe.shingle(docs)
    stats = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length(normalize_text(F.col("text"))).alias("n_chars_norm"),
    )
    return stats.join(
        shingled.select("doc_id", F.size("shingles").alias("n_shingles")),
        "doc_id",
    )


SQL_DOC_STATS = f"""
WITH {duck_shingles_cte(ORACLE_CFG.shingle_k)}
SELECT d.doc_id,
       len({DUCK_TOKS.replace('text', 'd.text')}) AS n_tokens,
       length({DUCK_NORM.replace('text', 'd.text')}) AS n_chars_norm,
       len(sh.shingles) AS n_shingles
FROM documents d JOIN sh ON sh.doc_id = d.doc_id
"""


def _bucket_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipe = DedupPipeline(ORACLE_CFG)
    shingled = pipe.shingle(_docs(spark, sf_dir))
    sigs = pipe.signatures(shingled)
    return pipe.buckets(sigs, key_mode="str")


def q_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH buckets with ≥2 members: the banding stage end-to-end."""
    return (
        _bucket_df(spark, sf_dir)
        .groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


SQL_MINHASH_BUCKETS = f"""
WITH {duck_bands_cte(ORACLE_CFG)}
SELECT band_idx, band_key, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM bands GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


QUERY_MODE_N_QUERIES = 250
QUERY_MODE_ALPHA = 2


def q_query_mode_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-mode retrieval (the reference's AlphaLSH.query, J1+F2):
    the first N docs act as queries against the whole corpus index;
    neighbors must collide in ≥ alpha bands."""
    from lsh_qd_spark.operators.query import query_neighbors

    # eager localCheckpoint: the bucket chain feeds BOTH join sides
    # (corpus + the doc_id<N query slice) — unmaterialized, the whole
    # portable-hash banding chain executes twice per action. Blocks are
    # reference-tracked (freed with the plan); oracle-scale rows only.
    buckets = _bucket_df(spark, sf_dir).localCheckpoint(eager=True)
    qb = buckets.where(F.col("doc_id") < QUERY_MODE_N_QUERIES)
    return query_neighbors(buckets, qb, alpha=QUERY_MODE_ALPHA).select(
        "query_id", "doc_id", F.col("n_bands").cast("long").alias("n_bands")
    )


SQL_QUERY_MODE_NEIGHBORS = f"""
WITH {duck_bands_cte(ORACLE_CFG)}
SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bands
FROM bands q
JOIN bands c ON q.band_idx = c.band_idx AND q.band_key = c.band_key
WHERE q.doc_id < {QUERY_MODE_N_QUERIES} AND c.doc_id <> q.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {QUERY_MODE_ALPHA}
"""


def q_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs + band-collision counts (AlphaLSH statistic)."""
    pipe = DedupPipeline(ORACLE_CFG)
    cand = pipe.pairs(_bucket_df(spark, sf_dir))
    return cand.select("id_a", "id_b", "n_bands")


SQL_CANDIDATE_PAIRS = f"""
WITH {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE}
SELECT id_a, id_b, n_bands FROM pairs
"""


NGRAM_BLOCK_MAX_DF = 100


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index (n-gram blocking) near-dup join — the MinHash-free
    dedup flavor: docs sharing ANY k-gram are candidates (complete recall
    for J > 0 pairs, modulo the hot-gram cap), then exact Jaccard ≥
    threshold. Candidate volume is bounded by suppressing grams with
    document frequency > NGRAM_BLOCK_MAX_DF (stopword-gram suppression,
    the classic blocking trick — at crawl scale boilerplate grams would
    otherwise explode the self-join)."""
    from lsh_qd_spark.operators.verify import jaccard_expr

    pipe = DedupPipeline(ORACLE_CFG)
    # eager localCheckpoint: the shingle table feeds five consumers (the
    # exploded index in three join paths + both verify sides) — without
    # materialization each re-runs the portable-hash shingle chain
    sh = (
        pipe.shingle(_docs(spark, sf_dir))
        .where(F.size("shingles") > 0)
        .localCheckpoint(eager=True)
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("g"))
    ok_grams = (
        ex.groupBy("g")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= NGRAM_BLOCK_MAX_DF))
        .select("g")
    )
    exf = ex.join(ok_grams, "g")
    cand = (
        exf.alias("a")
        .join(exf.alias("b"), "g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates()
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_expr(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= ORACLE_CFG.jaccard_threshold)
    )


def _sql_ngram_jaccard_pairs() -> str:
    jac = (
        "1.0 * len(list_intersect(sa.shingles, sb.shingles)) "
        "/ len(list_distinct(list_concat(sa.shingles, sb.shingles)))"
    )
    return f"""
WITH {duck_shingles_cte(ORACLE_CFG.shingle_k)},
ex AS (
  SELECT doc_id, unnest(shingles) AS g FROM sh WHERE len(shingles) > 0
),
ok AS (
  SELECT g FROM ex GROUP BY g
  HAVING COUNT(*) BETWEEN 2 AND {NGRAM_BLOCK_MAX_DF}
),
exf AS (SELECT ex.doc_id, ex.g FROM ex JOIN ok USING (g)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, {jac} AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.id_a
JOIN sh sb ON sb.doc_id = c.id_b
WHERE {jac} >= {ORACLE_CFG.jaccard_threshold}
"""


SQL_NGRAM_JACCARD_PAIRS = _sql_ngram_jaccard_pairs()


RANKED_TIER_ALPHAS = (3, 2, 1)  # innermost ball first, as the planner emits


def q_ranked_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked multi-radius retrieval (C3/C4 end-to-end): one banding, one
    collision count, tier i = alpha cut ≥ RANKED_TIER_ALPHAS[i]."""
    from lsh_qd_spark.operators.ranked import ranked_neighbors_alpha

    # same two-consumer shape as q_query_mode_neighbors — checkpoint once
    buckets = _bucket_df(spark, sf_dir).localCheckpoint(eager=True)
    qb = buckets.where(F.col("doc_id") < QUERY_MODE_N_QUERIES)
    return ranked_neighbors_alpha(
        buckets, qb, list(RANKED_TIER_ALPHAS)
    ).select(
        "tier_idx",
        "query_id",
        "doc_id",
        F.col("n_bands").cast("long").alias("n_bands"),
    )


def _sql_ranked_tiers() -> str:
    tiers = ", ".join(
        f"({i}, {a})" for i, a in enumerate(RANKED_TIER_ALPHAS)
    )
    return f"""
WITH {duck_bands_cte(ORACLE_CFG)},
counts AS (
  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bands
  FROM bands q
  JOIN bands c ON q.band_idx = c.band_idx AND q.band_key = c.band_key
  WHERE q.doc_id < {QUERY_MODE_N_QUERIES} AND c.doc_id <> q.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {min(RANKED_TIER_ALPHAS)}
)
SELECT t.tier_idx, c.query_id, c.doc_id, c.n_bands
FROM counts c
JOIN (VALUES {tiers}) t(tier_idx, alpha) ON c.n_bands >= t.alpha
"""


SQL_RANKED_TIERS = _sql_ranked_tiers()

ALPHA_TIER_ALPHAS = (1, 2, 3, 4)


def q_alpha_tier_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair counts per alpha cut — the AlphaRankedNeighbor
    surface (C4, /root/reference/lsh-qd.py:408-439): ONE pair aggregation,
    every tier is a HAVING cut over it."""
    from lsh_qd_spark.operators.query import alpha_tiers

    pipe = DedupPipeline(ORACLE_CFG)
    # eager localCheckpoint: each alpha tier below is a separate cut of
    # this pair table, and the 4-way union would otherwise re-plan (and
    # without reliable exchange reuse, re-run) the banding+pairs chain
    # once per tier. Post-alpha pairs are tiny at oracle scale.
    cand = pipe.pairs(_bucket_df(spark, sf_dir)).localCheckpoint(eager=True)
    tiers = alpha_tiers(cand, list(ALPHA_TIER_ALPHAS))
    rows = [
        df.select(F.lit(a).alias("alpha"), "id_a") for a, df in tiers.items()
    ]
    union = rows[0]
    for r in rows[1:]:
        union = union.unionByName(r)
    return union.groupBy("alpha").agg(F.count("*").alias("n_pairs"))


SQL_ALPHA_TIER_SIZES = f"""
WITH {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE}
SELECT a.alpha, COUNT(*) AS n_pairs
FROM pairs p
JOIN (SELECT unnest({list(ALPHA_TIER_ALPHAS)}) AS alpha) a
  ON p.n_bands >= a.alpha
GROUP BY a.alpha
"""


def _verified_df(spark: SparkSession, sf_dir: str):
    """(pipe, verified) with ``verified`` eagerly checkpointed — THE
    shared front half of the cluster family (verified_pairs,
    dup_clusters, cluster_sizes, dedup_survivors, cluster_stats,
    jaccard_histogram). Composing the q_* functions instead re-built the
    full shingle→minhash→band→pairs→verify chain once per composition
    (and once more per connected-components iteration action), roughly
    doubling the correctness gate's cluster-family wall time. Blocks are
    reference-tracked (freed with the plan)."""
    pipe = DedupPipeline(ORACLE_CFG)
    docs = _docs(spark, sf_dir)
    shingled = pipe.shingle(docs)
    cand = pipe.pairs(pipe.buckets(pipe.signatures(shingled), key_mode="str"))
    return pipe, pipe.verified(cand, shingled).localCheckpoint(eager=True)


def q_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-verified near-duplicate pairs (threshold 0.8)."""
    return _verified_df(spark, sf_dir)[1].select("id_a", "id_b", "jaccard")


SQL_VERIFIED_PAIRS = f"""
WITH {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)}
SELECT id_a, id_b, jaccard FROM verified
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over verified pairs."""
    pipe, ver = _verified_df(spark, sf_dir)
    return pipe.clusters(ver).select("doc_id", "cluster_id")


# ONE connected-components CTE chain shared by every cluster-family twin
# (dup_clusters, cluster_sizes, dedup_survivors, cluster_stats): a fix to
# the labeling applied to only some copies would make the four twins
# disagree with each other — the same single-source rule as
# duck_verified_cte.
DUCK_CLUSTERS_CTE = """sym AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified
),
reach(src, dst) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
clusters AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src
)"""


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)},
{DUCK_CLUSTERS_CTE}
SELECT doc_id, cluster_id FROM clusters
"""


def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram (the reference's neighborhood-size statistic,
    /root/reference/lsh-qd.py:1123-1137, over resolved clusters)."""
    clusters = q_dup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .groupBy("n_docs")
        .agg(F.count("*").alias("n_clusters"))
    )


SQL_CLUSTER_SIZES = f"""
WITH RECURSIVE {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)},
{DUCK_CLUSTERS_CTE}
SELECT n_docs, COUNT(*) AS n_clusters FROM (
  SELECT cluster_id, COUNT(*) AS n_docs FROM clusters GROUP BY 1
) GROUP BY 1
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated-corpus deliverable: one surviving doc per duplicate
    cluster (keep-rule: longest text, tie → smallest doc_id), singletons
    kept as-is. ``n_in_cluster`` records how many docs the survivor stands
    for. This is the collapse step a training-data pipeline runs after
    clustering — the reference stops at neighbor sets
    (/root/reference/lsh-qd.py:1123-1137); survivor selection is the
    engine's corpus-production extension.

    Scale shape: a single groupBy on the effective cluster id with
    ``max_by`` (map-side partial agg, no window sort) — clusters are tiny,
    singletons hash-spread, so no skew."""
    clusters = q_dup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    eff = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cid"),
    )
    return (
        eff.groupBy("cid")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
            ).alias("doc_id"),
            F.count("*").alias("n_in_cluster"),
        )
        .select("doc_id", "n_in_cluster")
    )


SQL_DEDUP_SURVIVORS = f"""
WITH RECURSIVE {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)},
{DUCK_CLUSTERS_CTE},
eff AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.cluster_id, d.doc_id) AS cid
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT doc_id, n_in_cluster FROM (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY cid) AS n_in_cluster,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM eff
) WHERE rk = 1
"""


def q_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity histogram of verified pairs — the pairwise-distance
    histogram diagnostic (A8, /root/reference/lsh-qd.py:718-734) as a table.
    Buckets of width 0.05 on floor(jaccard*20); integer counts are
    bit-stable across engines."""
    v = q_verified_pairs(spark, sf_dir)
    return (
        v.groupBy(F.floor(F.col("jaccard") * 20).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_pairs"))
    )


SQL_JACCARD_HISTOGRAM = f"""
WITH {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)}
SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket, COUNT(*) AS n_pairs
FROM verified GROUP BY 1
"""


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size + intra-cluster similarity (A4: mean neighborhood
    size / mean intra-neighborhood similarity, lsh-qd.py:1123-1165).
    Similarity is aggregated as an integer sum of round(jaccard*1e9) so the
    result is order-independent and engine-exact (double sums are not)."""
    # ONE verified chain for both clusters and edge stats — composing
    # q_dup_clusters + q_verified_pairs built two identical full chains
    pipe, verified = _verified_df(spark, sf_dir)
    clusters = pipe.clusters(verified).select("doc_id", "cluster_id")
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_docs"))
    edge_stats = (
        verified.join(
            clusters.withColumnRenamed("doc_id", "id_a"), "id_a"
        )
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.round(F.col("jaccard") * 1e9).cast("long")).alias(
                "jaccard_nanosum"
            ),
        )
    )
    return sizes.join(edge_stats, "cluster_id")


SQL_CLUSTER_STATS = f"""
WITH RECURSIVE {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)},
{DUCK_CLUSTERS_CTE},
sizes AS (
  SELECT cluster_id, COUNT(*) AS n_docs FROM clusters GROUP BY 1
),
edge_stats AS (
  SELECT c.cluster_id, COUNT(*) AS n_pairs,
         -- DuckDB SUM(BIGINT) returns HUGEINT (float64 in pandas); cast back
         -- so the dtype matches Spark's int64.
         CAST(SUM(CAST(round(v.jaccard * 1e9) AS BIGINT)) AS BIGINT)
           AS jaccard_nanosum
  FROM verified v JOIN clusters c ON c.doc_id = v.id_a
  GROUP BY 1
)
SELECT s.cluster_id, s.n_docs, e.n_pairs, e.jaccard_nanosum
FROM sizes s JOIN edge_stats e ON s.cluster_id = e.cluster_id
"""


def q_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source (training-data bookkeeping)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    return toks.groupBy("source").agg(
        F.count("*").alias("total_tokens"),
        F.count_distinct("tok").alias("distinct_tokens"),
    )


SQL_TOKEN_TOTALS = f"""
SELECT source, COUNT(*) AS total_tokens, COUNT(DISTINCT tok) AS distinct_tokens
FROM (SELECT source, unnest({DUCK_TOKS}) AS tok FROM documents)
GROUP BY source
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: polynomial rolling hash of normalized text."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", poly_hash(normalize_text(F.col("text"))).alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, {duck_poly(DUCK_NORM)} AS fingerprint FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: length, lexical diversity, stopword ratio."""
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("distinct_ratio"),
        (
            F.size(F.filter(toks, lambda t: t.isin("the", "a", "and", "of")))
            / F.size(toks)
        ).alias("stopword_ratio"),
    ).where(F.size(toks) > 0)


SQL_QUALITY_SCORES = f"""
WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS t FROM documents)
SELECT doc_id,
       len(t) AS n_tokens,
       1.0 * len(list_distinct(t)) / len(t) AS distinct_ratio,
       1.0 * len(list_filter(t, x -> x IN ('the', 'a', 'and', 'of'))) / len(t)
         AS stopword_ratio
FROM toks WHERE len(t) > 0
"""


# Per-language high-frequency function-word profiles. The word lists live
# in package DATA (data/lang_profiles.json — transcribed from the
# public-domain Snowball/NLTK stopword lists), not code; the loader drops
# words shared by 3+ profiles so the argmax stays discriminative (words in
# exactly 2 profiles are kept — they still separate both from the other
# ten). Ties break by dict order (first max wins), identically in both
# engines: one dict feeds BOTH the Spark expression and the generated SQL
# twin so the two can never drift.
def _load_lang_profiles() -> dict[str, tuple[str, ...]]:
    import json as _json
    from collections import Counter
    from importlib import resources

    raw = _json.loads(
        resources.files("lsh_qd_spark.data")
        .joinpath("lang_profiles.json")
        .read_text("utf-8")
    )
    raw.pop("_comment", None)
    df = Counter(w for ws in raw.values() for w in set(ws))
    return {lg: tuple(w for w in ws if df[w] <= 2) for lg, ws in raw.items()}


LANG_MARKERS: dict[str, tuple[str, ...]] = _load_lang_profiles()


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language marker-token counts over
    the normalized token stream, argmax with deterministic tie order,
    'und' when no marker hits. The distributable cousin of fastText-style
    langid — one JVM higher-order-function pass, no UDF."""
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))

    def marker_count(ws):
        # closure factory: a default arg would be introspected as a second
        # lambda parameter by F.filter
        return F.size(F.filter(toks, lambda t: t.isin(*ws)))

    counts = [
        marker_count(ws).alias(f"c_{lang}") for lang, ws in LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", *counts)
    best = F.greatest(*[F.col(f"c_{lg}") for lg in LANG_MARKERS])
    guess = F.when(best == 0, F.lit("und"))
    for lg in LANG_MARKERS:  # first max wins, fixed order
        guess = guess.when(F.col(f"c_{lg}") == best, F.lit(lg))
    return scored.select("doc_id", guess.alias("lang_guess"))


def _sql_langid() -> str:
    cols = ",\n    ".join(
        "len(list_filter(t, x -> x IN ({}))) AS c_{}".format(
            ", ".join(f"'{w}'" for w in ws), lg
        )
        for lg, ws in LANG_MARKERS.items()
    )
    all_c = ",".join(f"c_{lg}" for lg in LANG_MARKERS)
    # EVERY language gets a WHEN arm (no ELSE): for a NULL-text row all
    # counts are NULL, every comparison is NULL, and the CASE's implicit
    # NULL matches the Spark side's chained when() with no otherwise — an
    # ELSE '<last-language>' would stamp NULL text with a language
    cases = "\n       ".join(
        f"WHEN c_{lg} = greatest({all_c}) THEN '{lg}'"
        for lg in LANG_MARKERS
    )
    return f"""
WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS t FROM documents),
scored AS (
  SELECT doc_id,
    {cols}
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest({all_c}) = 0 THEN 'und'
       {cases}
       END AS lang_guess
FROM scored
"""


SQL_LANGID = _sql_langid()


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline) — THE production
    operator (operators/ann.brute_force_topk), not a line-for-line copy
    of it: the oracle row then verifies the exact code path users run."""
    from lsh_qd_spark.operators.ann import brute_force_topk

    emb = _embeddings(spark, sf_dir)
    return brute_force_topk(
        emb, emb.where(F.col("vec_id") < ANN_N_QUERIES), ANN_TOP_K
    ).select(
        F.col("query_id"), F.col("rank"), F.col("neighbor_id"), F.col("cosine")
    )


SQL_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {ANN_N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {DUCK_COSINE.format(a='q.qe', b='e.embedding')} AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {ANN_TOP_K}
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force; the oracle twin
    of the LSH-accelerated variant in operators/ann.py)."""
    from lsh_qd_spark.operators.ann import (
        cosine_from_norms,
        dot_expr,
        norm_expr,
    )

    emb = _embeddings(spark, sf_dir)
    # per-ROW norm precompute (guide §1.2): the all-pairs join evaluates
    # cosine O(n²) times — inlining cosine_expr would re-fold each
    # vector's norm once per pair. Same fold, same operand order, same
    # doubles as cosine_expr (the oracle hash is unchanged).
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        norm_expr(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        norm_expr(F.col("embedding")).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                dot_expr(F.col("ea"), F.col("eb")),
                F.col("_na"),
                F.col("_nb"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= NEAR_DUP_COSINE)
    )


SQL_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {DUCK_COSINE.format(a='a.embedding', b='b.embedding')} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {DUCK_COSINE.format(a='a.embedding', b='b.embedding')} >= {NEAR_DUP_COSINE}
"""


# GPT-2-style pre-tokenizer pattern, lookahead-free so the SAME string is
# valid for Java regex (Spark) and RE2 (DuckDB). Non-capturing group + an
# explicit group index 0 on both engines (their defaults differ).
# explicit whitespace class, NOT \\s: Java's \\s includes \\x0b, RE2's does
# not — the shared-verbatim string must mean the same thing in both
# engines or token counts silently desynchronize (the DUCK_NORM rule)
_WS = " \\t\\n\\x0b\\f\\r"
BPE_TOKEN_RE = (
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+"
    f"| ?[^{_WS}\\p{{L}}\\p{{N}}]+|[{_WS}]+"
)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting: whitespace tokens and a BPE-ish
    pre-tokenizer count (the two counters an LLM-data pipeline budgets by)."""
    docs = _docs(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.size(tokens(txt)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(BPE_TOKEN_RE), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(coalesce(len({DUCK_TOKS}), 0) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(coalesce(text, ''),
                                   '{BPE_TOKEN_RE.replace("'", "''")}', 0))
            AS BIGINT) AS bpe_tokens
FROM documents
"""


# --- cross-document boilerplate-segment dedup (C4/CCNet-style) -------------
# The classic training-corpus cleaning step: a text unit repeated across
# many documents is boilerplate (navigation, legal footers, templates) and
# is removed from every document. C4 used newline-delimited lines with an
# occurrence threshold of 3; the driver tables are flat token streams, so
# the unit here is a fixed non-overlapping SEG_LEN-token window — the
# operator shape (segment → global document-frequency → flag → account)
# is identical. Scale: one shuffle keyed by segment string (near-unique
# keys — no skew; the hot-key analog is bounded because each doc emits
# only n/SEG_LEN non-overlapping segments), one join back, one per-doc
# re-aggregation. At 100 TB the segment key would be xxhash64(seg) and the
# per-doc rebuild would subtract flagged windows; the oracle keys by the
# segment string itself so both engines agree exactly.
SEG_LEN = 10
SEG_BOILER_DF = 3  # C4's "appears in >= 3 documents" rule


def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_segments, boiler_segments, kept_tokens): per-document
    boilerplate accounting under cross-corpus segment dedup."""
    from lsh_qd_spark.operators.clean import token_segments

    docs = _docs(spark, sf_dir)
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    n = F.size(toks)
    # the ONE segmentation rule, shared with operators/clean.py so the
    # accounting and the transformation cannot drift
    segs = token_segments(toks, SEG_LEN)
    base = docs.select("doc_id", n.alias("_n"), segs.alias("_segs"))
    # eager localCheckpoint: the exploded segment rows feed the
    # document-frequency aggregation AND the per-doc join below —
    # unmaterialized, the tokenize+segment expression chain runs twice
    exploded = base.select(
        "doc_id", F.explode("_segs").alias("seg")
    ).localCheckpoint(eager=True)
    seg_df = exploded.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("seg_df")
    )
    per_doc = (
        exploded.join(seg_df, "seg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(
                F.when(F.col("seg_df") >= SEG_BOILER_DF, 1).otherwise(0)
            ).alias("boiler_segments"),
        )
    )
    return (
        base.select("doc_id", "_n")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            F.coalesce("boiler_segments", F.lit(0))
            .cast("long")
            .alias("boiler_segments"),
            (
                F.col("_n")
                - SEG_LEN * F.coalesce("boiler_segments", F.lit(0))
            )
            .cast("long")
            .alias("kept_tokens"),
        )
    )


SQL_BOILERPLATE_SEGMENTS = f"""
WITH toks AS (SELECT doc_id, coalesce({DUCK_TOKS}, []) AS t FROM documents),
seglists AS (
  SELECT doc_id, len(t) AS n,
         list_transform(range(CAST(len(t) // {SEG_LEN} AS BIGINT)),
                        i -> array_to_string(
                               t[i*{SEG_LEN}+1 : i*{SEG_LEN}+{SEG_LEN}], ' '))
           AS segs
  FROM toks
),
segs AS (SELECT doc_id, unnest(segs) AS seg FROM seglists),
df AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg),
perdoc AS (
  SELECT s.doc_id,
         count(*) AS n_segments,
         sum(CASE WHEN d.seg_df >= {SEG_BOILER_DF} THEN 1 ELSE 0 END)
           AS boiler_segments
  FROM segs s JOIN df d USING (seg) GROUP BY s.doc_id
)
SELECT l.doc_id,
       CAST(coalesce(p.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(coalesce(p.boiler_segments, 0) AS BIGINT) AS boiler_segments,
       CAST(l.n - {SEG_LEN} * coalesce(p.boiler_segments, 0) AS BIGINT)
         AS kept_tokens
FROM seglists l LEFT JOIN perdoc p USING (doc_id)
"""


# --- PII redaction (CCNet/Dolma-style pre-release scrub) -------------------
# The synthetic driver text carries no PII, so the query plants one email,
# one IPv4, and one phone per document DETERMINISTICALLY from doc_id — with
# the identical concat expression in both engines — then runs the real
# operator (operators/redact.py). The redacted string itself is a compared
# column, so the sequential replace semantics are value-hash-checked, not
# just the counts.


def _pii_augmented_spark() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com via 10."),
        (d % 256).cast("string"),
        F.lit(".0.1 or +1 "),
        (F.lit(200) + d % 800).cast("string"),
        F.lit("-"),
        (F.lit(1000) + d % 9000).cast("string"),
    )


_PII_AUG_SQL = (
    "coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com via 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.1 or +1 ' || CAST(200 + doc_id % 800 AS VARCHAR)"
    " || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_phone, redacted): the PII scrub over
    the (deterministically augmented) documents table."""
    from lsh_qd_spark.operators.redact import PII_RULES, pii_scrub

    docs = _docs(spark, sf_dir)
    raw_counts, redacted = pii_scrub(_pii_augmented_spark())
    counts = [
        c.cast("long").alias(f"n_{name}")
        for c, (name, *_) in zip(raw_counts, PII_RULES)
    ]
    return docs.select("doc_id", *counts, redacted.alias("redacted"))


def _sql_pii_redaction() -> str:
    """Generated from operators/redact.PII_RULES — the same pattern
    strings the Spark expression compiles, applied in the same order
    (DuckDB regexp_replace needs the explicit 'g' flag; Spark's is
    global by default)."""
    from lsh_qd_spark.operators.redact import PII_RULES

    ctes = [f"r0 AS (SELECT doc_id, {_PII_AUG_SQL} AS t0 FROM documents)"]
    counts = []
    step = 0
    for name, pat, repl, n_passes in PII_RULES:
        # group-reference translation: PII_RULES carries Java replacement
        # syntax ($1); RE2 (DuckDB) wants \1. Mechanical, so the rules
        # stay a single source of truth for both engines.
        duck_repl = repl.replace("$", "\\")
        # one CTE per PASS (pii_scrub's loop), count summed across passes
        pass_counts = []
        for _ in range(n_passes):
            pass_counts.append(
                # COALESCE mirrors pii_scrub: NULL text audits as 0 matches
                f"CAST(COALESCE(len(regexp_extract_all(t{step}, '{pat}')), "
                f"0) AS BIGINT)"
            )
            ctes.append(
                f"r{step + 1} AS (SELECT *, regexp_replace(t{step}, "
                f"'{pat}', '{duck_repl}', 'g') AS t{step + 1} FROM r{step})"
            )
            step += 1
        counts.append(" + ".join(pass_counts) + f" AS n_{name}")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT doc_id, "
        + ", ".join(counts)
        + f", t{step} AS redacted FROM r{step}"
    )


SQL_PII_REDACTION = _sql_pii_redaction()


# --- benchmark decontamination (GPT-3 13-gram rule shape) -------------------
# Eval set = every 20th doc_id — a deterministic, engine-identical split of
# the driver table standing in for a benchmark suite. k matches the oracle
# dedup shingle size so the planted near-duplicates produce real overlap
# (at sf0.01: 2 contaminated train docs). Production uses k=13 over
# xxhash64 gram ids (operators/decontam.py); the oracle joins gram STRINGS
# so both engines compare exact values.
DECONTAM_K = 5
DECONTAM_EVAL_MOD = 20


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shared_grams): train docs sharing ≥ 1 distinct k-gram
    with the deterministic eval split."""
    from lsh_qd_spark.operators.decontam import contamination

    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    tr = docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    out = contamination(tr, ev, k=DECONTAM_K, hash_family="string")
    return out.select("doc_id", F.col("n_shared_grams").cast("long"))


SQL_DECONTAM_OVERLAP = f"""
WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS t FROM documents),
grams AS (
  -- STRICT k-grams (no sub-k whole-doc fallback), mirroring
  -- operators/decontam._strict_gram_strings: docs shorter than k tokens
  -- emit no grams under the published rule
  SELECT doc_id,
    CASE WHEN len(t) >= {DECONTAM_K} THEN
      list_transform(range(1, len(t) - {DECONTAM_K - 2}),
                     i -> array_to_string(
                            list_slice(t, i, i + {DECONTAM_K - 1}), ' '))
    ELSE [] END AS g
  FROM toks
),
dg AS (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM grams),
ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % {DECONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id, gram FROM dg WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM tr JOIN ev USING (gram) GROUP BY doc_id
"""


# --- repetition filters (Gopher A1.1 family) --------------------------------
# The driver corpus has no newlines, so line structure is synthesized
# deterministically in BOTH engines: tokens chunked into 5-token lines
# (positions sequence(1, n, 5) — identical stepping in Spark and DuckDB)
# joined by chr(10). The Spark side then runs the real operator
# (operators/repetition.py — 0-shuffle sorted-array run-length pass);
# the twin computes the same definitions via unnest + GROUP BY, an
# independent strategy over the same exact-count semantics.
REP_LINE_TOKENS = 5


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_2gram_char_frac, dup_5gram_frac) over the documents table with
    synthesized 5-token lines."""
    from lsh_qd_spark.functions.text import tokens
    from lsh_qd_spark.operators.repetition import repetition_features

    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    # Drop zero-token docs BEFORE building lines (mirrors the twin's
    # `base` CTE): F.sequence(1, 0, 5) throws IllegalArgumentException
    # ("Illegal sequence boundaries") on empty/whitespace-only text,
    # and the physical Filter sits below the Project so filtered rows
    # never reach the sequence expression.
    docs = docs.filter(F.size(toks) > 0)
    lined = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(1), F.size(toks), F.lit(REP_LINE_TOKENS)),
            lambda pos: F.concat_ws(
                " ", F.slice(toks, pos, REP_LINE_TOKENS)
            ),
        ),
    )
    return repetition_features(
        docs.select("doc_id", lined.alias("text")),
        top_ngram_ns=(2,),
        dup_ngram_ns=(5,),
    )


SQL_REPETITION_SCORES = f"""
WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS t FROM documents),
base AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
lined AS (
  SELECT doc_id, t,
    list_transform(range(1, len(t) + 1, {REP_LINE_TOKENS}),
                   pos -> array_to_string(
                            t[pos : pos + {REP_LINE_TOKENS - 1}], ' ')) AS l,
    len(array_to_string(t, ' ')) AS total_chars
  FROM base
),
linef AS (
  SELECT doc_id, t, l, total_chars,
    CAST(len(l) AS BIGINT) AS n_lines,
    CAST(len(list_distinct(l)) AS BIGINT) AS nd_lines,
    CAST(list_sum(list_transform(l, x -> len(x))) AS BIGINT) AS s_all,
    CAST(list_sum(list_transform(list_distinct(l), x -> len(x)))
         AS BIGINT) AS s_dist,
    CASE WHEN len(t) >= 5 THEN
      list_transform(range(1, len(t) - 3), i ->
                     array_to_string(t[i : i + 4], ' '))
    ELSE [] END AS g5
  FROM lined
),
g2 AS (
  SELECT doc_id,
    unnest(CASE WHEN len(t) >= 2 THEN
      list_transform(range(1, len(t)), i ->
                     array_to_string(t[i : i + 1], ' '))
    ELSE [] END) AS gram
  FROM base
),
top2 AS (
  -- c >= 2 mirrors operators/repetition._top_gram_chars: a gram that
  -- occurs once is not repetition (short docs must not be flagged)
  SELECT doc_id, max(c * len(gram)) AS top_chars
  FROM (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2)
  WHERE c >= 2
  GROUP BY doc_id
)
SELECT f.doc_id,
  n_lines,
  1.0 * (n_lines - nd_lines) / n_lines AS dup_line_frac,
  1.0 * (s_all - s_dist) / s_all AS dup_line_char_frac,
  least(1.0, 1.0 * COALESCE(top_chars, 0) / total_chars)
    AS top_2gram_char_frac,
  CASE WHEN len(g5) > 0
       THEN 1.0 * (len(g5) - len(list_distinct(g5))) / len(g5)
       ELSE 0.0 END AS dup_5gram_frac
FROM linef f LEFT JOIN top2 USING (doc_id)
"""


SQL_QUERIES: dict[str, str] = {
    "boilerplate_segments": SQL_BOILERPLATE_SEGMENTS,
    "pii_redaction": SQL_PII_REDACTION,
    "decontam_overlap": SQL_DECONTAM_OVERLAP,
    "repetition_scores": SQL_REPETITION_SCORES,
    "exact_dup_clusters": SQL_EXACT_DUP,
    "doc_stats": SQL_DOC_STATS,
    "minhash_buckets": SQL_MINHASH_BUCKETS,
    "candidate_pairs": SQL_CANDIDATE_PAIRS,
    "query_mode_neighbors": SQL_QUERY_MODE_NEIGHBORS,
    "alpha_tier_sizes": SQL_ALPHA_TIER_SIZES,
    "ranked_tiers": SQL_RANKED_TIERS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "verified_pairs": SQL_VERIFIED_PAIRS,
    "dup_clusters": SQL_DUP_CLUSTERS,
    "cluster_sizes": SQL_CLUSTER_SIZES,
    "dedup_survivors": SQL_DEDUP_SURVIVORS,
    "jaccard_histogram": SQL_JACCARD_HISTOGRAM,
    "cluster_stats": SQL_CLUSTER_STATS,
    "token_totals": SQL_TOKEN_TOTALS,
    "token_counts": SQL_TOKEN_COUNTS,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "quality_scores": SQL_QUALITY_SCORES,
    "langid": SQL_LANGID,
    "ann_cosine_topk": SQL_ANN_TOPK,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
}

SPARK_QUERIES = {
    "boilerplate_segments": q_boilerplate_segments,
    "pii_redaction": q_pii_redaction,
    "decontam_overlap": q_decontam_overlap,
    "repetition_scores": q_repetition_scores,
    "exact_dup_clusters": q_exact_dup_clusters,
    "doc_stats": q_doc_stats,
    "minhash_buckets": q_minhash_buckets,
    "candidate_pairs": q_candidate_pairs,
    "query_mode_neighbors": q_query_mode_neighbors,
    "alpha_tier_sizes": q_alpha_tier_sizes,
    "ranked_tiers": q_ranked_tiers,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "verified_pairs": q_verified_pairs,
    "dup_clusters": q_dup_clusters,
    "cluster_sizes": q_cluster_sizes,
    "dedup_survivors": q_dedup_survivors,
    "jaccard_histogram": q_jaccard_histogram,
    "cluster_stats": q_cluster_stats,
    "token_totals": q_token_totals,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "quality_scores": q_quality_scores,
    "langid": q_langid,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_near_dup": q_embedding_near_dup,
}
