"""Non-core operator queries + their DuckDB oracle twins.

Round 1 shipped these four as rows-only checks; round 2 adds real ANSI-SQL
twins for all four. ``simhash_near_dup``, ``pstable_buckets`` and
``ann_lsh_topk`` use the same literal-coefficient
``list_reduce``/``list_transform`` technique as lsh_qd_spark/oracle.py.
``suffix_exact_overlap`` (suffix-array LCS, operators/suffix.py) gets an
exact SQL twin via the diagonal-runs characterization of the longest common
substring: for alignment offset d = i - j, the LCS restricted to d is the
longest run of consecutive positions with a[i] = b[i-d]; the LCS is the max
run over all diagonals — a char-equality join + gaps-and-islands window,
no suffix array needed at oracle scale.

Float determinism: every dot product that feeds a *discrete* decision
(``floor`` bucket, ``> 0`` sign bit) is computed by NumPy matmul on the
Spark side and a sequential ``list_reduce`` fold in DuckDB. The two differ
by ~1 ulp, which flips the discrete output only when the value lands within
~1e-13 of a boundary — probability ~1e-10 across the whole sf0.01 table.
Continuous outputs (cosine) use the identical sequential fold on both sides
(bit-exact), as in oracle.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_qd_spark.functions.pstable import make_pstable_udf, pstable_coefficients
from lsh_qd_spark.functions.simhash import (
    N_CHUNKS,
    hamming_expr,
    make_simhash_udf,
    simhash_chunks,
)
from lsh_qd_spark.functions.text import normalize_text
from lsh_qd_spark.operators.ann import (
    hyperplane_coefficients,
    ivf_centroids,
    ivf_topk,
    lsh_topk,
)
from lsh_qd_spark.operators.band import band_buckets
from lsh_qd_spark.operators.pairs import _full_pairs, bounded_broadcast
from lsh_qd_spark.operators.suffix import exact_overlap
from lsh_qd_spark.oracle import (
    # ANN_N_QUERIES/ANN_TOP_K are shared with the brute-force twin
    # ann_cosine_topk: re-declaring them here would let a retune of the
    # oracle's query set silently desynchronize approximate-vs-exact
    ANN_N_QUERIES,
    ANN_TOP_K,
    DUCK_COSINE,
    ORACLE_CFG,
    _docs,
    _embeddings,
    duck_shingles_cte,
)
from lsh_qd_spark.plans.pipeline import DedupPipeline

# 4x16-bit chunk banding is a COMPLETE candidate generator only for Hamming
# <= N_CHUNKS - 1 = 3 (pigeonhole; tests/test_simhash.py pins this), so the
# verify radius must not exceed it.
SIMHASH_MAX_HAMMING = N_CHUNKS - 1
PSTABLE_R = 4.0
PSTABLE_NUM_HASHES = 8
SUFFIX_MIN_OVERLAP = 40
ANN_N_TABLES = 12
ANN_BITS_PER_TABLE = 8
EMB_DIMS = 64
IVF_N_CENTROIDS = 16
IVF_NPROBE = 4


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: fingerprint → 16-bit chunk buckets →
    candidate pairs → Hamming verify (the H7 path of SURVEY.md §2.2)."""
    docs = _docs(spark, sf_dir)
    pipe = DedupPipeline(ORACLE_CFG)
    shingled = pipe.shingle(docs)
    udf = make_simhash_udf()
    # the size>0 pre-filter already guarantees non-null fingerprints; a
    # post-filter on the UDF output would double-evaluate the kernel
    fp = shingled.where(F.size("shingles") > 0).select(
        "doc_id", udf(F.col("shingles")).alias("simhash")
    )
    # eager localCheckpoint: fp has two consumers below (chunk banding +
    # the gated fingerprint table) — unmaterialized, each re-runs the
    # whole shingle + simhash kernel chain (measured: ~4x the query's wall
    # time). Blocks are reference-tracked (freed with the plan).
    fp = fp.localCheckpoint(eager=True)
    # Verify-before-shuffle candidate flow (optimization guide §2.3
    # "aggregate/filter before you shuffle"). The generic candidate_pairs
    # operator counts per-pair band collisions FIRST — a wide
    # groupBy(id_a, id_b) exchange over every within-bucket pair. This
    # query discards that count (alpha=1, no n_bands output), and the
    # oracle corpus makes the pair set quadratic by construction: shingle
    # ids are poly hashes < 2^31, so simhash bits 32–63 are 0 for EVERY
    # document and chunks 2–3 are each one corpus-wide bucket —
    # C(n,2) candidate pairs (12.5M at sf0.1) were being shuffled to
    # count bands nobody read (measured: ~22 s of the query's 28 s).
    # Instead: explode within-bucket pairs (narrow JVM), attach both
    # fingerprints by BROADCAST join (fp is id+int64 — tiny; still one row
    # per document, so it broadcasts only under the size gate), filter
    # Hamming ≤ r BEFORE any exchange, and dedup only the survivors.
    # Result-identical: the same candidate set reaches the same Hamming
    # cut; a pair colliding in several chunks yields identical rows that
    # dropDuplicates collapses — the oracle twin pins the equivalence.
    members = (
        simhash_chunks(fp)
        .groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("members"))
        .where(F.size("members") >= 2)
    )
    exploded = members.select(
        F.explode(_full_pairs(F.col("members"))).alias("pr")
    ).select(F.col("pr.id_a"), F.col("pr.id_b"))
    # gated separately from fp: a hint on fp itself would be pulled up
    # through the chunk banding onto the exploded pairs side
    f, _ = bounded_broadcast(
        fp.select(
            F.col("doc_id").alias("_fid"), F.col("simhash").alias("_fh")
        )
    )
    return (
        exploded.join(f.withColumnRenamed("_fid", "id_a"), "id_a")
        .withColumnRenamed("_fh", "h_a")
        .join(f.withColumnRenamed("_fid", "id_b"), "id_b")
        .withColumnRenamed("_fh", "h_b")
        .select(
            "id_a",
            "id_b",
            hamming_expr(F.col("h_a"), F.col("h_b")).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["id_a", "id_b"])
    )


def _sql_simhash_near_dup() -> str:
    """DuckDB twin of q_simhash_near_dup. The 64-bit majority vote is
    unrolled per bit: bit j set iff 2*|{h in shingles : bit_j(h)}| > |sh|.
    Shingles are poly hashes mod HASH_M < 2^31, so all values (and the
    fingerprint) are non-negative — BIGINT shifts are safe."""
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(shingles, h -> (h >> {j}) & 1 = 1)) "
        f"> len(shingles) THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(31)  # bits 31..63 are always 0 (shingle < 2^31)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, (simhash >> {i * 16}) & 65535 AS band_key FROM fp"
        for i in range(N_CHUNKS)
    )
    return f"""
WITH {duck_shingles_cte(ORACLE_CFG.shingle_k)},
fp AS (
  SELECT doc_id, {bit_terms} AS simhash
  FROM sh WHERE len(shingles) > 0
),
chunks AS (
  {chunk_selects}
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM chunks x JOIN chunks y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.id_a
JOIN fp fb ON fb.doc_id = c.id_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def _duck_dot(vec_expr: str, coeffs: np.ndarray) -> str:
    """Sequential-fold dot(vec, literal coeffs) — DOUBLE, deterministic."""
    lits = "[" + ", ".join(repr(float(c)) for c in coeffs) + "]"
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(list_zip({vec_expr}, {lits}), "
        "p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, x) -> acc + x)"
    )


def q_pstable_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-stable (E2LSH) bucketing of the embeddings table: buckets with ≥2
    vectors (the H4/H5 path; join-ready candidate structure)."""
    emb = _embeddings(spark, sf_dir)
    a, b = pstable_coefficients(
        num_hashes=PSTABLE_NUM_HASHES, n_dims=EMB_DIMS, r=PSTABLE_R, seed=42
    )
    udf = make_pstable_udf(a, b, PSTABLE_R)
    sigs = emb.select(
        F.col("vec_id").alias("doc_id"), udf(F.col("embedding")).alias("sig")
    )
    buckets = band_buckets(sigs, rows_per_band=2, num_bands=4, key_mode="str")
    return (
        buckets.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("n_vecs"), F.min("doc_id").alias("min_vec_id"))
        .where(F.col("n_vecs") >= 2)
    )


def _sql_pstable_buckets() -> str:
    """DuckDB twin of q_pstable_buckets: floor((x·a_j + b_j)/r) with the
    same literal Gaussian coefficients (pstable_coefficients seed=42),
    banded 2 rows × 4 bands with comma-joined string keys (band.py:25)."""
    a, b = pstable_coefficients(
        num_hashes=PSTABLE_NUM_HASHES, n_dims=EMB_DIMS, r=PSTABLE_R, seed=42
    )
    sig_cols = ", ".join(
        f"CAST(floor(({_duck_dot('embedding', a[j])} + {float(b[j])!r}) "
        f"/ {PSTABLE_R!r}) AS BIGINT) AS s{j}"
        for j in range(PSTABLE_NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, "
        f"CAST(s{2 * i} AS VARCHAR) || ',' || CAST(s{2 * i + 1} AS VARCHAR) "
        f"AS band_key FROM sigs"
        for i in range(4)
    )
    return f"""
WITH sigs AS (
  -- the NULL/empty guard mirrors the Spark side: make_pstable_udf hashes
  -- dead embeddings to a NULL sig and band_buckets drops them; without
  -- this filter DuckDB would fold NULL band_keys and GROUP them together
  SELECT vec_id AS doc_id, {sig_cols} FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
bands AS (
  {band_selects}
)
SELECT band_idx, band_key, COUNT(*) AS n_vecs, MIN(doc_id) AS min_vec_id
FROM bands GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-accelerated cosine top-k (approximate twin of ann_cosine_topk)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return lsh_topk(
        emb,
        queries,
        k=ANN_TOP_K,
        n_tables=ANN_N_TABLES,
        bits_per_table=ANN_BITS_PER_TABLE,
        n_dims=EMB_DIMS,
    )


def _sql_ann_lsh_topk() -> str:
    """DuckDB twin of q_ann_lsh_topk: per-table sign-pattern bucket keys
    from the same literal hyperplanes (hyperplane_coefficients seed=42),
    candidate equi-join on (table_idx, band_key), sequential-fold cosine,
    deterministic rank."""
    planes = hyperplane_coefficients(ANN_N_TABLES, ANN_BITS_PER_TABLE, EMB_DIMS, 42)
    key_selects = []
    for t in range(ANN_N_TABLES):
        bits = " + ".join(
            f"(CASE WHEN {_duck_dot('embedding', planes[t * ANN_BITS_PER_TABLE + i])} "
            f"> 0 THEN {1 << i} ELSE 0 END)"
            for i in range(ANN_BITS_PER_TABLE)
        )
        key_selects.append(
            f"SELECT vec_id, {t} AS table_idx, CAST({bits} AS BIGINT) "
            f"AS band_key FROM embeddings"
        )
    keys_cte = " UNION ALL ".join(key_selects)
    return f"""
WITH keys AS (
  {keys_cte}
),
cand AS (
  SELECT DISTINCT kq.vec_id AS query_id, kc.vec_id AS neighbor_id
  FROM keys kq JOIN keys kc
    ON kq.table_idx = kc.table_idx AND kq.band_key = kc.band_key
  WHERE kq.vec_id < {ANN_N_QUERIES} AND kc.vec_id <> kq.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         {DUCK_COSINE.format(a='qe.embedding', b='ne.embedding')} AS cosine
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {ANN_TOP_K}
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat cosine top-k (inverted-file variant of ann_lsh_topk)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return ivf_topk(
        emb,
        queries,
        k=ANN_TOP_K,
        n_centroids=IVF_N_CENTROIDS,
        nprobe=IVF_NPROBE,
        n_dims=EMB_DIMS,
    )


def _sql_ann_ivf_topk() -> str:
    """DuckDB twin of q_ann_ivf_topk: same literal unit centroids
    (ivf_centroids seed=42); corpus cell = first argmax of the dot list
    (list_position on list_max — first occurrence, matching NumPy stable
    argsort tie order); query probes = top-nprobe by (d DESC, cell ASC)."""
    cents = ivf_centroids(IVF_N_CENTROIDS, EMB_DIMS, 42)
    dots = ", ".join(_duck_dot("embedding", cents[c]) for c in range(IVF_N_CENTROIDS))
    return f"""
WITH dl AS (
  SELECT vec_id, [{dots}] AS ds FROM embeddings
),
cells AS (
  SELECT vec_id, CAST(list_position(ds, list_max(ds)) - 1 AS BIGINT) AS cell
  FROM dl
),
probe0 AS (
  SELECT vec_id, unnest(generate_series(0, {IVF_N_CENTROIDS - 1})) AS cell,
         unnest(ds) AS d
  FROM dl WHERE vec_id < {ANN_N_QUERIES}
),
probes AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d DESC, cell ASC) AS rn
    FROM probe0
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN cells c ON p.cell = c.cell
  WHERE c.vec_id <> p.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         {DUCK_COSINE.format(a='qe.embedding', b='ne.embedding')} AS cosine
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {ANN_TOP_K}
"""


def q_suffix_exact_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-overlap lengths (suffix-array LCS) for verified near-dup pairs.
    Spark side runs the rank-doubling SA + Kasai LCP kernel
    (operators/suffix.py); the SQL twin computes the same LCS via
    diagonal runs (see module docstring)."""
    from lsh_qd_spark.oracle import q_verified_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id", normalize_text(F.col("text")).alias("text_norm")
    )
    pairs = q_verified_pairs(spark, sf_dir)
    return exact_overlap(pairs, docs, min_len=SUFFIX_MIN_OVERLAP)


def _sql_suffix_exact_overlap() -> str:
    """DuckDB twin of q_suffix_exact_overlap. Exact: LCS(a, b) is the longest
    run of consecutive char matches along one alignment diagonal d = i - j.
    Join the two char sequences on char equality, then gaps-and-islands per
    (pair, d): consecutive i's in a diagonal share `i - ROW_NUMBER()`."""
    from lsh_qd_spark.oracle import (
        DUCK_NORM,
        DUCK_PAIRS_CTE,
        duck_bands_cte,
        duck_verified_cte,
    )

    return f"""
WITH {duck_bands_cte(ORACLE_CFG)},
{DUCK_PAIRS_CTE},
{duck_verified_cte(ORACLE_CFG.jaccard_threshold)},
norm AS (SELECT doc_id, {DUCK_NORM} AS txt FROM documents),
pt AS (
  SELECT v.id_a, v.id_b, na.txt AS ta, nb.txt AS tb
  FROM verified v
  JOIN norm na ON na.doc_id = v.id_a
  JOIN norm nb ON nb.doc_id = v.id_b
),
ca AS (
  SELECT id_a, id_b,
         unnest(generate_series(1, length(ta))) AS i,
         unnest(string_split(ta, '')) AS ch
  FROM pt
),
cb AS (
  SELECT id_a, id_b,
         unnest(generate_series(1, length(tb))) AS j,
         unnest(string_split(tb, '')) AS ch
  FROM pt
),
m AS (
  SELECT ca.id_a, ca.id_b, ca.i, cb.j
  FROM ca JOIN cb ON ca.id_a = cb.id_a AND ca.id_b = cb.id_b AND ca.ch = cb.ch
),
runs AS (
  SELECT id_a, id_b, i, i - j AS d,
         i - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, i - j ORDER BY i) AS grp
  FROM m
),
lens AS (
  SELECT id_a, id_b, COUNT(*) AS run_len
  FROM runs GROUP BY id_a, id_b, d, grp
)
SELECT id_a, id_b, CAST(MAX(run_len) AS BIGINT) AS overlap_len
FROM lens GROUP BY 1, 2 HAVING MAX(run_len) >= {SUFFIX_MIN_OVERLAP}
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl collapse (operators/recrawl.py) as an oracle-checked query.

    The driver tables carry no URL column, so both engines CONSTRUCT one
    deterministically from doc_id — five spellings per page group (plain /
    www+fragment / uppercase scheme+host+default port / trailing slash +
    tracking param / tracking-only query), all of which must canonicalize
    to one key — then elect the latest snapshot with doc_id as the
    recency stand-in. The Spark side runs the production operator
    (regexp-chain canonicalization + skinny max_by election); the DuckDB
    twin re-derives the canonical form with its own string functions, so
    the two canonicalizers genuinely cross-check.
    """
    from lsh_qd_spark.operators.recrawl import latest_snapshot

    d = _docs(spark, sf_dir).select("doc_id")
    page = F.col("doc_id") % 100
    # variant residue must be INDEPENDENT of the page-group key: the
    # modulus divides 100, so doc_id % 6 would be constant within a page
    # group and every group would hold one spelling — the cross-spelling
    # collapse the component exists for would go untested
    v = F.floor(F.col("doc_id") / 100) % 6
    url = (
        F.when(v == 0, F.concat(F.lit("https://example.com/p/"), page))
        .when(v == 1, F.concat(F.lit("https://www.example.com/p/"), page,
                               F.lit("#frag")))
        .when(v == 2, F.concat(F.lit("HTTPS://EXAMPLE.COM:443/p/"), page))
        .when(v == 3, F.concat(F.lit("https://example.com/p/"), page,
                               F.lit("/?utm_source=feed")))
        .when(v == 4, F.concat(F.lit("https://example.com/p/"), page,
                               F.lit("?UTM_Campaign=x&Gclid=1")))
        # userinfo spelling: credentials must be stripped from the
        # canonical key, and www./port stripping must still fire behind
        # the 'user@'
        .otherwise(F.concat(F.lit("https://bob@www.example.com:443/p/"),
                            page))
    )
    pages = d.select("doc_id", url.alias("url"), F.col("doc_id").alias("ts"))
    return latest_snapshot(pages, ts_col="ts").select(
        "canonical_url", "doc_id", "n_snapshots"
    )


_SQL_URL_DEDUP = r"""
WITH urls AS (
  SELECT doc_id,
    CASE CAST((doc_id // 100) % 6 AS INT)
      WHEN 0 THEN 'https://example.com/p/' || (doc_id % 100)
      WHEN 1 THEN 'https://www.example.com/p/' || (doc_id % 100) || '#frag'
      WHEN 2 THEN 'HTTPS://EXAMPLE.COM:443/p/' || (doc_id % 100)
      WHEN 3 THEN 'https://example.com/p/' || (doc_id % 100) || '/?utm_source=feed'
      WHEN 4 THEN 'https://example.com/p/' || (doc_id % 100) || '?UTM_Campaign=x&Gclid=1'
      ELSE 'https://bob@www.example.com:443/p/' || (doc_id % 100)
    END AS url
  FROM documents
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                         '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(url, '#.*$', ''),
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM urls
), comps AS (
  SELECT doc_id, scheme,
    -- userinfo strip first (greedy to last '@' — raw '@' cannot occur in
    -- a host), then FQDN trailing-dot strip split in two (RE2 has no
    -- lookahead): dots before the port colon, then dots at end of host
    regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(
        lower(regexp_extract(rest, '^([^/?]*)', 1)), '^.*@', ''),
                     '^www\.', ''),
      '\.+:', ':'), '\.+$', '') AS host0,
    regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM parts
), canon AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http'  THEN regexp_replace(host0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
         ELSE host0 END AS host,
    CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                             '/+$', '') = '' THEN '/'
         ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                             '/+$', '') END AS path,
    list_sort(list_filter(
      string_split(CASE WHEN contains(pathq, '?')
                        THEN regexp_replace(pathq, '^[^?]*\?', '')
                        ELSE '' END, '&'),
      kv -> kv <> '' AND NOT regexp_matches(
        kv, '(?i)^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)(=.*)?$')
    )) AS params
  FROM comps
)
SELECT
  scheme || '://' || host || path ||
    CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
         ELSE '' END AS canonical_url,
  MAX(doc_id) AS doc_id,
  COUNT(*) AS n_snapshots
FROM canon
GROUP BY 1
"""


SPARK_ONLY_QUERIES = {
    "simhash_near_dup": q_simhash_near_dup,
    "pstable_buckets": q_pstable_buckets,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "suffix_exact_overlap": q_suffix_exact_overlap,
    "url_dedup": q_url_dedup,
}

# DuckDB twins for the extras (built lazily: the SQL embeds ~6k literal
# coefficients).
def extra_sql_queries() -> dict[str, str]:
    return {
        "simhash_near_dup": _sql_simhash_near_dup(),
        "pstable_buckets": _sql_pstable_buckets(),
        "ann_lsh_topk": _sql_ann_lsh_topk(),
        "ann_ivf_topk": _sql_ann_ivf_topk(),
        "suffix_exact_overlap": _sql_suffix_exact_overlap(),
        "url_dedup": _SQL_URL_DEDUP,
    }
