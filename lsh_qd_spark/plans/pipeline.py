"""DedupPipeline — the staged, resumable dedup dataflow.

Replaces the reference's ``LSHContainer`` facade
(``/root/reference/lsh-qd.py:318-350``): where the container loops rows into
dict tables, the pipeline declares five DataFrame stages and lets Catalyst
plan them:

    docs → shingle → sign → band → pairs → verify → cluster

Each stage can be materialized to parquet with a manifest (config hash +
row count + per-partition lineage); a rerun with the same config hash reuses
completed stages — the north rule's "resume from checkpointed
signature/bucket/cluster stages". Without a checkpoint dir the pipeline runs
fully lazy/pipelined.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.functions.fast_shingle import (
    make_text_minhash_udf,
    make_text_shingles_udf,
)
from lsh_qd_spark.functions.minhash import production_minhash_udf
from lsh_qd_spark.functions.text import shingles as shingles_expr
from lsh_qd_spark.operators.band import band_buckets
from lsh_qd_spark.operators.cluster import connected_components
from lsh_qd_spark.operators.pairs import candidate_pairs
from lsh_qd_spark.operators.verify import verify_pairs, verify_pairs_text

_MULTI_CONSUMER_STAGES = {"buckets", "pairs", "verified"}

log = logging.getLogger(__name__)


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('16m', '128MB', '1g', '4194304')."""
    s = str(v).strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def spread_small_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive read parallelism (optimization guide §2.5 "input
    skew: one huge unsplittable file").

    A single-file/single-row-group parquet input scans as ONE task no
    matter how many cores the session has — every narrow chain above it
    (the signature kernel, verify text fetch, JVM expression maps) then
    runs sequentially. When the scan can produce fewer splits than the
    session's cores, round-robin repartition to a BYTES-PROPORTIONAL
    target (one partition per ~32 KB of compressed input, floor 4, capped
    at the core count — measured sweet spot: at sf0.1 the dedup pipeline
    is fastest near 8–16 partitions while heavy expression maps keep
    improving to 32; the bytes rule lands both within ~10% of their best
    and converges to the full core count as inputs grow). Inputs that
    already split well (the 64-file bench corpus, any at-scale table) are
    returned UNCHANGED, so this never adds a shuffle at real scale — it
    only rescues the degenerate small-input layout. Row set (and
    therefore every downstream result) is identical either way.

    Split capacity is estimated WITHOUT touching ``df.rdd`` (whose first
    DataFrame→RDD conversion costs seconds of cold driver time, measured
    inside the first query's timed window): ``df.inputFiles()`` plus
    driver-local file sizes bound the byte-range splits, and the parquet
    footer's row-group count caps them (a 1-row-group file yields ONE
    task regardless of byte ranges). Non-local or non-file-backed plans
    (catalog tables, in-memory test frames) are returned unchanged —
    conservative, never fatal: a failed estimate is logged as a warning
    and the input is returned as is.

    ``SPARK_GRAFT_SPREAD_SMALL_INPUT=0`` disables the rescue — used by
    plan_audit.py so BENCH/PLANS.md keeps pinning the AT-SCALE plan shape
    (where this helper is a no-op because real inputs split well) instead
    of the small-input rescue shape."""
    if os.environ.get("SPARK_GRAFT_SPREAD_SMALL_INPUT", "1") == "0":
        return df
    try:
        spark = df.sparkSession
        n = spark.sparkContext.defaultParallelism
        files = df.inputFiles()
        if not files or len(files) >= n:
            return df
        mpb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        splits = 0
        total_bytes = 0
        for uri in files:
            path = uri
            if path.startswith("file:"):
                path = path[5:]
                while path.startswith("//"):
                    path = path[1:]
            if not os.path.exists(path):
                return df  # non-local storage: leave the layout alone
            size = os.path.getsize(path)
            total_bytes += size
            est = max(1, -(-size // mpb))
            if est > 1 and path.endswith(".parquet"):
                try:  # byte ranges cannot split below row-group granularity
                    import pyarrow.parquet as _pq

                    est = min(
                        est,
                        _pq.ParquetFile(path).metadata.num_row_groups or 1,
                    )
                except Exception as e:  # noqa: BLE001 — estimate stays bytes-based
                    log.warning(
                        "spread_small_input: row groups of %s unreadable: %r",
                        path,
                        e,
                    )
            splits += est
            if splits >= n:
                return df
        target = min(n, max(4, total_bytes // 32768))
        if target <= splits:
            return df
        return df.repartition(target)
    except Exception as e:  # noqa: BLE001 — planning-only helper, never fatal
        log.warning("spread_small_input: input left as is: %r", e)
        return df


@dataclass
class StageMetrics:
    rows: int
    seconds: float
    partitions: int
    partition_rows: dict = field(default_factory=dict)


class StageStore:
    """Manifest-guarded stage materialization for resume + lineage.

    Stage tables and manifests (config hash + per-partition lineage) both
    live under a FILESYSTEM ``root`` — ``os.path.join(root, stage)`` always
    contains a ``/``, so lsh_qd_spark.io routes the data through its path
    branch. Catalog-identifier (Iceberg) stage tables would need a
    manifest-location scheme of their own (table properties or a manifests
    table); io.write_stage already supports identifiers, this store does
    not pretend to."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config_hash: str,
        input_token: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        # identity of the INPUT (source ref + prep flags): config_hash
        # alone cannot distinguish "same config, different corpus" — a
        # resumed run pointed at a new --input (or with changed prep
        # flags) would otherwise silently return the OLD corpus's stages.
        # None = caller declares no input identity (library use on
        # ephemeral DataFrames); a token-carrying caller never matches a
        # token-less manifest and vice versa.
        self.input_token = input_token
        if "://" not in root:
            os.makedirs(root, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        # plain string join, not os.path: the root may be a scheme-
        # qualified URI (hdfs://, s3a://) — manifest IO below goes through
        # the URI-safe io helpers for the same reason (driver-local
        # os.path on a remote root would silently lose resume: manifests
        # written to a junk local './hdfs:/...' dir, never found again)
        base = self.root.rstrip("/")
        return (f"{base}/{stage}", f"{base}/{stage}.manifest.json")

    def load(
        self, stage: str, identity: dict | None = None
    ) -> DataFrame | None:
        from lsh_qd_spark.io import _read_text, path_exists, read_stage

        data_path, manifest_path = self._paths(stage)
        if not path_exists(manifest_path, self.spark):
            return None
        manifest = json.loads(_read_text(manifest_path, self.spark))
        if manifest.get("config_hash") != self.config_hash:
            return None
        if manifest.get("input_token") != self.input_token:
            return None
        # per-stage identity: run()-level knobs that change a stage's
        # CONTENT without being part of DedupConfig (include_singletons on
        # the clusters stage). Old manifests lack the key and read as {} —
        # they match only an empty identity, so a knob-carrying stage
        # rebuilds once rather than resuming stale content.
        if manifest.get("identity", {}) != (identity or {}):
            return None
        return read_stage(self.spark, data_path)

    def save(
        self, stage: str, df: DataFrame, identity: dict | None = None
    ) -> tuple[DataFrame, StageMetrics]:
        from lsh_qd_spark.io import read_stage, write_stage

        data_path, manifest_path = self._paths(stage)
        t0 = time.time()
        write_stage(df, data_path, mode="overwrite")
        out = read_stage(self.spark, data_path)
        # Per-partition lineage: rows per output partition (north rule:
        # "per-partition lineage and metrics").
        part_rows = {
            str(r["pid"]): r["n"]
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        metrics = StageMetrics(
            rows=sum(part_rows.values()),
            seconds=round(time.time() - t0, 3),
            partitions=len(part_rows),
            partition_rows=part_rows,
        )
        from lsh_qd_spark.io import _write_text

        _write_text(
            manifest_path,
            json.dumps(
                {
                    "stage": stage,
                    "config_hash": self.config_hash,
                    "input_token": self.input_token,
                    "identity": identity or {},
                    "rows": metrics.rows,
                    "seconds": metrics.seconds,
                    "partitions": metrics.partitions,
                    "partition_rows": metrics.partition_rows,
                },
                indent=2,
            ),
            self.spark,
        )
        return out, metrics


class DedupPipeline:
    """End-to-end near-duplicate detection over a documents DataFrame."""

    def __init__(
        self,
        config: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.config = config or DedupConfig()
        self.checkpoint_dir = checkpoint_dir
        self.metrics: dict[str, StageMetrics] = {}
        # telemetry from the last clusters() resolution (path/n_edges/
        # iterations — see connected_components' ``stats``); benchmark and
        # endurance records read it after run()
        self.cc_stats: dict = {}
        # persist() handles created by run() without a checkpoint_dir —
        # released on the next run() or by release(); without this, every
        # run() stacks corpus-scale InMemoryRelation blocks in executor
        # storage for the life of the session (the very pattern
        # operators/pairs.py rejects for its own intermediates)
        self._persisted: list[DataFrame] = []

    # --- individual stages (each usable standalone) -------------------

    def shingle(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """(doc_id, shingles): distinct k-gram shingle hashes; empty docs
        yield empty/null arrays and are dropped downstream (reference
        empty-set skip, /root/reference/lsh-qd.py:196-197)."""
        c = self.config
        if c.shingle_hash == "fast":
            udf = make_text_shingles_udf(c.shingle_k)
            return docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(
                    udf(F.col(text_col)), F.array().cast("array<long>")
                ).alias("shingles"),
            )
        return docs.select(
            F.col(id_col).alias("doc_id"),
            shingles_expr(F.col(text_col), c.shingle_k, c.shingle_hash).alias(
                "shingles"
            ),
        )

    def signatures(self, shingled: DataFrame) -> DataFrame:
        """(doc_id, sig): flat band-major MinHash signature. The
        ``size(shingles) > 0`` pre-filter already guarantees non-null sigs
        (a post-filter on the UDF output would be pushed below the
        projection and double-evaluate the kernel)."""
        c = self.config
        udf = production_minhash_udf(c.num_hashes, c.seed)
        return shingled.where(F.size("shingles") > 0).select(
            "doc_id", udf(F.col("shingles")).alias("sig")
        )

    def signatures_from_text(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """(doc_id, sig) straight from text — the fused production kernel
        (functions/fast_shingle.py): tokenize→shingle→MinHash in one
        Arrow batch, no corpus-wide shingle column materialized.

        Empty documents carry a NULL sig here; they emit zero bucket rows
        at banding (band_buckets null guard). Filtering them HERE would
        double-evaluate the kernel (Catalyst pushes the predicate below the
        projection, substituting the UDF into it)."""
        c = self.config
        udf = make_text_minhash_udf(c.num_hashes, c.shingle_k, c.seed)
        return docs.select(
            F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("sig")
        )

    def buckets(self, sigs: DataFrame, key_mode: str = "xxhash64") -> DataFrame:
        c = self.config
        return band_buckets(sigs, c.rows_per_band, c.num_bands, key_mode)

    def _partitioned_buckets(
        self, sigs: DataFrame, key_mode: str = "xxhash64"
    ) -> DataFrame:
        """Bucket rows hash-partitioned on the bucket key BEFORE run()'s
        persist (optimization guide §2.4 "two operations keyed the same way
        can share one exchange"): candidate_pairs aggregates bucket rows
        twice on (band_idx, band_key) — the size/rep pass and the
        member-collect pass. Persisting the repartitioned rows means the
        cache itself carries HashPartitioning, so BOTH aggregations (and
        the mega-bucket star join) read it exchange-free: one wide bucket
        shuffle per run instead of two (plan-pinned: the 'after' plans in
        plans/r06 show one Exchange hashpartitioning over bucket rows where
        the 'before' plans show two)."""
        return self.buckets(sigs, key_mode).repartition(
            "band_idx", "band_key"
        )

    def pairs(self, buckets: DataFrame) -> DataFrame:
        c = self.config
        return candidate_pairs(
            buckets, alpha=c.alpha, max_bucket_size=c.max_bucket_size
        )

    def verified(self, pairs: DataFrame, shingled: DataFrame) -> DataFrame:
        return verify_pairs(pairs, shingled, self.config.jaccard_threshold)

    def clusters(
        self,
        verified: DataFrame,
        vertices: DataFrame | None = None,
        assume_materialized: bool = False,
    ) -> DataFrame:
        """``assume_materialized=True`` when ``verified`` is already
        persisted/checkpointed (run()'s stage store always is) — skips
        connected_components' internal double-execution guard."""
        self.cc_stats = {}
        return connected_components(
            verified,
            vertices,
            assume_materialized=assume_materialized,
            stats=self.cc_stats,
        )

    def release(self) -> None:
        """Unpersist the in-memory stage caches of the previous ``run()``.

        Safe to call once that run's returned DataFrames have been consumed
        (or abandoned); consuming them afterwards still works — Spark
        recomputes from lineage — it is only the cache reuse that is lost.
        """
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # --- full run ------------------------------------------------------

    def run(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        include_singletons: bool = False,
        input_token: str | None = None,
    ) -> dict[str, DataFrame]:
        """Run all stages; returns every stage DataFrame keyed by name.

        With ``checkpoint_dir`` set, each stage is materialized with a
        manifest and reruns resume from the first incomplete stage.
        ``input_token`` names the input's identity (source ref + prep
        flags — the CLI passes its prep hash): resuming the same
        checkpoint_dir against a DIFFERENT input or prep then rebuilds
        instead of silently returning the old corpus's stages.

        Only the fused ``shingle_hash="fast"`` kernel runs here; other
        shingle hashes build their stages with ``shingle()``,
        ``signatures()``, ``buckets()``, ``pairs()`` and ``verified()``.
        """
        if self.config.shingle_hash != "fast":
            raise ValueError(
                f"DedupPipeline.run needs shingle_hash='fast', got "
                f"{self.config.shingle_hash!r}; build the stages with "
                f"shingle(), signatures(), buckets(), pairs() and verified()"
            )
        spark = docs.sparkSession
        # degenerate-input rescue: a one-row-group corpus must not serialize
        # the signature kernel and the verify text fetch onto one core
        docs = spread_small_input(docs)
        store = (
            StageStore(
                spark,
                self.checkpoint_dir,
                self.config.config_hash(),
                input_token=input_token,
            )
            if self.checkpoint_dir
            else None
        )
        # a previous run's in-memory stage caches are dead weight now —
        # release them before persisting this run's
        self.release()

        # Bucket-key pre-partitioning (see _partitioned_buckets) pays off
        # only on the persist() path, where the in-memory cache CARRIES the
        # HashPartitioning into candidate_pairs' aggregations. The stage
        # store round-trips parquet, which drops partitioning on read —
        # there the repartition would be a pure extra shuffle before the
        # stage write, so checkpointed runs keep the plain banding.
        buckets_stage = (
            self.buckets if store is not None else self._partitioned_buckets
        )

        def stage(name: str, build, identity: dict | None = None) -> DataFrame:
            if store is not None:
                cached = store.load(name, identity)
                if cached is not None:
                    return cached
            df = build()
            if store is not None:
                df, metrics = store.save(name, df, identity)
                self.metrics[name] = metrics
            elif name in _MULTI_CONSUMER_STAGES:
                # Stages with ≥2 downstream consumers (buckets → sizes agg +
                # pair groupBy + star join; pairs → verify + candidate ids).
                # Without materialization Spark re-derives the whole
                # upstream chain per consumer — persist() is the in-memory
                # analog of the checkpointed stage tables used at scale.
                # Single-consumer stages (signatures) stay unpersisted so
                # the narrow scan→UDF→explode chain pipelines into one
                # stage.
                df = df.persist()
                self._persisted.append(df)
            return df

        # Fused path: signatures straight from text; verification joins
        # pairs back to TEXT and shingles inside the verify kernel — no
        # corpus- or candidate-wide shingle column is materialized
        # (profiling: caching ~1GB of shingle arrays does not scale).
        sigs = stage(
            "signatures",
            lambda: self.signatures_from_text(docs, text_col, id_col),
        )
        bucketed = stage("buckets", lambda: buckets_stage(sigs))
        cand = stage("pairs", lambda: self.pairs(bucketed))
        ver = stage(
            "verified",
            lambda: verify_pairs_text(
                cand,
                docs,
                self.config.jaccard_threshold,
                self.config.shingle_k,
                id_col=id_col,
                text_col=text_col,
                fetch=self.config.verify_fetch,
                broadcast_ids_cap=self.config.verify_broadcast_ids_cap,
            ),
        )
        # Singleton vertices = every doc with a non-null sig (reference
        # empty-set skip). Derived from the BUCKETS stage — persisted or
        # checkpointed above — not from sigs: a `sig IS NOT NULL` filter on
        # the unpersisted signature stage is pushed below the projection and
        # re-runs the fused kernel over the whole corpus just to list ids.
        # Every non-null sig emits num_bands bucket rows, so the distinct
        # bucket doc_id set IS the non-null-sig doc set.
        vertices = (
            bucketed.select("doc_id").distinct() if include_singletons else None
        )
        # include_singletons changes the clusters CONTENT but lives outside
        # DedupConfig — it must be part of the stage identity or a resumed
        # run returns clusters built under the opposite setting
        clustered = stage(
            "clusters",
            # ver is stage-store materialized (persisted or checkpointed)
            lambda: self.clusters(ver, vertices, assume_materialized=True),
            identity={"include_singletons": include_singletons},
        )
        return {
            "signatures": sigs,
            "buckets": bucketed,
            "pairs": cand,
            "verified": ver,
            "clusters": clustered,
        }
