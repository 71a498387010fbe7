"""Incremental (streaming) near-duplicate detection.

The reference is fully batch (SURVEY.md §2.10) and the north rule's
checkpoint/resume is batch-shaped — but a crawl is naturally a stream, so
the engine also offers an incremental mode: Structured Streaming over a
pages source, ``foreachBatch`` per micro-batch:

  1. signature + bucket rows for the batch (same fused kernel as batch mode
     — identical signatures for identical text, so stream and batch agree);
  2. equi-join the batch's buckets against the ACCUMULATED bucket index
     UNION the batch's own buckets — so two near-duplicates arriving in the
     same micro-batch are detected (intra-batch pairs are canonicalized
     ``existing_doc < new_doc`` to avoid double emission);
  3. emit (new_doc, existing_doc, n_bands) duplicate hits, partitioned by
     epoch with dynamic partition overwrite (replays overwrite, never
     double-append);
  4. append the batch's buckets to the index, partitioned by
     (epoch, shard) where ``shard = pmod(xxhash64(band_key), n_shards)``.

Scale notes (100 TB crawl):
- The index read excludes the CURRENT epoch's partitions (replay safety:
  a replayed batch's rows may already be in the index) and prunes to the
  shards actually present in the batch — for small batches against a large
  index this skips most index partitions at the parquet-directory level.
- The join is an equi-join on (shard, band_idx, band_key); with AQE it
  broadcast-joins small batches against matching index shards. For an
  always-hot index at extreme scale the idiomatic upgrade is a bucketed
  table (``bucketBy(n, "band_key")``) or an external KV index — the
  operator shape here is unchanged either way.

Exactly-once-ish: Structured Streaming checkpointing replays failed
batches; both sinks are epoch-partitioned with dynamic overwrite, so a
replayed epoch rewrites its own partitions idempotently.

Batch tail over the sink: ``pairs()`` normalizes the hits to the batch
``candidate_pairs`` shape ``(id_a, id_b, n_bands, via_star)`` with
canonical ``id_a < id_b``, so Jaccard verify and connected components are
literally the batch operators:

    inc = IncrementalDedup(config, work_dir)
    inc.start(spark, source_dir).awaitTermination()
    inc.clusters(spark, docs)         # alpha count → verify → components
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.io import (
    _join_ref,
    _read_text,
    _write_text,
    check_compat_meta,
    list_child_names,
    path_exists,
    read_stage,
    write_compat_meta,
    write_stage,
)
from lsh_qd_spark.operators.cluster import connected_components
from lsh_qd_spark.operators.pairs import (
    bounded_broadcast,
    counted_plus_stars,
    split_oversized_buckets,
)
from lsh_qd_spark.operators.verify import verify_pairs_text
from lsh_qd_spark.plans.pipeline import DedupPipeline

PAGES_STREAM_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)

HITS_SCHEMA = (
    "new_doc long, existing_doc long, n_bands long, via_star boolean, "
    "epoch long"
)


class IncrementalDedup:
    """foreachBatch-driven incremental dedup over a streaming pages source."""

    def __init__(self, config: DedupConfig, work_dir: str, n_shards: int = 64):
        self.config = config
        self.work_dir = work_dir
        self.n_shards = n_shards
        self.index_dir = os.path.join(work_dir, "bucket_index")
        self.hits_dir = os.path.join(work_dir, "dup_hits")
        self.metrics_dir = os.path.join(work_dir, "metrics")
        self.checkpoint_dir = os.path.join(work_dir, "stream_checkpoint")
        self.pipe = DedupPipeline(config)

    def _index_exists(self) -> bool:
        # dynamic partition overwrite writes only epoch=N/ dirs (no
        # top-level _SUCCESS marker). list_child_names is URI-safe: a
        # remote work_dir (hdfs://, s3a://) checked with driver-local
        # os.path would always read "absent", silently disabling the
        # cross-batch index join (zero recall across batches, no error).
        return any(
            f.startswith("epoch=") or f.endswith(".parquet")
            for f in list_child_names(self.index_dir)
        )

    def _shard(self) -> F.Column:
        from lsh_qd_spark.operators.band import shard_expr

        return shard_expr(self.n_shards)

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # a resumed stream joining new-kernel band keys against an index
        # persisted by an older kernel/config would detect zero duplicates
        # with no error — fail loudly before touching the sinks.
        # (one listing per batch: _process_batch_inner reuses this instead
        # of issuing a second remote listStatus)
        index_exists = self._index_exists()
        check_compat_meta(
            self.index_dir,
            self.config.key_hash(),
            what="stream index",
            layout={"n_shards": self.n_shards},
            # this is a WRITE path: appending into an existing unmarked
            # index would mix band-key generations, then stamp the mix
            # as current below — require the marker when data exists
            require_marker=index_exists,
        )
        # marker BEFORE data (not after the index write): a crash between
        # the first epoch's data commit and a late marker write would brick
        # resume forever — the replay's require_marker check would raise on
        # data this very kernel just wrote. A marker without data is
        # harmless and passes every later check.
        write_compat_meta(
            self.index_dir,
            self.config.key_hash(),
            layout={"n_shards": self.n_shards},
        )
        spark = batch_df.sparkSession
        buckets = (
            self.pipe.buckets(self.pipe.signatures_from_text(batch_df))
            .withColumn("epoch", F.lit(epoch_id))
            .withColumn("shard", self._shard())
            .persist()
        )
        try:
            self._process_batch_inner(spark, buckets, epoch_id, index_exists)
        finally:
            # unpersist on EVERY exit: a sink/metrics failure mid-batch
            # followed by Structured Streaming's replay would otherwise
            # stack one orphaned corpus-scale cache per attempt
            buckets.unpersist()

    def _process_batch_inner(
        self,
        spark: SparkSession,
        buckets: DataFrame,
        epoch_id: int,
        index_exists: bool,
    ) -> None:
        keys = ["shard", "band_idx", "band_key"]
        # Build side: accumulated index (minus this epoch — replay safety)
        # pruned to the batch's shards, UNION the batch's own buckets so
        # intra-batch duplicates pair up.
        probe = buckets.select("shard", "band_idx", "band_key", "doc_id")
        build = buckets.select(
            "shard",
            "band_idx",
            "band_key",
            F.col("doc_id").alias("existing_doc"),
            F.lit(False).alias("from_index"),
        )
        if index_exists:
            # BOUNDED driver collect: `shard` is pmod(hash, n_shards), so
            # this distinct() returns AT MOST n_shards rows regardless of
            # corpus or batch size — same loud-bound contract as the
            # big-key collect in operators/pairs.py. n_shards is a
            # constructor knob; even a 4096-shard production index is a
            # few-KB collect. (Covered for n_shards > 64 in
            # tests/test_streaming.py.)
            batch_shards = [
                r["shard"] for r in buckets.select("shard").distinct().collect()
            ]
            index = (
                read_stage(spark, self.index_dir)
                .where(F.col("epoch") != epoch_id)  # partition-pruned
                .where(F.col("shard").isin(batch_shards))  # partition-pruned
                .select(
                    "shard",
                    "band_idx",
                    "band_key",
                    F.col("doc_id").alias("existing_doc"),
                    F.lit(True).alias("from_index"),
                )
            )
            # restrict the index to the BATCH's bucket keys before anything
            # touches it: only matching keys can produce hits, and the
            # bucket-size aggregation below must not pay for every bucket in
            # the matching shards. Broadcast fits the streaming regime
            # (micro-batches small vs the index) — but maxFilesPerTrigger
            # bounds FILES, not rows: a backfill with GB-sized source files
            # yields millions of docs × num_bands distinct keys, so the key
            # set goes through the size gate (cheap: buckets is persisted).
            batch_keys, _ = bounded_broadcast(probe.select(*keys).distinct())
            index = index.join(batch_keys, keys, "left_semi")
            build = index.unionByName(build)
        # Mega-bucket cap (batch-path parity, operators/pairs.py): a
        # boilerplate bucket accumulated over the stream would make the
        # per-epoch join output quadratic in cluster size. Buckets over
        # max_bucket_size emit one STAR edge per NEW doc against the
        # bucket representative instead of all pairs. The rep prefers the
        # smallest INDEXED member (a node already connected in earlier
        # epochs) so the component stays connected across the stream even
        # when a later arrival becomes the bucket's global min.
        # Eager localCheckpoint: build feeds the size aggregation AND the
        # hits join — without it the pruned index scan runs twice.
        build = build.localCheckpoint(eager=True)
        small_build, big = split_oversized_buckets(
            build,
            keys,
            F.coalesce(
                F.min(F.when(F.col("from_index"), F.col("existing_doc"))),
                F.min("existing_doc"),
            ),
            self.config.max_bucket_size,
        )
        # (id_a, id_b) = (new_doc, existing_doc) through the shared
        # counted/star tail — an orientation, not the canonical id_a < id_b
        stars = None
        if big is not None:
            stars = (
                probe.join(big, keys)
                .where(F.col("doc_id") != F.col("rep"))
                .select(
                    F.col("doc_id").alias("id_a"), F.col("rep").alias("id_b")
                )
                .distinct()
            )
        counted = (
            probe.join(small_build, keys)
            # vs index: any orientation; intra-batch: canonical order only
            .where(
                F.col("from_index")
                | (F.col("existing_doc") < F.col("doc_id"))
            )
            .where(F.col("doc_id") != F.col("existing_doc"))
            # a pair legitimately collides at most once per band (one band
            # key per band per doc) — but a RE-CRAWLED doc present in both
            # the accumulated index and the current batch contributes its
            # buckets to the build side twice (from_index True and False),
            # which would double-count n_bands and let sub-alpha pairs
            # through. Per-band dedup restores the alpha semantics.
            .dropDuplicates(["doc_id", "existing_doc", "band_idx"])
            .groupBy(
                F.col("doc_id").alias("id_a"),
                F.col("existing_doc").alias("id_b"),
            )
            .agg(F.count("*").alias("n_bands"))
            .where(F.col("n_bands") >= self.config.alpha)
        )
        hits = counted_plus_stars(counted, stars).select(
            F.col("id_a").alias("new_doc"),
            F.col("id_b").alias("existing_doc"),
            "n_bands",
            "via_star",
            F.lit(epoch_id).alias("epoch"),
        )
        # epoch-partitioned dynamic overwrite on BOTH sinks → a replayed
        # epoch rewrites its own partitions, never double-appends.
        write_stage(hits, self.hits_dir, "dynamic_overwrite", ["epoch"])
        # shuffle on shard first so each (epoch, shard) directory gets ONE
        # file: written as read, every task writes one small file per shard
        # it touches, and every later batch lists and opens them all
        write_stage(
            buckets.repartition("shard"),
            self.index_dir,
            "dynamic_overwrite",
            ["epoch", "shard"],
        )
        # Per-epoch lineage + metrics (north rule): per-shard bucket-row
        # counts (the index partitions this epoch wrote) + hit count.
        # Cheap: buckets is persisted, and the hit count reads only the
        # freshly-written epoch partition. The file is keyed by epoch,
        # so a replayed epoch overwrites its own metrics idempotently —
        # same contract as the data sinks.
        shard_rows = {
            str(r["shard"]): r["n"]
            for r in buckets.groupBy("shard")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # Count ONLY the epoch partition this batch just wrote — NOT
        # self.hits(): that reads the whole sink with mergeSchema, so
        # per-batch metrics cost would grow with stream age (every
        # footer ever written, re-listed each trigger — quadratic
        # cumulative over a long backfill). The fresh partition was
        # written by THIS code generation, so no schema merge is
        # needed; a zero-duplicate batch writes no partition dir at
        # all (dynamic overwrite of an empty frame), hence the
        # path_exists guard (a raw read_stage on a missing dir would
        # kill the streaming query from inside foreachBatch).
        epoch_ref = _join_ref(self.hits_dir, f"epoch={epoch_id}")
        n_hits = (
            read_stage(spark, epoch_ref).count()
            if path_exists(epoch_ref, spark)
            else 0
        )

        # _write_text is URI-safe: os.makedirs on an s3a://... metrics
        # dir would create a junk LOCAL directory and "succeed"
        _write_text(
            _join_ref(self.metrics_dir, f"epoch_{epoch_id}.json"),
            json.dumps(
                {
                    "epoch": epoch_id,
                    "bucket_rows": sum(shard_rows.values()),
                    "hits": n_hits,
                    "shard_rows": shard_rows,
                },
                indent=2,
            ),
            spark,
        )

    def start(
        self,
        spark: SparkSession,
        source_dir: str,
        max_files_per_trigger: int = 4,
        **read_options,
    ):
        """Stream pages from a directory source (swap for kafka in prod).
        Extra ``read_options`` (pathGlobFilter, latestFirst, ...) are all
        forwarded to the stream reader. ``maxFilesPerTrigger`` passed via
        read_options wins over the named param (back-compat)."""
        reader = spark.readStream.schema(PAGES_STREAM_SCHEMA).option(
            "maxFilesPerTrigger",
            read_options.pop("maxFilesPerTrigger", max_files_per_trigger),
        )
        for k, v in read_options.items():
            reader = reader.option(k, v)
        stream = reader.parquet(source_dir)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def hits(self, spark: SparkSession) -> DataFrame:
        if not any(
            f.startswith("epoch=") for f in list_child_names(self.hits_dir)
        ):
            return spark.createDataFrame([], HITS_SCHEMA)
        # partition-column inference types epoch=N directories as int32;
        # cast back to the declared HITS_SCHEMA type so the populated and
        # empty paths return identical schemas.
        # mergeSchema: a MIXED sink (pre-via_star epochs continued by new
        # code) must surface via_star for the new epochs while decoding
        # legacy rows as NULL — without it the sampled footer decides which
        # generation's schema wins and the other generation's column
        # silently vanishes
        out = read_stage(
            spark, self.hits_dir, options={"mergeSchema": "true"}
        ).withColumn("epoch", F.col("epoch").cast("long"))
        if "via_star" not in out.columns:
            # all-legacy sink (written before the mega-bucket cap existed)
            out = out.withColumn("via_star", F.lit(False))
        else:
            # mixed sink: legacy epochs decode via_star as NULL, and the
            # where(~via_star)/where(via_star) split in pairs() would drop
            # those rows entirely (NULL is neither) — every pre-upgrade
            # duplicate would vanish with no error. Legacy rows predate
            # star edges, so False is exact, not a guess.
            out = out.withColumn(
                "via_star", F.coalesce(F.col("via_star"), F.lit(False))
            )
        return out.select(
            "new_doc", "existing_doc", "n_bands", "via_star", "epoch"
        )

    # --- batch tail over the sink -------------------------------------

    def pairs(self, spark: SparkSession) -> DataFrame:
        """(id_a, id_b, n_bands, via_star), canonical ``id_a < id_b`` —
        the batch ``candidate_pairs`` shape."""
        hits = self.hits(spark)
        # hits are already alpha-filtered per epoch and canonicalized
        # (existing < new for intra-batch; any orientation vs the index);
        # a re-crawled doc_id can surface the same pair in a later epoch,
        # so aggregate with max(n_bands) rather than trusting uniqueness.
        canon = hits.select(
            F.least("new_doc", "existing_doc").alias("id_a"),
            F.greatest("new_doc", "existing_doc").alias("id_b"),
            "n_bands",
            "via_star",
        )
        counted = (
            canon.where(~F.col("via_star"))
            .groupBy("id_a", "id_b")
            .agg(F.max("n_bands").alias("n_bands"))
        )
        # mega-bucket star hits keep the sentinel n_bands=0 and yield to a
        # counted row for the same pair — the shared consumer-contract tail
        stars = canon.where(F.col("via_star")).select("id_a", "id_b").distinct()
        return counted_plus_stars(counted, stars)

    def verified_pairs(
        self,
        spark: SparkSession,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Candidate pairs Jaccard-verified against document text — the
        same fused kernel as the batch pipeline's verify stage."""
        # Materialize the pairs aggregation before verify consumes it:
        # verify's auto path counts distinct candidate ids, sums their
        # text bytes for its exact fetch gate, and joins the pairs twice —
        # consumers that would each re-run the hits-scan → canonicalize →
        # groupBy chain on a lazy plan. The batch pipeline persists its
        # pairs stage for the same reason; post-alpha pairs are small, so
        # eager localCheckpoint (reference-tracked blocks, no
        # session-lifetime leak) fits here.
        return verify_pairs_text(
            self.pairs(spark).localCheckpoint(eager=True),
            docs,
            self.config.jaccard_threshold,
            self.config.shingle_k,
            id_col=id_col,
            text_col=text_col,
            # honor the same execution knobs the batch pipeline forwards —
            # a memory-constrained config (fetch='shuffle' or a small
            # broadcast cap) must behave identically in streaming mode
            fetch=self.config.verify_fetch,
            broadcast_ids_cap=self.config.verify_broadcast_ids_cap,
        )

    def clusters(
        self,
        spark: SparkSession,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """(doc_id, cluster_id) duplicate clusters over the verified graph."""
        # connected_components consumes its edges twice (the count deciding
        # driver-vs-distributed, then the collect or sym-union); it
        # checkpoints the lazy verify plan internally so the Jaccard kernel
        # runs once.
        return connected_components(
            self.verified_pairs(spark, docs, text_col, id_col)
        )


def save_progress(query, work_dir: str) -> str:
    """Persist a finished streaming query's progress telemetry
    (``recentProgress``: per-batch numInputRows and durations) to
    ``<work_dir>/metrics/query_progress.json`` — the
    Structured-Streaming-native half of the north rule's per-partition
    lineage + metrics; ``process_batch`` writes the per-epoch shard
    lineage next to it.

    ``recentProgress`` is a RING BUFFER (Spark keeps the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries, default 100),
    so this function MERGES with any previously-saved file, keyed by
    batchId: call it after each ``awaitTermination`` and a long backfill's
    full history accumulates instead of silently truncating to the tail."""
    # URI-safe IO throughout: a remote work_dir (hdfs://, s3a://) handled
    # with driver-local os.path would create a junk LOCAL "s3a:/..."
    # directory, "succeed", and lose the telemetry when the driver
    # container exits — the hazard process_batch's metrics writer avoids
    # the same way.
    path = _join_ref(_join_ref(work_dir, "metrics"), "query_progress.json")
    by_batch: dict = {}
    if path_exists(path):
        try:
            by_batch = {p["batchId"]: p for p in json.loads(_read_text(path))}
        except (ValueError, KeyError, TypeError) as e:
            # a previous run killed mid-write leaves truncated JSON here;
            # telemetry is the LEAST important artifact in the run — a
            # crash would propagate out of run_streaming BEFORE the
            # result tables are written, discarding the whole stream's
            # output over a merge of old progress rows. Start fresh.
            warnings.warn(
                f"corrupt {path!r} ({e}); overwriting with this run's "
                f"progress only",
                RuntimeWarning,
            )
    for p in query.recentProgress:
        d = json.loads(p.json)
        by_batch[d["batchId"]] = d
    _write_text(
        path, json.dumps([by_batch[k] for k in sorted(by_batch)], indent=2)
    )
    return path
