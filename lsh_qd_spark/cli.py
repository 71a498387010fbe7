"""Command-line entry point — the spark-submit surface of the engine.

The north rule's deployment shape is ``spark-submit --py-files
lsh_qd_spark.zip`` against an Iceberg/parquet pages table; this module is
the one-command driver for it:

    spark-submit --py-files lsh_qd_spark.zip scripts/run_dedup.py \
        --input iceberg_cat.crawl.pages --output iceberg_cat.crawl.dedup \
        --num-bands 16 --rows-per-band 2 --jaccard-threshold 0.8 \
        --checkpoint-dir hdfs://…/ckpt

Batch mode runs the full staged pipeline (resumable when
``--checkpoint-dir`` is set) and writes three result tables under the
output ref: ``verified`` (the duplicate-pair evidence), ``clusters``
(doc_id → cluster_id), ``survivors`` (one kept doc per cluster — the
collapsed corpus). ``--mode incremental`` streams a file source through
``IncrementalDedup`` until exhausted (``availableNow``), then writes the
same tail from its sink.

Everything here is thin argument plumbing over the library operators —
the CLI adds no semantics of its own, so library users and CLI users get
identical results.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from lsh_qd_spark.io import is_path_ref as io_is_path_ref


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="run_dedup",
        description="Near-duplicate detection + clustering over a pages table",
    )
    p.add_argument("--input", required=True,
                   help="pages table: parquet path or catalog identifier")
    p.add_argument("--output", required=True,
                   help="output root: directory path or catalog namespace prefix")
    p.add_argument("--mode", default="batch",
                   choices=["batch", "incremental"])
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--rows-per-band", type=int, default=2)
    p.add_argument("--num-bands", type=int, default=16)
    p.add_argument("--alpha", type=int, default=1)
    p.add_argument("--jaccard-threshold", type=float, default=0.8)
    p.add_argument("--max-bucket-size", type=int, default=2000)
    p.add_argument("--checkpoint-dir", default=None,
                   help="batch: stage-resume dir; streaming: work dir")
    p.add_argument("--include-singletons", action="store_true")
    p.add_argument(
        "--extract-html",
        action="store_true",
        help="fill missing text from the html column via extract_text "
        "(JVM regexp chain; batch mode only)",
    )
    p.add_argument(
        "--clean-boilerplate",
        action="store_true",
        help="remove cross-document boilerplate segments (C4 line-dedup "
        "rule, operators/clean.py) before dedup — shared navigation/footer "
        "text otherwise manufactures false near-duplicates; batch mode only",
    )
    p.add_argument(
        "--latest-per-url",
        action="store_true",
        help="collapse re-crawls first: keep only the latest warc_ts "
        "snapshot per canonical URL (operators/recrawl.py) so near-dup "
        "detection spends nothing on same-URL duplicates; batch mode only",
    )
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="mask emails/IPv4s/phone numbers with typed placeholders "
        "(operators/redact.py; adds n_email/n_ipv4/n_phone audit columns) "
        "before dedup; batch mode only",
    )
    p.add_argument(
        "--drop-repetitive",
        action="store_true",
        help="drop documents failing the Gopher A1.1 repetition bounds "
        "(operators/repetition.py: dup-line/top-ngram/dup-ngram "
        "fractions) before dedup; batch mode only",
    )
    p.add_argument(
        "--decontam-eval",
        default=None,
        help="eval/benchmark table (path or catalog id): drop documents "
        "sharing >= --decontam-min-shared distinct --decontam-k-grams "
        "with it (operators/decontam.py); batch mode only",
    )
    p.add_argument("--decontam-k", type=int, default=13,
                   help="n-gram size for --decontam-eval (GPT-3 rule: 13)")
    p.add_argument("--decontam-min-shared", type=int, default=1)
    p.add_argument("--url-col", default="url",
                   help="URL column for --latest-per-url")
    p.add_argument("--ts-col", default="warc_ts",
                   help="crawl-timestamp column for --latest-per-url")
    p.add_argument("--plan-only", action="store_true",
                   help="print the clusters physical plan and exit (no write)")
    return p


def make_config(args):
    from lsh_qd_spark.config import DedupConfig

    return DedupConfig(
        shingle_k=args.shingle_k,
        rows_per_band=args.rows_per_band,
        num_bands=args.num_bands,
        alpha=args.alpha,
        jaccard_threshold=args.jaccard_threshold,
        max_bucket_size=args.max_bucket_size,
    )


def _out_ref(root: str, name: str) -> str:
    from lsh_qd_spark.io import is_path_ref

    return f"{root}/{name}" if is_path_ref(root) else f"{root}_{name}"


def _survivors(pages, clusters, id_col: str, text_col: str):
    """One kept doc per cluster: longest text, tie → smallest id.
    ``min_by`` over ``struct(-length, id)`` (max length, then min id) —
    type-agnostic in the id column, so string/UUID ids work; one map-side
    partial aggregation, no window sort (oracle dedup_survivors
    semantics)."""
    from pyspark.sql import functions as F

    joined = clusters.join(
        pages.select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).alias("_len"),
        ),
        "doc_id",
    )
    return joined.groupBy("cluster_id").agg(
        F.min_by(
            F.col("doc_id"),
            F.struct((-F.col("_len")).alias("n"), F.col("doc_id").alias("d")),
        ).alias("doc_id")
    ).select("doc_id", "cluster_id")


def _write_results(spark, args, pages, verified, clusters=None) -> None:
    """verified / clusters / survivors — the same three result tables in
    every mode. Each table is read back after its write so downstream
    stages consume the materialized data instead of re-running the plan
    (the verify kernel is the expensive stage; computing it once is the
    point of writing it). ``clusters=None`` (streaming) clusters the
    MATERIALIZED verified table — the batch pipeline hands its own
    clusters stage in, streaming derives it here so both modes share one
    output contract."""
    from lsh_qd_spark.io import read_stage, write_stage

    write_stage(verified, _out_ref(args.output, "verified"), "overwrite")
    if clusters is None:
        from lsh_qd_spark.operators.cluster import connected_components

        clusters = connected_components(
            read_stage(spark, _out_ref(args.output, "verified")),
            # storage-backed (just written + reread): rescans are cheap,
            # an internal checkpoint would only copy the table again
            assume_materialized=True,
        )
    write_stage(clusters, _out_ref(args.output, "clusters"), "overwrite")
    clusters_m = read_stage(spark, _out_ref(args.output, "clusters"))
    write_stage(
        _survivors(pages, clusters_m, args.id_col, args.text_col),
        _out_ref(args.output, "survivors"),
        "overwrite",
    )


def run_batch(spark, args) -> dict:
    from lsh_qd_spark.io import read_pages
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    pages = read_pages(spark, args.input)
    if args.extract_html:
        from pyspark.sql import functions as F

        from lsh_qd_spark.functions.text import extract_text

        # crawl tables routinely carry rows where only the raw capture
        # exists; extraction is a pure JVM function of the bytes, so the
        # filled column keeps the input_hint's byte-identical invariant
        pages = pages.withColumn(
            args.text_col,
            F.coalesce(F.col(args.text_col), extract_text(F.col("html"))),
        )
    # corpus-prep transforms, applied in order (each is a full-corpus
    # aggregation, so plan-only must apply them AFTER its sample limit):
    # exact re-crawl collapse first — it is the cheapest stage and shrinks
    # everything downstream — then content cleaning
    preps = []
    if args.latest_per_url:
        from lsh_qd_spark.operators.recrawl import latest_snapshot

        preps.append(
            lambda df: latest_snapshot(
                df,
                url_col=args.url_col,
                ts_col=args.ts_col,
                id_col=args.id_col,
            )
        )
    if args.clean_boilerplate:
        from lsh_qd_spark.operators.clean import remove_boilerplate

        # passthrough columns (url/warc_ts/lang, canonical_url from
        # --latest-per-url, …) survive natively now; removed_segments
        # rides along as the audit column, like redact's n_<rule> counts
        preps.append(
            lambda df: remove_boilerplate(
                df, text_col=args.text_col, id_col=args.id_col
            )
        )
    if args.redact_pii:
        from lsh_qd_spark.operators.redact import redact_docs

        preps.append(lambda df: redact_docs(df, text_col=args.text_col))
    if args.drop_repetitive:
        from lsh_qd_spark.operators.repetition import remove_repetitive

        preps.append(
            lambda df: remove_repetitive(df, text_col=args.text_col)
        )
    if args.decontam_eval:
        from lsh_qd_spark.operators.decontam import remove_contaminated

        eval_docs = read_pages(spark, args.decontam_eval)
        if args.plan_only:
            # plan-only's bounded-execution contract (see below) must also
            # cover the JOIN'S BUILD SIDE: the eval table is shingled,
            # distinct'd and counted by the size gate when the prep is
            # applied, so an unbounded eval side would burn a full-table
            # job even though the probe side is sampled.
            eval_docs = eval_docs.limit(10_000)

        preps.append(
            lambda df: remove_contaminated(
                df,
                eval_docs,
                k=args.decontam_k,
                min_shared=args.decontam_min_shared,
                text_col=args.text_col,
                id_col=args.id_col,
            )
        )

    if args.plan_only:
        # Plan building is not free of execution here: candidate_pairs
        # eagerly counts oversized-bucket keys and verify's 'auto' fetch
        # counts candidate ids, so "explain the real input" would burn most
        # of the job's compute on a 100 TB table — and with a checkpoint
        # dir it would also write stage tables, contradicting "(no write)".
        # Explain over a bounded sample instead: the operator tree is
        # identical (one extra LocalLimit at the scan), the eager parts
        # touch ≤ 10k rows, and nothing is checkpointed. The limit sits
        # BELOW the prep aggregations (re-crawl collapse, boilerplate
        # clean): each is a full-corpus groupBy+join, and a limit applied
        # above it cannot prune it — sampling first keeps them bounded.
        sample_pages = pages.limit(10_000)
        for prep in preps:
            sample_pages = prep(sample_pages)
        sample_pipe = DedupPipeline(make_config(args), checkpoint_dir=None)
        sample = sample_pipe.run(
            sample_pages,
            text_col=args.text_col,
            id_col=args.id_col,
            include_singletons=args.include_singletons,
        )
        sample["clusters"].explain("formatted")
        return {}
    prepped = bool(preps)
    if prepped:
        # Materialize the prepped corpus ONCE: downstream it is consumed
        # by ≥ 4 separate actions (signature scan, verify's candidate-text
        # fetch, the auto-fetch byte gate, survivors) and each would
        # otherwise replay the full prep plan — re-crawl collapse and
        # boilerplate clean are full-corpus shuffles, so that's ~4× the
        # most expensive stage. With a checkpoint dir the prepped table is
        # written there (the 100 TB-correct shape: stable storage, resumes
        # free); without one, spill-to-disk cache.
        if args.checkpoint_dir:
            # manifest-guarded like the pipeline stages: a RESUMED run
            # (same input + prep flags) must reuse the prepped table, not
            # replay hours of full-corpus prep shuffles and overwrite it
            # before the pipeline's own resume logic can skip anything.
            # The reuse check runs BEFORE the prep lambdas are applied:
            # remove_boilerplate and remove_contaminated materialize
            # eagerly (their localCheckpoints and size-gate counts), so
            # applying preps first would launch the full-corpus prep job
            # and then throw it away on every resume.
            from lsh_qd_spark.io import (
                check_compat_meta,
                read_stage,
                stage_exists,
                write_compat_meta,
                write_stage,
            )

            prep_hash = _input_token(args)
            ref = _out_ref(args.checkpoint_dir, "prepped_pages")
            reusable = False
            if stage_exists(spark, ref):
                try:
                    check_compat_meta(
                        ref,
                        prep_hash,
                        what="prepped corpus",
                        require_marker=True,
                    )
                    reusable = True
                except (RuntimeError, ValueError):
                    # RuntimeError: different flags/input — rebuild.
                    # ValueError (JSONDecodeError): a marker truncated by
                    # a mid-write crash — rebuilding is the safe recovery
                    # (treating it as a startup crash made the corruption
                    # a permanent failure loop until hand-deleted).
                    reusable = False
            if not reusable:
                for prep in preps:
                    pages = prep(pages)
                write_stage(pages, ref, "overwrite")
                write_compat_meta(ref, prep_hash)
            pages = read_stage(spark, ref)
        else:
            for prep in preps:
                pages = prep(pages)
            pages = pages.persist()
    pipe = DedupPipeline(make_config(args), checkpoint_dir=args.checkpoint_dir)
    out = pipe.run(
        pages,
        text_col=args.text_col,
        id_col=args.id_col,
        include_singletons=args.include_singletons,
        # stage manifests bind to the input+prep identity, not just the
        # config: a resumed checkpoint_dir with a different --input or
        # prep flag must rebuild, not replay the old corpus's stages
        input_token=_input_token(args),
    )
    _write_results(spark, args, pages, out["verified"], out["clusters"])
    if prepped and not args.checkpoint_dir:
        pages.unpersist()
    return {
        "mode": "batch",
        "stage_metrics": {k: vars(m) for k, m in pipe.metrics.items()},
    }


def _input_token(args) -> str:
    """Identity of the batch input: source ref + EVERY prep knob that
    changes the prepped corpus's content. Doubles as the prepped-table
    compat hash and as the pipeline StageStore's input_token — a resumed
    checkpoint_dir pointed at a different input, or rerun with any
    different prep semantics (including parameter knobs like
    --decontam-k, not just on/off flags), rebuilds instead of silently
    reusing stale stages."""
    import hashlib
    import json as _json

    return hashlib.sha256(
        _json.dumps(
            {
                "input": args.input,
                "extract_html": args.extract_html,
                "latest_per_url": args.latest_per_url,
                "clean_boilerplate": args.clean_boilerplate,
                "redact_pii": args.redact_pii,
                "drop_repetitive": args.drop_repetitive,
                "decontam_eval": args.decontam_eval,
                "decontam_k": args.decontam_k,
                "decontam_min_shared": args.decontam_min_shared,
                "url_col": args.url_col,
                "ts_col": args.ts_col,
                "text_col": args.text_col,
                "id_col": args.id_col,
            },
            sort_keys=True,
        ).encode()
    ).hexdigest()[:16]


def run_streaming(spark, args) -> dict:
    from lsh_qd_spark.io import read_pages
    from lsh_qd_spark.streaming import IncrementalDedup, save_progress

    if args.checkpoint_dir is None:
        raise SystemExit("--checkpoint-dir (work dir) required for streaming")
    if args.extract_html:
        raise SystemExit("--extract-html is batch-mode only")
    if args.clean_boilerplate:
        raise SystemExit("--clean-boilerplate is batch-mode only")
    if args.latest_per_url:
        raise SystemExit("--latest-per-url is batch-mode only")
    if args.redact_pii:
        raise SystemExit("--redact-pii is batch-mode only")
    if args.drop_repetitive:
        raise SystemExit("--drop-repetitive is batch-mode only")
    if args.decontam_eval:
        raise SystemExit("--decontam-eval is batch-mode only")
    if args.plan_only:
        # every other batch-only flag is rejected loudly; a silently
        # ignored "no write" flag would run the full stream and overwrite
        # the output tables
        raise SystemExit("--plan-only is batch-mode only")
    if args.include_singletons:
        # silently dropping it would ship a "collapsed corpus" missing
        # every singleton the user explicitly asked to keep
        raise SystemExit(
            "--include-singletons is batch-mode only: the streaming tail "
            "clusters only documents that appear in duplicate pairs"
        )
    if args.text_col != "text" or args.id_col != "doc_id":
        # the stream reads the fixed PAGES_STREAM_SCHEMA (doc_id/text);
        # a renamed column would by-name-resolve to NULLs and the run
        # would "succeed" with zero duplicates — refuse instead
        raise SystemExit(
            "--text-col/--id-col are batch-mode only: streaming reads "
            "the fixed pages schema (doc_id, text)"
        )
    inc = IncrementalDedup(make_config(args), args.checkpoint_dir)
    q = inc.start(spark, args.input)
    q.awaitTermination()
    pages = read_pages(spark, args.input)
    # results BEFORE telemetry: save_progress is the least important
    # artifact of the run, and any failure in it must not discard the
    # completed stream's verified/clusters/survivors tables.
    # clusters=None: verified is written FIRST and the materialized table
    # is clustered — the Jaccard-verify kernel runs exactly once per run
    _write_results(
        spark,
        args,
        pages,
        inc.verified_pairs(spark, pages, args.text_col, args.id_col),
    )
    save_progress(q, args.checkpoint_dir)
    return {"mode": args.mode}


def main(argv: list[str] | None = None) -> None:
    from pyspark.sql import SparkSession

    args = build_parser().parse_args(argv)
    if args.checkpoint_dir and not io_is_path_ref(args.checkpoint_dir):
        # a bare relative name ("ckpt") contains no '/', so downstream
        # refs derived from it would be CATALOG identifiers — where the
        # prep compat markers silently no-op and a resume with different
        # prep flags reuses a stale prepped corpus with no error. The
        # flag's contract is a DIRECTORY; make it explicit AND absolute:
        # a merely-relative "./ckpt" resolves against the PYTHON cwd for
        # the marker files but against the driver JVM's launch dir for
        # the parquet stage writes — two different directories whenever
        # the process chdir'd after the JVM started.
        args.checkpoint_dir = os.path.abspath(args.checkpoint_dir)
    spark = SparkSession.builder.getOrCreate()
    t0 = time.time()
    stats = (
        run_batch(spark, args)
        if args.mode == "batch"
        else run_streaming(spark, args)
    )
    if stats:
        stats["seconds"] = round(time.time() - t0, 2)
        json.dump(stats, sys.stdout)
        sys.stdout.write("\n")


if __name__ == "__main__":
    main()
