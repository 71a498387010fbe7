"""CLI entry (lsh_qd_spark.cli): batch mode writes verified/clusters/
survivors with the library's exact semantics; plan-only mode writes
nothing. The spark-submit deployment itself is driven by the verify
recipe (scripts/run_dedup.py is a shim over this module)."""

import json
import os

from pyspark.sql import functions as F

from lsh_qd_spark.cli import main
from lsh_qd_spark.synth import SynthConfig, generate_pages, truth_pairs


def test_cli_batch_end_to_end(spark, tmp_path, capsys):
    scfg = SynthConfig(n_docs=400, seed=53)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    out = str(tmp_path / "out")
    main(
        [
            "--input", src,
            "--output", out,
            "--num-bands", "16",
            "--rows-per-band", "2",
            "--jaccard-threshold", "0.55",
            "--max-bucket-size", "50",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["mode"] == "batch"
    assert stats["stage_metrics"]["signatures"]["rows"] == 400

    truth = truth_pairs(spark, scfg).where(F.col("tier") >= 0.6)
    ver = spark.read.parquet(f"{out}/verified")
    assert truth.join(ver, ["id_a", "id_b"]).count() == truth.count()
    clusters = spark.read.parquet(f"{out}/clusters")
    survivors = spark.read.parquet(f"{out}/survivors")
    # exactly one survivor per duplicate cluster, and it's the longest doc
    assert survivors.count() == clusters.select("cluster_id").distinct().count()
    longest = (
        clusters.join(
            spark.read.parquet(src).select("doc_id", F.length("text").alias("L")),
            "doc_id",
        )
        .groupBy("cluster_id")
        .agg(F.max_by("doc_id", F.struct(F.col("L"), -F.col("doc_id"))).alias("doc_id"))
    )
    assert (
        survivors.join(longest, ["cluster_id", "doc_id"]).count()
        == survivors.count()
    )


def test_cli_streaming_end_to_end(spark, tmp_path, capsys):
    """--mode incremental streams a two-file pages directory through
    IncrementalDedup, writes the same three result tables as batch mode
    and the query's progress telemetry under the work dir."""
    n_pages = 300
    scfg = SynthConfig(n_docs=n_pages, seed=71)
    pages = generate_pages(spark, scfg)
    src = str(tmp_path / "pages")
    # two files, split by id parity so dup clusters span both
    pages.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    pages.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    main(
        [
            "--input", src,
            "--output", out,
            "--mode", "incremental",
            "--num-bands", "16",
            "--rows-per-band", "2",
            "--jaccard-threshold", "0.55",
            "--max-bucket-size", "50",
            "--checkpoint-dir", ckpt,
        ]
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["mode"] == "incremental"
    for table in ("verified", "clusters", "survivors"):
        assert os.path.isdir(f"{out}/{table}"), table
    ver = spark.read.parquet(f"{out}/verified")
    assert ver.count() > 0
    assert ver.agg(F.min("jaccard")).first()[0] >= 0.55
    with open(f"{ckpt}/metrics/query_progress.json") as f:
        progress = json.load(f)
    assert sum(p["numInputRows"] for p in progress) == n_pages


def test_cli_plan_only_writes_nothing(spark, tmp_path, capsys):
    scfg = SynthConfig(n_docs=100, seed=59)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    out = str(tmp_path / "out")
    main(["--input", src, "--output", out, "--plan-only"])
    assert "Physical Plan" in capsys.readouterr().out
    assert not os.path.exists(out)


def test_cli_extract_html_fills_missing_text(spark, tmp_path, capsys):
    """Rows with only a raw html capture participate in dedup when
    --extract-html is set: two copies of the same page, one stored as text
    and one as html-only, land in the same cluster."""
    body = " ".join(f"tok{i}" for i in range(120))
    html = f"<html><head><title>x</title></head><body>{body}</body></html>"
    rows = [
        (0, "u0", None, None, body, "en"),
        (1, "u1", None, bytearray(html.encode()), None, "en"),
        (2, "u2", None, None, "completely different page " * 30, "en"),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows,
        "doc_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    ).write.parquet(src)
    out = str(tmp_path / "out")
    main(
        [
            "--input", src,
            "--output", out,
            "--extract-html",
            "--jaccard-threshold", "0.7",
        ]
    )
    capsys.readouterr()
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    assert clusters.get(0) == clusters.get(1) == 0
    assert 2 not in clusters  # different page stays unclustered


def test_cli_clean_boilerplate_kills_false_near_dups(spark, tmp_path, capsys):
    """Shared footer text manufactures near-duplicates out of unrelated
    pages; --clean-boilerplate removes it so only REAL duplicates cluster."""
    footer = " ".join(f"nav{i}" for i in range(50))  # 5 shared windows
    rows = []
    for d in range(4):  # unrelated pages dominated by the shared footer
        uniq = " ".join(f"u{d}x{i}" for i in range(10))
        rows.append((d, f"{footer} {uniq}"))
    # one REAL duplicate pair with unique long bodies
    body = " ".join(f"real{i}" for i in range(60))
    rows += [(10, body), (11, body + " tail tok")]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    def run(extra):
        out = str(tmp_path / ("out" + str(len(extra))))
        main(["--input", src, "--output", out,
              "--jaccard-threshold", "0.6", *extra])
        capsys.readouterr()
        return {
            r["doc_id"]: r["cluster_id"]
            for r in spark.read.parquet(f"{out}/clusters").collect()
        }

    dirty = run([])
    # footer-dominated pages (10 of 40 tokens unique) cluster together
    assert len({dirty.get(d) for d in range(4)} - {None}) <= 1
    assert any(d in dirty for d in range(4))

    clean = run(["--clean-boilerplate"])
    # after cleaning: no false clusters, the real pair still found
    assert all(d not in clean for d in range(4))
    assert clean.get(10) == clean.get(11) == 10


def test_cli_plan_only_with_clean_boilerplate_samples_first(
    spark, tmp_path, capsys
):
    """--plan-only --clean-boilerplate must run the boilerplate-clean
    aggregation over the 10k SAMPLE, not the full corpus (a limit above
    the clean groupBy cannot prune it) — and still explain a plan."""
    scfg = SynthConfig(n_docs=100, seed=61)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    out = str(tmp_path / "out")
    main(["--input", src, "--output", out, "--plan-only",
          "--clean-boilerplate"])
    assert "Physical Plan" in capsys.readouterr().out
    assert not os.path.exists(out)


def test_cli_latest_per_url_collapses_recrawls(spark, tmp_path, capsys):
    """--latest-per-url must collapse same-canonical-URL snapshots BEFORE
    dedup: two crawls of one URL with near-identical text must yield one
    surviving doc and no duplicate pair, while a genuine cross-URL dup is
    still found."""
    import datetime as dt

    recrawl_text = "alpha beta gamma delta epsilon zeta eta theta " * 6
    mirror_text = "one two three four five six seven eight nine ten " * 6
    rows = [
        # one URL crawled twice (second spelling differs but canonicalizes
        # equal) — without the flag these two form a near-dup pair
        (0, "https://s.com/page", dt.datetime(2024, 1, 1), b"",
         recrawl_text, "en"),
        (1, "https://www.s.com/page#x", dt.datetime(2024, 2, 1), b"",
         recrawl_text + " tail", "en"),
        # genuine cross-URL duplicate pair (unrelated text)
        (10, "https://m1.com/a", dt.datetime(2024, 1, 1), b"",
         mirror_text, "en"),
        (11, "https://m2.com/a", dt.datetime(2024, 1, 1), b"",
         mirror_text, "en"),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows,
        "doc_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    ).write.parquet(src)
    out = str(tmp_path / "out")
    args = ["--input", src, "--output", out, "--num-bands", "16",
            "--rows-per-band", "2", "--jaccard-threshold", "0.55",
            "--max-bucket-size", "50"]
    main(args + ["--latest-per-url"])
    ver = spark.read.parquet(f"{out}/verified")
    pairs = {(r["id_a"], r["id_b"]) for r in ver.collect()}
    # doc 0 was collapsed away (doc 1 is the later snapshot), so the only
    # duplicate evidence left is the true cross-URL pair
    assert pairs == {(10, 11)}
    survivors = {r["doc_id"] for r in
                 spark.read.parquet(f"{out}/survivors").collect()}
    assert 0 not in survivors


def test_cli_redact_and_decontam(spark, tmp_path, capsys):
    """--redact-pii scrubs survivor text; --decontam-eval drops documents
    overlapping the benchmark table before dedup ever sees them."""
    body = " ".join(f"w{i}" for i in range(40))
    eval_frag = " ".join(f"bench{i}" for i in range(13))  # one 13-gram
    rows = [
        (1, f"{body} mail me at alice@example.org"),
        (2, f"{body} mail me at alice@example.org tail"),  # near-dup of 1
        (3, f"{eval_frag} plus some filler text here"),  # contaminated
        (4, "totally unrelated clean page content " * 3),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    ev = str(tmp_path / "eval")
    spark.createDataFrame(
        [(100, f"prefix {eval_frag} suffix")], "doc_id long, text string"
    ).write.parquet(ev)
    out = str(tmp_path / "out")
    main([
        "--input", src, "--output", out,
        "--jaccard-threshold", "0.6",
        "--redact-pii", "--decontam-eval", ev,
        "--include-singletons",
    ])
    capsys.readouterr()
    survivors = spark.read.parquet(f"{out}/survivors")
    ids = {r["doc_id"] for r in survivors.collect()}
    assert 3 not in ids  # decontaminated away entirely
    assert 4 in ids  # singleton survives (include-singletons)
    # the near-dup pair still collapses to one survivor AFTER redaction
    # (verify ran over the scrubbed text; redaction itself is pinned by
    # tests/test_redact_decontam.py)
    assert len(ids & {1, 2}) == 1
    clusters = spark.read.parquet(f"{out}/clusters")
    by_doc = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert 3 not in by_doc
    assert by_doc[1] == by_doc[2]


def test_cli_drop_repetitive(spark, tmp_path, capsys):
    """--drop-repetitive removes Gopher-failing docs before dedup."""
    clean = " ".join(f"tok{i} mid{i * 7 % 13}" for i in range(40))
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),  # top-2gram 1.0
        (2, clean),
        (3, clean + " extra tail words here"),  # near-dup of 2
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    main([
        "--input", src, "--output", out,
        "--jaccard-threshold", "0.6",
        "--drop-repetitive", "--include-singletons",
    ])
    capsys.readouterr()
    survivors = {r["doc_id"] for r in
                 spark.read.parquet(f"{out}/survivors").collect()}
    assert 1 not in survivors  # filtered before dedup
    assert len(survivors & {2, 3}) == 1  # pair still collapses


def test_cli_plan_only_bounds_decontam_eval_side(
    spark, tmp_path, capsys, monkeypatch
):
    """plan-only's bounded-execution contract covers the decontam join's
    BUILD side too: the eval table must enter the plan through a limit,
    not as an unbounded full-table shingle+distinct+broadcast. (Asserted
    on the DataFrame handed to remove_contaminated — the printed final
    plan sits above eager checkpoints, so the limit is invisible there.)"""
    scfg = SynthConfig(n_docs=60, seed=61)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    ev = str(tmp_path / "eval")
    spark.createDataFrame(
        [(100, "some benchmark sentence " * 5)], "doc_id long, text string"
    ).write.parquet(ev)

    from lsh_qd_spark.operators import decontam as decontam_mod

    seen = {}
    real = decontam_mod.remove_contaminated

    def spy(train, eval_docs, **kw):
        seen["eval_plan"] = eval_docs._jdf.queryExecution().analyzed().toString()
        return real(train, eval_docs, **kw)

    monkeypatch.setattr(decontam_mod, "remove_contaminated", spy)
    out = str(tmp_path / "out")
    main([
        "--input", src, "--output", out,
        "--plan-only", "--decontam-eval", ev,
    ])
    plan = capsys.readouterr().out
    assert "Physical Plan" in plan
    assert not os.path.exists(out)
    assert "eval_plan" in seen, "decontam prep never ran under plan-only"
    assert "GlobalLimit" in seen["eval_plan"]


def test_cli_streaming_rejects_renamed_columns(tmp_path):
    """Streaming reads the fixed pages schema (doc_id/text); a renamed
    column would by-name-resolve to NULLs and 'succeed' with zero
    duplicates — the CLI must refuse instead."""
    import pytest

    with pytest.raises(SystemExit, match="batch-mode only"):
        main([
            "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--mode", "incremental",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--id-col", "page_id",
        ])


def test_cli_prepped_corpus_materializes_once(spark, tmp_path, capsys):
    """With corpus-prep flags and a checkpoint dir, the prepped corpus is
    written once as a stage table and all downstream consumers (signature
    scan, verify fetch, survivors) read the materialized table instead of
    replaying the full-corpus prep shuffles per consumer."""
    scfg = SynthConfig(n_docs=120, seed=67)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    main([
        "--input", src, "--output", out,
        "--redact-pii",
        "--checkpoint-dir", ckpt,
    ])
    capsys.readouterr()
    assert os.path.isdir(f"{ckpt}/prepped_pages")
    # survivors joined against the PREPPED (redacted) corpus
    surv = spark.read.parquet(f"{out}/survivors")
    assert surv.count() > 0


def test_cli_streaming_rejects_include_singletons(tmp_path):
    import pytest

    with pytest.raises(SystemExit, match="include-singletons"):
        main(
            [
                "--input", str(tmp_path / "src"),
                "--output", str(tmp_path / "out"),
                "--mode", "incremental",
                "--include-singletons",
                "--checkpoint-dir", str(tmp_path / "w"),
            ]
        )


def test_cli_prep_resume_reuses_prepped_table(spark, tmp_path, capsys):
    """A rerun with the same input + prep flags must NOT replay the prep
    shuffles: the prepped table is manifest-guarded (compat marker) like
    the pipeline stages; changing a prep flag rebuilds it."""
    import json as _json

    scfg = SynthConfig(n_docs=200, seed=61)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    args = [
        "--input", src,
        "--output", str(tmp_path / "out"),
        "--num-bands", "16",
        "--rows-per-band", "2",
        "--jaccard-threshold", "0.55",
        "--max-bucket-size", "50",
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--latest-per-url",
    ]
    main(args)
    capsys.readouterr()
    prepped = tmp_path / "ckpt" / "prepped_pages"
    marker = prepped / "_compat_meta.json"
    assert marker.exists()
    with open(marker) as f:
        first_hash = _json.load(f)["config_hash"]
    files_before = sorted(
        (p.name, p.stat().st_mtime_ns) for p in prepped.glob("*.parquet")
    )
    main(args)  # resume: identical input + flags
    capsys.readouterr()
    files_after = sorted(
        (p.name, p.stat().st_mtime_ns) for p in prepped.glob("*.parquet")
    )
    assert files_after == files_before, "prep re-ran on a clean resume"
    # a changed prep flag invalidates the marker and rebuilds
    main(args + ["--redact-pii"])
    capsys.readouterr()
    with open(marker) as f:
        assert _json.load(f)["config_hash"] != first_hash
    files_rebuilt = sorted(
        (p.name, p.stat().st_mtime_ns) for p in prepped.glob("*.parquet")
    )
    assert files_rebuilt != files_before


def test_cli_streaming_rejects_plan_only(tmp_path):
    """--plan-only promises 'no write'; silently ignoring it in streaming
    would run the full stream and overwrite the output tables."""
    import pytest

    with pytest.raises(SystemExit, match="plan-only"):
        main(
            [
                "--input", str(tmp_path / "src"),
                "--output", str(tmp_path / "out"),
                "--mode", "incremental",
                "--checkpoint-dir", str(tmp_path / "ckpt"),
                "--plan-only",
            ]
        )


def test_cli_prep_resume_does_not_replay_prep_jobs(
    spark, tmp_path, capsys, monkeypatch
):
    """The prepped-table reuse gate must run BEFORE the prep lambdas are
    applied: remove_boilerplate materializes eagerly (localCheckpoint
    inside operators/clean.py), so applying preps first would launch the
    full-corpus prep job and then throw the result away on every resume —
    hours of wasted shuffle at the design scale. Counted via the operator
    entry point: a clean resume must not invoke it at all."""
    import lsh_qd_spark.operators.clean as clean_mod

    real = clean_mod.remove_boilerplate
    calls = {"n": 0}

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(clean_mod, "remove_boilerplate", counting)

    scfg = SynthConfig(n_docs=150, seed=67)
    src = str(tmp_path / "pages")
    generate_pages(spark, scfg).write.parquet(src)
    args = [
        "--input", src,
        "--output", str(tmp_path / "out"),
        "--num-bands", "16",
        "--rows-per-band", "2",
        "--jaccard-threshold", "0.55",
        "--max-bucket-size", "50",
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--clean-boilerplate",
    ]
    main(args)
    capsys.readouterr()
    assert calls["n"] == 1, "prep should run exactly once on first build"
    main(args)  # resume: identical input + flags
    capsys.readouterr()
    assert calls["n"] == 1, "prep lambda invoked on a clean resume"


def test_cli_bare_checkpoint_dir_is_a_directory(spark, tmp_path, monkeypatch):
    """A bare relative --checkpoint-dir ("ckpt", no slash) must be treated
    as a DIRECTORY, not a catalog identifier: catalog refs silently no-op
    the prep compat markers, so a resume with different prep flags would
    reuse a stale prepped corpus with no error."""
    monkeypatch.chdir(tmp_path)
    scfg = SynthConfig(n_docs=80, seed=71)
    generate_pages(spark, scfg).write.parquet(str(tmp_path / "pages"))
    args = [
        "--input", str(tmp_path / "pages"),
        "--output", str(tmp_path / "out"),
        "--num-bands", "16",
        "--rows-per-band", "2",
        "--jaccard-threshold", "0.55",
        "--max-bucket-size", "50",
        "--checkpoint-dir", "ckpt",
        "--latest-per-url",
    ]
    main(args)
    marker = tmp_path / "ckpt" / "prepped_pages" / "_compat_meta.json"
    assert marker.exists(), "prep marker must land in the DIRECTORY"
    # corrupt marker (mid-write crash) -> resume rebuilds, not crashes
    marker.write_text("")
    main(args)
    assert json.loads(marker.read_text())["config_hash"]
