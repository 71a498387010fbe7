"""Boilerplate removal (operators/clean.py): planted shared windows are
removed from every document, unique content and sub-window tails survive,
and the removal count agrees with the oracle accounting query."""

from pyspark.sql import functions as F

from lsh_qd_spark.functions.text import normalize_text
from lsh_qd_spark.operators.clean import remove_boilerplate


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_boilerplate_removed(spark):
    footer = " ".join(f"foot{i}" for i in range(10))  # one exact window
    rows = []
    # 4 docs share the footer window at position 0, then unique content
    for d in range(4):
        uniq = " ".join(f"u{d}w{i}" for i in range(10))
        rows.append((d, f"{footer} {uniq}"))
    # 1 doc with entirely unique text (2 windows + 3-token tail)
    rows.append(
        (9, " ".join(f"solo{i}" for i in range(23)))
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            _mk(spark, rows), seg_len=10, df_threshold=3
        ).collect()
    }
    for d in range(4):
        assert out[d]["removed_segments"] == 1
        assert out[d]["text"] == " ".join(f"u{d}w{i}" for i in range(10))
        assert "foot0" not in out[d]["text"]
    assert out[9]["removed_segments"] == 0
    assert out[9]["text"] == " ".join(f"solo{i}" for i in range(23))


def test_shuffle_fallback_matches_broadcast(
    spark, monkeypatch, no_auto_broadcast
):
    """Over the size gate's cap (forced here by lowering it to 0) the
    flagged windows are anti-joined by shuffle, never by broadcast, and
    the cleaned corpus is the same as on the broadcast path."""
    from lsh_qd_spark.operators import pairs

    footer = " ".join(f"foot{i}" for i in range(10))
    rows = [
        (d, f"{footer} " + " ".join(f"u{d}w{i}" for i in range(12)))
        for d in range(5)
    ]
    docs = _mk(spark, rows)

    def cleaned_and_plan():
        out = remove_boilerplate(docs, seg_len=10, df_threshold=3)
        got = sorted(tuple(r) for r in out.collect())
        return got, out._jdf.queryExecution().executedPlan().toString()

    got_b, plan_b = cleaned_and_plan()
    monkeypatch.setattr(pairs, "BIG_KEY_BROADCAST_CAP", 0)
    got_s, plan_s = cleaned_and_plan()
    assert "BroadcastHashJoin" in plan_b
    assert "Broadcast" not in plan_s
    assert got_b == got_s
    assert all(r[2] == 1 and "foot0" not in r[1] for r in got_s)


def test_below_threshold_untouched_and_order_preserved(spark):
    shared = " ".join(f"s{i}" for i in range(10))
    # only 2 docs share the window — below df_threshold=3 → kept, and
    # window order within a doc is preserved through the rebuild
    rows = [
        (0, f"a0 a1 a2 a3 a4 a5 a6 a7 a8 a9 {shared} z0 z1"),
        (1, f"{shared} b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"),
    ]
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            _mk(spark, rows), seg_len=10, df_threshold=3
        ).collect()
    }
    for d, (_, txt) in zip((0, 1), rows):
        assert got[d]["removed_segments"] == 0
    assert got[0]["text"] == f"a0 a1 a2 a3 a4 a5 a6 a7 a8 a9 {shared} z0 z1"
    assert got[1]["text"] == f"{shared} b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"


def test_short_and_empty_docs_pass_through(spark):
    rows = [(0, "just five little tokens here"), (1, ""), (2, None)]
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate(_mk(spark, rows)).collect()
    }
    assert got[0]["text"] == "just five little tokens here"
    assert got[0]["removed_segments"] == 0
    assert got[1]["text"] == "" and got[2]["text"] == ""


def test_agrees_with_oracle_accounting(spark, tmp_path):
    """removed_segments == the oracle query's boiler_segments on the same
    table (transformation and accounting implement one rule)."""
    from lsh_qd_spark.oracle import SEG_BOILER_DF, SEG_LEN, q_boilerplate_segments
    from lsh_qd_spark.synth import SynthConfig, generate_pages

    pages = generate_pages(spark, SynthConfig(n_docs=300, seed=71)).select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    root = tmp_path / "sf"
    pages.write.parquet(str(root / "documents.parquet"))
    acct = {
        r["doc_id"]: r["boiler_segments"]
        for r in q_boilerplate_segments(spark, str(root)).collect()
    }
    cleaned = remove_boilerplate(
        pages, seg_len=SEG_LEN, df_threshold=SEG_BOILER_DF
    )
    for r in cleaned.collect():
        assert r["removed_segments"] == acct[r["doc_id"]], r["doc_id"]
    # the synth boiler cluster is byte-identical across >= SEG_BOILER_DF
    # docs, so its full windows must have been removed
    assert sum(acct.values()) > 0


def test_passthrough_columns_preserved(spark):
    """All non-text input columns survive (sibling-operator convention):
    url/lang ride through, the id keeps its ORIGINAL name, a pre-existing
    removed_segments from an earlier pass is replaced (not duplicated),
    and a passthrough column literally named doc_id does not collide with
    a differently-named id column."""
    footer = " ".join(f"foot{i}" for i in range(10))
    rows = [
        (d, f"{footer} u{d}", f"https://e.com/{d}", "en", 99, d * 100)
        for d in range(4)
    ]
    docs = spark.createDataFrame(
        rows,
        "page_id long, text string, url string, lang string, "
        "removed_segments long, doc_id long",
    )
    out = remove_boilerplate(docs, seg_len=10, df_threshold=3, id_col="page_id")
    assert sorted(out.columns) == sorted(
        ["page_id", "text", "removed_segments", "url", "lang", "doc_id"]
    )
    got = {r["page_id"]: r for r in out.collect()}
    for d in range(4):
        assert got[d]["url"] == f"https://e.com/{d}"
        assert got[d]["lang"] == "en"
        assert got[d]["doc_id"] == d * 100  # passthrough, not the id
        assert got[d]["removed_segments"] == 1  # replaced, not the old 99
        assert got[d]["text"] == f"u{d}"
