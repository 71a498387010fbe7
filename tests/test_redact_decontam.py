"""PII redaction + benchmark decontamination operators.

Redaction cases each plant one real spelling of an email/IPv4/phone;
sequential-rule semantics (a later rule never re-counts text an earlier
rule consumed) are pinned explicitly. Decontamination is tested on a
planted train/eval overlap with known shared-gram counts, in both the
production (xxhash64 gram ids) and oracle (gram strings) join families,
and the broadcast scale shape is pinned in the physical plan.
"""

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.operators.decontam import (
    contamination,
    remove_contaminated,
)
from lsh_qd_spark.operators.redact import redact_docs, redact_pii

REDACT_CASES = [
    ("write to bob.smith+spam@mail-host.co.uk today",
     "write to <EMAIL> today"),
    ("server at 192.168.0.1 and 10.0.255.3.", "server at <IP> and <IP>."),
    ("call +44 20 7946 0958 now", "call <PHONE> now"),
    ("call +1 555-0172", "call <PHONE>"),
    # no PII → byte-identical passthrough
    ("version 1.2 of 3 things", "version 1.2 of 3 things"),
    # 1.2.3 is not a dotted quad; 1.2.3.4 is
    ("v1.2.3 then 1.2.3.4", "v1.2.3 then <IP>"),
    # email local parts with digits are consumed by the EMAIL rule, so the
    # phone rule never sees them (sequential semantics)
    ("mail 555123456@phones.example please",
     "mail <EMAIL> please"),
]


def test_redact_cases(spark):
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(REDACT_CASES)], "i long, t string"
    )
    got = {
        r["i"]: r["r"]
        for r in df.select("i", redact_pii(F.col("t")).alias("r")).collect()
    }
    for i, (_, want) in enumerate(REDACT_CASES):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_redact_null_passthrough(spark):
    df = spark.createDataFrame([(1, None)], "i long, t string")
    assert df.select(redact_pii(F.col("t")).alias("r")).first()["r"] is None


def test_redact_docs_counts_and_passthrough(spark):
    df = spark.createDataFrame(
        [(1, "a@b.co or c@d.io at 1.2.3.4", "keep")],
        "doc_id long, text string, extra string",
    )
    row = redact_docs(df).first()
    assert row["n_email"] == 2
    assert row["n_ipv4"] == 1
    assert row["n_phone"] == 0
    assert row["extra"] == "keep"
    assert row["text"] == "<EMAIL> or <EMAIL> at <IP>"


TRAIN = [
    # shares the 3-gram "spark shuffles wide" with eval doc 100
    (1, "every spark shuffles wide stage costs memory"),
    # shares nothing 3-gram-long with the eval set
    (2, "completely unrelated text about gardening and soil"),
    # shares three distinct eval 3-grams: one from eval doc 100 plus the
    # two overlapping windows of "sorted runs merge fast" from 101
    (3, "spark shuffles wide and sorted runs merge fast"),
]
EVAL = [
    (100, "spark shuffles wide"),
    (101, "sorted runs merge fast always"),
]


@pytest.mark.parametrize("family", ["xxhash64", "string"])
def test_contamination_counts(spark, family):
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    ev = spark.createDataFrame(EVAL, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_shared_grams"]
        for r in contamination(tr, ev, k=3, hash_family=family).collect()
    }
    assert got == {1: 1, 3: 3}


def test_remove_contaminated(spark):
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    ev = spark.createDataFrame(EVAL, "doc_id long, text string")
    kept = sorted(
        r["doc_id"] for r in remove_contaminated(tr, ev, k=3).collect()
    )
    assert kept == [2]
    # min_shared=2 keeps the single-gram doc too
    kept2 = sorted(
        r["doc_id"]
        for r in remove_contaminated(tr, ev, k=3, min_shared=2).collect()
    )
    assert kept2 == [1, 2]


def test_contamination_broadcasts_eval(spark):
    """Scale-shape pin: the eval gram set reaches the join as a broadcast
    (the training corpus must never shuffle for this check)."""
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    ev = spark.createDataFrame(EVAL, "doc_id long, text string")
    plan = (
        contamination(tr, ev, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_redact_docs_rerun_safe(spark):
    """Re-redacting an already-scrubbed table must REPLACE the n_<rule>
    audit columns, not duplicate them (duplicate names would break every
    downstream reference with AMBIGUOUS_REFERENCE)."""
    df = spark.createDataFrame(
        [(1, "a@b.co at 1.2.3.4", "keep")],
        "doc_id long, text string, extra string",
    )
    once = redact_docs(df)
    twice = redact_docs(once)
    assert len(twice.columns) == len(set(twice.columns))
    assert sorted(twice.columns) == sorted(once.columns)
    row = twice.first()
    # placeholders contain no PII, so the second pass counts zero and
    # leaves the text byte-identical
    assert row["n_email"] == 0 and row["n_ipv4"] == 0
    assert row["text"] == once.first()["text"]
    assert row["extra"] == "keep"


def test_remove_contaminated_shuffle_fallback(
    spark, monkeypatch, no_auto_broadcast
):
    """Over the size gate's cap (forced here by lowering it to 0) the eval
    grams and the flagged ids join by shuffle, never by broadcast, and the
    corpus is the same as on the broadcast path."""
    from lsh_qd_spark.operators import pairs

    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    ev = spark.createDataFrame(EVAL, "doc_id long, text string")

    def kept_and_plan():
        out = remove_contaminated(tr, ev, k=3)
        kept = sorted(r["doc_id"] for r in out.collect())
        return kept, out._jdf.queryExecution().executedPlan().toString()

    kept_b, plan_b = kept_and_plan()
    monkeypatch.setattr(pairs, "BIG_KEY_BROADCAST_CAP", 0)
    kept_s, plan_s = kept_and_plan()
    assert "BroadcastHashJoin" in plan_b
    assert "Broadcast" not in plan_s
    assert kept_b == kept_s == [2]


def test_redaction_context_guards(spark):
    """Guards against expression-like false positives: arithmetic '+'
    runs are not phones, and version strings with five dotted groups are
    not IPv4 (the old \\b boundary matched the first four octets)."""
    df = spark.createDataFrame(
        [
            (1, "price 1+23 45 67 total"),
            (2, "version 1.2.3.4.5 released"),
            (3, "call +33 12 34 56 now"),
            (4, "host 10.0.0.1 up"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in redact_docs(df).collect()}
    assert got[1] == "price 1+23 45 67 total"  # untouched
    assert got[2] == "version 1.2.3.4.5 released"  # untouched
    assert got[3] == "call <PHONE> now"
    assert got[4] == "host <IP> up"


def test_adjacent_ips_both_redacted_and_word_adjacent_skipped(spark):
    """Two-pass guarded rules: the first match's right guard consumes the
    shared separator, so a single pass left the second of two adjacent
    IPs verbatim in the shipped corpus (a PII-leak regression vs \\b).
    And the \\b-equivalent guard classes must not over-redact
    letter/underscore-adjacent quads the old \\b rule correctly skipped."""
    df = spark.createDataFrame(
        [
            (1, "src 1.2.3.4 5.6.7.8 dst"),
            (2, "csv 1.2.3.4,5.6.7.8 end"),
            (3, "chain 1.1.1.1 2.2.2.2 3.3.3.3 done"),
            (4, "v1.2.3.4 build_1.2.3.4 1.2.3.4beta"),  # all identifiers
            (5, "phones +33 12 34 56 +44 20 79 46 end"),
        ],
        "doc_id long, text string",
    )
    out = redact_docs(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["text"] == "src <IP> <IP> dst"
    assert got[1]["n_ipv4"] == 2
    assert got[2]["text"] == "csv <IP>,<IP> end"
    assert got[3]["text"] == "chain <IP> <IP> <IP> done"
    assert got[3]["n_ipv4"] == 3
    assert got[4]["text"] == "v1.2.3.4 build_1.2.3.4 1.2.3.4beta"
    assert got[4]["n_ipv4"] == 0
    assert got[5]["text"] == "phones <PHONE> <PHONE> end"
    assert got[5]["n_phone"] == 2
