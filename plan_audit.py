#!/usr/bin/env python
"""Physical-plan audit: capture `explain(formatted)` for the flagship
queries and summarize the plan properties that matter at 100 TB —
scan pushdown (PushedFilters / ReadSchema pruning), whole-stage codegen
coverage, and shuffle (Exchange) counts. Writes BENCH/PLANS.md.

Run `python plan_audit.py` after changing any operator; the summary table
is the fast regression check ("did this change add a shuffle?").
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# The audit pins the AT-SCALE plan shape (what the operators do at 100 TB),
# where spread_small_input is a structural no-op (real inputs split well).
# Auditing at sf0.01 without this would instead record the small-input
# rescue shape: +1 round-robin exchange per scan and every plan wrapped in
# a not-yet-final AdaptiveSparkPlan (hiding the codegen spans).
os.environ.setdefault("SPARK_GRAFT_SPREAD_SMALL_INPUT", "0")


def explain_str(df, mode: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def summarize(plan: str, simple: str) -> dict:
    """Count DISTINCT node ids — `explain(formatted)` repeats each node in
    the details section. Codegen spans come from the simple plan's `*(n)`
    stage markers (formatted mode doesn't print them)."""

    def nodes(name_re: str) -> int:
        return len(set(re.findall(rf"(?:{name_re}) \((\d+)\)", plan)))

    return {
        # negative lookbehinds: neither 'BroadcastExchange (n)' (tallied
        # separately below) nor 'ReusedExchange (n)' (a REFERENCE to an
        # exchange already counted, not a new shuffle) may count here —
        # a plan that merely reuses a broadcast would otherwise read as
        # having gained a shuffle
        "shuffles": len(
            set(
                re.findall(
                    r"(?<!Broadcast)(?<!Reused)Exchange \((\d+)\)", plan
                )
            )
        ),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "python_stages": nodes(
            "ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas"
        ),
        "broadcasts": nodes("BroadcastExchange"),
        "cartesian": nodes("CartesianProduct"),
    }


# (name, builder, commentary shown under the table)
def audited_queries(spark):
    from pyspark.sql import functions as F

    from lsh_qd_spark.config import DedupConfig
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pipe = DedupPipeline(
        DedupConfig(
            shingle_k=5,
            rows_per_band=2,
            num_bands=8,
            jaccard_threshold=0.7,
            shingle_hash="fast",
        )
    )
    sigs = pipe.signatures_from_text(docs)
    buckets = pipe.buckets(sigs)
    pairs = pipe.pairs(buckets)
    from lsh_qd_spark.operators.verify import verify_pairs_text

    verified = verify_pairs_text(pairs, docs, 0.7, 5)
    # The >cap mega-bucket branch (pairs.py shuffle-join fallback): force it
    # with a tiny bucket cap + zero broadcast budget so its plan is audited
    # too (round-2 verdict item #7 — this branch had no regression guard).
    from lsh_qd_spark.operators.pairs import candidate_pairs

    pairs_fallback = candidate_pairs(
        buckets, alpha=1, max_bucket_size=2, big_key_broadcast_cap=0
    )
    out = {
        "signatures (scan→fused kernel)": sigs,
        "buckets (sig→band explode)": buckets,
        "candidate_pairs (bucket shuffle + skew guard)": pairs,
        "candidate_pairs big-key fallback (cap=0)": pairs_fallback,
        "verified_pairs (fetch-late text joins)": verified,
    }

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in [
        "exact_dup_clusters",
        "ann_ivf_topk",
        "token_counts",
        "boilerplate_segments",
        "url_dedup",
        "pii_redaction",
        "decontam_overlap",
        "repetition_scores",
    ]:
        out[name] = qs[name](spark, SF_DIR)
    return out


def main() -> None:
    from lsh_qd_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[4]")
    rows = []
    details = []
    for name, df in audited_queries(spark).items():
        plan = explain_str(df, "formatted")
        s = summarize(plan, explain_str(df, "simple"))
        rows.append((name, s))
        details.append((name, plan))

    lines = [
        "# Physical-plan audit",
        "",
        f"Generated by `python plan_audit.py` over `{SF_DIR}`. Regenerate after",
        "operator changes; diffs in the summary table are plan regressions.",
        "",
        "| query | shuffles | codegen spans | pushed filters | arrow/python stages | broadcasts | cartesian |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, s in rows:
        lines.append(
            f"| {name} | {s['shuffles']} | {s['codegen_spans']} | "
            f"{'yes' if s['pushed_filters'] else '—'} | {s['python_stages']} | "
            f"{s['broadcasts']} | {s['cartesian']} |"
        )
    lines += [
        "",
        "Reading guide:",
        "- `signatures` must be a single narrow stage (0 shuffles): scan → Arrow",
        "  kernel, nothing else. Column pruning shows in the scan's ReadSchema.",
        "- `buckets` adds only the band explode — still 0 shuffles.",
        "- `candidate_pairs` owns THE one wide shuffle of the dedup path (bucket",
        "  groupBy); a second exchange appears only for the final pair agg.",
        "- the `big-key fallback` row is the >cap mega-bucket branch forced on",
        "  (cap=0): the pair-agg chain is eagerly localCheckpointed (exchange",
        "  reuse does not fire across the union/anti-join duplication — see",
        "  operators/pairs.py), so the VISIBLE plan truncates at the checkpoint",
        "  scan; the audited residue is the star join — still no cartesian.",
        "- `verified_pairs` re-reads text for candidate ids only (broadcast",
        "  semi-join, candidate texts localCheckpointed once) — broadcasts > 0,",
        "  no full-corpus shuffle; its 2 exchanges belong to the upstream pairs",
        "  subplan.",
        "- `cartesian` must be 0 everywhere except brute-force oracle twins",
        "  (ann_cosine_topk / embedding_near_dup are O(n²) BY DESIGN as checkers).",
        "- `url_dedup` (re-crawl collapse) is all-JVM: 0 python stages, and its",
        "  winner election shuffles only the skinny (key, ts, id) projection —",
        "  wide columns ride the fetch-side join (ReadSchema pin in",
        "  tests/test_recrawl.py).",
        "- `pii_redaction` must be a 0-shuffle, 0-python narrow map (pure JVM",
        "  regexp chain — it runs at scan speed at 100 TB).",
        "- `decontam_overlap` must reach the gram join via a BROADCAST of the",
        "  eval-set grams (broadcasts ≥ 1): the training corpus is never",
        "  shuffled for the membership probe. Its one exchange is the final",
        "  per-doc partial-agg groupBy; the eval-side distinct runs in the",
        "  size gate's count job (`pairs.bounded_broadcast`), so the plan",
        "  reads the checkpointed gram set (`Scan ExistingRDD`).",
        "- `repetition_scores` must be a 0-shuffle, 0-python narrow map (the",
        "  top-gram count is a sorted-array run-length aggregate inside the",
        "  projection — the Gopher filter family runs at scan speed).",
        "",
        "## Full plans",
        "",
    ]
    for name, plan in details:
        lines += [f"### {name}", "", "```", plan.rstrip(), "```", ""]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    for name, s in rows:
        print(name, s)
    spark.stop()


if __name__ == "__main__":
    main()
