"""PII redaction — the standard pre-release scrub of a web-text corpus.

Every public web-scale training-data pipeline (CCNet, C4 derivatives,
Dolma §4.3, RefinedWeb) masks personally identifiable strings before the
corpus ships; this operator is that step for the engine: email addresses,
IPv4 addresses, and international-format phone numbers are replaced with
typed placeholder tokens, and per-document match counts are emitted for
the cleaning audit trail.

Design constraints:
- **Pure JVM regexp chain** (no UDF): each rule is one
  ``regexp_replace`` / ``regexp_count`` pair, so the whole scrub stays
  inside whole-stage codegen and the scan's ReadSchema — the same
  narrow, shuffle-free shape as functions/text.extract_text. At 100 TB
  this runs at scan speed.
- **Sequential rule order is the semantics.** Rule *i* counts and
  replaces on the text produced by rules ``< i`` (email → ipv4 → phone),
  so a digit run consumed by an earlier rule can never double-count in a
  later one. The oracle twin applies the identical sequence.
- **RE2-compatible patterns.** The DuckDB oracle twin evaluates the SAME
  pattern strings (``PII_RULES`` feeds both engines — one dict, no
  drift), so every pattern avoids constructs Java regex and RE2 disagree
  on: no lookaround, no backreferences, ASCII character classes only.

The reference has no text-scrubbing surface (it consumes pre-vectorized
binary strings, /root/reference/lsh-qd.py:195); this operator is part of
the training-data-pipeline extension the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement, n_passes) — applied IN ORDER; the pattern
# strings are shared verbatim with the DuckDB oracle twin
# (oracle.SQL_PII_REDACTION is generated from this list), so the two
# engines cannot drift. Replacements use JAVA group syntax ($1); the SQL
# generator translates $N -> \N for RE2. Context guards are
# MATCH-AND-RESTORE groups — neither engine supports lookaround (RE2 has
# none), so the boundary char is consumed by the match and put back by
# the replacement. ``n_passes``: a consumed separator hides an
# IMMEDIATELY adjacent second match ("1.2.3.4 5.6.7.8" — the shared
# space is eaten by the first match's right guard), so guarded rules run
# a second pass; two passes reach every member of any adjacency chain
# (pass one takes alternating members, which un-adjacents the rest).
PII_RULES: tuple[tuple[str, str, str, int], ...] = (
    # local@domain.tld — the unanchored classic; +/%/._- in the local part
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>", 1),
    # dotted-quad IPv4. Guarded on BOTH sides with the \b-equivalent
    # class [^0-9A-Za-z_.] PLUS dot-exclusion: \b alone matched the first
    # four octets of "1.2.3.4.5" (version strings) because '.' is a
    # non-word char, while a bare non-digit guard would over-redact
    # letter-adjacent quads ("v1.2.3.4") that \b correctly skipped. The
    # right guard admits end-of-string, a non-word-non-dot char, or a dot
    # NOT followed by a word char (a sentence period) — never a fifth
    # dotted group or a trailing identifier. Every alternative restores
    # exactly what it consumed, so alternation order cannot change the
    # output across engines.
    (
        "ipv4",
        r"(^|[^0-9A-Za-z_.])(\d{1,3}(\.\d{1,3}){3})"
        r"($|[^0-9A-Za-z_.]|\.[^0-9A-Za-z_.]|\.$)",
        "$1<IP>$4",
        2,
    ),
    # international-format phone: +CC then 2-4 groups of 2-4 digits with
    # optional single space/hyphen separators. Left-guarded against
    # digits/+/-: unguarded, "price 1+23 45 67" (arithmetic, ranges)
    # redacted from the '+'. Greedy with no alternation, so Java
    # (backtracking) and RE2 (automaton) match identically.
    (
        "phone",
        r"(^|[^0-9+-])(\+\d{1,3}([ -]?\d{2,4}){2,4})",
        "$1<PHONE>",
        2,
    ),
)


def redact_pii(text: Column) -> Column:
    """``text`` with every PII_RULES match replaced by its placeholder
    (rules applied in order, guarded rules in two passes). NULL stays
    NULL."""
    out = text
    for _, pat, repl, n_passes in PII_RULES:
        for _ in range(n_passes):
            out = F.regexp_replace(out, pat, repl)
    return out


def pii_scrub(text: Column) -> tuple[list[Column], Column]:
    """(counts, redacted) in ONE pass of the rule chain: rule *i* counts on
    the text already redacted by rules ``< i``, and the chain's final
    string IS the redacted output — computing counts and redaction
    separately would run every regexp twice per row on the scan-speed hot
    path. Counts are 0 (not NULL) for NULL text — the audit contract is
    "how many matches were redacted", and arithmetic/filters on NULL
    counts silently mis-handle rows; the redacted text itself stays NULL."""
    cur = text
    counts = []
    for _, pat, repl, n_passes in PII_RULES:
        # per-pass count-then-replace, summed: pass 2 catches (and must
        # audit) matches whose shared separator pass 1 consumed
        rule_count = F.lit(0)
        for _ in range(n_passes):
            rule_count = rule_count + F.coalesce(
                F.regexp_count(cur, F.lit(pat)), F.lit(0)
            )
            cur = F.regexp_replace(cur, pat, repl)
        counts.append(rule_count)
    return counts, cur


def redact_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The scrubbed corpus plus per-rule ``n_<rule>`` audit counts — all
    input columns other than ``text_col`` pass through untouched (no id
    column is needed: the scrub is row-local).

    Re-run safe: pre-existing ``n_<rule>`` audit columns from an earlier
    redaction pass are replaced, not duplicated (the same convention as
    ``recrawl.latest_snapshot`` for canonical_url/n_snapshots) — without
    this, redacting an already-scrubbed table would emit two ``n_email``
    columns and break every downstream reference with
    AMBIGUOUS_REFERENCE."""
    t = F.col(text_col)
    audit_cols = {f"n_{name}" for name, *_ in PII_RULES}
    cols = [
        F.col(c) for c in docs.columns
        if c != text_col and c not in audit_cols
    ]
    raw_counts, redacted = pii_scrub(t)
    counts = [
        c.cast("long").alias(f"n_{name}")
        for c, (name, *_) in zip(raw_counts, PII_RULES)
    ]
    return docs.select(*cols, *counts, redacted.alias(text_col))
