"""Benchmark workloads: seeded synthetic crawls with planted truth.

Every workload is a ``lsh_qd_spark.synth.SynthConfig`` plus the reason it
exists. Inputs depend only on the workload and ``--seed``; they are written
to parquet before anything is timed, and the program reads only that
parquet. Truth comes from ``synth.truth_clusters`` (the same planting that
``synth.truth_pairs`` enumerates), so recall is scored without
enumerating the boilerplate cluster's pairs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pandas as pd

from lsh_qd_spark import DedupConfig
from lsh_qd_spark.synth import SynthConfig, generate_pages, truth_clusters

# The dedup configuration every workload runs.
BENCH_CFG = DedupConfig(
    shingle_k=5,
    rows_per_band=2,
    num_bands=8,
    jaccard_threshold=0.7,
    max_bucket_size=500,
)

# Planted pairs at or above this tier must be found; the 0.60 tier sits
# below the 0.7 verify threshold and is not expected.
TRUTH_MIN_TIER = 0.7
MIN_RECALL = 0.99

# Untimed warm-up before anything is measured. In a fresh JVM the first
# pass pays class loading and JIT, and passes keep getting faster for
# about ten passes while the JIT compiles. Most of that is per-job fixed
# cost, so it is warmed cheaply on a slice of about WARMUP_SLICE_PAGES
# pages, then one full pass warms the size-dependent paths.
WARMUP_SLICE_PASSES = 2
WARMUP_SLICE_PAGES = 2500


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    synth: SynthConfig


# Why each workload exists:
# - crawl-longpage: realistic page length with few duplicates, so the
#   fused tokenize/shingle/MinHash kernel (functions.fast_shingle) and
#   banding are the largest layer: in the traced run on a 4-core host,
#   about 57% of task time and 42% of wall time, against verify's 26% and
#   30%. Pairs, verify and cluster see few candidates (about 4k) and cost
#   mostly their fixed per-stage latency, so a faster signature kernel
#   moves this workload most.
#   600 identical pages sit above the 500 bucket cap, so they become star
#   edges instead of 180k candidate pairs.
# - crawl-dupheavy: short pages, 90% of them in near-duplicate clusters of
#   10 plus a 600-page boilerplate cluster (above the cap too), so
#   candidate pairs, Jaccard verify and union-find do most of the work and
#   signatures little.
# Together they bracket the signature/verify split: an optimisation of one
# layer should move one workload and leave the other unchanged.
# Page counts are sized so one run (fresh JVM, warm-up, timed window,
# checks) fits the per-run budget on a 4-core host; longpage needs three
# times the pages of dupheavy before signatures outweigh the fixed cost
# of the other layers' stages.
WORKLOADS = {
    "crawl-longpage": (
        "long pages and few duplicates, so the signature kernel is the "
        "largest layer and verify sees few candidates",
        dict(
            n_docs=30_000,
            min_tokens=400,
            max_tokens=1000,
            dup_fraction=0.1,
            boiler_fraction=0.02,
        ),
    ),
    "crawl-dupheavy": (
        "short pages, 90% near-duplicates, so candidate pairs and verify do "
        "most of the work",
        dict(
            n_docs=10_000,
            min_tokens=40,
            max_tokens=100,
            dup_fraction=0.9,
            cluster_size=10,
            boiler_fraction=0.06,
        ),
    ),
}


def workload(name: str, seed: int) -> Workload:
    """The named workload's inputs for ``seed``."""
    why, kw = WORKLOADS[name]
    return Workload(
        name, why, SynthConfig(seed=seed, shingle_k=BENCH_CFG.shingle_k, **kw)
    )


def write_pages(spark, wl: Workload, path: str) -> int:
    """Write the workload's pages to parquet; returns the page count. The
    ``html`` column is left out: the pipeline reads only ids and text, and
    it would double the bytes each run writes.

    The pages go into two files per core, split by doc_id hash, so each
    file is one read task and the tasks are even. Left as the generator
    writes them (one file per core), the longpage files exceed the
    session's 16 MB split size and are read as 7 tasks of uneven size on
    4 cores."""
    files = 2 * spark.sparkContext.defaultParallelism
    (
        generate_pages(spark, wl.synth)
        .select("doc_id", "url", "warc_ts", "text", "lang")
        .repartition(files, "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    return wl.synth.n_docs


def one_pass(pipe, docs) -> dict:
    """One untraced pass: the whole pipeline, ending when the clusters
    have been written to the ``noop`` sink."""
    out = pipe.run(docs)
    out["clusters"].write.format("noop").mode("overwrite").save()
    return out


def warm_up(pipe, docs, n_pages: int, full: bool = True) -> list[float]:
    """Untimed passes: ``WARMUP_SLICE_PASSES`` over a hash slice of
    ``docs`` of about ``WARMUP_SLICE_PAGES`` pages, then, if ``full``, one
    over all of it; returns their wall times."""
    from pyspark.sql import functions as F

    slices = max(1, n_pages // WARMUP_SLICE_PAGES)
    part = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(slices)) == 0)
    walls = []
    for d in [part] * WARMUP_SLICE_PASSES + [docs] * full:
        t0 = time.perf_counter()
        one_pass(pipe, d)
        walls.append(time.perf_counter() - t0)
    pipe.release()
    return walls


def truth_frame(spark, wl: Workload, clusters) -> pd.DataFrame:
    """Every doc of a found cluster or of a planted cluster that must be
    found, with its planted ``truth`` cluster (NaN for unplanted docs) and
    its ``found`` cluster (NaN when the program put it in none)."""
    from pyspark.sql import functions as F

    planted = truth_clusters(spark, wl.synth).select(
        "doc_id", F.col("cluster_id").alias("truth"), "tier"
    )
    found = clusters.select("doc_id", F.col("cluster_id").alias("found"))
    return (
        planted.join(found, "doc_id", "full_outer")
        .where((F.col("tier") >= TRUTH_MIN_TIER) | F.col("found").isNotNull())
        .toPandas()
    )


def check(spark, wl: Workload, clusters) -> tuple[float, int]:
    """(recall, impure found clusters) of ``clusters`` against the
    workload's planted truth."""
    frame = truth_frame(spark, wl, clusters)
    return recall(frame), impure_clusters(frame)


def _pairs(n: pd.Series) -> int:
    return int((n * (n - 1) // 2).sum())


def recall(frame: pd.DataFrame) -> float:
    """Share of planted pairs (both docs in one cluster of tier ≥
    ``TRUTH_MIN_TIER``) whose two docs share a found cluster. Counted per
    (planted, found) group as n·(n−1)/2, so the boilerplate cluster costs
    one group, not one row per pair."""
    planted = frame[frame["tier"] >= TRUTH_MIN_TIER]
    total = _pairs(planted.groupby("truth").size())
    if total == 0:
        raise ValueError("workload plants no pairs to recall")
    found = planted.dropna(subset=["found"])
    hit = _pairs(found.groupby(["truth", "found"]).size())
    return hit / total


def impure_clusters(frame: pd.DataFrame) -> int:
    """Found clusters that join docs from different planted clusters or
    any unplanted doc — false positives, since unplanted pages share no
    shingles beyond chance."""
    found = frame.dropna(subset=["found"])
    per = found.groupby("found")["truth"].agg(
        lambda t: t.isna().any() or t.nunique() > 1
    )
    return int(per.sum())


def useful_ratio(verified: int, candidates: int) -> float:
    """Verified edges per candidate pair: the share of verify work that
    produced an edge."""
    return verified / candidates if candidates else 0.0
