"""The traced run: each layer's public entry point called in turn, from outside.

Each call runs under its own Spark job group; its output is persisted and
counted before the next call, so every job a layer causes lands in its
group. Per call the run records a span (name, start, end, parent), Spark's
counters for the group (``probes.StatusStore``) and the CPU of the Python
workers (``probes.TreeMeter``). Layers and the end-to-end metric each
should move:

- ``session`` (``get_spark``): ``setup_s`` on every workload.
- ``signatures`` (``functions.fast_shingle`` + ``operators.band``:
  ``signatures_from_text`` -> ``_partitioned_buckets``): ``pages_per_s`` and
  ``cpu_s_per_kpage``, most on crawl-longpage.
- ``pairs`` (``operators.pairs.candidate_pairs``): ``pages_per_s`` on
  crawl-dupheavy.
- ``verify`` (``operators.verify.verify_pairs_text``): ``pages_per_s`` on
  crawl-dupheavy; its fixed cost shows on crawl-longpage too.
- ``cluster`` (``operators.cluster.connected_components``): ``pages_per_s`` on
  crawl-dupheavy.
- ``pipeline`` (one untraced ``DedupPipeline.run`` pass): job and stage
  counts, each adding fixed latency to ``pages_per_s``.
- ``stream`` (``streaming.incremental`` + ``io``:
  ``IncrementalDedup.process_batch``): an index built from the corpus minus
  a few segments, then one micro-batch per segment. The only path that
  writes; no end-to-end metric covers it.

Counts that must repeat exactly for one workload and seed (rows, stages,
shuffle bytes, star rows, iterations, index files) are checked twice, and
a difference is reported as nondeterminism and fails the run:

- within the run: the batch layers are called twice on the same input,
  the first call's counts are the reference and the second call's are
  reported;
- across runs: every exact count is compared with the first traced run of
  the same workload, seed, page count and code in this checkout. The
  record is keyed by a hash of the ``lsh_qd_spark`` files and the
  benchmark's sources, so a change that lowers a count on purpose starts a
  new record.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import workloads
from probes import GroupCounters, StatusStore, TreeMeter

ROOT = Path(__file__).resolve().parent.parent

# name -> (unit, better)
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "signatures.wall_s": ("s", "lower"),
    "signatures.task_s": ("s", "lower"),
    "signatures.py_cpu_s": ("s", "lower"),
    "signatures.rows_out": ("rows", "lower"),
    "signatures.shuffle_mb": ("MB", "lower"),
    "pairs.wall_s": ("s", "lower"),
    "pairs.task_s": ("s", "lower"),
    "pairs.rows_out": ("rows", "lower"),
    "pairs.star_rows": ("rows", "lower"),
    "pairs.stages": ("count", "lower"),
    "pairs.shuffle_mb": ("MB", "lower"),
    "verify.wall_s": ("s", "lower"),
    "verify.task_s": ("s", "lower"),
    "verify.py_cpu_s": ("s", "lower"),
    "verify.rows_out": ("rows", "higher"),
    "verify.useful_ratio": ("ratio", "higher"),
    "verify.stages": ("count", "lower"),
    "verify.shuffle_mb": ("MB", "lower"),
    "cluster.wall_s": ("s", "lower"),
    "cluster.iterations": ("count", "lower"),
    "cluster.rows_out": ("rows", "higher"),
    "pipeline.wall_s": ("s", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.stages": ("count", "lower"),
    "pipeline.failed_tasks": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "stream.process_batch_s": ("s", "lower"),
    "stream.batch_task_s": ("s", "lower"),
    "stream.index_files": ("count", "lower"),
    "stream.read_rows": ("rows", "lower"),
    "stream.hits_rows": ("rows", "higher"),
    "stream.failed_tasks": ("count", "lower"),
    "repeat.mismatches": ("count", "lower"),
}

# counters that must not change between runs of one workload and seed
EXACT = (
    "signatures.rows_out",
    "signatures.shuffle_mb",
    "pairs.rows_out",
    "pairs.star_rows",
    "pairs.stages",
    "pairs.shuffle_mb",
    "verify.rows_out",
    "verify.stages",
    "verify.shuffle_mb",
    "cluster.iterations",
    "cluster.rows_out",
    "stream.index_files",
)

# Stream layer: the corpus is cut into segments of SEGMENT_PAGES pages by
# doc_id hash; BASE_SEGMENTS of them are indexed in one epoch, then each of
# STREAM_SEGMENTS others is processed as one micro-batch.
SEGMENT_PAGES = 1000
BASE_SEGMENTS = 8
STREAM_SEGMENTS = 1


class Tracer:
    """Spans and per-call counters, kept in memory until the run ends."""

    def __init__(self, spark, meter: TreeMeter):
        self.store = StatusStore(spark)
        self.meter = meter
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        """Run the body under a fresh job group; on exit the yielded dict
        holds ``wall_s``, ``py_cpu_s`` and the group's ``counters``."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        rec: dict = {}
        py0 = self.meter.cpu()[1]
        t0 = time.perf_counter()
        self.store.set_group(group)
        try:
            yield rec
        finally:
            self.store.clear_group()
            t1 = time.perf_counter()
            self.spans.append(
                {
                    "name": name,
                    "parent": parent,
                    "start": t0 - self.t0,
                    "end": t1 - self.t0,
                }
            )
        rec["wall_s"] = t1 - t0
        rec["py_cpu_s"] = self.meter.cpu()[1] - py0
        rec["counters"] = self.store.counters(group)


def _mb(c: GroupCounters) -> float:
    return round(c.shuffle_write_bytes / 2**20, 6)


def _layers(tr: Tracer, pipe, docs, parent: str) -> tuple[dict, object]:
    """Call each batch layer once, in spans under ``parent``; returns
    (metrics, clusters)."""
    from lsh_qd_spark.operators.verify import verify_pairs_text

    cfg = pipe.config
    m: dict = {}
    with tr.span("signatures", parent) as s:
        buckets = pipe._partitioned_buckets(
            pipe.signatures_from_text(docs)
        ).persist()
        rows = buckets.count()
    m.update(
        {
            "signatures.wall_s": s["wall_s"],
            "signatures.task_s": s["counters"].task_s,
            "signatures.py_cpu_s": s["py_cpu_s"],
            "signatures.rows_out": rows,
            "signatures.shuffle_mb": _mb(s["counters"]),
        }
    )
    with tr.span("pairs", parent) as s:
        cand = pipe.pairs(buckets).persist()
        rows = cand.count()
        stars = cand.where("via_star").count()
    m.update(
        {
            "pairs.wall_s": s["wall_s"],
            "pairs.task_s": s["counters"].task_s,
            "pairs.rows_out": rows,
            "pairs.star_rows": stars,
            "pairs.stages": s["counters"].stages,
            "pairs.shuffle_mb": _mb(s["counters"]),
        }
    )
    with tr.span("verify", parent) as s:
        ver = verify_pairs_text(
            cand,
            docs,
            cfg.jaccard_threshold,
            cfg.shingle_k,
            fetch=cfg.verify_fetch,
            broadcast_ids_cap=cfg.verify_broadcast_ids_cap,
        ).persist()
        rows = ver.count()
    m.update(
        {
            "verify.wall_s": s["wall_s"],
            "verify.task_s": s["counters"].task_s,
            "verify.py_cpu_s": s["py_cpu_s"],
            "verify.rows_out": rows,
            "verify.useful_ratio": workloads.useful_ratio(
                rows, m["pairs.rows_out"]
            ),
            "verify.stages": s["counters"].stages,
            "verify.shuffle_mb": _mb(s["counters"]),
        }
    )
    with tr.span("cluster", parent) as s:
        clusters = pipe.clusters(ver, assume_materialized=True).persist()
        rows = clusters.count()
    m.update(
        {
            "cluster.wall_s": s["wall_s"],
            "cluster.iterations": pipe.cc_stats.get("iterations", 0),
            "cluster.rows_out": rows,
        }
    )
    for df in (buckets, cand, ver):
        df.unpersist()
    return m, clusters


def _stream(tr: Tracer, spark, docs, run_dir: Path) -> dict:
    """Index ``BASE_SEGMENTS`` segments in one epoch, then process each of
    ``STREAM_SEGMENTS`` held-out segments as its own micro-batch."""
    from pyspark.sql import functions as F

    from lsh_qd_spark.streaming.incremental import IncrementalDedup

    n_parts = max(STREAM_SEGMENTS + BASE_SEGMENTS, docs.count() // SEGMENT_PAGES)
    part = docs.withColumn("_part", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)))
    src = run_dir / "stream_src"
    part.write.partitionBy("_part").parquet(str(src))

    def segment(where):
        return spark.read.parquet(str(src)).where(where).drop("_part")

    inc = IncrementalDedup(workloads.BENCH_CFG, str(run_dir / "stream"))
    inc.process_batch(
        segment(
            (F.col("_part") >= STREAM_SEGMENTS)
            & (F.col("_part") < STREAM_SEGMENTS + BASE_SEGMENTS)
        ),
        0,
    )
    walls, tasks, reads, hits, failed = [], [], [], [], 0
    for epoch in range(1, STREAM_SEGMENTS + 1):
        batch = segment(F.col("_part") == epoch - 1)
        with tr.span(f"stream.batch.{epoch}", "stream") as s:
            inc.process_batch(batch, epoch)
        c = s["counters"]
        walls.append(s["wall_s"])
        tasks.append(c.task_s)
        reads.append(c.input_rows)
        failed += c.failed_tasks
        hits.append(inc.hits(spark).where(F.col("epoch") == epoch).count())
    index_files = sum(
        1 for p in Path(inc.index_dir).rglob("*.parquet") if p.is_file()
    )
    return {
        "stream.process_batch_s": statistics.median(walls),
        "stream.batch_task_s": statistics.median(tasks),
        "stream.index_files": index_files,
        "stream.read_rows": sum(reads),
        "stream.hits_rows": sum(hits),
        "stream.failed_tasks": failed,
    }


def _code_hash() -> str:
    """Hash of the program's files and the benchmark's Python sources."""
    h = hashlib.sha256()
    bench = Path(__file__).resolve().parent
    program = [
        p
        for p in (ROOT / "lsh_qd_spark").rglob("*")
        if p.is_file() and "__pycache__" not in p.parts
    ]
    for p in sorted(program) + sorted(bench.glob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _differ(first: dict, now: dict) -> list[str]:
    return [k for k in now if first.get(k) != now[k]]


def _repeat_check(m: dict, record: Path) -> list[str]:
    """Names of exact counters that differ from the first run recorded in
    ``record`` (the first run records them)."""
    now = {k: m[k] for k in EXACT}
    if not record.exists():
        record.parent.mkdir(parents=True, exist_ok=True)
        record.write_text(json.dumps(now, indent=1))
        return []
    return _differ(json.loads(record.read_text()), now)


def run(spark, wl, docs, run_dir: Path, meter: TreeMeter, session_s, work: Path):
    """The traced run; returns (result dict, printed lines)."""
    from lsh_qd_spark.plans.pipeline import DedupPipeline

    pipe = DedupPipeline(workloads.BENCH_CFG)
    # the reference call of the layers below is the full-size warm-up pass
    workloads.warm_up(pipe, docs, wl.synth.n_docs, full=False)

    tr = Tracer(spark, meter)
    m: dict = {"session.build_s": session_s}
    with tr.span("layers.reference"):
        ref_m, clusters = _layers(tr, pipe, docs, "layers.reference")
    clusters.unpersist()
    with tr.span("layers"):
        layer_m, clusters = _layers(tr, pipe, docs, "layers")
    m.update(layer_m)
    exact = [k for k in EXACT if k in ref_m]
    in_run = _differ(
        {k: ref_m[k] for k in exact}, {k: layer_m[k] for k in exact}
    )
    rec, impure = workloads.check(spark, wl, clusters)
    clusters.unpersist()

    with tr.span("pipeline") as s:
        workloads.one_pass(pipe, docs)
    pipe.release()
    c = s["counters"]
    layers = ("signatures", "pairs", "verify", "cluster")
    traced_s = sum(m[f"{k}.wall_s"] for k in layers)
    task_s = sum(m[f"{k}.task_s"] for k in layers[:3])
    m.update(
        {
            "pipeline.wall_s": s["wall_s"],
            "pipeline.jobs": c.jobs,
            "pipeline.stages": c.stages,
            "pipeline.failed_tasks": c.failed_tasks,
            "trace.overhead_ratio": traced_s / s["wall_s"],
        }
    )
    with tr.span("stream"):
        m.update(_stream(tr, spark, docs, run_dir))

    record = work / "repeat" / (
        f"{wl.name}-s{wl.synth.seed}-n{wl.synth.n_docs}-{_code_hash()}.json"
    )
    across = _repeat_check(m, record)
    m["repeat.mismatches"] = len(in_run) + len(across)

    traces = work / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    (traces / f"{wl.name}-s{wl.synth.seed}.json").write_text(
        json.dumps(tr.spans, indent=1)
    )
    ok = (
        rec >= workloads.MIN_RECALL
        and impure == 0
        and m["repeat.mismatches"] == 0
        and m["pipeline.failed_tasks"] == 0
        and m["stream.failed_tasks"] == 0
    )
    notes = [
        f"traced recall {rec:.6f}, impure clusters {impure}",
        "layer share of traced wall: "
        + ", ".join(f"{k} {m[f'{k}.wall_s'] / traced_s:.0%}" for k in layers),
        "layer share of task time: "
        + ", ".join(
            f"{k} {m[f'{k}.task_s'] / task_s:.0%}" for k in layers[:3]
        ),
    ]
    if in_run:
        notes.append(f"NONDETERMINISM within the run: {in_run}")
    if across:
        notes.append(f"NONDETERMINISM vs {record.name}: {across}")
    return (
        {
            "correct": ok,
            "attempted": len(tr.spans),
            "failed": 0,
            "metrics": {
                k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in m.items()
            },
        },
        notes,
    )
