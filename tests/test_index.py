"""The persisted LSH bucket index: IncrementalDedup's (epoch, shard)
partitioned table — built by the first batch, appended to by every later
one, guarded by a compat marker, and queryable with query_neighbors."""

import json
import os

import pytest
from pyspark.sql import functions as F

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.io import read_stage
from lsh_qd_spark.operators.band import shard_expr
from lsh_qd_spark.operators.query import query_neighbors, query_text_neighbors
from lsh_qd_spark.plans.pipeline import DedupPipeline
from lsh_qd_spark.streaming.incremental import IncrementalDedup
from lsh_qd_spark.synth import SynthConfig, generate_pages

CFG = DedupConfig(rows_per_band=2, num_bands=16)
SYNTH = SynthConfig(n_docs=400, seed=3)
N_SHARDS = 16


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_pages(spark, SYNTH).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("lsh_index") / "work")
    inc = IncrementalDedup(CFG, work, n_shards=N_SHARDS)
    inc.process_batch(corpus, epoch_id=0)
    return inc


def _query_buckets(docs):
    pipe = DedupPipeline(CFG)
    return pipe.buckets(pipe.signatures_from_text(docs))


def test_index_is_shard_partitioned(spark, corpus, index):
    epoch_dir = os.path.join(index.index_dir, "epoch=0")
    shard_dirs = [f for f in os.listdir(epoch_dir) if f.startswith("shard=")]
    assert len(shard_dirs) > 1  # physical partition pruning is possible
    n_rows = read_stage(spark, index.index_dir).count()
    shingleable = corpus.where(
        F.regexp_replace("text", r"\s+", "") != ""
    ).count()
    assert n_rows == shingleable * CFG.num_bands


def test_query_matches_unindexed_path(spark, corpus, index):
    """Probing the persisted index ≡ direct query_text_neighbors on the
    same corpus/config (same seed ⇒ same signatures ⇒ same buckets)."""
    queries = corpus.where(F.col("doc_id") >= SYNTH.dup_start).limit(5)
    via_index = {
        (r["query_id"], r["doc_id"], r["n_bands"])
        for r in query_neighbors(
            read_stage(spark, index.index_dir), _query_buckets(queries)
        ).collect()
    }
    direct = {
        (r["query_id"], r["doc_id"], r["n_bands"])
        for r in query_text_neighbors(corpus, queries, CFG, alpha=1).collect()
    }
    assert via_index == direct
    assert via_index  # non-trivial: dup-cluster members do collide


def test_query_prune_equivalence(spark, corpus, index):
    """Pruning the index to the query's shards (shard_expr over the query's
    band keys) loses no neighbor: the writer and the probe share one shard
    derivation."""
    queries = corpus.where(F.col("doc_id") == SYNTH.dup_start)
    qb = _query_buckets(queries)
    shards = [
        r["shard"]
        for r in qb.select(shard_expr(N_SHARDS).alias("shard"))
        .distinct()
        .collect()
    ]
    table = read_stage(spark, index.index_dir)
    pruned = {
        tuple(r)
        for r in query_neighbors(
            table.where(F.col("shard").isin(shards)), qb
        ).collect()
    }
    full = {tuple(r) for r in query_neighbors(table, qb).collect()}
    assert len(shards) < N_SHARDS
    assert pruned == full and full


def test_append_extends_index(spark, corpus, tmp_path):
    inc = IncrementalDedup(CFG, str(tmp_path / "work"), n_shards=N_SHARDS)
    inc.process_batch(corpus, epoch_id=0)
    before = read_stage(spark, inc.index_dir).count()
    extra = generate_pages(spark, SynthConfig(n_docs=50, seed=99)).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    inc.process_batch(extra, epoch_id=1)
    after = read_stage(spark, inc.index_dir).count()
    assert after > before
    # an appended doc must now be findable by querying with itself
    probe = extra.where(F.col("doc_id") == 1_000_010)
    got = query_neighbors(
        read_stage(spark, inc.index_dir),
        _query_buckets(probe),
        alpha=CFG.num_bands,
        exclude_self=False,
    ).collect()
    assert any(r["doc_id"] == 1_000_010 for r in got)


def test_incompatible_index_fails_loudly(spark, corpus, index, tmp_path):
    """An index persisted by a different kernel/config must raise on
    append, not equi-join to nothing (silent zero recall); an
    execution-only knob change leaves the persisted bytes valid."""
    meta = os.path.join(index.index_dir, "_compat_meta.json")
    with open(meta) as f:
        marker = json.load(f)
    assert marker == {"config_hash": CFG.key_hash(), "n_shards": N_SHARDS}
    one = corpus.limit(1)
    # same index, different KEY-AFFECTING config (as after a kernel bump)
    other = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8), index.work_dir,
        n_shards=N_SHARDS,
    )
    with pytest.raises(RuntimeError, match="rebuild"):
        other.process_batch(one, epoch_id=1)
    # an EXECUTION-ONLY knob change (stricter verify threshold, different
    # alpha) does not invalidate the index: re-querying at a new threshold
    # is a supported use. Written to a copy so the shared index stays put.
    import shutil

    work = str(tmp_path / "work")
    shutil.copytree(index.work_dir, work)
    requery = IncrementalDedup(
        DedupConfig(
            rows_per_band=CFG.rows_per_band,
            num_bands=CFG.num_bands,
            jaccard_threshold=0.95,
            alpha=3,
        ),
        work,
        n_shards=N_SHARDS,
    )
    requery.process_batch(one, epoch_id=1)
    assert read_stage(spark, requery.index_dir).count() > 0


def test_append_to_unmarked_index_refuses(spark, corpus, tmp_path):
    """Appending into an existing index whose marker is missing must
    raise (unknown builder — mixing band-key generations then stamping
    the mix as current would launder the corruption); reading the same
    unmarked index stays possible."""
    inc = IncrementalDedup(CFG, str(tmp_path / "work"), n_shards=N_SHARDS)
    inc.process_batch(corpus.limit(40), epoch_id=0)
    os.remove(os.path.join(inc.index_dir, "_compat_meta.json"))
    assert read_stage(spark, inc.index_dir).count() > 0  # read path: fine
    with pytest.raises(RuntimeError, match="no _compat_meta.json"):
        inc.process_batch(corpus.limit(1), epoch_id=1)


def test_append_first_index_is_marked_and_appendable(spark, corpus, tmp_path):
    """The first batch stamps the compat marker, so every later batch can
    append (require_marker holds) instead of raising a spurious rebuild
    instruction."""
    inc = IncrementalDedup(CFG, str(tmp_path / "work"), n_shards=N_SHARDS)
    inc.process_batch(corpus.limit(40), epoch_id=0)
    assert os.path.exists(os.path.join(inc.index_dir, "_compat_meta.json"))
    before = read_stage(spark, inc.index_dir).count()
    inc.process_batch(
        corpus.limit(10).withColumn("doc_id", F.col("doc_id") + 2_000_000),
        epoch_id=1,
    )
    assert read_stage(spark, inc.index_dir).count() > before


def test_exists_recognizes_streaming_layout(spark, corpus, tmp_path):
    """The epoch=/shard= layout holds data with no top-level _SUCCESS
    file: the existence check must still see it, or a later batch skips
    both the cross-batch join and require_marker."""
    inc = IncrementalDedup(
        DedupConfig(rows_per_band=2, num_bands=8), str(tmp_path / "work")
    )
    assert not inc._index_exists()
    inc.process_batch(corpus.limit(50), epoch_id=0)
    assert not os.path.exists(os.path.join(inc.index_dir, "_SUCCESS"))
    assert inc._index_exists()
