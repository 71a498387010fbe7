"""State carried across streaming restarts: a stream resumed from its
checkpoint and persisted bucket index must refuse a changed kernel/config
instead of probing new band keys against old state."""

import pytest
from pyspark.errors import StreamingQueryException

from lsh_qd_spark.config import DedupConfig
from lsh_qd_spark.streaming import IncrementalDedup


def _write_pages(spark, path, doc_id):
    spark.createDataFrame(
        [(doc_id, "some page text here for the stream")],
        "doc_id long, text string",
    ).selectExpr(
        "doc_id",
        "cast(null as string) url",
        "cast(null as timestamp) warc_ts",
        "cast(null as binary) html",
        "text",
        "cast(null as string) lang",
    ).coalesce(1).write.parquet(path)


def test_stateful_kernel_change_fails_loudly(spark, tmp_path):
    """Resuming a checkpointed stream under a different kernel/config must
    fail the query, not silently probe new band keys against the old index
    (zero duplicates vs every pre-upgrade doc)."""
    work = str(tmp_path / "work")
    src = str(tmp_path / "src")
    _write_pages(spark, src + "/f1", 0)

    cfg = DedupConfig(rows_per_band=2, num_bands=8, alpha=1)
    IncrementalDedup(cfg, work).start(spark, src + "/*").awaitTermination(120)

    # same config resumes fine over a new file
    _write_pages(spark, src + "/f2", 1)
    IncrementalDedup(cfg, work).start(spark, src + "/*").awaitTermination(120)

    # different banding = different band-key generation -> loud failure on
    # the first resumed micro-batch
    _write_pages(spark, src + "/f3", 2)
    other = DedupConfig(rows_per_band=4, num_bands=4, alpha=1)
    q = IncrementalDedup(other, work).start(spark, src + "/*")
    with pytest.raises(StreamingQueryException, match="config/kernel hash"):
        q.awaitTermination(120)
