from lsh_qd_spark.streaming.incremental import IncrementalDedup, save_progress

__all__ = ["IncrementalDedup", "save_progress"]
