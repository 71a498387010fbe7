"""Table IO abstraction — Iceberg catalog when configured, parquet fallback.

The north rule's input is "Iceberg tables of Common-Crawl-style pages"; this
sandbox has no Iceberg jars, so every read/write in the engine routes
through this module instead of hard-coding ``spark.read.parquet`` (SURVEY.md
§7, round-1 verdict missing item 5):

- a reference containing ``/`` (or ending ``.parquet``) is a FILESYSTEM
  path → ``spark.read.format(...).load`` / ``df.write`` (the sandbox mode);
- anything else is a CATALOG table identifier (``cat.db.pages``) →
  ``spark.table`` / ``df.writeTo`` (DataSourceV2) — with an Iceberg catalog
  configured (``spark.sql.catalog.<name> = org.apache.iceberg...``), this
  is the production mode: snapshot isolation, hidden partitioning, and
  metadata-level partition pruning come from the catalog, and the engine
  code is unchanged.

``iceberg_catalogs`` detects configured catalogs so callers can assert the
production mode is actually active before relying on table semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CATALOG_IMPLS = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of Iceberg catalogs configured on this session (empty in the
    sandbox — no Iceberg jars). Reads the session's RUNTIME conf, not
    sparkContext.getConf(): catalogs registered after session creation via
    ``spark.conf.set(...)`` are valid (they resolve lazily) but never
    appear in the static SparkConf."""
    out = []
    for k, v in spark.conf.getAll.items():
        parts = k.split(".")
        if (
            k.startswith("spark.sql.catalog.")
            and len(parts) == 4
            and v in ICEBERG_CATALOG_IMPLS
        ):
            out.append(parts[3])
    return sorted(out)


def _is_uri(ref: str) -> bool:
    """True for scheme-qualified paths (hdfs://, s3a://, file://, ...) that
    must go through the Hadoop FileSystem API — driver-local ``os.path``
    calls on them are always False/empty, which silently disables every
    existence-gated behavior (index unions, compat markers, resume)."""
    return "://" in ref


def _hadoop_fs(ref: str, spark: SparkSession | None = None):
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to resolve remote path {ref!r}"
        )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(ref)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def path_exists(ref: str, spark: SparkSession | None = None) -> bool:
    """Existence check that works for local paths AND scheme-qualified
    URIs (via the Hadoop FileSystem of an active session)."""
    if not _is_uri(ref):
        return os.path.exists(ref)
    fs, p = _hadoop_fs(ref, spark)
    return fs.exists(p)


def list_child_names(ref: str, spark: SparkSession | None = None) -> list[str]:
    """Child entry names of a directory — [] when missing. URI-safe."""
    if not _is_uri(ref):
        return os.listdir(ref) if os.path.isdir(ref) else []
    fs, p = _hadoop_fs(ref, spark)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _read_text(ref: str, spark: SparkSession | None = None) -> str:
    if not _is_uri(ref):
        with open(ref) as f:
            return f.read()
    fs, p = _hadoop_fs(ref, spark)
    stream = fs.open(p)
    try:
        sp = spark or SparkSession.getActiveSession()
        return sp._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _write_text(
    ref: str, content: str, spark: SparkSession | None = None
) -> None:
    if not _is_uri(ref):
        os.makedirs(os.path.dirname(ref), exist_ok=True)
        with open(ref, "w") as f:
            f.write(content)
        return
    fs, p = _hadoop_fs(ref, spark)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(content, "utf-8"))
    finally:
        stream.close()


def _join_ref(ref: str, name: str) -> str:
    return ref.rstrip("/") + "/" + name


def is_path_ref(ref: str) -> bool:
    """Filesystem path vs catalog table identifier."""
    return "/" in ref or ref.endswith(".parquet")


def read_table(
    spark: SparkSession,
    ref: str,
    format: str = "parquet",
    options: dict | None = None,
) -> DataFrame:
    """Read an input table by catalog identifier or file path. ``options``
    (e.g. ``{"mergeSchema": "true"}``) apply only to path reads — catalog
    tables carry their own schema."""
    if is_path_ref(ref):
        reader = spark.read.format(format)
        if options:
            reader = reader.options(**options)
        return reader.load(ref)
    return spark.table(ref)


# Input-table alias matching the north rule's vocabulary.
read_pages = read_table


def write_stage(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    format: str = "parquet",
) -> None:
    """Write a stage table by catalog identifier (DataSourceV2 writeTo) or
    file path. ``mode``: overwrite | append | dynamic_overwrite (replaces
    only the partitions present in ``df`` — replay-idempotent sinks)."""
    if is_path_ref(ref):
        w = df.write.format(format)
        if mode == "dynamic_overwrite":
            w = w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        else:
            w = w.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(ref)
        return
    from pyspark.sql import functions as F

    w = df.writeTo(ref)
    if partition_by:
        w = w.partitionedBy(*[F.col(c) for c in partition_by])
    if mode == "overwrite":
        w.createOrReplace()
    elif mode == "append":
        w.append()
    elif mode == "dynamic_overwrite":
        w.overwritePartitions()
    else:
        raise ValueError(f"unknown write mode: {mode}")


read_stage = read_table


def stage_exists(spark: SparkSession, ref: str) -> bool:
    if is_path_ref(ref):
        return path_exists(ref, spark)
    return spark.catalog.tableExists(ref)


def write_compat_meta(
    ref: str, config_hash: str, layout: dict | None = None
) -> None:
    """Record the builder's config hash — plus any physical-LAYOUT knobs
    that live outside DedupConfig (e.g. ``n_shards``: the shard column is
    ``pmod(xxhash64(band_key), n_shards)``, so a reader with a different
    shard count prunes/joins against the wrong partitions with no error)
    — next to a persisted index.

    Filesystem refs only: the marker is an underscore-prefixed JSON file
    inside the table directory (Spark readers skip ``_*`` files, like
    ``_SUCCESS``). Catalog refs would carry this as a table property —
    not implemented here (no catalog in-sandbox), so they no-op.
    """
    if not is_path_ref(ref):
        return
    import json

    _write_text(
        _join_ref(ref, "_compat_meta.json"),
        json.dumps({"config_hash": config_hash, **(layout or {})}),
    )


def check_compat_meta(
    ref: str,
    config_hash: str,
    what: str = "index",
    layout: dict | None = None,
    require_marker: bool = False,
) -> None:
    """Fail LOUDLY when a persisted index was built by an incompatible
    kernel/config OR physical layout. config_hash includes KERNEL_VERSION,
    so e.g. a band-key derivation change makes every equi-join against an
    old index match nothing — zero recall with no error anywhere. Layout
    knobs (``n_shards``) are checked the same way: shard values are
    ``pmod(hash, n_shards)``, so a shard-count mismatch silently prunes to
    the wrong partitions. Raising here converts those silent wrong answers
    into an actionable rebuild instruction.

    A missing marker or a marker without a given layout key (pre-versioning
    index, or catalog ref) is tolerated on READ paths: we cannot
    distinguish "old layout" from "built before markers existed".
    ``require_marker=True`` (for APPEND paths, passed when the index
    already holds data) makes a missing marker an error instead —
    appending this kernel's rows into an unmarked index would mix
    band-key generations undetectably, and the appender's own marker
    write afterwards would stamp the mixed data as current, laundering
    the corruption past every future check.
    """
    if not is_path_ref(ref):
        return
    import json

    path = _join_ref(ref, "_compat_meta.json")
    if not path_exists(path):
        if require_marker:
            raise RuntimeError(
                f"persisted {what} at {ref!r} holds data but carries no "
                f"_compat_meta.json marker, so its builder's kernel/config/"
                f"layout is unknown; appending would mix band-key "
                f"generations undetectably (and then stamp the mixed index "
                f"as current). Rebuild it, or — only if it was built by "
                f"this exact kernel, config and layout — stamp it first "
                f"with lsh_qd_spark.io.write_compat_meta(...)"
            )
        return
    recorded = json.loads(_read_text(path))
    mismatches = []
    if recorded.get("config_hash") != config_hash:
        mismatches.append(
            f"config/kernel hash {recorded.get('config_hash')} vs current "
            f"{config_hash}"
        )
    for k, v in (layout or {}).items():
        if k in recorded and recorded[k] != v:
            mismatches.append(f"{k} {recorded[k]} vs current {v}")
    if mismatches:
        raise RuntimeError(
            f"persisted {what} at {ref!r} is incompatible with this reader "
            f"({'; '.join(mismatches)}); its keys/partitions would match "
            f"the wrong rows — rebuild it (delete it, or the work dir that "
            f"holds it) or construct the reader with the builder's settings"
        )
