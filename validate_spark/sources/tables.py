"""Table IO — Iceberg-first with parquet fallback.

The north rule targets Iceberg tables of interleaved documents. Iceberg
is a catalog + jar configuration, not an API change: every operator in
this engine consumes a plain ``DataFrame``, so the ONLY Iceberg-aware
code is here. On a real cluster, submit with::

    spark-submit --py-files validate_spark.zip \\
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.lake.type=rest ... job.py

and pass ``lake.db.documents`` to :func:`read_table`. This sandbox has
no Iceberg runtime jar, so tests exercise the parquet path; the
dispatch below is what changes in production — nothing else does.

Iceberg specifics the engine already exploits when present:
- **partition pruning / hidden partitioning** — our plans filter on
  plain columns, which Iceberg maps to partition transforms itself;
- **snapshot reads** — pass ``snapshot_id`` for reproducible validation
  runs (the manifest records it as part of run lineage);
- **MERGE/append sinks** — verdict/violation writers use
  ``writeTo(...).append()`` on v2 tables, parquet ``save`` otherwise.
"""

from __future__ import annotations

import os
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

# the session settings that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# session -> {path: (fingerprint, schema)}; one entry per path, the
# oldest path evicted past the bound
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_SCHEMAS_MAX = 256


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is on the classpath."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession,
    source: str,
    *,
    fmt: str = "auto",
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read a table by Iceberg name (``catalog.db.table``) or file path.

    fmt="auto": paths (contains ``/`` or ends in .parquet) read as
    parquet; dotted names resolve through the session catalog (Iceberg
    when configured). ``snapshot_id`` pins an Iceberg snapshot for
    reproducible validation runs; it is an error on the parquet path.

    Parquet paths this process can ``os.stat`` read with the schema that
    inference returned last time (see :func:`_read_parquet`); URIs with
    a scheme and table names read as plain ``spark.read``.
    """
    is_path = "/" in source or source.endswith(".parquet")
    if fmt == "parquet" or (fmt == "auto" and is_path):
        if snapshot_id is not None:
            raise ValueError("snapshot_id requires an Iceberg table, got a path")
        return _read_parquet(spark, source)
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.table(source)


def _fingerprint(path: str) -> tuple | None:
    """(path, size, mtime_ns) of every file under a local ``path``,
    sorted, or None when this process cannot stat it (a URI with a
    scheme, a glob, a missing path) or when the tree holds a symlinked
    directory: Spark's listing descends into one, so its files would
    have to be in the key, and a cyclic link would loop the walk.
    Hidden and ``_``-prefixed files count too: a key that is too
    sensitive only costs an inference."""
    if urlparse(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return ((path, st.st_size, st.st_mtime_ns),)
    files = []
    for base, dirs, names in os.walk(path):
        if any(os.path.islink(os.path.join(base, d)) for d in dirs):
            return None
        for name in names:
            f = os.path.join(base, name)
            try:
                fst = os.stat(f)
            except OSError:
                return None  # removed while listing: do not memoize
            files.append((f, fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` minus the schema-inference job.

    Without a schema, every parquet read runs a Spark job that reads
    file footers (~90 ms on a small table, more than the rest of a
    small validation request's Python-side work). The inferred schema is
    memoized per session and path, keyed by every file's (path, size,
    mtime_ns) and the inference settings (``_INFERENCE_CONFS``); a
    hit reads with ``spark.read.schema(memoized)``, which returns the
    same columns, types and order (partition columns last) without
    the job. An overwrite, an added or removed file, or a changed
    setting misses and infers again.

    Only a repeat read of an unchanged path gains. Every read pays the
    key: a walk with one ``os.stat`` per file in this process and five
    conf reads. Measured on a 4-vCPU VM (median of 20 interleaved
    pairs), a first read cost +4 ms on one file, +12 ms on a
    ``write_routed``-shaped directory of 400 files and +21 ms on 40
    partitions of 1000 files; a repeat read of the same three saved
    70-90 ms. A writer that replaces files between the key and the
    scan can race this read the same way it races any Spark read."""
    files = _fingerprint(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    per_session = _SCHEMAS.setdefault(spark, {})
    hit = per_session.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    per_session.pop(path, None)
    if len(per_session) >= _SCHEMAS_MAX:
        per_session.pop(next(iter(per_session)), None)
    per_session[path] = (key, df.schema)
    return df


def write_table(
    df: DataFrame,
    target: str,
    *,
    mode: str = "append",
) -> None:
    """Append/overwrite to an Iceberg table name or a parquet path —
    the sink for verdicts, violations, and manifests."""
    if "/" in target or target.endswith(".parquet"):
        df.write.mode(mode).parquet(target)
    elif mode == "append":
        df.writeTo(target).append()
    else:
        df.writeTo(target).replace()
