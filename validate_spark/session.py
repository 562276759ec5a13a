"""SparkSession factory tuned for this engine.

local[N] here stands in for an N-executor cluster; all configs below are
the ones that matter at 100 TB too: AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for any pandas-UDF path, shuffle
partitions sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "validate_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build the tuned session. ``extra_conf`` lets a deployment add
    cluster-specific settings; the one that matters for PRODUCTION
    Structured Streaming with large keyed state (sessionization,
    stream-stream joins) is the RocksDB state store::

        get_spark(extra_conf={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
        })

    The default HDFS-backed provider keeps every store version on the
    executor HEAP — fine for fixtures, an OOM at 10^9 live sessions.
    RocksDB spills state to local disk with incremental checkpointing.
    Output semantics are identical (asserted by
    tests/test_streaming.py::test_stateful_sessionize_rocksdb_provider);
    it is also a per-query conf, settable before ``.start()``.

    DataFrame call-site capture is OFF
    (``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark 4
    wraps every ``F.*``, Column and DataFrame call in a capture that
    costs about ten extra JVM round trips (active-session lookup, a
    conf read, origin set/clear): ``F.col`` alone makes 13, and a
    cached-plan validation request made ~800 round trips, almost all
    of them this capture. The cost is that a runtime error's
    ``DataFrameQueryContext`` loses its Python call site, which points
    into validate_spark internals rather than user code anyway. PySpark
    reads the setting once per process, from the first session that
    makes a wrapped call; ``extra_conf`` can still set it back to
    ``"true"`` for debugging.

    The generated-class cache holds 1000 entries
    (``spark.sql.codegen.cache.maxEntries``, default 100, a static conf
    fixed at JVM start). One near-dup dedup op compiles 95-103 classes
    on its first run (UDF stage, band hashing, two-phase bucket
    aggregates, verify joins, propagation rounds), so at 100 entries
    every later op evicted classes the next op needed and recompiled
    41-61 of them (0.8 s of Janino per op). At 200 entries none
    was recompiled; 1000 leaves room for a process that runs several
    operators. Entries are keyed by generated source, so the cap only
    bounds memory."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n = os.cpu_count() if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
