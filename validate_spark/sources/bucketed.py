"""Bucketed-table IO — the shuffle-free co-located join path.

At 10^12 rows the dominant cost of a fact⋈fact equi-join is the
shuffle of both inputs. Pre-bucketing both tables on the join key
(`DataFrameWriter.bucketBy`) makes the join a per-bucket merge: each
task reads bucket i of BOTH tables and joins locally — ZERO Exchange
in the plan (Spark still sorts within buckets for the merge unless the
tables were also sortBy'd). The same property serves repeated
aggregations on the bucket key. This is the static sibling of the
explicit `repartition(n, key)` the operators use for transient
co-partitioning (CLAUDE.md round-3 gotcha) — bucketing persists the
partitioning INTO THE TABLE LAYOUT so every downstream job inherits
it.

Contract notes (pinned by the tests):
- both sides must have the SAME bucket count (or a divisor —
  spark.sql.bucketing.coalesceBucketsInJoin for multiples);
- bucket pruning applies to equality filters on the bucket key;
- `spark.sql.sources.bucketing.enabled` must be true (default).

Reference seed: gookit/validate has no storage surface; this is the
§2.9 dataset-level extension's layout arm (SURVEY §7.3 "built-in vs
custom": bucketing is pure built-in Spark, our job is to USE it and
prove the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    key: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed, sorted-within-bucket managed
    table. sortBy(key) upgrades later merge joins to sort-free (the
    per-bucket files are already key-ordered)."""
    df.write.mode(mode).bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
) -> DataFrame:
    """Inner equi-join of two same-bucket-count tables on their bucket
    key. With both sides bucketed this plans WITHOUT any Exchange —
    assert `"Exchange" not in plan` in tests; at cluster scale that is
    the whole join shuffle removed."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[key] == rt[key])


def drop_bucketed(spark: SparkSession, *tables: str) -> None:
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a Hive-layout partitioned directory tree
    (``path/col=value/...``). The partition columns move OUT of the
    data files and into directory names — a filter on them prunes at
    the FILE LISTING stage (`PartitionFilters` in the scan), so a
    one-day query over a 10^12-row, 3-year lake reads ~0.1% of the
    files without opening the rest. Keep partition cardinality
    directory-sane (dates, sources, type tags — never high-cardinality
    keys: one directory per value)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned tree; partition columns come back as
    regular columns (typed by directory-name inference). Apply the
    partition-column filter DIRECTLY on this frame — Catalyst routes
    it to PartitionFilters (listing-time pruning), everything else to
    PushedFilters (row-group pruning)."""
    return spark.read.parquet(path)
