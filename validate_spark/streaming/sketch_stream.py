"""Incremental sketch maintenance under Structured Streaming.

`stats.kmv_sketch` states are SET UNIONS of k-smallest hashes, which
gives the streaming form a property none of the counting sinks have:
**replay idempotence for free**. foreachBatch is at-least-once — after
a crash between sink write and checkpoint commit the same batch is
re-delivered — and every counting sink here needs batch_id-keyed
dynamic partition overwrite to survive that (validate_stream.
foreach_batch_validator's contract). Merging the SAME batch's hashes
into a KMV state twice is a union no-op, so the sketch state needs no
fencing at all: at-least-once delivery IS exactly-once for the
estimate. (Row COUNTS are not union-idempotent — they are deliberately
not part of this state; lineage counting belongs to the manifest
sink.)

State layout: one parquet table of (group..., kmv_state array<long>),
rollup-sized (|groups| · k hashes). The updater materializes the old
state with localCheckpoint before overwriting its path (Spark cannot
read and overwrite the same files in one plan), merges with
`stats.kmv_merge`, and rewrites — for group spaces too large to
rewrite per batch, partition the state table and merge per-partition
(same union math; noted, not needed at fixture scale).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from validate_spark.operators.stats import kmv_merge, kmv_sketch


def kmv_stream_updater(
    state_path: str,
    value_col: str,
    *,
    k: int = 64,
    group_cols: list[str] | None = None,
):
    """foreachBatch callback: fold each micro-batch into the per-group
    KMV state at ``state_path``. See the module docstring for the
    idempotence argument; `tests` re-fire a batch and assert the state
    is byte-identical."""
    groups = list(group_cols or [])

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_state = kmv_sketch(
            batch_df, value_col, k=k, group_cols=groups, keep_state=True
        ).select(*groups, "kmv_state")
        if os.path.exists(state_path):
            old = spark.read.parquet(state_path).localCheckpoint()
            both = old.unionByName(batch_state).withColumn(
                # counts are NOT union-idempotent — the state carries
                # none (module docstring); a zero rider satisfies the
                # merge signature and is dropped
                "n_rows",
                F.lit(0).cast("long"),
            )
            merged = kmv_merge(
                both, k=k, group_cols=groups, keep_state=True
            ).select(*groups, "kmv_state")
        else:
            merged = batch_state
        merged.write.mode("overwrite").parquet(state_path)

    return _process


def read_kmv_state(
    spark: SparkSession,
    state_path: str,
    *,
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Estimates from a maintained state table: (group..., n_kept,
    kth_hash, distinct_est) — identical arithmetic to
    `stats.kmv_sketch`'s output (and therefore to its DuckDB oracle)."""
    groups = list(group_cols or [])
    st = spark.read.parquet(state_path).withColumnRenamed(
        "kmv_state", "_kmin"
    )
    from validate_spark.operators.stats import _kmv_project

    merged = st.withColumn("n_rows", F.lit(0).cast("long"))
    out = _kmv_project(merged, k, groups, keep_state=False)
    return out.drop("n_rows")


def cms_stream_updater(
    state_path: str,
    value_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    group_cols: list[str] | None = None,
):
    """foreachBatch callback maintaining a Count-Min state — the
    ADDITIVE counterpart of `kmv_stream_updater`, and the reason the
    module docstring says "every counting sink needs fencing": CMS
    merge is counter ADDITION, so folding a replayed batch into a
    single state table twice would double its counters. Instead of a
    fence table (whose own write is a second non-atomic step), the
    state is PARTITIONED BY batch_id and each batch dynamically
    overwrites ONLY its own partition — replay rewrites identical
    bytes over itself, so at-least-once delivery is exactly-once by
    layout, with one atomic write and no read-modify-write of shared
    state at all (the validate_stream manifest contract, applied to
    sketch state). Merge happens at READ time (`read_cms_state`) —
    cheap because each partition is ≤ depth·width counters per group,
    and a periodic compaction can fold old partitions into one under
    the same math.
    """
    from validate_spark.operators.stats import cms_counts

    groups = list(group_cols or [])

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        per = cms_counts(
            batch_df, value_col, width=width, depth=depth, group_cols=groups
        )
        (
            per.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(state_path)
        )

    return _process


def read_cms_state(
    spark: SparkSession,
    state_path: str,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Merged CMS counters over every batch partition: (group..., d,
    pos, cnt) — identical to `stats.cms_counts` run over the full
    history in one batch (merge-on-read; the additive dual of
    `read_kmv_state`)."""
    from validate_spark.operators.stats import cms_merge

    st = spark.read.parquet(state_path).drop("batch_id")
    return cms_merge(st, group_cols=list(group_cols or []))
