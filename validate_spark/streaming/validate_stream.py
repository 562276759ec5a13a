"""Structured Streaming validation.

The reference is request/response (one record per call); the streaming
lift is free in our architecture because a compiled ``Plan`` is pure
stateless Column expressions — the SAME plan object applies to a
``readStream`` DataFrame unchanged (SURVEY.md §2.12: "the rule plan is
stateless per row so foreachBatch reuse is trivial").

Three usage shapes:

1. ``validate_stream`` — annotate the stream in-flight (verdict +
   failed-rules columns); write wherever, no state, no watermark needed.
2. ``windowed_violation_counts`` — per-(window, field, validator)
   violation counts with a watermark for late data: the streaming
   analogue of ``ValidationResult.violations()`` grouped by rule.
3. ``foreach_batch_validator`` — per-micro-batch callback that reuses
   one compiled plan and appends verdicts/violations to batch sinks;
   use when the sink isn't streaming-native (e.g. plain parquet dirs
   partitioned by ruleset hash).

Scale notes: validation adds zero shuffles to the stream — predicates
fuse into the source projection. The only stateful operator is the
windowed aggregation (2), whose state is bounded by
(windows in watermark horizon) × (field, validator) — independent of
row rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from validate_spark.operators.engine import (
    FAILED_COL,
    PASS_COL,
    RESULTS_COL,
    ValidationResult,
    validate,
)
from validate_spark.plans.plan import Plan, RuleSet, compile_plan


def validate_stream(
    stream_df: DataFrame,
    ruleset: RuleSet | dict,
    *,
    key_cols: list[str] | None = None,
    plan: Plan | None = None,
) -> ValidationResult:
    """Apply a rule set to a streaming DataFrame. Identical semantics to
    batch ``validate`` — the compiled plan is stateless projections, so
    it binds to an unbounded source unchanged. The returned result's
    ``annotated``/``verdicts``/``violations`` frames are streaming
    DataFrames ready for ``writeStream``."""
    return validate(stream_df, ruleset, key_cols=key_cols, plan=plan)


def violations_stream(
    stream_df: DataFrame,
    ruleset: RuleSet | dict,
    *,
    key_cols: list[str] | None = None,
    plan: Plan | None = None,
) -> DataFrame:
    """Exploded violation rows as a stream (append-mode friendly —
    explode is stateless)."""
    return validate_stream(
        stream_df, ruleset, key_cols=key_cols, plan=plan
    ).violations()


def windowed_violation_counts(
    stream_df: DataFrame,
    ruleset: RuleSet | dict,
    *,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """(window, field, validator, n) violation counts per event-time
    window, late data handled by the watermark. State size is bounded by
    windows × rules, not rows."""
    res = validate_stream(stream_df, ruleset, key_cols=key_cols or [ts_col])
    viol = res.annotated.withWatermark(ts_col, watermark).select(
        F.col(ts_col), F.explode(F.col(FAILED_COL)).alias("_viol")
    )
    return (
        viol.groupBy(
            F.window(F.col(ts_col), window_duration).alias("window"),
            F.col("_viol.field").alias("field"),
            F.col("_viol.validator").alias("validator"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def foreach_batch_validator(
    ruleset: RuleSet | dict,
    schema,
    *,
    key_cols: list[str] | None = None,
    verdicts_path: str | None = None,
    violations_path: str | None = None,
    manifest_path: str | None = None,
    on_batch=None,
):
    """Build a ``foreachBatch`` callback that validates each micro-batch
    with ONE pre-compiled plan (compiled here, reused every batch — the
    streaming analogue of the reference's cached static rule template,
    struct_rules.go:209-288).

    ``on_batch(result, batch_id)`` gets the ValidationResult for custom
    sinks; paths, when given, write verdicts/violations as parquet
    partitioned by batch_id. ``manifest_path`` adds one lineage row per
    micro-batch — (batch_id, ruleset_hash, n_rows, n_pass, n_fail,
    n_violations, verdict) — the streaming twin of the batch
    per-partition manifest (operators/manifest.py).

    IDEMPOTENT REPLAY: ``foreachBatch`` is only AT-LEAST-ONCE — after
    a failure between the sink write and the checkpoint commit, the
    SAME batch_id is re-delivered, and a plain append would duplicate
    every row of that batch. Each sink therefore writes its own
    ``batch_id=N`` partition with DYNAMIC partition overwrite: a
    replay overwrites exactly its own partition with identical
    content (the plan is deterministic), never touching other
    batches — that is what upgrades the pipeline to end-to-end
    exactly-once. Tested by re-firing a batch_id.
    """
    if isinstance(ruleset, dict):
        ruleset = RuleSet(rules=ruleset)
    plan = compile_plan(ruleset, schema)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        res = validate(batch_df, ruleset, key_cols=key_cols, plan=plan)

        def _idempotent(df: DataFrame, path: str) -> None:
            # dynamic overwrite of THIS batch's partition only: replay
            # of a batch_id rewrites identical content instead of
            # appending duplicates (foreachBatch is at-least-once)
            (
                df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(path)
            )

        if verdicts_path is not None:
            _idempotent(res.verdicts(), verdicts_path)
        if violations_path is not None:
            _idempotent(res.violations(), violations_path)
        if manifest_path is not None:
            (
                # coalesce every sum: on an EMPTY micro-batch sum-over-
                # zero-rows is NULL, which would corrupt the lineage
                # audit the manifest exists for (verdict must be true)
                res.annotated.agg(
                    F.lit(batch_id).alias("batch_id"),
                    F.lit(plan.plan_hash).alias("ruleset_hash"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.coalesce(
                        F.sum(F.col(PASS_COL).cast("long")), F.lit(0)
                    ).alias("n_pass"),
                    F.coalesce(
                        F.sum((~F.col(PASS_COL)).cast("long")), F.lit(0)
                    ).alias("n_fail"),
                    F.coalesce(
                        F.sum(F.size(FAILED_COL).cast("long")), F.lit(0)
                    ).alias("n_violations"),
                    (
                        F.coalesce(F.sum((~F.col(PASS_COL)).cast("long")), F.lit(0))
                        == 0
                    ).alias("verdict"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(manifest_path)
            )
        if on_batch is not None:
            on_batch(res, batch_id)

    return _process
