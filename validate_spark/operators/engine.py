"""The validation engine: apply a compiled Plan to a DataFrame.

Execution model (one narrow pass, zero shuffles, zero Python-per-row):

1. default substitution + filter projections (``Filtering()``,
   validation.go:503-518) — one ``withColumns`` projection;
2. evaluate ALL rule predicates as one ordered
   ``array<struct<idx,field,validator,message,ok>>`` column — rule order
   is array order, so "first failing rule" (StopOnError,
   validating.go:151) is ``filter(results, !ok)[0]`` with NO window
   function and NO shuffle;
3. verdict = no failures; violations = posexploded failures.

Everything is Column expressions inside whole-stage codegen; at 100 TB
this is a single scan of the table with predicate evaluation fused into
the scan stage. Violations/verdicts are lazy DataFrames — writing them
is the only action.

Reference semantics mirrored: ``Validation.Validate()`` (validating.go:
119-155), ``Errors`` map (messages.go:43-57) → violations rows,
``safeData`` (validation.go:180-198) → pass-row projection.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from validate_spark.plans.plan import (
    DEFAULT_MARKER_PREFIX,
    Plan,
    RuleSet,
    compile_plan,
)

RESULTS_COL = "_vs_results"
FAILED_COL = "_vs_failed"
PASS_COL = "_vs_pass"


@dataclass
class ValidationResult:
    """Decoupled outcome — reference ``ValidResult`` (result.go:21-32)."""

    annotated: DataFrame  # input + _vs_results/_vs_failed/_vs_pass
    plan: Plan
    key_cols: list[str]
    stop_on_error: bool = False  # FAILED was sliced to the first failure

    @property
    def is_lazy(self) -> bool:
        return True

    def verdicts(self) -> DataFrame:
        """Per-row verdict: key columns + pass flag + n_violations."""
        return self.annotated.select(
            *self.key_cols,
            F.col(PASS_COL).alias("pass"),
            F.size(F.col(FAILED_COL)).alias("n_violations"),
        )

    def violations(self) -> DataFrame:
        """Exploded violation rows: (key..., field, validator, message) —
        the reference's ``Errors`` map in table form. Ordered per row by
        rule declaration order (idx).

        Plan shape (r6): the Generate explodes a LITERAL index
        sequence 0..|rules|−1 and the failing struct is extracted
        ABOVE it from the results attribute. Exploding the failed
        array directly was ~13× slower at scale (2.1 s → 0.27 s at
        100k rows, 19.3 s → 1.5 s at 1M, identical output): with a
        single reference, column pruning inlines the whole compiled
        rule tree into the generator expression, and GenerateExec
        evaluates its generator INTERPRETED — the entire validation
        re-ran at ~10× its codegen cost. With a literal generator the
        rule tree stays a codegen projection below the Generate and
        flows through as data. Emitted multiset is identical: element
        i is kept iff its predicate is strictly FALSE (NULL `ok`
        passes, exactly as the filter(!ok) form kept only false).
        [Also tried and rejected, r6: persisting a staged failed
        frame (materialization hits the same interpreted collapse, or
        caches corpus-scale result arrays) and a pure-codegen
        concat-of-conditionals failed array (one giant generated
        method JIT-bails to ~12× slower).] The stop-on-error /
        zero-rule paths keep the sliced-FAILED explode — their
        volumes are 1-bounded per row. The explode, filter and output
        columns are memoized on the plan; only the key columns are
        per call."""
        keys = self.key_cols
        if self.stop_on_error or not self.plan.rules:
            explode, outputs = self.plan.memo(
                "violations_failed", _failed_violation_columns
            )
            return self.annotated.select(*keys, explode).select(*keys, *outputs)
        generate, keep, outputs = self.plan.memo(
            "violations_indexed",
            lambda: _indexed_violation_columns(len(self.plan.rules)),
        )
        return (
            self.annotated.select(*keys, *generate)
            .filter(keep)
            .select(*keys, *outputs)
        )

    def first_errors(self) -> DataFrame:
        """StopOnError parity: ONLY the first failing (field, validator)
        per row, in rule-declaration order (validating.go:151,
        validation.go:873-875)."""
        first = F.element_at(F.col(FAILED_COL), 1)
        return self.annotated.filter(F.size(F.col(FAILED_COL)) > 0).select(
            *self.key_cols,
            first.getField("field").alias("field"),
            first.getField("validator").alias("validator"),
            first.getField("message").alias("message"),
        )

    def rule_impact(self) -> DataFrame:
        """Marginal rule impact: per fired rule (field:validator), how
        many rows it fired on (``n_rows``) and on how many it was the
        SOLE violation (``n_sole``) — the rows that relaxing exactly
        that rule would RESCUE from quarantine. The unary sibling of
        :meth:`coviolation_matrix` (which asks what fails *together*;
        this asks what fails *alone*): the two tables a rule-set owner
        reads before loosening a threshold — a rule with huge n_rows
        but zero n_sole quarantines nothing by itself, while a high
        ``sole_ppm`` rule is the sole gatekeeper for its rows.

        ``sole_ppm`` = 1e6·n_sole div n_rows — integer, engine-portable.

        Scale: rule names derive ROW-LOCALLY from the already-computed
        failed array (no violations-frame self-count), one explode
        bounded by |rules| per row, one hash aggregate over ≤ |rules|
        keys. Rules that never fired don't appear (use
        :meth:`rule_report` for the zero-failure view).
        """
        rules = F.transform(
            F.col(FAILED_COL),
            lambda s: F.concat_ws(
                ":", s.getField("field"), s.getField("validator")
            ),
        )
        return (
            self.annotated.filter(F.size(F.col(FAILED_COL)) > 0)
            .select(
                F.explode(rules).alias("rule"),
                (F.size(F.col(FAILED_COL)) == 1).cast("int").alias("_sole"),
            )
            .groupBy("rule")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("_sole").cast("long").alias("n_sole"),
            )
            .select(
                "rule",
                "n_rows",
                "n_sole",
                F.expr("1000000 * n_sole div n_rows").alias("sole_ppm"),
            )
        )

    def coviolation_matrix(self) -> DataFrame:
        """Which rules fail TOGETHER: (rule_a, rule_b, n_rows) for
        every unordered pair of violated rules (rule = field:validator,
        rule_a < rule_b), counting rows where both fired — the
        rule-redundancy/root-cause table a rule-set owner reads (two
        rules that always co-fire are one underlying data defect; a
        pair that never co-fires partitions the failure modes).

        Scale: pairs expand ROW-LOCALLY from the already-computed
        failed array (bounded by |rules|² per row, typically ≤ a few
        dozen) — no self-join of the violations frame (which would
        need a row identity and shuffles billions of violation rows at
        10^12 scale), then one hash aggregate over ≤ |rules|² keys.
        """
        rules = F.array_sort(
            F.transform(
                F.col(FAILED_COL),
                lambda s: F.concat_ws(
                    ":", s.getField("field"), s.getField("validator")
                ),
            )
        )
        pairs = F.flatten(
            F.transform(
                rules,
                lambda x, i: F.transform(
                    F.slice(rules, i + 2, F.size(rules)),
                    lambda y: F.struct(
                        x.alias("rule_a"), y.alias("rule_b")
                    ),
                ),
            )
        )
        return (
            self.annotated.filter(F.size(F.col(FAILED_COL)) >= 2)
            .select(F.explode(pairs).alias("_p"))
            .groupBy(
                F.col("_p.rule_a").alias("rule_a"),
                F.col("_p.rule_b").alias("rule_b"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        )

    def safe_rows(self) -> DataFrame:
        """safeData semantics: rows with ZERO violations, carrying the
        filtered/default-substituted (cleaned) values
        (validation.go:180-198: safeData cleared on any error)."""
        data_cols = [
            c for c in self.annotated.columns
            if c not in (RESULTS_COL, FAILED_COL, PASS_COL)
            and not c.startswith(DEFAULT_MARKER_PREFIX)
        ]
        return self.annotated.filter(F.col(PASS_COL)).select(*data_cols)

    def updated_rows(self) -> DataFrame:
        """``UpdateSource`` analogue (GlobalOption.UpdateSource,
        validate.go:96-100; filtering.go:142-237 writes filtered values
        back onto the source): EVERY row — passing or not — with its
        filter-chain / default-substituted values applied, plus the
        ``pass`` flag. DataFrames are immutable, so the "write-back" is
        a new frame; ``safe_rows()`` is the passing subset without the
        flag."""
        data_cols = [
            c for c in self.annotated.columns
            if c not in (RESULTS_COL, FAILED_COL, PASS_COL)
            and not c.startswith(DEFAULT_MARKER_PREFIX)
        ]
        return self.annotated.select(
            *data_cols, F.col(PASS_COL).alias("pass")
        )

    def errors_map(self) -> dict:
        """Collect violations into the reference's ``Errors`` shape
        (messages.go:43-57): {key → {field → {validator → message}}}.
        Driver-side — for golden-fixture tests and small results only;
        at scale use the lazy ``violations()`` frame."""
        out: dict = {}
        for r in self.violations().collect():
            key = tuple(r[c] for c in self.key_cols)
            key = key[0] if len(key) == 1 else key
            out.setdefault(key, {}).setdefault(r["field"], {})[r["validator"]] = r["message"]
        return out

    def field_one(self, key, field: str) -> str | None:
        """First error message for a field — ``Errors.FieldOne``
        (messages.go:120-135)."""
        rows = (
            self.violations()
            .filter(F.col(self.key_cols[0]) == key)
            .filter(F.col("field") == field)
            .orderBy("rule_idx")
            .limit(1)
            .collect()
        )
        return rows[0]["message"] if rows else None

    def summary(self) -> DataFrame:
        """Violation counts per (field, validator) — dataset rollup."""
        return (
            self.violations()
            .groupBy("field", "validator", "message")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def rule_report(self) -> DataFrame:
        """Per-rule (field, validator, n_fail, n_pass) WITHOUT exploding:
        one aggregate over the results array — each partition emits
        len(rules) longs (map-side partial), vs ``summary()`` which
        shuffles one exploded row per violation. The right shape for a
        10^12-row health dashboard; includes rules with zero failures."""
        aggs = [
            F.coalesce(
                F.sum((~F.col(RESULTS_COL)[i].getField("ok")).cast("long")),
                F.lit(0),  # empty input: sum is NULL, report 0
            ).alias(f"_r{i}")
            for i in range(len(self.plan.rules))
        ]
        row = self.annotated.agg(F.count(F.lit(1)).alias("_n"), *aggs)
        # no generated SQL here: interpolating field names into a
        # selectExpr stack() breaks on names containing quotes (legal in
        # rule keys and form-derived struct paths) — build the long form
        # as an exploded array of literal structs instead
        structs = F.array(
            *[
                F.struct(
                    F.lit(r.field).alias("field"),
                    F.lit(r.validator).alias("validator"),
                    F.col(f"_r{i}").alias("n_fail"),
                )
                for i, r in enumerate(self.plan.rules)
            ]
        )
        stacked = row.select("_n", F.explode(structs).alias("_e")).select(
            "_n", "_e.field", "_e.validator", "_e.n_fail"
        )
        return stacked.select(
            "field",
            "validator",
            "n_fail",
            (F.col("_n") - F.col("n_fail")).alias("n_pass"),
        )

    def violations_sample(self, fraction: float, *, seed: int = 0) -> DataFrame:
        """Deterministic, shuffle-free sample of violation rows.

        At 10^12 rows the violations frame itself can be billions of
        rows; materializing all of them costs more than the validation.
        The scale pattern: keep COUNTS exact (``summary()`` — a tiny
        aggregate) and persist only a reproducible row sample for
        debugging. Selection is by key hash, not ``rand()``, so re-runs
        and resumed jobs sample the SAME rows (lineage-stable), and the
        filter evaluates map-side — zero extra shuffle."""
        if not 0.0 < fraction <= 1.0:
            raise ValueError("fraction must be in (0, 1]")
        m = 1_000_000
        gate = F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols], F.lit(seed)), F.lit(m)
        ) < int(fraction * m)
        return self.violations().filter(gate)


def _failed_violation_columns() -> tuple:
    """violations() of the sliced-FAILED path: (explode, outputs)."""
    return (
        F.explode(F.col(FAILED_COL)).alias("_viol"),
        (
            F.col("_viol.field").alias("field"),
            F.col("_viol.validator").alias("validator"),
            F.col("_viol.message").alias("message"),
            F.col("_viol.idx").alias("rule_idx"),
        ),
    )


def _indexed_violation_columns(n_rules: int) -> tuple:
    """violations() of the literal-index path: (generate, keep,
    outputs)."""
    generate = (
        F.col(RESULTS_COL),
        F.explode(F.sequence(F.lit(0), F.lit(n_rules - 1))).alias("_i"),
    )
    e = F.get(F.col(RESULTS_COL), F.col("_i"))
    outputs = (
        e.getField("field").alias("field"),
        e.getField("validator").alias("validator"),
        e.getField("message").alias("message"),
        e.getField("idx").alias("rule_idx"),
    )
    return generate, ~F.coalesce(e.getField("ok"), F.lit(True)), outputs


def _failed_and_pass(stop_on_error: bool) -> tuple:
    """validate()'s FAILED and PASS columns; FAILED is sliced to the
    first failure under stop-on-error."""
    failed = F.filter(F.col(RESULTS_COL), lambda r: ~r.getField("ok"))
    if stop_on_error:
        failed = F.slice(failed, 1, 1)
    return failed, F.size(F.col(FAILED_COL)) == 0


def write_routed(
    result: ValidationResult,
    path: str,
    *,
    mode: str = "append",
    include_violation_detail: bool = True,
) -> None:
    """Quarantine routing in ONE scan: every row lands under
    ``<path>/verdict=true|false/`` via ``partitionBy`` — clean rows feed
    the downstream pipeline, failing rows go to quarantine, and the
    table is read in a single pass (two separate filtered writes would
    scan 10^12 rows twice). Failing rows optionally carry their failed
    (field, validator, message) structs for triage."""
    ann = result.annotated
    data_cols = [
        c for c in ann.columns if c not in (RESULTS_COL, FAILED_COL, PASS_COL)
    ]
    out_cols = list(data_cols)
    if include_violation_detail:
        out_cols.append(
            F.when(~F.col(PASS_COL), F.col(FAILED_COL)).alias("_violations")
        )
    (
        ann.select(*out_cols, F.col(PASS_COL).alias("verdict"))
        .write.mode(mode)
        .partitionBy("verdict")
        .parquet(path)
    )


def check_value(spark, value, rule: str, *, dtype: str | None = None):
    """One-shot single-value validation — the reference's ``Val(val,
    "required|minLen:7")`` (value.go:38-106). Returns (ok, [messages]).

    Driver-side convenience for config/CLI checks; the heavy path is
    always :func:`validate` over a DataFrame. ``dtype`` (DDL string)
    is required when ``value`` is None."""
    if dtype is None:
        if value is None:
            raise ValueError("dtype is required when value is None")
        dtype = {
            bool: "boolean", int: "bigint", float: "double", str: "string"
        }.get(type(value))
        if dtype is None and isinstance(value, list):
            inner = "string" if (not value or isinstance(value[0], str)) else "bigint"
            dtype = f"array<{inner}>"
        if dtype is None:
            raise ValueError(f"cannot infer dtype for {type(value)}; pass dtype=")
    df = spark.createDataFrame([(value,)], f"v {dtype}")
    res = validate(df, RuleSet(rules={"v": rule}), key_cols=["v"])
    msgs = [r["message"] for r in res.violations().orderBy("rule_idx").collect()]
    return (len(msgs) == 0, msgs)


# plan cache — the engine analogue of the reference's per-type static
# rule template (typeMeta cache keyed by (type, tagVer), cache.go:90-118;
# built once under sync.Once, cloned per instance). Keyed by schema +
# full ruleset content + scene + registry version, so re-registering a
# custom validator/filter invalidates exactly like the reference's
# tag-version bump (validate.go:151-163).
_PLAN_CACHE: dict[tuple, Plan] = {}
_PLAN_CACHE_MAX = 256


def _cached_plan(ruleset: RuleSet, schema, scene) -> Plan:
    import json as _json

    from validate_spark.functions.validators import registry_version

    key = (
        registry_version(),
        schema.simpleString(),
        ruleset.hash(),
        _json.dumps(ruleset.messages, sort_keys=True),
        _json.dumps(ruleset.labels, sort_keys=True),
        # per-instance overlay: the key holds the BUILDER OBJECTS
        # themselves (functions hash by identity), so swapping a builder
        # under the same name recompiles AND the cache entry pins a
        # strong reference — id() alone can be recycled by CPython after
        # GC, silently serving a stale plan for a new builder allocated
        # at the same address
        tuple(sorted(ruleset.validators.items(), key=lambda t: t[0])),
        scene,
    )
    plan = _PLAN_CACHE.get(key)
    if plan is None:
        plan = compile_plan(ruleset, schema, scene=scene)
        if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
            _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
        _PLAN_CACHE[key] = plan
    return plan


def clear_plan_cache() -> None:
    _PLAN_CACHE.clear()


def validate(
    df: DataFrame,
    ruleset: RuleSet | dict,
    *,
    key_cols: list[str] | None = None,
    scene: str | None = None,
    plan: Plan | None = None,
) -> ValidationResult:
    """Validate a DataFrame against a rule set. Main entry point —
    the engine analogue of ``validate.Map(...)/Struct(...).Validate()``.

    ``key_cols`` identify rows in verdict/violation outputs (defaults to
    the first column). Pass a pre-compiled ``plan`` to reuse across
    same-schema DataFrames / streaming micro-batches.
    """
    if isinstance(ruleset, dict):
        ruleset = RuleSet(rules=ruleset)
    if plan is None:
        plan = _cached_plan(ruleset, df.schema, scene)
    if key_cols is None:
        key_cols = [df.columns[0]]

    out = df
    if plan.default_projections:
        out = out.withColumns(plan.default_projections)
    if plan.filter_projections:
        out = out.withColumns(plan.filter_projections)

    # each column reads the one before it, so three projections; their
    # Columns are memoized on the plan
    failed, passed = plan.memo(
        ("failed_pass", ruleset.stop_on_error),
        lambda: _failed_and_pass(ruleset.stop_on_error),
    )
    out = (
        out.withColumn(RESULTS_COL, plan.results_array())
        .withColumn(FAILED_COL, failed)
        .withColumn(PASS_COL, passed)
    )

    return ValidationResult(
        annotated=out,
        plan=plan,
        key_cols=key_cols,
        stop_on_error=ruleset.stop_on_error,
    )


def observed_counters(annotated: DataFrame, name: str = "vs_metrics"):
    """Attach validation counters to the annotated frame via
    ``DataFrame.observe`` — Spark's metric side-channel. The FIRST
    action the caller runs on the returned frame (their own write,
    count, whatever) also delivers (n_rows, n_pass, n_violations) on
    the returned ``Observation`` — ZERO extra scan, zero extra jobs: a
    pipeline that writes safe rows gets its quality counters from the
    same pass (Deequ publishes metrics the same way; at 10^12 rows a
    second counting scan is a real bill).

    Returns ``(df, observation)``; read ``observation.get`` AFTER an
    action. Works on batch frames; for streams use the same call — the
    metrics surface per micro-batch through the streaming listener.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    df = annotated.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(PASS_COL).cast("long")).alias("n_pass"),
        F.sum(F.size(FAILED_COL).cast("long")).alias("n_violations"),
    )
    return df, obs
