"""Rule suggestion — profile a table once, emit a RuleSet.

The inverse of validation: where the reference always receives rules
from tags/strings, a table-scale engine can LEARN a baseline rule set
from a trusted snapshot and then validate future data against it
(schema-drift guard). One stats pass (operators/stats.py) + one tiny
distinct-values pass for low-cardinality string columns.

Suggested per column:
- ``required``            when the snapshot has zero nulls/empties
- ``enum:v1,...``         string column with ≤ max_enum distinct values
- ``min:x|max:y``         numeric column's observed range
- ``minLength/maxLength`` string column's observed byte-length range

The output is a plain RuleSet — inspect/edit it, then ``validate`` as
usual; by construction the snapshot itself passes 100%.

Scale notes (exactly TWO scans total, independent of column count):
- The profile agg uses ``approx_count_distinct`` (HyperLogLog partial
  agg) instead of exact ``countDistinct`` — mixing several exact
  distinct aggs in one agg makes Catalyst plan an Expand (input rows ×
  N distinct aggs); HLL sketches merge map-side with no Expand.
- All enum domains come from ONE melted pass: explode each candidate
  column into (col, val) pairs and take distinct pairs — map-side
  partial dedup, one scan for every candidate at once, never a
  per-column ``distinct().collect()`` loop. The HLL gate is loose
  (rsd=0.01, threshold padded) so a true enum column is never missed;
  a column the loose gate lets through whose EXACT domain turns out
  > max_enum falls back to min/maxLength driver-side. Collected rows
  are bounded by n_candidates × O(max_enum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from validate_spark.plans.plan import RuleSet


def _enum_domain_frame(df: DataFrame, candidates: list[str]) -> DataFrame:
    """Melted distinct-(column, value) pairs for ALL candidate columns in
    ONE scan: explode an inline (col, val) struct array, then distinct —
    partial aggregation dedups map-side, so the shuffle carries at most
    n_candidates × domain-size rows per task. Exposed for the plan-shape
    test (one scan, no Expand)."""
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("_c"), F.col(c).cast("string").alias("_v"))
            for c in candidates
        ]
    )
    return (
        df.select(F.explode(pairs).alias("_p"))
        .select("_p._c", "_p._v")
        .filter(F.col("_v").isNotNull())
        .distinct()
    )


def _profile_frame(df: DataFrame, cols: list[str]) -> DataFrame:
    """The one-row profile aggregate (single scan, pure partial aggs —
    HLL for distinct counts, so NO Expand in the plan). Exposed for the
    plan-shape test."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in cols:
        dt = schema.get(c)
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nnull"))
        if isinstance(dt, T.StringType):
            aggs.append(F.sum((col == "").cast("long")).alias(f"{c}__nempty"))
            # HLL, not exact countDistinct: the gate only needs to be
            # loose-correct and HLL avoids the multi-distinct Expand
            aggs.append(
                F.approx_count_distinct(col, rsd=0.01).alias(f"{c}__ndist")
            )
            aggs.append(F.min(F.octet_length(col)).alias(f"{c}__minlen"))
            aggs.append(F.max(F.octet_length(col)).alias(f"{c}__maxlen"))
        elif isinstance(dt, T.NumericType):
            aggs.append(F.min(col).alias(f"{c}__min"))
            aggs.append(F.max(col).alias(f"{c}__max"))
    return df.agg(*aggs)


def suggest_rules(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    max_enum: int = 20,
) -> RuleSet:
    """Two scans total → RuleSet (see module doc / Scale notes)."""
    if cols is None:
        cols = df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}

    prof = _profile_frame(df, cols).collect()[0]

    # loose gate: rsd=0.01 → pad the threshold so a true ≤max_enum
    # domain is never rejected by sketch error; exactness is restored
    # by the melted pass below
    gate = max_enum * 1.1 + 5

    rules: dict[str, list] = {}
    enum_candidates = []
    for c in cols:
        dt = schema.get(c)
        parts = []
        empties = prof[f"{c}__nnull"] + (
            prof[f"{c}__nempty"] if isinstance(dt, T.StringType) else 0
        )
        if empties == 0:
            parts.append("required")
        if isinstance(dt, T.StringType):
            if prof[f"{c}__ndist"] <= gate:
                enum_candidates.append(c)
                parts.append(None)  # placeholder, filled below
            else:
                parts.append(f"minLength:{prof[f'{c}__minlen']}")
                parts.append(f"maxLength:{prof[f'{c}__maxlen']}")
        elif isinstance(dt, T.NumericType):
            lo, hi = prof[f"{c}__min"], prof[f"{c}__max"]
            if lo is not None:
                parts.append(f"min:{lo}")
                parts.append(f"max:{hi}")
        rules[c] = parts

    if enum_candidates:
        domains: dict[str, list] = {c: [] for c in enum_candidates}
        for r in _enum_domain_frame(df, enum_candidates).collect():
            domains[r["_c"]].append(r["_v"])
        for c in enum_candidates:
            vals = sorted(domains[c])
            if len(vals) <= max_enum:
                repl = "enum:" + ",".join(str(v) for v in vals)
            else:
                # loose-gated through but exactly over the limit: fall
                # back to the length-range rules (stats already profiled)
                repl = f"minLength:{prof[f'{c}__minlen']}|maxLength:{prof[f'{c}__maxlen']}"
            rules[c] = [p if p is not None else repl for p in rules[c]]

    return RuleSet(
        rules={c: "|".join(p for p in parts if p) for c, parts in rules.items() if parts}
    )


def schema_diff(
    before: "T.StructType | DataFrame",
    after: "T.StructType | DataFrame",
) -> list[dict]:
    """Structural drift between two schemas: columns (recursively, by
    dotted path) added, removed, or type-changed — the schema-level
    complement of value drift (operators/drift.py). The reference pins a
    struct's shape at compile time via its type meta (cache.go:98-257);
    at table scale the analogous guard is diffing the CURRENT schema
    against the trusted snapshot's before validating.

    Returns [{"path", "kind": added|removed|type_changed,
    "before", "after"}], sorted by path. Driver-side pure Python —
    schemas are tiny.
    """
    def flatten(dt, prefix=""):
        # leaf-level paths only: a changed array<struct<...>> container
        # would just duplicate its children's precise diffs
        out = {}
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                out.update(flatten(f.dataType, f"{prefix}{f.name}."))
            return out
        if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.StructType, T.ArrayType)
        ):
            return flatten(dt.elementType, f"{prefix}*.")
        key = prefix[:-1] if prefix else ""
        if key:
            out[key] = dt.simpleString()
        return out

    a = flatten(before.schema if hasattr(before, "schema") else before)
    b = flatten(after.schema if hasattr(after, "schema") else after)
    diffs = []
    for path in sorted(set(a) | set(b)):
        if path not in b:
            diffs.append({"path": path, "kind": "removed", "before": a[path], "after": None})
        elif path not in a:
            diffs.append({"path": path, "kind": "added", "before": None, "after": b[path]})
        elif a[path] != b[path]:
            diffs.append({"path": path, "kind": "type_changed", "before": a[path], "after": b[path]})
    return diffs


# (class, Java∩RE2 regex) in PRIORITY order — first match wins; the
# fixed order is part of the contract so any engine replays the same
# classification (an int string never reaches bool/hex even though
# '1' / '123' also match those patterns). NULL and '' are handled
# before the regex ladder.
PATTERN_CLASSES: list[tuple[str, str]] = [
    ("int_string", r"^[+-]?[0-9]+$"),
    ("float_string", r"^[+-]?[0-9]*\.[0-9]+$"),
    # scoped (?i:...) — the one case-fold spelling Java, RE2, AND
    # Python re all accept (a global ^(?i) is illegal mid-pattern in
    # Python, which the dialect-parity test enforces)
    ("bool_string", r"^(?i:true|false|yes|no|on|off)$"),
    ("date", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("uuid", r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"),
    (
        "email",
        r"^[^@\s]+@([a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?\.)+[a-zA-Z]{2,}$",
    ),
    (
        "url",
        r"^(?:ftp|tcp|udp|wss?|https?)://(?:(?:[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?\.)+[a-zA-Z]{2,}|(?:[0-9]{1,3}\.){3}[0-9]{1,3})(?::[0-9]{1,5})?(?:[/?#]\S*)?$",
    ),
    ("hex", r"^[0-9a-fA-F]+$"),
]


def pattern_profile(
    df: DataFrame,
    col: str,
    *,
    classes: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Value-shape profile of a string column — classify every value
    into its first-matching pattern class (``null``, ``empty``, then
    :data:`PATTERN_CLASSES` in order, else ``other``) and report
    (pattern_class, n, n_total, round-6 share). The TFDV-style
    "what does this column actually hold" view that tells you a
    'user_id' column is 3% emails before you write `isInt` on it —
    and the evidence behind :func:`suggest_rules`'s format choices.

    Every regex is in the Java∩RE2 common dialect (the repo's
    cross-engine regex discipline, tests/test_regex_dialect.py), so an
    external engine replays the classification exactly.

    Scale: the regex ladder is ONE codegen'd projection, then a
    groupBy over ≤ len(classes)+3 distinct class labels (map-side
    partials); the total rides a window over that tiny aggregated
    frame — ONE input scan, no second pass.
    """
    from pyspark.sql import Window

    if classes is None:
        classes = PATTERN_CLASSES
    v = F.col("_v")
    cls = F.when(v.isNull(), F.lit("null")).when(v == "", F.lit("empty"))
    for name, rx in classes:
        cls = cls.when(v.rlike(rx), F.lit(name))
    cls = cls.otherwise(F.lit("other"))

    src = df.select(F.col(col).cast("string").alias("_v"))
    per = src.groupBy(cls.alias("pattern_class")).agg(
        F.count(F.lit(1)).alias("n")
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = per.withColumn("n_total", F.sum("n").over(whole))
    return per.select(
        "pattern_class",
        "n",
        "n_total",
        F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
    )
