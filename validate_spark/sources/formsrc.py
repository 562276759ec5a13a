"""Form / URL-encoded sources — reference ``FromURLValues``/``FromQuery``
(validate.go:471-490) and the query-string branch of ``FromRequest``
(validate.go:410-465). All form values are strings (``FormData``,
data_source.go:657-669); casts happen later through filter chains,
exactly like the reference (``filter`` tag then validation).

Bracket form keys normalize to dot paths — ``address[street]`` →
``address.street`` (#324; ``normalizeFormKey``/``bracketKeyReplacer``,
util.go:200-221) — EXCEPT array-style ``k[]`` keys, which are left
verbatim like the reference. Dotted paths then materialize as nested
all-string struct columns so the engine's ordinary path rules
(``address.street: required``) apply unchanged.

Two entry shapes:

* ``from_url_values(spark, values)`` — one record, the literal
  reference constructor (handy for parity tests).
* ``parse_query_column(df, col)`` / ``validate_form`` — the table-scale
  form: a DataFrame COLUMN of raw query strings (what a log of HTTP
  requests looks like at 10^12 scale) parsed vectorized into a staged
  key/value entries array with ``try_url_decode`` — JVM-side, zero
  Python, and no map construction from untrusted keys.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from validate_spark.operators.engine import ValidationResult, validate
from validate_spark.plans.plan import RuleSet


def normalize_form_key(key: str) -> str:
    """``a[b][c]`` → ``a.b.c``; ``k[]`` kept verbatim (util.go:212-221)."""
    if "[" not in key or "[]" in key:
        return key
    return key.replace("[", ".").replace("]", "")


def _nest(flat: dict[str, str]) -> dict:
    root: dict = {}
    for key, val in flat.items():
        parts = normalize_form_key(key).split(".")
        node = root
        for p in parts[:-1]:
            nxt = node.get(p)
            if not isinstance(nxt, dict):
                nxt = {}
                node[p] = nxt
            node = nxt
        # a scalar never overwrites an existing nested branch
        node.setdefault(parts[-1], val)
    return root


def _schema_of(node: dict) -> T.StructType:
    fields = []
    for k in sorted(node):
        v = node[k]
        if isinstance(v, dict):
            fields.append(T.StructField(k, _schema_of(v)))
        else:
            fields.append(T.StructField(k, T.StringType()))
    return T.StructType(fields)


def _row_of(node: dict) -> tuple:
    out = []
    for k in sorted(node):
        v = node[k]
        out.append(_row_of(v) if isinstance(v, dict) else v)
    return tuple(out)


def from_url_values(
    spark: SparkSession, values: dict[str, "str | list[str]"]
) -> DataFrame:
    """One all-string record from url.Values-shaped data. Multi-valued
    keys keep the FIRST value (``FormData.Get`` returns ``vs[0]``,
    data_source.go:657-705)."""
    flat = {
        k: (v[0] if isinstance(v, (list, tuple)) else v) for k, v in values.items()
    }
    nested = _nest(flat)
    return spark.createDataFrame([_row_of(nested)], _schema_of(nested))


def _struct_from_keys(lookup, keys: Iterable[str]) -> Column:
    """Nested all-string struct column; each leaf = ``lookup(dotted_key)``."""
    tree: dict = {}
    for key in keys:
        parts = key.split(".")
        node = tree
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node.setdefault(parts[-1], key)

    def build(node: dict) -> Column:
        cols = []
        for k in sorted(node):
            v = node[k]
            c = build(v) if isinstance(v, dict) else lookup(v)
            cols.append(c.alias(k))
        return F.struct(*cols)

    return build(tree)


def parse_query_column(
    df: DataFrame,
    query_col: str,
    fields: Iterable[str],
    *,
    out_col: str = "_form",
) -> DataFrame:
    """Parse a raw query-string column (``a=1&address%5Bstreet%5D=x``)
    into a nested all-string struct column, fully vectorized: split into
    a key/value entries array, ``try_url_decode`` the percent-escapes,
    normalize bracket keys to dot paths — all JVM-side. ``fields`` are
    the dotted paths the rule set will address (reference reads only
    ruled fields too — safeData semantics). Missing keys yield NULL ≡
    empty.

    No map is ever built from the untrusted keys: ``str_to_map`` /
    ``map_from_arrays`` abort the whole job on ANY row whose query
    string repeats a key (``tag=a&tag=b``) or whose raw keys collide
    after bracket normalization (``a[b]`` + ``a.b``) under Spark's
    default ``spark.sql.mapKeyDedupPolicy=EXCEPTION``. Instead the
    entries array is probed per ruled field with a first-match lookup —
    which also matches the reference exactly: duplicate keys keep the
    FIRST occurrence (``FormData.Get`` returns ``vs[0]``,
    data_source.go:657-705).
    """
    ecol = f"{out_col}_entries"
    # stage the entries array in its OWN projection: the per-field
    # lookups below reference it multiple times, and a non-cheap,
    # multiply-referenced alias is exactly what CollapseProject keeps
    # staged (same PERF boundary as hashed_shingle_frame)
    staged = df.withColumn(ecol, query_entries(F.col(query_col)))
    lookup = _entries_lookup(F.col(ecol))
    return staged.withColumn(out_col, _struct_from_keys(lookup, fields)).drop(ecol)


def query_entries(qs: Column) -> Column:
    """Raw query string → ``array<struct<k,v>>``, decoded + bracket-
    normalized. try_url_decode, not url_decode: a single malformed
    %-escape in one of 10^12 rows must yield NULL ≡ empty (a `required`
    violation), not kill the job with an ANSI error."""

    def _dec_key(k: Column) -> Column:
        # malformed %-escape in a KEY: fall back to the raw key
        d = F.coalesce(F.try_url_decode(k), k)
        return F.when(k.contains("[]"), d).otherwise(
            F.replace(F.replace(d, F.lit("["), F.lit(".")), F.lit("]"), F.lit(""))
        )

    def _entry(p: Column) -> Column:
        raw_k = F.substring_index(p, "=", 1)
        # value = everything after the FIRST '=' (strings.Cut parity);
        # a bare key with no '=' yields NULL ≡ empty
        raw_v = F.when(
            p.contains("="), p.substr(F.length(raw_k) + F.lit(2), F.length(p))
        )
        return F.struct(_dec_key(raw_k).alias("k"), F.try_url_decode(raw_v).alias("v"))

    return F.transform(F.split(qs, "&"), _entry)


def _entries_lookup(ecol: Column):
    def lookup(key: str) -> Column:
        # first occurrence wins (FormData.Get parity); F.get (0-based)
        # is NULL-on-missing even under ANSI, unlike element_at which
        # throws on empty arrays
        return F.get(
            F.filter(ecol, lambda e: e.getField("k") == F.lit(key)), 0
        ).getField("v")

    return lookup


def validate_form(
    df: DataFrame,
    query_col: str,
    rules: "dict[str, str] | RuleSet",
    *,
    key_cols: list[str] | None = None,
    scene: str | None = None,
) -> ValidationResult:
    """Validate fields of a query-string column — the engine analogue of
    ``validate.FromQuery(...).Create().Validate()`` over a whole table
    of requests at once."""
    rs = rules if isinstance(rules, RuleSet) else RuleSet(rules=dict(rules))
    field_paths = {f.split(".*")[0].split(".0")[0] for f in rs.field_names()}
    parsed = parse_query_column(df, query_col, sorted(field_paths))
    return validate(parsed, rs.prefixed("_form."), key_cols=key_cols, scene=scene)
