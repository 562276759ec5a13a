"""RuleSet → Plan compiler.

The reference builds a per-TYPE rule template once and clones it per
record (struct_rules.go:25-166, 209-288; typeMeta cache cache.go:98-257).
Our equivalent: compile the rule set ONCE on the driver into an ordered
list of (field, validator, args, Column-expression, message) — the
"static template" — then evaluate the whole list in a single projection
over the DataFrame. The plan is pure metadata + unresolved Column
expressions; Catalyst does constant folding (≈ argsReady pre-conversion,
struct_rules.go:175-204) and common-subexpression elimination (≈ the
reference's per-field value dedup, validation.go:119-198).

Field paths: ``a`` (column), ``a.b`` (struct member), ``arr.*`` /
``arr.*.kind`` / ``a.*.b.*.c`` (wildcard element validation — reference
``validateWildcardSlice`` validating.go:489-563 → higher-order
``forall``; no explode, no shuffle).

Plan hash: stable sha256 over the rule-set definition — used by the
lineage manifest (operators/manifest.py) to detect rule-set changes
between resumable runs.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from validate_spark.plans.dsl import parse_rules, RuleSpec
from validate_spark.plans.messages import render_message
from validate_spark.functions.validators import (
    VALIDATORS,
    BuildCtx,
    is_empty_col,
    is_required_family,
    resolve_custom_type,
)
from validate_spark.functions.filters import (
    parse_filter_chain,
    apply_filter_chain,
    chain_output_dtype,
)


# ---------------------------------------------------------------------------
# rule set definition (user-facing)
# ---------------------------------------------------------------------------

# hidden boolean columns recording "default was substituted here";
# added by the default projection, consumed by the CheckDefault gate
# and excluded from safe-row output
DEFAULT_MARKER_PREFIX = "_vs_def_"


@dataclass
class RuleSet:
    """Declarative rule set — the engine analogue of ``StringRules`` +
    ``FilterRules`` + scenes + options (rule.go:171-246,
    validation.go:823-854, validate.go:69-145)."""

    rules: dict[str, str]
    filters: dict[str, str] = dc_field(default_factory=dict)
    messages: dict[str, str] = dc_field(default_factory=dict)
    labels: dict[str, str] = dc_field(default_factory=dict)
    scenes: dict[str, list[str]] = dc_field(default_factory=dict)
    stop_on_error: bool = False  # v.StopOnError — default true in ref for
    # abort-instance; for table-scale output we default to "collect all"
    # and expose first-failure ordering in the violations array instead.
    skip_on_empty: bool = True  # GlobalOption.SkipOnEmpty (validate.go:79)
    zero_as_empty: bool = False  # numeric zero counts as empty (IsEmpty parity flag)
    locale: str | None = None  # message locale (locales/zhcn Register parity)
    err_show_value: bool = False  # append failing value to messages
    # (GlobalOption.ErrShowValue, validate.go:104-108; issue #184)
    check_default: bool = False  # validate substituted default values?
    # Reference default is FALSE (Validation.CheckDefault,
    # validate.go:102-103; validating.go:238-241: "!CheckDefault →
    # commitValue, skip checks") — a substituted default passes its
    # field's rules and bypasses its filter chain unless this is True.
    validators: dict = dc_field(default_factory=dict)  # per-INSTANCE
    # validator overlay, name → builder(col, args, ctx) — shadows the
    # global registry for this rule set only (instance AddValidator,
    # validation.go:387-411). Names must be canonical (no aliases).

    def hash(self) -> str:
        payload = json.dumps(
            {
                "rules": self.rules,
                "filters": self.filters,
                "scenes": self.scenes,
                "stop_on_error": self.stop_on_error,
                "skip_on_empty": self.skip_on_empty,
                "zero_as_empty": self.zero_as_empty,
                "locale": self.locale,
                "err_show_value": self.err_show_value,
                "check_default": self.check_default,
                # names only: hash() feeds cross-run manifest identity,
                # so it must not depend on process-local callable ids —
                # the in-process plan CACHE adds id-sensitivity itself
                "instance_validators": sorted(self.validators),
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def to_json(self) -> str:
        """Serialize the DECLARATIVE surface — rules, filters, messages,
        labels, scenes, and every option flag — as versionable JSON
        (store it next to the run manifest; ``hash()`` is its identity).
        Per-instance ``validators`` are callables and serialize as
        NAMES only: ``from_json`` re-binds them from the mapping you
        pass (or fails loudly — a silently dropped custom validator
        would pass rows the original set rejected).

        Reference parity: gookit carries rules as data in struct tags
        (struct_rules.go:328-519); at table scale the analogue is the
        rule set as a versioned artifact."""
        return json.dumps(
            {
                "rules": self.rules,
                "filters": self.filters,
                "messages": self.messages,
                "labels": self.labels,
                "scenes": self.scenes,
                "stop_on_error": self.stop_on_error,
                "skip_on_empty": self.skip_on_empty,
                "zero_as_empty": self.zero_as_empty,
                "locale": self.locale,
                "err_show_value": self.err_show_value,
                "check_default": self.check_default,
                "validator_names": sorted(self.validators),
            },
            sort_keys=True,
            indent=2,
        )

    @staticmethod
    def from_json(payload: str, validators: dict | None = None) -> "RuleSet":
        """Inverse of :meth:`to_json`. ``validators`` must supply a
        builder for every serialized per-instance validator name;
        missing names raise (never silently weaken a rule set)."""
        d = json.loads(payload)
        names = d.pop("validator_names", [])
        provided = validators or {}
        missing = [n for n in names if n not in provided]
        if missing:
            raise ValueError(
                "from_json: per-instance validators not provided: "
                f"{missing} — pass validators={{name: builder}} or "
                "register them globally and drop them from the payload"
            )
        return RuleSet(validators={n: provided[n] for n in names}, **d)

    def field_names(self) -> set[str]:
        """All individual ruled/filtered field paths, comma keys expanded
        (a key may bind MULTIPLE comma-separated fields, rule.go:15-60)."""
        return {
            f.strip()
            for key in list(self.rules) + list(self.filters)
            for f in key.split(",")
            if f.strip()
        }

    def prefixed(self, prefix: str) -> "RuleSet":
        """Rebase every field reference under ``prefix`` (used by
        validate_form/validate_json, which parse the document into a
        struct column named e.g. ``_form``). Comma multi-field keys are
        prefixed per segment (NOT as one string — ``_form.a,b`` would
        split into ``_form.a`` plus a bogus bare ``b``); message keys of
        the form ``field.validator`` are rewritten only when their
        leading path is a ruled/filtered field, validator-only keys pass
        through unchanged (lookup order messages.go:478-520); scene
        field lists are rebased too."""
        import dataclasses

        fields = self.field_names()

        def pk(key: str) -> str:
            return ",".join(
                f"{prefix}{f.strip()}" for f in key.split(",") if f.strip()
            )

        def pm(key: str) -> str:
            if any(key == f or key.startswith(f + ".") for f in fields):
                return f"{prefix}{key}"
            return key

        return dataclasses.replace(
            self,
            rules={pk(k): v for k, v in self.rules.items()},
            filters={pk(k): v for k, v in self.filters.items()},
            labels={f"{prefix}{k}": v for k, v in self.labels.items()},
            messages={pm(k): v for k, v in self.messages.items()},
            scenes={s: [f"{prefix}{f}" for f in fl] for s, fl in self.scenes.items()},
        )


# ---------------------------------------------------------------------------
# schema navigation
# ---------------------------------------------------------------------------

def dtype_at(schema: T.StructType, path: str) -> T.DataType | None:
    """Walk ``a.*.b`` / ``a.0.b``-style paths through the schema; None if
    unknown. Numeric parts index arrays (the reference expands slice
    elements to indexed paths like ``Extra.0.Status1``,
    struct_rules.go:456-491)."""
    dt: T.DataType = schema
    for part in path.split("."):
        if part == "*" or part.isdigit():
            if isinstance(dt, T.ArrayType):
                dt = dt.elementType
            elif isinstance(dt, T.MapType):
                dt = dt.valueType
            else:
                return None
        else:
            if isinstance(dt, T.StructType):
                names = {f.name: f.dataType for f in dt.fields}
                if part not in names:
                    return None
                dt = names[part]
            elif isinstance(dt, T.MapType):
                # plain key into a map column: m.key → value type
                dt = dt.valueType
            else:
                return None
    return dt


def col_at(path: str) -> Column:
    """Column for a non-wildcard path: struct members via getField,
    numeric parts as 0-based array indices (``Extra.0.Status1`` —
    reference indexed-path expansion, struct_rules.go:456-491;
    out-of-range indices yield NULL ≡ missing element)."""
    parts = path.split(".")
    c = F.col(parts[0])
    for p in parts[1:]:
        if p.isdigit():
            c = F.get(c, int(p))  # 0-based, NULL when absent
        else:
            c = c.getField(p)
    return c


# ---------------------------------------------------------------------------
# compiled artifacts
# ---------------------------------------------------------------------------

@dataclass
class CompiledRule:
    index: int
    field: str
    validator: str
    args: tuple[str, ...]
    predicate: Column  # boolean, null-safe (already coalesced)
    message: str
    # set only under ErrShowValue: the failing value gets appended to
    # the message as " (value: %v)" (issue #184; validating.go:292-298)
    value_col: Column | None = None



_RESULTS_TYPE = (
    "array<struct<idx:int,field:string,validator:string,"
    "message:string,ok:boolean>>"
)


def _msg_col(r: "CompiledRule") -> Column:
    if r.value_col is None:
        return F.lit(r.message)
    # ErrShowValue: "%s (value: %v)" — Go renders nil as <nil>
    return F.concat(
        F.lit(r.message + " (value: "),
        F.coalesce(r.value_col.cast("string"), F.lit("<nil>")),
        F.lit(")"),
    )


@dataclass
class Plan:
    """Compiled, schema-bound rule plan. Immutable; reusable across
    DataFrames with the same schema (≈ the reference's cached static
    template, struct_rules.go:209-288)."""

    rules: list[CompiledRule]
    filter_projections: dict[str, Column]
    default_projections: dict[str, Column]
    ruleset: RuleSet
    plan_hash: str
    # Columns that depend on the plan alone, built once per plan (see
    # ``memo``)
    _memo: dict = dc_field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def memo(self, key, build):
        """The Column (or tuple of Columns) ``build()`` returns, built
        once per plan and ``key``. Every Column call is a py4j round
        trip, so a plan-cache hit that rebuilt its results array and
        violation columns paid O(|rules|) round trips per request;
        memoized, a repeat request builds nothing. Column expressions
        are unresolved and immutable, so one instance serves every
        same-schema frame. Two threads that miss together both build
        an equal value and one wins; no lock is needed."""
        value = self._memo.get(key)
        if value is None:
            value = self._memo[key] = build()
        return value

    def results_array(self) -> Column:
        """Ordered array<struct<idx,field,validator,message,ok>> — rule
        order IS array order, giving deterministic StopOnError/"first
        failing rule" semantics that independent columns can't
        (SURVEY.md §4 item 5). Memoized on the plan."""
        return self.memo("results", self._build_results_array)

    def _build_results_array(self) -> Column:
        if not self.rules:
            return F.array().cast(_RESULTS_TYPE)

        return F.array(
            *[
                F.struct(
                    F.lit(r.index).alias("idx"),
                    F.lit(r.field).alias("field"),
                    F.lit(r.validator).alias("validator"),
                    _msg_col(r).alias("message"),
                    r.predicate.alias("ok"),
                )
                for r in self.rules
            ]
        )



# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------

def _scene_fields(ruleset: RuleSet, scene: str | None) -> set[str] | None:
    """Scene filter incl. `.*` wildcard scene entries (validation.go:840-849)."""
    if not scene:
        return None
    if scene not in ruleset.scenes:
        return None
    return set(ruleset.scenes[scene])


def _field_in_scene(field: str, scene_fields: set[str] | None) -> bool:
    """Scene membership — ``isNotNeedToCheck`` parity
    (validation.go:906-943).

    PLAIN entries match exactly or as dotted ANCESTOR prefixes at any
    depth ("addr" admits "addr.city" and "addr.city.zip"; a scene entry
    equal to the parent name admits all descendants; partial segment
    prefixes like "add" never match). Entries containing ``.*`` are
    WILDCARD patterns (#283): they match only the field's
    index-normalized form exactly (numeric segments → "*",
    indexPathToWildcard util.go:163-181) or the identical wildcard rule
    name — index-less entries never match slice-element rules, and
    wildcard entries have NO prefix semantics. Empty entries are
    ignored (#314)."""
    if scene_fields is None:
        return True
    plain = {f for f in scene_fields if f and ".*" not in f}
    wild = {f for f in scene_fields if ".*" in f}
    if field in plain or field in wild:
        return True
    parts = field.split(".")
    for i in range(1, len(parts)):
        if ".".join(parts[:i]) in plain:
            return True
    if wild:
        norm = ".".join("*" if p.isdigit() else p for p in parts)
        if norm != field and norm in wild:
            return True
    return False


def _leaf_with_skip(
    pred: Column, col: Column, dt: T.DataType | None, spec: RuleSpec, ruleset: RuleSet
) -> Column:
    """skipEmpty gate (validating.go:282-284): non-required validators
    pass on empty values."""
    if spec.required_family or not (spec.skip_empty and ruleset.skip_on_empty):
        return F.coalesce(pred, F.lit(False))
    empty = is_empty_col(col, dt, zero_as_empty=ruleset.zero_as_empty)
    return F.when(empty, F.lit(True)).otherwise(F.coalesce(pred, F.lit(False)))


def _compile_path_pred(
    path_parts: list[str],
    cur: Column,
    cur_dt: T.DataType | None,
    make_leaf,
    required: bool,
) -> Column:
    """Recursive wildcard compilation: every ``*`` becomes ``forall`` over
    the array (validateWildcardSlice parity: required + empty parent →
    fail; non-required + empty/missing parent → pass, handled by the
    caller's skip gate)."""
    if not path_parts:
        return make_leaf(cur, cur_dt)
    head, rest = path_parts[0], path_parts[1:]
    if head == "*":
        if isinstance(cur_dt, T.MapType):
            # map wildcard validates every VALUE (reference expands map
            # keys to per-key rules at parse time, struct_rules.go:456-491;
            # same acceptance set, evaluated columnar)
            cur = F.map_values(cur)
            elem_dt = cur_dt.valueType
        else:
            elem_dt = cur_dt.elementType if isinstance(cur_dt, T.ArrayType) else None
        inner = F.forall(
            cur,
            lambda x: F.coalesce(
                _compile_path_pred(rest, x, elem_dt, make_leaf, required),
                F.lit(False),
            ),
        )
        if required:
            # required over wildcard: empty slice fails (validating.go:497-516)
            return (F.size(cur) > 0) & inner
        return inner
    # struct member
    sub_dt = None
    if isinstance(cur_dt, T.StructType):
        for f in cur_dt.fields:
            if f.name == head:
                sub_dt = f.dataType
                break
    return _compile_path_pred(rest, cur.getField(head), sub_dt, make_leaf, required)


# test hook: force the forall path so equivalence tests can compare both
_DISABLE_WILDCARD_FAST_PATH = False


def _wildcard_fast_path(
    field: str,
    spec,
    ruleset: RuleSet,
    schema: T.StructType,
    leaf_dt_override: T.DataType | None = None,
):
    """Native-array rewrite for hot single-level wildcard leaf rules.

    HigherOrderFunction expressions (forall/transform lambdas) are
    CodegenFallback in Spark — they evaluate INTERPRETED inside the
    otherwise-codegen'd projection, and at 10^12 rows the per-element
    lambda dispatch dominates wildcard-rule cost (measured 5.4× on the
    spans rules at 2M docs). For the common shape ``arr.*.leaf`` with
    element-local validators the same semantics are expressible with
    fully codegen'd native array functions over the struct-field
    extraction ``col(arr).getField(leaf)`` (GetArrayStructFields — also
    native):

      enum →  size(array_except(array_compact(leafs), allowed ∪ {''})) == 0
      min  →  array_min(leafs) >= a      max → array_max(leafs) <= a

    NULL elements skip via array_compact / min-max null-skipping, ''
    skips by being allowed — exactly the forall path's skip-on-empty
    gates; the empty-parent gate is identical. Applicability is STRICT:
    single ``.*``, array-of-struct parent, non-required, default skip
    gates, no zero_as_empty for numerics, no per-instance overlay and
    no custom-type extractor on the leaf — anything else falls back to
    the forall path. tests/test_engine.py property-checks both paths
    agree on a violation-seeded corpus.
    """
    from validate_spark.functions.validators import (
        CUSTOM_TYPES,
        is_numeric_type,
        is_string_type,
    )

    if _DISABLE_WILDCARD_FAST_PATH:
        return None
    parts = field.split(".")
    if len(parts) not in (2, 3) or parts[1] != "*":
        return None
    # required stays on the forall path BY MEASUREMENT: its lambda is a
    # trivial null/'' test (0.51s on 2M docs) while the lambda-free
    # alternative (array_except null-membership) pays ArrayExcept's
    # per-row set construction (0.90s) — CodegenFallback only hurts
    # when the per-element work is non-trivial (enum set membership,
    # bound compares).
    if spec.required_family:
        return None
    if not (spec.skip_empty and ruleset.skip_on_empty):
        return None  # the rewrites bake in the default skip gates
    if spec.name in ruleset.validators:
        return None
    root = parts[0]
    root_dt = dtype_at(schema, root)
    if len(parts) == 2:
        # `arr.*` (elements themselves) / `m.*` (map VALUES — reference
        # map wildcards validate values, struct_rules.go:456-491)
        if isinstance(root_dt, T.ArrayType):
            leaf_dt, arr = root_dt.elementType, F.col(root)
        elif isinstance(root_dt, T.MapType):
            leaf_dt, arr = root_dt.valueType, F.map_values(F.col(root))
        else:
            return None
        if isinstance(leaf_dt, (T.ArrayType, T.MapType, T.StructType)):
            return None
    else:
        leaf = parts[2]
        if not (
            isinstance(root_dt, T.ArrayType)
            and isinstance(root_dt.elementType, T.StructType)
        ):
            return None
        leaf_dt = next(
            (f.dataType for f in root_dt.elementType.fields if f.name == leaf),
            None,
        )
        if leaf_dt is None:
            return None
        arr = F.col(root).getField(leaf)
    if leaf_dt_override is not None:
        # a type-changing element filter chain (filters={'tags.*':
        # 'float'}) means the RUNTIME elements are the chain's output
        # type, not the schema's — dispatching on the raw schema dtype
        # here would mis-classify the rewrite (the chain_output_dtype
        # rule, CLAUDE.md)
        leaf_dt = leaf_dt_override
    if CUSTOM_TYPES and leaf_dt is not None and leaf_dt.simpleString() in CUSTOM_TYPES:
        return None
    parent_empty = F.col(root).isNull() | (F.size(root) == 0)
    name, args = spec.name, spec.args

    inner = None
    if name == "enum" and args:
        # NULL sits in the allowed set so array_except drops NULL
        # elements natively — array_compact must NOT be used here, it
        # is RuntimeReplaceable into a filter LAMBDA, which defeats the
        # whole point of this rewrite
        if is_string_type(leaf_dt):
            allowed = F.array(
                *[F.lit(a) for a in args], F.lit(""), F.lit(None).cast("string")
            )
        elif is_numeric_type(leaf_dt) and not ruleset.zero_as_empty:
            try:
                vals = [float(a) if "." in a else int(a) for a in args]
            except ValueError:
                return None
            allowed = F.array(
                *[F.lit(v).cast(leaf_dt) for v in vals],
                F.lit(None).cast(leaf_dt),
            )
        else:
            return None
        inner = F.coalesce(
            F.size(F.array_except(arr, allowed)) == 0,
            F.lit(False),
        )
    elif name == "notIn" and args and is_string_type(leaf_dt):
        # banned set minus '' (empty elements skip, so '' may never
        # fail even when listed); NULL elements never intersect
        banned = [a for a in args if a != ""]
        if not banned:
            return None
        inner = F.coalesce(
            F.size(
                F.array_intersect(arr, F.array(*[F.lit(a) for a in banned]))
            )
            == 0,
            F.lit(False),
        )
    elif (
        name in ("min", "max", "gt", "lt", "between")
        and args
        and is_numeric_type(leaf_dt)
        and not ruleset.zero_as_empty
    ):
        def _num(s: str):
            return F.lit(float(s)) if "." in s else F.lit(int(s))

        try:
            if name == "between":
                if len(args) != 2:
                    return None
                cmp = (F.array_min(arr) >= _num(args[0])) & (
                    F.array_max(arr) <= _num(args[1])
                )
            elif len(args) != 1:
                return None
            elif name == "min":
                cmp = F.array_min(arr) >= _num(args[0])
            elif name == "gt":
                cmp = F.array_min(arr) > _num(args[0])
            elif name == "max":
                cmp = F.array_max(arr) <= _num(args[0])
            else:  # lt
                cmp = F.array_max(arr) < _num(args[0])
        except ValueError:
            return None
        inner = F.coalesce(cmp, F.lit(True))
    if inner is None:
        return None
    return F.when(parent_empty, F.lit(True)).otherwise(inner)


def compile_plan(
    ruleset: RuleSet,
    schema: T.StructType,
    scene: str | None = None,
) -> Plan:
    """Compile a RuleSet against a schema into a Plan (one-time, driver)."""
    scene_fields = _scene_fields(ruleset, scene)

    def _expand_fields(d: dict[str, str]) -> list[tuple[str, str]]:
        # a key may bind MULTIPLE comma-separated fields to one rule /
        # filter chain (Rule.fields, rule.go:15-60: NewRule splits on ",")
        out = []
        for key, val in d.items():
            for f in key.split(","):
                f = f.strip()
                if f:
                    out.append((f, val))
        return out

    # -- filter projections (applied BEFORE validation, filtering.go:142-237)
    filter_projections: dict[str, Column] = {}
    # post-filter dtypes: validation sees the FILTERED value's type
    # (cast filters change it — e.g. `float` makes the empty gate
    # null-based instead of ''-based)
    filter_dtypes: dict[str, T.DataType] = {}
    for field, chain_str in _expand_fields(ruleset.filters):
        if not _field_in_scene(field, scene_fields):
            continue
        chain = parse_filter_chain(chain_str)
        out_dt = chain_output_dtype(chain, dtype_at(schema, field))
        if out_dt is not None:
            filter_dtypes[field] = out_dt
        if "." in field:
            # trailing `.*` filter (issue #172: StringRule("Domains.*",
            # "", "trimStrings")): the scalar chain applies to EACH
            # element of the array field
            if field.endswith(".*") and "*" not in field[:-2]:
                parent_path = field[:-2]
                elem_chain = chain
                if "." not in parent_path:
                    base = filter_projections.get(parent_path, F.col(parent_path))
                    filter_projections[parent_path] = F.transform(
                        base, lambda x: apply_filter_chain(x, elem_chain)
                    )
                else:
                    top, _, rest = parent_path.partition(".")
                    base = filter_projections.get(top, F.col(top))
                    leaf = base
                    for p in rest.split("."):
                        leaf = leaf.getField(p)
                    filter_projections[top] = base.withField(
                        rest,
                        F.transform(
                            leaf, lambda x: apply_filter_chain(x, elem_chain)
                        ),
                    )
                continue
            # interior `.*` filter (issue #262): transform each element
            parent, _, sub = field.partition(".*.")
            if parent and sub and "." not in sub:
                elem_chain = chain
                filter_projections[parent] = F.transform(
                    F.col(parent),
                    lambda x: x.withField(sub, apply_filter_chain(x.getField(sub), elem_chain)),
                )
                continue
            if "*" not in field and not any(
                p.isdigit() for p in field.split(".")
            ):
                # nested struct path a.b.c: rewrite the leaf inside the
                # top-level struct column (withField takes dotted names);
                # reads go through any prior projection on the same top
                # column so multiple nested filters compose.
                top, _, rest = field.partition(".")
                base = filter_projections.get(top, F.col(top))
                leaf = base
                for p in rest.split("."):
                    leaf = leaf.getField(p)
                filter_projections[top] = base.withField(
                    rest, apply_filter_chain(leaf, chain)
                )
                continue
            raise NotImplementedError(f"filter path not supported: {field}")
        filter_projections[field] = apply_filter_chain(F.col(field), chain)

    # -- parse rules, preserving declaration order (dict order is insertion
    #    order — rule order drives StopOnError semantics)
    compiled: list[CompiledRule] = []
    default_projections: dict[str, Column] = {}
    idx = 0

    schema_roots = {sf.name for sf in schema.fields}

    def resolve(f: str) -> Column:
        # a cross-field reference to a NON-EXISTENT field is simply
        # absent in the reference (TryGet exist=false ≡ empty) — e.g.
        # requiredIf:ghost,1 never triggers. Resolving it as a real
        # column would abort the job with UNRESOLVED_COLUMN /
        # UNRESOLVED_FIELD for a rule set the reference accepts. The
        # check walks the FULL dotted path (requiredIf:a.ghost,1 with a
        # real root `a` but no `ghost` member is just as absent).
        if f.split(".")[0] not in schema_roots or dtype_at(schema, f) is None:
            return F.lit(None).cast("string")
        return col_at(f)

    def dtype_of(f: str) -> T.DataType | None:
        if f in filter_dtypes:
            return filter_dtypes[f]
        return dtype_at(schema, f)

    # tag-style per-validator message specs (issue #189 StringMessage,
    # rule.go:265-293): a FIELD-keyed message like
    # "required:name is required|minLen:name is too short" expands into
    # field.validator entries; a plain value stays the field-level
    # fallback. Safer than the reference's blind split: a segment only
    # expands when its prefix resolves to a KNOWN validator, so fallback
    # text containing ':' is kept instead of silently lost.
    ruled_fields = {f for f, _ in _expand_fields(ruleset.rules)}
    messages = dict(ruleset.messages)
    for k, v in list(ruleset.messages.items()):
        if "." in k or k not in ruled_fields or not isinstance(v, str):
            continue
        if "|" not in v and ":" not in v:
            continue
        from validate_spark.functions.validators import resolve_alias

        entries = []
        for seg in v.split("|"):
            seg = seg.strip()
            if not seg or ":" not in seg:
                continue
            vname, _, msg = seg.partition(":")
            vname, msg = vname.strip(), msg.strip()
            if vname and msg and (
                resolve_alias(vname) in VALIDATORS
                or vname in ruleset.validators
            ):
                entries.append((f"{k}.{vname}", msg))
        if entries and len(entries) == len(
            [s for s in v.split("|") if s.strip()]
        ):
            # every segment is a recognized validator:msg pair — expand
            del messages[k]
            for mk, mv in entries:
                messages.setdefault(mk, mv)

    # pre-parse all fields so optional PARENTS are known before compiling
    # descendants' rules (v.optionals, rule.go:335-340; gate
    # isInOptional, validation.go:880-904)
    parsed: list = []
    optional_parents: list[str] = []
    for field, rule_str in _expand_fields(ruleset.rules):
        if not _field_in_scene(field, scene_fields):
            continue
        fr = parse_rules(
            field,
            rule_str,
            skip_empty=ruleset.skip_on_empty,
            messages=messages,
        )
        parsed.append((field, fr))
        if fr.optional:
            optional_parents.append(field)

    # field → hidden marker column name, set when a default is declared;
    # the marker records "the ORIGINAL value was empty → default applied"
    # (computed pre-substitution: all default_projections expressions are
    # applied in ONE withColumns, so they see pre-projection values)
    defaulted_fields: dict[str, str] = {}

    for field, fr in parsed:
        leaf_dt = dtype_of(field)

        if fr.default is not None:
            if "*" in field or any(p.isdigit() for p in field.split(".")):
                # never a silent no-op: the reference applies defaults to
                # any addressable field (rule.go:195-197), but a wildcard
                # has no single storage slot to write back to
                raise NotImplementedError(
                    f"default on wildcard/indexed field not supported: {field}"
                )
            default_lit = F.lit(fr.default)
            if leaf_dt is not None:
                default_lit = default_lit.try_cast(leaf_dt)
            marker = f"{DEFAULT_MARKER_PREFIX}{len(defaulted_fields)}"
            defaulted_fields[field] = marker
            if "." not in field:
                base = F.col(field)
                empty = is_empty_col(
                    base, leaf_dt, zero_as_empty=ruleset.zero_as_empty
                )
                default_projections[field] = F.when(
                    empty, default_lit
                ).otherwise(base)
                default_projections[marker] = empty
            else:
                # dotted field: rebuild the leaf inside the TOP-LEVEL
                # struct column (withField takes dotted names) — the
                # reference applies defaults to any field via SetByPath,
                # creating missing parents (validating.go:229-246); a
                # NULL top struct is normalized to an all-NULL struct so
                # the path exists to write into. (Intermediate NULL
                # structs below the top level stay NULL — withField
                # cannot create them; documented limitation.)
                top, _, rest = field.partition(".")
                top_dt = dtype_at(schema, top)
                base = default_projections.get(top)
                if base is None:
                    base = F.col(top)
                    if isinstance(top_dt, T.StructType):
                        nullstruct = F.struct(
                            *[
                                F.lit(None).cast(f.dataType).alias(f.name)
                                for f in top_dt.fields
                            ]
                        )
                        base = F.coalesce(base, nullstruct)
                leaf = base
                for p in rest.split("."):
                    leaf = leaf.getField(p)
                empty = is_empty_col(
                    leaf, leaf_dt, zero_as_empty=ruleset.zero_as_empty
                )
                default_projections[top] = base.withField(
                    rest, F.when(empty, default_lit).otherwise(leaf)
                )
                default_projections[marker] = empty

        for spec in fr.rules:
            name = spec.name
            # per-instance overlay first (validation.go:387-411
            # AddValidator on an instance shadows the global registry;
            # two concurrent rule sets may carry conflicting custom
            # validators without touching global state)
            builder = ruleset.validators.get(name)
            if builder is None:
                if name not in VALIDATORS:
                    raise KeyError(
                        f"unknown validator '{name}' for field '{field}' "
                        f"(register with register_validator)"
                    )
                builder = VALIDATORS[name]

            # post-filter element dtype: a type-changing element chain
            # (filters={'tags.*': 'float'}) makes the runtime leaf type
            # differ from the schema — BOTH wildcard compile paths must
            # see the chain's output type (scalar rules get this via
            # dtype_of; this is the wildcard analogue)
            wild_leaf_override = filter_dtypes.get(field) if "*" in field else None

            fast = None
            if "*" in field:
                fast = _wildcard_fast_path(
                    field, spec, ruleset, schema,
                    leaf_dt_override=wild_leaf_override,
                )
            if fast is not None:
                # shared tail below still applies the optional-parent
                # and CheckDefault gates exactly like the forall path
                pred = fast
            elif "*" in field:
                parts = field.split(".")
                root = parts[0]
                rest = parts[1:]
                root_col = F.col(root)
                root_dt = dtype_at(schema, root)

                def make_leaf(
                    c, dt, _b=builder, _spec=spec, _odt=wild_leaf_override
                ):
                    if _odt is not None:
                        dt = _odt  # element filter chain changed the type
                    # AddCustomType hook: wildcard LEAVES of a registered
                    # type validate their extracted underlying value
                    c, dt = resolve_custom_type(c, dt)
                    ctx = BuildCtx(
                        dtype=dt,
                        resolve=resolve,
                        dtype_of=dtype_of,
                        zero_as_empty=ruleset.zero_as_empty,
                    )
                    pred = _b(c, _spec.args, ctx)
                    if _spec.required_family or not (
                        _spec.skip_empty and ruleset.skip_on_empty
                    ):
                        return F.coalesce(pred, F.lit(False))
                    empty = is_empty_col(c, dt, zero_as_empty=ruleset.zero_as_empty)
                    return F.when(empty, F.lit(True)).otherwise(
                        F.coalesce(pred, F.lit(False))
                    )

                inner = _compile_path_pred(
                    rest, root_col, root_dt, make_leaf, spec.required_family
                )
                if spec.required_family:
                    pred = F.coalesce(inner, F.lit(False))
                else:
                    # non-required: empty/missing parent passes (optional gate)
                    parent_empty = is_empty_col(
                        root_col, root_dt, zero_as_empty=ruleset.zero_as_empty
                    )
                    pred = F.when(parent_empty, F.lit(True)).otherwise(
                        F.coalesce(inner, F.lit(False))
                    )
            else:
                target = col_at(field)
                # AddCustomType hook (register_type.go:57-68 applied at
                # value-get): predicates, the skip-empty gate and the
                # required family all see the EXTRACTED value
                target, eff_dt = resolve_custom_type(target, leaf_dt)
                ctx = BuildCtx(
                    dtype=eff_dt,
                    resolve=resolve,
                    dtype_of=dtype_of,
                    zero_as_empty=ruleset.zero_as_empty,
                )
                raw = builder(target, spec.args, ctx)
                pred = _leaf_with_skip(raw, target, eff_dt, spec, ruleset)

            if spec.optional and not spec.required_family:
                # optional field: children skipped when value empty
                # (validation.go:880-904) — subsumed by the skip gate above
                pass

            # optional PARENT gate: required-family rules on a dotted
            # descendant of an optional field pass when the parent is
            # empty (Required's isInOptional check, validators.go:191-194;
            # non-required rules already skip via the empty-child gate)
            if spec.required_family:
                gate = next(
                    (p for p in optional_parents if field.startswith(p + ".")),
                    None,
                )
                if gate is not None:
                    parent_empty = is_empty_col(
                        col_at(gate),
                        dtype_of(gate),
                        zero_as_empty=ruleset.zero_as_empty,
                    )
                    pred = F.when(parent_empty, F.lit(True)).otherwise(
                        F.coalesce(pred, F.lit(False))
                    )

            # CheckDefault gate (validating.go:238-241): unless
            # check_default is set, a row whose value was empty and got
            # the default substituted does NOT re-validate — the rule
            # passes by fiat (the marker column records the substitution
            # pre-projection)
            if not ruleset.check_default and field in defaulted_fields:
                pred = F.when(
                    F.col(defaulted_fields[field]), F.lit(True)
                ).otherwise(F.coalesce(pred, F.lit(False)))

            value_col = None
            if ruleset.err_show_value:
                # wildcard rules report the whole source value (fv.Src()
                # is the field's source value in the reference too)
                value_col = col_at(field.split(".*")[0])

            compiled.append(
                CompiledRule(
                    index=idx,
                    field=field,
                    validator=name,
                    args=spec.args,
                    predicate=pred,
                    value_col=value_col,
                    message=render_message(
                        name,
                        field,
                        spec.args,
                        custom=spec.message,
                        label=ruleset.labels.get(field),
                        locale=ruleset.locale,
                        labels=ruleset.labels,
                    ),
                )
            )
            idx += 1

    # !CheckDefault also bypasses the FILTER chain for substituted
    # defaults (the reference commits the raw default before filters
    # run, validating.go:238-241); nested defaulted fields share their
    # top-level filter projection with sibling leaves, so the bypass is
    # applied only where the granularity is exact (top-level fields)
    if not ruleset.check_default:
        for dfield, marker in defaulted_fields.items():
            if "." not in dfield and dfield in filter_projections:
                filter_projections[dfield] = F.when(
                    F.col(marker), F.col(dfield)
                ).otherwise(filter_projections[dfield])

    return Plan(
        rules=compiled,
        filter_projections=filter_projections,
        default_projections=default_projections,
        ruleset=ruleset,
        plan_hash=ruleset.hash(),
    )
