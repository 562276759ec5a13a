"""Engine-semantics tests — skipEmpty, required-family cross-field,
defaults, scenes, StopOnError, wildcard slices, safe rows.

Mirrors validating_test.go (TestRule_Apply, TestValidation_RequiredIf/
...Unless/...With/...WithoutAll, TestStruct_useDefault, wildcard suites)
and validation_test.go golden fixtures.
"""

import pyspark.sql.functions as F

from validate_spark import RuleSet, validate


def viol_set(res):
    return {(r["field"], r["validator"]) for r in res.violations().collect()}


# --- skipEmpty ---------------------------------------------------------------

def test_skip_on_empty_default(spark):
    # non-required rules pass on empty values (validating.go:282-284)
    df = spark.createDataFrame([("",), (None,), ("ab",)], "email string")
    res = validate(df, RuleSet(rules={"email": "email"}), key_cols=["email"])
    rows = {r["email"]: r["pass"] for r in res.verdicts().collect()}
    assert rows[""] is True and rows[None] is True and rows["ab"] is False


def test_no_skip_when_disabled(spark):
    df = spark.createDataFrame([("",)], "email string")
    res = validate(df, RuleSet(rules={"email": "email"}, skip_on_empty=False))
    assert res.verdicts().collect()[0]["pass"] is False


# --- required-family cross-field ----------------------------------------------

def test_required_if(spark):
    df = spark.createDataFrame(
        [("admin", None), ("admin", "x"), ("guest", None)], "role string, token string"
    )
    res = validate(df, RuleSet(rules={"token": "required_if:role,admin"}), key_cols=["role", "token"])
    rows = {(r["role"], r["token"]): r["pass"] for r in res.verdicts().collect()}
    assert rows[("admin", None)] is False
    assert rows[("admin", "x")] is True
    assert rows[("guest", None)] is True


def test_required_unless(spark):
    df = spark.createDataFrame(
        [("guest", None), ("admin", None), ("admin", "x")], "role string, token string"
    )
    res = validate(df, RuleSet(rules={"token": "required_unless:role,guest"}), key_cols=["role", "token"])
    rows = {(r["role"], r["token"]): r["pass"] for r in res.verdicts().collect()}
    assert rows[("guest", None)] is True
    assert rows[("admin", None)] is False
    assert rows[("admin", "x")] is True


def test_required_with_and_without(spark):
    df = spark.createDataFrame(
        [("a", None, None), (None, None, None), (None, "b", None)],
        "f1 string, f2 string, target string",
    )
    # required when ANY of f1,f2 present
    res = validate(df, RuleSet(rules={"target": "required_with:f1,f2"}), key_cols=["f1", "f2"])
    rows = {(r["f1"], r["f2"]): r["pass"] for r in res.verdicts().collect()}
    assert rows[("a", None)] is False
    assert rows[(None, None)] is True
    assert rows[(None, "b")] is False
    # required when ALL absent
    res2 = validate(df, RuleSet(rules={"target": "required_without_all:f1,f2"}), key_cols=["f1", "f2"])
    rows2 = {(r["f1"], r["f2"]): r["pass"] for r in res2.verdicts().collect()}
    assert rows2[(None, None)] is False
    assert rows2[("a", None)] is True


def test_required_with_all(spark):
    df = spark.createDataFrame(
        [("a", "b", None), ("a", None, None)], "f1 string, f2 string, target string"
    )
    res = validate(df, RuleSet(rules={"target": "required_with_all:f1,f2"}), key_cols=["f1", "f2"])
    rows = {(r["f1"], r["f2"]): r["pass"] for r in res.verdicts().collect()}
    assert rows[("a", "b")] is False
    assert rows[("a", None)] is True


def test_eq_field_cross(spark):
    # as_cross fixture (validating_autoskip_test.go:13-33) with trim filter:
    # the FILTERED value must feed the eq_field compare
    df = spark.createDataFrame(
        [("secret", " secret "), ("secret", "other")], "pwd string, confirm string"
    )
    rs = RuleSet(
        rules={"pwd": "required", "confirm": "required|eq_field:pwd"},
        filters={"confirm": "trim"},
    )
    res = validate(df, rs, key_cols=["pwd", "confirm"])
    rows = sorted(res.verdicts().collect(), key=lambda r: r["confirm"])
    by_pass = [r["pass"] for r in rows]
    assert by_pass == [False, True]  # "other" fails, trimmed " secret " passes


# --- defaults -------------------------------------------------------------------

def test_default_substitution(spark):
    # TestStruct_useDefault semantics: empty value → default, then validated
    df = spark.createDataFrame([(None,), ("",), ("30",)], "age string")
    rs = RuleSet(rules={"age": "default:18|required|int:1,99"})
    res = validate(df, rs, key_cols=["age"])
    assert all(r["pass"] for r in res.verdicts().collect())
    safe = {r["age"] for r in res.safe_rows().collect()}
    assert safe == {"18", "30"}


def test_check_default_false_skips_validation(spark):
    # reference default: CheckDefault=false — a substituted default is
    # committed WITHOUT re-running the rules (validating.go:238-241),
    # even when the default value itself would fail them
    df = spark.createDataFrame([(None,), ("50",)], "age string")
    rs = RuleSet(rules={"age": "default:999|required|int:1,99"})
    res = validate(df, rs, key_cols=["age"])
    assert all(r["pass"] for r in res.verdicts().collect())
    assert {r["age"] for r in res.safe_rows().collect()} == {"999", "50"}
    # non-defaulted rows still validate normally
    df2 = spark.createDataFrame([("500",)], "age string")
    assert validate(df2, rs).verdicts().collect()[0]["pass"] is False


def test_check_default_true_validates_default(spark):
    # CheckDefault=true: the substituted default runs through the rules
    # (TestValidation_CheckDefault, validating_test.go:61-77)
    df = spark.createDataFrame([(None,)], "age string")
    rs = RuleSet(rules={"age": "default:999|required|int:1,99"}, check_default=True)
    res = validate(df, rs)
    assert res.verdicts().collect()[0]["pass"] is False


def test_check_default_filter_interaction(spark):
    # TestValidation_CheckDefault (validating_test.go:61-77): with
    # CheckDefault=true the default goes THROUGH the filter chain
    # (default 'tom' + trim|upper → 'TOM'); with the reference default
    # (false) the raw default is committed unfiltered
    rules = RuleSet(
        rules={"name": "required|default:tom"},
        filters={"name": "trim|upper"},
        check_default=True,
    )
    df = spark.createDataFrame([("",), ("  bob ",)], "name string")
    safe = {r["name"] for r in validate(df, rules).safe_rows().collect()}
    assert safe == {"TOM", "BOB"}
    import dataclasses

    raw = dataclasses.replace(rules, check_default=False)
    safe = {r["name"] for r in validate(df, raw).safe_rows().collect()}
    assert safe == {"tom", "BOB"}


def test_nested_field_default(spark):
    # defaults apply to ANY addressable field (rule.go:195-197;
    # validating.go:229-246 SetByPath) — dotted paths included, and a
    # NULL parent struct is created to hold the default
    df = spark.createDataFrame(
        [(1, ("x", "NY")), (2, ("", "LA")), (3, None)],
        "id long, addr struct<street:string,city:string>",
    )
    rs = RuleSet(
        rules={"addr.street": "default:unknown|required|minLen:1"},
        check_default=True,
    )
    res = validate(df, rs, key_cols=["id"])
    assert all(r["pass"] for r in res.verdicts().collect())
    rows = {r["id"]: r["addr"] for r in res.safe_rows().collect()}
    assert rows[1]["street"] == "x" and rows[1]["city"] == "NY"
    assert rows[2]["street"] == "unknown" and rows[2]["city"] == "LA"
    assert rows[3]["street"] == "unknown" and rows[3]["city"] is None


def test_two_nested_defaults_same_struct_compose(spark):
    df = spark.createDataFrame(
        [(1, (None, None))],
        "id long, addr struct<street:string,city:string>",
    )
    rs = RuleSet(
        rules={"addr.street": "default:s0|required", "addr.city": "default:c0|required"}
    )
    row = validate(df, rs, key_cols=["id"]).safe_rows().collect()[0]
    assert row["addr"]["street"] == "s0" and row["addr"]["city"] == "c0"


def test_wildcard_default_raises_loudly(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, ["a"])], "id long, tags array<string>")
    with _pytest.raises(NotImplementedError, match="wildcard"):
        validate(df, RuleSet(rules={"tags.*": "default:x|required"}), key_cols=["id"])


def test_default_markers_hidden_from_safe_rows(spark):
    df = spark.createDataFrame([(None,)], "age string")
    res = validate(df, RuleSet(rules={"age": "default:18|required"}))
    assert res.safe_rows().columns == ["age"]


# --- scenes ---------------------------------------------------------------------

def test_scenes_subset(spark):
    df = spark.createDataFrame([("", "")], "name string, email string")
    rs = RuleSet(
        rules={"name": "required", "email": "required|email"},
        scenes={"create": ["name"], "update": ["email"]},
    )
    res_create = validate(df, rs, scene="create")
    assert viol_set(res_create) == {("name", "required")}
    res_update = validate(df, rs, scene="update")
    assert viol_set(res_update) == {("email", "required")}
    res_all = validate(df, rs)
    assert len(viol_set(res_all)) == 2


def test_scene_wildcard_entry(spark):
    # wildcard scene keys (#283, validation.go:906-943): the entry must
    # name the slice rule exactly in normalized form — "extra.*" has no
    # prefix semantics and selects neither leaf rule
    df = spark.createDataFrame(
        [([{"github": "", "status1": 1}],)],
        "extra array<struct<github:string,status1:int>>",
    )
    rs = RuleSet(
        rules={"extra.*.github": "required", "extra.*.status1": "required"},
        scenes={"s": ["extra.*.github"], "loose": ["extra.*"]},
    )
    res = validate(df, rs, scene="s")
    assert viol_set(res) == {("extra.*.github", "required")}
    res = validate(df, rs, scene="loose")
    assert viol_set(res) == set()


# --- StopOnError / first error ------------------------------------------------------

def test_stop_on_error_keeps_first_by_rule_order(spark):
    df = spark.createDataFrame([("", "bad")], "name string, email string")
    rs = RuleSet(rules={"name": "required|minLen:3", "email": "email"}, stop_on_error=True)
    res = validate(df, rs, key_cols=["name"])
    v = res.violations().collect()
    assert len(v) == 1
    assert (v[0]["field"], v[0]["validator"]) == ("name", "required")


def test_first_errors_without_stop(spark):
    df = spark.createDataFrame([("", "bad")], "name string, email string")
    rs = RuleSet(rules={"name": "required", "email": "email"})
    res = validate(df, rs, key_cols=["name"])
    fe = res.first_errors().collect()
    assert len(fe) == 1 and fe[0]["field"] == "name"


# --- wildcard slices ---------------------------------------------------------------

def test_wildcard_elements(spark):
    # TestValidate_map_subSlice_1dotStar analogue
    df = spark.createDataFrame(
        [
            ("d1", [{"kind": "text", "offset": 0}, {"kind": "image", "offset": 1}]),
            ("d2", [{"kind": "bogus", "offset": 0}]),
            ("d3", []),
        ],
        "doc_id string, spans array<struct<kind:string,offset:int>>",
    )
    rs = RuleSet(rules={"spans.*.kind": "in:text,image,audio,video"})
    res = validate(df, rs, key_cols=["doc_id"])
    rows = {r["doc_id"]: r["pass"] for r in res.verdicts().collect()}
    assert rows == {"d1": True, "d2": False, "d3": True}  # empty parent passes non-required


def test_wildcard_required_empty_parent_fails(spark):
    df = spark.createDataFrame(
        [("d1", []), ("d2", [{"kind": "text"}])],
        "doc_id string, spans array<struct<kind:string>>",
    )
    rs = RuleSet(rules={"spans.*.kind": "required"})
    res = validate(df, rs, key_cols=["doc_id"])
    rows = {r["doc_id"]: r["pass"] for r in res.verdicts().collect()}
    assert rows == {"d1": False, "d2": True}


def test_nested_struct_field(spark):
    # rc_nested fixture (regression_compat_test.go)
    df = spark.createDataFrame(
        [("a", ("city1", "zip123")), ("b", ("", "zp"))],
        "name string, addr struct<city:string,zip:string>",
    )
    rs = RuleSet(rules={"name": "required", "addr.city": "required", "addr.zip": "required|minLen:3"})
    res = validate(df, rs, key_cols=["name"])
    rows = {r["name"]: r["pass"] for r in res.verdicts().collect()}
    assert rows == {"a": True, "b": False}
    assert viol_set(res) == {("addr.city", "required"), ("addr.zip", "minLength")}


def test_multi_level_wildcard(spark):
    df = spark.createDataFrame(
        [("a", [[1, 2], [3]]), ("b", [[1, -2]])],
        "k string, m array<array<int>>",
    )
    rs = RuleSet(rules={"m.*.*": "min:0"})
    res = validate(df, rs, key_cols=["k"])
    rows = {r["k"]: r["pass"] for r in res.verdicts().collect()}
    assert rows == {"a": True, "b": False}


# --- safe rows / custom messages / labels ---------------------------------------------

def test_safe_rows_excludes_failing(spark):
    df = spark.createDataFrame([("ok-name", 5), ("", 7)], "name string, n int")
    res = validate(df, RuleSet(rules={"name": "required"}), key_cols=["name"])
    safe = res.safe_rows().collect()
    assert len(safe) == 1 and safe[0]["name"] == "ok-name"
    assert set(res.safe_rows().columns) == {"name", "n"}


def test_custom_message_and_label(spark):
    # validation_test.go:227-228: "User Name min length is 7"
    df = spark.createDataFrame([("ab",)], "name string")
    rs = RuleSet(
        rules={"name": "required|minLen:7"},
        messages={"name.minLength": "User Name min length is 7"},
    )
    res = validate(df, rs)
    msgs = {r["message"] for r in res.violations().collect()}
    assert msgs == {"User Name min length is 7"}


def test_label_substitution(spark):
    df = spark.createDataFrame([("",)], "name string")
    rs = RuleSet(rules={"name": "required"}, labels={"name": "User Name"})
    res = validate(df, rs)
    msgs = {r["message"] for r in res.violations().collect()}
    assert msgs == {"User Name is required to not be empty"}


# --- plan reuse / single-pass shape -------------------------------------------------

def test_plan_reuse_across_frames(spark):
    from validate_spark.plans.plan import compile_plan

    df1 = spark.createDataFrame([("a@b.co",)], "email string")
    df2 = spark.createDataFrame([("bad",)], "email string")
    rs = RuleSet(rules={"email": "required|email"})
    plan = compile_plan(rs, df1.schema)
    r1 = validate(df1, rs, plan=plan)
    r2 = validate(df2, rs, plan=plan)
    assert r1.verdicts().collect()[0]["pass"] is True
    assert r2.verdicts().collect()[0]["pass"] is False


def test_no_shuffle_in_validation_plan(spark):
    # the whole rule pass must be a single narrow projection — no Exchange
    df = spark.createDataFrame([("a", 1)], "name string, n int")
    rs = RuleSet(rules={"name": "required|minLen:2", "n": "min:0"})
    res = validate(df, rs)
    plan_str = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str


def test_err_show_value_appends_value(spark):
    # issue #184 (GlobalOption.ErrShowValue): opt-in appends the failing
    # value as " (value: %v)"; default off keeps messages byte-identical
    df = spark.createDataFrame([("a", 200), ("b", None)], "id string, age int")
    on = validate(
        df, RuleSet(rules={"age": "required|max:100"}, err_show_value=True),
        key_cols=["id"],
    )
    msgs = {r["id"]: r["message"] for r in on.violations().collect()}
    assert msgs["a"].endswith("(value: 200)")
    assert msgs["b"].endswith("(value: <nil>)")
    off = validate(df, RuleSet(rules={"age": "required|max:100"}), key_cols=["id"])
    off_msgs = {r["id"]: r["message"] for r in off.violations().collect()}
    assert "value:" not in off_msgs["a"] and "(value" not in off_msgs["b"]


def test_map_column_key_and_wildcard_rules(spark):
    # MapData parity: dotted key addresses a map entry; `.*` validates
    # every map VALUE (per-key rule expansion, struct_rules.go:456-491)
    df = spark.createDataFrame(
        [
            ("1", {"a": 5, "b": 7}),
            ("2", {"a": -1, "b": 3}),
            ("3", {"b": 1}),
        ],
        "id string, attrs map<string,int>",
    )
    res = validate(
        df,
        RuleSet(rules={"attrs.a": "required|min:0", "attrs.*": "min:0"}),
        key_cols=["id"],
    )
    viols = {(r["id"], r["field"], r["validator"]) for r in res.violations().collect()}
    assert viols == {
        ("2", "attrs.a", "min"),   # a = -1
        ("2", "attrs.*", "min"),   # some value < 0
        ("3", "attrs.a", "required"),  # key missing → null ≡ empty
    }


def test_multi_field_rule_key(spark):
    # one key binds several comma-separated fields (Rule.fields,
    # rule.go:56-60); same for filter chains
    df = spark.createDataFrame(
        [("1", " a ", " b ", None)], "id string, x string, y string, z string"
    )
    rs = RuleSet(rules={"x, y, z": "required"}, filters={"x, y": "trim|upper"})
    res = validate(df, rs, key_cols=["id"])
    viols = {(r["field"], r["validator"]) for r in res.violations().collect()}
    assert viols == {("z", "required")}
    # rule order: x, y, z expand in declaration order
    idxs = [(r.field, r.index) for r in res.plan.rules]
    assert idxs == [("x", 0), ("y", 1), ("z", 2)]


def test_violations_sample_deterministic_and_subset(spark):
    df = spark.createDataFrame([(str(i), -i) for i in range(200)], "id string, n long")
    res = validate(df, {"n": "required|min:0"}, key_cols=["id"])
    full = {r["id"] for r in res.violations().collect()}
    s1 = {r["id"] for r in res.violations_sample(0.3).collect()}
    s2 = {r["id"] for r in res.violations_sample(0.3).collect()}
    assert s1 == s2  # deterministic (hash-gated, not rand())
    assert s1 < full and len(s1) > 0
    assert abs(len(s1) / len(full) - 0.3) < 0.15
    # plan stays shuffle-free: sampling is a map-side filter
    plan = res.violations_sample(0.3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_rule_report_single_aggregate(spark):
    df = spark.createDataFrame(
        [("1", 5, "x"), ("2", -1, ""), ("3", None, "ok")],
        "id string, n long, s string",
    )
    res = validate(df, {"n": "required|min:0", "s": "required"}, key_cols=["id"])
    rep = {(r["field"], r["validator"]): (r["n_fail"], r["n_pass"]) for r in res.rule_report().collect()}
    assert rep == {
        ("n", "required"): (1, 2),
        ("n", "min"): (1, 2),       # -1 fails; NULL is skipped (passes)
        ("s", "required"): (1, 2),
    }
    # the DATA side is one aggregation (single exchange); the stack()
    # Generate runs on the 1-row aggregate output, not on the table
    plan = res.rule_report()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_write_routed_one_scan_two_sinks(spark, tmp_path):
    from validate_spark.operators.engine import write_routed

    df = spark.createDataFrame(
        [("1", 5), ("2", -1), ("3", None)], "id string, n long"
    )
    res = validate(df, {"n": "required|min:0"}, key_cols=["id"])
    out = str(tmp_path / "routed")
    write_routed(res, out)
    clean = spark.read.parquet(out).filter("verdict = true")
    quarantine = spark.read.parquet(out).filter("verdict = false")
    assert {r["id"] for r in clean.collect()} == {"1"}
    assert {r["id"] for r in quarantine.collect()} == {"2", "3"}
    # quarantined rows carry their violation structs for triage
    q2 = {r["id"]: r["_violations"] for r in quarantine.collect()}
    assert {v["validator"] for v in q2["2"]} == {"min"}
    assert {v["validator"] for v in q2["3"]} == {"required"}
    # clean rows have NULL detail (column exists, partition-uniform schema)
    assert all(r["_violations"] is None for r in clean.collect())


def test_plan_cache_and_registry_invalidation(spark):
    from validate_spark.operators.engine import _cached_plan, clear_plan_cache
    from validate_spark.functions.validators import register_validator

    clear_plan_cache()
    df = spark.createDataFrame([("a",)], "s string")
    rs = RuleSet(rules={"s": "required"})
    p1 = _cached_plan(rs, df.schema, None)
    p2 = _cached_plan(rs, df.schema, None)
    assert p1 is p2  # same compiled template reused (typeMeta cache parity)
    # different labels → different compiled messages → different entry
    rs_lab = RuleSet(rules={"s": "required"}, labels={"s": "S!"})
    assert _cached_plan(rs_lab, df.schema, None) is not p1
    # registering a validator bumps the registry version → invalidates
    register_validator("always_true_test")(lambda c, a, ctx: F.lit(True))
    p3 = _cached_plan(rs, df.schema, None)
    assert p3 is not p1


def test_validate_empty_dataframe(spark):
    df = spark.createDataFrame([], "id string, n long")
    res = validate(df, {"n": "required|min:0"}, key_cols=["id"])
    assert res.verdicts().count() == 0
    assert res.violations().count() == 0
    assert res.safe_rows().count() == 0
    rep = {(r["field"], r["validator"]): r["n_fail"] for r in res.rule_report().collect()}
    assert rep == {("n", "required"): 0, ("n", "min"): 0}


def test_optional_parent_skips_required_children(spark):
    # optional registers the field in v.optionals; required rules on
    # dotted descendants pass when the parent is empty
    # (rule.go:335-340; isInOptional, validation.go:880-904)
    df = spark.createDataFrame(
        [("1", {"city": "NY"}), ("2", None), ("3", {"city": None})],
        "id string, addr struct<city:string>",
    )
    rs = RuleSet(rules={"addr": "optional", "addr.city": "required"})
    res = validate(df, rs, key_cols=["id"])
    verd = {r["id"]: r["pass"] for r in res.verdicts().collect()}
    # 1: present+valid; 2: parent empty → child skipped; 3: parent
    # PRESENT but city missing → required still fails
    assert verd == {"1": True, "2": True, "3": False}
    # without optional, the empty parent fails the child's required
    rs2 = RuleSet(rules={"addr.city": "required"})
    verd2 = {r["id"]: r["pass"] for r in validate(df, rs2, key_cols=["id"]).verdicts().collect()}
    assert verd2 == {"1": True, "2": False, "3": False}


def test_rule_report_quoted_field_names(spark):
    # field names containing quotes are legal in rule keys (and arise
    # from form-derived struct paths); the report must not build SQL
    df = spark.createDataFrame([("1", "x")], "id string, `it's` string")
    res = validate(df, {"it's": "required"}, key_cols=["id"])
    rep = res.rule_report().collect()
    assert [(r["field"], r["n_fail"], r["n_pass"]) for r in rep] == [("it's", 0, 1)]


def test_rule_report_empty_input_reports_zero(spark):
    df = spark.createDataFrame([], "id string, n long")
    res = validate(df, {"n": "required"}, key_cols=["id"])
    rep = res.rule_report().collect()
    assert [(r["n_fail"], r["n_pass"]) for r in rep] == [(0, 0)]


def test_updated_rows_update_source_analogue(spark):
    # UpdateSource parity: EVERY row carries its filtered value, even
    # failing rows (the reference writes back during Filtering(), before
    # validation decides); safe_rows stays the passing subset
    df = spark.createDataFrame([("  ok  ",), ("  x  ",)], "name string")
    rs = RuleSet(rules={"name": "required|minLen:2"}, filters={"name": "trim"})
    res = validate(df, rs, key_cols=["name"])
    upd = {r["name"]: r["pass"] for r in res.updated_rows().collect()}
    assert upd == {"ok": True, "x": False}   # both rows trimmed
    assert [r["name"] for r in res.safe_rows().collect()] == ["ok"]


def test_crossfield_reference_to_missing_field(spark):
    # TryGet exist=false (data_source.go): a referenced field that does
    # not exist is simply absent — requiredIf on it never triggers,
    # eqField against it fails only when the value is non-empty; the
    # rule set must never abort with UNRESOLVED_COLUMN
    df = spark.createDataFrame([(None,), ("x",)], "s string")
    res = validate(df, {"s": "requiredIf:ghost,1"}, key_cols=["s"])
    assert all(r["pass"] for r in res.verdicts().collect())
    res2 = validate(df, {"s": "eqField:ghost"}, key_cols=["s"])
    verd = {r["s"]: r["pass"] for r in res2.verdicts().collect()}
    assert verd == {None: True, "x": False}  # empty skips; "x" != absent


def test_wildcard_fast_path_equals_forall(spark):
    # the native-array fast path (enum/min/max on arr.*.leaf) must agree
    # with the forall path on every row of a corpus seeding each skip /
    # violation class: NULL parents, empty arrays, NULL and '' leaves,
    # bad enum values, negative and NULL offsets
    import random as _random

    from validate_spark.plans import plan as planmod

    rng = _random.Random(31)
    kinds_pool = ["text", "image", "audio", "video", "hologram", "", None]
    rows = []
    for i in range(400):
        choice = rng.random()
        if choice < 0.1:
            spans = None
        elif choice < 0.2:
            spans = []
        else:
            spans = [
                (rng.choice(kinds_pool), rng.choice([None, -3, -1, 0, 1, 7]))
                for _ in range(rng.randint(1, 4))
            ]
        rows.append((str(i), spans))
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,offset:int>>"
    )
    rules = RuleSet(
        rules={
            "spans.*.kind": "required|enum:text,image,audio,video|notIn:hologram",
            "spans.*.offset": "required|min:0|max:5|gt:-2|lt:6|between:-1,5",
        }
    )
    fast = {r["doc_id"]: r["pass"] for r in validate(df, rules, key_cols=["doc_id"]).verdicts().collect()}
    planmod._DISABLE_WILDCARD_FAST_PATH = True
    try:
        from validate_spark.operators.engine import clear_plan_cache

        clear_plan_cache()
        slow = {r["doc_id"]: r["pass"] for r in validate(df, rules, key_cols=["doc_id"]).verdicts().collect()}
    finally:
        planmod._DISABLE_WILDCARD_FAST_PATH = False
        clear_plan_cache()
    assert fast == slow
    # sanity: the corpus actually exercises both outcomes
    assert True in fast.values() and False in fast.values()


def test_wildcard_fast_path_requires_exact_shape(spark):
    # required-family, multi-level paths and custom overlays must stay
    # on the forall path — semantics first
    df = spark.createDataFrame(
        [("1", [("text", 1)])],
        "doc_id string, spans array<struct<kind:string,offset:int>>",
    )
    # required leaf: still validated correctly (falls back)
    res = validate(df, {"spans.*.kind": "required|enum:text"}, key_cols=["doc_id"])
    assert res.verdicts().collect()[0]["pass"]
    df2 = spark.createDataFrame([("1", [])], "doc_id string, spans array<struct<kind:string>>")
    res2 = validate(df2, {"spans.*.kind": "required"}, key_cols=["doc_id"])
    assert res2.verdicts().collect()[0]["pass"] is False  # required over empty slice fails


def test_wildcard_fast_path_element_and_map_forms(spark):
    # `arr.*` over atomic elements and `m.*` over map values take the
    # native path with identical semantics to the forall path
    import random as _random

    from validate_spark.operators.engine import clear_plan_cache
    from validate_spark.plans import plan as planmod

    rng = _random.Random(41)
    pool = ["a", "b", "c", "zz", "", None]
    rows = []
    for i in range(200):
        arr = None if rng.random() < 0.1 else [rng.choice(pool) for _ in range(rng.randint(0, 3))]
        m = None if rng.random() < 0.1 else {f"k{j}": rng.choice(pool) for j in range(rng.randint(0, 3))}
        rows.append((str(i), arr, m))
    df = spark.createDataFrame(rows, "id string, tags array<string>, m map<string,string>")
    rules = RuleSet(rules={"tags.*": "in:a,b,c", "m.*": "in:a,b,c"})
    fast = {r["id"]: r["pass"] for r in validate(df, rules, key_cols=["id"]).verdicts().collect()}
    planmod._DISABLE_WILDCARD_FAST_PATH = True
    try:
        clear_plan_cache()
        slow = {r["id"]: r["pass"] for r in validate(df, rules, key_cols=["id"]).verdicts().collect()}
    finally:
        planmod._DISABLE_WILDCARD_FAST_PATH = False
        clear_plan_cache()
    assert fast == slow
    assert True in fast.values() and False in fast.values()


def test_wildcard_element_filter_changes_leaf_dtype(spark):
    """A type-changing ELEMENT filter chain (filters={'tags.*':'float'})
    must flow into the wildcard rule's leaf dtype on BOTH compile paths
    (chain_output_dtype rule): with the raw schema dtype the skip gate
    compares the now-double element to '' — the documented ANSI abort —
    and min/max dispatch on the stale string type."""
    from validate_spark.plans import plan as planmod

    df = spark.createDataFrame(
        [
            ("a", ["1.5", "2.0"]),     # all >= 1 → pass
            ("b", ["1.5", "0.2"]),     # 0.2 < 1 → fail
            ("c", ["", None, "3.0"]),  # ''/None → NULL post-cast → skip
            ("d", None),               # empty parent skips (non-required)
        ],
        "k string, tags array<string>",
    )
    rs = RuleSet(rules={"tags.*": "min:1"}, filters={"tags.*": "float"})
    expected = {"a": True, "b": False, "c": True, "d": True}

    res = validate(df, rs, key_cols=["k"])
    got = {r["k"]: r["pass"] for r in res.verdicts().collect()}
    assert got == expected

    # forall path must agree (fast path disabled)
    planmod._DISABLE_WILDCARD_FAST_PATH = True
    try:
        from validate_spark.operators.engine import clear_plan_cache

        clear_plan_cache()
        res2 = validate(df, rs, key_cols=["k"])
        got2 = {r["k"]: r["pass"] for r in res2.verdicts().collect()}
        assert got2 == expected
    finally:
        planmod._DISABLE_WILDCARD_FAST_PATH = False
        clear_plan_cache()


def test_cross_field_ref_to_missing_nested_field(spark):
    """requiredIf:a.ghost,1 where root `a` exists but `ghost` doesn't:
    the reference's TryGet resolves it as absent (≡ empty, never
    triggers) — the engine must not abort analysis with
    UNRESOLVED_FIELD (the nested analogue of the missing-root rule)."""
    df = spark.createDataFrame(
        [("x", (1, "u"))],
        "k string, a struct<id:int, name:string>",
    )
    res = validate(
        df,
        RuleSet(rules={"k": "requiredIf:a.ghost,1"}),
        key_cols=["k"],
    )
    got = {r["k"]: r["pass"] for r in res.verdicts().collect()}
    assert got == {"x": True}


def test_observed_counters_free_with_the_action(spark):
    """observe() delivers (rows, pass, violations) from the CALLER's
    action — no second scan; numbers match the explicit aggregates."""
    import validate_spark as vs
    from validate_spark.operators.engine import observed_counters

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, ""), (3, "xy")],
        "doc_id long, text string",
    )
    res = vs.validate(
        docs, vs.RuleSet(rules={"text": "required|minLen:3"}),
        key_cols=["doc_id"],
    )
    df, obs = observed_counters(res.annotated)
    n_written = df.count()  # the caller's own action
    got = obs.get
    assert n_written == 3
    assert got["n_rows"] == 3
    assert got["n_pass"] == 1       # only doc 1 passes both rules
    assert got["n_violations"] >= 2  # '' fails required(+minLen), xy fails minLen
    ref = res.annotated.agg(
        F.sum(F.col("_vs_pass").cast("long")).alias("p"),
        F.sum(F.size("_vs_failed").cast("long")).alias("v"),
    ).collect()[0]
    assert got["n_pass"] == ref["p"] and got["n_violations"] == ref["v"]


def test_coviolation_matrix_row_local_pairs(spark):
    from validate_spark import RuleSet, validate

    rs = RuleSet(rules={
        "a": "required|min:10",
        "b": "required",
        "c": "min:5",
    })
    df = spark.createDataFrame(
        [
            (1, None, None, 3),   # a:required + b:required + c:min
            (2, 5, "x", 9),       # a:min only (no pair)
            (3, 4, None, 2),      # a:min + b:required + c:min
            (4, 50, "y", 8),      # clean
        ],
        "rid long, a int, b string, c int",
    )
    out = {(r["rule_a"], r["rule_b"]): r["n_rows"]
           for r in validate(df, rs, key_cols=["rid"]).coviolation_matrix().collect()}
    assert out == {
        ("a:required", "b:required"): 1,
        ("a:required", "c:min"): 1,
        ("b:required", "c:min"): 2,
        ("a:min", "b:required"): 1,
        ("a:min", "c:min"): 1,
    }


def test_rule_impact_sole_violations(spark):
    """n_rows / n_sole / sole_ppm against a hand model; zero-fire
    rules absent; sole_ppm is truncating integer div."""
    from validate_spark import RuleSet, validate

    rs = RuleSet(rules={
        "a": "required|min:10",
        "b": "required",
        "c": "min:5",
    })
    df = spark.createDataFrame(
        [
            (1, None, None, 3),   # a:required + b:required + c:min
            (2, 5, "x", 9),       # a:min SOLE
            (3, 4, None, 2),      # a:min + b:required + c:min
            (4, 50, "y", 8),      # clean
            (5, 3, "z", 7),       # a:min SOLE
        ],
        "rid long, a int, b string, c int",
    )
    out = {
        r["rule"]: (r["n_rows"], r["n_sole"], r["sole_ppm"])
        for r in validate(df, rs, key_cols=["rid"]).rule_impact().collect()
    }
    assert out == {
        "a:required": (1, 0, 0),
        "a:min": (3, 2, 666666),  # 2000000 div 3 truncates
        "b:required": (2, 0, 0),
        "c:min": (2, 0, 0),
    }


# --- py4j round trips / plan-memoized columns ---------------------------------------

def _hit_round_trips(df, rs, monkeypatch) -> int:
    """py4j round trips this thread makes in validate() + violations()
    on a plan-cache hit whose plan has already built its memoized
    columns. py4j's finalizer thread sends the deletes of collected
    JavaObjects whenever it runs; those are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    validate(df, rs, key_cols=["k"]).violations()  # compile + memoize
    me = threading.current_thread()
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        n[0] += threading.current_thread() is me
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        validate(df, rs, key_cols=["k"]).violations()
    return n[0]


def test_cache_hit_round_trips_independent_of_rule_count(spark, monkeypatch):
    df = spark.createDataFrame(
        [(1, "ab", "cd", "", "x", "yz")],
        "k long, a string, b string, c string, d string, e string",
    )
    five = RuleSet(rules={"a": "required|minLen:1", "b": "required|maxLen:9", "c": "required"})
    per_col = "required|minLen:1|maxLen:9|isAlpha"
    twenty = RuleSet(rules={c: per_col for c in "abcde"})
    assert len(validate(df, five).plan.rules) == 5
    assert len(validate(df, twenty).plan.rules) == 20
    n5 = _hit_round_trips(df, five, monkeypatch)
    n20 = _hit_round_trips(df, twenty, monkeypatch)
    assert n5 == n20
    # call-site capture off and nothing rebuilt: a few dozen, not the
    # ~800 a 5-rule request made with both
    assert n5 < 200


def test_memoized_plan_serves_other_frames(spark):
    """One plan whose columns were memoized on a first frame gives a
    second frame of the same schema its own answers — with and without
    stop-on-error, one after the other on the same plan."""
    from validate_spark.plans.plan import compile_plan

    schema = "k long, name string, n long"
    df1 = spark.createDataFrame([(1, "", 5), (2, "bob", -3)], schema)
    df2 = spark.createDataFrame(
        [(7, "al", None), (8, "", -1), (9, "carol", 40)], schema
    )
    rules = {"name": "required|minLen:3", "n": "required|min:0|max:30"}
    shared = compile_plan(RuleSet(rules=rules), df1.schema)
    report = {
        (f, v): (1, 2)
        for f, v in [("name", "required"), ("name", "minLength"),
                     ("n", "required"), ("n", "min"), ("n", "max")]
    }
    every = {(7, "name", "minLength", 1), (7, "n", "required", 2),
             (8, "name", "required", 0), (8, "n", "min", 3), (9, "n", "max", 4)}
    first = {(7, "name", "minLength", 1), (8, "name", "required", 0),
             (9, "n", "max", 4)}
    for stop, viol, n_viol in ((False, every, (2, 2, 1)), (True, first, (1, 1, 1))):
        rs = RuleSet(rules=rules, stop_on_error=stop)
        warm = validate(df1, rs, key_cols=["k"], plan=shared)
        warm.violations(), warm.verdicts(), warm.rule_report()  # memoize
        res = validate(df2, rs, key_cols=["k"], plan=shared)
        got = {
            (r["k"], r["field"], r["validator"], r["rule_idx"])
            for r in res.violations().collect()
        }
        assert got == viol
        assert sorted(tuple(r) for r in res.verdicts().collect()) == [
            (k, False, n) for k, n in zip((7, 8, 9), n_viol)
        ]
        assert {
            (r["field"], r["validator"]): (r["n_fail"], r["n_pass"])
            for r in res.rule_report().collect()
        } == report


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
