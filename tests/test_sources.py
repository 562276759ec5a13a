"""Form / URL-values source tests (FromURLValues, validate.go:471-490;
bracket-key normalization #324, util.go:200-221) and locale message
maps (locales/zhcn/zhcn.go)."""

import os

from pyspark.sql import Row

from validate_spark.plans.messages import LOCALES, register_locale, render_message
from validate_spark.plans.plan import RuleSet
from validate_spark.sources.formsrc import (
    from_url_values,
    normalize_form_key,
    parse_query_column,
    validate_form,
)
from validate_spark.operators.engine import validate


def test_normalize_form_key():
    # util.go:212-221: brackets → dots, [] kept verbatim
    assert normalize_form_key("address[street]") == "address.street"
    assert normalize_form_key("addr[street][no]") == "addr.street.no"
    assert normalize_form_key("tags[]") == "tags[]"
    assert normalize_form_key("plain") == "plain"


def test_issue_324_bracket_form_keys(spark):
    # TestIssue_324_v2 (issues_x2_test.go:639-695): bracket AND dot
    # notation both bind nested fields addressable by dotted rules.
    for street_key in ("address[street]", "address.street"):
        df = from_url_values(
            spark,
            {"name": "John", street_key: "Main St", "address[city]": "New York"},
        )
        res = validate(
            df,
            {
                "name": "required",
                "address.street": "required",
                "address.city": "required",
            },
            key_cols=["name"],
        )
        assert res.verdicts().collect()[0]["pass"] is True


def test_issue_324_multi_level_bracket(spark):
    df = from_url_values(spark, {"addr[street][no]": "12"})
    res = validate(df, {"addr.street.no": "required|intStr"}, key_cols=["addr"])
    assert res.violations().count() == 0
    assert df.select("addr.street.no").collect()[0][0] == "12"


def test_from_url_values_first_value_wins(spark):
    # FormData.Get returns vs[0] (data_source.go:657-705)
    df = from_url_values(spark, {"tag": ["a", "b"]})
    assert df.collect()[0]["tag"] == "a"


def test_parse_query_column_vectorized(spark):
    df = spark.createDataFrame(
        [
            Row(qid=1, q="name=John&address%5Bstreet%5D=Main+St&age=31"),
            Row(qid=2, q="name=&age=notnum"),
        ]
    )
    parsed = parse_query_column(df, "q", ["name", "address.street", "age"])
    rows = {r["qid"]: r["_form"] for r in parsed.collect()}
    assert rows[1]["name"] == "John"
    assert rows[1]["address"]["street"] == "Main St"  # %5B %5D + '+' decoded
    assert rows[2]["address"]["street"] is None  # missing key → NULL ≡ empty
    # plan stays Python-free: no BatchEvalPython / ArrowEval in the plan
    plan_str = parsed._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan_str


def test_validate_form_end_to_end(spark):
    df = spark.createDataFrame(
        [
            Row(qid=1, q="name=John&age=31"),
            Row(qid=2, q="name=&age=200"),
        ]
    )
    res = validate_form(
        df,
        "q",
        RuleSet(
            rules={"name": "required", "age": "required|intStr"},
            filters={"age": "trim"},
        ),
        key_cols=["qid"],
    )
    verd = {r["qid"]: r["pass"] for r in res.verdicts().collect()}
    assert verd == {1: True, 2: False}
    viols = {(r["qid"], r["field"]) for r in res.violations().collect()}
    assert (2, "_form.name") in viols


def test_zh_cn_locale_messages(spark):
    assert "zh-CN" in LOCALES
    # alias keys were normalized: "date" entry also reachable as isDate
    assert LOCALES["zh-CN"]["isDate"] == LOCALES["zh-CN"]["date"]
    msg = render_message("required", "name", (), locale="zh-CN")
    assert msg == "name 是必填项"
    # verb fill still works through locale templates
    msg = render_message("min", "age", ("3",), locale="zh-CN")
    assert msg == "age 的最小值是 3"
    # custom beats locale (resolution order, messages.go:458-588)
    msg = render_message("required", "name", (), custom="nope", locale="zh-CN")
    assert msg == "nope"
    # unknown-in-locale falls back to builtin English
    msg = render_message("isEmail", "mail", (), locale="zh-CN")
    assert msg == "mail不是合法邮箱"


def test_locale_flows_through_ruleset(spark):
    df = spark.createDataFrame([Row(doc_id="", n=1)])
    res = validate(
        df,
        RuleSet(rules={"doc_id": "required"}, locale="zh-CN"),
        key_cols=["n"],
    )
    msgs = [r["message"] for r in res.violations().collect()]
    assert msgs == ["doc_id 是必填项"]


def test_register_custom_locale(spark):
    register_locale("xx-TEST", {"required": "{field} MISSING!!"})
    assert render_message("required", "f", (), locale="xx-TEST") == "f MISSING!!"
    LOCALES.pop("xx-TEST")


def test_malformed_percent_escape_does_not_kill_job(spark):
    # one bad %-escape in a trillion-row form log must become NULL ≡
    # empty (required violation), never an ANSI runtime error
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(qid=1, q="name=ok"),
            Row(qid=2, q="name=%zzbad"),      # malformed escape in VALUE
            Row(qid=3, q="na%zzme=x"),        # malformed escape in KEY
        ]
    )
    res = validate_form(df, "q", {"name": "required"}, key_cols=["qid"])
    verd = {r["qid"]: r["pass"] for r in res.verdicts().collect()}
    assert verd == {1: True, 2: False, 3: False}


def test_duplicate_query_keys_first_wins_no_crash(spark):
    # 'tag=a&tag=b' killed the job under mapKeyDedupPolicy=EXCEPTION
    # when parsing built a map; the entries-array lookup keeps the FIRST
    # occurrence — exact FormData.Get parity (data_source.go:657-705)
    df = spark.createDataFrame(
        [
            Row(qid=1, q="tag=a&tag=b&tag=c"),
            # raw keys that collide only AFTER bracket normalization
            Row(qid=2, q="a%5Bb%5D=x&a.b=y"),
            Row(qid=3, q="k=only"),
        ]
    )
    parsed = parse_query_column(df, "q", ["tag", "a.b", "k"])
    rows = {r["qid"]: r["_form"] for r in parsed.collect()}
    assert rows[1]["tag"] == "a"
    assert rows[2]["a"]["b"] == "x"
    assert rows[3]["k"] == "only"
    # value containing '=' splits at the FIRST '=' (strings.Cut parity)
    df2 = spark.createDataFrame([Row(qid=1, q="expr=a=b")])
    assert parse_query_column(df2, "q", ["expr"]).collect()[0]["_form"]["expr"] == "a=b"


def test_comma_multi_field_keys_through_validate_form(spark):
    # a rule key may bind MULTIPLE comma-separated fields (rule.go:15-60);
    # prefixing must expand per segment, not produce '_form.a,b'
    df = spark.createDataFrame(
        [
            Row(qid=1, q="first=John&last=Smith"),
            Row(qid=2, q="first=&last=Smith"),
        ]
    )
    res = validate_form(df, "q", {"first,last": "required"}, key_cols=["qid"])
    verd = {r["qid"]: r["pass"] for r in res.verdicts().collect()}
    assert verd == {1: True, 2: False}
    viols = {(r["qid"], r["field"]) for r in res.violations().collect()}
    assert viols == {(2, "_form.first")}


def test_comma_multi_field_keys_through_validate_json(spark):
    from validate_spark.sources.jsonsrc import validate_json

    df = spark.createDataFrame(
        [
            Row(qid=1, j='{"a": "x", "b": "y"}'),
            Row(qid=2, j='{"a": "", "b": "y"}'),
        ]
    )
    res = validate_json(
        df, "j", "a string, b string", {"a,b": "required"}, key_cols=["qid"]
    )
    verd = {r["qid"]: r["pass"] for r in res.verdicts().collect()}
    assert verd == {1: True, 2: False}


def test_field_scoped_messages_survive_form_prefixing(spark):
    # messages keyed 'field.validator' must be rebased with the rules;
    # validator-only keys pass through unchanged
    df = spark.createDataFrame([Row(qid=1, q="name=&age=")])
    res = validate_form(
        df,
        "q",
        RuleSet(
            rules={"name": "required", "age": "required"},
            messages={"name.required": "NAME GONE", "required": "GENERIC GONE"},
        ),
        key_cols=["qid"],
    )
    msgs = {r["field"]: r["message"] for r in res.violations().collect()}
    assert msgs["_form.name"] == "NAME GONE"
    assert msgs["_form.age"] == "GENERIC GONE"


def test_scene_fields_survive_form_prefixing(spark):
    df = spark.createDataFrame([Row(qid=1, q="name=&age=")])
    rs = RuleSet(
        rules={"name": "required", "age": "required"},
        scenes={"create": ["name"]},
    )
    from validate_spark.operators.engine import validate as _v
    from validate_spark.sources.formsrc import parse_query_column as _p

    parsed = _p(df, "q", ["name", "age"])
    res = _v(parsed, rs.prefixed("_form."), key_cols=["qid"], scene="create")
    viols = {r["field"] for r in res.violations().collect()}
    assert viols == {"_form.name"}  # age is out of scene


def test_ru_ru_and_zh_tw_locales(spark):
    # locales/ruru/ruru.go + locales/zhtw/zhtw.go builtin maps
    assert "ru-RU" in LOCALES and "zh-TW" in LOCALES
    assert render_message("required", "name", (), locale="ru-RU") == (
        "name не может быть пустым"
    )
    assert render_message("min", "age", ("3",), locale="ru-RU") == (
        "Минимальное значение age равно 3"
    )
    assert render_message("required", "name", (), locale="zh-TW") == "name 是必填項"
    # alias keys normalized on registration (date ↔ isDate)
    assert LOCALES["ru-RU"]["isDate"] == LOCALES["ru-RU"]["date"]
    # flows through a rule set end-to-end
    from pyspark.sql import Row as _Row

    df = spark.createDataFrame([_Row(doc_id="", n=1)])
    res = validate(
        df, RuleSet(rules={"doc_id": "required"}, locale="ru-RU"), key_cols=["n"]
    )
    assert [r["message"] for r in res.violations().collect()] == [
        "doc_id не может быть пустым"
    ]


# --- FromRequest parity: request-log dispatch (validate.go:410-465) ---------

def test_request_log_dispatch(spark):
    from validate_spark.sources.requestsrc import validate_request_log

    df = spark.createDataFrame(
        [
            (1, "GET", None, "name=John&age=31", None),
            (2, "POST", "application/json", "", '{"name": "Jane", "age": 25}'),
            (3, "POST", "application/x-www-form-urlencoded", "", "name=Joe&age=nope"),
            (4, "POST", "application/json", "", "{not json"),
            (5, "GET", None, "age=44", None),  # name missing
        ],
        "rid int, method string, content_type string, query string, body string",
    )
    res = validate_request_log(
        df, {"name": "required", "age": "required|intStr"}, key_cols=["rid"]
    )
    verd = {r["rid"]: r["pass"] for r in res.verdicts().collect()}
    assert verd == {1: True, 2: True, 3: False, 4: False, 5: False}
    viols = {(r["rid"], r["field"], r["validator"]) for r in res.violations().collect()}
    assert (3, "_req.age", "isIntString") in viols
    assert (4, "_req.name", "required") in viols   # malformed JSON ≡ empty
    assert (5, "_req.name", "required") in viols
    # plan stays Python-free
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_request_log_json_nested_and_form_brackets(spark):
    from validate_spark.sources.requestsrc import validate_request_log

    df = spark.createDataFrame(
        [
            (1, "POST", "application/json", "", '{"addr": {"city": "NY"}}'),
            (2, "POST", "application/x-www-form-urlencoded", "", "addr%5Bcity%5D=LA"),
            (3, "GET", None, "addr.city=SF", None),
        ],
        "rid int, method string, content_type string, query string, body string",
    )
    res = validate_request_log(df, {"addr.city": "required|enum:NY,LA,SF"}, key_cols=["rid"])
    assert all(r["pass"] for r in res.verdicts().collect())


def test_scene_param_on_source_helpers(spark):
    df = spark.createDataFrame([Row(qid=1, q="name=&age=")])
    rs = RuleSet(
        rules={"name": "required", "age": "required"},
        scenes={"create": ["name"]},
    )
    res = validate_form(df, "q", rs, key_cols=["qid"], scene="create")
    assert {r["field"] for r in res.violations().collect()} == {"_form.name"}


def test_request_log_all_null_columns(spark):
    # a fully NULL request row (no method/ct/query/body) must validate
    # as missing fields, never abort
    from validate_spark.sources.requestsrc import validate_request_log

    df = spark.createDataFrame(
        [(1, None, None, None, None)],
        "rid int, method string, content_type string, query string, body string",
    )
    res = validate_request_log(df, {"name": "required"}, key_cols=["rid"])
    assert res.verdicts().collect()[0]["pass"] is False


def test_csv_permissive_quarantine(spark, tmp_path):
    from validate_spark.sources.csvsrc import (
        quarantine_split,
        read_csv_validated,
    )

    p = tmp_path / "f.csv"
    p.write_text(
        "1,en,100\n"
        "2,de,abc\n"      # bad int -> field NULL, others parsed, corrupt
        "3,fr,300,999\n"  # extra token -> all parsed, corrupt
        "4,zh\n"          # missing token -> NULL, corrupt
        "5,es,500\n"
    )
    df = read_csv_validated(
        spark, str(p), "doc_id long, lang string, n_chars long"
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    assert not rows[1]["is_corrupt"] and rows[1]["n_chars"] == 100
    # pinned PERMISSIVE semantics (module docstring)
    assert rows[2]["is_corrupt"] and rows[2]["n_chars"] is None
    assert rows[2]["lang"] == "de" and rows[2]["_corrupt_record"] == "2,de,abc"
    assert rows[3]["is_corrupt"] and rows[3]["n_chars"] == 300
    assert rows[4]["is_corrupt"] and rows[4]["n_chars"] is None
    good, bad = quarantine_split(df)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 5]
    assert "_corrupt_record" not in good.columns
    # NB not bad.count(): a corrupt-column-only pruned scan is
    # disallowed by Spark (SPARK-21610; csvsrc docstring)
    assert sorted(r["doc_id"] for r in bad.collect()) == [2, 3, 4]
    import pytest as _pt

    with _pt.raises(Exception, match="corrupt"):
        bad.count()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """The co-located join contract: both sides bucketed+sorted on the
    join key -> the join plans with ZERO Exchange and zero explicit
    Sort (bucket files are key-ordered); results identical to the
    plain join."""
    import uuid

    from pyspark.sql import functions as F

    from validate_spark.sources.bucketed import (
        bucketed_join, drop_bucketed, write_bucketed,
    )

    sfx = uuid.uuid4().hex[:8]
    lt, rt = f"t_bj_l_{sfx}", f"t_bj_r_{sfx}"
    left = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # pin sort-merge: a broadcast join would sidestep the layout
        # (and the planner disables bucketing for it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(left, lt, key="k", n_buckets=4)
        write_bucketed(right, rt, key="k", n_buckets=4)
        j = bucketed_join(spark, lt, rt, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        agg = j.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("w").alias("sw")
        ).collect()[0]
        assert agg["n"] == 1000
        expected = left.join(right, "k").agg(F.sum("w")).collect()[0][0]
        assert agg["sw"] == expected
        # groupBy on the bucket key ALSO rides the layout: no Exchange
        g = spark.table(lt).groupBy("k").count()
        gplan = g._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in gplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        drop_bucketed(spark, lt, rt)


def test_evolved_read_nullfills_and_profiles(spark, tmp_path):
    from pyspark.sql import functions as F

    from validate_spark.sources.csvsrc import (
        evolution_profile, read_evolved_parquet,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], "id long, s string, old int"
    ).write.parquet(a)
    spark.createDataFrame(
        [(3, "z", 1.5)], "id long, s string, fresh double"
    ).write.parquet(b)
    df = read_evolved_parquet(spark, [a, b])
    assert set(df.columns) == {"id", "s", "old", "fresh"}
    rows = {r["column"]: r for r in evolution_profile(df).collect()}
    assert rows["old"]["n_nonnull"] == 2 and rows["old"]["n_null"] == 1
    assert rows["fresh"]["n_nonnull"] == 1 and rows["fresh"]["n_null"] == 2
    assert all(r["n_rows"] == 3 for r in rows.values())


def test_partitioned_write_prunes_at_listing(spark, tmp_path):
    """A filter on the partition column lands in PartitionFilters
    (listing-time pruning) and the scan's file selection shrinks; the
    result is identical to the unpartitioned filter."""
    from pyspark.sql import functions as F

    from validate_spark.sources.bucketed import (
        read_partitioned, write_partitioned,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 10).cast("string").alias("shard")
    )
    lake = str(tmp_path / "lake")
    write_partitioned(df, lake, partition_cols=["shard"])
    got = read_partitioned(spark, lake).filter(F.col("shard") == "3")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # partition predicate must NOT degrade to a row-level pushed filter
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "shard" not in pushed
    assert got.count() == 100
    assert [r["id"] % 10 for r in got.collect()] == [3] * 100


def test_python_datasource_partitions_and_determinism(spark):
    """Custom Python DataSource: planned range partitions drive task
    parallelism (generation executor-side), rows are deterministic
    across reads, and options shape the output."""
    from pyspark.sql import functions as F

    from validate_spark.sources.pysource import SyntheticDocsSource, synth_row

    try:
        spark.dataSource.register(SyntheticDocsSource)
    except Exception:
        pass
    df = (spark.read.format("vs_synth_docs")
          .option("n", "1000").option("seed", "42")
          .option("n_partitions", "5").load())
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000
    # executor rows == the pure-python generator (same md5 math)
    got = {r["id"]: (r["cat"], r["value"], r["text"])
           for r in df.filter(F.col("id") < 5).collect()}
    for i in range(5):
        _, cat, val, text = synth_row(42, i)
        assert got[i] == (cat, val, text)
    # two reads agree (no hidden nondeterminism)
    a = df.agg(F.sum("value")).collect()[0][0]
    b = (spark.read.format("vs_synth_docs")
         .option("n", "1000").option("seed", "42")
         .option("n_partitions", "5").load()
         .agg(F.sum("value")).collect()[0][0])
    assert a == b


def test_python_stream_source_offsets_and_replay():
    """Offset progression + failure replay of the streaming reader,
    exercised directly (the query path runs single-batch under
    availableNow): chunked reads tile the range exactly once, and
    readBetweenOffsets regenerates a checkpointed batch bit-for-bit."""
    from validate_spark.sources.pysource import _SynthStreamReader, synth_row

    r = _SynthStreamReader({"n": "10", "seed": "42", "chunk": "4"})
    off = r.initialOffset()
    seen = []
    offs = [off]
    for _ in range(4):
        rows, off = r.read(off)
        seen.extend(rows)
        offs.append(off)
    assert [s[0] for s in seen] == list(range(10))  # tiles exactly, then empty
    assert offs[-1] == {"i": 10} and offs[-2] == {"i": 10}
    assert seen[3] == synth_row(42, 3)
    # replay of the checkpointed second batch regenerates identically
    replay = list(r.readBetweenOffsets(offs[1], offs[2]))
    assert replay == seen[4:8]


def test_variant_fields_typed_probes(spark):
    from pyspark.sql import functions as F

    from validate_spark.sources.jsonsrc import variant_fields

    df = spark.createDataFrame(
        [(1, '{"a": {"b": 3}, "t": ["x"], "s": "hi"}'),
         (2, "not json"),
         (3, '{"a": {}}')],
        "id long, payload string",
    )
    rows = {r["id"]: r for r in variant_fields(
        df, "payload",
        {"ab": ("$.a.b", "long"), "s": ("$.s", "string"),
         "t0": ("$.t[0]", "string"), "s_as_long": ("$.s", "long")},
        keep=["id"],
    ).collect()}
    assert rows[1]["json_valid"] and rows[1]["ab"] == 3
    assert rows[1]["s"] == "hi" and rows[1]["t0"] == "x"
    assert rows[1]["s_as_long"] is None        # mistyped probe -> NULL
    assert rows[2]["json_valid"] is False      # malformed -> flagged
    assert rows[2]["ab"] is None
    assert rows[3]["json_valid"] and rows[3]["ab"] is None  # missing path


def _read_table_jobs(spark, path, *, expect_jobs: bool):
    """read_table(path) and whether the read itself ran a Spark job
    (the parquet schema-inference job). Job registration reaches the
    status tracker asynchronously, so a read expected to run one
    waits for it."""
    import time
    import uuid

    from validate_spark.sources.tables import read_table

    sc = spark.sparkContext
    group = f"read_table_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_table")
    try:
        df = read_table(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + (10 if expect_jobs else 0)
    while True:
        ran = bool(sc.statusTracker().getJobIdsForGroup(group))
        if ran or time.monotonic() >= deadline:
            return df, ran
        time.sleep(0.05)


def test_read_table_memoizes_parquet_schema(spark, tmp_path):
    """The second read of an unchanged parquet path skips the
    inference job and returns the same frame; an overwrite with a
    different schema and an added file are both picked up."""
    from validate_spark.sources.tables import read_table

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(path)
    first, ran = _read_table_jobs(spark, path, expect_jobs=True)
    assert ran
    again, ran = _read_table_jobs(spark, path, expect_jobs=False)
    assert not ran
    assert again.schema == first.schema and again.collect() == first.collect()

    spark.createDataFrame([(2.5, True)], "x double, flag boolean").write.mode(
        "overwrite"
    ).parquet(path)
    over = read_table(spark, path)
    assert over.columns == ["x", "flag"]
    assert [tuple(r) for r in over.collect()] == [(2.5, True)]

    # under mergeSchema an added file's new column shows only if the
    # schema is inferred again
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert read_table(spark, path).columns == ["x", "flag"]
        spark.createDataFrame(
            [(3.0, False, "new")], "x double, flag boolean, extra string"
        ).write.mode("append").parquet(path)
        added = read_table(spark, path)
        assert added.columns == ["x", "flag", "extra"]
        assert sorted(tuple(r) for r in added.collect()) == [
            (2.5, True, None), (3.0, False, "new")
        ]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_table_memo_partitions_and_symlinks(spark, tmp_path):
    """A memoized read of a partitioned directory keeps its partition
    column; a URI with a scheme and a tree with a symlinked partition
    keep the plain read."""
    from validate_spark.sources.tables import read_table

    routed = str(tmp_path / "routed")
    spark.createDataFrame(
        [(1, True), (2, False)], "id long, verdict boolean"
    ).write.partitionBy("verdict").parquet(routed)
    inferred = read_table(spark, routed)
    memoized, ran = _read_table_jobs(spark, routed, expect_jobs=False)
    assert not ran
    assert memoized.schema == inferred.schema
    assert memoized.columns == ["id", "verdict"]
    # partition inference types true/false as strings, both times
    assert sorted(tuple(r) for r in memoized.collect()) == [(1, "true"), (2, "false")]
    # a URI with a scheme keeps the plain read
    assert read_table(spark, "file://" + routed).count() == 2

    # Spark reads the files under a symlinked partition, so an
    # overwrite behind the link must show
    target = str(tmp_path / "elsewhere")
    spark.createDataFrame([(1,)], "id long").write.parquet(target)
    linked = tmp_path / "linked"
    linked.mkdir()
    os.symlink(target, str(linked / "p=1"))
    assert read_table(spark, str(linked)).columns == ["id", "p"]
    spark.createDataFrame([(2, "x")], "id long, extra string").write.mode(
        "overwrite"
    ).parquet(target)
    relinked = read_table(spark, str(linked))
    assert relinked.columns == ["id", "extra", "p"]
    assert [tuple(r) for r in relinked.collect()] == [(2, "x", 1)]
