"""Dataset-level operator tests: stats, uniqueness, referential,
drift, resumable manifest (SURVEY.md §2.9, north_rule)."""

import pyspark.sql.functions as F
import pytest

from validate_spark import RuleSet
from validate_spark.operators.stats import column_stats, length_histogram, numeric_histogram
from validate_spark.operators.uniq import duplicate_keys, uniqueness_report
from validate_spark.operators.refcheck import dangling_refs, dangling_span_refs
from validate_spark.operators.drift import (
    numeric_drift,
    ks_from_histograms,
    chi_square_from_histograms,
)
from validate_spark.operators.manifest import run_resumable, with_partition_id
from validate_spark.sources.synth import synth_documents, synth_media_catalog


def test_column_stats_single_pass(spark):
    df = spark.createDataFrame(
        [("a", 1), ("", 2), (None, 3), ("dd", None)], "s string, n int"
    )
    stats = {r["column"]: r for r in column_stats(df, approx_distinct=False).collect()}
    s = stats["s"]
    assert s["n"] == 4 and s["n_null"] == 1 and s["n_empty"] == 1
    assert s["null_rate"] == 0.25
    assert s["min_str"] == "" and s["max_str"] == "dd"
    assert s["n_distinct"] == 3
    n = stats["n"]
    assert n["n_null"] == 1 and n["min_str"] == "1" and n["max_str"] == "3"


def test_column_stats_one_aggregate_no_multiple_scans(spark):
    df = spark.createDataFrame([("a", 1)], "s string, n int")
    plan = column_stats(df)._jdf.queryExecution().optimizedPlan().toString()
    # a single scan of the relation (stats is ONE agg pass)
    assert plan.count("LogicalRDD") == 1


def test_length_histogram(spark):
    df = spark.createDataFrame([("a" * 10,), ("b" * 60,), ("c" * 70,)], "t string")
    h = {r["bucket"]: r["cnt"] for r in length_histogram(df, "t", bucket_width=50).collect()}
    assert h == {0: 1, 1: 2}


def test_duplicate_keys_plain_and_salted(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("c",), ("c",), (None,)], "k string"
    )
    for salt in (None, 4):
        dups = {(r["k"], r["dup_count"]) for r in duplicate_keys(df, "k", salt_buckets=salt).collect()}
        assert dups == {("a", 2), ("c", 3)}


def test_uniqueness_report(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    r = uniqueness_report(df, "k").collect()[0]
    assert (r["n_rows"], r["n_keys"], r["n_dup_keys"], r["n_dup_rows"]) == (3, 2, 1, 2)


def test_dangling_refs_broadcast_anti_join(spark):
    fact = spark.createDataFrame([("x", "r1"), ("y", "r9"), ("z", None)], "id string, ref string")
    cat = spark.createDataFrame([("r1",), ("r2",)], "ref string")
    out = dangling_refs(fact, "ref", cat).collect()
    assert len(out) == 1 and out[0]["id"] == "y"
    # broadcast hint must reach the physical plan
    plan = dangling_refs(fact, "ref", cat)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_dangling_span_refs_on_synth(spark):
    docs = synth_documents(spark, 3000)
    cat = synth_media_catalog(spark, 100000)
    dang = dangling_span_refs(docs, cat)
    rows = dang.collect()
    assert len(rows) > 0  # seeded dangling class (id%71==19)
    assert all(r["media_ref"].startswith("m-9") or "bad" in r["media_ref"] for r in rows)


def test_numeric_histogram_and_drift_same_source(spark):
    a = spark.range(0, 10000).select((F.col("id") % 100).cast("double").alias("v"))
    b = spark.range(0, 10000).select((F.col("id") % 100).cast("double").alias("v"))
    rep = numeric_drift(a, b, "v", lo=0, hi=100, n_buckets=20, method="ks")
    assert rep.statistic == 0.0 and not rep.drifted


def test_numeric_drift_detects_shift(spark):
    a = spark.range(0, 10000).select((F.col("id") % 100).cast("double").alias("v"))
    b = spark.range(0, 10000).select(((F.col("id") % 100) + 40).cast("double").alias("v"))
    rep = numeric_drift(a, b, "v", lo=0, hi=140, n_buckets=28, method="ks")
    assert rep.statistic > 0.2 and rep.drifted


def test_ks_chi2_math():
    d, p = ks_from_histograms([100, 0, 0], [0, 0, 100])
    assert d == 1.0 and p < 1e-6
    stat, p2 = chi_square_from_histograms([50, 50], [50, 50])
    assert stat == 0.0 and p2 > 0.9


def test_resumable_manifest_kill_and_resume(spark, tmp_path):
    """Kill-after-partition-k semantics: first run covers half the
    partitions, resume touches ONLY the rest (SURVEY.md §5 test plan e)."""
    docs = synth_documents(spark, 2000)
    rs = RuleSet(rules={"doc_id": "required|minLen:6"})
    mpath = str(tmp_path / "manifest")
    vpath = str(tmp_path / "violations")

    # simulate a killed run: only process partitions 0..31 of 64
    parted = with_partition_id(docs, "doc_id", 64)
    half = parted.filter(F.col("_vs_part") < 32).drop("_vs_part")
    r1 = run_resumable(spark, half, rs, mpath, key_col="doc_id", n_partitions=64, violations_path=vpath)
    assert r1["n_partitions_done_before"] == 0
    assert r1["n_partitions_run"] <= 32

    # resume over the FULL table: only unfinished partitions recompute
    r2 = run_resumable(spark, docs, rs, mpath, key_col="doc_id", n_partitions=64, violations_path=vpath)
    assert r2["n_partitions_done_before"] == r1["n_partitions_run"]
    assert r2["n_partitions_run"] + r1["n_partitions_run"] == 64

    # a third run: everything finished, nothing recomputes
    r3 = run_resumable(spark, docs, rs, mpath, key_col="doc_id", n_partitions=64)
    assert r3["n_partitions_done_before"] == 64
    assert r3["n_partitions_run"] == 0

    # manifest totals must cover every row exactly once
    m = spark.read.parquet(mpath)
    assert m.agg(F.sum("n_rows")).collect()[0][0] == 2000
    # violations appended without duplication: the two-run total equals
    # one clean full-table run (rows with NULL doc_id are naturally
    # identical, so distinct() is not a valid dedup check here)
    from validate_spark import validate

    v = spark.read.parquet(vpath)
    full = validate(docs, rs, key_cols=["doc_id"]).violations()
    assert v.count() == full.count()


def test_manifest_invalidated_by_ruleset_change(spark, tmp_path):
    docs = synth_documents(spark, 500)
    mpath = str(tmp_path / "manifest")
    r1 = run_resumable(spark, docs, RuleSet(rules={"doc_id": "required"}), mpath, n_partitions=8)
    assert r1["n_partitions_run"] == 8
    # different rules → different hash → full re-run
    r2 = run_resumable(spark, docs, RuleSet(rules={"doc_id": "required|minLen:6"}), mpath, n_partitions=8)
    assert r2["n_partitions_done_before"] == 0
    assert r2["n_partitions_run"] == 8


def test_dangling_ref_counts_semijoin_reduction(spark):
    from validate_spark.operators.refcheck import dangling_ref_counts, dangling_refs

    fact = spark.createDataFrame(
        [(i, f"m-{i % 5}") for i in range(100)] + [(100, None)], "id long, ref string"
    )
    cat = spark.createDataFrame([(f"m-{i}",) for i in (0, 1, 2)], "ref string")
    out = dangling_ref_counts(fact, "ref", cat)
    got = {(r["ref"], r["n_occurrences"]) for r in out.collect()}
    assert got == {("m-3", 20), ("m-4", 20)}
    # agrees with the row-level anti-join rolled up
    rows = dangling_refs(fact, "ref", cat)
    rolled = {
        (r["ref"], r["n"])
        for r in rows.groupBy("ref").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert rolled == got
    # plan shape: partial aggregation happens BEFORE the shuffle — the
    # map-side combine is what shrinks O(rows) to O(distinct refs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_agg = plan.find("partial_count")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1


def test_rule_violation_drift_counts_and_flag(spark):
    """Exact per-cohort counts, totals from the NULL-sentinel ride-along,
    and the integer cross-multiplied drifted flag (both polarities)."""
    from validate_spark import validate
    from validate_spark.operators.drift import rule_violation_drift

    # cohort A = id < 40 (40 rows), B = 60 rows.
    # 'v' fails min:10 for id<8 in A (8/40=20%) and id in [40,46) in B
    # (6/60=10%) -> 1000bp apart. 's' fails required for exactly 4 rows
    # in EACH cohort (A 10%, B ~6.67%) -> 333bp apart.
    rows = [
        (i, 5 if (i < 8 or 40 <= i < 46) else 50, None if i % 25 < 2 else "x")
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, v long, s string")
    res = validate(df, RuleSet(rules={"v": "min:10", "s": "required"}), key_cols=["id"])
    out = rule_violation_drift(res, F.col("id") < 40, min_delta_bp=500)
    got = {r["validator"]: r.asDict() for r in out.collect()}
    assert got["min"]["n_a"] == 8 and got["min"]["n_b"] == 6
    assert got["min"]["tot_a"] == 40 and got["min"]["tot_b"] == 60
    assert got["min"]["rate_a"] == 0.2 and got["min"]["rate_b"] == 0.1
    assert got["min"]["drifted"] is True          # 1000bp > 500bp
    assert got["required"]["n_a"] == 4 and got["required"]["n_b"] == 4
    assert got["required"]["drifted"] is False    # ~333bp < 500bp
    # the sentinel row never leaks into the output
    assert all(r["field"] is not None for r in out.collect())


def test_rule_violation_drift_zero_violation_cohort_totals(spark):
    """A rule violated in only ONE cohort still reports both totals
    (the sentinel totals don't depend on a rule having violations)."""
    from validate_spark import validate
    from validate_spark.operators.drift import rule_violation_drift

    df = spark.createDataFrame(
        [(i, 0 if i < 5 else 99) for i in range(30)], "id long, v long"
    )
    res = validate(df, RuleSet(rules={"v": "min:10"}), key_cols=["id"])
    row = rule_violation_drift(res, F.col("id") < 10).collect()[0]
    assert (row["n_a"], row["n_b"]) == (5, 0)
    assert (row["tot_a"], row["tot_b"]) == (10, 20)
    assert row["drifted"] is True


def test_windowed_violation_anomalies(spark):
    """Per-window counts, global totals, and the >bp deviation flag."""
    from validate_spark import validate
    from validate_spark.operators.drift import windowed_violation_anomalies

    # w0: 2/10 fail (20%), w1: 1/10 (10%), w2: 0/10 (0%); global 10%.
    rows = [(i, i // 10, 0 if (i % 10 < 2 - i // 10) else 99) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, w int, v long")
    res = validate(df, RuleSet(rules={"v": "min:10"}), key_cols=["id"])
    out = windowed_violation_anomalies(res, F.col("w"), max_delta_bp=500)
    got = {r["window"]: r.asDict() for r in out.collect()}
    assert len(got) == 3 and all(g["tot_n"] == 30 and g["tot_viol"] == 3 for g in got.values())
    assert got[0]["n_viol"] == 2 and got[0]["anomalous"] is True    # +1000bp
    assert got[1]["n_viol"] == 1 and got[1]["anomalous"] is False   # 0bp
    assert got[2]["n_viol"] == 0 and got[2]["anomalous"] is True    # -1000bp


def test_windowed_violation_single_input_scan(spark):
    """The global totals ride a window over the AGGREGATED frame —
    the physical plan scans the input exactly once."""
    from validate_spark import validate
    from validate_spark.operators.drift import windowed_violation_anomalies

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    res = validate(df, RuleSet(rules={"value": "max:400"}), key_cols=["event_id"])
    out = windowed_violation_anomalies(res, F.date_format(F.col("ts"), "yyyy-MM-dd"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_schema_profile_drift_statuses(spark):
    """added / dropped / type_changed / null_drift / ok, with exact
    counts and round-6 null rates."""
    from validate_spark.operators.drift import schema_profile_drift

    a = spark.createDataFrame(
        [(i, None if i < 2 else "x", i * 1.0, "k") for i in range(10)],
        "id long, s string, v double, gone string",
    )
    b = spark.createDataFrame(
        [(i, None if i < 5 else "x", str(i), "n") for i in range(20)],
        "id long, s string, v string, fresh string",
    )
    out = {r["col_name"]: r.asDict() for r in schema_profile_drift(a, b).collect()}
    assert out["id"]["status"] == "ok" and out["id"]["in_a"] and out["id"]["in_b"]
    assert (out["id"]["n_a"], out["id"]["n_b"]) == (10, 20)
    # 2/10 vs 5/20 nulls -> 500bp apart > 100bp default
    assert out["s"]["status"] == "null_drift"
    assert out["s"]["null_rate_a"] == 0.2 and out["s"]["null_rate_b"] == 0.25
    assert out["v"]["status"] == "type_changed"
    assert (out["v"]["dtype_a"], out["v"]["dtype_b"]) == ("double", "string")
    assert out["gone"]["status"] == "dropped" and not out["gone"]["in_b"]
    assert out["gone"]["n_b"] is None and out["gone"]["null_rate_b"] is None
    assert out["fresh"]["status"] == "added" and not out["fresh"]["in_a"]
    # dropped-before-type_changed precedence is pinned by construction:
    # a dropped column never reports its old dtype against NULL


def test_schema_profile_drift_threshold(spark):
    """The bp threshold gates null_drift -> ok (integer cross-mult)."""
    from validate_spark.operators.drift import schema_profile_drift

    a = spark.createDataFrame([(i, None if i < 2 else "x") for i in range(10)], "id long, s string")
    b = spark.createDataFrame([(i, None if i < 5 else "x") for i in range(20)], "id long, s string")
    loose = schema_profile_drift(a, b, max_null_delta_bp=600)
    assert {r["status"] for r in loose.collect()} == {"ok"}


def test_pattern_profile_classes_and_priority(spark):
    """Every class reachable; first-match priority pinned (an all-digit
    or all-hex string that is also an int is int_string; 'true' is
    bool_string even though 'e' spoils hex anyway)."""
    from validate_spark.operators.suggest import pattern_profile

    vals = [
        None, "", "42", "-7", "3.14", ".5", "true", "OFF", "2024-02-29",
        "0f3a2b1c-9d8e-4f5a-8b7c-612345abcdef", "a@b.co", "https://x.io/p",
        "deadbeef", "DEADBEEF", "plain words", "123",  # 123 -> int, not hex
    ]
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    got = {r["pattern_class"]: r["n"] for r in pattern_profile(df, "val").collect()}
    assert got == {
        "null": 1, "empty": 1, "int_string": 3, "float_string": 2,
        "bool_string": 2, "date": 1, "uuid": 1, "email": 1, "url": 1,
        "hex": 2, "other": 1,
    }
    out = pattern_profile(df, "val").collect()
    assert all(r["n_total"] == len(vals) for r in out)
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-6


def test_snapshot_diff_statuses_and_plan(spark):
    """All five statuses; and the scale contract: ONE exchange (the
    union's groupBy(key)), no join operator anywhere in the plan."""
    from validate_spark.operators.snapdiff import (
        snapshot_diff_rows,
        snapshot_diff_summary,
    )

    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30), (4, "w", 40), (5, "v", 50)],
        "id long, s string, v long",
    )
    b = spark.createDataFrame(
        [(1, "x", 10),            # unchanged
         (2, "Y", 20),            # changed
         (4, "w", 40), (4, "w", 40),   # dup_key in B
         (6, "n", 60)],           # added; 3 and 5 removed
        "id long, s string, v long",
    )
    rows = snapshot_diff_rows(a, b, ["id"])
    got = {r["id"]: r["status"] for r in rows.collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "dup_key", 5: "removed", 6: "added"}
    plan = rows._jdf.queryExecution().executedPlan().toString()
    # one Exchange PER UNION BRANCH (each input shuffled exactly once
    # onto the key) and no join operator / build side anywhere
    assert plan.count("Exchange") <= 2 and "Join" not in plan

    summ = {r["status"]: r["n_keys"] for r in
            snapshot_diff_summary(a, b, ["id"]).collect()}
    assert summ == {"unchanged": 1, "changed": 1, "removed": 2,
                    "dup_key": 1, "added": 1}


def test_snapshot_diff_null_vs_empty_vs_literal(spark):
    """The fingerprint encoding distinguishes NULL, '', and the chr(0)
    sentinel itself appearing as data."""
    from validate_spark.operators.snapdiff import snapshot_diff_rows

    a = spark.createDataFrame([(1, None), (2, ""), (3, "\x00")], "id long, s string")
    b = spark.createDataFrame([(1, ""), (2, "\x00"), (3, None)], "id long, s string")
    got = {r["id"]: r["status"] for r in snapshot_diff_rows(a, b, ["id"]).collect()}
    assert got == {1: "changed", 2: "changed", 3: "changed"}


def test_attribute_consistency(spark):
    """Null-safe mismatch semantics + broadcast plan shape."""
    from validate_spark.operators.refcheck import attribute_consistency

    dim = spark.createDataFrame(
        [(1, "US", 10), (2, "DE", 20), (3, None, 30)], "k int, name string, r int"
    )
    fact = spark.createDataFrame(
        [(100, 1, "US", 10),     # consistent
         (101, 1, "us", 10),     # name mismatch
         (102, 2, None, 20),     # NULL vs value -> mismatch
         (103, 3, None, 31),     # NULL==NULL consistent; r off by one
         (104, 9, "XX", 0),      # unresolved fk -> excluded (dangling's job)
         (105, None, "US", 10)], # NULL fk -> excluded
        "id int, fk int, dname string, dr int",
    )
    out = {r["fact_attr"]: r.asDict() for r in attribute_consistency(
        fact, "fk", dim, "k", [("dname", "name"), ("dr", "r")]
    ).collect()}
    assert out["dname"]["n_checked"] == 4 and out["dname"]["n_mismatch"] == 2
    assert out["dr"]["n_checked"] == 4 and out["dr"]["n_mismatch"] == 1
    assert out["dr"]["mismatch_rate"] == 0.25
    plan = attribute_consistency(
        fact, "fk", dim, "k", [("dname", "name")]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_suite_report_one_action(spark):
    """All four check families in one frame; values match the
    individual operators; single plan contains every branch."""
    from validate_spark import RuleSet
    from validate_spark.operators.suite import suite_report

    df = spark.createDataFrame(
        [(i, "x" * (i % 5), i % 3, float(i % 100)) for i in range(60)],
        "id long, s string, grp int, v double",
    )
    cat = spark.createDataFrame([(0,), (1,)], "grp int")  # 2 is dangling
    rep = suite_report(
        df,
        RuleSet(rules={"s": "required|minLength:2", "v": "max:50"}),
        key_cols=["id"],
        unique_cols=[["id"], ["grp"]],
        ref_checks=[("grp", cat, "grp")],
        hist_specs=[("v", 0.0, 100.0, 4)],
    )
    got = {(r["check"], r["metric"]): r["value"] for r in rep.collect()}
    assert got[("verdicts", "n_rows")] == 60
    assert got[("verdicts", "n_pass")] + got[("verdicts", "n_fail")] == 60
    # s: empty (i%5==0, required) 12 + len-1 (i%5==1, minLength) 12;
    # v: i>50 (max:50) 9 — fields disjoint, so violations sum exactly
    assert got[("verdicts", "n_violations")] == 12 + 12 + 9
    assert got[("uniqueness", "dup_keys:id")] == 0
    assert got[("uniqueness", "dup_keys:grp")] == 3   # all 3 groups repeat
    assert got[("referential", "dangling:grp")] == 20
    hist = {int(m): v for (c, m), v in got.items() if c == "histogram:v"}
    assert sum(hist.values()) == 60 and set(hist) <= {0, 1, 2, 3}


def test_categorical_drift(spark):
    """One-sided categories get zero counts (not dropped), NULL is a
    category, and the bp flag fires on real share moves only."""
    from validate_spark.operators.drift import categorical_drift

    a = spark.createDataFrame(
        [("en",)] * 50 + [("de",)] * 45 + [("fr",)] * 5, "lang string"
    )
    b = spark.createDataFrame(
        [("en",)] * 50 + [("de",)] * 30 + [("xx",)] * 15 + [(None,)] * 5,
        "lang string",
    )
    out = {r["category"]: r.asDict() for r in categorical_drift(a, b, "lang").collect()}
    assert set(out) == {"en", "de", "fr", "xx", None}
    assert out["fr"]["n_b"] == 0 and out["xx"]["n_a"] == 0
    assert out["en"]["drifted"] is False          # 50% both sides
    assert out["de"]["drifted"] is True           # 45% -> 30%
    assert out["xx"]["drifted"] is True and out[None]["n_b"] == 5
    assert out["de"]["share_a"] == 0.45 and out["de"]["share_b"] == 0.3
    # join-free: per-side aggregates meet via union (snapdiff pattern)
    plan = categorical_drift(a, b, "lang")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_snapshot_diff_differential_random(spark):
    """Differential: operator output == a pure-Python reference diff on
    randomized snapshots (seeded — Spark sessions are too costly for
    per-example hypothesis here; 20 seeds × dense key collisions)."""
    import random

    from validate_spark.operators.snapdiff import snapshot_diff_rows

    for seed in range(20):
        rng = random.Random(seed)
        def mk():
            rows = []
            for _ in range(rng.randrange(0, 25)):
                k = rng.randrange(0, 10)          # dense -> collisions
                v = rng.choice(["a", "b", None])
                w = rng.choice([0, 1, None])
                rows.append((k, v, w))
            return rows
        ra, rb = mk(), mk()
        a = spark.createDataFrame(ra, "k int, v string, w int") if ra else \
            spark.createDataFrame([], "k int, v string, w int")
        b = spark.createDataFrame(rb, "k int, v string, w int") if rb else \
            spark.createDataFrame([], "k int, v string, w int")
        got = {r["k"]: r["status"] for r in snapshot_diff_rows(a, b, ["k"]).collect()}

        from collections import Counter
        ca, cb = Counter(r[0] for r in ra), Counter(r[0] for r in rb)
        va = {r[0]: (r[1], r[2]) for r in ra}
        vb = {r[0]: (r[1], r[2]) for r in rb}
        want = {}
        for k in set(ca) | set(cb):
            if ca[k] > 1 or cb[k] > 1:
                want[k] = "dup_key"
            elif ca[k] == 0:
                want[k] = "added"
            elif cb[k] == 0:
                want[k] = "removed"
            elif va[k] != vb[k]:
                want[k] = "changed"
            else:
                want[k] = "unchanged"
        assert got == want, f"seed={seed}"


def test_numeric_correlations_vs_numpy(spark):
    """Corr matches numpy on clean data; pairwise-NULL exclusion;
    constant column -> NULL; one scan (one agg, metadata explode)."""
    import numpy as np

    from validate_spark.operators.stats import numeric_correlations

    xs = list(range(40))
    ys = [3 * x + 7 - (x % 5) for x in xs]     # strongly correlated
    zs = [5] * 40                               # constant
    df = spark.createDataFrame(list(zip(xs, ys, zs)), "x long, y long, z long")
    out = {(r["col_x"], r["col_y"]): r for r in
           numeric_correlations(df, ["x", "y", "z"]).collect()}
    want = round(float(np.corrcoef(xs, ys)[0, 1]), 6)
    assert out[("x", "y")]["corr"] == want and out[("x", "y")]["n"] == 40
    assert out[("x", "z")]["corr"] is None      # zero variance
    # pairwise NULL exclusion: poison one y row
    df2 = spark.createDataFrame(
        [(x, None if x == 0 else 3 * x, x * x) for x in xs], "x long, y long, z long"
    )
    got = {(r["col_x"], r["col_y"]): r for r in
           numeric_correlations(df2, ["x", "y", "z"]).collect()}
    assert got[("x", "y")]["n"] == 39 and got[("x", "z")]["n"] == 40
    assert got[("x", "y")]["corr"] == 1.0
    plan = numeric_correlations(df, ["x", "y"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1        # single scan


def test_frequent_values_deterministic_order(spark):
    """Ties break on value ASC NULLS FIRST; NULL counts as a value;
    plan is TakeOrderedAndProject, not a global sort."""
    from validate_spark.operators.stats import frequent_values

    rows = [("b",)] * 5 + [("a",)] * 5 + [(None,)] * 5 + [("c",)] * 2 + [("d",)] * 1
    df = spark.createDataFrame(rows, "v string")
    got = [(r["value"], r["cnt"]) for r in frequent_values(df, "v", k=4).collect()]
    assert got == [(None, 5), ("a", 5), ("b", 5), ("c", 2)]
    plan = frequent_values(df, "v", k=4)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan


def test_incremental_validate_equivalence_and_carry(spark):
    """incremental == full revalidation on churn; and a poisoned old
    verdict for an UNCHANGED key is carried verbatim — behavioral proof
    that unchanged rows are never re-evaluated."""
    from validate_spark import RuleSet, validate
    from validate_spark.operators.snapdiff import incremental_validate

    rules = RuleSet(rules={"v": "required|min:10"})
    old = spark.createDataFrame(
        [(i, 5 if i % 4 == 0 else 50) for i in range(40)], "id long, v long"
    )
    # churn: drop %5, change %3 (fix its value), add 100..104
    new = (
        old.filter(F.col("id") % 5 != 0)
        .withColumn("v", F.when(F.col("id") % 3 == 0, 99).otherwise(F.col("v")))
        .unionByName(
            spark.createDataFrame([(100 + i, 3) for i in range(5)], "id long, v long")
        )
    )
    old_v = validate(old, rules, key_cols=["id"]).verdicts()
    inc = incremental_validate(old, old_v, new, rules, ["id"])
    full = validate(new, rules, key_cols=["id"]).verdicts()
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))

    # poison an unchanged key's verdict: id=2 (not %3, not %5 -> unchanged)
    poisoned = old_v.withColumn(
        "pass", F.when(F.col("id") == 2, F.lit(False)).otherwise(F.col("pass"))
    )
    inc2 = {r["id"]: r["pass"] for r in
            incremental_validate(old, poisoned, new, rules, ["id"]).collect()}
    assert inc2[2] is False          # carried verbatim, not recomputed
    assert inc2[3] == full.filter("id = 3").collect()[0]["pass"]  # changed -> fresh


def test_benford_audit_integer_exact(spark):
    from validate_spark.operators.drift import benford_audit

    df = spark.createDataFrame(
        [(1.00,), (19.99,), (2.50,), (0.00,), (None,), (-3.00,)],
        "v double",
    )
    out = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    # zero and NULL drop; negatives count by |v|; 19.99 -> cents 1999 -> 1
    assert set(out) == {1, 2, 3}
    assert out[1]["n"] == 2 and out[1]["share_ppm"] == 500000
    assert out[2]["n"] == 1 and out[2]["share_ppm"] == 250000
    assert out[1]["expected_ppm"] == 301030
    assert out[1]["excess_ppm"] == 500000 - 301030
    # the hardcoded law is a probability distribution in ppm
    from validate_spark.operators.drift import BENFORD_PPM
    assert sum(BENFORD_PPM.values()) == 1_000_000


def test_categorical_agreement_kappa(spark):
    from validate_spark.operators.stats import categorical_agreement

    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("b", "b"), ("a", "b")],
        "x string, y string",
    )
    r = categorical_agreement(df, "x", "y").collect()[0]
    # po=3/4; marginals x: a3 b1, y: a2 b2 -> pe=(3*2+1*2)/16=0.5
    assert (r["n"], r["n_agree"], r["po"], r["pe"], r["kappa"]) == (
        4, 3, 0.75, 0.5, 0.5
    )
    # degenerate one-class table: pe == 1 -> kappa NULL, not a crash
    one = spark.createDataFrame([("a", "a")] * 3, "x string, y string")
    r1 = categorical_agreement(one, "x", "y").collect()[0]
    assert r1["pe"] == 1.0 and r1["kappa"] is None
    # NULL labels are the '' class
    withnull = spark.createDataFrame(
        [(None, ""), ("a", "a")], "x string, y string"
    )
    r2 = categorical_agreement(withnull, "x", "y").collect()[0]
    assert r2["n_agree"] == 2


def test_cube_profile_grouping_flags(spark):
    from validate_spark.operators.stats import cube_profile

    df = spark.createDataFrame(
        [("en", "web"), ("en", "pdf"), (None, "web")],
        "lang string, source string",
    )
    out = cube_profile(df, ["lang", "source"])
    rows = {
        (r["lang"], r["source"], r["g_lang"], r["g_source"]): r["n"]
        for r in out.collect()
    }
    # 4 grouping sets in ONE pass; real NULL lang distinct from subtotal
    assert rows[(None, "web", 0, 0)] == 1          # real NULL lang cell
    assert rows[(None, None, 0, 1)] == 1           # real NULL lang subtotal
    assert rows[(None, "web", 1, 0)] == 2          # subtotal over lang
    assert rows[(None, None, 1, 1)] == 3           # grand total
    assert rows[("en", None, 0, 1)] == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1  # the one RIGHT Expand


def test_pivot_counts_explicit_domain(spark):
    from validate_spark.operators.stats import pivot_counts

    df = spark.createDataFrame(
        [(1, "click"), (1, "click"), (1, "buy"), (2, "other")],
        "u long, t string",
    )
    out = {r["u"]: r for r in pivot_counts(df, "u", "t", ["click", "buy"]).collect()}
    assert (out[1]["click"], out[1]["buy"]) == (2, 1)
    # absent combos are 0 (not NULL); out-of-domain values land nowhere
    assert (out[2]["click"], out[2]["buy"]) == (0, 0)


def test_unpivot_round_trips_pivot(spark):
    from validate_spark.operators.stats import pivot_counts, unpivot_wide

    df = spark.createDataFrame(
        [(1, "click"), (1, "click"), (2, "buy")], "u long, t string"
    )
    wide = pivot_counts(df, "u", "t", ["click", "buy"])
    long = unpivot_wide(wide, ["u"], ["click", "buy"],
                        var_name="t", value_name="n")
    got = {(r["u"], r["t"], r["n"]) for r in long.collect()}
    assert got == {(1, "click", 2), (1, "buy", 0),
                   (2, "click", 0), (2, "buy", 1)}
    # ONE Expand pass, not a per-column union of scans
    plan = long._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Union" not in plan


def test_latest_wins_compaction(spark):
    import datetime as dt

    from validate_spark.operators.snapdiff import latest_wins

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, 10, t(1), "a"),
            (1, 11, t(3), "b"),   # newest ts -> wins
            (1, 12, t(2), "c"),
            (2, 20, t(5), "d"),
            (2, 21, t(5), "e"),   # ts tie -> higher event_id wins
            (3, 30, None, "f"),   # NULL ts sorts last but is the only row
        ],
        "user_id long, event_id long, ts timestamp, payload string",
    )
    out = latest_wins(df, ["user_id"], "ts", "event_id")
    got = {r["user_id"]: (r["event_id"], r["payload"]) for r in out.collect()}
    assert got == {1: (11, "b"), 2: (21, "e"), 3: (30, "f")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one exchange + window, never a max-ts self-join (count inside the
    # AQE final plan only — toString repeats it as "Initial Plan")
    assert "Join" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_phrase_contamination_zero_hits_reported(spark):
    from validate_spark.operators.decontam import phrase_contamination

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta delta"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["phrase"]: r["n_docs"]
           for r in phrase_contamination(
               docs, ["beta", "gamma", "omega"]).collect()}
    assert out == {"beta": 2, "gamma": 1, "omega": 0}


def test_group_percentiles_interpolation(spark):
    from validate_spark.operators.stats import group_percentiles

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 10)],
        "g string, v int",
    )
    rows = {r["g"]: r for r in group_percentiles(
        df, group_cols=["g"], value_col="v").collect()}
    # (n-1)*p positions over [1,2,3,4]: p25 -> 1.75, p50 -> 2.5
    assert rows["a"]["p25"] == 1.75 and rows["a"]["p50"] == 2.5
    assert rows["a"]["p75"] == 3.25 and rows["a"]["n"] == 4
    assert rows["b"]["p50"] == 10.0 and rows["b"]["n"] == 1


def test_table_checksum_order_insensitive_and_sensitive_to_rows(spark):
    from validate_spark.operators.stats import table_checksum

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id long, s string"
    )
    b = spark.createDataFrame(  # same multiset, different order/partitioning
        [(3, "z"), (1, "x"), (2, "y")], "id long, s string"
    ).repartition(7)
    ca = table_checksum(a).collect()[0]
    cb = table_checksum(b).collect()[0]
    assert ca["checksum"] == cb["checksum"] and ca["n_rows"] == 3
    # one changed value changes the checksum
    c = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "Z")], "id long, s string"
    )
    assert table_checksum(c).collect()[0]["checksum"] != ca["checksum"]
    # NULL vs the literal string 'null' stay distinct
    d1 = spark.createDataFrame([(1, None)], "id long, s string")
    d2 = spark.createDataFrame([(1, "null")], "id long, s string")
    assert (
        table_checksum(d1).collect()[0]["checksum"]
        != table_checksum(d2).collect()[0]["checksum"]
    )
    # delimiter injection: a separator shifting across a column
    # boundary must NOT collide (per-column md5 tokens prevent it)
    e1 = spark.createDataFrame([("x|y", "z")], "a string, b string")
    e2 = spark.createDataFrame([("x", "y|z")], "a string, b string")
    assert (
        table_checksum(e1).collect()[0]["checksum"]
        != table_checksum(e2).collect()[0]["checksum"]
    )


def test_group_mad_robust_to_outliers(spark):
    from validate_spark.operators.stats import group_mad

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 4), ("a", 10),
         ("b", 5), ("b", 5), ("b", 1_000_000),   # outlier barely moves MAD
         ("c", None)],
        "g string, v int",
    )
    rows = {r["g"]: r for r in group_mad(
        df, group_cols=["g"], value_col="v").collect()}
    assert rows["a"]["mad"] == 1.5 and rows["a"]["n"] == 4
    assert rows["b"]["mad"] == 0.0 and rows["b"]["n"] == 3
    assert rows["c"]["mad"] is None and rows["c"]["n"] == 0


def test_merge_upsert_update_delete_insert(spark):
    from validate_spark.operators.snapdiff import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    source = spark.createDataFrame(
        [
            (2, "b2", 22.0, False),  # matched -> update
            (3, "c", 30.0, True),    # matched + deleted -> drop
            (9, "z", 90.0, False),   # not matched -> insert
            (8, "y", 80.0, True),    # not matched but deleted -> no-op
        ],
        "k long, name string, bal double, deleted boolean",
    )
    out = merge_upsert(target, source, ["k"], delete_col="deleted")
    assert out.columns == target.columns  # delete flag consumed
    got = {(r.k, r.name, r.bal) for r in out.collect()}
    assert got == {(1, "a", 10.0), (2, "b2", 22.0), (9, "z", 90.0)}

    # without delete_col every source row survives as update/insert
    out2 = merge_upsert(target, source.drop("deleted"), ["k"])
    assert {r.k for r in out2.collect()} == {1, 2, 3, 8, 9}

    # schema guard: source must carry every target column
    import pytest as _pt

    with _pt.raises(ValueError):
        merge_upsert(target, source.drop("bal"), ["k"])
    with _pt.raises(ValueError):
        merge_upsert(target, source, ["k"], delete_col="nope")

    # plan shape: anti-join + union, no window / full outer join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan and "Window" not in plan


def test_hll_merge_equals_direct_and_accuracy(spark):
    from pyspark.sql import functions as SF

    from validate_spark.operators.stats import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    df = spark.range(1000).select(SF.concat(SF.lit("k"), SF.col("id")).alias("k"))
    h1, h2 = df.filter("id % 2 = 0"), df.filter("id % 2 = 1")
    direct = hll_registers(df, "k", p=9)
    merged = hll_merge(hll_registers(h1, "k", p=9), hll_registers(h2, "k", p=9))
    assert {tuple(r) for r in direct.collect()} == {
        tuple(r) for r in merged.collect()
    }
    est = hll_estimate(direct, p=9).collect()[0]
    assert abs(est.est_distinct - 1000) / 1000 < 0.15  # ~1.04/sqrt(512)≈4.6%

    # overlapping halves: merge is idempotent on shared keys
    m2 = hll_merge(hll_registers(df, "k", p=9), hll_registers(h1, "k", p=9))
    assert {tuple(r) for r in m2.collect()} == {tuple(r) for r in direct.collect()}


def test_hll_linear_counting_branch_and_guards(spark):
    from pyspark.sql import functions as SF

    from validate_spark.operators.stats import hll_estimate, hll_registers

    df = spark.range(10).select(SF.concat(SF.lit("x"), SF.col("id")).alias("k"))
    regs = hll_registers(df, "k", p=9)
    est = hll_estimate(regs, p=9).collect()[0]
    # small-range regime: m*ln(m/V) with V >= 502 -> est ~ 10
    assert est.n_zero >= 500 and abs(est.est_distinct - 10) < 2

    import pytest as _pt

    with _pt.raises(ValueError):
        hll_registers(df, "k", p=3)
    with _pt.raises(ValueError):
        hll_estimate(regs, p=15)


def test_conformal_threshold_rank_and_coverage(spark):
    from validate_spark.operators.stats import conformal_report

    calib = spark.createDataFrame(
        [(float(i),) for i in range(1, 10)], "score double"
    )
    evalf = spark.createDataFrame(
        [(0.5,), (5.0,), (9.0,), (9.5,), (100.0,)], "score double"
    )
    r = conformal_report(calib, evalf, "score", alpha_ppm=100_000).collect()[0]
    # k = ceil(10 * 0.9) = 9 -> threshold = 9th smallest = 9.0
    assert r.n_calib == 9 and r.rank_k == 9 and r.threshold == 9.0
    assert r.n_eval == 5 and r.n_covered == 3  # 0.5, 5.0, 9.0 covered
    assert r.coverage_ppm == 600_000

    # ties at the cut: k-th smallest of [1,2,2,2,3,...] lands inside a run
    calib2 = spark.createDataFrame(
        [(1.0,), (2.0,), (2.0,), (2.0,), (3.0,)], "score double"
    )
    r2 = conformal_report(calib2, evalf, "score", alpha_ppm=400_000).collect()[0]
    # k = ceil(6 * 0.6) = 4 -> 4th smallest = 2.0
    assert r2.rank_k == 4 and r2.threshold == 2.0


def test_conformal_small_n_infinite_threshold(spark):
    from validate_spark.operators.stats import conformal_report

    calib = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "score double")
    evalf = spark.createDataFrame([(50.0,), (2.0,)], "score double")
    r = conformal_report(calib, evalf, "score", alpha_ppm=100_000).collect()[0]
    # k = ceil(4 * 0.9) = 4 > n=3 -> +inf threshold, everything covered
    assert r.rank_k == 4 and r.threshold is None
    assert r.n_covered == 2 and r.coverage_ppm == 1_000_000

    import pytest as _pt

    with _pt.raises(ValueError):
        conformal_report(calib, evalf, "score", alpha_ppm=0)
