"""Structured Streaming validation tests: plan reuse over micro-batches,
append-mode violations, windowed counts with watermark, foreachBatch."""

import os

import pytest
from pyspark.sql import functions as F

from validate_spark import RuleSet
from validate_spark.streaming import (
    validate_stream,
    violations_stream,
    windowed_violation_counts,
    foreach_batch_validator,
)

RULES = RuleSet(rules={"v": "required|min:10", "name": "required|minLength:3"})


@pytest.fixture()
def stream_src(spark, tmp_path):
    """A file-source stream over two parquet batches with a stable schema."""
    src = str(tmp_path / "src")
    df1 = spark.createDataFrame(
        [(1, 15.0, "alice"), (2, 5.0, "bob"), (3, None, "xy")],
        "id long, v double, name string",
    )
    df1.write.parquet(src)
    stream = (
        spark.readStream.schema("id long, v double, name string").parquet(src)
    )
    return src, stream


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_validate_stream_is_streaming_and_correct(spark, stream_src):
    _, stream = stream_src
    res = validate_stream(stream, RULES, key_cols=["id"])
    assert res.verdicts().isStreaming
    _run_to_memory(res.verdicts(), "t_verd")
    rows = {r["id"]: (r["pass"], r["n_violations"]) for r in spark.sql("select * from t_verd").collect()}
    # id=1 passes; id=2 fails min; id=3 fails required(v is null→empty? v
    # required fails on null) + minLength
    assert rows[1] == (True, 0)
    assert rows[2] == (False, 1)
    assert rows[3] == (False, 2)


def test_violations_stream_rows(spark, stream_src):
    _, stream = stream_src
    _run_to_memory(violations_stream(stream, RULES, key_cols=["id"]), "t_viol")
    got = {
        (r["id"], r["field"], r["validator"])
        for r in spark.sql("select * from t_viol").collect()
    }
    assert got == {
        (2, "v", "min"),
        (3, "v", "required"),
        (3, "name", "minLength"),
    }


def test_windowed_violation_counts(spark, tmp_path):
    src = str(tmp_path / "wsrc")
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:10", 1.0),
            ("2024-01-01 00:00:20", 50.0),
            ("2024-01-01 00:01:10", 2.0),
            ("2024-01-01 00:01:40", 3.0),
        ],
        "ts_s string, v double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v")
    df.write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    counts = windowed_violation_counts(
        stream,
        RuleSet(rules={"v": "required|min:10"}),
        ts_col="ts",
        window_duration="1 minute",
        watermark="2 minutes",
    )
    # complete mode: append would emit only watermark-closed windows, and
    # a single availableNow run never advances the watermark past the
    # last window — complete shows every window's current count
    _run_to_memory(counts, "t_wins", mode="complete")
    rows = spark.sql("select * from t_wins").collect()
    by_win = {(r["window"]["start"].minute, r["validator"]): r["n"] for r in rows}
    assert by_win[(0, "min")] == 1  # 00:00 window: one violation (v=1)
    assert by_win[(1, "min")] == 2  # 00:01 window: two (v=2, v=3)


def test_foreach_batch_plan_reuse(spark, stream_src, tmp_path):
    src, stream = stream_src
    viol_path = str(tmp_path / "viol_out")
    seen = []
    cb = foreach_batch_validator(
        RULES,
        stream.schema,
        key_cols=["id"],
        violations_path=viol_path,
        on_batch=lambda res, bid: seen.append((bid, res.plan.plan_hash)),
    )
    q = stream.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    # second batch of data, new query run — same compiled plan instance
    spark.createDataFrame([(4, 1.0, "zz")], "id long, v double, name string").write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema("id long, v double, name string").parquet(src)
    q2 = stream2.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q2.awaitTermination(120)

    assert len(seen) >= 2 and len({h for _, h in seen}) == 1  # one plan hash
    out = spark.read.parquet(viol_path)
    ids = {r["id"] for r in out.collect()}
    assert 4 in ids and 2 in ids
    assert "batch_id" in out.columns


# ---------------------------------------------------------------------------
# stateful cross-batch dedup (applyInPandasWithState)
# ---------------------------------------------------------------------------

def test_stateful_dedup_across_batches(spark, tmp_path):
    from validate_spark.streaming.stateful_dedup import stateful_drop_duplicates

    src = str(tmp_path / "dsrc")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "dout")
    schema = "doc_id long, text string"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        deduped = stateful_drop_duplicates(stream)
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: A, B (and an in-batch near-dup of A that must collapse)
    spark.createDataFrame(
        [(1, "Hello, World!"), (2, "other text"), (3, "hello  world")], schema
    ).write.mode("append").parquet(src)
    run_once()
    got1 = {r["key"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"1", "2"}  # "3" collapsed into fingerprint of "1" (min key wins)

    # batch 2: exact dup of A (cross-batch, must be dropped) + new C
    spark.createDataFrame([(4, "hello world"), (5, "brand new")], schema).write.mode(
        "append"
    ).parquet(src)
    run_once()
    got2 = {r["key"] for r in spark.read.parquet(out).collect()}
    assert got2 == {"1", "2", "5"}  # 4 suppressed by checkpointed state


def test_stateful_dedup_hot_fingerprint_chunked(spark, tmp_path):
    """A mega-duplicate fingerprint (one text repeated >> Arrow batch
    size inside one micro-batch) must fold chunk-by-chunk, not
    pd.concat the whole group: with maxRecordsPerBatch=50 the group
    arrives as ~10 separate pandas chunks and the operator still emits
    exactly one row — the min-(string)-key copy — plus correct state."""
    from validate_spark.streaming.stateful_dedup import stateful_drop_duplicates

    src = str(tmp_path / "hsrc")
    chk = str(tmp_path / "hchk")
    out = str(tmp_path / "hout")
    schema = "doc_id long, text string"

    rows = [(i, "the same boilerplate page") for i in range(100, 600)]
    rows.append((9, "a unique page"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_drop_duplicates(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r["key"] for r in spark.read.parquet(out).collect()}
    # min STRING key of the hot group is "100" (lexicographic — same
    # ordering the single-chunk path used via sort_values on the key)
    assert got == {"100", "9"}


def test_windowed_drift_detects_shifted_window(spark, tmp_path):
    from validate_spark.streaming import snapshot_histogram, windowed_drift

    # snapshot: values uniform in [0, 100)
    ref = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    snap = snapshot_histogram(ref, "v", lo=0.0, hi=100.0, n_buckets=10)

    # stream: window 0 matches the snapshot, window 1 is shifted high
    rows = [(f"2024-01-01 00:00:{10+i%40:02d}", float(i % 100)) for i in range(200)]
    rows += [(f"2024-01-01 00:01:{10+i%40:02d}", 90.0 + (i % 10)) for i in range(200)]
    src = str(tmp_path / "dsrc")
    spark.createDataFrame(rows, "ts_s string, v double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "v"
    ).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)

    drift = windowed_drift(
        stream, "v", snap, ts_col="ts", window="1 minute",
        watermark="2 minutes", lo=0.0, hi=100.0, n_buckets=10,
    )
    assert drift.isStreaming
    _run_to_memory(drift, "t_drift", mode="complete")
    got = {r["window"]["start"].minute: r for r in spark.sql("select * from t_drift").collect()}
    assert got[0]["n_obs"] == 200 and got[1]["n_obs"] == 200
    # matching window: tiny statistic; shifted window: huge
    assert got[0]["chi2"] < 10.0
    assert got[1]["chi2"] > 100.0
    assert got[1]["dof"] == 9  # all 10 buckets occupied on at least one side


def test_foreach_batch_manifest_lineage(spark, stream_src, tmp_path):
    src, stream = stream_src
    mpath = str(tmp_path / "manifest")
    cb = foreach_batch_validator(
        RULES, stream.schema, key_cols=["id"], manifest_path=mpath
    )
    q = stream.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(120)
    m = spark.read.parquet(mpath).collect()
    assert len(m) == 1
    row = m[0]
    assert row["n_rows"] == 3 and row["n_pass"] == 1 and row["n_fail"] == 2
    assert row["n_violations"] == 3 and row["verdict"] is False
    assert row["ruleset_hash"] == RULES.hash()


def test_windowed_drift_single_stateful_operator(spark, tmp_path):
    # scale contract: the whole drift computation is ONE watermarked
    # aggregation — state per window is n_buckets longs, never O(rows)
    from validate_spark.streaming import snapshot_histogram, windowed_drift

    ref = spark.range(100).select((F.col("id") % 50).cast("double").alias("v"))
    snap = snapshot_histogram(ref, "v", lo=0.0, hi=50.0, n_buckets=5)
    src = str(tmp_path / "psrc")
    spark.createDataFrame(
        [("2024-01-01 00:00:10", 1.0)], "ts_s string, v double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    drift = windowed_drift(
        stream, "v", snap, ts_col="ts", window="1 minute",
        watermark="2 minutes", lo=0.0, hi=50.0, n_buckets=5,
    )
    q = (
        drift.writeStream.format("memory").queryName("t_plan_drift")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    n_state_ops = len(q.lastProgress.get("stateOperators", []))
    assert n_state_ops == 1, f"expected 1 stateful operator, got {n_state_ops}"


def test_manifest_empty_batch_reports_zeros_not_nulls(spark, tmp_path):
    # an EMPTY micro-batch must write a verdict=true all-zeros manifest
    # row — NULL sums would corrupt the lineage audit
    from validate_spark.streaming.validate_stream import foreach_batch_validator

    empty = spark.createDataFrame([], "id string, v long")
    mpath = str(tmp_path / "manifest_empty")
    cb = foreach_batch_validator(
        {"v": "required"}, empty.schema, key_cols=["id"], manifest_path=mpath
    )
    cb(empty, 0)
    row = spark.read.parquet(mpath).collect()[0]
    assert row["n_rows"] == 0
    assert row["n_pass"] == 0 and row["n_fail"] == 0 and row["n_violations"] == 0
    assert row["verdict"] is True


def test_native_dedup_watermark_eviction_reemits(spark, tmp_path):
    """The contract difference vs stateful_drop_duplicates, pinned:
    dropDuplicatesWithinWatermark drops a duplicate while the
    fingerprint's state lives, then RE-EMITS one arriving after the
    watermark passed first-seen + delay (state evicted). Batches must
    arrive in order here, so files get strictly increasing mtimes."""
    import datetime as dt
    import time

    from validate_spark.streaming.stateful_dedup import (
        native_drop_duplicates_within_watermark,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "src")
    batches = [
        # batch 1: A twice within one batch -> ONE emission
        [(1, "same text", t0), (2, "same text", t0)],
        # batch 2: a different key; advances the watermark to t0+2h
        # for the NEXT batch
        [(3, "other text", t0 + dt.timedelta(hours=3))],
        # batch 3: runs with wm t0+2h -> A's state (expiry t0+1h) is
        # evicted at END of this batch, after its dedup decisions (a
        # duplicate HERE would still be dropped - pinned by experiment)
        [(5, "third text", t0 + dt.timedelta(hours=3, minutes=30))],
        # batch 4: A's state is gone -> the late duplicate RE-EMITS
        [(4, "same text", t0 + dt.timedelta(hours=5))],
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # FileStreamSource orders batches by mtime

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "out")
    q = (
        native_drop_duplicates_within_watermark(
            stream, ts_col="ts", watermark="1 hour"
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(300)
    out = sorted(
        (r["key"], r["event_ts"]) for r in spark.read.parquet(sink).collect()
    )
    # first arrival of batch 1 (either key 1 or 2 - arrival order within
    # a batch picks it), the two new fingerprints, and the RE-EMITTED
    # duplicate from batch 4 (A's state evicted after batch 3)
    assert len(out) == 4
    assert out[0][0] in ("1", "2") and out[0][1] == t0
    assert out[1] == ("3", t0 + dt.timedelta(hours=3))
    assert out[2] == ("4", t0 + dt.timedelta(hours=5))
    assert out[3] == ("5", t0 + dt.timedelta(hours=3, minutes=30))


def test_stream_static_enrich_is_stateless_broadcast(spark, tmp_path):
    """The stream-static join must plan as a broadcast hash join and
    contribute NO state operator — the only stateful operator in the
    query is the downstream windowed rollup."""
    import datetime as dt

    from validate_spark.streaming.enrich import (
        stream_static_enrich,
        windowed_segment_rollup,
    )

    t0 = dt.datetime(2024, 1, 1, 6, 0)
    ev = spark.createDataFrame(
        [(1, t0, 10.0), (2, t0, 20.0), (1, t0 + dt.timedelta(days=1), 5.0),
         (99, t0, 1.0)],  # no dimension row -> inner join drops it
        "uid long, ts timestamp, value double",
    )
    dim = spark.createDataFrame(
        [(1, "A"), (2, "B")], "k long, seg string"
    )
    # batch path: same expression, broadcast plan asserted
    b = windowed_segment_rollup(
        stream_static_enrich(ev, dim, key="uid", dim_key="k", dim_cols=["seg"]),
        ts_col="ts", segment_col="seg", window="1 day", value_col="value",
    )
    got = {(str(r["window_start"]), r["segment"], r["n_events"], r["sum_value"])
           for r in b.collect()}
    assert got == {
        ("2024-01-01 00:00:00", "A", 1, 10.0),
        ("2024-01-01 00:00:00", "B", 1, 20.0),
        ("2024-01-02 00:00:00", "A", 1, 5.0),
    }
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    # streaming path: exactly ONE state operator (the aggregation)
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    roll = windowed_segment_rollup(
        stream_static_enrich(stream, dim, key="uid", dim_key="k",
                             dim_cols=["seg"]),
        ts_col="ts", segment_col="seg", window="1 day",
        value_col="value", watermark="3650 days",
    )
    q = (roll.writeStream.format("memory").queryName("enr_t")
         .outputMode("complete").trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert all(len(p["stateOperators"]) == 1 for p in progress)
        s = {(str(r["window_start"]), r["segment"], r["n_events"], r["sum_value"])
             for r in spark.table("enr_t").collect()}
        assert s == got
    finally:
        spark.catalog.dropTempView("enr_t")


def test_foreachbatch_sink_idempotent_under_replay(spark, tmp_path):
    """foreachBatch is at-least-once: firing the SAME batch_id twice
    (the post-failure re-delivery) must not duplicate sink rows —
    dynamic partition overwrite rewrites only that batch's partition."""
    from validate_spark.streaming.validate_stream import foreach_batch_validator

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "")], "doc_id long, text string"
    )
    vp = str(tmp_path / "verdicts")
    mp = str(tmp_path / "manifest")
    proc = foreach_batch_validator(
        {"text": "required|minLen:3"},
        docs.schema,
        key_cols=["doc_id"],
        verdicts_path=vp,
        manifest_path=mp,
    )
    proc(docs, 7)
    proc(docs, 8)
    proc(docs, 7)  # replay of batch 7 after a simulated sink/commit gap
    v = spark.read.parquet(vp)
    assert v.count() == 4  # 2 rows x 2 batches, NOT 6
    assert v.groupBy("batch_id").count().count() == 2
    m = spark.read.parquet(mp)
    assert m.count() == 2  # one manifest row per batch, replay folded
    row7 = m.filter(F.col("batch_id") == 7).collect()[0]
    assert row7["n_rows"] == 2 and row7["n_fail"] == 1


def test_stateful_sessionize_timer_flush_equals_batch(spark, tmp_path):
    """Event-time-timeout path: the real key gets NO further data —
    only the sentinel key advances the watermark, so every real
    session must flush via state.hasTimedOut (timer firing on an
    empty batch). Multi-island state: one batch deposits two islands
    for the same key."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    from validate_spark.operators.temporal import sessionize
    from validate_spark.streaming.stateful_session import stateful_sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda x: t0 + dt.timedelta(seconds=x)  # noqa: E731
    schema = "user_id long, ts timestamp"
    real = [(1, s(0)), (1, s(60)), (1, s(10_000)),   # two islands, gap 3600
            (2, s(5))]
    src = str(tmp_path / "ev")
    spark.createDataFrame(real, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    for i, year in enumerate((2200, 2210, 2220)):
        time.sleep(0.3)
        spark.createDataFrame(
            [(-999, dt.datetime(year, 1, 1))], schema
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    sess = stateful_sessionize(
        stream, key_col="user_id", ts_col="ts",
        gap_s=3600, watermark="3650 days",
    )
    q = (sess.writeStream.format("memory").queryName("t_ss159")
         .outputMode("append").trigger(availableNow=True).start())
    while q.isActive:
        q.awaitTermination(2)
    got = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("t_ss159").filter(F.col("key") != -999).collect()
    }
    batch = {
        (r["user"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(
            spark.createDataFrame(real, schema), "user_id", "ts",
            gap="3600 seconds",
        ).collect()
    }
    assert got == batch
    assert len(got) == 3  # two islands for key 1, one for key 2


def test_stateful_sessionize_rocksdb_provider(spark, tmp_path):
    """The same custom stateful operator under the RocksDB state-store
    provider — the production setting for large keyed state at 100-TB
    scale (sessionization / stream-stream joins hold state far beyond
    executor heap; the default HDFS-backed store keeps every version
    in memory). The provider is a query-start conf, so setting it
    around .start() is enough; output must be byte-identical to the
    default provider's."""
    import datetime as dt
    import time

    from validate_spark.streaming.stateful_session import stateful_sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda x: t0 + dt.timedelta(seconds=x)  # noqa: E731
    schema = "user_id long, ts timestamp"
    real = [(1, s(0)), (1, s(60)), (1, s(10_000)), (2, s(5))]
    src = str(tmp_path / "ev")
    spark.createDataFrame(real, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    for year in (2200, 2210, 2220):
        time.sleep(0.3)
        spark.createDataFrame(
            [(-999, dt.datetime(year, 1, 1))], schema
        ).coalesce(1).write.mode("append").parquet(src)

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sess = stateful_sessionize(
            stream, key_col="user_id", ts_col="ts",
            gap_s=3600, watermark="3650 days",
        )
        q = (sess.writeStream.format("memory").queryName("t_ss_rocks")
             .outputMode("append").trigger(availableNow=True).start())
        while q.isActive:
            q.awaitTermination(2)
    finally:
        spark.conf.set(key, old)
    got = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("t_ss_rocks").filter(F.col("key") != -999).collect()
    }
    expected = {
        (1, s(0), s(60), 2),
        (1, s(10_000), s(10_000), 1),
        (2, s(5), s(5), 1),
    }
    assert got == expected


def test_write_chunks_parallel_order_and_content(spark, tmp_path):
    """_write_chunks (the r6 streaming-fixture writer) must preserve
    the TWO properties the fixtures rely on: (1) chunk ORDER — the
    file stream source sorts by mtime, and order-dependent fixtures
    (q221's batch-id replay fence) need slot order ≡ list order even
    though the writes themselves overlap in a thread pool; (2) exact
    content — one part file per chunk, all rows present."""
    import __spark_entry__ as em

    src = str(tmp_path / "chunks")
    frames = [
        spark.range(10 * i, 10 * i + 5).select(F.col("id").alias("v"))
        for i in range(4)
    ]
    em._write_chunks({src: frames})

    part_files = sorted(
        f for f in os.listdir(src) if not f.startswith(("_", "."))
    )
    assert len(part_files) == 4
    # mtimes strictly increase in slot order (slot is the name prefix)
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in part_files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    # each slot file carries exactly its frame's rows
    for i, f in enumerate(part_files):
        assert f.startswith(f"chunk{i:03d}-")
        got = {
            r["v"]
            for r in spark.read.parquet(os.path.join(src, f)).collect()
        }
        assert got == set(range(10 * i, 10 * i + 5))
    # no staging dirs left behind
    assert not [d for d in os.listdir(tmp_path) if "__stage" in d]


def test_write_chunks_empty(tmp_path):
    """No chunks writes nothing (an empty dict once built a
    zero-worker pool and raised)."""
    import __spark_entry__ as em

    em._write_chunks({})
    src = str(tmp_path / "chunks")
    em._write_chunks({src: []})
    assert os.listdir(src) == []
