"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship interleaved-documents validation;
`queries()` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-pipeline extensions); `oracle_sql()` gives
the DuckDB-equivalent SQL for every SQL-expressible query. Hash-
portability rule: every hash whose VALUE crosses the engine boundary
(fingerprints, media bytes) is md5 — identical hex in Spark and DuckDB.
The MinHash-LSH pipeline hashes internally with seeded xxhash64; its
oracle instead recomputes the expected OUTPUT pairs with an exhaustive
exact-Jaccard join, so the approximate pipeline is still value-checked
exactly, not just row-counted.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from validate_spark import RuleSet, validate
from validate_spark.operators import stats as st
from validate_spark.operators import uniq as uq
from validate_spark.operators import refcheck as rc
from validate_spark.operators import dedup as dd
from validate_spark.operators import similarity as sim
from validate_spark.operators import textstats as ts
from validate_spark.operators import multimodal as mm
from validate_spark.sources.synth import synth_documents, synth_media_catalog
from validate_spark.session import fan_out as _fan


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _lit_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small literal input frame as a JVM/Arrow-backed relation.

    A plain ``createDataFrame(list)`` parallelizes the rows over
    defaultParallelism PYTHON slices, and every consuming action
    re-pays a Python-runner scan of all slices (~0.3-0.5 s per action
    measured r6; ~5 s when a coalesce(1) serializes the slice reads —
    the q148/q159 sentinel lesson). The pandas/Arrow path converts
    ONCE at build time and every scan is JVM-side."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows), schema=schema)


def _rows_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Materialized result rows (memory-sink collects) as a JVM/Arrow-
    backed frame. ``createDataFrame(rows)`` builds a 32-slice Python
    RDD that re-pays a Python-runner scan per consuming action (the
    `_lit_df` mechanism); for scalar-only schemas the rows convert
    once through pandas/Arrow instead. Timestamp handling is identical
    to the RDD path (both interpret naive datetimes in the driver
    session zone), and complex schemas keep the original path."""
    from pyspark.sql import types as T

    if rows and all(
        isinstance(f.dataType, T.AtomicType) for f in schema.fields
    ):
        import pandas as pd

        pdf = pd.DataFrame(
            [tuple(r) for r in rows],
            columns=[f.name for f in schema.fields],
            dtype=object,
        )
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(rows, schema)


def _write_chunks(chunks: dict[str, list[DataFrame]]) -> None:
    """Write ordered chunk files for the file-source streaming fixtures.

    Two r6 wall-clock sinks removed at once (guide §2.6, §1.2):

    - **Chunk ORDER is stamped, not slept.** The file stream source
      orders files by modification time, so determinism used to be
      bought with a real ``time.sleep(0.3)`` between writes (~1.8 s
      per fixture) or by relying on sequential writes landing ms
      apart. An explicit ``os.utime`` stamp — strictly increasing
      full-second slots in list order — gives the same order
      collision-free and for free. Order-dependent fixtures (q221's
      batch-id replay fence re-fires CHUNK 0 as BATCH 0) keep their
      exact current semantics because slot order ≡ the old sequential
      write order.
    - **The writes overlap.** Each chunk is an independent single-task
      job costing ~0.2-0.9 s of job-launch + scan overhead on the
      kilobyte fixtures; submitted sequentially they serialize that
      overhead. All chunks across all target dirs go through one
      thread pool (actions are only sequential because the driver
      calls them sequentially — guide §2.6). Concurrent jobs must not
      share an output path (FileOutputCommitter stages under a
      per-path ``_temporary`` dir), so each chunk writes to its own
      staging dir and the part file is moved into place afterwards.

    ``maxFileAge`` (7 days, relative to the newest listed file) can
    never age a chunk out: all slots sit within seconds of each other,
    anchored an hour before wall clock. Write each directory's chunks
    in ONE call: the slots restart at that anchor on every call, so a
    second call on a directory would not order its chunks after the
    first call's. No chunks (an empty dict or empty lists) writes
    nothing."""
    import shutil
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    base = int(_time.time()) - 3600
    tasks = []
    for src, frames in chunks.items():
        os.makedirs(src, exist_ok=True)
        for i, frame in enumerate(frames):
            tasks.append((src, i, frame))
    if not tasks:
        return

    def _one(task):
        src, i, frame = task
        stage = f"{src}.__stage{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(stage)
        for f in sorted(os.listdir(stage)):
            if f.startswith(("_", ".")):
                continue
            dst = os.path.join(src, f"chunk{i:03d}-{f}")
            os.rename(os.path.join(stage, f), dst)
            os.utime(dst, (base + i, base + i))
        shutil.rmtree(stage, ignore_errors=True)

    with ThreadPoolExecutor(max_workers=min(len(tasks), 8)) as pool:
        list(pool.map(_one, tasks))


def _streaming_fixture(fn):
    """Run a Structured Streaming FIXTURE query under 4 shuffle
    partitions (session.low_shuffle): stateful streaming wall time on a
    kilobyte fixture is ~95% empty state-store setup/commit — one store
    per shuffle partition per micro-batch per stateful operator side.
    Output values are partition-count independent (deterministic
    aggregations/joins); only the harness overhead drops. The stream
    runs to completion INSIDE the wrapped builder (availableNow +
    memory/parquet sink), so restoring the conf afterwards never
    re-plans a live query. Production sizing note in low_shuffle's
    docstring."""
    import functools

    from validate_spark.session import low_shuffle

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        with low_shuffle(spark, 4):
            return fn(spark, sf_dir)

    return wrapped


# ---------------------------------------------------------------------------
# rule sets
# ---------------------------------------------------------------------------

DOC_RULES = RuleSet(
    rules={
        "doc_id": "required",
        "text": "required|minLength:100",
        "lang": "required|enum:en,de,fr,es",
        "source": "required|regexp:^src[0-9]+$",
        "n_chars": "required|min:50|max:600",
    }
)

SPANS_RULES = RuleSet(
    rules={
        "doc_id": "required|minLength:5",
        "spans": "required|minLength:1",
        "spans.*.kind": "required|enum:text,image,audio,video",
        "spans.*.offset": "min:0",
        "spans.*.media_ref": "regexp:^m-[0-9]{8}$",
    }
)


def _interleaved_from_documents(docs: DataFrame) -> DataFrame:
    """Build the input_hint interleaved table (doc_id string, spans
    array<struct<kind,text,media_ref,offset>>) DETERMINISTICALLY from
    the driver-registered ``documents`` view, with modulus-class
    violation cohorts mirroring FIXTURES.md §1 — every SPANS_RULES rule
    has failing rows, and every expression is scalar-reproducible in
    DuckDB so the flagship is value-oracled (q23).

    Cohorts (d = coalesce(doc_id, 9); 9 hits no cohort):
      d%19==0 → NULL doc_id        (required fails)
      d%19==1 → short doc_id 'dx'  (minLength:5 fails)
      d%13==0 → NULL spans         (spans + spans.*.kind required fail)
      d%13==1 → empty spans        (same)
      d%23==3 → span0 kind ''      (spans.*.kind required fails)
      d%5 ==2 → span1 kind bad     (enum fails)
      d%11==4 → span2 offset -1    (min:0 fails)
      d%7 ==0 → 6-digit media_refs (regexp fails)
    """
    d = F.coalesce(F.col("doc_id"), F.lit(9))
    kinds = F.array(F.lit("text"), F.lit("image"), F.lit("audio"))

    def span(i: int):
        # F.get + pmod: NULL-safe, negative-key-safe (Spark % keeps the
        # dividend sign; element_at would abort under ANSI on index<=0)
        base_kind = F.get(kinds, F.pmod(d + i, F.lit(3)).cast("int"))
        text = F.substring(F.coalesce(F.col("text"), F.lit("")), 1 + i * 10, 10)
        width = F.when(d % 7 == 0, F.lit(6)).otherwise(F.lit(8))
        # media_ref derives from the BASE kind (pre-override), so kind
        # cohorts don't perturb the regexp cohort
        mref = F.when(
            base_kind != "text",
            F.concat(
                F.lit("m-"),
                F.lpad(((d * 3 + i) % 100000000).cast("string"), width, "0"),
            ),
        )
        kind = base_kind
        if i == 0:
            kind = F.when(d % 23 == 3, F.lit("")).otherwise(kind)
        elif i == 1:
            kind = F.when(d % 5 == 2, F.lit("hologram")).otherwise(kind)
        off = F.lit(i)
        if i == 2:
            off = F.when(d % 11 == 4, F.lit(-1)).otherwise(F.lit(i))
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            mref.alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    spans = F.array(span(0), span(1), span(2))
    spans = (
        F.when(d % 13 == 0, F.lit(None))
        .when(d % 13 == 1, F.slice(spans, 1, 0))
        .otherwise(spans)
    )
    doc_id_str = (
        F.when(d % 19 == 0, F.lit(None).cast("string"))
        .when(d % 19 == 1, F.lit("dx"))
        .otherwise(F.concat(F.lit("doc-"), F.lpad(d.cast("string"), 8, "0")))
    )
    return docs.select(doc_id_str.alias("doc_id"), spans.alias("spans"))


def _flagship(docs: DataFrame) -> DataFrame:
    """Validate the interleaved documents table (input_hint schema):
    rule-DSL verdicts + violations summary, one pass."""
    built = _interleaved_from_documents(docs)
    res = validate(built, SPANS_RULES, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("field", "validator")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved-table validation at sf0.001 scale."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return _flagship(docs)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q01_verdicts_documents(spark, sf_dir):
    docs = _fan(_t(spark, sf_dir, "documents"))
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return (
        res.verdicts().groupBy("pass").agg(F.count(F.lit(1)).alias("n"))
    )


def q02_violations_by_rule(spark, sf_dir):
    docs = _fan(_t(spark, sf_dir, "documents"))
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q03_first_errors(spark, sf_dir):
    docs = _fan(_t(spark, sf_dir, "documents"))
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return res.first_errors().select("doc_id", "field", "validator")


def q04_filtered_safe_rows(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    rs = RuleSet(
        rules={"lang": "required|enum:EN,DE,FR,ES"},
        filters={"lang": "trim|upper"},
    )
    res = validate(docs, rs, key_cols=["doc_id"])
    return res.safe_rows().select("doc_id", "lang")


def q05_cross_field_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    rs = RuleSet(rules={"value": "required|ltField:user_id"})
    res = validate(ev, rs, key_cols=["event_id"])
    return res.verdicts().groupBy("pass").agg(F.count(F.lit(1)).alias("n"))


def q06_column_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    s = st.column_stats(docs, ["doc_id", "text", "lang", "n_chars"], approx_distinct=False)
    return s.select(
        "column",
        "n",
        "n_null",
        F.round("null_rate", 6).alias("null_rate"),
        "n_empty",
        F.round("avg_len", 4).alias("avg_len"),
        "min_str",
        "max_str",
        "n_distinct",
    )


def q07_duplicate_keys(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return uq.duplicate_keys(ev, ["user_id", "event_type"])


def q08_uniqueness_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return uq.uniqueness_report(docs, "doc_id")


def q09_ref_integrity(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    dangling = rc.dangling_refs(orders, "o_custkey", cust, "c_custkey")
    n_refs = orders.filter(F.col("o_custkey").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_refs")
    )
    n_d = dangling.agg(F.count(F.lit(1)).alias("n_dangling"))
    return n_refs.crossJoin(n_d)


def q10_length_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return st.length_histogram(docs, "text", bucket_width=50, max_buckets=64)


def q11_drift_histograms(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    even = st.numeric_histogram(ev.filter(F.col("event_id") % 2 == 0), "value", lo=0.0, hi=500.0, n_buckets=25)
    odd = st.numeric_histogram(ev.filter(F.col("event_id") % 2 == 1), "value", lo=0.0, hi=500.0, n_buckets=25)
    return (
        even.withColumnRenamed("cnt", "cnt_even")
        .join(odd.withColumnRenamed("cnt", "cnt_odd"), "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("cnt_even", F.lit(0)).alias("cnt_even"),
            F.coalesce("cnt_odd", F.lit(0)).alias("cnt_odd"),
        )
    )


def q12_text_annotate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ts.annotate(docs).select(
        "doc_id", "lang_pred", "n_tokens_ws", "n_tokens_bpe", "quality", "fp"
    )


def q13_lang_distribution(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(ts.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q14_token_totals(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.agg(
        F.sum(ts.whitespace_token_count(t).cast("long")).alias("sum_tokens_ws"),
        F.sum(ts.bpe_token_count(t).cast("long")).alias("sum_tokens_bpe"),
        F.round(F.avg(ts.quality_score(t)), 4).alias("avg_quality"),
    )


def _doubled_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionAll(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )


def q15_exact_dedup(spark, sf_dir):
    """Exact-dup report incl. the CAPPED key sample + truncation counter
    (the unbounded per-fingerprint collect_list was a skew OOM at
    100 TB). Arrays comma-join to strings for the value-hash compare."""
    return dd.exact_duplicates(_doubled_docs(spark, sf_dir), max_keys=100).select(
        "fp",
        "dup_count",
        "keep_key",
        F.array_join("dup_keys", ",").alias("dup_keys"),
        "n_truncated",
    )


def q16_minhash_lsh_dedup(spark, sf_dir):
    pairs = dd.minhash_dedup_pairs(_doubled_docs(spark, sf_dir), threshold=0.99)
    return pairs.select("a", "b")


def q17_simhash_dedup(spark, sf_dir):
    """Signature-equal pairs through the pigeonhole chunk buckets. The
    md5-token-vote SimHash is engine-portable, so the DuckDB oracle
    recomputes every signature and enumerates ALL equal pairs
    exhaustively — proving the bucketed pair generation has full recall
    at hamming 0 (incl. genuine signature collisions)."""
    return dd.simhash_candidates(_doubled_docs(spark, sf_dir), max_hamming=0).select(
        "a", "b"
    )


def q44_ngram_jaccard(spark, sf_dir):
    """Exact token-3-gram Jaccard similarity join (prefix-filtered
    AllPairs — no signatures): output pairs verified against the
    exhaustive O(n²) exact-Jaccard oracle, proving full prefix-filter
    recall at the threshold."""
    pairs = dd.ngram_jaccard_pairs(
        _doubled_docs(spark, sf_dir), n=3, threshold=0.9
    )
    return pairs.select("a", "b", "jaccard")


def q45_rule_suggestions(spark, sf_dir):
    """Learned baseline rules from a trusted snapshot (suggest_rules):
    one distributed profiling pass → (field, rule) rows. The oracle
    recomputes the same profile thresholds in SQL. Float columns are
    excluded by design here: Python's repr and SQL varchar casts of
    doubles differ in edge formatting, and rule strings are compared
    byte-exact."""
    from validate_spark.operators.suggest import suggest_rules

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_nationkey"
    )
    rs = suggest_rules(cust)
    rows = sorted(rs.rules.items())
    return spark.createDataFrame(rows, "field string, rule string")


def _doubled_emb(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.unionAll(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )


def _mixed_emb(spark, sf_dir):
    """_doubled_emb + 50 BLENDED vectors (v_i + v_{i+1}, elementwise —
    cos ≈ 0.71 to each parent): populates the moderate-similarity band
    that exact doubling cannot, so q238's multi-table recall claim is
    measured on pairs that actually exist."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("_e2")
    )
    mixed = (
        emb.join(nxt, "vec_id")
        .filter(F.col("vec_id") < 50)
        .select(
            (F.col("vec_id") + 2000000).alias("vec_id"),
            F.zip_with(
                "embedding",
                "_e2",
                lambda x, y: x.cast("double") + y.cast("double"),
            ).alias("embedding"),
        )
    )
    return _doubled_emb(spark, sf_dir).unionByName(mixed)


def q18_embedding_neardup(spark, sf_dir):
    # dim=64: the fixture embedding column is uniformly 64-wide with
    # finite elements (all SFs) — routes the scorer to the blocked
    # numpy kernel; pair set identical to the fold-join form
    return dd.embedding_neardup_pairs(
        _doubled_emb(spark, sf_dir), threshold=0.99, dim=64
    )


def q19_ann_brute_force(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.brute_force_topk(emb, q, k=10)


def q20_ann_ivf_full_probe(spark, sf_dir):
    # IVF with nprobe = n_centroids probes every bucket → must equal exact
    # top-k; validates the bucket/probe plumbing against the same oracle.
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = sim.sample_centroids(emb, 4)
    return sim.ivf_topk(emb, q, cents, k=10, nprobe=4)


def q21_media_metadata(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = mm.media_metadata(mm.attach_fake_media(docs))
    return m.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )


def q22_media_features(spark, sf_dir):
    """The decode stub is deterministic md5 math, so the DuckDB oracle
    reproduces every feature value — what this checks end-to-end is the
    mapInPandas plumbing (Arrow batches, output schema, batch shape)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    feats = mm.extract_media_features(mm.attach_fake_media(docs))
    return feats.select(
        "doc_id",
        "mime",
        "n_bytes",
        F.round("feat_mean", 6).alias("feat_mean"),
        F.round("feat_std", 6).alias("feat_std"),
        "n_frames",
    )


KITCHEN_RULES = RuleSet(
    rules={
        "event_id": "required|isInt",
        "ts_str": "required|isDate|dateFormat:yyyy-MM-dd HH:mm:ss|beforeDate:2024-01-15",
        "event_type": "required|isAlpha|stringLength:5,8|notIn:purchase",
        "value": "required|between:0,400",
        "props": "required|isJSON|startsWith:{|contains:9",
        "uid_str": "required|isNumber|maxLength:3",
    }
)


def _events_kitchen(spark, sf_dir):
    ev = _fan(_t(spark, sf_dir, "events"))
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "event_type",
        "value",
        "props",
        F.col("user_id").cast("string").alias("uid_str"),
    )


def q24_events_kitchen_sink(spark, sf_dir):
    """Broad validator-family coverage in one rule set: type checks,
    date parsing/compare, regex/format, membership, string length,
    range — violations rolled up per rule."""
    res = validate(_events_kitchen(spark, sf_dir), KITCHEN_RULES, key_cols=["event_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q25_filter_chain_safe(spark, sf_dir):
    """Filter chain (trim|lower|ucFirst) + rules on the FILTERED value;
    safe rows carry the cleaned value (reference Filtering() then
    safeData, validation.go:503-518, 180-198)."""
    cust = _t(spark, sf_dir, "customer")
    rs = RuleSet(
        rules={"c_mktsegment": "required|isAlpha|stringLength:5,9"},
        filters={"c_mktsegment": "trim|lower|ucFirst"},
    )
    res = validate(cust, rs, key_cols=["c_custkey"])
    return res.safe_rows().select("c_custkey", "c_mktsegment")


def q23_spans_validation(spark, sf_dir):
    """Flagship on an interleaved table built deterministically from the
    registered ``documents`` view — DuckDB recomputes the violation
    counts per cohort, so the flagship is value-oracled."""
    return _flagship(_fan(_t(spark, sf_dir, "documents")))


def q26_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → connected components (min-label propagation):
    the cluster assignment a dedup pipeline actually consumes."""
    pairs = dd.minhash_dedup_pairs(_doubled_docs(spark, sf_dir), threshold=0.99)
    return dd.dedup_clusters(pairs)


def q27_partition_manifest(spark, sf_dir):
    """Per-partition lineage manifest rows. Partition ids are
    content-defined from md5 (boundary-crossing hashes are md5 by repo
    rule), so the DuckDB oracle recomputes them exactly; ruleset_hash
    is deterministic (sha256 of the rule set) and compared as a
    literal."""
    from validate_spark.operators.manifest import partition_manifest, with_partition_id

    docs = with_partition_id(_t(spark, sf_dir, "documents"), "doc_id", 16)
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return partition_manifest(res, run_id="r0").select(
        "part_id", "ruleset_hash", "n_rows", "n_pass", "n_fail", "n_violations", "verdict"
    )


def q28_violation_messages(spark, sf_dir):
    """Violations WITH rendered messages — the reference's Errors map
    (field → validator → message) as rows; the oracle embeds the same
    compile-time-rendered message literals."""
    res = validate(_fan(_t(spark, sf_dir, "documents")), DOC_RULES, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator", "message")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q46_default_substitution(spark, sf_dir):
    """default:v + CheckDefault=false (reference default): empty values
    take the default WITHOUT re-validating it, non-empty values validate
    normally — safe rows carry the substituted value. The oracle mirrors
    the substitution + conditional-validation gate in SQL."""
    ev = _fan(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.when(F.col("value") > 250, F.col("event_type")).alias("etype"),
    )
    rs = RuleSet(rules={"etype": "default:unk|required|stringLength:5,9"})
    res = validate(ev, rs, key_cols=["event_id"])
    return (
        res.safe_rows()
        .groupBy("etype")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q29_required_family(spark, sf_dir):
    """Cross-field presence family (requiredIf / requiredWith) over
    derived nullable columns + default substitution."""
    ev = _fan(_t(spark, sf_dir, "events"))
    derived = ev.select(
        "event_id",
        "event_type",
        "value",
        F.when((F.col("event_type") == "purchase") & (F.col("value") > 50), F.col("value"))
        .alias("purchase_value"),
        F.when(F.col("value") > 250, F.col("props")).alias("big_props"),
    )
    rs = RuleSet(
        rules={
            "purchase_value": "requiredIf:event_type,purchase",
            "big_props": "requiredWith:purchase_value",
        }
    )
    res = validate(derived, rs, key_cols=["event_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q30_json_validation(spark, sf_dir):
    """Rules on fields INSIDE a JSON column (FromJSON/MapData parity,
    validate.go:345-364): parse once, dotted-path rules."""
    from validate_spark.sources.jsonsrc import validate_json

    ev = _fan(_t(spark, sf_dir, "events"))
    res = validate_json(
        ev, "props", "k int", {"k": "required|min:10|max:95"}, key_cols=["event_id"]
    )
    return (
        res.violations()
        .select(
            F.regexp_replace("field", r"^_doc\.", "").alias("field"),
            "validator",
        )
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _format_gauntlet(spark, sf_dir):
    """Deterministic derived columns exercising the regex/format family."""
    d = _fan(_t(spark, sf_dir, "documents"))
    i = F.col("doc_id")
    h = F.md5(i.cast("string"))
    email = F.when(i % 7 == 0, F.lit("bad email @@")).otherwise(
        F.concat("source", F.lit("@"), "lang", F.lit(".example.com"))
    )
    uuid = F.when(i % 5 == 0, F.lit("not-a-uuid")).otherwise(
        F.concat(
            F.substring(h, 1, 8), F.lit("-"), F.substring(h, 9, 4), F.lit("-4"),
            F.substring(h, 14, 3), F.lit("-a"), F.substring(h, 18, 3), F.lit("-"),
            F.substring(h, 21, 12),
        )
    )
    ip = F.when(i % 11 == 0, F.lit("999.1.2.3")).otherwise(
        F.concat_ws(
            ".",
            (i % 256).cast("string"),
            ((i * 7) % 256).cast("string"),
            ((i * 13) % 256).cast("string"),
            (i % 200 + 1).cast("string"),
        )
    )
    mac = F.when(i % 13 == 0, F.lit("zz:zz:zz:zz:zz:zz")).otherwise(
        F.concat_ws(
            ":", *[F.substring(h, 1 + 2 * j, 2) for j in range(6)]
        )
    )
    b64 = F.when(i % 17 == 0, F.lit("!!notbase64!!")).otherwise(
        F.base64(F.encode("source", "utf-8"))
    )
    return d.select(
        "doc_id",
        email.alias("email"),
        uuid.alias("uuid"),
        ip.alias("ip"),
        mac.alias("mac"),
        b64.alias("b64"),
    )


def q31_format_gauntlet(spark, sf_dir):
    """Regex/format validator family (§2.6) oracle coverage: email,
    UUID4, IPv4, MAC, base64 over derived columns with seeded bad rows."""
    rs = RuleSet(
        rules={
            "email": "email",
            "uuid": "uuid4",
            "ip": "ipv4",
            "mac": "mac",
            "b64": "base64",
        }
    )
    res = validate(_format_gauntlet(spark, sf_dir), rs, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q32_date_gauntlet(spark, sf_dir):
    """Date validator family (§2.7: isDate / afterOrEqualDate /
    beforeDate) over string dates derived from orders."""
    od = _fan(_t(spark, sf_dir, "orders")).select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate")
    )
    rs = RuleSet(
        rules={"odate": "required|date|gteDate:1995-06-01|ltDate:1997-06-30"}
    )
    res = validate(od, rs, key_cols=["o_orderkey"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _form_requests(spark, sf_dir):
    """Deterministic query-string log derived from customer — the
    vectorized FromQuery staging path (validate.go:471-490): encode →
    str_to_map/url_decode parse → bracket-key nested struct →
    filter-cast → validate. The oracle reads the ORIGINAL columns, so
    the whole encode/parse/cast path is value-checked."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.lit("name="),
            F.url_encode(F.col("c_name")),
            F.lit("&acct%5Bbal%5D="),
            F.col("c_acctbal").cast("string"),
            F.lit("&seg="),
            F.url_encode(F.col("c_mktsegment")),
        ).alias("q"),
    )


def q33_form_staging(spark, sf_dir):
    from validate_spark.sources.formsrc import validate_form

    rs = RuleSet(
        rules={
            "name": "required|startsWith:Customer",
            "acct.bal": "required|min:0",
            "seg": "required|enum:BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD,FURNITURE",
        },
        filters={"acct.bal": "float"},
    )
    res = validate_form(_form_requests(spark, sf_dir), "q", rs, key_cols=["c_custkey"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q47_request_log(spark, sf_dir):
    """FromRequest parity (validate.go:410-465) over a request log:
    rows round-robin between GET/query, POST+JSON body, and
    POST+urlencoded body carrying the SAME underlying values; the
    oracle reads the original columns, so a dispatch break in ANY
    branch surfaces as spurious required-violations."""
    from validate_spark.sources.requestsrc import validate_request_log

    c = _t(spark, sf_dir, "customer")
    enc_q = F.concat(
        F.lit("name="), F.url_encode(F.col("c_name")),
        F.lit("&seg="), F.url_encode(F.col("c_mktsegment")),
    )
    body_json = F.to_json(
        F.struct(F.col("c_name").alias("name"), F.col("c_mktsegment").alias("seg"))
    )
    branch = F.pmod(F.col("c_custkey"), F.lit(3))
    log = c.select(
        "c_custkey",
        F.when(branch == 0, F.lit("GET")).otherwise(F.lit("POST")).alias("method"),
        F.when(branch == 1, F.lit("application/json"))
        .when(branch == 2, F.lit("application/x-www-form-urlencoded"))
        .alias("content_type"),
        F.when(branch == 0, enc_q).otherwise(F.lit("")).alias("query"),
        F.when(branch == 1, body_json)
        .when(branch == 2, enc_q)
        .alias("body"),
    )
    res = validate_request_log(
        log,
        {
            "name": "required|startsWith:Customer",
            "seg": "required|enum:BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD",
        },
        key_cols=["c_custkey"],
    )
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_streaming_fixture
def q48_streaming_manifest(spark, sf_dir):
    """Structured Streaming surface, value-oracled end-to-end: the
    documents table is split into 4 deterministic chunk files
    (doc_id%4), streamed back with maxFilesPerTrigger=1 under an
    availableNow trigger (4 micro-batches), validated per batch by
    ``foreach_batch_validator`` (one pre-compiled plan, per-batch
    lineage manifest rows), and the manifest is rolled up to totals —
    which DuckDB recomputes directly from the table. The rollup is
    batch-boundary-independent, so the oracle holds at any chunking;
    n_batches pins the 4-file split."""
    import shutil
    import tempfile

    from validate_spark.streaming.validate_stream import foreach_batch_validator

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q48_")
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    docs.filter(
                        F.pmod(
                            F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(4)
                        )
                        == i
                    )
                    for i in range(4)
                ]
            }
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        man_path = f"{tmp}/manifest"
        cb = foreach_batch_validator(
            DOC_RULES, docs.schema, key_cols=["doc_id"], manifest_path=man_path
        )
        q = (
            stream.writeStream.foreachBatch(cb)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.read.parquet(man_path).agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_pass").alias("n_pass"),
            F.sum("n_fail").alias("n_fail"),
            F.sum("n_violations").alias("n_violations"),
            F.min(F.col("verdict").cast("int")).cast("boolean").alias("all_pass"),
        )
        # materialize before the temp dirs go away — one row
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q49_decontamination(spark, sf_dir):
    """Benchmark-contamination screen (operators/decontam.py): the
    'benchmark' is the deterministic doc_id%37==0 subset of documents,
    its distinct word-3-grams broadcast against the exploded corpus
    gram stream; DuckDB replays the gram build and union-membership
    per doc, so every (n_grams, n_hit, overlap, contaminated) value is
    hash-checked."""
    from validate_spark.operators.decontam import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    return contamination_report(docs, bench, n=3, threshold=0.5)


def q50_pii_scrub(spark, sf_dir):
    """PII scrubbing through the filter-chain surface: a deterministic
    PII-laced note per customer is cleaned by scrubEmail|scrubUrl|
    scrubPhone and returned via updated_rows(); the patterns live in
    the Java∩RE2 common dialect, so DuckDB applies the identical
    regexes and the scrubbed strings match byte-for-byte."""
    cust = _fan(_t(spark, sf_dir, "customer"))
    key = F.col("c_custkey").cast("string")
    note = F.concat(
        F.lit("contact "),
        F.coalesce(F.col("c_name"), F.lit("")),
        F.lit(" at user"), key,
        F.lit("@example.com or https://ex.com/u/"), key,
        F.lit(" tel +1 (555) 010-"),
        F.lpad(F.pmod(F.col("c_custkey"), F.lit(10000)).cast("string"), 4, "0"),
    )
    raw = cust.select("c_custkey", note.alias("note"))
    rs = RuleSet(
        rules={"note": "required"},
        filters={"note": "scrubEmail|scrubUrl|scrubPhone"},
    )
    res = validate(raw, rs, key_cols=["c_custkey"])
    return res.updated_rows().select("c_custkey", "note", "pass")


def q51_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (operators/sampling.py):
    md5-gated, so the DuckDB oracle recomputes the exact selection —
    the same rows on every run/replay/engine. The fractions dict
    doubles as an allowlist (es/fr absent → dropped)."""
    from validate_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    samp = stratified_sample(
        docs, "lang", {"en": 0.25, "de": 0.5, "zh": 1.0}, "doc_id", seed=7
    )
    return samp.select("doc_id", "lang")


def q52_embedding_quality(spark, sf_dir):
    """Vector validator family (arrayDim / allFinite / l2NormBetween)
    over the embeddings table, with deterministic per-cohort damage so
    every rule fires: NULL vectors (required), truncated dims, an
    injected NaN, and a 2x-scaled (norm-2) cohort. DuckDB rebuilds the
    same damaged vectors with list ops and re-evaluates every predicate
    — including the left-fold double-cast L2 norm — value-exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    d = F.col("vec_id")
    e = F.col("embedding")
    damaged = (
        F.when(d % 17 == 0, F.lit(None))
        .when(d % 13 == 0, F.slice(e, 1, 32))
        .when(
            d % 11 == 0,
            F.concat(
                F.slice(e, 1, 63),
                F.array(F.lit(float("nan")).cast("float")),
            ),
        )
        .when(d % 9 == 0, F.transform(e, lambda x: (x * 2).cast("float")))
        .otherwise(e)
    )
    df = emb.select("vec_id", damaged.alias("embedding"))
    rs = RuleSet(
        rules={"embedding": "required|arrayDim:64|allFinite|l2NormBetween:0.9,1.1"}
    )
    res = validate(df, rs, key_cols=["vec_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q53_repetition_signals(spark, sf_dir):
    """Gopher-style repetition/quality heuristics per doc
    (operators/textstats.repetition_signals) — type-token ratio,
    duplicate bi/trigram fractions, mean word length, and a
    ``repetitive`` flag; every value recomputed in DuckDB with list
    ops, rounded to 6 in both engines."""
    from validate_spark.operators.textstats import annotate_repetition

    docs = _t(spark, sf_dir, "documents")
    ann = annotate_repetition(docs)
    return ann.select(
        "doc_id",
        "n_tokens",
        "type_token_ratio",
        "dup_bigram_frac",
        "dup_trigram_frac",
        "mean_word_len",
        (F.col("dup_trigram_frac") >= F.lit(0.1)).alias("repetitive"),
    )


def q54_dedup_retained(spark, sf_dir):
    """End of the dedup pipeline: near-dup pairs → connected components
    → retain one canonical doc per cluster (dedup_retain anti-join) +
    all singletons. The oracle replays the q26 recursive transitive
    closure and subtracts the non-canonical members."""
    corpus = _doubled_docs(spark, sf_dir)
    pairs = dd.minhash_dedup_pairs(corpus, threshold=0.99)
    kept = dd.dedup_retain(corpus, dd.dedup_clusters(pairs))
    return kept.select(F.col("doc_id").cast("string").alias("doc_id"))


def q55_drift_psi(spark, sf_dir):
    """Population Stability Index between two event cohorts on shared
    value buckets — per-bucket smoothed contributions plus the rolled-up
    PSI and the >0.2 drift flag, every number recomputed in DuckDB
    (same smoothing, same ln)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.select(
        (F.col("event_id") % 2 == 0).alias("is_ref"),
        F.least(F.lit(19), F.floor(F.col("value") / 25)).cast("int").alias("bucket"),
    )
    h = d.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = h.agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).alias("k"),
    )
    j = h.crossJoin(F.broadcast(tot))
    s = F.lit(0.5)
    p = (F.col("n_ref") + s) / (F.col("t_ref") + s * F.col("k"))
    q = (F.col("n_cur") + s) / (F.col("t_cur") + s * F.col("k"))
    contrib = (p - q) * F.log(p / q)
    per_bucket = j.select(
        "bucket",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(contrib, 6).alias("psi_contrib"),
    )
    total = per_bucket.agg(F.round(F.sum("psi_contrib"), 6).alias("c")).collect()[0]["c"]
    return per_bucket.withColumn("psi_total", F.lit(float(total))).withColumn(
        "drifted", F.lit(bool(total > 0.2))
    )


@_streaming_fixture
def q56_streaming_stateful_dedup(spark, sf_dir):
    """The custom STATEFUL streaming operator, value-oracled: the
    doubled corpus (every fingerprint appears ≥2×) is streamed as 4
    chunk files; ``stateful_drop_duplicates`` (applyInPandasWithState,
    state keyed by content fingerprint) emits each fingerprint exactly
    once across batches. The emitted fingerprint SET is micro-batch-
    order independent, so DuckDB recomputes it as the distinct md5
    fingerprints of the corpus."""
    import shutil
    import tempfile

    from validate_spark.streaming.stateful_dedup import stateful_drop_duplicates

    corpus = _doubled_docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="vs_stream_q56_")
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    corpus.filter(
                        F.pmod(
                            F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(4)
                        )
                        == i
                    )
                    for i in range(4)
                ]
            }
        )
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = f"{tmp}/out"
        q = (
            stateful_drop_duplicates(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(300)
        res = spark.read.parquet(sink).select("fp")
        rows = res.collect()  # materialize before the temp dir goes away
        return _rows_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q57_map_wildcard_validation(spark, sf_dir):
    """MapType rule paths under the oracle gate (previously pytest-only):
    ``attrs.*`` validates every map VALUE (reference map-wildcard
    semantics, struct_rules.go:456-491), ``attrs.key`` is a plain key
    path into the map. The map is built from literal distinct keys
    (never from untrusted data — the mapKeyDedupPolicy rule), with
    deterministic damage cohorts; DuckDB re-evaluates each value's
    predicate explicitly."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = (
        F.when(k % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name"))
    )
    seg = (
        F.when(k % 5 == 0, F.substring(F.col("c_mktsegment"), 1, 1))
        .otherwise(F.col("c_mktsegment"))
    )
    m = F.create_map(
        F.lit("name"), name,
        F.lit("seg"), seg,
        F.lit("key"), k.cast("string"),
    )
    df = cust.select("c_custkey", m.alias("attrs"))
    rs = RuleSet(
        rules={"attrs.*": "required|minLength:2", "attrs.key": "isIntString"}
    )
    res = validate(df, rs, key_cols=["c_custkey"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q58_instance_overlay_validation(spark, sf_dir):
    """Per-instance validator overlay under the oracle gate (instance
    AddValidator, validation.go:387-411; previously pytest-only): a
    rule set carries its own ``divBy`` builder without touching the
    global registry, and DuckDB re-evaluates the custom predicate."""
    ev = _t(spark, sf_dir, "events")

    def div_by(col, args, ctx):
        return col % int(args[0]) == 0

    rs = RuleSet(
        rules={"user_id": "required|divBy:3"},
        validators={"divBy": div_by},
    )
    res = validate(ev, rs, key_cols=["event_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# (field, rule-as-written, canonical validator, bad-seed modulo) for the
# second format gauntlet — every §2.6 validator q31 left pytest-only.
# All are pure-regex validators except isURL (parse_url-based; the
# seeds below keep every value decidable by its regex-free disjuncts —
# good values contain '.', bad values have whitespace or neither dot
# nor slash — so the DuckDB mirror is exact ON THIS DATA) and
# hasWhitespace (a contains-' ' test).
_G2 = [
    ("furl", "fullUrl", "isFullURL", 7),
    ("cidr4", "cidrv4", "isCIDRv4", 5),
    ("cidr6", "cidrv6", "isCIDRv6", 11),
    ("isbn10c", "isbn10", "isISBN10", 13),
    ("isbn13c", "isbn13", "isISBN13", 17),
    ("latc", "lat", "isLatitude", 19),
    ("lonc", "lon", "isLongitude", 23),
    ("dns", "dnsName", "isDNSName", 29),
    ("hexc", "hexColor", "isHexColor", 31),
    ("winp", "winPath", "isWinPath", 37),
    ("unixp", "unixPath", "isUnixPath", 41),
    ("rgb", "rgbColor", "isRGBColor", 43),
    ("cn", "cnMobile", "isCnMobile", 47),
    ("pascii", "printableASCII", "isPrintableASCII", 53),
    ("mbyte", "multiByte", "isMultiByte", 59),
    ("durl", "dataURI", "isDataURI", 61),
    ("urlc", "url", "isURL", 67),
    ("haslo", "hasLowerCase", "hasLowerCase", 73),
    ("hasup", "hasUpperCase", "hasUpperCase", 79),
    ("hasws", "hasWhitespace", "hasWhitespace", 83),
    ("hexd", "hexadecimal", "isHexadecimal", 89),
    ("asciic", "ascii", "isASCII", 97),
]


_CJK = {
    "zh": "机器学习模型需要大量高质量的训练数据",
    "ja": "機械学習のモデルはたくさんのデータが必要です",
    "ko": "기계 학습 모델은 많은 데이터가 필요합니다",
    "ru": "модели машинного обучения требуют больших данных",
}


def _format_gauntlet2(spark, sf_dir):
    """Deterministic derived columns for the q59 gauntlet: good value
    everywhere except the field's bad-seed modulo cohort."""
    d = _fan(_t(spark, sf_dir, "documents"))
    i = F.col("doc_id")
    h = F.md5(i.cast("string"))
    s = i.cast("string")

    good = {
        "furl": F.concat(F.lit("https://sub"), (i % 50).cast("string"),
                         F.lit(".example.org/p/"), s),
        "cidr4": F.concat((i % 256).cast("string"), F.lit(".10.20.0/"),
                          (i % 33).cast("string")),
        "cidr6": F.concat(F.lit("2001:db8::/"), (i % 129).cast("string")),
        "isbn10c": F.lpad(((i * 7919) % 10000000000).cast("string"), 10, "0"),
        "isbn13c": F.lpad(((i * 104729) % 10000000000000).cast("string"), 13, "0"),
        "latc": F.concat(((i % 179) - 89).cast("string"), F.lit(".25")),
        "lonc": F.concat(((i % 359) - 179).cast("string"), F.lit(".5")),
        "dns": F.concat(F.lit("host"), s, F.lit(".example.com")),
        "hexc": F.concat(F.lit("#"), F.substring(h, 1, 6)),
        "winp": F.concat(F.lit("C:\\docs\\f"), s),
        "unixp": F.concat(F.lit("/var/data/"), s),
        "rgb": F.concat(F.lit("rgb("), (i % 256).cast("string"), F.lit(",10,20)")),
        "cn": F.concat(F.lit("1"), F.lpad(((i * 31) % 10000000000).cast("string"), 10, "0")),
        "pascii": F.concat(F.lit("plain text "), s),
        "mbyte": F.concat(F.lit("txt \u00e9 "), s),
        "durl": F.lit("data:image/png;base64,QUJD"),
        "urlc": F.concat(F.lit("https://e"), s, F.lit(".net/x")),
        "haslo": F.lit("Mixed Case"),
        "hasup": F.lit("Mixed Case"),
        "hasws": F.concat(F.lit("has space "), s),
        "hexd": F.substring(h, 1, 10),
        "asciic": F.concat(F.lit("ok_"), s),
    }
    bad = {
        "furl": F.lit("notaurl"),
        "cidr4": F.lit("300.1.2.3/24"),
        "cidr6": F.lit("2001:zz8::/64"),
        "isbn10c": F.lit("12345"),
        "isbn13c": F.lit("nope"),
        "latc": F.lit("95.5"),
        "lonc": F.lit("181.0"),
        "dns": F.lit("-bad.example.com"),
        "hexc": F.lit("#12"),
        "winp": F.lit("C:/fwd/slash"),
        "unixp": F.lit("rel/path"),
        "rgb": F.lit("rgb(300,0,0)"),
        "cn": F.lit("21234567890"),
        "pascii": F.lit("h\u00e9llo"),
        "mbyte": F.lit("ascii only"),
        "durl": F.lit("data:text/plain,hello"),
        "urlc": F.lit("no url"),
        "haslo": F.lit("ALL UPPER 9"),
        "hasup": F.lit("all lower 9"),
        "hasws": F.concat(F.lit("nospace"), s),
        "hexd": F.lit("xyz"),
        "asciic": F.lit("a\u00f1ejo"),
    }
    cols = [
        F.when(i % mod == 0, bad[f]).otherwise(good[f]).alias(f)
        for f, _, _, mod in _G2
    ]
    return d.select("doc_id", *cols)


# q70 type-check gauntlet: (field, rule, canonical validator, bad-seed
# modulus). All fields are STRING columns so the stringly coercion
# paths (validators_type.go / issue #30) are the ones exercised; the
# two array fields cover the schema-static kind checks.
_G3 = [
    ("intc", "int", "isInt", 5),
    ("intr", "int:0,1000", "isInt", 7),
    ("uintc", "uint", "isUint", 11),
    ("boolc", "bool", "isBool", 13),
    ("floatc", "float", "isFloat", 17),
    ("strc", "string:5,20", "isString", 19),
    ("intstr", "intStr", "isIntString", 23),
    ("numc", "num", "isNumber", 29),
    ("numeric2", "numeric", "isNumeric", 31),
    ("strnum", "strNum", "isStringNumber", 37),
    ("emptyc", "empty", "isEmpty", 41),
]


def _type_gauntlet(spark, sf_dir):
    """Deterministic derived columns for the q70 gauntlet (same
    good-except-bad-cohort discipline as _format_gauntlet2)."""
    d = _fan(_t(spark, sf_dir, "documents"))
    i = F.col("doc_id")
    s = i.cast("string")

    good = {
        "intc": (i * 3 - 500).cast("string"),
        "intr": (i % 1000).cast("string"),
        "uintc": s,
        "boolc": F.when(i % 4 == 0, F.lit("TRUE"))
        .when(i % 4 == 1, F.lit(" Off "))
        .when(i % 4 == 2, F.lit("yes"))
        .otherwise(F.lit("0")),
        "floatc": F.when(i % 3 == 0, F.concat(F.lit("1e"), (i % 10).cast("string")))
        .otherwise(F.concat(s, F.lit(".25"))),
        "strc": F.concat(F.lit("str_"), s),
        "intstr": F.concat(F.lit("-"), (i + 1).cast("string")),
        "numc": s,
        "numeric2": (i * 7).cast("string"),
        "strnum": s,
        "emptyc": F.lit(""),
    }
    bad = {
        "intc": F.lit("12.5"),
        "intr": F.lit("5000"),
        "uintc": F.lit("-4"),
        "boolc": F.lit("maybe"),
        "floatc": F.lit("1.2.3"),
        "strc": F.lit("way too long a string for 20"),
        "intstr": F.lit("007"),
        "numc": F.lit("-3"),
        "numeric2": F.lit("12 "),
        "strnum": F.lit("x12"),
        "emptyc": F.concat(F.lit("x"), s),
    }
    cols = [
        F.when(i % mod == 0, bad[f]).otherwise(good[f]).alias(f)
        for f, _, _, mod in _G3
    ]
    arr = F.split(F.concat(F.lit("a,b,"), s), ",")
    return d.select("doc_id", *cols, arr.alias("arrok"), arr.alias("arrbad"))


def _q70_sql() -> str:
    """§2.5 oracle: each stringly type check replayed by DuckDB with the
    engine's own RX literals (int/float/number) or the exact strutil
    coercion set (bool); isString length via strlen (bytes, ASCII
    data); the schema-static isInts on array<string> fails every row
    and isStrings passes every row by construction."""
    from validate_spark.functions.validators import RX

    good = {
        "intc": "(doc_id * 3 - 500)::varchar",
        "intr": "(doc_id % 1000)::varchar",
        "uintc": "doc_id::varchar",
        "boolc": ("CASE WHEN doc_id % 4 = 0 THEN 'TRUE' "
                  "WHEN doc_id % 4 = 1 THEN ' Off ' "
                  "WHEN doc_id % 4 = 2 THEN 'yes' ELSE '0' END"),
        "floatc": ("CASE WHEN doc_id % 3 = 0 THEN '1e' || (doc_id % 10)::varchar "
                   "ELSE doc_id::varchar || '.25' END"),
        "strc": "'str_' || doc_id::varchar",
        "intstr": "'-' || (doc_id + 1)::varchar",
        "numc": "doc_id::varchar",
        "numeric2": "(doc_id * 7)::varchar",
        "strnum": "doc_id::varchar",
        "emptyc": "''",
    }
    bad = {
        "intc": "'12.5'", "intr": "'5000'", "uintc": "'-4'",
        "boolc": "'maybe'", "floatc": "'1.2.3'",
        "strc": "'way too long a string for 20'", "intstr": "'007'",
        "numc": "'-3'", "numeric2": "'12 '", "strnum": "'x12'",
        "emptyc": "'x' || doc_id::varchar",
    }
    rx_int, rx_float, rx_num = RX["int"], RX["float"], RX["number"]
    fail = {
        "intc": "NOT regexp_matches({V}, '" + rx_int + "')",
        "intr": ("NOT (regexp_matches({V}, '" + rx_int + "') "
                 "AND try_cast({V} AS BIGINT) >= 0 "
                 "AND try_cast({V} AS BIGINT) <= 1000)"),
        "uintc": r"NOT regexp_matches({V}, '^\d+$')",
        "boolc": ("lower(trim({V})) NOT IN "
                  "('1','on','yes','true','0','off','no','false')"),
        "floatc": "NOT regexp_matches({V}, '" + rx_float + "')",
        "strc": "NOT (strlen({V}) >= 5 AND strlen({V}) <= 20)",
        "intstr": "NOT regexp_matches({V}, '" + rx_int + "')",
        "numc": "NOT regexp_matches({V}, '" + rx_num + "')",
        "numeric2": "NOT regexp_matches({V}, '" + rx_num + "')",
        "strnum": "NOT regexp_matches({V}, '" + rx_num + "')",
        "emptyc": "{V} <> ''",
    }
    derived = ",\n        ".join(
        f"CASE WHEN doc_id % {mod} = 0 THEN {bad[f]} ELSE {good[f]} END AS {f}"
        for f, _, _, mod in _G3
    )
    # skip-on-empty: an empty value skips its (non-required) rule, so a
    # field only violates when non-empty AND failing — emptyc's good
    # cohort is empty ('' passes isEmpty anyway), every other field's
    # values are non-empty by construction.
    arms = "\n          UNION ALL\n".join(
        f"""          SELECT '{f}' AS field, '{val}' AS validator,
                 count(*)::bigint AS n
          FROM g WHERE {f} <> '' AND ({fail[f].replace('{V}', f)})"""
        for f, _, val, _m in _G3
    )
    return f"""
        WITH g AS (
          SELECT doc_id,
        {derived}
          FROM documents
        ), viols AS (
{arms}
          UNION ALL
          SELECT 'arrbad' AS field, 'isInts' AS validator,
                 count(*)::bigint AS n
          FROM documents
        )
        SELECT field, validator, n FROM viols WHERE n > 0
    """


def q59_format_gauntlet2(spark, sf_dir):
    """§2.6 completion gauntlet: the 22 regex/format validators q31 did
    not hash-check (full URL, CIDR, ISBN, lat/lon, DNS, colors, paths,
    ASCII/multibyte, data-URI, loose URL, has* — validators.go RX table
    + validators_string.go), each with a seeded bad cohort."""
    rs = RuleSet(rules={f: rule for f, rule, _, _ in _G2})
    res = validate(_format_gauntlet2(spark, sf_dir), rs, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q60_crossfield_equality(spark, sf_dir):
    """Cross-field compare + presence + equality family under the
    oracle gate (previously pytest-only: requiredUnless/WithAll/
    Without/WithoutAll, eqField/neField/gtField/gteField/lteField,
    isEqual/notEqual/intEqual, rule_one_of — validators.go:240-475).
    Derived columns are built so every rule has a deterministic
    violating cohort."""
    ev = _fan(_t(spark, sf_dir, "events"))
    i = F.col("event_id")
    v1 = F.coalesce(F.col("value"), F.lit(0.0))
    derived = ev.select(
        "event_id",
        "event_type",
        v1.alias("v1"),
        (v1 + F.when(i % 3 == 0, F.lit(0.0)).otherwise(F.lit(1.0))).alias("v2"),
        (v1 + F.when(i % 4 == 0, F.lit(0.0)).otherwise(F.lit(1.0))).alias("v3"),
        (v1 + F.when(i % 5 == 0, F.lit(-2.0)).otherwise(F.lit(0.0))).alias("hi"),
        (v1 - F.when(i % 6 == 0, F.lit(-3.0)).otherwise(F.lit(0.0))).alias("lo2"),
        (v1 + F.when(i % 7 == 0, F.lit(0.0)).otherwise(F.lit(1.0))).alias("hi2"),
        F.when(i % 7 == 0, F.lit(None).cast("string")).otherwise(F.col("event_type")).alias("s1"),
        F.when(i % 11 == 0, F.lit(None).cast("string")).otherwise(F.lit("x")).alias("s2"),
        F.when(i % 9 == 0, F.lit(None).cast("string")).otherwise(F.lit("w")).alias("w"),
        F.when(i % 14 == 0, F.lit(None).cast("string")).otherwise(F.lit("z")).alias("wo"),
        F.when(i % 2 == 0, F.lit(None).cast("string")).otherwise(F.lit("q")).alias("woa"),
        F.col("event_type").alias("etype2"),
        (i % 100).cast("long").alias("ic"),
        F.when(i % 23 == 0, F.lit("abc123"))
        .otherwise(F.when(i % 2 == 0, F.lit("12345")).otherwise(F.lit("alphaonly")))
        .alias("oneof"),
    )
    rs = RuleSet(
        rules={
            "v2": "eqField:v1",
            "v3": "neField:v1",
            "hi": "gteField:v1",
            "lo2": "lteField:v1",
            "hi2": "gtField:v1",
            "s2": "requiredUnless:s1,purchase",
            "w": "requiredWithAll:s1,s2",
            "wo": "requiredWithout:s1",
            "woa": "requiredWithoutAll:s1,s2",
            "event_type": "notEqual:click",
            "etype2": "isEqual:purchase",
            "ic": "intEqual:42",
            "oneof": "rule_one_of:alpha,number",
        }
    )
    res = validate(derived, rs, key_cols=["event_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q61_custom_filter_chain(spark, sf_dir):
    """Custom FILTER (global AddFilter, filter.go:60-78) composed with
    builtins in one chain, value-checked end-to-end: digitsOnly strips
    non-digits from c_phone, then number + stringLength validate the
    cleaned value, and updated_rows() returns the filtered strings the
    oracle recomputes with the same regex."""
    from validate_spark.functions.filters import register_filter

    register_filter(
        "digitsOnly", lambda col, args: F.regexp_replace(col, "[^0-9]", "")
    )
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone = F.concat(
        F.lit("  +"), (k % 90 + 10).cast("string"), F.lit("-"),
        F.lpad(((k * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(((k * 13) % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((k % 10000).cast("string"), 4, "0"),
        # bad cohort: a trailing stray digit -> 13 digits -> fails
        F.when(k % 9 == 0, F.lit("x9")).otherwise(F.lit("")),
        F.lit("  "),
    )
    raw = c.select("c_custkey", phone.alias("phone"))
    rs = RuleSet(
        rules={"phone": "required|number|stringLength:12,12"},
        filters={"phone": "trim|digitsOnly"},
    )
    res = validate(raw, rs, key_cols=["c_custkey"])
    return res.updated_rows().select("c_custkey", "phone", "pass")


def q62_langid_cjk(spark, sf_dir):
    """CJK/cyrillic-capable language-ID (textstats.SCRIPT_RANGES): the
    script tier decides zh/ja/ko/ru via codepoint-range ratios written
    in the Java∩RE2 \\x{...} dialect, so DuckDB recomputes the exact
    same counts; Latin rows still flow to the stopword argmax."""
    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    text2 = (
        F.when(i % 5 == 0, F.lit(_CJK["zh"]))
        .when(i % 5 == 1, F.lit(_CJK["ja"]))
        .when(i % 5 == 2, F.lit(_CJK["ko"]))
        .when(i % 5 == 3, F.lit(_CJK["ru"]))
        .otherwise(F.col("text"))
    )
    return (
        docs.select(ts.lang_id(text2).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q63_global_custom_validator(spark, sf_dir):
    """GLOBAL AddValidator (register.go:36-129) + the zero_as_empty
    IsEmpty parity flag under the oracle gate (both previously
    pytest-only): a globally registered endsWithDigit validator and
    required with RuleSet(zero_as_empty=True), so a 0.0 value fails
    required exactly like the reference's IsZero check."""
    from validate_spark.functions.validators import register_validator

    register_validator(
        "endsWithDigit",
        lambda col, args, ctx: col.cast("string").rlike(r"[0-9]$"),
    )
    ev = _fan(_t(spark, sf_dir, "events"))
    i = F.col("event_id")
    derived = ev.select(
        "event_id",
        F.when(i % 13 == 0, F.lit(0.0)).otherwise(F.col("value")).alias("v"),
        F.when(i % 5 == 0, F.lit("sessX"))
        .otherwise(F.concat(F.lit("sess"), (i % 7).cast("string")))
        .alias("sid"),
    )
    rs = RuleSet(
        rules={"v": "required", "sid": "required|endsWithDigit"},
        zero_as_empty=True,
    )
    res = validate(derived, rs, key_cols=["event_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q64_custom_type_extractor(spark, sf_dir):
    """AddCustomType extractor (register_type.go:30-68) under the
    oracle gate: a struct<amount,cur> "money" type whose extractor
    yields the amount — or NULL when cur is empty (the documented
    CustomTypeFunc nil contract) — so required AND min both evaluate
    the EXTRACTED value; DuckDB re-derives the same extraction."""
    import pyspark.sql.types as T

    from validate_spark.functions import validators as V

    ev = _fan(_t(spark, sf_dir, "events"))
    i = F.col("event_id")
    money = F.struct(
        F.col("value").alias("amount"),
        F.when(i % 11 == 0, F.lit("")).otherwise(F.lit("USD")).alias("cur"),
    )
    d = ev.select("event_id", money.alias("price"))
    dt = d.schema["price"].dataType

    def extract(col, dtype):
        return (
            F.when(col.getField("cur") == "", F.lit(None).cast("double"))
            .otherwise(col.getField("amount")),
            T.DoubleType(),
        )

    V.register_custom_type(dt, extract)
    try:
        rs = RuleSet(rules={"price": "required|min:10"})
        res = validate(d, rs, key_cols=["event_id"])
        out = (
            res.violations()
            .groupBy("field", "validator")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    finally:
        # plan is already compiled (Column exprs built eagerly); the
        # registry can be restored before the lazy frame executes
        V.reset_custom_types()
    return out


def q65_weighted_mix(spark, sf_dir):
    """Training-mix construction (sampling.weighted_mix): per-stratum
    weights may EXCEED 1 — floor(w) full copies + an md5-gated
    fractional copy, expected copies == w, replay-deterministic. The
    oracle regenerates the exact copy list with generate_series."""
    from validate_spark.operators.sampling import weighted_mix

    docs = _t(spark, sf_dir, "documents")
    mix = weighted_mix(
        docs, "lang", {"en": 0.4, "de": 2.5, "zh": 1.0}, "doc_id", seed=7
    )
    return mix.select(
        "doc_id", "lang", F.col("mix_copy").cast("long").alias("mix_copy")
    )


def q66_url_blocklist(spark, sf_dir):
    """URL/domain blocklist screen (decontam.blocked_url_docs): domains
    extracted + normalized (lowercase, :port stripped) map-side, probed
    against a broadcast blocklist; injected spam/tracker links per
    modulus cohort, value-exact vs DuckDB's regexp pipeline."""
    from validate_spark.operators.decontam import blocked_url_docs

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t2 = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(i % 7 == 0, F.lit(" see https://spam.example.com/x?y=1"))
        .when(i % 11 == 0, F.lit(" via http://Tracker.example.org:8080/p"))
        .when(i % 13 == 0, F.lit(" ok https://fine.example.net/z"))
        .otherwise(F.lit("")),
    )
    corpus = docs.select("doc_id", t2.alias("text"))
    bl = _lit_df(
        spark,
        [("spam.example.com",), ("tracker.example.org",), ("unused.example.io",)],
        "domain string",
    )
    out = blocked_url_docs(corpus, bl)
    return out.select(F.col("k").alias("doc_id"), "hits", "n_hits")


def q67_sequence_packing(spark, sf_dir):
    """Concat-then-chunk sequence packing (operators/packing.py): docs
    assigned to (stream, chunk) by md5-ordered running token sums —
    DuckDB reproduces the identical packing via the same md5 draw and
    an explicit ROWS-frame window sum."""
    from validate_spark.operators.packing import pack_sequences
    from validate_spark.operators.textstats import whitespace_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_token_count(F.col("text")).alias("n_tok")
    )
    packed = pack_sequences(docs, "n_tok", "doc_id", budget=512, n_streams=16, seed=7)
    return packed.select(
        F.col("key").alias("doc_id"), "n_tokens", "stream", "chunk_id"
    )


def q68_unigram_quality(spark, sf_dir):
    """CCNet-style unigram-logprob quality scoring (textstats.
    build_background_vocab + unigram_logprob_scores): background vocab
    from the even-doc snapshot, every doc scored for OOV rate + mean
    token log-prob; DuckDB rebuilds the identical vocab and replays
    the smoothed ln() per token."""
    from validate_spark.operators.textstats import (
        build_background_vocab,
        unigram_logprob_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = build_background_vocab(
        docs.filter(F.col("doc_id") % 2 == 0), min_count=3
    )
    out = unigram_logprob_scores(docs, vocab)
    return out.select(
        F.col("k").alias("doc_id"), "n_tok", "oov_rate", "mean_logp"
    )


def q69_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style line-level boilerplate removal
    (dedup.line_dedup): docs are sentence-split into lines and three
    boilerplate footers are injected per modulus cohort (250/167/72
    docs each at sf0.01 — all >= the min_docs=10 doc-frequency
    threshold); the operator must drop exactly the boilerplate lines
    from every doc and rejoin the rest in position order. DuckDB
    replays the split/freq/filter/string_agg pipeline value-exact."""
    from validate_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    body = F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\. ", ".\n")
    i = F.col("doc_id")
    t2 = F.concat_ws(
        "\n",
        body,
        F.when(i % 2 == 0, F.lit("All rights reserved. Copyright Example Corp.")),
        F.when(i % 3 == 0, F.lit("Subscribe to our newsletter for updates!")),
        F.when(i % 7 == 0, F.lit("Cookie policy: we use cookies on this site.")),
    )
    corpus = docs.select("doc_id", t2.alias("text"))
    return line_dedup(corpus, min_docs=10, min_chars=10)


def q70_type_gauntlet(spark, sf_dir):
    """§2.5 completion gauntlet: the stringly type checks (isInt ranges,
    isUint, isBool strutil.ToBool set, isFloat, isString byte-length
    args, isIntString, isNumber/isNumeric/isStringNumber, isEmpty —
    validators_type.go:25-120, issue #30 coercion) plus the
    schema-static array kind checks (isInts fails on array<string>,
    isStrings passes), each with a seeded bad cohort."""
    rules = {f: rule for f, rule, _, _ in _G3}
    rules["arrok"] = "strings"
    rules["arrbad"] = "ints"
    res = validate(_type_gauntlet(spark, sf_dir), RuleSet(rules=rules),
                   key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q71_filter_gauntlet(spark, sf_dir):
    """§2.10 completion gauntlet: the filters q04/q25 left pytest-only
    (bool coercion, camel/snake, escapeJs/escapeHtml, str2ints/str2arr
    incl. custom separator, strToTime layout fallback, unique,
    trimStrings — filtering.go + filter/ package), value-checked
    end-to-end on updated_rows(). Array outputs are canonicalized to
    joined strings (sorted for `unique`, since DuckDB's list_distinct
    does not pin first-occurrence order); the timestamp to a formatted
    string — so the hash compare is byte-exact cross-engine."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    i = F.col("doc_id")
    s = i.cast("string")
    raw = docs.select(
        "doc_id",
        F.get(
            F.array(F.lit(" YES "), F.lit("off"), F.lit("1"),
                    F.lit("False"), F.lit("no")),
            F.pmod(i, F.lit(5)).cast("int"),
        ).alias("boolf"),
        F.concat(F.lit("user_name_f"), (i % 100).cast("string")).alias("camelf"),
        F.concat(F.lit("myVar"), (i % 10).cast("string"), F.lit("Name")).alias("snakef"),
        F.concat(F.lit("a<q>\"x\"'y\\z"), s).alias("jsf"),
        F.concat(F.lit("<b>&\"t's\"</b>"), s).alias("htmlf"),
        F.concat(F.lit("7, 8,x9,"), s).alias("intsf"),
        F.concat(F.lit("p;q;r"), s).alias("arrf"),
        F.when(i % 2 == 0, F.lit("2024-03-05 12:30:45"))
        .otherwise(F.concat(F.lit("2024-0"), (i % 9 + 1).cast("string"),
                            F.lit("-06"))).alias("timef"),
        F.concat(F.lit("a,b,a,"), (i % 3).cast("string")).alias("uniqf"),
        F.concat(F.lit(" a , b ,c"), s, F.lit(" ")).alias("trimsf"),
    )
    fields = ["boolf", "camelf", "snakef", "jsf", "htmlf", "intsf",
              "arrf", "timef", "uniqf", "trimsf"]
    rs = RuleSet(
        rules={f: "required" for f in fields},
        filters={
            "boolf": "bool", "camelf": "camel", "snakef": "snake",
            "jsf": "escapeJs", "htmlf": "escapeHtml",
            "intsf": "str2ints", "arrf": "str2arr:;",
            "timef": "strToTime", "uniqf": "str2arr|unique",
            "trimsf": "str2arr|trimStrings",
        },
    )
    out = validate(raw, rs, key_cols=["doc_id"]).updated_rows()
    return out.select(
        "doc_id", "boolf", "camelf", "snakef", "jsf", "htmlf",
        F.array_join(
            F.transform(F.col("intsf"),
                        lambda x: F.coalesce(x.cast("string"), F.lit("N"))),
            "|",
        ).alias("ints_repr"),
        F.array_join(F.col("arrf"), "|").alias("arr_repr"),
        F.date_format(F.col("timef"), "yyyy-MM-dd HH:mm:ss").alias("time_repr"),
        F.array_join(F.array_sort(F.col("uniqf")), "|").alias("uniq_repr"),
        F.array_join(F.col("trimsf"), "|").alias("trims_repr"),
    )


def q72_semantic_decontam(spark, sf_dir):
    """Embedding-level decontamination (decontam.semantic_contamination):
    per corpus vector, max cosine vs a broadcast benchmark set (every
    50th vector) + hit count at threshold 0.99 — the benchmark members
    themselves must come back contaminated (cos 1.0) and nothing else
    (random 64-dim cosines stay ≪ 0.99). DuckDB replays the identical
    double-precision fold (list_zip → transform → list_aggregate) and
    the round-6 max/threshold compare."""
    from validate_spark.operators.decontam import semantic_contamination

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bv")
    )
    rep = semantic_contamination(
        emb, bench, threshold=0.99, bench_vec_col="bv", bench_key_col="bid"
    )
    return rep.select(
        F.col("k").alias("vec_id"), "max_cos", "n_hits", "contaminated"
    )


def q73_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup of a new batch against the ingested
    corpus' fingerprint index (dedup.incremental_exact_dedup): index =
    fingerprints of the even docs; batch = all docs with a boilerplate
    cohort (doc_id%10==9 collapses to 3 shared texts) injected so all
    three statuses occur — even docs → dup_index, boilerplate min-key →
    novel, other boilerplate copies → dup_batch, remaining odd docs →
    novel. DuckDB maintains the same md5 index and replays the
    classification."""
    from validate_spark.operators.dedup import incremental_exact_dedup
    from validate_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    batch = docs.select(
        "doc_id",
        F.when(
            i % 10 == 9,
            F.concat(F.lit("shared boilerplate page "), (i % 3).cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    index = docs.filter(i % 2 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    return incremental_exact_dedup(batch, index).select(
        F.col("k").cast("long").alias("doc_id"), "fp", "status"
    )


def q74_deterministic_shuffle(spark, sf_dir):
    """Content-defined pretraining shuffle (sampling.
    deterministic_shuffle): md5-bucketed shard + within-shard md5-order
    rank — replay-identical on any layout/engine; DuckDB reproduces
    every (shard, pos) via the same md5 draw and a partitioned
    row_number."""
    from validate_spark.operators.sampling import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", n_shards=8, seed=3).select(
        "doc_id", "shard", "pos"
    )


def q75_duplicated_spans(spark, sf_dir):
    """Cross-doc exact-substring signal (dedup.duplicated_spans): two
    pangram sentences injected per modulus cohort create 8-token
    windows shared across >= 2 docs; the operator reports per-doc dup
    window counts and the exact union token coverage. DuckDB replays
    tokenize → rolling md5 windows → doc-frequency → coverage
    value-exact."""
    from validate_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t2 = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            i % 5 == 0,
            F.lit(" the quick brown fox jumps over the lazy sleeping dog"),
        ).otherwise(F.lit("")),
        F.when(
            i % 7 == 0,
            F.lit(" pack my box with five dozen brown liquor jugs now"),
        ).otherwise(F.lit("")),
    )
    corpus = docs.select("doc_id", t2.alias("text"))
    out = duplicated_spans(corpus, w=8, min_docs=2)
    return out.select(
        F.col("k").cast("long").alias("doc_id"),
        "n_tok",
        "n_windows",
        "n_dup_windows",
        "covered_tokens",
        "dup_frac",
    )


def q76_token_share_report(spark, sf_dir):
    """Data-mix governance rollup (textstats.token_share_report):
    per-source token totals, share, ROWS-frame cumulative share in
    descending-token order, over-cap flag — integer token sums keep the
    cross-engine selection exact; shares compare at round-6."""
    from validate_spark.operators.textstats import token_share_report

    docs = _t(spark, sf_dir, "documents")
    return token_share_report(docs, "source", cap=0.055).select(
        F.col("stratum").alias("source"),
        "n_docs",
        "n_tokens",
        "share",
        "cum_share",
        "over_cap",
    )


def q77_incremental_minhash(spark, sf_dir):
    """Incremental near-dup probe vs a stored LSH index
    (dedup.minhash_index_bands + incremental_minhash_neardup): index =
    all documents; batch = exact copies (doc_id%25==0), appended-tail
    decoys (%25==1, J ≈ 0.8 ≪ 0.99) and novel texts (%25==2) under
    offset keys. At threshold 0.99 with 6 bands × 2 rows the band-miss
    probability is ~6e-11, so the oracle's exhaustive batch×index
    exact-Jaccard set coincides (the q16 argument, incremental form).
    Pairs only — the jaccard VALUE stays engine-side (hashed vs string
    shingles agree on the set, not bit-for-bit on every value)."""
    from validate_spark.operators.dedup import (
        hashed_shingle_frame,
        incremental_minhash_neardup,
        minhash_index_bands,
    )

    docs = _t(spark, sf_dir, "documents")
    ib = minhash_index_bands(docs)
    iss = hashed_shingle_frame(docs)
    i = F.col("doc_id")
    batch = docs.filter(i % 25 < 3).select(
        (i + 100000).alias("doc_id"),
        F.when(i % 25 == 0, F.col("text"))
        .when(
            i % 25 == 1,
            F.concat(
                F.col("text"),
                F.lit(" completely different appended tail words here"),
            ),
        )
        .otherwise(F.concat(F.lit("novel batch content "), i.cast("string")))
        .alias("text"),
    )
    out = incremental_minhash_neardup(batch, ib, iss, threshold=0.99)
    return out.select(
        F.col("k").cast("long").alias("doc_id"),
        F.col("index_key").cast("long").alias("index_key"),
    )


def q78_quality_quantile(spark, sf_dir):
    """CCNet-style per-language quality cut (sampling.
    quality_quantile_filter): keep the best 3/10 of each lang stratum
    by the closed-form quality score, md5-then-key tie-break; the kept
    fraction is enforced by INTEGER cross-multiplication (rank*10 <=
    3*n) so the selection replays bit-identically in the oracle."""
    from validate_spark.operators.sampling import quality_quantile_filter

    docs = _t(spark, sf_dir, "documents")
    kept = quality_quantile_filter(
        docs, "lang", ts.quality_score(F.col("text")), 3, 10, "doc_id"
    )
    return kept.select("doc_id", "lang", "q_rank", "q_n")


def q79_stratum_quota(spark, sf_dir):
    """Per-source document cap (sampling.stratum_quota): at most 7 docs
    per source under the portable md5 draw — the two-phase
    (partition-salted local top-N, then quota-bounded survivors) plan
    whose result is provably the same single-window top-N the oracle
    computes."""
    from validate_spark.operators.sampling import stratum_quota

    docs = _t(spark, sf_dir, "documents")
    return stratum_quota(docs, "source", 7, "doc_id").select(
        "doc_id", "source", "quota_rank"
    )


def q80_centroid_outliers(spark, sf_dir):
    """Embedding label audit (similarity.label_centroid_outliers):
    round-6 L2 distance of every vector to its label centroid +
    over-threshold flag. Centroids are posexplode avgs (map-side
    partials, |labels|x64 rows) broadcast back; the flag compares the
    ROUND-6 distance so the boolean replays across engines."""
    from validate_spark.operators.similarity import label_centroid_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, dist_threshold=1.0)


def q81_source_overlap(spark, sf_dir):
    """Cross-source near-dup contamination matrix (dedup.
    source_overlap_matrix): unordered source pairs sharing exact-
    Jaccard>=0.7 near-dups, with pair counts and round-6 mean jaccard.
    24 hashes x 8 bands (r=3): the weakest qualifying pair at sf0.01
    has J~0.92, band-miss probability <= (1-0.92^3)^8 ~ 5.6e-6, so the
    LSH pair set coincides with the oracle's exhaustive O(n^2) set
    (the q16 argument); jaccard VALUES agree because 64-bit shingle
    hashing is collision-free at this scale. r=3 instead of r=2 keeps
    that recall argument while cutting the low-J candidate explosion
    ~4x (measured 25.2->6.0 s at sf0.1, byte-identical output)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.source_overlap_matrix(
        docs, "source", threshold=0.7, n_hashes=24, n_bands=8
    )


def q82_soft_dedup_weights(spark, sf_dir):
    """Duplication-aware soft dedup (dedup.exact_clusters +
    soft_dedup_weights): every third doc is doubled, then each doc
    keeps weight 1/|exact cluster| — round-6 of 1/integer, cross-engine
    exact; cluster sizes come from ONE window count (no
    groupBy-join-back)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cohort = docs.unionAll(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    clusters = dd.exact_clusters(cohort)
    return dd.soft_dedup_weights(cohort, clusters)


def q83_cluster_split(spark, sf_dir):
    """Leakage-free train/val/test split (dedup.cluster_split): docs
    gate into splits by the md5 draw of their NEAR-DUP cluster id
    (minhash pairs at 0.9, 24x8 band family — weakest qualifying pair
    J~0.92, miss probability (1-0.92^3)^8 ~ 5.6e-6, the q16/q81
    argument; r=3 avoids the r=2 low-J candidate explosion), so
    near-duplicates never straddle train and eval."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        docs, threshold=0.9, n_hashes=24, n_bands=8
    )
    clusters = dd.dedup_clusters(pairs)
    return dd.cluster_split(
        docs, clusters, {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def q84_top_spans(spark, sf_dir):
    """Top-20 most-duplicated exact 8-token spans (dedup.
    top_duplicated_spans) over the q75 cohort: the WHAT-is-the-
    boilerplate governance view. Distributed top-N via
    TakeOrderedAndProject (local N-heaps, no global sort — plan-
    asserted); fully deterministic (n_docs desc, n_occ desc, span)
    tie-break so the oracle's LIMIT picks identical rows."""
    from validate_spark.operators.dedup import top_duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t2 = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            i % 5 == 0,
            F.lit(" the quick brown fox jumps over the lazy sleeping dog"),
        ).otherwise(F.lit("")),
        F.when(
            i % 7 == 0,
            F.lit(" pack my box with five dozen brown liquor jugs now"),
        ).otherwise(F.lit("")),
    )
    corpus = docs.select("doc_id", t2.alias("text"))
    return top_duplicated_spans(corpus, w=8, min_docs=2, top_n=20)


def q85_rule_drift(spark, sf_dir):
    """Per-rule violation-rate drift between an md5 A/B split of one
    validation run (drift.rule_violation_drift): the governance view
    that answers 'did any RULE's failure rate move between yesterday's
    and today's partitions'. The drifted flag is integer
    cross-multiplication in decimal(38,0)/HUGEINT (|n_a*tot_b -
    n_b*tot_a|*10^4 > bp*tot_a*tot_b) so the selection replays
    bit-identically and never overflows at 10^12-row totals; totals
    ride the same single scan via a NULL-sentinel explode element."""
    from validate_spark.operators.drift import rule_violation_drift

    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    cohort = (
        F.substring(
            F.md5(F.coalesce(F.col("doc_id").cast("string"), F.lit(""))), 1, 1
        )
        < "8"
    )
    return rule_violation_drift(res, cohort, min_delta_bp=100)


def q86_violation_control(spark, sf_dir):
    """Violation-rate control chart over daily ingest windows
    (drift.windowed_violation_anomalies): per-day row/failing-row
    counts and an anomalous flag when the day's rate deviates from the
    global rate by >200 bp — what a production pipeline alarms on.
    One scan -> groupBy(day) map-side partials; global totals are an
    unpartitioned-window sum over the tiny per-day frame, not a second
    input pass. Flag is decimal(38,0)/HUGEINT cross-multiplication
    (engine-portable, overflow-safe)."""
    from validate_spark.operators.drift import windowed_violation_anomalies

    events = _t(spark, sf_dir, "events")
    rs = RuleSet(
        rules={
            "value": "required|max:400",
            "event_type": "required|enum:click,view,error,purchase",
        }
    )
    res = validate(events, rs, key_cols=["event_id"])
    win = F.date_format(F.col("ts"), "yyyy-MM-dd")
    return windowed_violation_anomalies(res, win, max_delta_bp=200)


def q87_schema_profile_drift(spark, sf_dir):
    """TFDV/Deequ-style schema + profile skew between two snapshots of
    one table (drift.schema_profile_drift): snapshot B is today's crawl
    of documents with one column dropped (lang), one type-changed
    (n_chars -> string), one added (fetched), and ~12.5% of text
    md5-gated to NULL. Per column: presence, dtypes, null counts,
    round-6 null rates, and a status (added/dropped/type_changed/
    null_drift/ok); the null_drift selection is decimal(38,0)/HUGEINT
    cross-multiplication. ONE wide-agg scan per snapshot; everything
    after is metadata-sized (reference seed: the compile-time struct
    shape pin, cache.go:98-257)."""
    from validate_spark.operators.drift import schema_profile_drift

    docs = _t(spark, sf_dir, "documents")
    gate = (
        F.substring(
            F.md5(F.coalesce(F.col("doc_id").cast("string"), F.lit(""))), 1, 1
        )
        < "2"
    )
    snap_b = docs.select(
        "doc_id",
        F.when(~gate, F.col("text")).alias("text"),
        "source",
        F.col("n_chars").cast("string").alias("n_chars"),
        F.concat(F.lit("f"), F.col("doc_id").cast("string")).alias("fetched"),
    )
    return schema_profile_drift(docs, snap_b, max_null_delta_bp=100)


def q88_pattern_profile(spark, sf_dir):
    """Value-shape profile of a string column (suggest.pattern_profile):
    classify every value into its first-matching pattern class (null,
    empty, int/float/bool strings, date, uuid, email, url, hex, other)
    and report counts + round-6 shares — the evidence view behind rule
    suggestion. The profiled column is derived from documents by
    doc_id modulus cohorts so every class has deterministic members in
    both engines; the classification regexes are the Java-RE2 common
    dialect and the priority ORDER is part of the contract (an
    all-digit md5 fragment is int_string, not hex, in both engines).
    One scan, regex ladder in one codegen'd projection (fan_out
    guarded), groupBy over <=11 labels, total via window over the
    aggregated frame."""
    from validate_spark.operators.suggest import pattern_profile

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    m = F.md5(ds)
    kind = F.pmod(d, F.lit(9))
    # 5 is coprime to 9 so every (kind, sub) combination occurs —
    # pmod(d, 3) would be constant 2 on the kind==8 cohort
    sub = F.pmod(d, F.lit(5))
    uuid = F.concat_ws(
        "-",
        F.substring(m, 1, 8),
        F.substring(m, 9, 4),
        F.substring(m, 13, 4),
        F.substring(m, 17, 4),
        F.substring(m, 21, 12),
    )
    val = (
        F.when(kind == 0, (d * 37).cast("string"))
        .when(kind == 1, F.concat(F.lit("3."), F.pmod(d, F.lit(100)).cast("string")))
        .when(kind == 2, F.when(F.pmod(d, F.lit(2)) == 0, "true").otherwise("no"))
        .when(
            kind == 3,
            F.concat(
                F.lit("2024-01-"),
                F.lpad((F.pmod(d, F.lit(28)) + 1).cast("string"), 2, "0"),
            ),
        )
        .when(kind == 4, uuid)
        .when(kind == 5, F.concat(F.lit("u"), ds, F.lit("@example.com")))
        .when(
            kind == 6,
            F.concat(
                F.lit("https://ex"), F.pmod(d, F.lit(50)).cast("string"), F.lit(".org/p")
            ),
        )
        .when(kind == 7, F.lit(None).cast("string"))
        .when(sub == 0, F.lit(""))
        .when(sub == 1, F.substring(m, 1, 12))
        .otherwise(F.concat(F.lit("plain text "), ds))
    )
    return pattern_profile(docs.select(val.alias("val")), "val")


@_streaming_fixture
def q89_streaming_windowed_drift(spark, sf_dir):
    """Streaming distribution drift, value-oracled end-to-end (the last
    streaming class without an oracle row): even events form the
    reference histogram; odd events are split into 3 deterministic
    chunk files (event_id%3 — deliberately NOT time-ordered), streamed
    back one file per micro-batch under availableNow, and
    ``windowed_drift`` computes a per-day chi-square against the
    snapshot. Complete output mode + a 3650-day watermark make the
    result chunk-order independent (no late-drop), so DuckDB replays
    the bucket counts per day and the SAME left-fold chi-square
    (list_aggregate over bucket-ordered cells — bit-identical to the
    Column-expression fold; round-6). Complete mode + the huge
    watermark are FIXTURE choices for oracle determinism; a production
    stream runs windowed_drift in append/update with a real watermark
    (state per window = n_buckets longs, per the module contract)."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.streaming.drift_stream import (
        snapshot_histogram,
        windowed_drift,
    )

    events = _t(spark, sf_dir, "events")
    ref = events.filter(F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2)) == 0)
    snap = snapshot_histogram(ref, "value", lo=0.0, hi=500.0, n_buckets=16)
    odd = events.filter(F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2)) == 1)
    tmp = tempfile.mkdtemp(prefix="vs_stream_q89_")
    name = f"q89_drift_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    odd.filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
            }
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            # watermarks require TIMESTAMP (LTZ); the fixture's parquet
            # ts is NTZ — the cast reinterprets wall-clock as UTC
            # (session tz), matching DuckDB's naive day arithmetic
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        wd = windowed_drift(
            stream,
            "value",
            snap,
            ts_col="ts",
            window="1 day",
            watermark="3650 days",
            lo=0.0,
            hi=500.0,
            n_buckets=16,
        )
        q = (
            wd.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.table(name).select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
            "n_obs",
            "chi2",
            "dof",
        )
        rows = out.collect()  # materialize before the memory table goes away
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


def q90_encoding_signals(spark, sf_dir):
    """Encoding-damage gate (textstats.encoding_signals): mojibake
    (UTF-8 misdecoded as cp1252), U+FFFD replacement chars, and C0
    control chars, counted per document. Damage is seeded by modulus
    cohorts (2-byte 'caf&Atilde;&copy;'-style, 3-byte curly-quote
    mojibake, FFFD, BEL) with a pinned first-match CASE order; the
    oracle replays the seeding via chr() codepoints and the SAME
    \\x{..}-class regexes interpolated from the module. One codegen'd
    projection, fan_out-guarded, no shuffle."""
    from validate_spark.operators.textstats import encoding_signals

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    t = F.coalesce(F.col("text"), F.lit(""))
    # explicit \u escapes — the suffixes ARE the damage codepoints:
    # 2-byte mojibake 'caf\u00c3\u00a9' (C3 A9 seen as cp1252), 3-byte
    # curly-quote mojibake E2+20AC+2122, U+FFFD, two BELs
    val = (
        F.when(
            F.pmod(d, F.lit(17)) == 0,
            F.concat(t, F.lit(" caf\u00c3\u00a9")),
        )
        .when(
            F.pmod(d, F.lit(19)) == 0,
            F.concat(t, F.lit(" it\u00e2\u20ac\u2122s")),
        )
        .when(
            F.pmod(d, F.lit(23)) == 0,
            F.concat(t, F.lit(" x\ufffd")),
        )
        .when(
            F.pmod(d, F.lit(29)) == 0,
            F.concat(t, F.lit(" b\u0007\u0007")),
        )
        .otherwise(t)
    )
    seeded = docs.select(F.col("doc_id"), val.alias("text"))
    return encoding_signals(seeded, "text").select(
        "doc_id",
        F.col("n_mojibake").cast("long").alias("n_mojibake"),
        F.col("n_replacement").cast("long").alias("n_replacement"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        "damaged",
    )


def q91_snapshot_diff(spark, sf_dir):
    """Key-level churn between two snapshots (snapdiff.snapshot_diff_rows):
    snapshot B is documents with %11 rows removed, %7 texts changed,
    %13 clones added under new keys, and %97 rows duplicated (dup_key).
    ONE shuffle total (tag + union + groupBy(key) — no full-outer
    join); content identity is an md5 fingerprint over a
    NULL-distinguishing per-column encoding (chr(0)/v-prefix, chr(1)
    joins) that DuckDB replays byte-for-byte."""
    from validate_spark.operators.snapdiff import snapshot_diff_rows

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    base = docs.filter(F.pmod(d, F.lit(11)) != 0)
    changed = (
        F.when(F.pmod(d, F.lit(7)) == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
    )
    b1 = base.select(
        "doc_id", changed.alias("text"), "lang", "source", "n_chars"
    )
    added = docs.filter(F.pmod(d, F.lit(13)) == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    dups = b1.filter(F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(97)) == 0)
    snap_b = b1.unionByName(added).unionByName(dups)
    return snapshot_diff_rows(
        docs, snap_b, ["doc_id"], compare_cols=["text", "lang", "source", "n_chars"]
    )


def q92_attribute_consistency(spark, sf_dir):
    """Denormalization-consistency check (refcheck.attribute_consistency):
    customer rows carry denormalized nation_name/nation_region copies
    with seeded damage (%7 suffix-corrupted, %13 NULLed — the
    NULL-vs-value mismatch case — %11 off-by-one region); the check
    joins back to the nation of record (broadcast, fact never
    shuffles) and rolls up mismatches per attribute pair in ONE
    map-side-partial agg. eqNullSafe comparisons; counts integer-exact
    cross-engine."""
    from validate_spark.operators.refcheck import attribute_consistency

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    k = F.col("c_custkey")
    base = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    )
    fact = base.select(
        "c_custkey",
        "c_nationkey",
        F.when(k % 13 == 0, F.lit(None).cast("string"))
        .when(k % 7 == 0, F.concat(F.col("n_name"), F.lit("?")))
        .otherwise(F.col("n_name"))
        .alias("nation_name"),
        F.when(k % 11 == 0, F.col("n_regionkey") + 1)
        .otherwise(F.col("n_regionkey"))
        .alias("nation_region"),
    )
    return attribute_consistency(
        fact,
        "c_nationkey",
        nation,
        "n_nationkey",
        [("nation_name", "n_name"), ("nation_region", "n_regionkey")],
    )


def q93_suite_report(spark, sf_dir):
    """The north-rule suite as ONE action (operators/suite.py): verdict
    rollup + two uniqueness key sets + a seeded referential check
    (catalog = distinct sources minus 'src0') + the n_chars drift
    histogram, unioned into a single (check, metric, value) frame so
    one job submits every branch (no idle pool between checks). All
    values integer -> hash-exact oracle."""
    from validate_spark.operators.suite import suite_report

    docs = _t(spark, sf_dir, "documents")
    catalog = (
        docs.select("source").distinct().filter(F.col("source") != "src0")
    )
    return suite_report(
        docs,
        DOC_RULES,
        key_cols=["doc_id"],
        unique_cols=[["doc_id"], ["source", "lang"]],
        ref_checks=[("source", catalog, "source")],
        hist_specs=[("n_chars", 0.0, 600.0, 12)],
    )


def q94_retain_best(spark, sf_dir):
    """Quality-aware dedup retention (dedup.dedup_retain_best): the
    q82 doubled cohort gets an integer quality (doc_id*37 mod 101 —
    tie-free by construction across the +1e6 clones), exact clusters
    keep their HIGHEST-quality member (tie-break min member key,
    DESC NULLS LAST pinned in both engines). Oracle = row_number over
    the same fp partition and ordering."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cohort = docs.unionAll(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    cohort = cohort.withColumn(
        "q", F.pmod(F.col("doc_id") * 37, F.lit(101)).cast("long")
    )
    clusters = dd.exact_clusters(cohort)
    kept = dd.dedup_retain_best(cohort, clusters, "q")
    return kept.select("doc_id", "q")


def q95_functional_dependency(spark, sf_dir):
    """Functional-dependency audit (uniq.functional_dependency_violations):
    user_id -> home holds by construction except for %97 users whose
    even-event rows carry a variant value — those determinants (and
    only those) surface with their row/distinct counts. Distinct-FREE
    two-stage groupBy (the count_distinct-beside-count Expand gotcha)."""
    from validate_spark.operators.uniq import functional_dependency_violations

    events = _t(spark, sf_dir, "events")
    u = F.coalesce(F.col("user_id"), F.lit(0))
    home = (
        F.when(
            (F.pmod(u, F.lit(97)) == 0)
            & (F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2)) == 0),
            F.lit("h?"),
        )
        .otherwise(F.concat(F.lit("h"), F.pmod(u, F.lit(50)).cast("string")))
    )
    seeded = events.select("event_id", "user_id", home.alias("home"))
    return functional_dependency_violations(seeded, "user_id", "home")


def q96_categorical_drift(spark, sf_dir):
    """Category-share drift (drift.categorical_drift): documents lang
    distribution, md5-A cohort vs md5-B cohort where %13 B-rows are
    overridden to a NEW category 'xx' and %17 B-rows to NULL — so the
    report exercises one-sided categories AND the NULL category. The
    drifted flag is decimal(38,0)/HUGEINT share cross-multiplication;
    per-side counts meet via tag+union+groupBy (no join)."""
    from validate_spark.operators.drift import categorical_drift

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    in_a = (
        F.substring(F.md5(F.coalesce(d.cast("string"), F.lit(""))), 1, 1) < "8"
    )
    a = docs.filter(in_a).select("lang")
    b = docs.filter(~in_a).select(
        F.when(F.pmod(d, F.lit(13)) == 0, F.lit("xx"))
        .when(F.pmod(d, F.lit(17)) == 0, F.lit(None).cast("string"))
        .otherwise(F.col("lang"))
        .alias("lang")
    )
    return categorical_drift(a, b, "lang", min_delta_bp=100)


def q97_numeric_correlations(spark, sf_dir):
    """Pairwise Pearson correlations (stats.numeric_correlations) over
    three INTEGRAL columns (n_chars, rune length of text, doc_id mod
    97): the co-moment sums accumulate in decimal(38,0)/HUGEINT so
    they are EXACT in both engines, and the final double formula is
    evaluated in the same literal order — the corr values replay
    bit-identically before the round-6 (not merely within tolerance).
    ONE wide-agg scan for all pairs."""
    from validate_spark.operators.stats import numeric_correlations

    docs = _t(spark, sf_dir, "documents")
    frame = docs.select(
        F.col("n_chars"),
        F.length(F.col("text")).cast("long").alias("text_len"),
        F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(97))
        .cast("long")
        .alias("id_mod"),
    )
    return numeric_correlations(frame, ["n_chars", "text_len", "id_mod"])


def q98_frequent_values(spark, sf_dir):
    """Heavy-hitter value profile (stats.frequent_values): top-5 lang
    values with %19 rows NULLed so NULL competes as a value; ordering
    (cnt DESC, value ASC NULLS FIRST) is fully deterministic so both
    engines' LIMIT picks identical rows. TakeOrderedAndProject —
    per-task k-heaps, no global sort."""
    from validate_spark.operators.stats import frequent_values

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    seeded = docs.select(
        F.when(F.pmod(d, F.lit(19)) == 0, F.lit(None).cast("string"))
        .otherwise(F.col("lang"))
        .alias("lang")
    )
    return frequent_values(seeded, "lang", k=5)


def q99_c4_signals(spark, sf_dir):
    """C4 cleanup heuristics as signals (textstats.c4_signals, Raffel
    et al. 2020 §2.2): curly brace / lorem ipsum / javascript / policy
    cues seeded by modulus cohorts, sentence counts from the natural
    text, would_drop composed per the C4 rule (any cue OR <3
    sentences). One codegen'd projection; DuckDB replays every cue and
    the terminator-based sentence count."""
    from validate_spark.operators.textstats import c4_signals

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    t = F.coalesce(F.col("text"), F.lit(""))
    val = (
        F.when(F.pmod(d, F.lit(23)) == 0, F.concat(t, F.lit(" {code}")))
        .when(F.pmod(d, F.lit(29)) == 0, F.concat(t, F.lit(" Lorem Ipsum dolor")))
        .when(
            F.pmod(d, F.lit(31)) == 0,
            F.concat(t, F.lit(" Enable JavaScript to continue.")),
        )
        .when(
            F.pmod(d, F.lit(37)) == 0,
            F.concat(t, F.lit(" See our Privacy Policy.")),
        )
        .otherwise(t)
    )
    seeded = docs.select("doc_id", val.alias("text"))
    return c4_signals(seeded, "text").select(
        "doc_id",
        "has_curly",
        "has_lorem",
        "has_js",
        "has_policy",
        "n_sentences",
        "would_drop",
    )


def q100_gopher_rules(spark, sf_dir):
    """Gopher quality rules (textstats.gopher_rules, Rae et al. 2021
    App. A): word count / mean word length / symbol ratio / bullet &
    ellipsis lines / alpha-word fraction / stop-word presence, every
    ratio threshold integer cross-multiplied (no float decides a
    flag). Symbol, ellipsis-line, and bullet-line cohorts are seeded
    by modulus; everything else exercises the natural text. DuckDB
    replays every count with the same Java∩RE2 patterns."""
    from validate_spark.operators.textstats import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    t = F.coalesce(F.col("text"), F.lit(""))
    nl = F.lit("\n")
    val = (
        F.when(
            F.pmod(d, F.lit(41)) == 0,
            F.concat(t, F.lit(" # # # # # # # # # #")),
        )
        .when(
            F.pmod(d, F.lit(43)) == 0,
            F.concat(
                t, nl, F.lit("first part..."), nl, F.lit("second..."),
                nl, F.lit("third\u2026"),
            ),
        )
        .when(
            F.pmod(d, F.lit(47)) == 0,
            F.concat(F.lit("- one"), nl, F.lit("- two"), nl, F.lit("- three")),
        )
        .otherwise(t)
    )
    seeded = docs.select("doc_id", val.alias("text"))
    out = gopher_rules(seeded, "text")
    return out.select(
        "doc_id",
        "n_words",
        "n_nonspace",
        "n_symbols",
        "n_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        "n_alpha_words",
        "n_stopwords_present",
        "flag_word_count",
        "flag_mean_word_len",
        "flag_symbol_ratio",
        "flag_bullet",
        "flag_ellipsis",
        "flag_alpha",
        "flag_stopwords",
        "would_drop",
    )


def q101_incremental_validate(spark, sf_dir):
    """Incremental validation (snapdiff.incremental_validate): the q91
    churn (same schema — %11 removed, %7 changed, %13 added, %97
    duplicated) re-validates ONLY added/changed/dup keys and carries
    yesterday's verdicts for the rest; the ORACLE is a full
    from-scratch validation of the new snapshot, so the hash match IS
    the incremental==full equivalence proof at gate level (also
    unit-tested on crafted churn)."""
    from validate_spark.operators.snapdiff import incremental_validate

    docs = _t(spark, sf_dir, "documents")
    d = F.coalesce(F.col("doc_id"), F.lit(0))
    base = docs.filter(F.pmod(d, F.lit(11)) != 0)
    changed = (
        F.when(F.pmod(d, F.lit(7)) == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
    )
    b1 = base.select(
        "doc_id", changed.alias("text"), "lang", "source", "n_chars"
    )
    added = docs.filter(F.pmod(d, F.lit(13)) == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    dups = b1.filter(F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(97)) == 0)
    new = b1.unionByName(added).unionByName(dups)
    old_verdicts = validate(docs, DOC_RULES, key_cols=["doc_id"]).verdicts()
    return incremental_validate(docs, old_verdicts, new, DOC_RULES, ["doc_id"])


def q34_scene_projection(spark, sf_dir):
    """Scene-gated validation (validation.go:823-854): only the scene's
    fields compile; other rules never evaluate."""
    rs = RuleSet(rules=dict(DOC_RULES.rules), scenes={"ingest": ["doc_id", "text"]})
    res = validate(
        _t(spark, sf_dir, "documents"), rs, key_cols=["doc_id"], scene="ingest"
    )
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q35_locale_messages(spark, sf_dir):
    """q28 with the zh-CN locale map active (locales/zhcn/zhcn.go):
    message templates resolve through the locale, verified value-exact
    against the oracle's literals."""
    rs = RuleSet(rules=dict(DOC_RULES.rules), locale="zh-CN")
    res = validate(_t(spark, sf_dir, "documents"), rs, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator", "message")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q36_drift_chi2(spark, sf_dir):
    """Distribution-drift building block with a value oracle: two
    cohorts (doc_id parity), shared n_chars buckets, per-bucket
    chi-square homogeneity contributions — the same arithmetic
    drift.chi_square_from_histograms runs on sketch output."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select(
            (F.col("doc_id") % 2 == 0).alias("is_ref"),
            F.least(F.lit(9), F.floor(F.col("n_chars") / 60)).cast("int").alias("bucket"),
        )
    )
    h = docs.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = h.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = h.crossJoin(F.broadcast(tot))
    row = F.col("n_ref") + F.col("n_cur")
    e_ref = row * F.col("t_ref") / (F.col("t_ref") + F.col("t_cur"))
    e_cur = row * F.col("t_cur") / (F.col("t_ref") + F.col("t_cur"))
    contrib = (F.col("n_ref") - e_ref) ** 2 / e_ref + (F.col("n_cur") - e_cur) ** 2 / e_cur
    return j.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(contrib, 6).alias("chi2_contrib"),
    )


def q37_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier counts from EXACT percentiles (the
    oracle-checkable twin of drift.iqr_outlier_bounds' sketch path):
    q1/q3 in one aggregate, broadcast the 1-row bounds, one
    filter-count pass."""
    ev = _t(spark, sf_dir, "events")
    qs = ev.agg(F.percentile("value", F.lit([0.25, 0.75])).alias("q"))
    b = qs.select(
        F.col("q")[0].alias("q1"),
        F.col("q")[1].alias("q3"),
    ).select(
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    j = ev.crossJoin(F.broadcast(b))
    v = F.col("value")
    return j.agg(
        F.count(v).alias("n_values"),
        F.sum(((v < F.col("lo")) | (v > F.col("hi"))).cast("int")).alias("n_outliers"),
        F.round(F.first("lo"), 4).alias("lo"),
        F.round(F.first("hi"), 4).alias("hi"),
    )


def q38_salted_uniqueness(spark, sf_dir):
    """Skew-safe two-phase uniqueness (salt → partial count → merge) —
    value-identical to the plain hash-aggregate path, checked against
    the same oracle as q08."""
    docs = _t(spark, sf_dir, "documents")
    return uq.uniqueness_report(docs, "doc_id", salt_buckets=8)


def q39_composite_dup_keys(spark, sf_dir):
    """Multi-column uniqueness: duplicate (lang, source) combinations —
    duplicate_keys accepts a key LIST and aggregates once."""
    docs = _t(spark, sf_dir, "documents")
    return uq.duplicate_keys(docs, ["lang", "source"])


def q40_training_pipeline(spark, sf_dir):
    """Composite training-data pipeline — the operators composed the way
    a user would: validate → keep passing docs → drop exact duplicates
    (min doc_id survives per fingerprint) → per-language rollup with
    token totals. One DAG, oracle-checked end to end."""
    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    passing = res.safe_rows().select("doc_id", "text", "lang")
    kept = dd.drop_exact_duplicates(passing)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ts.whitespace_token_count(F.col("text"))).alias("n_tokens"),
    )


def q41_rune_vs_byte_length(spark, sf_dir):
    """Go len(string) is BYTES (length family) while stringLength counts
    RUNES (validators_compare.go:176-197) — exercised over a derived
    Unicode column so the two diverge: 'café-' prefix = 5 runes, 6 bytes."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("café-"), F.col("lang")).alias("u")
    )
    rs = RuleSet(
        rules={"u": "byteLength:8,8|stringLength:8"}
    )
    res = validate(docs, rs, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q42_rule_report(spark, sf_dir):
    """Per-rule health report from ONE aggregate (no explode): fail and
    pass counts for every rule INCLUDING zero-failure rules."""
    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return res.rule_report()


def q43_span_sequence_invariant(spark, sf_dir):
    """The north rule's per-row invariant, oracle-checked: span-sequence
    equality on (kind, text, media_ref, order). An interleaved spans
    array is built DETERMINISTICALLY from the documents table (3 spans
    per doc), validated with the wildcard rules, and each row emits the
    md5 of its ordered span sequence — the DuckDB oracle rebuilds the
    same sequence scalar-wise, so the value-hash compare IS the
    span-sequence-equality check at every row."""
    docs = _t(spark, sf_dir, "documents")
    kinds = F.array(F.lit("text"), F.lit("image"), F.lit("audio"))

    def span(i: int):
        kind = F.get(kinds, F.pmod(F.col("doc_id") + i, F.lit(3)).cast("int"))
        text = F.substring(F.coalesce(F.col("text"), F.lit("")), 1 + i * 10, 10)
        # every 7th doc gets malformed (6-digit) refs → fails the regexp
        width = F.when(F.col("doc_id") % 7 == 0, F.lit(6)).otherwise(F.lit(8))
        mref = F.when(
            kind != "text",
            F.concat(
                F.lit("m-"),
                F.lpad(
                    ((F.col("doc_id") * 3 + i) % 100000000).cast("string"),
                    width,
                    "0",
                ),
            ),
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            mref.alias("media_ref"),
            F.lit(i).alias("offset"),
        )

    built = docs.select("doc_id", F.array(span(0), span(1), span(2)).alias("spans"))
    rs = RuleSet(
        rules={
            "spans.*.kind": "required|enum:text,image,audio",
            "spans.*.offset": "min:0",
            "spans.*.media_ref": "regexp:^m-[0-9]{8}$",
        }
    )
    res = validate(built, rs, key_cols=["doc_id"])
    seq = F.array_join(
        F.transform(
            F.col("spans"),
            lambda s: F.concat_ws(
                ":",
                s.getField("kind"),
                F.coalesce(s.getField("text"), F.lit("")),
                F.coalesce(s.getField("media_ref"), F.lit("")),
                s.getField("offset").cast("string"),
            ),
        ),
        "|",
    )
    return res.annotated.select(
        "doc_id",
        F.md5(seq).alias("span_seq_md5"),
        F.col("_vs_pass").alias("pass"),
    )


def q102_sessionize(spark, sf_dir):
    """Gap-based sessionization (temporal.sessionize) over the events
    stream: native F.session_window (the SAME operator Structured
    Streaming runs under a watermark), 6-hour gap, one shuffle on the
    user key with map-side partial session merging. Boundary semantics
    pinned by experiment: an event at EXACTLY prev+gap merges, so the
    oracle's gaps-and-islands break flag is strict `> gap`. sum_value
    is a bounded-cardinality per-session fp rollup (round-6 safe)."""
    from validate_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap="6 hours", value_col="value")


def q103_asof_join(spark, sf_dir):
    """AS-OF join (temporal.asof_join): each purchase event picks the
    most recent click by the same user at-or-before it, within a 48 h
    tolerance. Spark has no ASOF JOIN — the scale-correct
    re-expression is the tagged-union + running last_value(ignorenulls)
    window: ONE shuffle of |L|+|R| rows on the key, no join operator,
    no per-row probe. The right side is pre-aggregated unique per
    (user, ts) (max event_id) — the ASOF tie precondition. DuckDB
    oracle uses its native ASOF LEFT JOIN (inclusive >=), lag in
    floored epoch seconds to match Spark's cast(ts as long)."""
    from validate_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["click_id"],
        tolerance_s=48 * 3600,
    )


def q104_range_join(spark, sf_dir):
    """Keyless point-in-interval join (temporal.range_join_bins):
    every error event opens a 10-minute incident window [ts, ts+10m];
    count events (any user) inside each window. An inequality-only
    join plans as BroadcastNestedLoopJoin in OSS Spark (O(L*R) —
    dead at 10^12 rows); binning to bin_width >= interval length
    restores a plain equi-join on the bin key (<= 2 bins per
    interval, each pair meets exactly once since a point owns one
    bin), AQE-skew-splittable. Counts are exact integers."""
    from validate_spark.operators.temporal import range_join_bins

    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    pairs = range_join_bins(
        ev,
        err,
        point_ts="ts",
        lo="lo",
        hi="hi",
        bin_width_s=600,
        point_cols=["event_id", "user_id"],
        interval_cols=["err_id"],
    )
    return pairs.groupBy("err_id").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_streaming_fixture
def q105_streaming_sessionize(spark, sf_dir):
    """Streaming sessionization: the SAME temporal.sessionize
    expression as q102 run under readStream — odd-event_id events
    split into 3 chunk files (event_id%3, deliberately NOT
    time-ordered), one file per micro-batch under availableNow, with
    streaming session-window state merging sessions across
    micro-batches. Complete mode + 3650-day watermark make the output
    chunk-order independent (q89 fixture convention; production runs
    append with a real watermark — state per user = open sessions).
    The oracle is the same strict-gap gaps-and-islands SQL over the
    odd cohort; the hash match proves streaming ≡ batch ≡ SQL."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.operators.temporal import sessionize

    events = _t(spark, sf_dir, "events")
    odd = events.filter(
        F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2)) == 1
    )
    tmp = tempfile.mkdtemp(prefix="vs_stream_q105_")
    name = f"q105_sess_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    odd.filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
            }
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sess = sessionize(
            stream, "user_id", "ts", gap="6 hours", value_col="value",
            watermark="3650 days",
        )
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.table(name).select(
            "user", "session_start", "session_end", "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
        rows = out.collect()  # materialize before the memory table goes away
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


def q106_event_stream_quality(spark, sf_dir):
    """Per-user event-stream health (temporal.event_stream_quality):
    inter-arrival gaps (microsecond-exact, floored to seconds),
    sequence-id inversions, and exact-timestamp duplicates in
    (ts, event_id) order. Ingestion disorder is seeded by pulling
    every event_id%31 event back 3 days — the displaced rows create
    real inversions for the counter to find. One window shuffle; the
    groupBy is co-partitioned with it (no second exchange)."""
    from validate_spark.operators.temporal import event_stream_quality

    ev = _t(spark, sf_dir, "events")
    perturbed = ev.select(
        "user_id",
        "event_id",
        F.when(
            F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(31)) == 0,
            F.col("ts") - F.expr("INTERVAL 3 DAYS"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    return event_stream_quality(
        perturbed, "user_id", "ts", "event_id", big_gap_s=86400
    )


def q107_funnel(spark, sf_dir):
    """3-step conversion funnel (temporal.funnel): first signup →
    first click within 36 h after it → first purchase within 36 h
    after that, per user. Each stage's 'first qualifier so far' is a
    running min(CASE) window over one shared (user, ts, event_id)
    sort — three window passes + the final groupBy ride ONE exchange,
    no self-joins, no collect_list (O(1) state per row). Microsecond
    arithmetic via unix_micros/epoch_us — exact in both engines."""
    from validate_spark.operators.temporal import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        steps=("signup", "click", "purchase"),
        within_s=36 * 3600,
    )


def q108_cohort_retention(spark, sf_dir):
    """Weekly cohort retention (temporal.cohort_retention) over
    purchase events: cohort = first purchase day, w0..w3 = cohort
    users active in week k after their own first day. The per-week
    distinct counts go through a per-(cohort,user) week BITMASK
    (bit_or) instead of 4 countDistincts — multiple distinct
    aggregates would re-plan the rollup as an Expand (q66 gotcha);
    the mask keeps every stage a plain hash aggregate."""
    from validate_spark.operators.temporal import cohort_retention

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return cohort_retention(ev, "user_id", "ts", n_weeks=4)


def q109_rolling_window(spark, sf_dir):
    """Trailing 24 h per-user velocity (temporal.rolling_window_stats):
    for every event, the same user's event count and value sum in the
    inclusive last 24 hours — a RANGE frame over unix MICROSECONDS
    (time-bounded, tie-inclusive in both engines; a ROWS frame would
    tie-break arbitrarily). One shuffle on the user key; frame state
    bounded by the window's row count."""
    from validate_spark.operators.temporal import rolling_window_stats

    ev = _t(spark, sf_dir, "events")
    return rolling_window_stats(
        ev, "user_id", "ts", window_s=86400, value_col="value",
        out_cols=["event_id"],
    )


def q110_distinctive_terms(spark, sf_dir):
    """Per-document top-3 distinctive terms (textstats.distinctive_terms):
    rarity-weighted TF where score = tf·10⁹ div document-frequency —
    an integer-exact TF-IDF surrogate (a log IDF would make the
    ranking a double comparison whose near-ties can flip between
    engines). The TF aggregate and the DF join share ONE term-keyed
    exchange (explicit repartition, q16/AQE gotcha); ranking window is
    per-doc top-k, deterministic via (score DESC, term ASC)."""
    from validate_spark.operators.textstats import distinctive_terms

    docs = _t(spark, sf_dir, "documents")
    return distinctive_terms(docs, "doc_id", "text", top_k=3)


def q111_hopping_windows(spark, sf_dir):
    """Hopping (overlapping) 6h/2h event windows via native
    F.window(ts, window, slide) — each event lands in exactly 3
    epoch-aligned [start, end) windows, the same generator Structured
    Streaming uses, so this batch result previews the streaming rollup
    exactly. One shuffle on the window key; sum rounded to 6 (per-
    window cardinality is bounded by window span, so addition-order
    noise can't reach the tick — round-4 gotcha)."""
    from validate_spark.operators.temporal import hopping_window_counts

    ev = _t(spark, sf_dir, "events")
    out = hopping_window_counts(
        ev, "ts", window_s=6 * 3600, slide_s=2 * 3600, value_col="value"
    )
    return out.withColumn("sum_value", F.round("sum_value", 6))


@_streaming_fixture
def q112_stream_interval_join(spark, sf_dir):
    """Watermarked STREAM-STREAM interval join (temporal.interval_join):
    error events joined to the same user's clicks in the 6 h before
    each error. Both cohorts are split into 3 chunk files by
    event_id%3 (deliberately NOT time-ordered), one file per source
    per micro-batch under availableNow — matches form across
    micro-batch boundaries through the join state. Append mode (the
    only stream-stream-join mode) + 3650-day watermark: no state
    eviction, so the emitted SET of pairs is chunk-order independent
    (the gate compares order-insensitively). The bounds are timestamp
    ± INTERVAL literals — the exact shape Spark's state manager
    recognizes to bound state under a real watermark in production.
    The oracle is the direct inequality join; hash match proves
    streaming ≡ batch ≡ SQL."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.operators.temporal import interval_join

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q112_")
    name = f"q112_ivj_{uuid.uuid4().hex[:8]}"
    try:
        srcs = {kind: f"{tmp}/{kind}" for kind in ("error", "click")}
        _write_chunks(
            {
                srcs[kind]: [
                    events.filter(F.col("event_type") == kind).filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
                for kind in ("error", "click")
            }
        )
        err = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcs["error"])
            .select("user_id", "ts", F.col("event_id").alias("err_id"))
        )
        clk = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcs["click"])
            .select("user_id", "ts", F.col("event_id").alias("click_id"))
        )
        joined = interval_join(
            err, clk, "user_id", "ts", "ts",
            lower_s=-6 * 3600, upper_s=0,
            left_cols=["err_id"], right_cols=["click_id"],
            watermark="3650 days",
        ).select(
            "user_id", "ts_l", "ts_r", "err_id", "click_id",
            F.expr("(unix_micros(ts_l) - unix_micros(ts_r)) div 1000000")
            .alias("gap_s"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.table(name)
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


@_streaming_fixture
def q113_streaming_hopping(spark, sf_dir):
    """Streaming hopping windows: the SAME hopping_window_counts
    expression as q111 (4h window / 1h slide, even-event_id cohort)
    run under readStream from 3 non-time-ordered chunk files.
    Complete mode + memory sink + huge watermark per the q89
    convention (chunk-order-independent finalized output under
    availableNow); production runs append with a real watermark —
    state per key = open windows. Hash match vs the k-range SQL
    replay proves the batch operator previews the streaming rollup
    EXACTLY — same epoch-aligned half-open window generator."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.operators.temporal import hopping_window_counts

    events = _t(spark, sf_dir, "events")
    even = events.filter(
        F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2)) == 0
    )
    tmp = tempfile.mkdtemp(prefix="vs_stream_q113_")
    name = f"q113_hop_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    even.filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
            }
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        hop = hopping_window_counts(
            stream, "ts", window_s=4 * 3600, slide_s=3600,
            value_col="value", watermark="3650 days",
        )
        q = (
            hop.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.table(name).select(
            "window_start", "window_end", "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


@_streaming_fixture
def q114_native_streaming_dedup(spark, sf_dir):
    """The NATIVE streaming dedup path (q56's custom stateful operator
    has a built-in sibling): dropDuplicatesWithinWatermark keyed on
    the content fingerprint — JVM state store, zero Python in the
    loop. The doubled corpus carries a deterministic pseudo event time
    (doc_id mod 1000 seconds past a fixed epoch; a doc and its doubled
    copy share it, so duplicates are time-co-located, the case the
    watermark contract is built for). Huge watermark → no state
    eviction → the emitted fingerprint SET equals the corpus's
    distinct fingerprints, whatever the micro-batch boundaries."""
    import shutil
    import tempfile

    from validate_spark.streaming.stateful_dedup import (
        native_drop_duplicates_within_watermark,
    )

    corpus = _doubled_docs(spark, sf_dir).withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(
            secs=F.pmod(F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(1000))
        ),
    )
    tmp = tempfile.mkdtemp(prefix="vs_stream_q114_")
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    corpus.filter(
                        F.pmod(
                            F.coalesce(F.col("doc_id"), F.lit(0)), F.lit(4)
                        )
                        == i
                    )
                    for i in range(4)
                ]
            }
        )
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = f"{tmp}/out"
        q = (
            native_drop_duplicates_within_watermark(
                stream, ts_col="ts", watermark="3650 days"
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(300)
        res = spark.read.parquet(sink).select("fp")
        rows = res.collect()  # materialize before the temp dir goes away
        return _rows_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q115_span_ref_integrity(spark, sf_dir):
    """SPAN-level referential integrity (refcheck.dangling_span_refs):
    every media_ref inside the interleaved spans array must exist in
    the media catalog — explode only (doc_id, media_ref) AFTER
    null-filtering the nested field (column pruning reaches the scan),
    then a broadcast LEFT ANTI join against the distinct catalog. The
    catalog is the fixture's own refs minus the d%17==5 cohort (17 is
    coprime to every other fixture modulus — the q88 gotcha), so the
    dangling set is a seeded, DuckDB-replayable cohort."""
    from validate_spark.operators.refcheck import dangling_span_refs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    built = _interleaved_from_documents(docs)
    d = F.coalesce(F.col("doc_id"), F.lit(9))
    keep = _interleaved_from_documents(docs.filter(F.pmod(d, F.lit(17)) != 5))
    catalog = keep.select(
        F.explode(
            F.filter(
                F.col("spans").getField("media_ref"),
                lambda r: r.isNotNull(),
            )
        ).alias("ref")
    )
    return dangling_span_refs(built, catalog)


@_streaming_fixture
def q116_stream_static_enrich(spark, sf_dir):
    """Stream-STATIC enrichment (streaming/enrich.py): the events
    stream broadcast-joined per micro-batch to the static customer
    dimension (stateless — no join state), then a tumbling 1-day
    rollup per market segment (stateful, state = windows × segments).
    Complete mode + huge watermark per the q89 convention; sum rounded
    to 6 (segment×day cardinality is bounded). Chunked 3 files by
    event_id%3, NOT time-ordered."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.streaming.enrich import (
        stream_static_enrich,
        windowed_segment_rollup,
    )

    events = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q116_")
    name = f"q116_enr_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    events.filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
            }
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        enriched = stream_static_enrich(
            stream, cust, key="user_id", dim_key="c_custkey",
            dim_cols=["c_mktsegment"],
        )
        roll = windowed_segment_rollup(
            enriched, ts_col="ts", segment_col="c_mktsegment",
            window="1 day", value_col="value", watermark="3650 days",
        )
        q = (
            roll.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.table(name).select(
            "window_start", "segment", "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


def q117_benford_audit(spark, sf_dir):
    """Benford first-digit audit (drift.benford_audit) over order
    totals — the no-baseline forensic check beside the KS/χ²/PSI drift
    family. Integer-only gate surface: digits from int64-cents
    STRINGS, shares as div-ppm, the log10 law as a hardcoded ppm
    table (no libm ULP can differ)."""
    from validate_spark.operators.drift import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice")


def q118_label_agreement(spark, sf_dir):
    """Cohen's kappa (stats.categorical_agreement) between the
    documents table's declared lang tag and the engine's lang_id
    prediction — chance-corrected label agreement from one class²-
    bounded pair aggregate; all fp inputs are exact int64 counts, so
    po/pe/kappa are identical doubles in both engines."""
    from validate_spark.operators.stats import categorical_agreement
    from validate_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents").select(
        "lang", lang_id(F.col("text")).alias("lang_pred")
    )
    return categorical_agreement(docs, "lang", "lang_pred")


def q119_cube_profile(spark, sf_dir):
    """CUBE profile (stats.cube_profile) over documents (lang ×
    source): all four grouping sets from ONE Expand + hash aggregate
    — the one place an Expand is the right plan. g_* GROUPING() flags
    keep real NULL dims distinct from subtotal rows; the token sum is
    int64-exact."""
    from validate_spark.operators.stats import cube_profile
    from validate_spark.operators.textstats import whitespace_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "lang", "source",
        whitespace_token_count(F.col("text")).cast("long").alias("ntok"),
    )
    return cube_profile(
        docs, ["lang", "source"],
        aggs=[F.sum("ntok").cast("long").alias("sum_tokens")],
    )


def q120_event_pivot(spark, sf_dir):
    """PIVOT (stats.pivot_counts): per-user event counts widened to
    one column per event type, domain passed EXPLICITLY (no extra
    distinct-discovery scan, data-independent schema). Absent
    combinations are 0, not NULL."""
    from validate_spark.operators.stats import pivot_counts

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return pivot_counts(
        ev, "user_id", "event_type",
        ["signup", "click", "view", "purchase", "error"],
    )


def q121_event_melt(spark, sf_dir):
    """UNPIVOT/melt (stats.unpivot_wide): q120's wide pivot matrix
    back to long (user_id, event_type, n) — ONE Expand pass, not five
    unioned scans. Round-trips the pivot: zeros survive as explicit
    rows (the gap-fill contract)."""
    from validate_spark.operators.stats import pivot_counts, unpivot_wide

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    wide = pivot_counts(
        ev, "user_id", "event_type",
        ["signup", "click", "view", "purchase", "error"],
    )
    return unpivot_wide(
        wide, ["user_id"], ["signup", "click", "view", "purchase", "error"],
        var_name="event_type", value_name="n",
    )


def q122_daily_densify(spark, sf_dir):
    """Calendar densification (temporal.densify_daily): one row per
    (user, day) over each user's own [first, last] day span with
    zero-filled quiet days — trailing-window math over sparse rows
    silently skips them otherwise. One pass over events; the calendar
    explode derives from the day-bounded aggregate, never the raw
    stream. Day-bounded fp sums round-6 safe."""
    from validate_spark.operators.temporal import densify_daily

    ev = _t(spark, sf_dir, "events")
    return densify_daily(ev, "user_id", "ts", value_col="value").select(
        F.col("key").alias("user"), "day", "n_events", "sum_value"
    )


def q123_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape (olap.pricing_summary): per (returnflag,
    linestatus) money rollup with ALL-INTEGER internals — cents and
    basis-unit int64 sums (a double sum at 1e8 scale carries more
    addition-order error than the round-6 tick), doubles only at the
    display division. One map-side-partial aggregate."""
    from validate_spark.operators.olap import pricing_summary

    return pricing_summary(_t(spark, sf_dir, "lineitem"))


def q124_top_revenue(spark, sf_dir):
    """TPC-H Q3 shape (olap.top_revenue_orders): top-10 open BUILDING
    orders by revenue — the k-cut sorts by the EXACT int64 revenue
    (doubles could flip near-ties across engines), TakeOrderedAndProject
    plan (per-task heaps, no global sort)."""
    from validate_spark.operators.olap import top_revenue_orders

    return top_revenue_orders(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def q125_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (olap.local_supplier_volume): five-way star join
    (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with
    the local-supplier nation-equality condition; true dimensions are
    explicitly broadcast. Revenue int64-exact, nation-bounded output."""
    from validate_spark.operators.olap import local_supplier_volume

    return local_supplier_volume(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q126_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (olap.order_priority_counts): per-priority count
    of one quarter's orders having a late-shipping line — EXISTS as a
    LEFT SEMI join with a cross-table inequality residual (the fact
    side never widens, duplicates never inflate the count)."""
    from validate_spark.operators.olap import order_priority_counts

    return order_priority_counts(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q127_customer_orders_dist(spark, sf_dir):
    """TPC-H Q13 shape (olap.customer_order_distribution): customers
    bucketed by non-urgent order count INCLUDING the zero bucket (the
    left outer join is the point — inner drops the largest bucket)."""
    from validate_spark.operators.olap import customer_order_distribution

    return customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q128_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape (olap.idle_rich_customers): above-average
    balances with no RECENT orders (churned capital) — one-row global
    aggregate broadcast back, INTEGER cross-multiplied threshold (no
    float decides membership), LEFT ANTI join for NOT EXISTS with the
    date filter pushed into the orders scan, int64-cents money."""
    from validate_spark.operators.olap import idle_rich_customers

    return idle_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q129_latest_wins(spark, sf_dir):
    """CDC changelog compaction (snapdiff.latest_wins): newest event
    per user by (ts DESC, event_id DESC) NULLS LAST — one exchange +
    row_number, no max-ts self-join (two shuffles + tie-broken)."""
    from validate_spark.operators.snapdiff import latest_wins

    ev = _t(spark, sf_dir, "events")
    return latest_wins(ev, ["user_id"], "ts", "event_id").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


def q130_quality_classifier(spark, sf_dir):
    """Model-based quality filter (textstats.quality_classifier):
    linear classifier over integer count features with int64
    1e-6-unit weights — the score and the keep/drop decision are
    integer-exact cross-engine; one map-only codegen'd projection."""
    from validate_spark.operators.textstats import quality_classifier

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_classifier(docs).select(
        "doc_id", "n_words", "n_stop", "n_punct", "n_digit", "n_upper",
        "score_e6", "model_score", "keep",
    )


def q131_doc_chunks(spark, sf_dir):
    """Sliding-window context chunking (packing.chunk_documents):
    fixed 64-token windows at stride 48 with per-doc provenance —
    map-only (explode + slice, ZERO shuffles), integer-exact chunk
    count, md5 chunk fingerprints (engine-boundary hash rule)."""
    from validate_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=64, stride=48)


def q132_doc_keywords(spark, sf_dir):
    """Per-doc keyword extraction (textstats.doc_keywords): top-3 terms
    by (tf DESC, corpus df ASC, term ASC) — TF-IDF selection made
    integer-exact; df via a count window over term (one scan, three
    exchanges — never a second corpus branch), then the doc-key rank
    window."""
    from validate_spark.operators.textstats import doc_keywords

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_keywords(docs, k=3)


def q133_csv_ingest(spark, sf_dir):
    """Malformed-CSV ingestion (sources/csvsrc.py): PERMISSIVE read
    with corrupt-record routing — a deterministic CSV fixture derived
    from documents (doc_id%7==3 rows get an unparseable n_chars,
    doc_id%11==5 rows an extra column) is read back under an explicit
    schema; bad lines become quarantined ROWS (field NULL + raw line
    captured), never a job abort. The corrupt line crosses the engine
    boundary as md5 (repo hash rule)."""
    import tempfile

    from validate_spark.sources.csvsrc import read_csv_validated

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d, lg, n = F.col("doc_id"), F.col("lang"), F.col("n_chars")
    line = (
        F.when(
            d % 7 == 3,
            F.concat(d.cast("string"), F.lit(","), lg, F.lit(",x"),
                     n.cast("string")),
        )
        .when(
            d % 11 == 5,
            F.concat(d.cast("string"), F.lit(","), lg, F.lit(","),
                     n.cast("string"), F.lit(",999")),
        )
        .otherwise(
            F.concat(d.cast("string"), F.lit(","), lg, F.lit(","),
                     n.cast("string"))
        )
    )
    tmp = tempfile.mkdtemp(prefix="vs_csv_q133_")
    src = f"{tmp}/src"
    docs.select(line.alias("value")).write.mode("overwrite").text(src)
    out = read_csv_validated(
        spark, src, "doc_id long, lang string, n_chars long"
    )
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        "is_corrupt",
        F.when(
            F.col("is_corrupt"), F.md5(F.col("_corrupt_record"))
        ).alias("corrupt_line_fp"),
    )


def q134_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (olap.nation_volume_shipping): bilateral trade
    volume between two nations by ship year — two broadcast nation
    lookups + the disjunctive direction filter after both names
    attach; revenue int64-exact until the display division."""
    from validate_spark.operators.olap import nation_volume_shipping

    return nation_volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q135_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape (olap.returned_item_customers): top-20
    customers by returned-line revenue in one quarter — date filter
    in the orders scan, broadcast customer+nation dims, k-cut on the
    exact int64 revenue (TakeOrderedAndProject)."""
    from validate_spark.operators.olap import returned_item_customers

    return returned_item_customers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


def q136_promo_share(spark, sf_dir):
    """TPC-H Q14 shape (olap.promo_revenue_share): promotional share
    of one month's revenue — one broadcast part join, one global
    conditional aggregate, ratio derived from two exact int64 sums."""
    from validate_spark.operators.olap import promo_revenue_share

    return promo_revenue_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q137_top_suppliers(spark, sf_dir):
    """TPC-H Q15 shape (olap.top_suppliers): supplier(s) at the GLOBAL
    quarterly revenue max, ties preserved — one-row max aggregate
    broadcast-cross-joined back; int64 equality decides the winner."""
    from validate_spark.operators.olap import top_suppliers

    return top_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


def q138_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (olap.small_quantity_revenue): revenue lost to
    sub-20%-of-average-quantity lines of one brand — the correlated
    scalar subquery as a semi-reduced per-part aggregate broadcast
    back; integer cross-multiplied 20% test."""
    from validate_spark.operators.olap import small_quantity_revenue

    return small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q139_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape (olap.large_volume_customers): orders whose
    total line quantity beats the threshold, with their customers —
    aggregate-first HAVING semi; the qualifying-order frame broadcasts
    into both lookups."""
    from validate_spark.operators.olap import large_volume_customers

    return large_volume_customers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def q140_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (olap.disjunctive_revenue): three OR'd
    brand/size/quantity bands — equi-join on partkey with the
    disjunction as residual, each side pre-filtered by its own
    derived OR so no band-less row streams."""
    from validate_spark.operators.olap import disjunctive_revenue

    return disjunctive_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def q141_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (olap.waiting_suppliers): suppliers solely
    responsible for a late multi-supplier order — the double
    correlated EXISTS/NOT EXISTS re-expressed as two stacked
    aggregates (no fact self-join, no distinct-aggregate Expand)."""
    from validate_spark.operators.olap import waiting_suppliers

    return waiting_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
    )


def q142_pagerank(spark, sf_dir):
    """Integer-exact PageRank (operators/graph.py): 3 rounds over the
    deterministic doc-link fixture — every rank an int64 in 1e-12
    units, one dst-shuffle + co-partitioned left join per round,
    localCheckpoint lineage truncation. The unrolled SQL oracle
    replays the identical integral divisions (Spark DIV ≡ DuckDB //
    on non-negative ints), so ranks match bit-for-bit."""
    from validate_spark.operators.graph import pagerank, synthetic_doc_links

    docs = _t(spark, sf_dir, "documents")
    return pagerank(synthetic_doc_links(docs), n_iters=3)


def q143_bpe_merges(spark, sf_dir):
    """First BPE training iteration (textstats.bpe_merge_stats):
    top-50 adjacent-character-pair frequencies weighted by corpus word
    frequency — the pair stage runs over the DISTINCT vocabulary (the
    BPE compression trick), so its input is |vocab|-bounded, not
    corpus-bounded; native transform+substr pair building, k-cut by
    (count, lhs, rhs)."""
    from validate_spark.operators.textstats import bpe_merge_stats

    return bpe_merge_stats(_t(spark, sf_dir, "documents"), k=50)


def q144_token_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy (textstats.token_entropy):
    H = ln(n) − Σ c·ln(c)/n over whitespace-token counts — repetitive
    text scores low, token soup high. Exact int64 counts; the round-6
    double is safe cross-engine because per-doc distinct-token
    cardinality is bounded (round-4 gotcha)."""
    from validate_spark.operators.textstats import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


def q145_random_projection(spark, sf_dir):
    """JL ±1 random projection (similarity.random_projection): 64→16
    dims, long-format (key, k, proj) output. The sign matrix is
    generated in Python and inlined as literals in BOTH engines (one
    source of truth); each coordinate is a sequential left fold, so
    the round-6 values hash-match bit-for-bit. Map-only plan — the
    projection fuses into the scan."""
    from validate_spark.operators.similarity import random_projection

    return random_projection(_t(spark, sf_dir, "embeddings"))


_CANARY_PHRASES = [
    "table value",
    "row fast",
    "data column",
    "the part",
    "window spark",
    "no such canary phrase",
]


def q146_phrase_contamination(spark, sf_dir):
    """Exact-substring canary check (decontam.phrase_contamination):
    per blocked phrase, how many documents contain it verbatim —
    map-side instr probes from a literal list, no join/shuffle before
    the K-row aggregate; zero-hit phrases still reported."""
    from validate_spark.operators.decontam import phrase_contamination

    return phrase_contamination(
        _t(spark, sf_dir, "documents"), _CANARY_PHRASES
    )


def q147_group_percentiles(spark, sf_dir):
    """Exact per-group percentiles (stats.group_percentiles): n_chars
    p25/p50/p75/p95 per (lang, source) — SQL-standard continuous
    quantile, identical interpolation formula in both engines;
    distinct-value-bounded aggregation state (sketches are the
    unbounded-domain path, drift.py)."""
    from validate_spark.operators.stats import group_percentiles

    return group_percentiles(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        value_col="n_chars",
    )


@_streaming_fixture
def q148_stream_outer_interval_join(spark, sf_dir):
    """STREAM-STREAM LEFT-OUTER interval join (temporal.interval_join
    how='left_outer'): each error event joined to the same user's
    clicks in the 6 h before it, errors with NO such click emitted
    with NULL click columns — the state-EVICTION half of the
    stream-stream join contract that q112's inner join never
    exercises (an outer row may only emit once both watermarks prove
    no future match can land in its interval).

    Deterministic availableNow fixture: batch 1 carries ALL real rows
    on both sides (every match forms in-batch; nothing can be
    late-dropped), then two far-future SENTINEL chunks per side march
    the 1 h watermark past the real data — batch 2's sentinel lifts
    the watermark, batch 3 triggers the flush of every remaining
    unmatched error. Sentinels (user_id −999) are filtered from the
    output. The oracle is the direct SQL LEFT JOIN; hash match proves
    streaming outer ≡ batch ≡ SQL."""
    import tempfile
    import uuid

    from validate_spark.operators.temporal import interval_join

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q148_")
    name = f"q148_oivj_{uuid.uuid4().hex[:8]}"
    # three sentinels: real rows fully flush as long as SOME batch runs
    # after a batch whose watermark passed the real data — with 0.3 s
    # mtime spacing at most two sentinel files can share a micro-batch,
    # so the last sentinel batch always evicts with a post-sentinel
    # watermark (the 2-sentinel variant was observed marginal: batch
    # composition shifted with file-listing timing and withheld the
    # final-hour outer rows)
    sentinel_rows = [
        (-1, "2226-01-01 00:00:00"),
        (-2, "2236-01-01 00:00:00"),
        (-3, "2246-01-01 00:00:00"),
    ]
    try:
        srcs = {}
        # pure-JVM literal sentinel rows: createDataFrame(list) writes
        # via a 32-slice Python RDD whose coalesce(1) task pays ~32
        # sequential Python-runner round-trips ≈ 5 s PER SENTINEL
        # (measured r6); identical bytes, ~0.2 s. All 8 chunk writes
        # (2 cohorts + 2×3 sentinels) overlap via _write_chunks, with
        # per-dir mtime slots replacing the former 0.3 s sleeps.
        def _sentinel(kind, eid, ts):
            return spark.range(1).select(
                F.lit(eid).cast("long").alias("event_id"),
                F.to_timestamp(F.lit(ts)).alias("ts"),
                F.lit(-999).cast("long").alias("user_id"),
                F.lit(kind).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )

        for kind in ("error", "click"):
            srcs[kind] = f"{tmp}/{kind}"
        _write_chunks(
            {
                srcs[kind]: [events.filter(F.col("event_type") == kind)]
                + [_sentinel(kind, eid, ts) for eid, ts in sentinel_rows]
                for kind in ("error", "click")
            }
        )
        err = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcs["error"])
            .select("user_id", "ts", F.col("event_id").alias("err_id"))
        )
        clk = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcs["click"])
            .select("user_id", "ts", F.col("event_id").alias("click_id"))
        )
        joined = interval_join(
            err, clk, "user_id", "ts", "ts",
            lower_s=-6 * 3600, upper_s=0,
            left_cols=["err_id"], right_cols=["click_id"],
            watermark="1 hour", how="left_outer",
        ).select(
            "user_id", "ts_l", "ts_r", "err_id", "click_id",
            F.expr("(unix_micros(ts_l) - unix_micros(ts_r)) div 1000000")
            .alias("gap_s"),
        )
        # sentinels are filtered AFTER the sink: a pre-sink filter on
        # user_id is pushed below the EventTimeWatermark node (it is a
        # join-key predicate, so it lands on BOTH source legs), the
        # sentinel rows never reach the watermark accumulator, and the
        # final-hour outer rows are withheld forever — observed as a
        # deterministic 7-row deficit before this fix
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive:  # availableNow: drain EVERY micro-batch
            q.awaitTermination(2)
        out = spark.table(name).filter(F.col("user_id") != -999)
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass


def q149_bucketed_join(spark, sf_dir):
    """Shuffle-free co-located join (sources/bucketed.py): lineitem
    and orders persisted as bucketed+sorted tables on the order key,
    then joined and rolled up per order status — the join plans with
    ZERO Exchange (each task merges bucket i of both tables locally;
    at 10^12 rows that is the entire join shuffle removed from every
    downstream job that reuses the layout). Revenue int64-exact."""
    import uuid

    from validate_spark.sources.bucketed import (
        bucketed_join, drop_bucketed, write_bucketed,
    )

    sfx = uuid.uuid4().hex[:8]
    lt, rt = f"q149_li_{sfx}", f"q149_ord_{sfx}"
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        (
            F.round(F.col("l_extendedprice") * 100).try_cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100)
               .try_cast("long"))
        ).alias("_rev_e4"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
    )
    try:
        write_bucketed(li, lt, key="orderkey", n_buckets=8)
        write_bucketed(o, rt, key="orderkey", n_buckets=8)
        j = bucketed_join(spark, lt, rt, "orderkey")
        out = j.groupBy("o_orderstatus").agg(
            F.round(F.sum("_rev_e4").cast("double") / 10000, 6)
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        drop_bucketed(spark, lt, rt)


def q150_schema_evolution(spark, sf_dir):
    """Schema-evolution ingestion (sources/csvsrc.read_evolved_parquet
    + evolution_profile): snapshot A (doc_id, lang, n_chars) and
    snapshot B (doc_id, lang, quality_tier — n_chars dropped, a column
    added) merged with mergeSchema; absent columns NULL-fill per file,
    column pruning still reaches each file's own physical schema. The
    profile answers 'how much of the corpus HAS each column' in one
    aggregate."""
    import tempfile

    from validate_spark.sources.csvsrc import (
        evolution_profile, read_evolved_parquet,
    )

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="vs_evo_q150_")
    a_dir, b_dir = f"{tmp}/snap_a", f"{tmp}/snap_b"
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(a_dir)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        F.when(F.col("n_chars") >= 400, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("quality_tier"),
    ).write.mode("overwrite").parquet(b_dir)
    return evolution_profile(read_evolved_parquet(spark, [a_dir, b_dir]))


def q151_partition_pruning(spark, sf_dir):
    """Partition-pruned lake read (sources/bucketed.write_partitioned):
    events written as a day-partitioned directory tree, then a
    one-week window queried back — the day predicate prunes at FILE
    LISTING time (PartitionFilters, plan-asserted in test_sources),
    so the scan never opens out-of-window files. Output: per-day,
    per-type counts + value sums for the week."""
    import tempfile

    from validate_spark.sources.bucketed import (
        read_partitioned, write_partitioned,
    )

    events = _t(spark, sf_dir, "events").withColumn(
        "d", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    tmp = tempfile.mkdtemp(prefix="vs_part_q151_")
    lake = f"{tmp}/events_by_day"
    write_partitioned(events, lake, partition_cols=["d"])
    df = read_partitioned(spark, lake).filter(
        (F.col("d") >= "2024-01-08") & (F.col("d") <= "2024-01-14")
    )
    # directory-name type inference may read d back as DATE — pin the
    # cross-engine output type to string
    return df.groupBy(
        F.col("d").cast("string").alias("d"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q152_nfc_normalization(spark, sf_dir):
    """Unicode NFC normalization (textstats.nfc_report): documents
    salted with DECOMPOSED sequences (doc_id%5==0 rows get
    'e'+U+0301 appended; %7==2 rows a precomposed 'é' — the two forms
    md5-collide only AFTER normalization) — Arrow-batched
    unicodedata.normalize vs DuckDB's built-in nfc_normalize, byte
    equality proven through md5."""
    from validate_spark.operators.textstats import nfc_report

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    decomposed = "cafe\u0301"   # e + COMBINING ACUTE (changes under NFC)
    precomposed = "caf\u00e9"   # precomposed: NFC fixed point
    salted = docs.select(
        "doc_id",
        F.when(d % 5 == 0, F.concat(F.col("text"), F.lit(decomposed)))
        .when(d % 7 == 2, F.concat(F.col("text"), F.lit(precomposed)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return nfc_report(salted)


def q153_table_checksum(spark, sf_dir):
    """Order-insensitive row-set checksum (stats.table_checksum): the
    per-source migration-validation fingerprint — commutative md5-sum
    over rows, so partitioning/order/parallelism cannot change it and
    two copies of a table agree iff their row multisets agree. One
    map-side-partial aggregate."""
    from validate_spark.operators.stats import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "documents"),
        cols=["doc_id", "lang", "n_chars", "text"],
        group_cols=["source"],
    )


def q154_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing (sampling.mix_temperature_
    weights): per-source natural share (exact ppm), alpha=0.7 target
    share, and the sample rate a deterministic sampler should apply —
    the GPT-3/XLM-R/LLaMA multi-source rebalance, one stratum hash
    aggregate + two broadcast one-row joins."""
    from validate_spark.operators.sampling import mix_temperature_weights

    return mix_temperature_weights(
        _t(spark, sf_dir, "documents"),
        strata_col="source",
        size_col="n_chars",
        alpha=0.7,
    )


def q155_duplication_profile(spark, sf_dir):
    """Corpus duplication topline (dedup.duplication_profile): exact-
    duplicate cluster-size distribution — n_clusters and n_docs per
    size, two stacked hash aggregates, nothing driver-side. The synth
    corpus is duplicate-free, so every doc_id%5==0 row collapses onto
    one of 7 templates (d%7) — a deterministic 7-cluster head plus a
    unique tail, exercising both ends of the distribution."""
    from validate_spark.operators.dedup import duplication_profile

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    salted = docs.select(
        F.when(
            d % 5 == 0,
            F.concat(F.lit("boilerplate template "), (d % 7).cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    return duplication_profile(salted)


def q156_debounce(spark, sf_dir):
    """Burst suppression (temporal.debounce_first): keep the first
    event of every rapid same-user burst (gap 2 min, true debounce
    chaining — an event extends the burst relative to its PREVIOUS
    event, kept or not), with the suppressed count per burst. Session
    machinery, one key shuffle."""
    from validate_spark.operators.temporal import debounce_first

    return debounce_first(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_id",
        gap="2 minutes",
    )


def q157_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (olap.forecast_revenue_change): the canonical
    zero-join scan-filter-aggregate — date/discount/quantity bands as
    integer-cents comparisons, one map-side-partial exact int64 sum."""
    from validate_spark.operators.olap import forecast_revenue_change

    return forecast_revenue_change(_t(spark, sf_dir, "lineitem"))


def q158_span_annotate(spark, sf_dir):
    """Nested-preserving span enrichment (textstats.annotate_spans):
    every span of the interleaved table gains (n_chars, n_tokens,
    has_ref) via transform+withField — the enrichment itself is a
    map-side projection with ZERO explode/Exchange (plan-asserted in
    tests); only the oracle-comparison view at the end flattens. A
    clean 3-span fixture (q43's formulas, no violation cohorts)."""
    from validate_spark.operators.textstats import annotate_spans

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    kinds = F.array(F.lit("text"), F.lit("image"), F.lit("audio"))

    def span(i):
        kind = F.get(kinds, F.pmod(d + i, F.lit(3)).cast("int"))
        text = F.substring(F.coalesce(F.col("text"), F.lit("")), 1 + i * 10, 10)
        mref = F.when(
            kind != "text",
            F.concat(F.lit("m-"),
                     F.lpad(((d * 3 + i) % 100000000).cast("string"), 8, "0")),
        )
        return F.struct(
            kind.alias("kind"), text.alias("text"),
            mref.alias("media_ref"), F.lit(i).cast("int").alias("offset"),
        )

    inter = docs.select(
        d.alias("doc_id"), F.array(span(0), span(1), span(2)).alias("spans")
    )
    ann = annotate_spans(inter)
    return ann.select(
        "doc_id", F.posexplode("spans").alias("idx", "s")
    ).select(
        "doc_id",
        F.col("idx").cast("int").alias("idx"),
        F.col("s.kind").alias("kind"),
        F.col("s.n_chars").alias("n_chars"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.has_ref").alias("has_ref"),
    )


@_streaming_fixture
def q159_stateful_sessionize(spark, sf_dir):
    """TIMER-driven stateful sessionization (streaming/
    stateful_session.py): applyInPandasWithState with an EVENT-TIME
    TIMEOUT — open sessions live in keyed state (parallel arrays),
    the watermark seals them, and idle keys flush via the timer
    (state.hasTimedOut with an empty batch — the one custom-state
    path q56/q105 never exercise). Fixture: 3 time-unordered real
    chunks, then 3 far-future sentinel chunks marching the watermark
    so every real session seals before availableNow terminates
    (sentinel key filtered after the sink). Output set proven == the
    q102 gaps-and-islands SQL."""
    import tempfile
    import uuid

    from validate_spark.streaming.stateful_session import stateful_sessionize

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q159_")
    src = f"{tmp}/events"
    # pure-JVM literal sentinel rows — the createDataFrame(list) form
    # wrote through a 32-slice Python RDD whose coalesce(1) task pays
    # ~32 sequential Python-runner round-trips ≈ 5 s per sentinel
    # (measured r6); identical bytes, ~0.2 s. All 6 chunk writes
    # overlap via _write_chunks, with explicit mtime slots replacing
    # the former 0.3 s sleeps (file-source orders chunks by mtime).
    _write_chunks(
        {
            src: [
                events.filter(
                    F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3))
                    == i
                )
                for i in range(3)
            ]
            + [
                spark.range(1).select(
                    F.lit(eid).cast("long").alias("event_id"),
                    F.to_timestamp(F.lit(ts)).alias("ts"),
                    F.lit(-999).cast("long").alias("user_id"),
                    F.lit("click").alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit(None).cast("string").alias("props"),
                )
                for eid, ts in [(-1, "2200-01-01"), (-2, "2210-01-01"),
                                (-3, "2220-01-01")]
            ]
        }
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = stateful_sessionize(stream, key_col="user_id", ts_col="ts",
                               gap_s=6 * 3600, watermark="3650 days")
    name = f"q159_ss_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive:
            q.awaitTermination(2)
        out = spark.table(name).filter(F.col("key") != -999)
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass


def q160_python_datasource(spark, sf_dir):
    """Custom Python DataSource (sources/pysource.py, the Spark 4
    pyspark.sql.datasource API): a deterministic md5-synthetic corpus
    read through format('vs_synth_docs') with planned range
    partitions (generation on executors, driver-free) — then a
    per-category rollup. The oracle regenerates every row from the
    same md5(seed:i) arithmetic over range(n)."""
    from validate_spark.sources.pysource import SyntheticDocsSource

    try:
        spark.dataSource.register(SyntheticDocsSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("vs_synth_docs")
        .option("n", "5000").option("seed", "7").option("n_partitions", "8")
        .load()
    )
    return df.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").cast("long").alias("sum_value"),
        F.md5(F.concat_ws("|", F.sort_array(F.collect_list("text"))))
        .alias("texts_fp"),
    )


def q161_ngram_udtf(spark, sf_dir):
    """Python UDTF (validators.make_ngram_udtf): word bigrams of each
    document emitted by a table function joined LATERALly in SQL —
    the FROM-clause member of the §2.11 surface. Top-25 bigrams by
    (count desc, gram) so the result is k-bounded; the oracle replays
    the same normalization + windowed split in DuckDB."""
    from validate_spark.functions.validators import make_ngram_udtf

    spark.udtf.register("vs_bigrams", make_ngram_udtf(2))
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("q161_docs")
    return spark.sql(
        """
        SELECT g.gram, count(*) AS n
        FROM q161_docs d, LATERAL vs_bigrams(d.text) g
        GROUP BY g.gram
        ORDER BY n DESC, g.gram
        LIMIT 25
        """
    ).withColumn("n", F.col("n").cast("long"))


@_streaming_fixture
def q162_python_stream_source(spark, sf_dir):
    """Custom STREAMING Python DataSource (pysource._SynthStreamReader,
    SimpleDataSourceStreamReader API): the same md5-deterministic
    corpus as q160 read via readStream with offset-tracked batches —
    offsets checkpoint as row ids and replay regenerates identical
    rows (pure function of seed:i — the source-side idempotence
    contract). availableNow falls back to single-batch execution for
    Python stream sources (Spark-documented), so the fixture's chunk
    covers the whole range in one batch; multi-batch offset
    progression + readBetweenOffsets replay are exercised directly in
    test_sources. Complete-mode rollup == q160's batch result == the
    md5 SQL replay."""
    from validate_spark.sources.pysource import SyntheticDocsSource
    import uuid

    try:
        spark.dataSource.register(SyntheticDocsSource)
    except Exception:
        pass
    st = (
        spark.readStream.format("vs_synth_docs")
        .option("n", "5000").option("seed", "7").option("chunk", "5000")
        .load()
    )
    agg = st.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").cast("long").alias("sum_value"),
        F.md5(F.concat_ws("|", F.sort_array(F.collect_list("text"))))
        .alias("texts_fp"),
    )
    name = f"q162_pss_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive:
            q.awaitTermination(2)
        out = spark.table(name)
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass


def q163_variant_extraction(spark, sf_dir):
    """VARIANT semi-structured ingestion (jsonsrc.variant_fields,
    Spark 4): deterministic JSON built from documents (doc_id%13==6
    rows truncated → malformed), parsed ONCE with try_parse_json and
    probed with typed try_variant_get paths — malformed/missing paths
    are NULL + a valid flag, never an abort. Oracle replays with
    DuckDB's json functions behind a json-valid guard."""
    from validate_spark.sources.jsonsrc import variant_fields

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    j = F.concat(
        F.lit('{"id": '), d.cast("string"),
        F.lit(', "meta": {"lang": "'), F.col("lang"),
        F.lit('", "n": '), F.col("n_chars").cast("string"),
        F.lit('}, "tags": ["t'), (d % 5).cast("string"),
        F.lit('", "t'), (d % 3).cast("string"), F.lit('"]}'),
    )
    j = F.when(d % 13 == 6, F.substring(j, 1, 20)).otherwise(j)
    return variant_fields(
        docs.select(d.alias("doc_id"), j.alias("payload")),
        "payload",
        {
            "vid": ("$.id", "long"),
            "vlang": ("$.meta.lang", "string"),
            "vn": ("$.meta.n", "long"),
            "tag0": ("$.tags[0]", "string"),
            # mistyped probe: string path read as long -> NULL
            "lang_as_long": ("$.meta.lang", "long"),
        },
        keep=["doc_id"],
    )


def q164_group_mad(spark, sf_dir):
    """Grouped-agg pandas UDAF (stats.group_mad): per-(lang, source)
    median absolute deviation of n_chars — the robust dispersion
    statistic a single native aggregate cannot express (two nested
    medians); Arrow-batched per group, round-6 == DuckDB's mad()."""
    from validate_spark.operators.stats import group_mad

    return group_mad(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        value_col="n_chars",
    )


def q165_pii_spans(spark, sf_dir):
    """PII span extraction report (textstats.pii_spans — audit twin of
    the scrub filters, same patterns one-source-of-truth): documents
    salted with deterministic emails/urls/ips per modulus cohort, one
    row per match in (key, kind, pos, span) long form. Map-side
    regexp_extract_all + posexplode per kind."""
    from validate_spark.operators.textstats import pii_spans

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.col("text")
    salted = (
        F.when(d % 4 == 1, F.concat(t, F.lit(" contact u"),
                                    d.cast("string"),
                                    F.lit("@example.com now")))
        .when(d % 6 == 2, F.concat(t, F.lit(" see https://ex.com/p"),
                                   d.cast("string"), F.lit(" ok")))
        .when(d % 9 == 4, F.concat(t, F.lit(" from 10.0."),
                                   (d % 256).cast("string"), F.lit("."),
                                   (d % 200).cast("string"),
                                   F.lit(" logged")))
        .otherwise(t)
    )
    return pii_spans(docs.select("doc_id", salted.alias("text")))


def q166_top_sources_with_ties(spark, sf_dir):
    """Rank-with-ties per group: the top-2 sources per language by
    document count, KEEPING ties — dense_rank over the aggregated
    frame (row_number would break ties arbitrarily and non-
    deterministically across engines; rank/dense_rank are the
    tie-safe citizens, and the window runs over the (lang, source)
    AGGREGATE — |groups| rows — never the raw corpus)."""
    from pyspark.sql import Window

    g = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n_docs").desc())
    return (
        g.withColumn("rnk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("lang", "source", "n_docs", "rnk")
    )


def q167_optional_parent_gate(spark, sf_dir):
    """`optional` parent-gate semantics under the oracle gate
    (previously pytest-only — rule.go:335-340 registers v.optionals;
    isInOptional consulted at validation.go:880-904): required-family
    rules on a dotted DESCENDANT pass when the optional parent is
    empty, and still apply when the parent is present. Four
    deterministic cohorts derived from events: %4==0 parent NULL
    (children skipped — the gate under test), %4==1 city missing
    (required fires) + malformed zip (regexp fires), %4==2 city too
    short (minLength fires) + zip empty (skip-on-empty: NO regexp
    row), %4==3 fully valid."""
    ev = _t(spark, sf_dir, "events")
    c = F.col("event_id") % 4
    derived = ev.select(
        "event_id",
        F.when(c == 0, F.lit(None).cast("struct<city:string,zip:string>"))
        .otherwise(
            F.struct(
                F.when(c == 1, F.lit(None).cast("string"))
                .when(c == 2, F.lit("A"))
                .otherwise(F.lit("Boston"))
                .alias("city"),
                F.when(c == 1, F.lit("123"))
                .when(c == 2, F.lit(None).cast("string"))
                .otherwise(F.lit("02134"))
                .alias("zip"),
            )
        )
        .alias("addr"),
    )
    rs = RuleSet(
        rules={
            "addr": "optional",
            "addr.city": "required|minLength:2",
            "addr.zip": "regexp:^[0-9]{5}$",
        }
    )
    res = validate(derived, rs, key_cols=["event_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q168_typed_validator_discovery(spark, sf_dir):
    """Struct-method validator discovery + BuildCtx typed extension
    surface under the oracle gate (previously pytest-only): a model
    class's exported methods become per-instance validators named with
    the first letter lower-cased (FuncValue lookup,
    validation.go:437-449); one consumes rule ARGS, the other uses
    ctx.resolve for a cross-field check (the FieldCtx analogue).
    Violation counts per (field, validator) over documents."""
    from validate_spark.functions.validators import discover_validators

    class DocChecks:
        def SourceSlot(self, col, args, ctx):
            # args-driven: numeric suffix of source must be < args[0]
            lim = int(args[0])
            sfx = F.regexp_extract(col, r"^src([0-9]+)$", 1)
            return (sfx != "") & (sfx.try_cast("long") < F.lit(lim))

        def FitsChars(self, col, args, ctx):
            # ctx.resolve cross-field: n_chars must equal length(text)
            other = ctx.resolve(args[0])
            return col.try_cast("long") == F.length(other)

    docs = _t(spark, sf_dir, "documents")
    # deterministic violating cohorts (the raw table is largely clean):
    # m==0 empty source (required), m==1 malformed source (sourceSlot),
    # m==2 n_chars shifted off length(text) (fitsChars)
    m = (
        F.coalesce(
            F.regexp_extract("source", r"([0-9]+)$", 1).try_cast("long"),
            F.lit(0),
        )
        % 5
    )
    derived = docs.select(
        "doc_id",
        "text",
        F.when(m == 0, F.lit(""))
        .when(m == 1, F.lit("srcXX"))
        .otherwise(F.col("source"))
        .alias("src2"),
        F.when(m == 2, F.col("n_chars") + 7)
        .otherwise(F.col("n_chars"))
        .alias("nc2"),
    )
    rs = RuleSet(
        rules={
            "src2": "required|sourceSlot:40",
            "nc2": "fitsChars:text",
        },
        validators=discover_validators(DocChecks),
    )
    res = validate(derived, rs, key_cols=["doc_id"])
    return (
        res.violations()
        .groupBy("field", "validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q169_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (olap.min_cost_supplier): region's min-cost
    supplier per part over the DERIVED partsupp (arithmetic, spec
    4.2.3-in-kind — olap.derived_partsupp). The correlated min
    subquery is a groupBy(partkey).min joined back on (partkey,
    cost); dims broadcast; total-order k-cut."""
    from validate_spark.operators.olap import min_cost_supplier

    return min_cost_supplier(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q170_market_share(spark, sf_dir):
    """TPC-H Q8 shape (olap.national_market_share): one supplier
    nation's share of AMERICA's yearly ECONOMY-part revenue — exact
    int64 1e-4 volume sums, single final double division round-6."""
    from validate_spark.operators.olap import national_market_share

    return national_market_share(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q171_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (olap.product_type_profit): profit per
    (supplier nation, order year) on '%bolt%' parts — revenue and
    supply cost both exact 1e-4 int64; partsupp derived
    dimension-sized and broadcast."""
    from validate_spark.operators.olap import product_type_profit

    return product_type_profit(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


def q172_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (olap.important_stock): parts whose ASIA stock
    value exceeds 0.2% of the regional total — integer
    cross-multiplied HAVING, total as a broadcast 1-row aggregate."""
    from validate_spark.operators.olap import important_stock

    return important_stock(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q173_late_priority(spark, sf_dir):
    """TPC-H Q12 shape, adapted (olap.late_priority_lines): lateness
    bucket x priority-class conditional counts (schema has no
    commit/receipt dates or shipmode — adaptation stated)."""
    from validate_spark.operators.olap import late_priority_lines

    return late_priority_lines(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q174_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (olap.supplier_part_counts): distinct
    suppliers per (brand, type, size) with brand/type/size and
    supplier exclusions — two stacked aggregates, never a
    count_distinct Expand."""
    from validate_spark.operators.olap import supplier_part_counts

    return supplier_part_counts(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "supplier")
    )


def q175_excess_stock_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (olap.promotion_stock_suppliers): EUROPE
    suppliers holding excess 'red%' stock vs half of 1996 shipments —
    correlated sum re-expressed as one pre-aggregate + integer
    compare."""
    from validate_spark.operators.olap import promotion_stock_suppliers

    return promotion_stock_suppliers(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q176_dsir_selection(spark, sf_dir):
    """DSIR-style importance selection (sampling.dsir_weights — Xie
    et al. 2023): top-50 docs by hashed-unigram importance of the
    English slice vs the raw corpus. Per-bucket log-ratios frozen to
    integer 1e-6 nats, per-doc weights exact int64, md5 bucket hash
    portable to the oracle."""
    from validate_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, F.col("lang") == "en")


def q177_bloom_decontamination(spark, sf_dir):
    """Bloom-filter contamination screen (decontam.bloom_contamination):
    2048x63-bit filter over the benchmark trigrams (same d%37 bench
    slice as q49's exact screen), two md5 probe positions per gram,
    probed via two broadcast joins — the membership path that stays
    broadcastable when the exact gram set (10^9+ at 100 TB) is not.
    Conservative: no false negatives vs q49, bounded false-positive
    inflation."""
    from validate_spark.operators.decontam import bloom_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return bloom_contamination(docs, bench)


def q178_global_row_index(spark, sf_dir):
    """Scalable global row numbering (indexing.global_index): exact
    1-based index over documents ordered by doc_id, built two-phase
    (range exchange + per-partition offsets) instead of the one-task
    ``row_number() OVER (ORDER BY ...)`` window the oracle uses — the
    oracle form is the semantics, not the plan."""
    from validate_spark.operators.indexing import global_index

    docs = _t(spark, sf_dir, "documents")
    return global_index(docs, "doc_id", num_partitions=8).select(
        "doc_id", "n_chars", "global_idx"
    )


def q179_zorder_layout(spark, sf_dir):
    """Z-order lake-layout audit (indexing.zorder_bucket_profile):
    Morton-interleave (user bucket, day-of-year) over events and
    profile each 6-bit z-prefix bucket's per-dimension extent — the
    min/max-statistics evidence that a Z-order rewrite prunes BOTH
    dimensions. Key is a chain of native bitwise ops (codegen'd)."""
    from validate_spark.operators.indexing import zorder_bucket_profile

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return zorder_bucket_profile(
        ev,
        F.abs(F.col("user_id")) % 1024,
        F.dayofyear(F.col("ts")),
        bits=10,
        prefix_bits=6,
    )


def q180_blocked_fuzzy_pairs(spark, sf_dir):
    """Blocked entity-resolution candidate pairs
    (dedup.blocked_fuzzy_pairs): customer names within 1 Levenshtein
    edit inside 7-digit-prefix blocks — block sizes via streaming hash
    agg (never a window count), oversized blocks dropped BEFORE the
    self-join, pair space bounded by max_block^2/2 per block."""
    from validate_spark.operators.dedup import blocked_fuzzy_pairs

    cust = _t(spark, sf_dir, "customer")
    return blocked_fuzzy_pairs(
        cust,
        "c_custkey",
        "c_name",
        F.substring(F.col("c_name"), 10, 7),
        max_dist=1,
        max_block=128,
    )


def q181_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point screen (drift.cusum_changepoint): per
    event_type, the day with the largest integer-exact cumulative
    deviation |n*cum_k - k*T| over daily counts — rate-shift detection
    with all windows running on the collapsed (group, day) frame,
    never raw events."""
    from validate_spark.operators.drift import cusum_changepoint

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return cusum_changepoint(ev, "ts", "event_type", min_days=4)


def q182_triangle_count(spark, sf_dir):
    """Per-node triangle counts (graph.triangle_count): degree-ordered
    orientation (Suri-Vassilvitskii) over the q142 deterministic link
    fixture — wedge expansion capped at O(sqrt(m)) per node, the
    100-TB-safe shape; the oracle replays the identical orientation and
    joins in SQL."""
    from validate_spark.operators.graph import synthetic_doc_links, triangle_count

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_doc_links(docs, fan_out=3)
    # NOTE: no clearCache here — the operator's two persisted frames
    # (normalized edges, oriented edges) must survive until the
    # caller's action or the whole normalization replays per branch
    # (measured: 318-Exchange plan). The harness isolates cells.
    return triangle_count(edges)


def q183_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (dedup.canonicalize_url + url_dedup): messy
    deterministic URL variants (case-shifted scheme/host, default
    ports, trailing slashes, utm params, fragments, shuffled query
    order) collapse to canonical groups; one hash-agg shuffle."""
    from validate_spark.operators.dedup import url_dedup

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 4 == 0, F.lit("HTTP://"))
        .when(d % 4 == 1, F.lit("http://"))
        .when(d % 4 == 2, F.lit("https://"))
        .otherwise(F.lit("HTTPS://")),
        F.lit("WWW.Site"),
        (d % 5).cast("string"),
        F.lit(".COM"),
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 2, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/articles/item"),
        F.expr("doc_id DIV 50").cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(d % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    return url_dedup(docs, "url", "doc_id")


def q184_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (sampling.leakage_safe_split):
    the md5 gate draws on the exact-dedup FINGERPRINT, so duplicate
    documents can never straddle splits — contamination prevented by
    construction, map-side only."""
    from validate_spark.operators.sampling import leakage_safe_split
    from validate_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    return leakage_safe_split(
        docs, "fp", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "fp", "split")


def q185_compaction_plan(spark, sf_dir):
    """Small-file compaction batches (indexing.compaction_plan): a
    synthetic per-source file manifest (path from doc_id, bytes from
    n_chars) packed next-fit-decreasing into ~5000-byte rewrite
    batches — one running-sum window per partition, integer DIV."""
    from validate_spark.operators.indexing import compaction_plan

    files = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("part"),
        F.concat(
            F.lit("f"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
        ).alias("path"),
        F.greatest(F.col("n_chars"), F.lit(1)).alias("bytes"),
    )
    return compaction_plan(files, target_bytes=5000)


def q186_daily_trend(spark, sf_dir):
    """Integer-exact per-type OLS trend over daily event counts
    (drift.cusum_changepoint's ramp-detecting sibling drift.daily_trend):
    unreduced int64 slope numerator/denominator, sign as direction —
    no float crosses the engine boundary."""
    from validate_spark.operators.drift import daily_trend

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return daily_trend(ev, "ts", "event_type", min_days=3)


def q187_sq8_ann(spark, sf_dir):
    """Scalar-quantized (int8-style) ANN (similarity.sq8_topk):
    candidates by EXACT int64 dot product over per-dim 8-bit codes
    (4x less vector traffic, integer SIMD at scale), exact-cosine
    rerank of the top 32 — same (query_id, neighbor_id, rank) contract
    as q19; the oracle replays fit, encode, candidate cut, rerank."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.sq8_topk(emb, q, k=10, rerank=32)


def q188_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two quality signals (indexing.
    rrf_fusion): global per-signal ranks via the two-phase range index
    (never a one-task window), fused as int64 10^12 DIV (60 + rank) —
    the standard unsupervised ensemble for data-selection scores."""
    from validate_spark.operators.indexing import rrf_fusion
    from validate_spark.operators.textstats import whitespace_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("chars_sig"),
        whitespace_token_count(F.col("text")).alias("tokens_sig"),
    )
    # no clearCache before the action — global_index's ranged frames
    # must stay persisted until the caller collects (see q182 note)
    return rrf_fusion(
        docs, "doc_id", {"chars": "chars_sig", "tokens": "tokens_sig"}
    ).select(
        F.col("key").alias("doc_id"), "rank_chars", "rank_tokens", "rrf_score"
    )


def q189_weekday_anomaly(spark, sf_dir):
    """Day-of-week-adjusted robust anomaly screen (drift.
    weekday_anomaly): per (event_type, weekday) exact median/MAD
    baseline, |c − med| > k·MAD decided in pure int64 (med2/mad8
    doubled-integer grid) — the seasonality-aware complement to
    q181 CUSUM and q186 trend."""
    from validate_spark.operators.drift import weekday_anomaly

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return weekday_anomaly(ev, "ts", "event_type", k=3, min_obs=2)


def q190_span_pattern_audit(spark, sf_dir):
    """Adjacent-pair sequence rules over interleaved spans (multimodal.
    span_pattern_audit): media-must-be-captioned adjacency + strict
    offset monotonicity — the rule class `spans.*.field` wildcards
    can't express. Spans built deterministically from documents (q43's
    rotation) with planted violations: every 11th doc's last offset
    regresses, every 89th doc has no spans; the oracle re-derives the
    audit SCALAR-WISE from the rotation arithmetic (not by replaying
    array ops)."""
    from validate_spark.operators.multimodal import span_pattern_audit

    kinds = F.array(F.lit("text"), F.lit("image"), F.lit("audio"))
    d = F.col("doc_id")

    def span(i: int):
        kind = F.get(kinds, F.pmod(d + i, F.lit(3)).cast("int"))
        off = F.when((d % 11 == 7) & (F.lit(i) == 2), F.lit(5)).otherwise(
            F.lit(i * 10)
        )
        return F.struct(kind.alias("kind"), off.cast("int").alias("offset"))

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 89 == 0, F.array().cast("array<struct<kind:string,offset:int>>"))
        .otherwise(F.array(span(0), span(1), span(2)))
        .alias("spans"),
    )
    return span_pattern_audit(docs, "spans").select(
        "doc_id", "n_spans", "n_media", "n_uncaptioned", "offsets_monotone"
    )


def q191_kmv_distinct_sketch(spark, sf_dir):
    """Mergeable K-Minimum-Values distinct sketch (stats.kmv_sketch):
    the cross-engine-EXACT alternative to HLL — sketch state is the k
    smallest md5 hashes, merged per group from per-task sketches
    exactly as per-day sketches roll up in a lake. Estimator output
    is a pure int64 function of the input ((k-1)·2^52 div h_k), so
    the DuckDB oracle reproduces estimates bit-for-bit."""
    from validate_spark.operators.stats import kmv_sketch

    docs = _t(spark, sf_dir, "documents")
    return kmv_sketch(docs, "doc_id", k=64, group_cols=["lang"])


def q192_bm25_topk(spark, sf_dir):
    """BM25 lexical top-k retrieval (retrieval.bm25_topk): postings
    pruned by broadcast query terms before any shuffle, idf frozen to
    int64 1e-4 nats from the exact (2N+2)/(2df+1) rational, the tf
    saturation term an exact int64 rational via milli-token avgdl,
    two-phase skew-free top-k — `similarity.brute_force_topk`'s
    lexical twin."""
    from validate_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    q = _lit_df(
        spark,
        [
            ("q1", "hash"),
            ("q1", "join"),
            ("q1", "merge"),
            ("q2", "stream"),
            ("q2", "window"),
            ("q2", "vector"),
        ],
        ["query_id", "term"],
    )
    return bm25_topk(docs, q, k=8)


def q193_theil_sen_trend(spark, sf_dir):
    """Robust per-group trend: Theil–Sen median of pairwise daily
    slopes (drift.theil_sen_trend) — 29.3% breakdown vs q186's OLS
    (one backfill spike can't drag it). Slopes frozen to int64 at
    1e6 BEFORE the median (truncating div agrees cross-engine on
    negative slopes — verified), median on the exact half-integer
    grid (med2)."""
    from validate_spark.operators.drift import theil_sen_trend

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return theil_sen_trend(ev, "ts", "event_type")


def q194_join_skew_audit(spark, sf_dir):
    """Pre-join skew report (stats.join_skew_audit): heavy keys, the
    EXACT inner-join output each produces (cnt_l·cnt_r), and the salt
    factor bounding it per task — the audit run BEFORE a 100-TB join.
    Self-join on events.event_type makes every key hot, so the
    ranking and salt arithmetic are all exercised."""
    from validate_spark.operators.stats import join_skew_audit

    ev = _t(spark, sf_dir, "events")
    return join_skew_audit(
        ev, ev, "event_type", top=5, rows_per_task_target=1_000_000
    )


def q195_phash_image_neardup(spark, sf_dir):
    """Perceptual-hash IMAGE near-dup (multimodal.phash_candidates):
    real aHash over the deterministic decode stub (strictly-above-mean
    bits, integer cross-multiplied), 4×12-bit pigeonhole buckets with
    the two-phase hot-bucket bound, exact bit_count(xor) Hamming
    verify — the media tier of the dedup stack. Every 97th doc reuses
    its predecessor's media bytes, planting Hamming-0 pairs; the
    oracle rebuilds the md5-derived pixel grid and replays the hash
    arithmetic list-wise."""
    from validate_spark.operators.multimodal import (
        attach_fake_media,
        phash_candidates,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.when(d % 97 == 1, d - 1).otherwise(d).alias("src")
    )
    media = attach_fake_media(docs, key_col="src").select(
        "doc_id", "media_data"
    )
    return phash_candidates(media, "doc_id", "media_data", max_hamming=3)


def q196_fs_record_linkage(spark, sf_dir):
    """Fellegi–Sunter probabilistic record linkage
    (dedup.fs_score_pairs over blocked_fuzzy_pairs with carried
    comparison fields): log-likelihood weights frozen to int64 IN
    PYTHON at plan-build time (zero cross-engine floating point — not
    even ln), three-way match/review/non_match decision on integer
    thresholds. Customer pairs blocked on the 8-digit name prefix so
    all three decision classes appear."""
    from validate_spark.operators.dedup import (
        blocked_fuzzy_pairs,
        fs_score_pairs,
    )

    cust = _t(spark, sf_dir, "customer")
    pairs = blocked_fuzzy_pairs(
        cust,
        "c_custkey",
        "c_name",
        F.substring(F.col("c_name"), 10, 8),
        max_dist=1,
        max_block=128,
        carry_cols=["c_mktsegment", "c_nationkey"],
    )
    return fs_score_pairs(
        pairs,
        [
            ("name_1", "name_2", 0.95, 0.05, 0),
            ("c_mktsegment_1", "c_mktsegment_2", 0.9, 0.2, 0),
            ("c_nationkey_1", "c_nationkey_2", 0.95, 0.04, 0),
        ],
        upper=1.5,
        lower=-3.0,
    )


def q197_kmv_rollup_merge(spark, sf_dir):
    """KMV sketch ROLLUP (stats.kmv_sketch(keep_state) + kmv_merge):
    per-(lang, source) sketches merged up to per-lang WITHOUT
    rescanning data — the lake pattern where per-day sketch rows roll
    into monthly/total distinct counts. The oracle computes the
    per-lang sketch DIRECTLY from raw rows, so the hash match proves
    merge ≡ direct (k-smallest-of-union associativity) end to end."""
    from validate_spark.operators.stats import kmv_merge, kmv_sketch

    docs = _t(spark, sf_dir, "documents")
    state = kmv_sketch(
        docs, "doc_id", k=48, group_cols=["lang", "source"], keep_state=True
    )
    return kmv_merge(state, k=48, group_cols=["lang"])


def q198_kwic_snippets(spark, sf_dir):
    """Keyword-in-context snippets (retrieval.kwic_snippets): first
    token-boundary hit position + fixed context window per (query
    term, doc) — the human-adjudication companion to q192's BM25
    scores. Broadcast probe, zero shuffle; `locate` ≡ DuckDB
    `strpos` over the shared normalization."""
    from validate_spark.operators.retrieval import kwic_snippets

    docs = _t(spark, sf_dir, "documents")
    q = _lit_df(
        spark, [("q1", "hash"), ("q2", "vector")], ["query_id", "term"]
    )
    return kwic_snippets(docs, q, window=24)


def q199_weighted_reservoir(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (sampling.
    weighted_reservoir_sample): Efraimidis–Spirakis A-ES keys — exact
    (h+1)/2^52 uniforms, ln frozen to the 1e-6 grid BEFORE the
    integer rank key (lnu·1000 div w), two-phase top-n per stratum.
    Fixed-size per-lang samples with inclusion ∝ n_chars."""
    from validate_spark.operators.sampling import weighted_reservoir_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_reservoir_sample(
        docs, "doc_id", "n_chars", 10, strata_cols=["lang"], seed=7
    )


def q200_linkage_entities(spark, sf_dir):
    """Entity formation from probabilistic linkage: q196's FS 'match'
    pairs fed to dedup.dedup_clusters (min-label propagation,
    localCheckpoint-truncated rounds) — the cross-module composition
    that turns pairwise decisions into entity ids. Oracled against a
    recursive-CTE transitive closure of the same match set."""
    from validate_spark.operators.dedup import (
        blocked_fuzzy_pairs,
        dedup_clusters,
        fs_score_pairs,
    )

    cust = _t(spark, sf_dir, "customer")
    pairs = blocked_fuzzy_pairs(
        cust,
        "c_custkey",
        "c_name",
        F.substring(F.col("c_name"), 10, 8),
        max_dist=1,
        max_block=128,
        carry_cols=["c_mktsegment", "c_nationkey"],
    )
    matches = (
        fs_score_pairs(
            pairs,
            [
                ("name_1", "name_2", 0.95, 0.05, 0),
                ("c_mktsegment_1", "c_mktsegment_2", 0.9, 0.2, 0),
                ("c_nationkey_1", "c_nationkey_2", 0.95, 0.04, 0),
            ],
            upper=1.5,
            lower=-3.0,
        )
        .filter(F.col("decision") == "match")
        .select(F.col("k1").alias("a"), F.col("k2").alias("b"))
    )
    return dedup_clusters(matches)


def q201_k_anonymity(spark, sf_dir):
    """k-anonymity + l-diversity audit (stats.k_anonymity_audit):
    per-(event_type, day) group sizes and distinct-user diversity,
    at_risk = n < 5, l_violation = distinct users < 5 — the release
    decision for a quasi-identified event log, one hash aggregate."""
    from validate_spark.operators.stats import k_anonymity_audit

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date(F.col("ts")).alias("day"), "user_id"
    )
    return k_anonymity_audit(
        ev, ["event_type", "day"], k=5, sensitive_col="user_id", l=5
    )


def q202_mutual_information(spark, sf_dir):
    """Column-dependency strength (stats.pairwise_mutual_information):
    I(X;Y) and marginal entropies as EXACT int64 numerators — every
    plogp term freezes ln to the 1e-6 grid before multiplying by the
    exact cell count, so there is zero addition-order noise. The soft
    generalization of the FD audit, over (lang, source) and
    (lang, length bucket)."""
    from validate_spark.operators.stats import pairwise_mutual_information

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.expr("n_chars div 200")
    )
    return pairwise_mutual_information(
        docs, [("lang", "source"), ("lang", "len_bucket")]
    )


def q203_partition_skipping_audit(spark, sf_dir):
    """Data-skipping layout audit (indexing.partition_skipping_audit):
    per-partition value ranges + interval-overlap counts for two
    layouts of the SAME events — by event_type (every footer range
    spans the domain: min/max pruning useless) vs by day (disjoint
    ranges: point predicates touch one partition). The number a lake
    optimizer reads before rewriting the layout."""
    from validate_spark.operators.indexing import partition_skipping_audit

    ev = _t(spark, sf_dir, "events")
    by_type = partition_skipping_audit(ev, "event_type", "ts").select(
        F.lit("by_type").alias("layout"),
        F.col("part").cast("string").alias("part"),
        "vmin", "vmax", "n_values", "n_overlaps",
    )
    by_day = partition_skipping_audit(
        ev.withColumn("day", F.to_date(F.col("ts"))), "day", "ts"
    ).select(
        F.lit("by_day").alias("layout"),
        F.col("part").cast("string").alias("part"),
        "vmin", "vmax", "n_values", "n_overlaps",
    )
    return by_type.unionAll(by_day)


def q204_cms_frequency_sketch(spark, sf_dir):
    """Mergeable Count-Min frequency sketch (stats.cms_counts /
    cms_point_estimates): bounded depth×width integer state, probe
    estimates est ≥ exact with the min-over-rows rule, an absent
    value probing 0-or-collision — every counter an exact integer
    function of the input (unlike JVM-private sketch bytes), beside
    q191's KMV distinct sketch in the mergeable-sketch family."""
    from validate_spark.operators.stats import cms_counts, cms_point_estimates

    ev = _t(spark, sf_dir, "events")
    counts = cms_counts(ev, "user_id", width=256, depth=4)
    probes = (
        ev.filter(F.pmod(F.coalesce(F.col("user_id"), F.lit(0)), F.lit(17)) == 3)
        .select(F.col("user_id").cast("string").alias("user_id"))
        .distinct()
        .unionAll(
            _lit_df(spark, [("absent-user",)], "user_id string")
        )
    )
    est = cms_point_estimates(counts, probes, "user_id", width=256, depth=4)
    exact = (
        ev.select(F.col("user_id").cast("string").alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    return (
        est.join(exact, "value", "left")
        .select(
            "value",
            "est",
            F.coalesce(F.col("exact"), F.lit(0)).alias("exact"),
            (F.col("est") - F.coalesce(F.col("exact"), F.lit(0))).alias(
                "overcount"
            ),
        )
    )


def q205_decayed_trending(spark, sf_dir):
    """Recency-weighted heavy hitters (temporal.decayed_frequency):
    integer step-halving decay per half-life window anchored at the
    table's max day (no wall clock), pure-int64 scores, top-N via
    TakeOrderedAndProject — what "trending" means with an exact
    ranking. Trending users over the events table, 7-day half-life."""
    from validate_spark.operators.temporal import decayed_frequency

    ev = _t(spark, sf_dir, "events")
    return decayed_frequency(
        ev, "ts", "user_id", half_life_days=7, top=15
    )


def q206_threshold_sweep(spark, sf_dir):
    """Operating-point table (stats.threshold_sweep): confusion
    counts of `score ≥ t` for a grid of thresholds in ONE scan — the
    table read before freezing a quality-classifier cut. Integer
    counts only (precision/recall are client-side ratios), so the
    oracle compares exactly."""
    from validate_spark.operators.stats import threshold_sweep

    docs = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return threshold_sweep(
        docs, "score", "label", [100, 200, 400, 800, 1600]
    )


@_streaming_fixture
def q213_streaming_kmv(spark, sf_dir):
    """Incremental KMV sketch maintenance under streaming
    (streaming/sketch_stream.py): events chunked into 3 files → one
    foreachBatch per file folds each micro-batch's per-event_type
    sketch into a parquet state table. KMV union is REPLAY-IDEMPOTENT
    (re-merging a batch is a set-union no-op), so at-least-once
    delivery is exactly-once for the estimate with no batch_id
    fencing — asserted here by re-firing batch 0 after the stream and
    in pytest. The oracle sketches the whole table directly: the hash
    match proves streaming-incremental ≡ batch."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.streaming.sketch_stream import (
        kmv_stream_updater,
        read_kmv_state,
    )

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q213_")
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    events.filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
            }
        )
        state = f"{tmp}/state"
        update = kmv_stream_updater(
            state, "user_id", k=64, group_cols=["event_type"]
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(update)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .queryName(f"q213_kmv_{uuid.uuid4().hex[:8]}")
            .start()
        )
        q.awaitTermination(300)
        # at-least-once replay: re-fire the first chunk — the union
        # no-op must leave every estimate unchanged
        first_chunk = (
            events.filter(
                F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)) == 0
            )
        )
        update(first_chunk, 0)
        out = read_kmv_state(
            spark, state, k=64, group_cols=["event_type"]
        )
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q211_rate_jackknife(spark, sf_dir):
    """Rates with error bars (stats.rate_jackknife): per-lang
    short-document rate ± its delete-one-group jackknife SE over 20
    md5-assigned buckets — deterministic resampling, no RNG; counts
    exact, the B-term fp reduction rounded at 6 per the
    bounded-cardinality rule. The answer to "is this drift or
    noise?" without distributional assumptions."""
    from validate_spark.operators.stats import rate_jackknife

    docs = _t(spark, sf_dir, "documents").select(
        "lang", "doc_id", (F.col("n_chars") < 200).alias("short")
    )
    return rate_jackknife(
        docs, "short", "doc_id", buckets=20, group_cols=["lang"]
    )


def q212_kmv_trailing_window(spark, sf_dir):
    """Trailing 7-day distinct users from per-day KMV states
    (stats.kmv_trailing_window): each day's answer merges ≤7 daily
    sketch rows instead of rescanning a week of raw events — the
    windowed form of q197's rollup. The oracle computes every
    window's sketch DIRECTLY from raw rows, so the hash match is the
    per-day merge ≡ direct proof."""
    from validate_spark.operators.stats import kmv_sketch, kmv_trailing_window

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("day", F.to_date(F.col("ts")))
    )
    states = kmv_sketch(
        ev, "user_id", k=64, group_cols=["day"], keep_state=True
    )
    return kmv_trailing_window(states, k=64, day_col="day", window=7)


def q209_dedup_recall_report(spark, sf_dir):
    """Candidate-generator evaluation (dedup.dedup_recall_report):
    simhash hamming≤3 candidates measured against the EXACT
    trigram-Jaccard≥0.9 truth set on the doubled-docs corpus — the
    integers recall/precision are read from before trusting LSH
    settings at scale. Both pair sets are SQL-re-derived end to end
    (q17's signature math, q44's exact-Jaccard), so the report's five
    counts hash-match."""
    from validate_spark.operators.dedup import (
        dedup_recall_report,
        ngram_jaccard_pairs,
        simhash_candidates,
    )

    docs = _doubled_docs(spark, sf_dir)
    cand = simhash_candidates(docs, max_hamming=3).select("a", "b")
    truth = ngram_jaccard_pairs(docs, n=3, threshold=0.9).select("a", "b")
    return dedup_recall_report(cand, truth)


def q210_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix (textstats.lang_id vs the
    fixture's source-truth lang column): (lang, lang_pred, n) — the
    agreement table a curation pipeline reads before trusting the
    classifier's routing. Integer counts; the oracle replays the
    integer-cross-multiplied script tiers and stopword argmax."""
    from validate_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang"), lang_id(F.col("text")).alias("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# shared state machine for q208 (builder) and its oracle — one list,
# no spelling drift
_Q208_ALLOWED = [
    ("view", "view"),
    ("view", "click"),
    ("view", "signup"),
    ("click", "view"),
    ("click", "purchase"),
    ("signup", "purchase"),
    ("purchase", "view"),
    ("error", "view"),
]


def q207_transition_matrix(spark, sf_dir):
    """First-order state transitions over per-user event sequences
    (temporal.transition_matrix): (from, to, n, n_from) with exact
    departure margins — the process-mining view of the event log.
    Ordering ties broken on a coalesced event_id (NULLS-FIRST vs
    NULLS-LAST divergence between engines is designed out by
    coalescing BEFORE the window)."""
    from validate_spark.operators.temporal import transition_matrix

    ev = _t(spark, sf_dir, "events").withColumn(
        "eid", F.coalesce(F.col("event_id"), F.lit(-1))
    )
    return transition_matrix(
        ev, "user_id", "ts", "event_type", tie_cols=["eid"]
    )


def q208_sequence_conformance(spark, sf_dir):
    """Sequence-conformance screen (temporal.illegal_transitions):
    per user, transitions outside an explicit allowed state machine —
    enum validation lifted to the ORDER of a key's records. The
    machine is a literal IN over delimiter-joined pairs (part of the
    plan, no broadcast)."""
    from validate_spark.operators.temporal import illegal_transitions

    ev = _t(spark, sf_dir, "events").withColumn(
        "eid", F.coalesce(F.col("event_id"), F.lit(-1))
    )
    return illegal_transitions(
        ev, "user_id", "ts", "event_type", _Q208_ALLOWED, tie_cols=["eid"]
    )


# The driver stamps the FIRST 50 queries() entries (dict insertion
# order — verified against CORRECTNESS_r04's key sequence, which ends
# q30,q31,q48,q49,q50 = this dict's literal order, not sorted order)
# into CORRECTNESS_rN.json. q01–q50 have been driver-green for three
# consecutive rounds, so round 5 leads with a 50-query cross-section
# of the families added since (validation gauntlets, dedup, sampling,
# textstats, decontam, packing, graph, temporal, streaming, OLAP,
# profiling) to put the driver's own hash on previously mirror-only
# rows. Names are stable; only the order changes. The full registry
# stays covered by the committed mirror sweep
# (CORRECTNESS_mirror_r5.json, tools/check_oracle.py --out --merge).
# Late-round rotation: six block-3..6 family representatives (q191
# KMV sketch, q192 BM25, q195 phash media dedup, q196 FS linkage,
# q199 A-ES sampling, q202 mutual information) replaced
# doubly-represented entries (q58, q76, q82, q144, q154, q155 — each
# family keeps another driver-stamped row or its mirror row).
# Final-block rotation: q247 (basket association — a new family) and
# q250 (engine governance twin of q230) replaced q238 (embedding-LSH
# family keeps q16-q18 mirror rows + three driver-stamped rounds) and
# q146 (decontam family keeps q72 in this list).
_DRIVER_FIRST = [
    "q57_map_wildcard_validation",
    "q59_format_gauntlet2",
    "q60_crossfield_equality",
    "q61_custom_filter_chain",
    "q218_k_core",
    "q64_custom_type_extractor",
    "q70_type_gauntlet",
    "q71_filter_gauntlet",
    "q245_typo_pairs",
    "q217_containment_quotes",
    "q77_incremental_minhash",
    "q219_pq_ann",
    "q181_cusum_changepoint",
    "q184_leakage_safe_split",
    "q225_contrastive_negatives",
    "q222_layout_advisor",
    "q78_quality_quantile",
    "q235_spatial_grid_join",
    "q236_merge_upsert",
    "q247_basket_pairs",
    "q100_gopher_rules",
    "q241_ess_report",
    "q130_quality_classifier",
    "q143_bpe_merges",
    "q152_nfc_normalization",
    "q239_hll_distinct_sketch",
    "q72_semantic_decontam",
    "q250_rule_impact",
    "q67_sequence_packing",
    "q131_doc_chunks",
    "q142_pagerank",
    "q102_sessionize",
    "q244_interval_overlap_audit",
    "q107_funnel",
    "q108_cohort_retention",
    "q242_acf_report",
    "q224_scd2_build",
    "q105_streaming_sessionize",
    "q221_streaming_cms",
    "q124_top_revenue",
    "q214_roc_auc",
    "q240_conformal_calibration",
    "q95_functional_dependency",
    "q119_cube_profile",
    "q191_kmv_distinct_sketch",
    "q192_bm25_topk",
    "q195_phash_image_neardup",
    "q196_fs_record_linkage",
    "q199_weighted_reservoir",
    "q202_mutual_information",
]


def q214_roc_auc(spark, sf_dir):
    """Exact ROC AUC per source (stats.roc_auc): the rank-sum
    identity with average-rank tie credit, computed over (group,
    DISTINCT score) aggregates — never a per-row sort. `u2` is the
    integer invariant (2× the tie-credited U statistic); auc is its
    one correctly-rounded division. Completes the classifier-eval
    family beside q206's operating points: q206 answers "what does
    cut t cost", this answers "is the score worth cutting at all"."""
    from validate_spark.operators.stats import roc_auc

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return roc_auc(docs, "score", "label", group_cols=["source"])


def q215_gains_table(spark, sf_dir):
    """Cumulative gains / lift deciles (stats.gains_table): rank by
    score desc, cut into 10 equal-population tiers on the DISTINCT-
    score frame, report per-tier and cumulative positive capture —
    all integers (tier = ceil spelled as truncating div, exact both
    engines; ties stay together by construction). The "keep the top
    k%" budget curve beside q214's single-scalar AUC."""
    from validate_spark.operators.stats import gains_table

    docs = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return gains_table(docs, "score", "label", buckets=10)


def q216_collocations(spark, sf_dir):
    """Bigram collocation mining (textstats.collocations): adjacent
    token pairs scored by PMI with the q202 exactness split —
    selection and rank are pure integer (decimal(38,0) positive-PMI
    cross-multiplication, c_ab-desc order), the reported pmi is a
    display-only round-6 sum of lns. Top-100 multi-word expressions
    the vocabulary builder reads."""
    from validate_spark.operators.textstats import collocations

    return collocations(
        _t(spark, sf_dir, "documents"), "text", min_count=3, top_n=100
    )


def q217_containment_quotes(spark, sf_dir):
    """Asymmetric containment join (dedup.containment_pairs): short
    documents quoted inside longer ones — C(a,b)=|A∩B|/|A| ≥ 0.8 with
    one-sided prefix filtering (only the contained side indexes a
    prefix; hot grams dropped by document frequency BEFORE any
    grouping, so buffers are bounded by construction). Fixture plants
    quotes: every 5th doc's first 200 chars becomes a new doc; the
    oracle verifies by exhaustive exact containment, proving full
    candidate recall at this scale."""
    from validate_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    return containment_pairs(
        docs.unionAll(quotes), threshold_pct=80, max_df=1000
    )


def q218_k_core(spark, sf_dir):
    """k-core decomposition (graph.k_core): iterative peeling of
    deg<3 nodes over the q142 link fixture sparsified by
    (src+dst)%3≠0 (the unsparsified graph is near-regular — nothing
    peels). Converges in 6 rounds at every test scale (probed); the
    op stops at the fixpoint, the oracle unrolls 12 peel rounds
    (idempotent past convergence, so the margin is free). The
    spam-farm/star filter beside pagerank (volume) and triangles
    (local density)."""
    from validate_spark.operators.graph import k_core, synthetic_doc_links

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_doc_links(docs, fan_out=3).filter(
        (F.col("src") + F.col("dst")) % 3 != 0
    )
    return k_core(edges, k=3)


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """Generate the q218 oracle: the identical edge fixture, then
    ``rounds`` unrolled peel stages (degree → survivors → induced
    edges). Unrolling past the true fixpoint is a no-op, so the
    round count only needs to be ≥ the fixture's peeling depth."""
    parts = [
        """
        WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
        eraw AS (
          SELECT doc_id::bigint AS src,
                 (doc_id::bigint * 7 + 1) % nn.n AS dst
          FROM documents, nn
          UNION ALL
          SELECT doc_id::bigint, (doc_id::bigint * 13 + 3) % nn.n
          FROM documents, nn
          UNION ALL
          SELECT doc_id::bigint, (doc_id::bigint * 31 + 7) % nn.n
          FROM documents, nn
        ), e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM eraw WHERE src <> dst AND (src + dst) % 3 <> 0
        )"""
    ]
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each e{i} is referenced 3× per round — inlining would expand the
    # plan (and the parquet re-opens) 3^rounds-fold
    for i in range(rounds):
        parts.append(
            f""", d{i} AS MATERIALIZED (
          SELECT node, count(*)::bigint AS c FROM (
            SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}
          ) GROUP BY node
        ), s{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {int(k)}
        ), e{i + 1} AS MATERIALIZED (
          SELECT e.u, e.v FROM e{i} e
          JOIN s{i} a ON e.u = a.node JOIN s{i} b ON e.v = b.node
        )"""
        )
    parts.append(
        f"""
        SELECT node, count(*)::bigint AS degree FROM (
          SELECT u AS node FROM e{rounds}
          UNION ALL SELECT v AS node FROM e{rounds}
        ) GROUP BY node"""
    )
    return "".join(parts)


def q219_pq_ann(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    (similarity.pq_adc_topk): corpus as m=8 codes over md5-sampled
    16-entry codebooks (deterministic, SQL-replayable — the reason
    this skips k-means fitting), ADC cells frozen to int64
    micro-units so scores are exact integer sums. Completes the ANN
    compression ladder: brute (q19) → IVF (q20) → SQ8 (q187) → PQ.
    The oracle re-derives codebooks, code assignments, ADC tables
    and ranks entirely in SQL."""
    from validate_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    cb = sim.pq_codebooks(emb, m=8, n_codes=16)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return sim.pq_adc_topk(emb, q, cb, k=10)


def q220_pq_recall(spark, sf_dir):
    """PQ recall@10 against exact top-k (the measure-don't-guess loop
    for the compression ladder, q209's pattern lifted to ranked
    retrieval): per query, how many of the exact cosine top-10
    survive into the integer-ADC top-10. Both ranked lists are
    SQL-re-derived end to end, so the integer (n_exact, n_matched)
    counts hash-match — the number read before shipping PQ codes in
    place of full vectors."""
    from validate_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = sim.brute_force_topk(emb, q, k=10)
    cb = sim.pq_codebooks(emb, m=8, n_codes=16)
    approx = sim.pq_adc_topk(emb, q, cb, k=10).select(
        "query_id", "neighbor_id", F.col("rank").alias("_pq_rank")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("_pq_rank").cast("long").alias("n_matched"),
        )
    )


@_streaming_fixture
def q221_streaming_cms(spark, sf_dir):
    """Streaming CMS maintenance with exactly-once-by-layout
    (streaming/sketch_stream.cms_stream_updater): the ADDITIVE
    counterpart of q213 — counter addition is NOT replay-idempotent,
    so instead of folding into one state table the updater writes
    each batch's ≤depth·width counters into its OWN batch_id
    partition with dynamic partition overwrite; a replayed batch
    rewrites identical bytes over itself. Asserted here by re-firing
    batch 0 after the stream; the oracle recomputes the per-type CMS
    straight off the whole table, so the hash match proves
    merge-on-read ≡ single batch AND that the replay added nothing."""
    import shutil
    import tempfile
    import uuid

    from validate_spark.streaming.sketch_stream import (
        cms_stream_updater,
        read_cms_state,
    )

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="vs_stream_q221_")
    try:
        src = f"{tmp}/src"
        _write_chunks(
            {
                src: [
                    events.filter(
                        F.pmod(
                            F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)
                        )
                        == i
                    )
                    for i in range(3)
                ]
            }
        )
        state = f"{tmp}/state"
        update = cms_stream_updater(
            state, "user_id", width=256, depth=4, group_cols=["event_type"]
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(update)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .queryName(f"q221_cms_{uuid.uuid4().hex[:8]}")
            .start()
        )
        q.awaitTermination(300)
        # at-least-once replay: re-fire the first chunk — the
        # partition overwrite must leave every counter unchanged
        first_chunk = events.filter(
            F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)) == 0
        )
        update(first_chunk, 0)
        out = read_cms_state(spark, state, group_cols=["event_type"])
        rows = out.collect()
        return _rows_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q222_layout_advisor(spark, sf_dir):
    """Layout-key advisor (indexing.layout_advisor): one scan ranks
    candidate clustering columns (event_id, user_id, value) by the
    min/max-skipping each would give the day-partitioned events
    layout — Σ pairwise footer-range overlaps + disjoint-partition
    counts, all integers. The pick-a-column step BEFORE q184's
    compaction / q179's Z-order rewrite pays for itself."""
    from validate_spark.operators.indexing import layout_advisor

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    return layout_advisor(ev, "day", ["event_id", "user_id", "value"])


def q223_oov_report(spark, sf_dir):
    """Tokenizer coverage / OOV report (textstats.oov_report): per
    lang, exact token totals, OOV counts against the deterministic
    top-100 background vocab (cnt desc, token asc — q68's vocab
    builder), and the BPE-piece fertility numerator. The table a
    vocab freeze reads: a language with a high n_oov/n_tokens gets
    shredded into fallback pieces at training time."""
    from validate_spark.operators.textstats import (
        build_background_vocab,
        oov_report,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = build_background_vocab(docs, min_count=5, max_vocab=100)
    return oov_report(docs, vocab)


def q224_scd2_build(spark, sf_dir):
    """SCD type-2 dimension build (temporal.scd2_build): per-user
    event_type change history as validity intervals with change
    compression (equal consecutive states collapse — an at-least-once
    feed re-reporting state mints no phantom versions), open current
    version, 1-based version numbers. The producer half of the
    q103/q104 as-of/interval probes; tiebreak coalesced before the
    window (q207 NULLS FIRST/LAST lesson)."""
    from validate_spark.operators.temporal import scd2_build

    ev = _t(spark, sf_dir, "events")
    return scd2_build(
        ev, "user_id", "event_type", "ts", tiebreak_col="event_id"
    )


def q225_contrastive_negatives(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (similarity.negative_samples): per anchor, the 5 different-label
    candidates with smallest md5(anchor|candidate) — a reproducible,
    engine-replayable uniform draw (no RNG state, the sampling-family
    discipline) for triplet/contrastive training pairs. Same-label
    candidates are excluded (they would be false negatives); skew-free
    two-phase top-k, never a per-anchor global sort."""
    from validate_spark.operators.similarity import negative_samples

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    return negative_samples(
        emb, anchors, n=5, id_col="vec_id", label_col="label"
    )


def q226_trimmed_mean(spark, sf_dir):
    """Exact 10%-trimmed mean of document length per lang
    (stats.trimmed_mean): rank arithmetic on the (group, DISTINCT
    value) frame — interval-overlap integer math per distinct-value
    row, ties split exactly at the cut; sum_kept/n_kept exact int64,
    one round-6 division. The robust location estimate between q06's
    mean and q164's MAD family."""
    from validate_spark.operators.stats import trimmed_mean

    docs = _t(spark, sf_dir, "documents")
    return trimmed_mean(docs, "n_chars", group_cols=["lang"], trim_pct=10)


def q227_source_scorecard(spark, sf_dir):
    """Per-source governance scorecard: one row per source joining the
    curation signals a mixture decision reads — doc volume, language
    spread, exact-dup pressure (two-phase over (source, fingerprint) —
    never a collect_set of unbounded text hashes), short-doc count,
    char volume. All integers; the dashboard-shaped composition of the
    q15/q13/q06 families."""
    docs = _t(spark, sf_dir, "documents")
    from validate_spark.operators.textstats import fingerprint

    a = docs.select(
        "source",
        "lang",
        fingerprint(F.col("text")).alias("_fp"),
        (F.col("n_chars") < 200).cast("long").alias("_short"),
        F.coalesce(F.col("n_chars").cast("long"), F.lit(0)).alias("_nc"),
    )
    g1 = (
        a.groupBy("source", "_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum("_short").cast("long").alias("_sh"),
            F.sum("_nc").cast("long").alias("_ch"),
        )
        .groupBy("source")
        .agg(
            F.sum("_cnt").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
            F.sum(F.col("_cnt") - 1).cast("long").alias("n_dup_rows"),
            F.sum("_sh").cast("long").alias("n_short"),
            F.sum("_ch").cast("long").alias("sum_chars"),
        )
    )
    g2 = (
        a.groupBy("source", "lang")
        .agg(F.lit(1).alias("_one"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_langs"))
    )
    return g1.join(g2, "source").select(
        "source",
        "n_docs",
        "n_unique_texts",
        "n_dup_rows",
        "n_langs",
        "n_short",
        "sum_chars",
    )


def q228_quantile_normalize(spark, sf_dir):
    """Per-lang quantile normalization (stats.quantile_normalize):
    every doc gains its mid-rank percentile within its language —
    ranks from the (group, DISTINCT value) frame joined back
    co-partitioned, never a per-row window; mid2 = 2·below+ties is
    the exact int64 invariant. The transform that makes a global
    quality cut mixture-preserving across languages."""
    from validate_spark.operators.stats import quantile_normalize

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return quantile_normalize(docs, "n_chars", group_cols=["lang"])


def q229_t_closeness(spark, sf_dir):
    """t-closeness privacy audit (stats.t_closeness): per-lang EMD
    between the group's length-bucket distribution and the table's —
    the leak k-anonymity and l-diversity (q201) both miss (a large,
    diverse group that skews high still discloses). emd_num is the
    exact cross-multiplied integer (decimal(38,0) internally); t its
    round-6 display."""
    from validate_spark.operators.stats import t_closeness

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.expr("n_chars div 200").cast("long").alias("len_bucket")
    )
    return t_closeness(docs, ["lang"], "len_bucket")


def q230_rule_coviolation(spark, sf_dir):
    """Rule co-violation matrix (ValidationResult.coviolation_matrix):
    (rule_a, rule_b, n_rows) for every unordered pair of rules that
    fail TOGETHER on a row — the rule-redundancy/root-cause table.
    Pairs expand ROW-LOCALLY from the engine's failed array (never a
    self-join of the violations frame, which has no row identity and
    shuffles at corpus scale); the oracle re-derives every pair count
    from the q02 rule predicates in one scan."""
    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return res.coviolation_matrix()


def _coviolation_oracle_sql() -> str:
    """One scan: a conditional sum per unordered rule pair (45 for the
    10-rule flagship set), stacked to long form, zero-pairs dropped
    (they never appear in the Spark output either)."""
    names = {k: f"{f}:{v}" for k, f, v in _RULE_ORDER}
    keys = [k for k, _, _ in _RULE_ORDER]
    sums, rows = [], []
    i = 0
    for x in range(len(keys)):
        for y in range(x + 1, len(keys)):
            kx, ky = keys[x], keys[y]
            a, b = sorted((names[kx], names[ky]))
            sums.append(
                f"sum((({_V[kx]}) AND ({_V[ky]}))::int)::bigint AS _n_{i}"
            )
            rows.append(f"SELECT '{a}' AS rule_a, '{b}' AS rule_b, _n_{i} AS n_rows FROM s")
            i += 1
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM documents) "
        "SELECT * FROM (" + " UNION ALL ".join(rows) + ") WHERE n_rows > 0"
    )


def _rule_impact_oracle_sql() -> str:
    """One scan: per rule, total firing rows + rows where the TOTAL
    violation count is exactly 1 (the sole-gatekeeper rows); zero-fire
    rules dropped (they never appear in the Spark explode either).
    sole_ppm replays the same integer div."""
    sums, rows = [], []
    for i, (k, f, v) in enumerate(_RULE_ORDER):
        sums.append(f"sum(({_V[k]})::int)::bigint AS _n_{i}")
        sums.append(
            f"sum((({_V[k]}) AND ({_NVIOL}) = 1)::int)::bigint AS _s_{i}"
        )
        rows.append(
            f"SELECT '{f}:{v}' AS rule, _n_{i} AS n_rows, _s_{i} AS n_sole"
            " FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM documents) "
        "SELECT rule, n_rows, n_sole, 1000000 * n_sole // n_rows AS sole_ppm "
        "FROM (" + " UNION ALL ".join(rows) + ") WHERE n_rows > 0"
    )


def q231_audio_fingerprint(spark, sf_dir):
    """Audio-fingerprint near-dup (multimodal.audio_fingerprint_neardup)
    — the AUDIO tier of the media dedup stack beside q195's image
    phash: ordered frame-signature shingles through the SAME
    prefix-filtered AllPairs engine as q44 (gram_set_jaccard_pairs —
    the modality only contributes the gram builder). Fixture plants
    truncated re-encodes (every 7th audio doc's first 41 bytes): the
    clone shares its leading frame run → J = 0.5 against the
    original; the oracle verifies by exhaustive exact Jaccard over
    SQL-re-derived frame grams."""
    from validate_spark.operators import multimodal as mm

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    med = mm.attach_fake_media(docs)
    kind = F.pmod(
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(d.cast("string")), 1, 1),
        )
        - 1,
        F.lit(3),
    )
    audio = med.filter(kind == 2).select("doc_id", "media_data")
    clones = audio.filter(d % 7 == 0).select(
        (d + 3000000).alias("doc_id"),
        F.substring(F.col("media_data"), 1, 41).alias("media_data"),
    )
    return mm.audio_fingerprint_neardup(
        audio.unionAll(clones), gram=2, threshold=0.5
    )


def q232_span_dup_topline(spark, sf_dir):
    """Span-granularity duplication topline per modality
    (multimodal.modality_dup_topline): interleaved spans derived from
    documents (q190's rotation, here with CONTENT — text spans carry
    40-char slices, media spans a mod-50 asset catalog so the same
    image reused across pages is the planted duplication mode); per
    kind, exact n_spans / n_distinct / dup_rows via the two-phase
    (kind, key) rollup. The axes-A+B lift of q15's doc-level
    topline — a corpus clean at doc granularity can still be 95%
    one logo at span granularity."""
    from validate_spark.operators.multimodal import modality_dup_topline

    d = F.col("doc_id")
    kinds = F.array(F.lit("text"), F.lit("image"), F.lit("audio"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def span(j: int):
        kind = F.get(kinds, F.pmod(d + j, F.lit(3)).cast("int"))
        stext = F.when(
            kind == "text", F.substring(F.col("text"), 1 + j * 40, 40)
        )
        ref = F.when(
            kind != "text",
            F.concat(
                F.lit("m-"),
                F.lpad(F.pmod(d * 7 + j, F.lit(50)).cast("string"), 4, "0"),
            ),
        )
        return F.struct(
            kind.alias("kind"), stext.alias("stext"), ref.alias("media_ref")
        )

    spans = docs.select(
        F.explode(F.array(span(0), span(1), span(2))).alias("s")
    ).select("s.kind", "s.stext", "s.media_ref")
    keyed = spans.withColumn(
        "dup_key",
        F.when(
            F.col("kind") == "text",
            F.md5(F.coalesce(F.col("stext"), F.lit(""))),
        ).otherwise(F.col("media_ref")),
    )
    return modality_dup_topline(keyed)


def q233_embedding_lsh_recall(spark, sf_dir):
    """Embedding sign-LSH recall report (q209's measure-don't-guess
    loop for the EMBEDDING dedup tier): candidates from the 8-plane
    sign-bucket path (q18's scale machinery) vs the exhaustive exact-
    cosine truth, at TWO thresholds — 0.99 (exact-dup regime: sign
    buckets always agree on identical vectors → full recall) and 0.5
    (moderate-similarity regime: one 8-plane table keeps only
    ~(1−θ/π)⁸ ≈ 4% of cos≈0.5 pairs — on the sf fixture it misses
    ALL of them while finding every exact dup: the honest number
    that says single-table sign-LSH needs multi-probe/OR-banding
    below the near-dup regime).
    The oracle replays the SAME numpy plane literals and the SAME
    fold arithmetic, so all ten region counts hash-match."""
    from validate_spark.operators.dedup import (
        dedup_recall_report,
        embedding_neardup_lsh,
        embedding_pair_cos,
    )

    v = F.col("embedding")
    valid = (
        v.isNotNull()
        & (F.size(v) == 64)
        & F.forall(
            v,
            lambda x: x.isNotNull()
            & ~F.isnan(x.cast("double"))
            & (F.abs(x.cast("double")) != F.lit(float("inf"))),
        )
    )
    emb = _doubled_emb(spark, sf_dir).filter(valid)
    # ONE exhaustive truth pass at the lower threshold; the 0.99-regime
    # truth is the same pair frame re-filtered (cos ≥ 0.99 ⊆ cos ≥ 0.5
    # — identical pair sets to running the scorer twice, half the n²
    # work); persist so both report branches read the computed pairs
    sims = embedding_pair_cos(emb, threshold=0.5, dim=64).persist()
    reports = []
    for t in (0.5, 0.99):
        cand = embedding_neardup_lsh(
            emb, threshold=t, n_planes=8, seed=7, dim=64
        ).select("a", "b")
        truth = sims.filter(F.col("cos") >= t).select("a", "b")
        reports.append(
            dedup_recall_report(cand, truth).select(
                F.lit(int(t * 100)).alias("threshold_pct"), "*"
            )
        )
    return reports[0].unionByName(reports[1])


def _emb_lsh_recall_sql() -> str:
    """q233 oracle: the identical numpy(seed=7) plane literals, sign
    buckets, and cosine folds (per-vector norms then dot/(na·nb) — the
    exact operator arithmetic), region counts per threshold."""
    import numpy as np

    planes = np.random.default_rng(7).standard_normal((8, 64))
    bucket_terms = []
    for p in range(8):
        pl = ", ".join(repr(float(planes[p, d])) for d in range(64))
        dot = (
            "list_aggregate(list_transform(generate_series(1, 64), "
            f"i -> v[i]::DOUBLE * ([{pl}])[i]), 'sum')"
        )
        bucket_terms.append(
            f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END) * {2 ** p}"
        )
    bucket = " + ".join(bucket_terms)
    region = (
        "SELECT {pct} AS threshold_pct, "
        "sum((cos >= {t})::int)::bigint AS n_truth, "
        "sum((same_bucket AND cos >= {t})::int)::bigint AS n_candidates, "
        "sum((cos >= {t} AND same_bucket)::int)::bigint AS n_matched, "
        "sum((cos >= {t} AND NOT same_bucket)::int)::bigint AS n_missed, "
        "0::bigint AS n_extra FROM pairs"
    )
    return f"""
        WITH val AS MATERIALIZED (
          SELECT vec_id, embedding AS v FROM ({_DOUBLED_EMB})
          WHERE embedding IS NOT NULL AND len(embedding) = 64
            AND len(list_filter(embedding, x -> x IS NULL
                  OR isnan(x) OR isinf(x))) = 0
        ), bkt AS MATERIALIZED (
          SELECT vec_id, v, {bucket} AS bucket,
                 sqrt(list_aggregate(list_transform(
                   generate_series(1, 64),
                   i -> v[i]::DOUBLE * v[i]::DOUBLE), 'sum')) AS nrm
          FROM val
        ), pairs AS MATERIALIZED (
          SELECT (x.bucket = y.bucket) AS same_bucket,
                 CASE WHEN x.nrm > 0 AND y.nrm > 0 THEN
                   list_aggregate(list_transform(generate_series(1, 64),
                     i -> x.v[i]::DOUBLE * y.v[i]::DOUBLE), 'sum')
                   / (x.nrm * y.nrm)
                 ELSE 0.0 END AS cos
          FROM bkt x JOIN bkt y ON x.vec_id < y.vec_id
        )
        {region.format(pct=50, t=0.5)}
        UNION ALL
        {region.format(pct=99, t=0.99)}
    """


def q238_embedding_lsh_multitable(spark, sf_dir):
    """Multi-table OR-banding sign-LSH — the remedy q233's recall
    report quantified the need for: at cos≈0.7 (the blended-vector
    moderate band of _mixed_emb) ONE 4-plane table keeps ~(1−θ/π)⁴ ≈
    32% of true pairs; four tables (a pair is a candidate if it
    collides in ANY table) lift that to 1−(1−p)⁴ ≈ 79% expected —
    measured here as 36% → 75% moderate-band recall on the fixture,
    with exact-dup recall 100% throughout and n_extra identically 0
    (in-bucket exact-cosine verify). Cost is T× bucket shuffle rows —
    the recall-vs-compute dial, now a measured table instead of a
    guess. The oracle replays all four tables' plane literals (drawn
    sequentially from the one seeded rng, so table 0 IS the
    single-table operator's table) and both collide predicates."""
    from validate_spark.operators.dedup import (
        dedup_recall_report,
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    v = F.col("embedding")
    valid = (
        v.isNotNull()
        & (F.size(v) == 64)
        & F.forall(
            v,
            lambda x: x.isNotNull()
            & ~F.isnan(x.cast("double"))
            & (F.abs(x.cast("double")) != F.lit(float("inf"))),
        )
    )
    emb = _mixed_emb(spark, sf_dir).filter(valid)
    truth = embedding_neardup_pairs(emb, threshold=0.5, dim=64).select(
        "a", "b"
    )
    reports = []
    for t in (1, 4):
        cand = embedding_neardup_lsh(
            emb, threshold=0.5, n_planes=4, seed=7, dim=64, n_tables=t
        ).select("a", "b")
        reports.append(
            dedup_recall_report(cand, truth).select(
                F.lit(t).alias("n_tables"), "*"
            )
        )
    return reports[0].unionByName(reports[1])


def _emb_multitable_sql() -> str:
    """q238 oracle: four tables' plane literals drawn sequentially from
    numpy default_rng(7) exactly as the operator draws them; collide
    predicates c1 (table 0 only) and c4 (any of the four); cosine fold
    identical to the operator's."""
    import numpy as np

    rng = np.random.default_rng(7)
    tables = [rng.standard_normal((4, 64)) for _ in range(4)]
    bucket_cols = []
    for t, planes in enumerate(tables):
        terms = []
        for p in range(4):
            pl = ", ".join(repr(float(planes[p, d])) for d in range(64))
            dot = (
                "list_aggregate(list_transform(generate_series(1, 64), "
                f"i -> v[i]::DOUBLE * ([{pl}])[i]), 'sum')"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END) * {2 ** p}")
        bucket_cols.append(" + ".join(terms) + f" AS b{t}")
    region = (
        "SELECT {n} AS n_tables, "
        "sum((cos >= 0.5)::int)::bigint AS n_truth, "
        "sum(({c} AND cos >= 0.5)::int)::bigint AS n_candidates, "
        "sum((cos >= 0.5 AND {c})::int)::bigint AS n_matched, "
        "sum((cos >= 0.5 AND NOT ({c}))::int)::bigint AS n_missed, "
        "0::bigint AS n_extra FROM pairs"
    )
    return f"""
        WITH val AS MATERIALIZED (
          SELECT vec_id, embedding AS v FROM ({_MIXED_EMB})
          WHERE embedding IS NOT NULL AND len(embedding) = 64
            AND len(list_filter(embedding, x -> x IS NULL
                  OR isnan(x) OR isinf(x))) = 0
        ), bkt AS MATERIALIZED (
          SELECT vec_id, v, {", ".join(bucket_cols)},
                 sqrt(list_aggregate(list_transform(
                   generate_series(1, 64),
                   i -> v[i]::DOUBLE * v[i]::DOUBLE), 'sum')) AS nrm
          FROM val
        ), pairs AS MATERIALIZED (
          SELECT (x.b0 = y.b0) AS c1,
                 (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2
                  OR x.b3 = y.b3) AS c4,
                 CASE WHEN x.nrm > 0 AND y.nrm > 0 THEN
                   list_aggregate(list_transform(generate_series(1, 64),
                     i -> x.v[i]::DOUBLE * y.v[i]::DOUBLE), 'sum')
                   / (x.nrm * y.nrm)
                 ELSE 0.0 END AS cos
          FROM bkt x JOIN bkt y ON x.vec_id < y.vec_id
        )
        {region.format(n=1, c="c1")}
        UNION ALL
        {region.format(n=4, c="c4")}
    """


def q239_hll_distinct_sketch(spark, sf_dir):
    """HyperLogLog register sketch (stats.hll_registers/merge/
    estimate) — the MERGEABLE distinct counter beside q191's KMV: the
    corpus is sketched in two independent halves (doc_id parity), the
    register states fold by max (merge ≡ direct sketch of the union —
    the property that makes per-shard/per-day sketching rescan-free),
    and the estimate runs the standard harmonic-mean/linear-counting
    switch. m=32 here so the fixture's per-lang cardinalities (64–218)
    straddle the 2.5m=80 switch and BOTH branches are oracle-checked.
    Register state is md5-portable integers (never
    approx_count_distinct's opaque binary), Z is an exact decimal sum
    of 2^(61−reg) terms (order-independent), and rho uses bin()-length
    bit arithmetic — floor(log2(double)) is NOT cross-engine stable.
    exact_distinct joined beside the estimate shows the sketch error
    the caller is buying."""
    from validate_spark.operators.stats import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h1 = docs.filter(F.col("doc_id") % 2 == 0)
    h2 = docs.filter(F.col("doc_id") % 2 == 1)
    regs = hll_merge(
        hll_registers(h1, "text", p=5, group_cols=["lang"]),
        hll_registers(h2, "text", p=5, group_cols=["lang"]),
    )
    est = hll_estimate(regs, p=5, group_cols=["lang"])
    exact = docs.groupBy("lang").agg(
        F.count_distinct("text").alias("exact_distinct")
    )
    return est.join(exact, "lang")


def _hll_sql() -> str:
    """q239 oracle: registers straight from the full corpus (merge by
    max ≡ direct sketch — the mergeability identity the pytest also
    asserts), identical alpha·m²·2^61 literal, HUGEINT Z, bin()-length
    rho."""
    from validate_spark.operators.stats import _hll_alpha

    a_num = repr(_hll_alpha(32) * 32 * 32 * (2.0**61))
    return f"""
        WITH base AS (
          SELECT lang,
                 CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
          FROM documents WHERE text IS NOT NULL
        ), regs AS (
          SELECT lang, h % 32 AS idx,
                 MAX(CASE WHEN h // 32 > 0
                     THEN 56 - length(bin(h // 32))
                     ELSE 56 END) AS reg
          FROM base GROUP BY lang, h % 32
        ), agg AS (
          SELECT lang, count(*)::BIGINT AS n_hit,
                 sum((1::BIGINT << (61 - reg))::HUGEINT) AS z_hit
          FROM regs GROUP BY lang
        ), est AS (
          SELECT lang, n_hit, (32 - n_hit)::BIGINT AS n_zero,
                 (z_hit + ((32 - n_hit)::HUGEINT
                   * (1::BIGINT << 61)::HUGEINT))::DOUBLE AS z
          FROM agg
        )
        SELECT e.lang, n_hit, n_zero,
               round(CASE WHEN n_zero > 0 AND {a_num} / z <= 80.0
                     THEN 32.0 * ln(32.0 / n_zero)
                     ELSE {a_num} / z END, 6) AS est_distinct,
               x.exact_distinct
        FROM est e JOIN (
          SELECT lang, count(DISTINCT text)::BIGINT AS exact_distinct
          FROM documents WHERE text IS NOT NULL GROUP BY lang
        ) x ON e.lang = x.lang
    """


def q240_conformal_calibration(spark, sf_dir):
    """Split-conformal calibration (stats.conformal_report) — the
    distribution-free wrapper the pipeline's scoring models (quality
    classifier q130, anomaly screens q181/q189) need before their
    thresholds gate 10^12 rows: per event_type, the exact
    ceil((n+1)·0.9)-th smallest calibration score (event_id parity
    split) becomes the 90% threshold, and the held-out half measures
    realized coverage. Rank selection is the roc_auc/trimmed_mean
    distinct-value shape (never a per-row global sort); k is int64
    ppm arithmetic; the oracle re-derives the k-th order statistic
    with a row_number + correlated lookup."""
    from validate_spark.operators.stats import conformal_report

    ev = _t(spark, sf_dir, "events")
    return conformal_report(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        alpha_ppm=100_000,
        group_cols=["event_type"],
    )


def q241_ess_report(spark, sf_dir):
    """Effective-sample-size audit (sampling.ess_report) — the Kish
    ESS = (Σw)²/Σw² diagnostic every importance-weighted mix (DSIR
    q74, temperature q79, token budget q237) must publish before its
    weights touch a training run: a source whose 10^9 rows carry
    ESS 10^4 contributes 10^4 documents of signal, and the mix table
    should say so, per language. Weights here are md5-derived integer
    PPM (the house portable hash) with a doc_id%19 zero-weight cohort
    exercising the excluded-rows accounting; Σw/Σw² accumulate as
    decimal(38,0) (int64 dies at ~10^6 rows of w²≤10^12) and cross
    the engine boundary as strings. One hash aggregate, |langs| rows."""
    from validate_spark.operators.sampling import ess_report

    docs = _t(spark, sf_dir, "documents")
    w = F.when(F.pmod(F.col("doc_id"), F.lit(19)) == 0, F.lit(0)).otherwise(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(1_000_000),
        )
    )
    weighted = docs.select("lang", w.alias("w_ppm"))
    return ess_report(weighted, "w_ppm", group_cols=["lang"])


def q242_acf_report(spark, sf_dir):
    """Lag-k autocorrelation (drift.acf_report) — the periodicity
    diagnostic beside daily_trend (ramp) / cusum (step) / weekday
    profile (known season): Pearson r of the daily count series
    against itself at calendar lags 1..7 per event_type, pairs aligned
    by exact date so gaps never smear neighbours. Six exact
    decimal(38,0) moments per (group, lag); the final r is the only fp
    op (round-6 over identical exact integers both engines)."""
    from validate_spark.operators.drift import acf_report

    return acf_report(_t(spark, sf_dir, "events"), "ts", "event_type", max_lag=7)


def q243_gini_concentration(spark, sf_dir):
    """Gini concentration (stats.gini_concentration) — the inequality
    headline of the per-language document-length distribution: exact
    rank arithmetic on the distinct-value frame (a run of c copies of
    v at rank s contributes v·(c·s + c(c−1)/2) — never a per-row
    global sort), decimal(38,0) sums crossing as strings, one round-6
    division at the end."""
    from validate_spark.operators.stats import gini_concentration

    return gini_concentration(
        _t(spark, sf_dir, "documents"), "n_chars", group_cols=["lang"]
    )


def q244_interval_overlap_audit(spark, sf_dir):
    """Validity-interval integrity audit (temporal.interval_overlap_audit)
    — the invariant check a temporal table needs before AS-OF joins
    trust it: per key, intervals that OVERLAP prior coverage (running
    max of previous ends — not lag, so an umbrella interval shadows
    everything it spans) and GAPS between versions, in exact datediff
    days. Fixture intervals derive from orders (key = o_custkey % 50,
    end = start + o_orderkey % 45 − 3 days) so inverted rows (end <
    start, counted in n_inverted and clamped to points) are
    exercised."""
    from validate_spark.operators.temporal import interval_overlap_audit

    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        (F.col("o_custkey") % 50).alias("entity"),
        F.to_date("o_orderdate").alias("valid_from"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 45 - 3).cast("int"),
        ).alias("valid_to"),
    )
    return interval_overlap_audit(iv, "entity", "valid_from", "valid_to")


def q245_typo_pairs(spark, sf_dir):
    """Edit-distance-1 vocabulary pairs (textstats.typo_candidate_pairs)
    — SymSpell deletion neighborhoods (lev ≤ 1 ⇔ shared member of
    {w} ∪ del₁(w)): one equi-join on the variant key over the
    |vocab|-bounded frame, exact levenshtein==1 verify killing the
    distance-2 candidates the identity admits ("ab"/"ba"). Fixture
    plants typos: every corpus word with ≥5 occurrences and length
    5–10 spawns a document holding it minus its 2nd character. The
    oracle is the EXHAUSTIVE vocab cross join — proving the
    deletion-neighborhood join loses zero recall."""
    from validate_spark.operators.textstats import (
        normalize_text,
        typo_candidate_pairs,
    )
    from validate_spark.session import fan_out

    docs = _t(spark, sf_dir, "documents")
    toks = (
        fan_out(docs)
        .select(normalize_text(F.col("text")).alias("_t"))
        .filter(F.length("_t") > 0)
        .select(F.explode(F.split("_t", " ")).alias("_w"))
    )
    hot = (
        toks.filter(F.col("_w").rlike("^[a-z]{5,10}$"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 5)
    )
    planted = hot.select(
        F.concat(F.substring("_w", 1, 1), F.expr("substring(_w, 3)")).alias(
            "text"
        )
    )
    corpus = docs.select("text").unionByName(planted)
    return typo_candidate_pairs(
        corpus, "text", min_len=4, max_len=12, min_support=1
    )


def q234_ivf_pq(spark, sf_dir):
    """IVF-PQ ANN (similarity.ivf_pq_topk) — the production
    billion-vector layout capping the compression ladder: 4 md5-
    sampled coarse centroids route each query to its nprobe=2 nearest
    inverted lists; inside them, q219's integer ADC scores m=8 codes
    per candidate. Bucket assignment, probe ranking, and every ADC
    cell are bit-identical replayable, so the oracle re-derives the
    full candidate set and ranking in SQL. Recall loss (a neighbor in
    an unprobed bucket) is the honest IVF price — q220/q233's loop
    measures it before nprobe freezes."""
    from validate_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    valid = emb.filter(sim._pq_valid(F.col("embedding"), 64))
    cents = sim.sample_centroids(valid, 4)
    cb = sim.pq_codebooks(emb, m=8, n_codes=16)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return sim.ivf_pq_topk(emb, q, cents, cb, k=10, nprobe=2)


def q235_spatial_grid_join(spark, sf_dir):
    """Grid-bucketed spatial distance join (spatial.grid_distance_join):
    every (customer, supplier) pair whose synthetic integer coordinates
    lie within Euclidean distance 300 on a 10k×10k grid — the scale
    shape for "neighbors within r" that replaces the unrunnable cross
    join with a cell equi-join: cell = coord div r, the SMALLER side
    (suppliers, 100 rows) replicated into its 3×3 neighborhood, one
    shuffle per side on (cx, cy), then the exact int64 squared-distance
    filter. Coordinates are md5-derived (the house portable hash) so
    the oracle re-derives the same points and checks the pair set with
    a direct cross-join filter — exhaustive at sf, unrunnable at scale,
    which is exactly the point."""
    from validate_spark.operators.spatial import grid_distance_join

    def pts(df, keycol, sx, sy):
        def coord(seed):
            k = F.concat_ws(
                "\x1f", F.col(keycol).cast("string"), F.lit(str(seed))
            )
            return F.pmod(
                F.conv(F.substring(F.md5(k), 1, 8), 16, 10).cast("long"),
                F.lit(10000),
            )

        return df.select(
            F.col(keycol).alias("k"), coord(sx).alias("x"), coord(sy).alias("y")
        )

    cust = pts(_t(spark, sf_dir, "customer"), "c_custkey", 11, 12)
    supp = pts(_t(spark, sf_dir, "supplier"), "s_suppkey", 13, 14)
    return grid_distance_join(cust, supp, 300, replicate="right")


def q236_merge_upsert(spark, sf_dir):
    """Lakehouse MERGE semantics (snapdiff.merge_upsert): a CDC batch
    against the customer table — matched rows updated (name suffixed,
    balance +100.0: the identical IEEE op in both engines), matched
    rows flagged deleted dropped (custkey%21 — a subset of the %7
    matches, as MERGE deletes must be), unmatched rows inserted
    (custkey+100000 clones of the %13 cohort). One anti-join + union,
    no full-outer coalesce row widening; post-merge table returned.
    Reference seed: UpdateSource write-back (validate.go:69-145)
    lifted to table scale."""
    from validate_spark.operators.snapdiff import merge_upsert

    t = _t(spark, sf_dir, "customer")
    upd = t.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("_v2")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        "c_mktsegment",
        (F.col("c_custkey") % 21 == 0).alias("deleted"),
    )
    ins = t.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + F.lit(100000)).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(False).alias("deleted"),
    )
    return merge_upsert(t, upd.unionByName(ins), ["c_custkey"], delete_col="deleted")


def q237_token_budget_mix(spark, sf_dir):
    """Static pretraining-mix allocation (sampling.token_budget_mix):
    split a 50k-token budget across document sources by target ppm
    weights (src0:40%, src1:30%, src2:20%, src5:10%, rest 0 — the
    "forgotten source shows up with zero allocation" contract) under a
    2.5-epoch repeat cap; n_chars stands in for tokens. desired/alloc/
    epochs/deficit are all int64 div arithmetic — the per-source
    deficit is what a second water-filling pass (a driver-side loop
    over this |sources|-row frame) would re-spread. One groupBy(source)
    shuffle; everything after is aggregate-sized."""
    from validate_spark.operators.sampling import token_budget_mix

    docs = _t(spark, sf_dir, "documents")
    return token_budget_mix(
        docs,
        "source",
        "n_chars",
        budget=50_000,
        weights_ppm={
            "src0": 400_000,
            "src1": 300_000,
            "src2": 200_000,
            "src5": 100_000,
        },
        max_epochs_ppm=2_500_000,
    )


def q246_cross_source_dups(spark, sf_dir):
    """Source × source duplication matrix (dedup.cross_source_dup_matrix)
    — WHO shares content with WHOM: per source pair, distinct shared
    fingerprints and doc counts each side — the mirror-site signal that
    decides which source to DROP rather than dedup. Per-fp per-source
    arrays are |sources|-bounded (the hot-key failure mode structurally
    cannot occur), pairs expand row-locally. Fixture: sources reassigned
    to doc_id%3 classes, a mirror site holding every %7 doc and a
    laundered rescrape of every %10 doc unioned in — so base↔mirror,
    base↔laundered and mirror↔laundered overlaps are all exercised."""
    from validate_spark.operators.dedup import cross_source_dup_matrix

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "text",
        F.concat(F.lit("src"), (F.col("doc_id") % 3).cast("string")).alias(
            "source"
        ),
    )
    mirror = docs.filter(F.col("doc_id") % 7 == 0).select(
        "text", F.lit("mirror_site").alias("source")
    )
    laundered = docs.filter(F.col("doc_id") % 10 == 0).select(
        "text", F.lit("laundered").alias("source")
    )
    corpus = base.unionByName(mirror).unionByName(laundered)
    return cross_source_dup_matrix(corpus, "source")


def q247_basket_pairs(spark, sf_dir):
    """Market-basket association pairs (olap.basket_pairs) — items
    co-ordered beyond what their popularity predicts: integer-selected
    (support >= 2, positive lift by decimal cross-multiplication),
    top-100 by (c_ab DESC, item_a, item_b). Basket = l_orderkey,
    item = l_partkey; oversized baskets drop BEFORE any array exists
    and the kept baskets collect through the two-phase (pid, basket)
    stage. The oracle replays the exhaustive per-basket pair join —
    quadratic truth, runnable at sf, which is the point."""
    from validate_spark.operators.olap import basket_pairs

    li = _t(spark, sf_dir, "lineitem")
    return basket_pairs(li, min_support=2, max_basket=200, top_n=100)


def q248_robotic_cadence(spark, sf_dir):
    """Inter-event cadence bot screen (temporal.robotic_cadence):
    per-actor exact unix-micro gap statistics with a pure-integer
    "metronome" verdict — gap spread within 10% of the mean gap,
    cross-multiplied in decimal(38,0). Fixture: real events actors
    plus one planted bot posting every 60.000000 s for 20 events
    (timestamp_seconds from a fixed epoch — replayed in the oracle as
    make_timestamp micros), so both verdict polarities are exercised."""
    from validate_spark.operators.temporal import robotic_cadence

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").cast("string").alias("actor"), F.col("ts")
    )
    bot = spark.range(20).select(
        F.lit("bot_1").alias("actor"),
        F.timestamp_seconds(
            F.lit(1704067200).cast("long") + F.col("id") * 60
        ).alias("ts"),
    )
    return robotic_cadence(
        base.unionByName(bot), "ts", "actor", min_events=5, tolerance_pct=10
    )


def q249_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval by reciprocal-rank fusion (retrieval.rrf_fuse):
    BM25 lexical top-8 (q192's exact int64 pipeline) ⊕ dense cosine
    top-10 (q19's brute-force path, query vectors = embeddings 1 and 2
    over the shared doc_id ≡ vec_id universe), fused on pure-integer
    10^12 div (60 + rank) contributions — no score calibration, rank
    and cut all integer-selected. The per-query sibling of q188's
    global quality-signal ensemble; both source rankings are
    independently oracle-gated, so this gates exactly the fusion."""
    from validate_spark.operators import similarity as sim
    from validate_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    terms = _lit_df(
        spark,
        [
            ("q1", "hash"),
            ("q1", "join"),
            ("q1", "merge"),
            ("q2", "stream"),
            ("q2", "window"),
            ("q2", "vector"),
        ],
        ["query_id", "term"],
    )
    lex = bm25_topk(docs, terms, k=8).select("query_id", "doc_id", "rank")
    qv = emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    den = sim.brute_force_topk(emb, qv, k=10).select(
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias(
            "query_id"
        ),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([lex, den], k=60, top_n=10)


def q250_rule_impact(spark, sf_dir):
    """Marginal rule impact (ValidationResult.rule_impact): per fired
    rule, total firing rows vs rows where it was the SOLE violation —
    the "what would relaxing exactly this rule rescue" governance
    table, the unary sibling of q230's co-violation matrix. Rule names
    derive row-locally from the engine's failed array (one explode
    bounded by |rules|, one ≤|rules|-key aggregate — never a
    violations-frame self-count); sole_ppm is integer div, replayed
    exactly by the oracle's conditional sums over the q02 predicates."""
    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return res.rule_impact()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = {
        "q01_verdicts_documents": q01_verdicts_documents,
        "q02_violations_by_rule": q02_violations_by_rule,
        "q03_first_errors": q03_first_errors,
        "q04_filtered_safe_rows": q04_filtered_safe_rows,
        "q05_cross_field_events": q05_cross_field_events,
        "q06_column_stats": q06_column_stats,
        "q07_duplicate_keys": q07_duplicate_keys,
        "q08_uniqueness_report": q08_uniqueness_report,
        "q09_ref_integrity": q09_ref_integrity,
        "q10_length_histogram": q10_length_histogram,
        "q11_drift_histograms": q11_drift_histograms,
        "q12_text_annotate": q12_text_annotate,
        "q13_lang_distribution": q13_lang_distribution,
        "q14_token_totals": q14_token_totals,
        "q15_exact_dedup": q15_exact_dedup,
        "q16_minhash_lsh_dedup": q16_minhash_lsh_dedup,
        "q17_simhash_dedup": q17_simhash_dedup,
        "q44_ngram_jaccard": q44_ngram_jaccard,
        "q45_rule_suggestions": q45_rule_suggestions,
        "q46_default_substitution": q46_default_substitution,
        "q47_request_log": q47_request_log,
        "q18_embedding_neardup": q18_embedding_neardup,
        "q19_ann_brute_force": q19_ann_brute_force,
        "q20_ann_ivf_full_probe": q20_ann_ivf_full_probe,
        "q21_media_metadata": q21_media_metadata,
        "q22_media_features": q22_media_features,
        "q23_spans_validation": q23_spans_validation,
        "q24_events_kitchen_sink": q24_events_kitchen_sink,
        "q25_filter_chain_safe": q25_filter_chain_safe,
        "q26_dedup_clusters": q26_dedup_clusters,
        "q27_partition_manifest": q27_partition_manifest,
        "q28_violation_messages": q28_violation_messages,
        "q29_required_family": q29_required_family,
        "q32_date_gauntlet": q32_date_gauntlet,
        "q33_form_staging": q33_form_staging,
        "q34_scene_projection": q34_scene_projection,
        "q35_locale_messages": q35_locale_messages,
        "q36_drift_chi2": q36_drift_chi2,
        "q37_iqr_outliers": q37_iqr_outliers,
        "q38_salted_uniqueness": q38_salted_uniqueness,
        "q39_composite_dup_keys": q39_composite_dup_keys,
        "q40_training_pipeline": q40_training_pipeline,
        "q41_rune_vs_byte_length": q41_rune_vs_byte_length,
        "q42_rule_report": q42_rule_report,
        "q43_span_sequence_invariant": q43_span_sequence_invariant,
        "q30_json_validation": q30_json_validation,
        "q31_format_gauntlet": q31_format_gauntlet,
        "q48_streaming_manifest": q48_streaming_manifest,
        "q49_decontamination": q49_decontamination,
        "q50_pii_scrub": q50_pii_scrub,
        "q51_stratified_sample": q51_stratified_sample,
        "q52_embedding_quality": q52_embedding_quality,
        "q53_repetition_signals": q53_repetition_signals,
        "q54_dedup_retained": q54_dedup_retained,
        "q55_drift_psi": q55_drift_psi,
        "q56_streaming_stateful_dedup": q56_streaming_stateful_dedup,
        "q57_map_wildcard_validation": q57_map_wildcard_validation,
        "q58_instance_overlay_validation": q58_instance_overlay_validation,
        "q59_format_gauntlet2": q59_format_gauntlet2,
        "q60_crossfield_equality": q60_crossfield_equality,
        "q61_custom_filter_chain": q61_custom_filter_chain,
        "q62_langid_cjk": q62_langid_cjk,
        "q63_global_custom_validator": q63_global_custom_validator,
        "q64_custom_type_extractor": q64_custom_type_extractor,
        "q65_weighted_mix": q65_weighted_mix,
        "q66_url_blocklist": q66_url_blocklist,
        "q67_sequence_packing": q67_sequence_packing,
        "q68_unigram_quality": q68_unigram_quality,
        "q69_line_dedup": q69_line_dedup,
        "q70_type_gauntlet": q70_type_gauntlet,
        "q71_filter_gauntlet": q71_filter_gauntlet,
        "q72_semantic_decontam": q72_semantic_decontam,
        "q73_incremental_dedup": q73_incremental_dedup,
        "q74_deterministic_shuffle": q74_deterministic_shuffle,
        "q75_duplicated_spans": q75_duplicated_spans,
        "q76_token_share_report": q76_token_share_report,
        "q77_incremental_minhash": q77_incremental_minhash,
        "q78_quality_quantile": q78_quality_quantile,
        "q79_stratum_quota": q79_stratum_quota,
        "q80_centroid_outliers": q80_centroid_outliers,
        "q81_source_overlap": q81_source_overlap,
        "q82_soft_dedup_weights": q82_soft_dedup_weights,
        "q83_cluster_split": q83_cluster_split,
        "q84_top_spans": q84_top_spans,
        "q85_rule_drift": q85_rule_drift,
        "q86_violation_control": q86_violation_control,
        "q87_schema_profile_drift": q87_schema_profile_drift,
        "q88_pattern_profile": q88_pattern_profile,
        "q89_streaming_windowed_drift": q89_streaming_windowed_drift,
        "q90_encoding_signals": q90_encoding_signals,
        "q91_snapshot_diff": q91_snapshot_diff,
        "q92_attribute_consistency": q92_attribute_consistency,
        "q93_suite_report": q93_suite_report,
        "q94_retain_best": q94_retain_best,
        "q95_functional_dependency": q95_functional_dependency,
        "q96_categorical_drift": q96_categorical_drift,
        "q97_numeric_correlations": q97_numeric_correlations,
        "q98_frequent_values": q98_frequent_values,
        "q99_c4_signals": q99_c4_signals,
        "q100_gopher_rules": q100_gopher_rules,
        "q101_incremental_validate": q101_incremental_validate,
        "q102_sessionize": q102_sessionize,
        "q103_asof_join": q103_asof_join,
        "q104_range_join": q104_range_join,
        "q105_streaming_sessionize": q105_streaming_sessionize,
        "q106_event_stream_quality": q106_event_stream_quality,
        "q107_funnel": q107_funnel,
        "q108_cohort_retention": q108_cohort_retention,
        "q109_rolling_window": q109_rolling_window,
        "q110_distinctive_terms": q110_distinctive_terms,
        "q111_hopping_windows": q111_hopping_windows,
        "q112_stream_interval_join": q112_stream_interval_join,
        "q113_streaming_hopping": q113_streaming_hopping,
        "q114_native_streaming_dedup": q114_native_streaming_dedup,
        "q115_span_ref_integrity": q115_span_ref_integrity,
        "q116_stream_static_enrich": q116_stream_static_enrich,
        "q117_benford_audit": q117_benford_audit,
        "q118_label_agreement": q118_label_agreement,
        "q119_cube_profile": q119_cube_profile,
        "q120_event_pivot": q120_event_pivot,
        "q121_event_melt": q121_event_melt,
        "q122_daily_densify": q122_daily_densify,
        "q123_pricing_summary": q123_pricing_summary,
        "q124_top_revenue": q124_top_revenue,
        "q125_local_supplier_volume": q125_local_supplier_volume,
        "q126_order_priority": q126_order_priority,
        "q127_customer_orders_dist": q127_customer_orders_dist,
        "q128_idle_rich_customers": q128_idle_rich_customers,
        "q129_latest_wins": q129_latest_wins,
        "q130_quality_classifier": q130_quality_classifier,
        "q131_doc_chunks": q131_doc_chunks,
        "q132_doc_keywords": q132_doc_keywords,
        "q133_csv_ingest": q133_csv_ingest,
        "q134_nation_volume": q134_nation_volume,
        "q135_returned_customers": q135_returned_customers,
        "q136_promo_share": q136_promo_share,
        "q137_top_suppliers": q137_top_suppliers,
        "q138_small_qty_revenue": q138_small_qty_revenue,
        "q139_large_volume_customers": q139_large_volume_customers,
        "q140_disjunctive_revenue": q140_disjunctive_revenue,
        "q141_waiting_suppliers": q141_waiting_suppliers,
        "q142_pagerank": q142_pagerank,
        "q143_bpe_merges": q143_bpe_merges,
        "q144_token_entropy": q144_token_entropy,
        "q145_random_projection": q145_random_projection,
        "q146_phrase_contamination": q146_phrase_contamination,
        "q147_group_percentiles": q147_group_percentiles,
        "q148_stream_outer_interval_join": q148_stream_outer_interval_join,
        "q149_bucketed_join": q149_bucketed_join,
        "q150_schema_evolution": q150_schema_evolution,
        "q151_partition_pruning": q151_partition_pruning,
        "q152_nfc_normalization": q152_nfc_normalization,
        "q153_table_checksum": q153_table_checksum,
        "q154_mix_temperature": q154_mix_temperature,
        "q155_duplication_profile": q155_duplication_profile,
        "q156_debounce": q156_debounce,
        "q157_forecast_revenue": q157_forecast_revenue,
        "q158_span_annotate": q158_span_annotate,
        "q159_stateful_sessionize": q159_stateful_sessionize,
        "q160_python_datasource": q160_python_datasource,
        "q161_ngram_udtf": q161_ngram_udtf,
        "q162_python_stream_source": q162_python_stream_source,
        "q163_variant_extraction": q163_variant_extraction,
        "q164_group_mad": q164_group_mad,
        "q165_pii_spans": q165_pii_spans,
        "q166_top_sources_with_ties": q166_top_sources_with_ties,
        "q167_optional_parent_gate": q167_optional_parent_gate,
        "q168_typed_validator_discovery": q168_typed_validator_discovery,
        "q169_min_cost_supplier": q169_min_cost_supplier,
        "q170_market_share": q170_market_share,
        "q171_product_profit": q171_product_profit,
        "q172_important_stock": q172_important_stock,
        "q173_late_priority": q173_late_priority,
        "q174_supplier_part_counts": q174_supplier_part_counts,
        "q175_excess_stock_suppliers": q175_excess_stock_suppliers,
        "q176_dsir_selection": q176_dsir_selection,
        "q177_bloom_decontamination": q177_bloom_decontamination,
        "q178_global_row_index": q178_global_row_index,
        "q179_zorder_layout": q179_zorder_layout,
        "q180_blocked_fuzzy_pairs": q180_blocked_fuzzy_pairs,
        "q181_cusum_changepoint": q181_cusum_changepoint,
        "q182_triangle_count": q182_triangle_count,
        "q183_url_dedup": q183_url_dedup,
        "q184_leakage_safe_split": q184_leakage_safe_split,
        "q185_compaction_plan": q185_compaction_plan,
        "q186_daily_trend": q186_daily_trend,
        "q187_sq8_ann": q187_sq8_ann,
        "q188_rrf_fusion": q188_rrf_fusion,
        "q189_weekday_anomaly": q189_weekday_anomaly,
        "q190_span_pattern_audit": q190_span_pattern_audit,
        "q191_kmv_distinct_sketch": q191_kmv_distinct_sketch,
        "q192_bm25_topk": q192_bm25_topk,
        "q193_theil_sen_trend": q193_theil_sen_trend,
        "q194_join_skew_audit": q194_join_skew_audit,
        "q195_phash_image_neardup": q195_phash_image_neardup,
        "q196_fs_record_linkage": q196_fs_record_linkage,
        "q197_kmv_rollup_merge": q197_kmv_rollup_merge,
        "q198_kwic_snippets": q198_kwic_snippets,
        "q199_weighted_reservoir": q199_weighted_reservoir,
        "q200_linkage_entities": q200_linkage_entities,
        "q201_k_anonymity": q201_k_anonymity,
        "q202_mutual_information": q202_mutual_information,
        "q203_partition_skipping_audit": q203_partition_skipping_audit,
        "q204_cms_frequency_sketch": q204_cms_frequency_sketch,
        "q205_decayed_trending": q205_decayed_trending,
        "q206_threshold_sweep": q206_threshold_sweep,
        "q207_transition_matrix": q207_transition_matrix,
        "q208_sequence_conformance": q208_sequence_conformance,
        "q209_dedup_recall_report": q209_dedup_recall_report,
        "q210_langid_confusion": q210_langid_confusion,
        "q211_rate_jackknife": q211_rate_jackknife,
        "q212_kmv_trailing_window": q212_kmv_trailing_window,
        "q213_streaming_kmv": q213_streaming_kmv,
        "q214_roc_auc": q214_roc_auc,
        "q215_gains_table": q215_gains_table,
        "q216_collocations": q216_collocations,
        "q217_containment_quotes": q217_containment_quotes,
        "q218_k_core": q218_k_core,
        "q219_pq_ann": q219_pq_ann,
        "q220_pq_recall": q220_pq_recall,
        "q221_streaming_cms": q221_streaming_cms,
        "q222_layout_advisor": q222_layout_advisor,
        "q223_oov_report": q223_oov_report,
        "q224_scd2_build": q224_scd2_build,
        "q225_contrastive_negatives": q225_contrastive_negatives,
        "q226_trimmed_mean": q226_trimmed_mean,
        "q227_source_scorecard": q227_source_scorecard,
        "q228_quantile_normalize": q228_quantile_normalize,
        "q229_t_closeness": q229_t_closeness,
        "q230_rule_coviolation": q230_rule_coviolation,
        "q231_audio_fingerprint": q231_audio_fingerprint,
        "q232_span_dup_topline": q232_span_dup_topline,
        "q233_embedding_lsh_recall": q233_embedding_lsh_recall,
        "q234_ivf_pq": q234_ivf_pq,
        "q235_spatial_grid_join": q235_spatial_grid_join,
        "q236_merge_upsert": q236_merge_upsert,
        "q237_token_budget_mix": q237_token_budget_mix,
        "q238_embedding_lsh_multitable": q238_embedding_lsh_multitable,
        "q239_hll_distinct_sketch": q239_hll_distinct_sketch,
        "q240_conformal_calibration": q240_conformal_calibration,
        "q241_ess_report": q241_ess_report,
        "q242_acf_report": q242_acf_report,
        "q243_gini_concentration": q243_gini_concentration,
        "q244_interval_overlap_audit": q244_interval_overlap_audit,
        "q245_typo_pairs": q245_typo_pairs,
        "q246_cross_source_dups": q246_cross_source_dups,
        "q247_basket_pairs": q247_basket_pairs,
        "q248_robotic_cadence": q248_robotic_cadence,
        "q249_hybrid_rrf": q249_hybrid_rrf,
        "q250_rule_impact": q250_rule_impact,
    }
    ordered = {n: qs[n] for n in _DRIVER_FIRST}
    ordered.update((n, f) for n, f in qs.items() if n not in ordered)
    return ordered


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# per-rule violation predicates over `documents` (engine semantics:
# required → value empty; non-required → NOT empty AND NOT predicate)
_V = {
    "doc_id_required": "doc_id IS NULL",
    "text_required": "(text IS NULL OR text = '')",
    "text_minLength": "(text IS NOT NULL AND text <> '' AND strlen(text) < 100)",
    "lang_required": "(lang IS NULL OR lang = '')",
    "lang_enum": "(lang IS NOT NULL AND lang <> '' AND lang NOT IN ('en','de','fr','es'))",
    "source_required": "(source IS NULL OR source = '')",
    "source_regexp": "(source IS NOT NULL AND source <> '' AND NOT regexp_matches(source, '^src[0-9]+$'))",
    "n_chars_required": "n_chars IS NULL",
    "n_chars_min": "(n_chars IS NOT NULL AND n_chars < 50)",
    "n_chars_max": "(n_chars IS NOT NULL AND n_chars > 600)",
}

_PASS = " AND ".join(f"NOT {v}" for v in _V.values())
_NVIOL = " + ".join(f"({v})::int" for v in _V.values())

_RULE_ORDER = [  # (violation key, field, validator) in declaration order
    ("doc_id_required", "doc_id", "required"),
    ("text_required", "text", "required"),
    ("text_minLength", "text", "minLength"),
    ("lang_required", "lang", "required"),
    ("lang_enum", "lang", "enum"),
    ("source_required", "source", "required"),
    ("source_regexp", "source", "regexp"),
    ("n_chars_required", "n_chars", "required"),
    ("n_chars_min", "n_chars", "min"),
    ("n_chars_max", "n_chars", "max"),
]

def _jl_oracle_sql() -> str:
    """DuckDB replay of q145: the ±1 sign matrix comes from the SAME
    jl_sign_matrix call the operator uses — inlined as VALUES rows.
    A NULL element must NULL the whole coordinate (Spark's fold
    propagates NULL; plain list_aggregate 'sum' SKIPS it — round-3
    gotcha), hence the explicit has-NULL CASE."""
    from validate_spark.operators.similarity import jl_sign_matrix

    signs = jl_sign_matrix(16, 64, 7)
    rows = ",\n              ".join(
        f"({k}, {signs[k]})" for k in range(len(signs))
    )
    return f"""
            WITH sm AS (
              SELECT * FROM (VALUES {rows}) AS t(k, s)
            )
            SELECT e.vec_id AS key, sm.k::bigint AS k,
                   CASE WHEN len(list_filter(e.embedding,
                                             x -> x IS NULL)) > 0
                        THEN NULL
                        ELSE round(list_aggregate(
                          list_transform(generate_series(1, 64),
                                         i -> e.embedding[i]::double
                                                * sm.s[i]),
                          'sum') / 4.0, 6) END AS proj
            FROM embeddings e, sm
            WHERE len(e.embedding) = 64
    """


def _pii_spans_oracle_sql() -> str:
    """DuckDB replay of q165: the SAME pattern constants the scrub
    filters and pii_spans use (one source of truth), one
    regexp_extract_all + per-element unnest per kind."""
    from validate_spark.functions.filters import _PII_PATTERNS

    pats = {
        "email": _PII_PATTERNS["scrubEmail"][0],
        "url": _PII_PATTERNS["scrubUrl"][0],
        "ip": _PII_PATTERNS["scrubIp"][0],
    }
    parts = []
    for kind, pat in pats.items():
        p = pat.replace("'", "''")
        parts.append(f"""
              SELECT doc_id AS key, '{kind}' AS kind,
                     unnest(generate_series(1, len(ms))) AS i1, ms
              FROM (SELECT doc_id,
                           regexp_extract_all(t, '{p}', 0) AS ms
                    FROM salted)""")
    un = "\n              UNION ALL".join(parts)
    return f"""
            WITH salted AS (
              SELECT doc_id,
                     CASE
                       WHEN doc_id % 4 = 1 THEN text || ' contact u'
                            || doc_id::varchar || '@example.com now'
                       WHEN doc_id % 6 = 2 THEN text
                            || ' see https://ex.com/p'
                            || doc_id::varchar || ' ok'
                       WHEN doc_id % 9 = 4 THEN text || ' from 10.0.'
                            || (doc_id % 256)::varchar || '.'
                            || (doc_id % 200)::varchar || ' logged'
                       ELSE text END AS t
              FROM documents
            ), matches AS ({un}
            )
            SELECT key, kind, (i1 - 1)::int AS pos, ms[i1] AS span
            FROM matches
    """


# text-analysis building blocks (mirror validate_spark.operators.textstats)
_NORM = "trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ', 'g'))"
# q195: the four 12-bit aHash chunks as DuckDB list arithmetic over the
# 48-pixel grid (px, with sum s) — bit i of chunk j is
# px[12j+i]*48 > s, packed little-endian exactly like the Spark side
_PHASH_C = ", ".join(
    "CAST(list_sum(list_transform(range(12), i -> CASE WHEN "
    f"px[{12 * j} + i + 1] * 48 > s THEN (1::BIGINT << i) ELSE 0 END)) "
    f"AS INT) AS c{j}"
    for j in range(4)
)
_FP = f"md5({_NORM})"
_NTOK = (
    "CASE WHEN trim(coalesce(text,'')) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\\s+')) END"
)
_NBPE = "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))"
_SW = {
    "en": "the|and|of|to|in|is|that|for|it|with",
    "de": "der|die|und|das|nicht|ist|ich|ein|zu|mit",
    "fr": "le|la|et|les|des|une|est|que|dans|pour",
    "es": "el|los|de|que|en|una|por|con|para|las",
}
_SCORES = ", ".join(
    f"len(regexp_extract_all(lower(text), '\\b({pat})\\b')) AS s_{lang}"
    for lang, pat in _SW.items()
) + (
    ", length(coalesce(text,'')) AS n_len"
    ", len(regexp_extract_all(coalesce(text,''), '[\\x{3040}-\\x{30ff}]')) AS c_kana"
    ", len(regexp_extract_all(coalesce(text,''), '[\\x{4e00}-\\x{9fff}]')) AS c_han"
    ", len(regexp_extract_all(coalesce(text,''), '[\\x{ac00}-\\x{d7af}]')) AS c_hangul"
    ", len(regexp_extract_all(coalesce(text,''), '[\\x{0400}-\\x{04ff}]')) AS c_cyr"
    ", len(regexp_extract_all(coalesce(text,''), '[\\x{0600}-\\x{06ff}]')) AS c_arab"
)
_LANG_PRED = (
    # script tier mirrors textstats.lang_id exactly (integer
    # cross-multiplied ratios; count>0 guards the empty string)
    "CASE WHEN c_kana > 0 AND c_kana * 20 >= n_len THEN 'ja' "
    "WHEN c_han > 0 AND c_han * 20 >= n_len * 3 THEN 'zh' "
    "WHEN c_hangul > 0 AND c_hangul * 20 >= n_len * 3 THEN 'ko' "
    "WHEN c_cyr > 0 AND c_cyr * 20 >= n_len * 3 THEN 'ru' "
    "WHEN c_arab > 0 AND c_arab * 20 >= n_len * 3 THEN 'ar' "
    "WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
    "WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de' "
    "WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr' "
    "WHEN s_es > 0 THEN 'es' ELSE 'und' END"
)
_QUALITY = f"""
round(
  0.4 * least(length(coalesce(text,'')) / 500.0, 1.0)
  + 0.4 * least((len(regexp_extract_all(lower(coalesce(text,'')), '\\b({_SW["en"]})\\b'))
                 / greatest({_NTOK}, 1)::double) * 2.0, 1.0)
  + 0.2 * (1.0 - (
      least((len(regexp_extract_all(coalesce(text,''), '[^\\w\\s]'))
             / greatest(length(coalesce(text,'')), 1)::double) * 4.0, 1.0)
    + least((len(regexp_extract_all(coalesce(text,''), '[0-9]'))
             / greatest(length(coalesce(text,'')), 1)::double) * 4.0, 1.0)
  ) / 2.0)
, 6)"""

_STATS_COL = """
SELECT '{c}' AS column, count(*)::bigint AS n,
  count(*) FILTER ({c} IS NULL)::bigint AS n_null,
  round(count(*) FILTER ({c} IS NULL) / count(*)::double, 6) AS null_rate,
  {nempty}::bigint AS n_empty,
  round(avg(length({c}::varchar)), 4) AS avg_len,
  min({c})::varchar AS min_str, max({c})::varchar AS max_str,
  count(DISTINCT {c})::bigint AS n_distinct
FROM documents"""


def _stats_union() -> str:
    parts = []
    for c in ["doc_id", "text", "lang", "n_chars"]:
        nempty = f"count(*) FILTER ({c} = '')" if c in ("text", "lang") else "0"
        parts.append(_STATS_COL.format(c=c, nempty=nempty))
    return " UNION ALL ".join(parts)


_DOUBLED_DOCS = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents"
)
_DOUBLED_EMB = (
    "SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings"
)

# doubled + BLENDED rows (v_i + v_{i+1}, cos≈0.71 to each parent): the
# moderate-similarity band the doubling alone cannot populate — q238's
# multi-table recall demonstration needs real moderate pairs to recover
_MIXED_EMB = f"""
    {_DOUBLED_EMB}
    UNION ALL
    SELECT a.vec_id + 2000000 AS vec_id,
           list_transform(generate_series(1, 64),
             i -> a.embedding[i]::DOUBLE + b.embedding[i]::DOUBLE)
             AS embedding
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id < 50
"""

_ANN_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
), s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.embedding, q.qv), 9) AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM s
)
SELECT query_id, neighbor_id, rk::int AS rank FROM r WHERE rk <= 10
"""

_MEDIA_META = """
WITH m AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substr(md5(doc_id::varchar), 1, 1)) - 1) % 3 AS kind
  FROM documents
), b AS (
  SELECT doc_id, kind,
         (CASE kind WHEN 0 THEN 3 WHEN 1 THEN 8 ELSE 4 END + 48) AS nb
  FROM m
)
SELECT doc_id,
  CASE kind WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png' ELSE 'audio/wav' END AS mime,
  nb::int AS n_bytes,
  ((nb * 7) % 1920 + 1)::int AS width,
  (nb % 1080 + 1)::int AS height
FROM b
"""


# rule args for DOC_RULES, used to render the expected message literals
_RULE_ARGS = {
    "doc_id_required": (),
    "text_required": (),
    "text_minLength": ("100",),
    "lang_required": (),
    "lang_enum": ("en", "de", "fr", "es"),
    "source_required": (),
    "source_regexp": ("^src[0-9]+$",),
    "n_chars_required": (),
    "n_chars_min": ("50",),
    "n_chars_max": ("600",),
}


def _q31_sql() -> str:
    """Format-family oracle: the SAME regex literals the engine compiles
    (validate_spark.functions.validators.RX — RE2-safe, identical
    semantics in DuckDB), over the same md5-derived columns."""
    from validate_spark.functions.validators import RX

    derived = """
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN 'bad email @@'
             ELSE source || '@' || lang || '.example.com' END AS email,
        CASE WHEN doc_id % 5 = 0 THEN 'not-a-uuid'
             ELSE substr(md5(doc_id::varchar),1,8) || '-' ||
                  substr(md5(doc_id::varchar),9,4) || '-4' ||
                  substr(md5(doc_id::varchar),14,3) || '-a' ||
                  substr(md5(doc_id::varchar),18,3) || '-' ||
                  substr(md5(doc_id::varchar),21,12) END AS uuid,
        CASE WHEN doc_id % 11 = 0 THEN '999.1.2.3'
             ELSE (doc_id % 256)::varchar || '.' || ((doc_id*7) % 256)::varchar
                  || '.' || ((doc_id*13) % 256)::varchar || '.' || (doc_id % 200 + 1)::varchar
             END AS ip,
        CASE WHEN doc_id % 13 = 0 THEN 'zz:zz:zz:zz:zz:zz'
             ELSE substr(md5(doc_id::varchar),1,2) || ':' || substr(md5(doc_id::varchar),3,2)
                  || ':' || substr(md5(doc_id::varchar),5,2) || ':' || substr(md5(doc_id::varchar),7,2)
                  || ':' || substr(md5(doc_id::varchar),9,2) || ':' || substr(md5(doc_id::varchar),11,2)
             END AS mac,
        CASE WHEN doc_id % 17 = 0 THEN '!!notbase64!!'
             ELSE to_base64(source::BLOB) END AS b64
      FROM documents
    """
    checks = [
        ("email", "isEmail", RX["email"]),
        ("uuid", "isUUID4", RX["uuid4"]),
        ("ip", "isIPv4", RX["ipv4"]),
        ("mac", "isMAC", RX["mac"]),
        ("b64", "isBase64", RX["base64"]),
    ]
    parts = [
        f"SELECT '{col}' AS field, '{val}' AS validator, count(*)::bigint AS n "
        f"FROM d WHERE {col} IS NOT NULL AND {col} <> '' "
        f"AND NOT regexp_matches({col}, '{rx}')"
        for col, val, rx in checks
    ]
    return (
        "WITH d AS (" + derived + ") SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") WHERE n > 0"
    )


def _q59_sql() -> str:
    """Second format-family oracle: same discipline as _q31_sql — the
    engine's own RX literals (Java∩RE2 common dialect) replayed by
    DuckDB over identically-derived columns. isURL and hasWhitespace
    are not regex validators; their mirrors are exact ON THIS DATA
    (see _G2's docstring)."""
    from validate_spark.functions.validators import RX

    good = {
        "furl": "'https://sub' || (doc_id % 50)::varchar || '.example.org/p/' || doc_id::varchar",
        "cidr4": "(doc_id % 256)::varchar || '.10.20.0/' || (doc_id % 33)::varchar",
        "cidr6": "'2001:db8::/' || (doc_id % 129)::varchar",
        "isbn10c": "lpad(((doc_id * 7919) % 10000000000)::varchar, 10, '0')",
        "isbn13c": "lpad(((doc_id * 104729) % 10000000000000)::varchar, 13, '0')",
        "latc": "((doc_id % 179) - 89)::varchar || '.25'",
        "lonc": "((doc_id % 359) - 179)::varchar || '.5'",
        "dns": "'host' || doc_id::varchar || '.example.com'",
        "hexc": "'#' || substr(md5(doc_id::varchar), 1, 6)",
        "winp": "'C:\\docs\\f' || doc_id::varchar",
        "unixp": "'/var/data/' || doc_id::varchar",
        "rgb": "'rgb(' || (doc_id % 256)::varchar || ',10,20)'",
        "cn": "'1' || lpad(((doc_id * 31) % 10000000000)::varchar, 10, '0')",
        "pascii": "'plain text ' || doc_id::varchar",
        "mbyte": "'txt é ' || doc_id::varchar",
        "durl": "'data:image/png;base64,QUJD'",
        "urlc": "'https://e' || doc_id::varchar || '.net/x'",
        "haslo": "'Mixed Case'",
        "hasup": "'Mixed Case'",
        "hasws": "'has space ' || doc_id::varchar",
        "hexd": "substr(md5(doc_id::varchar), 1, 10)",
        "asciic": "'ok_' || doc_id::varchar",
    }
    bad = {
        "furl": "'notaurl'", "cidr4": "'300.1.2.3/24'",
        "cidr6": "'2001:zz8::/64'", "isbn10c": "'12345'",
        "isbn13c": "'nope'", "latc": "'95.5'", "lonc": "'181.0'",
        "dns": "'-bad.example.com'", "hexc": "'#12'",
        "winp": "'C:/fwd/slash'", "unixp": "'rel/path'",
        "rgb": "'rgb(300,0,0)'", "cn": "'21234567890'",
        "pascii": "'héllo'", "mbyte": "'ascii only'",
        "durl": "'data:text/plain,hello'", "urlc": "'no url'",
        "haslo": "'ALL UPPER 9'", "hasup": "'all lower 9'",
        "hasws": "'nospace' || doc_id::varchar", "hexd": "'xyz'",
        "asciic": "'añejo'",
    }
    rx_key = {
        "isFullURL": "full_url", "isCIDRv4": "cidr_v4",
        "isCIDRv6": "cidr_v6", "isISBN10": "isbn10",
        "isISBN13": "isbn13", "isLatitude": "latitude",
        "isLongitude": "longitude", "isDNSName": "dns_name",
        "isHexColor": "hex_color", "isWinPath": "win_path",
        "isUnixPath": "unix_path", "isRGBColor": "rgb_color",
        "isCnMobile": "cn_mobile", "isPrintableASCII": "printable_ascii",
        "isMultiByte": "multi_byte", "isDataURI": "data_uri",
        "hasLowerCase": "has_lower", "hasUpperCase": "has_upper",
        "isHexadecimal": "hexadecimal", "isASCII": "ascii",
    }
    derived = ",\n        ".join(
        f"CASE WHEN doc_id % {mod} = 0 THEN {bad[f]} ELSE {good[f]} END AS {f}"
        for f, _, _, mod in _G2
    )
    parts = []
    for f, _, val, _ in _G2:
        if val == "isURL":
            pred = (
                f"(regexp_matches({f}, '\\s') "
                f"OR NOT ({f} LIKE '/%' OR position('.' IN {f}) > 0))"
            )
        elif val == "hasWhitespace":
            pred = f"position(' ' IN {f}) = 0"
        else:
            pred = f"NOT regexp_matches({f}, '{RX[rx_key[val]]}')"
        parts.append(
            f"SELECT '{f}' AS field, '{val}' AS validator, count(*)::bigint AS n "
            f"FROM d WHERE {f} IS NOT NULL AND {f} <> '' AND {pred}"
        )
    return (
        "WITH d AS (SELECT doc_id,\n        " + derived + "\n  FROM documents) "
        "SELECT * FROM (" + " UNION ALL ".join(parts) + ") WHERE n > 0"
    )


_Q60_DERIVED = """
  SELECT event_id, event_type,
         coalesce(value, 0.0) AS v1,
         coalesce(value, 0.0) + CASE WHEN event_id % 3 = 0 THEN 0.0 ELSE 1.0 END AS v2,
         coalesce(value, 0.0) + CASE WHEN event_id % 4 = 0 THEN 0.0 ELSE 1.0 END AS v3,
         coalesce(value, 0.0) + CASE WHEN event_id % 5 = 0 THEN -2.0 ELSE 0.0 END AS hi,
         coalesce(value, 0.0) - CASE WHEN event_id % 6 = 0 THEN -3.0 ELSE 0.0 END AS lo2,
         coalesce(value, 0.0) + CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE 1.0 END AS hi2,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS s1,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE 'x' END AS s2,
         CASE WHEN event_id % 9 = 0 THEN NULL ELSE 'w' END AS w,
         CASE WHEN event_id % 14 = 0 THEN NULL ELSE 'z' END AS wo,
         CASE WHEN event_id % 2 = 0 THEN NULL ELSE 'q' END AS woa,
         event_type AS etype2,
         (event_id % 100) AS ic,
         CASE WHEN event_id % 23 = 0 THEN 'abc123'
              WHEN event_id % 2 = 0 THEN '12345' ELSE 'alphaonly' END AS oneof
  FROM events
"""

# (field, validator, violation predicate) — engine semantics: required
# family always evaluates; everything else skips empty values
_Q60_CHECKS = [
    ("v2", "eqField", "NOT (v2 = v1)"),
    ("v3", "neField", "NOT (v3 <> v1)"),
    ("hi", "gteField", "NOT (hi >= v1)"),
    ("lo2", "lteField", "NOT (lo2 <= v1)"),
    ("hi2", "gtField", "NOT (hi2 > v1)"),
    ("s2", "requiredUnless",
     "(s1 IS DISTINCT FROM 'purchase') AND (s2 IS NULL OR s2 = '')"),
    ("w", "requiredWithAll",
     "s1 IS NOT NULL AND s1 <> '' AND s2 IS NOT NULL AND s2 <> '' "
     "AND (w IS NULL OR w = '')"),
    ("wo", "requiredWithout",
     "(s1 IS NULL OR s1 = '') AND (wo IS NULL OR wo = '')"),
    ("woa", "requiredWithoutAll",
     "(s1 IS NULL OR s1 = '') AND (s2 IS NULL OR s2 = '') "
     "AND (woa IS NULL OR woa = '')"),
    ("event_type", "notEqual",
     "event_type IS NOT NULL AND event_type <> '' AND event_type = 'click'"),
    ("etype2", "isEqual",
     "etype2 IS NOT NULL AND etype2 <> '' AND etype2 <> 'purchase'"),
    ("ic", "intEqual", "ic IS NOT NULL AND ic <> 42"),
    ("oneof", "rule_one_of",
     "oneof IS NOT NULL AND oneof <> '' AND NOT ("
     "regexp_matches(oneof, '^[a-zA-Z]+$') OR regexp_matches(oneof, '^[0-9]+$'))"),
]


def _q60_sql() -> str:
    parts = [
        f"SELECT '{f}' AS field, '{v}' AS validator, count(*)::bigint AS n "
        f"FROM d WHERE {pred}"
        for f, v, pred in _Q60_CHECKS
    ]
    return (
        "WITH d AS (" + _Q60_DERIVED + ") SELECT * FROM ("
        + " UNION ALL ".join(parts) + ") WHERE n > 0"
    )


def _q28_sql() -> str:
    """Violation counts per (field, validator, message) — the message
    literals are rendered by the SAME compile-time renderer the engine
    uses, so templating is oracle-checked, not just assumed."""
    from validate_spark.plans.messages import render_message

    parts = []
    for key, field, validator in _RULE_ORDER:
        msg = render_message(validator, field, _RULE_ARGS[key]).replace("'", "''")
        parts.append(
            f"SELECT '{field}' AS field, '{validator}' AS validator, "
            f"'{msg}' AS message, count(*)::bigint AS n "
            f"FROM documents WHERE {_V[key]}"
        )
    return "SELECT * FROM (" + " UNION ALL ".join(parts) + ") WHERE n > 0"


def _q42_sql() -> str:
    parts = []
    for key, field, validator in _RULE_ORDER:
        parts.append(
            f"SELECT '{field}' AS field, '{validator}' AS validator, "
            f"sum(CASE WHEN {_V[key]} THEN 1 ELSE 0 END)::bigint AS n_fail, "
            f"sum(CASE WHEN {_V[key]} THEN 0 ELSE 1 END)::bigint AS n_pass "
            f"FROM documents"
        )
    return " UNION ALL ".join(parts)


def _q35_sql() -> str:
    """q28's message oracle with the zh-CN locale active."""
    from validate_spark.plans.messages import render_message

    parts = []
    for key, field, validator in _RULE_ORDER:
        msg = render_message(
            validator, field, _RULE_ARGS[key], locale="zh-CN"
        ).replace("'", "''")
        parts.append(
            f"SELECT '{field}' AS field, '{validator}' AS validator, "
            f"'{msg}' AS message, count(*)::bigint AS n "
            f"FROM documents WHERE {_V[key]}"
        )
    return "SELECT * FROM (" + " UNION ALL ".join(parts) + ") WHERE n > 0"


def _q88_sql() -> str:
    """Pattern-profile oracle: replay q88's modulus-cohort derived
    column, then classify with the SAME regex ladder in the SAME
    priority order as suggest.PATTERN_CLASSES (interpolated — one
    source of truth; the patterns are the Java∩RE2 common dialect so
    DuckDB's RE2 and Spark's Java regex agree, incl. the all-digit
    md5-fragment -> int_string tie-break)."""
    from validate_spark.operators.suggest import PATTERN_CLASSES

    ladder = " ".join(
        f"WHEN regexp_matches(v, '{rx}') THEN '{name}'"
        for name, rx in PATTERN_CLASSES
    )
    return f"""
        WITH d AS (
          SELECT CASE (doc_id % 9)
            WHEN 0 THEN (doc_id * 37)::VARCHAR
            WHEN 1 THEN '3.' || (doc_id % 100)::VARCHAR
            WHEN 2 THEN CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'no' END
            WHEN 3 THEN '2024-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
            WHEN 4 THEN substr(md5(doc_id::VARCHAR), 1, 8) || '-' ||
                        substr(md5(doc_id::VARCHAR), 9, 4) || '-' ||
                        substr(md5(doc_id::VARCHAR), 13, 4) || '-' ||
                        substr(md5(doc_id::VARCHAR), 17, 4) || '-' ||
                        substr(md5(doc_id::VARCHAR), 21, 12)
            WHEN 5 THEN 'u' || doc_id::VARCHAR || '@example.com'
            WHEN 6 THEN 'https://ex' || (doc_id % 50)::VARCHAR || '.org/p'
            WHEN 7 THEN NULL
            ELSE CASE (doc_id % 5)
              WHEN 0 THEN ''
              WHEN 1 THEN substr(md5(doc_id::VARCHAR), 1, 12)
              ELSE 'plain text ' || doc_id::VARCHAR END
          END AS v
          FROM documents
        ), c AS (
          SELECT CASE WHEN v IS NULL THEN 'null'
                      WHEN v = '' THEN 'empty'
                      {ladder}
                      ELSE 'other' END AS pattern_class
          FROM d
        ), per AS (
          SELECT pattern_class, count(*)::BIGINT AS n
          FROM c GROUP BY pattern_class
        ), t AS (
          SELECT sum(n)::BIGINT AS n_total FROM per
        )
        SELECT pattern_class, n, n_total,
               round(n / n_total, 6) AS share
        FROM per CROSS JOIN t
    """


def _q90_sql() -> str:
    """Encoding-signals oracle: replay the damage seeding via chr()
    codepoints (byte-exact — no raw mojibake literals in source), then
    count with the SAME \\x{..}-class regexes interpolated from
    textstats (one source of truth; Java regexp_count and RE2
    regexp_extract_all are both leftmost non-overlapping)."""
    from validate_spark.operators.textstats import (
        CTRL_RX,
        MOJIBAKE_RX,
        REPLACEMENT_RX,
    )

    moji = f"len(regexp_extract_all(v, '{MOJIBAKE_RX}'))::BIGINT"
    repl = f"len(regexp_extract_all(v, '{REPLACEMENT_RX}'))::BIGINT"
    ctrl = f"len(regexp_extract_all(v, '{CTRL_RX}'))::BIGINT"
    return f"""
        WITH s AS (
          SELECT doc_id,
                 CASE WHEN coalesce(doc_id, 0) % 17 = 0
                        THEN coalesce(text, '') || ' caf' || chr(195) || chr(169)
                      WHEN coalesce(doc_id, 0) % 19 = 0
                        THEN coalesce(text, '') || ' it' || chr(226) || chr(8364)
                             || chr(8482) || 's'
                      WHEN coalesce(doc_id, 0) % 23 = 0
                        THEN coalesce(text, '') || ' x' || chr(65533)
                      WHEN coalesce(doc_id, 0) % 29 = 0
                        THEN coalesce(text, '') || ' b' || chr(7) || chr(7)
                      ELSE coalesce(text, '') END AS v
          FROM documents
        )
        SELECT doc_id,
               {moji} AS n_mojibake,
               {repl} AS n_replacement,
               {ctrl} AS n_ctrl,
               ({moji} > 0 OR {repl} > 0 OR {ctrl} > 0) AS damaged
        FROM s
    """


def _q97_sql() -> str:
    """Correlation oracle: HUGEINT co-moment sums (exact, matching the
    engine's decimal(38,0) accumulation on integral inputs), then the
    SAME double formula in the SAME literal order — bit-identical corr
    before the round-6."""
    pairs = [
        ("n_chars", "text_len"),
        ("n_chars", "id_mod"),
        ("text_len", "id_mod"),
    ]
    parts = []
    for a, b in pairs:
        parts.append(f"""
          SELECT '{a}' AS col_x, '{b}' AS col_y, n,
                 CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                       AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                      THEN round(
                        (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                        / sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        / sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE), 6)
                      ELSE NULL END AS corr
          FROM (
            SELECT count(*) FILTER ({a} IS NOT NULL AND {b} IS NOT NULL)::BIGINT AS n,
                   coalesce(sum({a}::HUGEINT) FILTER ({a} IS NOT NULL AND {b} IS NOT NULL), 0) AS sx,
                   coalesce(sum({b}::HUGEINT) FILTER ({a} IS NOT NULL AND {b} IS NOT NULL), 0) AS sy,
                   coalesce(sum({a}::HUGEINT * {a}::HUGEINT) FILTER ({a} IS NOT NULL AND {b} IS NOT NULL), 0) AS sxx,
                   coalesce(sum({b}::HUGEINT * {b}::HUGEINT) FILTER ({a} IS NOT NULL AND {b} IS NOT NULL), 0) AS syy,
                   coalesce(sum({a}::HUGEINT * {b}::HUGEINT) FILTER ({a} IS NOT NULL AND {b} IS NOT NULL), 0) AS sxy
            FROM f
          )""")
    return (
        """
        WITH f AS (
          SELECT n_chars,
                 length(text)::BIGINT AS text_len,
                 (coalesce(doc_id, 0) % 97)::BIGINT AS id_mod
          FROM documents
        )
        """
        + " UNION ALL ".join(parts)
    )


# Shared CTE prefix replaying olap.derived_partsupp's arithmetic
# partsupp (spec-4.2.3-in-kind derivation; all-integer, so DuckDB
# matches Spark bit-for-bit). Spliced into the q169/q171/q172/q174/
# q175 oracles — each continues the WITH chain after it.
_PS_SQL = """
            WITH nn AS (SELECT count(*)::bigint AS n FROM supplier),
            ps0 AS (
              SELECT p_partkey::bigint AS ps_partkey,
                     (p_partkey + i.i * (nn.n // 4 + 1)) % nn.n AS ps_suppkey
              FROM part, nn, (VALUES (0),(1),(2),(3)) AS i(i)
            ),
            ps AS (
              SELECT ps_partkey, ps_suppkey,
                     (ps_partkey * 7 + ps_suppkey * 3) % 9999 + 1
                       AS ps_availqty,
                     (ps_partkey * 131 + ps_suppkey * 17) % 90000 + 10000
                       AS ps_supplycost_c
              FROM ps0
            )"""


def oracle_sql() -> dict[str, str]:
    first_field = "CASE " + " ".join(
        f"WHEN {_V[k]} THEN '{f}'" for k, f, _ in _RULE_ORDER
    ) + " END"
    first_validator = "CASE " + " ".join(
        f"WHEN {_V[k]} THEN '{v}'" for k, _, v in _RULE_ORDER
    ) + " END"
    any_viol = " OR ".join(_V.values())
    viol_counts = " UNION ALL ".join(
        f"SELECT '{f}' AS field, '{v}' AS validator, count(*)::bigint AS n "
        f"FROM documents WHERE {_V[k]}"
        for k, f, v in _RULE_ORDER
    )

    return {
        "q01_verdicts_documents": f"""
            SELECT ({_PASS}) AS pass, count(*)::bigint AS n
            FROM documents GROUP BY 1
        """,
        "q02_violations_by_rule": f"""
            SELECT * FROM ({viol_counts}) WHERE n > 0
        """,
        "q03_first_errors": f"""
            SELECT doc_id, {first_field} AS field, {first_validator} AS validator
            FROM documents WHERE {any_viol}
        """,
        "q04_filtered_safe_rows": """
            SELECT doc_id, upper(trim(lang)) AS lang FROM documents
            WHERE lang IS NOT NULL AND trim(lang) <> ''
              AND upper(trim(lang)) IN ('EN','DE','FR','ES')
        """,
        "q05_cross_field_events": """
            SELECT (value IS NOT NULL AND user_id IS NOT NULL AND value < user_id) AS pass,
                   count(*)::bigint AS n
            FROM events GROUP BY 1
        """,
        "q06_column_stats": _stats_union(),
        "q07_duplicate_keys": """
            SELECT user_id, event_type, count(*)::bigint AS dup_count
            FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            GROUP BY user_id, event_type HAVING count(*) > 1
        """,
        "q08_uniqueness_report": """
            WITH d AS (
              SELECT doc_id, count(*) AS c FROM documents
              WHERE doc_id IS NOT NULL GROUP BY doc_id
            )
            SELECT (SELECT count(*) FROM documents)::bigint AS n_rows,
                   (SELECT count(DISTINCT doc_id) FROM documents)::bigint AS n_keys,
                   (SELECT count(*) FROM d WHERE c > 1)::bigint AS n_dup_keys,
                   (SELECT coalesce(sum(c), 0) FROM d WHERE c > 1)::bigint AS n_dup_rows
        """,
        "q09_ref_integrity": """
            SELECT (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL)::bigint AS n_refs,
                   (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
                   )::bigint AS n_dangling
        """,
        "q10_length_histogram": """
            SELECT least(floor(length(text) / 50), 63)::int AS bucket,
                   count(*)::bigint AS cnt
            FROM documents GROUP BY 1
        """,
        "q11_drift_histograms": """
            WITH h AS (
              SELECT greatest(0, least(24, floor((value - 0.0) / 20.0)))::int AS bucket,
                     count(*) FILTER (event_id % 2 = 0)::bigint AS cnt_even,
                     count(*) FILTER (event_id % 2 = 1)::bigint AS cnt_odd
              FROM events WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT bucket, cnt_even, cnt_odd FROM h
        """,
        "q12_text_annotate": f"""
            WITH s AS (SELECT doc_id, text, {_SCORES} FROM documents)
            SELECT doc_id, {_LANG_PRED} AS lang_pred,
                   ({_NTOK})::int AS n_tokens_ws,
                   ({_NBPE})::int AS n_tokens_bpe,
                   {_QUALITY} AS quality,
                   {_FP} AS fp
            FROM s
        """,
        "q62_langid_cjk": f"""
            WITH d AS (
              SELECT CASE WHEN doc_id % 5 = 0 THEN '{_CJK["zh"]}'
                          WHEN doc_id % 5 = 1 THEN '{_CJK["ja"]}'
                          WHEN doc_id % 5 = 2 THEN '{_CJK["ko"]}'
                          WHEN doc_id % 5 = 3 THEN '{_CJK["ru"]}'
                          ELSE text END AS text
              FROM documents
            ), s AS (SELECT {_SCORES} FROM d)
            SELECT {_LANG_PRED} AS lang_pred, count(*)::bigint AS n
            FROM s GROUP BY 1
        """,
        "q13_lang_distribution": f"""
            WITH s AS (SELECT text, {_SCORES} FROM documents)
            SELECT {_LANG_PRED} AS lang_pred, count(*)::bigint AS n
            FROM s GROUP BY 1
        """,
        "q14_token_totals": f"""
            SELECT sum(({_NTOK})::bigint)::bigint AS sum_tokens_ws,
                   sum(({_NBPE})::bigint)::bigint AS sum_tokens_bpe,
                   round(avg({_QUALITY}), 4) AS avg_quality
            FROM documents
        """,
        "q15_exact_dedup": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, {_FP} AS fp FROM ({_DOUBLED_DOCS})
            ), g AS (
              SELECT fp, count(*)::bigint AS dup_count,
                     -- NULL keys never enter the sample (Spark's
                     -- collect_list drops them; keep_key degrades NULL)
                     list_sort(list(k) FILTER (WHERE k IS NOT NULL)) AS ks
              FROM c GROUP BY fp HAVING count(*) > 1
            )
            SELECT fp, dup_count, ks[1] AS keep_key,
                   array_to_string(list_filter(ks, x -> x <> ks[1])[1:100], ',')
                     AS dup_keys,
                   greatest(dup_count - 1
                            - len(list_filter(ks, x -> x <> ks[1])[1:100]),
                            0)::bigint AS n_truncated
            FROM g
        """,
        # exhaustive O(n²) exact-Jaccard oracle — the Spark side is LSH
        # candidates + exact verify; at j≥0.99 with 6 bands × 2 rows the
        # band-match probability is 1-(1-0.99²)⁶ ≈ 1-6e-11, and the
        # seeded hash family is deterministic, so the sets coincide
        "q16_minhash_lsh_dedup": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t FROM ({_DOUBLED_DOCS})
            ), s AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM c WHERE length(t) > 0
            )
            SELECT x.k AS a, y.k AS b
            FROM s x JOIN s y ON x.k < y.k
            WHERE round(len(list_intersect(x.sh, y.sh))::double
                        / len(list_distinct(x.sh || y.sh))::double, 6) >= 0.99
        """,
        "q47_request_log": """
            SELECT '_req.seg' AS field, 'enum' AS validator,
                   count(*)::bigint AS n
            FROM customer
            WHERE c_mktsegment IS NOT NULL AND c_mktsegment <> ''
              AND c_mktsegment NOT IN
                  ('BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD')
        """,
        "q46_default_substitution": """
            WITH d AS (
              SELECT CASE WHEN value > 250 THEN event_type END AS raw
              FROM events
            ), s AS (
              SELECT (raw IS NULL OR raw = '') AS defaulted,
                     CASE WHEN raw IS NULL OR raw = ''
                          THEN 'unk' ELSE raw END AS etype
              FROM d
            )
            SELECT etype, count(*)::bigint AS n FROM s
            WHERE defaulted OR (length(etype) BETWEEN 5 AND 9)
            GROUP BY etype
        """,
        "q45_rule_suggestions": """
            WITH p AS (
              SELECT
                sum((c_custkey IS NULL)::int) AS k_null,
                min(c_custkey) AS k_min, max(c_custkey) AS k_max,
                sum((c_nationkey IS NULL)::int) AS nk_null,
                min(c_nationkey) AS nk_min, max(c_nationkey) AS nk_max,
                sum((c_name IS NULL)::int + (c_name = '')::int) AS n_empty,
                count(DISTINCT c_name) AS n_dist,
                min(strlen(c_name)) AS n_minlen, max(strlen(c_name)) AS n_maxlen,
                sum((c_mktsegment IS NULL)::int + (c_mktsegment = '')::int)
                  AS m_empty,
                count(DISTINCT c_mktsegment) AS m_dist
              FROM customer
            ), ev AS (
              SELECT string_agg(v, ',' ORDER BY v) AS vals FROM (
                SELECT DISTINCT c_mktsegment AS v FROM customer
                WHERE c_mktsegment IS NOT NULL
              )
            )
            SELECT 'c_custkey' AS field,
                   (CASE WHEN k_null = 0 THEN 'required|' ELSE '' END)
                   || 'min:' || k_min || '|max:' || k_max AS rule FROM p
            UNION ALL
            SELECT 'c_mktsegment',
                   (CASE WHEN m_empty = 0 THEN 'required|' ELSE '' END)
                   || 'enum:' || (SELECT vals FROM ev) FROM p
            UNION ALL
            SELECT 'c_name',
                   (CASE WHEN n_empty = 0 THEN 'required|' ELSE '' END)
                   || 'minLength:' || n_minlen || '|maxLength:' || n_maxlen
            FROM p
            UNION ALL
            SELECT 'c_nationkey',
                   (CASE WHEN nk_null = 0 THEN 'required|' ELSE '' END)
                   || 'min:' || nk_min || '|max:' || nk_max FROM p
        """,
        # q44: exhaustive exact token-3-gram Jaccard — the Spark side is
        # the prefix-filtered AllPairs join; matching this oracle proves
        # the prefix buckets have full recall at the threshold
        "q44_ngram_jaccard": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t FROM ({_DOUBLED_DOCS})
            ), tk AS (
              SELECT k, regexp_split_to_array(t, ' ') AS w
              FROM c WHERE length(t) > 0
            ), g AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS grams
              FROM tk
            ), p AS (
              SELECT x.k AS a, y.k AS b,
                     round(len(list_intersect(x.grams, y.grams))::double
                           / len(list_distinct(x.grams || y.grams))::double,
                           6) AS jaccard
              FROM g x JOIN g y ON x.k < y.k
            )
            SELECT a, b, jaccard FROM p WHERE jaccard >= 0.9
        """,
        # q17: the SimHash is md5-token-vote math, so DuckDB recomputes
        # every 64-bit signature exactly (bit j = majority over tokens of
        # bit j of md5(token)[:8], MSB-first within bytes — mirrors
        # np.unpackbits) and takes ALL signature-equal pairs exhaustively;
        # the Spark side must find the same pairs through its pigeonhole
        # chunk buckets (full recall at hamming 0)
        "q17_simhash_dedup": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, lower(coalesce(text, '')) AS t
              FROM ({_DOUBLED_DOCS})
            ), tok AS (
              SELECT k, unnest(list_filter(regexp_split_to_array(t, '\\s+'),
                                           x -> x <> '')) AS tok
              FROM c
            ), bits AS (
              SELECT k, md5(tok) AS h FROM tok
            ), votes AS (
              SELECT k, j,
                     sum((CAST('0x' || substr(h, (j // 8) * 2 + 1, 2) AS INT)
                          >> (7 - j % 8)) & 1) AS ones,
                     count(*) AS n
              FROM bits CROSS JOIN generate_series(0, 63) AS g(j)
              GROUP BY k, j
            ), sig AS (
              SELECT k, list(CASE WHEN ones * 2 > n THEN 1 ELSE 0 END
                             ORDER BY j) AS s
              FROM votes GROUP BY k
              UNION ALL
              SELECT k, list_transform(generate_series(0, 63), x -> 0) AS s
              FROM c WHERE len(list_filter(regexp_split_to_array(t, '\\s+'),
                                           x -> x <> '')) = 0
            )
            SELECT x.k AS a, y.k AS b
            FROM sig x JOIN sig y ON x.k < y.k AND x.s = y.s
        """,
        "q18_embedding_neardup": f"""
            WITH e AS ({_DOUBLED_EMB})
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM e x JOIN e y ON x.vec_id < y.vec_id
            WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99
        """,
        "q24_events_kitchen_sink": """
            WITH e AS (
              SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
                     event_type, value, props, user_id::varchar AS uid_str
              FROM events
            ), v AS (
              SELECT 'ts_str' AS field, 'beforeDate' AS validator, count(*)::bigint AS n
                FROM e WHERE ts_str IS NOT NULL AND ts_str <> ''
                         AND NOT (ts_str::timestamp < TIMESTAMP '2024-01-15')
              UNION ALL
              SELECT 'event_type', 'stringLength', count(*)::bigint
                FROM e WHERE event_type IS NOT NULL AND event_type <> ''
                         AND NOT (length(event_type) BETWEEN 5 AND 8)
              UNION ALL
              SELECT 'event_type', 'notIn', count(*)::bigint
                FROM e WHERE event_type IS NOT NULL AND event_type <> ''
                         AND event_type IN ('purchase')
              UNION ALL
              SELECT 'value', 'between', count(*)::bigint
                FROM e WHERE value IS NOT NULL AND NOT (value >= 0 AND value <= 400)
              UNION ALL
              SELECT 'props', 'contains', count(*)::bigint
                FROM e WHERE props IS NOT NULL AND props <> ''
                         AND strpos(props, '9') = 0
              UNION ALL
              SELECT 'props', 'isJSON', count(*)::bigint
                FROM e WHERE props IS NOT NULL AND props <> ''
                         AND NOT (left(ltrim(props), 1) IN ('{', '[') AND json_valid(props))
              UNION ALL
              SELECT 'uid_str', 'maxLength', count(*)::bigint
                FROM e WHERE uid_str IS NOT NULL AND uid_str <> ''
                         AND strlen(uid_str) > 3
            )
            SELECT * FROM v WHERE n > 0
        """,
        "q25_filter_chain_safe": """
            WITH f AS (
              SELECT c_custkey,
                     upper(substr(lower(trim(c_mktsegment)), 1, 1))
                       || substr(lower(trim(c_mktsegment)), 2) AS c_mktsegment
              FROM customer
            )
            SELECT c_custkey, c_mktsegment FROM f
            WHERE c_mktsegment IS NOT NULL AND c_mktsegment <> ''
              AND regexp_matches(c_mktsegment, '^[a-zA-Z]+$')
              AND length(c_mktsegment) BETWEEN 5 AND 9
        """,
        "q19_ann_brute_force": _ANN_TOPK,
        "q20_ann_ivf_full_probe": _ANN_TOPK,
        "q21_media_metadata": _MEDIA_META,
        # q22: the decode STUB is deterministic md5 math (per-byte mean/
        # std of magic-prefix + unhexed md5 payload), so DuckDB rebuilds
        # the identical byte list and aggregates it — the mapInPandas
        # plumbing (Arrow batches, schema, astype) is what's under test
        "q22_media_features": """
            WITH h AS (
              SELECT doc_id::varchar AS k,
                     md5(doc_id::varchar) AS h1,
                     md5(doc_id::varchar || ':2') AS h2,
                     md5(doc_id::varchar || ':3') AS h3
              FROM documents
            ), b AS (
              SELECT k,
                     (strpos('0123456789abcdef', substr(h1, 1, 1)) - 1) % 3
                       AS kind,
                     h1 || h2 || h3 AS hx
              FROM h
            ), e AS (
              SELECT k,
                     CASE kind WHEN 0 THEN 'image/jpeg'
                               WHEN 1 THEN 'image/png'
                               ELSE 'audio/wav' END AS mime,
                     (CASE kind WHEN 0 THEN [255, 216, 255]
                                WHEN 1 THEN [137, 80, 78, 71, 13, 10, 26, 10]
                                ELSE [82, 73, 70, 70] END
                      || list_transform(generate_series(1, 48),
                           i -> CAST('0x' || substr(hx, 2*i - 1, 2) AS INT)))
                       AS bytes
              FROM b
            )
            SELECT k AS doc_id, mime,
                   len(bytes)::int AS n_bytes,
                   round(list_aggregate(bytes, 'avg'), 6) AS feat_mean,
                   round(sqrt(list_aggregate(
                       list_transform(bytes,
                         x -> (x - list_aggregate(bytes, 'avg'))
                              * (x - list_aggregate(bytes, 'avg'))),
                       'avg')), 6) AS feat_std,
                   greatest(1, len(bytes) // 16)::int AS n_frames
            FROM e
        """,
        # flagship: the interleaved table is built from the documents
        # view by pure modulus cohorts (_interleaved_from_documents), so
        # each rule's violation count is a direct cohort count. Engine
        # semantics mirrored: NULL/empty spans fail `required` on both
        # `spans` and the wildcard `spans.*.kind` (empty parent fails a
        # required wildcard, validating.go:497-516); non-required
        # wildcard rules PASS on an empty parent; '' kinds skip enum;
        # `spans` minLength:1 never fires (empty arrays skip via
        # SkipOnEmpty) so it has no row; NULL doc_id skips minLength.
        "q23_spans_validation": """
            WITH f AS (
              SELECT coalesce(doc_id, 9) AS d FROM documents
            ), c AS (
              SELECT (d % 19 = 0) AS did_null,
                     (d % 19 = 1) AS did_short,
                     (d % 13 = 0 OR d % 13 = 1) AS sp_empty,
                     (d % 23 = 3) AS kind_empty,
                     (d % 5 = 2)  AS kind_bad,
                     (d % 11 = 4) AS off_neg,
                     (d % 7 = 0)  AS ref_bad
              FROM f
            )
            SELECT * FROM (
              SELECT 'doc_id' AS field, 'required' AS validator,
                     count_if(did_null)::bigint AS n FROM c
              UNION ALL SELECT 'doc_id', 'minLength',
                     count_if(did_short)::bigint FROM c
              UNION ALL SELECT 'spans', 'required',
                     count_if(sp_empty)::bigint FROM c
              UNION ALL SELECT 'spans.*.kind', 'required',
                     count_if(sp_empty OR kind_empty)::bigint FROM c
              UNION ALL SELECT 'spans.*.kind', 'enum',
                     count_if(kind_bad AND NOT sp_empty)::bigint FROM c
              UNION ALL SELECT 'spans.*.offset', 'min',
                     count_if(off_neg AND NOT sp_empty)::bigint FROM c
              UNION ALL SELECT 'spans.*.media_ref', 'regexp',
                     count_if(ref_bad AND NOT sp_empty)::bigint FROM c
            ) WHERE n > 0 ORDER BY field, validator
        """,
        # connected components of the exact near-dup graph via recursive
        # transitive closure; cluster = min reachable member (string min,
        # same collation both engines)
        "q26_dedup_clusters": f"""
            WITH RECURSIVE c AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t FROM ({_DOUBLED_DOCS})
            ), s AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM c WHERE length(t) > 0
            ), e AS (
              SELECT x.k AS u, y.k AS v
              FROM s x JOIN s y ON x.k < y.k
              WHERE round(len(list_intersect(x.sh, y.sh))::double
                          / len(list_distinct(x.sh || y.sh))::double, 6) >= 0.99
            ), adj AS (
              SELECT u, v FROM e UNION SELECT v, u FROM e
            ), reach(node, r) AS (
              SELECT u, u FROM adj
              UNION
              SELECT a.v, reach.r FROM reach JOIN adj a ON a.u = reach.node
            )
            SELECT node AS member, min(r) AS cluster FROM reach GROUP BY node
        """,
        # repetition signals: whitespace tokens, list-distinct gram
        # fractions, left-fold mean word length — round(6) both engines
        "q53_repetition_signals": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS w,
                     (trim(coalesce(text, '')) = '') AS is_empty
              FROM documents
            ), n AS (
              SELECT doc_id, w,
                     CASE WHEN is_empty THEN 0 ELSE len(w) END AS n
              FROM t
            ), g AS (
              SELECT doc_id, w, n,
                     CASE WHEN n >= 3 THEN list_transform(
                       generate_series(1, n - 1),
                       i -> array_to_string(w[i:i+1], ' ')) END AS bg,
                     CASE WHEN n >= 4 THEN list_transform(
                       generate_series(1, n - 2),
                       i -> array_to_string(w[i:i+2], ' ')) END AS tg
              FROM n
            )
            SELECT doc_id,
                   n::int AS n_tokens,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     round(len(list_distinct(w))::double / n, 6) END
                     AS type_token_ratio,
                   CASE WHEN n < 3 THEN 0.0 ELSE
                     round(1.0 - len(list_distinct(bg))::double / len(bg), 6)
                     END AS dup_bigram_frac,
                   CASE WHEN n < 4 THEN 0.0 ELSE
                     round(1.0 - len(list_distinct(tg))::double / len(tg), 6)
                     END AS dup_trigram_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     round(list_aggregate(list_transform(w,
                       x -> length(x)::double), 'sum') / n, 6) END
                     AS mean_word_len,
                   (CASE WHEN n < 4 THEN 0.0 ELSE
                     round(1.0 - len(list_distinct(tg))::double / len(tg), 6)
                     END >= 0.1) AS repetitive
            FROM g
        """,
        # contamination screen: rebuild the word-3-gram machinery (same
        # as q44), take the union of the doc_id%37==0 subset's grams,
        # and recompute per-doc hit counts/overlap
        "q49_decontamination": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, doc_id AS d, {_NORM} AS t
              FROM documents
            ), tk AS (
              SELECT k, d, regexp_split_to_array(t, ' ') AS w
              FROM c WHERE length(t) > 0
            ), g AS (
              SELECT k, d, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS grams
              FROM tk
            ), bg AS (
              SELECT DISTINCT unnest(grams) AS bgram FROM g WHERE d % 37 = 0
            ), x AS (
              SELECT k, len(grams) AS n_grams, unnest(grams) AS gg FROM g
            ), hit AS (
              SELECT k, n_grams,
                     sum(CASE WHEN gg IN (SELECT bgram FROM bg)
                              THEN 1 ELSE 0 END) AS n_hit
              FROM x GROUP BY k, n_grams
            )
            SELECT k, n_grams::int AS n_grams, n_hit::bigint AS n_hit,
                   round(n_hit::double / n_grams::double, 6) AS overlap,
                   (round(n_hit::double / n_grams::double, 6) >= 0.5)
                     AS contaminated
            FROM hit
        """,
        "q50_pii_scrub": """
            SELECT c_custkey,
                   regexp_replace(regexp_replace(regexp_replace(
                     'contact ' || coalesce(c_name, '') || ' at user'
                       || c_custkey::varchar
                       || '@example.com or https://ex.com/u/'
                       || c_custkey::varchar
                       || ' tel +1 (555) 010-'
                       || lpad((c_custkey % 10000)::varchar, 4, '0'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '[EMAIL]', 'g'),
                     'https?://[^\\s]+', '[URL]', 'g'),
                     '\\+?[0-9]([()\\- ]{0,2}[0-9]){6,14}', '[PHONE]', 'g')
                     AS note,
                   TRUE AS pass
            FROM customer
        """,
        # md5 sampling gate — the hash-portability rule makes the exact
        # selection reproducible outside Spark
        "q51_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST('0x' || substr(md5(coalesce(doc_id::varchar, '')
                                          || chr(31) || '7'), 1, 8)
                       AS BIGINT) % 1000000
                  < CASE lang WHEN 'en' THEN 250000
                              WHEN 'de' THEN 500000
                              WHEN 'zh' THEN 1000000
                              ELSE 0 END
        """,
        # embedding quality: rebuild the damaged vectors with list ops,
        # then evaluate each vector rule generically (skip-on-empty:
        # non-required rules see only non-NULL vectors). The L2 norm is
        # a left fold over double-cast elements in BOTH engines, and NaN
        # sorts above every number in both, so the range check agrees
        "q52_embedding_quality": """
            WITH e2 AS (
              SELECT vec_id,
                     CASE WHEN vec_id % 17 = 0 THEN NULL
                          WHEN vec_id % 13 = 0 THEN embedding[1:32]
                          WHEN vec_id % 11 = 0 THEN embedding[1:63] || ['nan'::FLOAT]
                          WHEN vec_id % 9 = 0 THEN list_transform(embedding, x -> (x * 2)::FLOAT)
                          ELSE embedding END AS v
              FROM embeddings
            ), p AS (
              SELECT vec_id, v,
                     (v IS NULL) AS v_null,
                     (v IS NOT NULL AND len(v) <> 64) AS bad_dim,
                     (v IS NOT NULL AND len(list_filter(v,
                        x -> x IS NULL OR isnan(x) OR isinf(x))) > 0) AS bad_finite,
                     (v IS NOT NULL AND NOT (
                        round(sqrt(list_aggregate(list_transform(v,
                          x -> (x::DOUBLE) * (x::DOUBLE)), 'sum')), 6)
                          BETWEEN 0.9 AND 1.1)) AS bad_norm
              FROM e2
            )
            SELECT * FROM (
              SELECT 'embedding' AS field, 'required' AS validator,
                     count_if(v_null)::bigint AS n FROM p
              UNION ALL SELECT 'embedding', 'arrayDim',
                     count_if(bad_dim)::bigint FROM p
              UNION ALL SELECT 'embedding', 'allFinite',
                     count_if(bad_finite)::bigint FROM p
              UNION ALL SELECT 'embedding', 'l2NormBetween',
                     count_if(bad_norm)::bigint FROM p
            ) WHERE n > 0
        """,
        # streaming manifest rollup: totals are micro-batch-boundary-
        # independent, so DuckDB recomputes them straight off the table;
        # n_batches pins the deterministic 4-file split
        "q48_streaming_manifest": f"""
            SELECT 4::bigint AS n_batches,
                   count(*)::bigint AS n_rows,
                   sum(({_PASS})::int)::bigint AS n_pass,
                   sum((NOT ({_PASS}))::int)::bigint AS n_fail,
                   sum({_NVIOL})::bigint AS n_violations,
                   (sum((NOT ({_PASS}))::int) = 0) AS all_pass
            FROM documents
        """,
        # instance-overlay custom validator: required fails on NULL;
        # the overlay divBy:3 skips NULL (non-required skip gate) and
        # fails non-multiples
        "q58_instance_overlay_validation": """
            SELECT * FROM (
              SELECT 'user_id' AS field, 'required' AS validator,
                     count_if(user_id IS NULL)::bigint AS n FROM events
              UNION ALL SELECT 'user_id', 'divBy',
                     count_if(user_id IS NOT NULL AND user_id % 3 <> 0)::bigint
              FROM events
            ) WHERE n > 0
        """,
        "q63_global_custom_validator": """
            WITH d AS (
              SELECT CASE WHEN event_id % 13 = 0 THEN 0.0 ELSE value END AS v,
                     CASE WHEN event_id % 5 = 0 THEN 'sessX'
                          ELSE 'sess' || (event_id % 7)::varchar END AS sid
              FROM events
            )
            SELECT * FROM (
              SELECT 'v' AS field, 'required' AS validator,
                     count_if(v IS NULL OR v = 0)::bigint AS n FROM d
              UNION ALL
              SELECT 'sid', 'endsWithDigit',
                     count_if(sid IS NOT NULL AND sid <> ''
                              AND NOT regexp_matches(sid, '[0-9]$'))::bigint
              FROM d
            ) WHERE n > 0
        """,
        "q64_custom_type_extractor": """
            WITH d AS (
              SELECT value AS amount,
                     CASE WHEN event_id % 11 = 0 THEN '' ELSE 'USD' END AS cur
              FROM events
            ), e AS (
              SELECT CASE WHEN cur = '' THEN NULL ELSE amount END AS ev FROM d
            )
            SELECT * FROM (
              SELECT 'price' AS field, 'required' AS validator,
                     count_if(ev IS NULL)::bigint AS n FROM e
              UNION ALL
              SELECT 'price', 'min', count_if(ev IS NOT NULL AND ev < 10)::bigint
              FROM e
            ) WHERE n > 0
        """,
        "q65_weighted_mix": """
            WITH d AS (
              SELECT doc_id, lang,
                     CAST('0x' || substr(md5(coalesce(doc_id::varchar, '')
                                             || chr(31) || '7'), 1, 8)
                          AS BIGINT) % 1000000 AS g
              FROM documents
            ), n AS (
              SELECT doc_id, lang,
                     CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2
                               WHEN 'zh' THEN 1 ELSE 0 END
                     + CASE WHEN g < CASE lang WHEN 'en' THEN 400000
                                               WHEN 'de' THEN 500000
                                               ELSE 0 END
                            THEN 1 ELSE 0 END AS n
              FROM d
            )
            SELECT doc_id, lang,
                   unnest(generate_series(1, n))::bigint AS mix_copy
            FROM n WHERE n >= 1
        """,
        "q66_url_blocklist": """
            WITH d AS (
              SELECT doc_id,
                     coalesce(text,'') ||
                     CASE WHEN doc_id % 7 = 0
                            THEN ' see https://spam.example.com/x?y=1'
                          WHEN doc_id % 11 = 0
                            THEN ' via http://Tracker.example.org:8080/p'
                          WHEN doc_id % 13 = 0
                            THEN ' ok https://fine.example.net/z'
                          ELSE '' END AS text
              FROM documents
            ), u AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(coalesce(text,''),
                                               'https?://[^/\s]+')) AS url
              FROM d
            ), doms AS (
              SELECT DISTINCT doc_id,
                     regexp_replace(lower(regexp_replace(url, '^https?://', '')),
                                    ':[0-9]+$', '') AS dom
              FROM u
            ), hits AS (
              SELECT doc_id, dom FROM doms
              WHERE dom IN ('spam.example.com', 'tracker.example.org',
                            'unused.example.io')
            )
            SELECT doc_id::varchar AS doc_id, list_sort(list(dom)) AS hits,
                   count(DISTINCT dom)::bigint AS n_hits
            FROM hits GROUP BY doc_id
        """,
        "q67_sequence_packing": f"""
            WITH d AS (
              SELECT doc_id,
                     ({_NTOK})::bigint AS n_tokens,
                     md5(coalesce(doc_id::varchar, '') || chr(31) || '7') AS h
              FROM documents
            ), s AS (
              SELECT doc_id, n_tokens,
                     CAST('0x' || substr(h, 1, 8) AS BIGINT) % 16 AS stream, h
              FROM d
            )
            SELECT doc_id, n_tokens, stream,
                   CAST(floor((sum(n_tokens) OVER (
                          PARTITION BY stream ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / 512) AS BIGINT) AS chunk_id
            FROM s
        """,
        "q68_unigram_quality": f"""
            WITH bg AS (
              SELECT {_NORM} AS t FROM documents WHERE doc_id % 2 = 0
            ), btok AS (
              SELECT unnest(regexp_split_to_array(t, ' ')) AS token
              FROM bg WHERE length(t) > 0
            ), vocab AS (
              SELECT token, count(*)::bigint AS cnt FROM btok
              GROUP BY token HAVING count(*) >= 3
              ORDER BY cnt DESC, token LIMIT 250000
            ), vs AS (
              SELECT sum(cnt)::double AS total, count(*)::double AS v
              FROM vocab
            ), ctok AS (
              SELECT doc_id, unnest(regexp_split_to_array({_NORM}, ' ')) AS token
              FROM documents WHERE length({_NORM}) > 0
            ), probed AS (
              SELECT c.doc_id,
                     (vocab.cnt IS NULL)::int AS oov,
                     ln((coalesce(vocab.cnt, 0)::double + 0.5)
                        / (vs.total + 0.5 * vs.v)) AS logp
              FROM ctok c LEFT JOIN vocab ON c.token = vocab.token
              CROSS JOIN vs
            )
            SELECT doc_id::varchar AS doc_id, count(*)::bigint AS n_tok,
                   round(avg(oov), 6) AS oov_rate,
                   round(avg(logp), 6) AS mean_logp
            FROM probed GROUP BY doc_id
        """,
        # line-level boilerplate dedup: split → doc-frequency on the
        # md5(trim(line)) key → drop lines in >=10 distinct docs →
        # positional string_agg rejoin (Spark side: array_sort +
        # concat_ws over the kept-struct collect)
        "q69_line_dedup": """
            WITH base AS (
              SELECT doc_id,
                concat_ws(chr(10),
                  regexp_replace(coalesce(text, ''), '\\. ',
                                 '.' || chr(10), 'g'),
                  CASE WHEN doc_id % 2 = 0
                       THEN 'All rights reserved. Copyright Example Corp.' END,
                  CASE WHEN doc_id % 3 = 0
                       THEN 'Subscribe to our newsletter for updates!' END,
                  CASE WHEN doc_id % 7 = 0
                       THEN 'Cookie policy: we use cookies on this site.' END
                ) AS t2
              FROM documents
            ), lines AS (
              SELECT doc_id,
                     unnest(string_split(t2, chr(10))) AS line,
                     generate_subscripts(string_split(t2, chr(10)), 1) AS pos
              FROM base
            ), boiler AS (
              SELECT md5(trim(line)) AS lk
              FROM lines WHERE length(trim(line)) >= 10
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10
            ), marked AS (
              SELECT l.doc_id, l.line, l.pos,
                CASE WHEN length(trim(l.line)) >= 10 AND b.lk IS NOT NULL
                     THEN 1 ELSE 0 END AS rm
              FROM lines l
              LEFT JOIN boiler b ON md5(trim(l.line)) = b.lk
            )
            SELECT doc_id,
              coalesce(string_agg(CASE WHEN rm = 0 THEN line END,
                                  chr(10) ORDER BY pos), '') AS text_clean,
              count(*)::bigint AS n_lines,
              sum(rm)::bigint AS n_removed
            FROM marked GROUP BY doc_id
        """,
        # filter gauntlet: every filter replayed literally by DuckDB —
        # bool via the strutil set, camel via split/ucfirst-lower
        # rebuild, snake via the same regex (\1 backrefs), escapes via
        # literal replace chains in the engine's application order,
        # str2ints via list_transform + try_cast, strToTime via
        # try_strptime layout fallback
        "q71_filter_gauntlet": r"""
            WITH g AS (
              SELECT doc_id,
                CASE doc_id % 5 WHEN 0 THEN ' YES ' WHEN 1 THEN 'off'
                     WHEN 2 THEN '1' WHEN 3 THEN 'False' ELSE 'no' END AS boolf,
                'user_name_f' || (doc_id % 100)::varchar AS camelf,
                'myVar' || (doc_id % 10)::varchar || 'Name' AS snakef,
                'a<q>"x"''y\z' || doc_id::varchar AS jsf,
                '<b>&"t''s"</b>' || doc_id::varchar AS htmlf,
                '7, 8,x9,' || doc_id::varchar AS intsf,
                'p;q;r' || doc_id::varchar AS arrf,
                CASE WHEN doc_id % 2 = 0 THEN '2024-03-05 12:30:45'
                     ELSE '2024-0' || (doc_id % 9 + 1)::varchar || '-06'
                END AS timef,
                'a,b,a,' || (doc_id % 3)::varchar AS uniqf,
                ' a , b ,c' || doc_id::varchar || ' ' AS trimsf
              FROM documents
            )
            SELECT doc_id,
              lower(trim(boolf)) IN ('1','on','yes','true') AS boolf,
              string_split(camelf, '_')[1] || array_to_string(
                list_transform(string_split(camelf, '_')[2:],
                  w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ''
              ) AS camelf,
              lower(regexp_replace(snakef, '([a-z0-9])([A-Z])',
                                   '\1_\2', 'g')) AS snakef,
              replace(replace(replace(replace(replace(jsf,
                '\', '\\'), '''', '\'''), '"', '\"'),
                '<', '\u003C'), '>', '\u003E') AS jsf,
              replace(replace(replace(replace(replace(htmlf,
                '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                '"', '&#34;'), '''', '&#39;') AS htmlf,
              array_to_string(list_transform(string_split(intsf, ','),
                x -> coalesce(try_cast(trim(x) AS INT)::varchar, 'N')),
                '|') AS ints_repr,
              array_to_string(string_split(arrf, ';'), '|') AS arr_repr,
              strftime(coalesce(
                try_strptime(timef, '%Y-%m-%d %H:%M:%S'),
                try_strptime(timef, '%Y-%m-%d')),
                '%Y-%m-%d %H:%M:%S') AS time_repr,
              array_to_string(list_sort(list_distinct(
                string_split(uniqf, ','))), '|') AS uniq_repr,
              array_to_string(list_transform(string_split(trimsf, ','),
                x -> trim(x)), '|') AS trims_repr
            FROM g
        """,
        # semantic decontam: the cosine is the SAME sequential double
        # fold in both engines (list_zip→transform→sum ≡ zip_with→
        # aggregate — bit-identical per the round-3 gotcha), rounded to
        # 6 BEFORE the max/threshold compare so selection agrees
        "q72_semantic_decontam": """
            WITH b AS (
              SELECT vec_id AS bid, embedding AS bv
              FROM embeddings WHERE vec_id % 50 = 7
            ), d AS (
              SELECT e.vec_id,
                     list_aggregate(list_transform(list_zip(e.embedding, b.bv),
                       s -> (s[1]::DOUBLE) * (s[2]::DOUBLE)), 'sum') AS dot,
                     sqrt(list_aggregate(list_transform(e.embedding,
                       x -> (x::DOUBLE) * (x::DOUBLE)), 'sum')) AS na,
                     sqrt(list_aggregate(list_transform(b.bv,
                       x -> (x::DOUBLE) * (x::DOUBLE)), 'sum')) AS nb
              FROM embeddings e CROSS JOIN b
            ), s AS (
              SELECT vec_id,
                     round(CASE WHEN na > 0 AND nb > 0
                                THEN dot / (na * nb) ELSE 0.0 END, 6) AS cos
              FROM d
            )
            SELECT vec_id, max(cos) AS max_cos,
                   count_if(cos >= 0.99)::bigint AS n_hits,
                   coalesce(max(cos) >= 0.99, false) AS contaminated
            FROM s GROUP BY vec_id
        """,
        # incremental dedup: DuckDB maintains the same md5 fingerprint
        # index (even docs) and replays the three-way classification;
        # min(k) over VARCHAR keys is lexicographic in both engines
        "q73_incremental_dedup": f"""
            WITH raw AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 9
                          THEN 'shared boilerplate page '
                               || (doc_id % 3)::varchar
                          ELSE text END AS text
              FROM documents
            ), b AS (
              SELECT doc_id::varchar AS k, {_FP} AS fp FROM raw
            ), idx AS (
              SELECT DISTINCT {_FP} AS fp FROM documents WHERE doc_id % 2 = 0
            ), canon AS (
              SELECT fp, min(k) AS c FROM b GROUP BY fp
            )
            SELECT b.k::bigint AS doc_id, b.fp AS fp,
                   CASE WHEN idx.fp IS NOT NULL THEN 'dup_index'
                        WHEN b.k <> canon.c THEN 'dup_batch'
                        ELSE 'novel' END AS status
            FROM b JOIN canon USING (fp) LEFT JOIN idx USING (fp)
        """,
        # deterministic shuffle: same md5 draw (sampler gate
        # construction), same (h, key-string) order, partitioned
        # row_number — every (shard, pos) must agree
        "q74_deterministic_shuffle": """
            WITH h AS (
              SELECT doc_id,
                     md5(coalesce(doc_id::varchar, '')
                         || chr(31) || '3') AS h
              FROM documents
            ), s AS (
              SELECT doc_id, h,
                     CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS shard
              FROM h
            )
            SELECT doc_id, shard,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY h, doc_id::varchar)::bigint
                     AS pos
            FROM s
        """,
        # per-lang quality cut: same closed-form score, same md5+key
        # tie-break, same INTEGER rank*den <= num*n keep predicate
        "q78_quality_quantile": f"""
            WITH s AS (
              SELECT doc_id, lang, {_QUALITY} AS score,
                     md5(coalesce(doc_id::varchar, '') || chr(31) || '0') AS h
              FROM documents
            ), r AS (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY score DESC, h,
                                                 doc_id::varchar)::bigint
                       AS q_rank,
                     count(*) OVER (PARTITION BY lang)::bigint AS q_n
              FROM s
            )
            SELECT doc_id, lang, q_rank, q_n FROM r
            WHERE q_rank * 10 <= 3 * q_n
        """,
        # per-source quota: the two-phase Spark top-N equals this one
        # full-window top-N (min-N of local min-Ns is exact)
        "q79_stratum_quota": """
            WITH s AS (
              SELECT doc_id, source,
                     md5(coalesce(doc_id::varchar, '') || chr(31) || '0') AS h
              FROM documents
            ), r AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY h, doc_id::varchar)::bigint
                       AS quota_rank
              FROM s
            )
            SELECT doc_id, source, quota_rank FROM r WHERE quota_rank <= 7
        """,
        # label centroids via lockstep unnest; round-6 L2 distance is
        # cross-engine safe (64 summands, noise ~1e-15 << 1e-6 tick)
        "q80_centroid_outliers": """
            WITH e AS (
              SELECT vec_id, label,
                     unnest(embedding)::double AS x,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings
            ), c AS (
              SELECT label, pos, avg(x) AS cx FROM e GROUP BY label, pos
            ), d AS (
              SELECT e.vec_id, e.label,
                     round(sqrt(sum((e.x - c.cx) * (e.x - c.cx))), 6) AS dist
              FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
              GROUP BY e.vec_id, e.label
            )
            SELECT vec_id, label, dist, (dist > 1.0) AS is_outlier FROM d
        """,
        # cross-source overlap: exhaustive O(n^2) exact-Jaccard rollup;
        # the LSH side's 24x12 band family misses nothing at the data's
        # weakest qualifying pair (see q81 docstring)
        "q81_source_overlap": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, source, {_NORM} AS t FROM documents
            ), s AS (
              SELECT k, source, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM c WHERE length(t) > 0
            ), p AS (
              SELECT least(x.source, y.source) AS src_a,
                     greatest(x.source, y.source) AS src_b,
                     round(len(list_intersect(x.sh, y.sh))::double
                           / len(list_distinct(x.sh || y.sh))::double, 6) AS j
              FROM s x JOIN s y ON x.k < y.k
              WHERE round(len(list_intersect(x.sh, y.sh))::double
                          / len(list_distinct(x.sh || y.sh))::double, 6) >= 0.7
            )
            SELECT src_a, src_b, count(*)::bigint AS n_pairs,
                   round(avg(j), 6) AS mean_jaccard
            FROM p GROUP BY src_a, src_b
        """,
        # top duplicated spans: replay tokenize -> span windows ->
        # two-stage (span, doc) / (span) counts -> deterministic
        # ORDER BY ... LIMIT (the same tie-break as the Spark side)
        "q84_top_spans": f"""
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' the quick brown fox jumps over the lazy sleeping dog'
                          ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' pack my box with five dozen brown liquor jugs now'
                          ELSE '' END AS text
              FROM documents
            ), t AS (
              SELECT doc_id::varchar AS k,
                     string_split({_NORM}, ' ') AS wl
              FROM d WHERE length({_NORM}) > 0
            ), b AS (
              SELECT k, greatest(len(wl) - 7, 0)::int AS n_windows, wl
              FROM t
            ), wn AS (
              SELECT k, unnest(range(1, n_windows + 1)) AS pos, wl
              FROM b WHERE n_windows > 0
            ), sp AS (
              SELECT k, array_to_string(wl[pos:pos+7], ' ') AS span FROM wn
            ), pd AS (
              SELECT span, k, count(*)::bigint AS nk FROM sp GROUP BY span, k
            ), ag AS (
              SELECT span, count(*)::bigint AS n_docs,
                     sum(nk)::bigint AS n_occ
              FROM pd GROUP BY span
            )
            SELECT row_number() OVER (ORDER BY n_docs DESC, n_occ DESC,
                                      span)::bigint AS rank,
                   span, n_docs, n_occ
            FROM ag WHERE n_docs >= 2
            ORDER BY n_docs DESC, n_occ DESC, span
            LIMIT 20
        """,
        # rule drift: per-rule violation counts per md5-A/B cohort; the
        # drifted flag is HUGEINT cross-multiplication (the Spark side
        # uses decimal(38,0)) so the boolean replays bit-identically
        "q85_rule_drift": f"""
            WITH c AS (
              SELECT *,
                     substr(md5(coalesce(doc_id::VARCHAR, '')), 1, 1) < '8'
                       AS in_a
              FROM documents
            ), r AS (
              {" UNION ALL ".join(
                  f"SELECT '{fld}' AS field, '{val}' AS validator, "
                  f"count(*) FILTER (in_a AND {_V[k]})::BIGINT AS n_a, "
                  f"count(*) FILTER ((NOT in_a) AND {_V[k]})::BIGINT AS n_b "
                  f"FROM c"
                  for k, fld, val in _RULE_ORDER
              )}
            ), t AS (
              SELECT count(*) FILTER (in_a)::BIGINT AS tot_a,
                     count(*) FILTER (NOT in_a)::BIGINT AS tot_b
              FROM c
            )
            SELECT field, validator, n_a, n_b, tot_a, tot_b,
                   round(n_a / tot_a, 6) AS rate_a,
                   round(n_b / tot_b, 6) AS rate_b,
                   (abs(n_a::HUGEINT * tot_b - n_b::HUGEINT * tot_a) * 10000
                      > 100::HUGEINT * tot_a * tot_b) AS drifted
            FROM r CROSS JOIN t
            WHERE n_a + n_b > 0
        """,
        # violation control chart: per-day failing-row rate vs the
        # global rate, anomalous when >200bp apart (HUGEINT cross-mult)
        "q86_violation_control": """
            WITH w AS (
              SELECT strftime(ts, '%Y-%m-%d') AS "window",
                     (value IS NOT NULL AND value <= 400
                      AND event_type IS NOT NULL AND event_type <> ''
                      AND event_type IN ('click','view','error','purchase'))
                       AS p
              FROM events
            ), per AS (
              SELECT "window", count(*)::BIGINT AS n,
                     count(*) FILTER (NOT p)::BIGINT AS n_viol
              FROM w GROUP BY "window"
            ), t AS (
              SELECT sum(n)::BIGINT AS tot_n,
                     sum(n_viol)::BIGINT AS tot_viol
              FROM per
            )
            SELECT "window", n, n_viol, tot_n, tot_viol,
                   round(n_viol / n, 6) AS rate,
                   round(tot_viol / tot_n, 6) AS global_rate,
                   (abs(n_viol::HUGEINT * tot_n - tot_viol::HUGEINT * n)
                      * 10000 > 200::HUGEINT * n * tot_n) AS anomalous
            FROM per CROSS JOIN t
        """,
        # schema/profile drift: snapshot B derived from documents (lang
        # dropped, n_chars type-changed, fetched added, text md5-gated
        # to NULL); dtype strings are Spark simpleString literals (the
        # snapshot schemas are the fixture's SPEC); null_drift selection
        # is HUGEINT cross-multiplication
        "q87_schema_profile_drift": """
            WITH a AS (
              SELECT count(*)::BIGINT AS n,
                     sum((doc_id IS NULL)::INT)::BIGINT AS null_doc_id,
                     sum((text IS NULL)::INT)::BIGINT AS null_text,
                     sum((lang IS NULL)::INT)::BIGINT AS null_lang,
                     sum((source IS NULL)::INT)::BIGINT AS null_source,
                     sum((n_chars IS NULL)::INT)::BIGINT AS null_n_chars
              FROM documents
            ), b AS (
              SELECT count(*)::BIGINT AS n,
                     sum((doc_id IS NULL)::INT)::BIGINT AS null_doc_id,
                     sum((CASE WHEN substr(md5(coalesce(doc_id::VARCHAR, '')), 1, 1) < '2'
                               THEN NULL ELSE text END IS NULL)::INT)::BIGINT AS null_text,
                     sum((source IS NULL)::INT)::BIGINT AS null_source,
                     sum((n_chars IS NULL)::INT)::BIGINT AS null_n_chars,
                     sum((doc_id IS NULL)::INT)::BIGINT AS null_fetched
              FROM documents
            ), sides AS (
              SELECT 'doc_id' AS col_name, 'bigint' AS dtype_a, 'bigint' AS dtype_b,
                     a.n AS n_a, b.n AS n_b, a.null_doc_id AS null_a, b.null_doc_id AS null_b
              FROM a CROSS JOIN b
              UNION ALL
              SELECT 'text', 'string', 'string', a.n, b.n, a.null_text, b.null_text
              FROM a CROSS JOIN b
              UNION ALL
              SELECT 'lang', 'string', NULL::VARCHAR, a.n, NULL::BIGINT, a.null_lang, NULL::BIGINT
              FROM a CROSS JOIN b
              UNION ALL
              SELECT 'source', 'string', 'string', a.n, b.n, a.null_source, b.null_source
              FROM a CROSS JOIN b
              UNION ALL
              SELECT 'n_chars', 'bigint', 'string', a.n, b.n, a.null_n_chars, b.null_n_chars
              FROM a CROSS JOIN b
              UNION ALL
              SELECT 'fetched', NULL::VARCHAR, 'string', NULL::BIGINT, b.n, NULL::BIGINT, b.null_fetched
              FROM a CROSS JOIN b
            )
            SELECT col_name,
                   dtype_a IS NOT NULL AS in_a,
                   dtype_b IS NOT NULL AS in_b,
                   dtype_a, dtype_b, n_a, n_b, null_a, null_b,
                   round(null_a / n_a, 6) AS null_rate_a,
                   round(null_b / n_b, 6) AS null_rate_b,
                   CASE WHEN dtype_b IS NULL THEN 'dropped'
                        WHEN dtype_a IS NULL THEN 'added'
                        WHEN dtype_a <> dtype_b THEN 'type_changed'
                        WHEN abs(null_a::HUGEINT * n_b - null_b::HUGEINT * n_a) * 10000
                             > 100::HUGEINT * n_a * n_b THEN 'null_drift'
                        ELSE 'ok' END AS status
            FROM sides
        """,
        # pattern profile: the derived modulus-cohort column replayed,
        # then the SAME Java∩RE2 regex ladder in the SAME priority
        # order (interpolated from suggest.PATTERN_CLASSES — one source
        # of truth for the classification contract)
        "q88_pattern_profile": _q88_sql(),
        # streaming windowed drift: per-day bucket counts replayed in
        # batch SQL (complete-mode availableNow output is chunk-order
        # independent); chi2 is the SAME bucket-ordered left fold —
        # list_aggregate over list(cell ORDER BY b) is bit-identical to
        # the engine's Column-expression chain (round-3 gotcha), so
        # round-6 hashes match
        "q89_streaming_windowed_drift": """
            WITH refh AS (
              SELECT CAST(least(15, greatest(0, floor(value / 31.25))) AS INT) AS b,
                     count(*)::DOUBLE AS rc
              FROM events
              WHERE event_id % 2 = 0 AND value IS NOT NULL
              GROUP BY 1
            ), tr AS (
              SELECT coalesce(sum(rc), 0.0) AS t_ref FROM refh
            ), curh AS (
              SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                     CAST(least(15, greatest(0, floor(value / 31.25))) AS INT) AS b,
                     count(*)::DOUBLE AS cc
              FROM events
              WHERE event_id % 2 = 1 AND value IS NOT NULL
              GROUP BY 1, 2
            ), grid AS (
              SELECT d.day, g.b,
                     coalesce(c.cc, 0.0) AS cc,
                     coalesce(r.rc, 0.0) AS rc
              FROM (SELECT DISTINCT day FROM curh) d
              CROSS JOIN (SELECT unnest(range(16))::INT AS b) g
              LEFT JOIN curh c ON c.day = d.day AND c.b = g.b
              LEFT JOIN refh r ON r.b = g.b
            ), tc AS (
              SELECT day, sum(cc) AS t_cur FROM grid GROUP BY day
            ), cells AS (
              SELECT grid.day, grid.b, grid.cc,
                     CASE WHEN grid.cc + grid.rc > 0 THEN
                       power(grid.cc - (grid.cc + grid.rc) * tc.t_cur
                                       / (tc.t_cur + tr.t_ref), 2)
                         / ((grid.cc + grid.rc) * tc.t_cur / (tc.t_cur + tr.t_ref))
                       + power(grid.rc - (grid.cc + grid.rc) * tr.t_ref
                                         / (tc.t_cur + tr.t_ref), 2)
                         / ((grid.cc + grid.rc) * tr.t_ref / (tc.t_cur + tr.t_ref))
                     ELSE 0.0 END AS cell,
                     CASE WHEN grid.cc + grid.rc > 0 THEN 1 ELSE 0 END AS live
              FROM grid
              JOIN tc ON tc.day = grid.day
              CROSS JOIN tr
            )
            SELECT day,
                   sum(cc)::BIGINT AS n_obs,
                   round(list_aggregate(list(cell ORDER BY b), 'sum'), 6) AS chi2,
                   (-1 + sum(live))::INT AS dof
            FROM cells GROUP BY day
        """,
        # encoding-damage signals: seeding + counts replayed (see _q90_sql)
        "q90_encoding_signals": _q90_sql(),
        # snapshot diff: B's derivation replayed, then the same
        # union+groupBy(key) diff with the same chr(0)/'v'-prefix
        # chr(1)-joined md5 row fingerprint
        "q91_snapshot_diff": """
            WITH enc_a AS (
              SELECT doc_id,
                     md5(concat_ws(chr(1),
                       CASE WHEN text IS NULL THEN chr(0) ELSE 'v' || text END,
                       CASE WHEN lang IS NULL THEN chr(0) ELSE 'v' || lang END,
                       CASE WHEN source IS NULL THEN chr(0) ELSE 'v' || source END,
                       CASE WHEN n_chars IS NULL THEN chr(0) ELSE 'v' || n_chars::VARCHAR END
                     )) AS fp
              FROM documents
            ), b1 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 11 <> 0
            ), b_all AS (
              SELECT * FROM b1
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text || ' new' AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 13 = 0
              UNION ALL
              SELECT * FROM b1 WHERE doc_id % 97 = 0
            ), enc_b AS (
              SELECT doc_id,
                     md5(concat_ws(chr(1),
                       CASE WHEN text IS NULL THEN chr(0) ELSE 'v' || text END,
                       CASE WHEN lang IS NULL THEN chr(0) ELSE 'v' || lang END,
                       CASE WHEN source IS NULL THEN chr(0) ELSE 'v' || source END,
                       CASE WHEN n_chars IS NULL THEN chr(0) ELSE 'v' || n_chars::VARCHAR END
                     )) AS fp
              FROM b_all
            ), u AS (
              SELECT doc_id, 1 AS in_a, 0 AS in_b,
                     fp AS fp_a, NULL::VARCHAR AS fp_b
              FROM enc_a
              UNION ALL
              SELECT doc_id, 0, 1, NULL::VARCHAR, fp FROM enc_b
            ), g AS (
              SELECT doc_id,
                     sum(in_a)::BIGINT AS n_a, sum(in_b)::BIGINT AS n_b,
                     max(fp_a) AS fp_a, max(fp_b) AS fp_b
              FROM u GROUP BY doc_id
            )
            SELECT doc_id,
                   CASE WHEN n_a > 1 OR n_b > 1 THEN 'dup_key'
                        WHEN n_a = 0 THEN 'added'
                        WHEN n_b = 0 THEN 'removed'
                        WHEN fp_a <> fp_b THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM g
        """,
        # incremental validation: the oracle validates the NEW snapshot
        # from scratch — hash equality proves incremental == full
        "q101_incremental_validate": f"""
            WITH b1 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 11 <> 0
            ), b_all AS (
              SELECT * FROM b1
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text || ' new' AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 13 = 0
              UNION ALL
              SELECT * FROM b1 WHERE doc_id % 97 = 0
            )
            SELECT doc_id,
                   NOT ({" OR ".join(_V.values())}) AS pass,
                   ({" + ".join(f"({p})::INT" for p in _V.values())})::INT
                     AS n_violations
            FROM b_all
        """,
        # Gopher rules: seeded cohorts via chr() codepoints; every
        # count replayed with the same Java∩RE2 patterns; every flag
        # is integer cross-multiplication
        "q100_gopher_rules": """
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN coalesce(doc_id, 0) % 41 = 0
                            THEN coalesce(text, '') || ' # # # # # # # # # #'
                          WHEN coalesce(doc_id, 0) % 43 = 0
                            THEN coalesce(text, '') || chr(10) || 'first part...'
                                 || chr(10) || 'second...'
                                 || chr(10) || 'third' || chr(8230)
                          WHEN coalesce(doc_id, 0) % 47 = 0
                            THEN '- one' || chr(10) || '- two' || chr(10) || '- three'
                          ELSE coalesce(text, '') END AS v
              FROM documents
            ), c AS (
              SELECT doc_id, trim(v) AS tv,
                     (CASE WHEN trim(coalesce(v, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(coalesce(v, '')), '\\s+'))
                      END)::BIGINT AS n_words
              FROM s
            ), m AS (
              SELECT doc_id, n_words,
                     length(regexp_replace(tv, '\\s', '', 'g'))::BIGINT AS n_nonspace,
                     len(regexp_extract_all(tv, '#|\\x{2026}|\\.\\.\\.'))::BIGINT AS n_symbols,
                     (CASE WHEN tv = '' THEN 0
                           ELSE len(regexp_split_to_array(tv, '\\n')) END)::BIGINT AS n_lines,
                     len(regexp_extract_all(tv, '(^|\\n)[ \\t]*[\\x{2022}*-]'))::BIGINT AS n_bullet_lines,
                     len(regexp_extract_all(tv, '(\\.\\.\\.|\\x{2026})[ \\t]*(\\n|$)'))::BIGINT AS n_ellipsis_lines,
                     len(regexp_extract_all(' ' || tv, '\\s[^\\s]*[A-Za-z]'))::BIGINT AS n_alpha_words,
                     (regexp_matches(lower(tv), '\\bthe\\b')::INT
                      + regexp_matches(lower(tv), '\\bbe\\b')::INT
                      + regexp_matches(lower(tv), '\\bto\\b')::INT
                      + regexp_matches(lower(tv), '\\bof\\b')::INT
                      + regexp_matches(lower(tv), '\\band\\b')::INT
                      + regexp_matches(lower(tv), '\\bthat\\b')::INT
                      + regexp_matches(lower(tv), '\\bhave\\b')::INT
                      + regexp_matches(lower(tv), '\\bwith\\b')::INT)::BIGINT
                       AS n_stopwords_present
              FROM c
            )
            SELECT doc_id, n_words, n_nonspace, n_symbols, n_lines,
                   n_bullet_lines, n_ellipsis_lines, n_alpha_words,
                   n_stopwords_present,
                   (n_words < 50 OR n_words > 100000) AS flag_word_count,
                   (n_nonspace < 3 * n_words OR n_nonspace > 10 * n_words)
                     AS flag_mean_word_len,
                   (n_symbols * 10 > n_words) AS flag_symbol_ratio,
                   (n_bullet_lines * 10 > 9 * n_lines) AS flag_bullet,
                   (n_ellipsis_lines * 10 > 3 * n_lines) AS flag_ellipsis,
                   (n_alpha_words * 10 < 8 * n_words) AS flag_alpha,
                   (n_stopwords_present < 2) AS flag_stopwords,
                   ((n_words < 50 OR n_words > 100000)
                    OR (n_nonspace < 3 * n_words OR n_nonspace > 10 * n_words)
                    OR (n_symbols * 10 > n_words)
                    OR (n_bullet_lines * 10 > 9 * n_lines)
                    OR (n_ellipsis_lines * 10 > 3 * n_lines)
                    OR (n_alpha_words * 10 < 8 * n_words)
                    OR (n_stopwords_present < 2)) AS would_drop
            FROM m
        """,
        # C4 signals: seeded cues + the same case-folded predicates and
        # terminator-based sentence count
        "q99_c4_signals": """
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN coalesce(doc_id, 0) % 23 = 0
                            THEN coalesce(text, '') || ' {code}'
                          WHEN coalesce(doc_id, 0) % 29 = 0
                            THEN coalesce(text, '') || ' Lorem Ipsum dolor'
                          WHEN coalesce(doc_id, 0) % 31 = 0
                            THEN coalesce(text, '') || ' Enable JavaScript to continue.'
                          WHEN coalesce(doc_id, 0) % 37 = 0
                            THEN coalesce(text, '') || ' See our Privacy Policy.'
                          ELSE coalesce(text, '') END AS v
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     contains(v, '{') AS has_curly,
                     contains(lower(v), 'lorem ipsum') AS has_lorem,
                     contains(lower(v), 'javascript') AS has_js,
                     regexp_matches(lower(v),
                       '(terms of use|privacy policy|cookie policy|uses cookies)')
                       AS has_policy,
                     len(regexp_extract_all(v, '[.!?]+(\\s|$)'))::BIGINT
                       AS n_sentences
              FROM s
            )
            SELECT doc_id, has_curly, has_lorem, has_js, has_policy,
                   n_sentences,
                   (has_curly OR has_lorem OR has_js OR has_policy
                    OR n_sentences < 3) AS would_drop
            FROM sig
        """,
        # correlations: exact HUGEINT co-moment sums + same double
        # formula order (see _q97_sql)
        "q97_numeric_correlations": _q97_sql(),
        # heavy hitters: deterministic (cnt DESC, value ASC NULLS
        # FIRST) total order so LIMIT picks identical rows
        "q98_frequent_values": """
            WITH s AS (
              SELECT CASE WHEN coalesce(doc_id, 0) % 19 = 0 THEN NULL
                          ELSE lang END AS value
              FROM documents
            )
            SELECT value, count(*)::BIGINT AS cnt
            FROM s GROUP BY value
            ORDER BY cnt DESC, value ASC NULLS FIRST
            LIMIT 5
        """,
        # categorical drift: cohort + seeding replayed; NULL category
        # groups like any other; HUGEINT share cross-multiplication
        "q96_categorical_drift": """
            WITH base AS (
              SELECT coalesce(doc_id, 0) AS d, lang,
                     substr(md5(coalesce(coalesce(doc_id, 0)::VARCHAR, '')), 1, 1)
                       < '8' AS in_a
              FROM documents
            ), a AS (
              SELECT lang AS category FROM base WHERE in_a
            ), b AS (
              SELECT CASE WHEN d % 13 = 0 THEN 'xx'
                          WHEN d % 17 = 0 THEN NULL
                          ELSE lang END AS category
              FROM base WHERE NOT in_a
            ), ca AS (
              SELECT category, count(*)::BIGINT AS n_a FROM a GROUP BY category
            ), cb AS (
              SELECT category, count(*)::BIGINT AS n_b FROM b GROUP BY category
            ), g AS (
              SELECT coalesce(ca.category, cb.category) AS category,
                     coalesce(n_a, 0)::BIGINT AS n_a,
                     coalesce(n_b, 0)::BIGINT AS n_b
              FROM ca FULL OUTER JOIN cb
                ON ca.category IS NOT DISTINCT FROM cb.category
            ), t AS (
              SELECT sum(n_a)::BIGINT AS tot_a, sum(n_b)::BIGINT AS tot_b FROM g
            )
            SELECT category, n_a, n_b, tot_a, tot_b,
                   round(n_a / tot_a, 6) AS share_a,
                   round(n_b / tot_b, 6) AS share_b,
                   (abs(n_a::HUGEINT * tot_b - n_b::HUGEINT * tot_a) * 10000
                      > 100::HUGEINT * tot_a * tot_b) AS drifted
            FROM g CROSS JOIN t
        """,
        # quality-aware retention: row_number over the same fp
        # partition + (q DESC NULLS LAST, member ASC) ordering
        "q94_retain_best": f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id % 3 = 0
            ), f AS (
              SELECT doc_id, (doc_id * 37) % 101 AS q,
                     doc_id::VARCHAR AS k, md5({_NORM}) AS fp
              FROM d
            ), r AS (
              SELECT doc_id, q,
                     row_number() OVER (
                       PARTITION BY fp
                       ORDER BY q DESC NULLS LAST, k ASC
                     ) AS rk
              FROM f
            )
            SELECT doc_id, q::BIGINT AS q FROM r WHERE rk = 1
        """,
        # FD audit: replay the seeded home column, two-stage
        # distinct-free rollup, HAVING > 1
        "q95_functional_dependency": """
            WITH s AS (
              SELECT user_id,
                     CASE WHEN coalesce(user_id, 0) % 97 = 0
                               AND coalesce(event_id, 0) % 2 = 0
                          THEN 'h?'
                          ELSE 'h' || (coalesce(user_id, 0) % 50)::VARCHAR
                     END AS home
              FROM events
            ), pairs AS (
              SELECT user_id, home, count(*)::BIGINT AS c
              FROM s
              WHERE home IS NOT NULL AND user_id IS NOT NULL
              GROUP BY user_id, home
            )
            SELECT user_id,
                   sum(c)::BIGINT AS n_rows,
                   count(*)::BIGINT AS n_distinct_dependent
            FROM pairs GROUP BY user_id
            HAVING count(*) > 1
        """,
        # suite report: the q01/q02 predicates (_V, disjoint per field
        # by their guards) roll into verdict totals; uniqueness /
        # referential / histogram replayed directly
        "q93_suite_report": f"""
            SELECT 'verdicts' AS "check", 'n_rows' AS metric,
                   count(*)::BIGINT AS value FROM documents
            UNION ALL
            SELECT 'verdicts', 'n_pass',
                   count(*) FILTER (NOT ({" OR ".join(_V.values())}))::BIGINT
            FROM documents
            UNION ALL
            SELECT 'verdicts', 'n_fail',
                   count(*) FILTER ({" OR ".join(_V.values())})::BIGINT
            FROM documents
            UNION ALL
            SELECT 'verdicts', 'n_violations',
                   coalesce(sum({" + ".join(f"({p})::INT" for p in _V.values())}), 0)::BIGINT
            FROM documents
            UNION ALL
            SELECT 'uniqueness', 'dup_keys:doc_id', count(*)::BIGINT FROM (
              SELECT doc_id FROM documents WHERE doc_id IS NOT NULL
              GROUP BY doc_id HAVING count(*) > 1
            )
            UNION ALL
            SELECT 'uniqueness', 'dup_keys:source,lang', count(*)::BIGINT FROM (
              SELECT source, lang FROM documents
              WHERE source IS NOT NULL AND lang IS NOT NULL
              GROUP BY source, lang HAVING count(*) > 1
            )
            UNION ALL
            SELECT 'referential', 'dangling:source', count(*)::BIGINT
            FROM documents
            WHERE source IS NOT NULL AND source NOT IN (
              SELECT DISTINCT source FROM documents
              WHERE source IS NOT NULL AND source <> 'src0'
            )
            UNION ALL
            SELECT 'histogram:n_chars',
                   greatest(0, least(11, floor((n_chars - 0.0) / 50.0)))::INT::VARCHAR,
                   count(*)::BIGINT
            FROM documents WHERE n_chars IS NOT NULL
            GROUP BY 2
        """,
        # attribute consistency: replay the seeded denormalization +
        # the null-safe mismatch counts (IS NOT DISTINCT FROM)
        "q92_attribute_consistency": """
            WITH f AS (
              SELECT c.c_custkey, c.c_nationkey,
                     CASE WHEN c.c_custkey % 13 = 0 THEN NULL
                          WHEN c.c_custkey % 7 = 0 THEN n.n_name || '?'
                          ELSE n.n_name END AS nation_name,
                     CASE WHEN c.c_custkey % 11 = 0 THEN n.n_regionkey + 1
                          ELSE n.n_regionkey END AS nation_region
              FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            ), j AS (
              SELECT f.nation_name, f.nation_region,
                     n.n_name AS d0, n.n_regionkey AS d1
              FROM f JOIN nation n ON f.c_nationkey = n.n_nationkey
            ), per AS (
              SELECT 'nation_name' AS fact_attr, 'n_name' AS dim_attr,
                     count(*)::BIGINT AS n_checked,
                     sum((NOT (nation_name IS NOT DISTINCT FROM d0))::INT)::BIGINT
                       AS n_mismatch
              FROM j
              UNION ALL
              SELECT 'nation_region', 'n_regionkey',
                     count(*)::BIGINT,
                     sum((NOT (nation_region IS NOT DISTINCT FROM d1))::INT)::BIGINT
              FROM j
            )
            SELECT fact_attr, dim_attr, n_checked, n_mismatch,
                   round(n_mismatch / n_checked, 6) AS mismatch_rate
            FROM per
        """,
        # soft dedup: exact-fp clusters via window min/count; weight is
        # round-6 of 1/integer — cross-engine exact
        "q82_soft_dedup_weights": f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id % 3 = 0
            ), f AS (
              SELECT doc_id::varchar AS k, md5({_NORM}) AS fp FROM d
            ), c AS (
              SELECT k, min(k) OVER (PARTITION BY fp) AS cluster FROM f
            )
            SELECT k, cluster,
                   count(*) OVER (PARTITION BY cluster)::bigint AS cluster_n,
                   round(1.0::double
                         / count(*) OVER (PARTITION BY cluster), 6) AS weight
            FROM c
        """,
        # leakage-free split: connected components at 0.9 (recursive
        # CTE, the q26 argument), singletons root to self, md5 gate on
        # the CLUSTER id with cumulative sorted-name boundaries
        # (test 0.1 | train 0.8 | val 0.1 -> 100000 / 900000)
        "q83_cluster_split": f"""
            WITH RECURSIVE c AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t FROM documents
            ), s AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM c WHERE length(t) > 0
            ), e AS (
              SELECT x.k AS u, y.k AS v
              FROM s x JOIN s y ON x.k < y.k
              WHERE round(len(list_intersect(x.sh, y.sh))::double
                          / len(list_distinct(x.sh || y.sh))::double, 6) >= 0.9
            ), adj AS (
              SELECT u, v FROM e UNION SELECT v, u FROM e
            ), reach(node, r) AS (
              SELECT u, u FROM adj
              UNION
              SELECT a.v, reach.r FROM reach JOIN adj a ON a.u = reach.node
            ), root AS (
              SELECT node AS k, min(r) AS cluster FROM reach GROUP BY node
            ), assigned AS (
              SELECT d.doc_id::varchar AS k,
                     coalesce(root.cluster, d.doc_id::varchar) AS cluster
              FROM documents d LEFT JOIN root ON root.k = d.doc_id::varchar
            )
            SELECT k, cluster,
                   CASE WHEN CAST('0x' || substr(md5(cluster || chr(31) || '0'),
                                  1, 8) AS BIGINT) % 1000000 < 100000
                          THEN 'test'
                        WHEN CAST('0x' || substr(md5(cluster || chr(31) || '0'),
                                  1, 8) AS BIGINT) % 1000000 < 900000
                          THEN 'train'
                        ELSE 'val' END AS split
            FROM assigned
        """,
        # incremental LSH probe: exhaustive batch x index exact-Jaccard
        # (the q16 oracle argument in incremental form; at j >= 0.99
        # the deterministic band family misses nothing)
        "q77_incremental_minhash": f"""
            WITH bsrc AS (
              SELECT doc_id + 100000 AS doc_id,
                     CASE WHEN doc_id % 25 = 0 THEN text
                          WHEN doc_id % 25 = 1
                            THEN text || ' completely different appended tail words here'
                          ELSE 'novel batch content ' || doc_id::varchar
                     END AS text
              FROM documents WHERE doc_id % 25 < 3
            ), bs AS (
              SELECT doc_id, {_NORM} AS t FROM bsrc
            ), ix AS (
              SELECT doc_id, {_NORM} AS t FROM documents
            ), bsh AS (
              SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM bs WHERE length(t) > 0
            ), ish AS (
              SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM ix WHERE length(t) > 0
            )
            SELECT b.doc_id AS doc_id, i.doc_id AS index_key
            FROM bsh b JOIN ish i
              ON round(len(list_intersect(b.sh, i.sh))::double
                       / len(list_distinct(b.sh || i.sh))::double, 6) >= 0.99
        """,
        # duplicated spans: DuckDB replays the rolling 8-token md5
        # windows, the distinct-doc frequency, and the exact position-
        # union coverage; integer counts keep selection exact, and
        # BIGINT/BIGINT division is float in both engines
        "q75_duplicated_spans": f"""
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' the quick brown fox jumps over the lazy sleeping dog'
                          ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' pack my box with five dozen brown liquor jugs now'
                          ELSE '' END AS text
              FROM documents
            ), t AS (
              SELECT doc_id::varchar AS k,
                     string_split({_NORM}, ' ') AS wl
              FROM d WHERE length({_NORM}) > 0
            ), b AS (
              SELECT k, len(wl)::int AS n_tok,
                     greatest(len(wl) - 7, 0)::int AS n_windows, wl
              FROM t
            ), wn AS (
              SELECT k, unnest(range(1, n_windows + 1)) AS pos, wl
              FROM b WHERE n_windows > 0
            ), wh AS (
              SELECT k, pos,
                     md5(array_to_string(wl[pos:pos+7], ' ')) AS wh
              FROM wn
            ), freq AS (
              SELECT wh, count(DISTINCT k) AS docs FROM wh GROUP BY wh
            ), marked AS (
              SELECT w.k, w.pos, (f.docs >= 2) AS dup
              FROM wh w JOIN freq f USING (wh)
            ), counts AS (
              SELECT k, sum(dup::int)::bigint AS n_dup_windows
              FROM marked GROUP BY k
            ), cov AS (
              SELECT k, count(*)::bigint AS covered_tokens FROM (
                SELECT DISTINCT k, unnest(range(pos, pos + 8)) AS cp
                FROM marked WHERE dup
              ) GROUP BY k
            )
            SELECT b.k::bigint AS doc_id, b.n_tok, b.n_windows::bigint AS n_windows,
                   coalesce(counts.n_dup_windows, 0)::bigint AS n_dup_windows,
                   coalesce(cov.covered_tokens, 0)::bigint AS covered_tokens,
                   round(coalesce(cov.covered_tokens, 0) / b.n_tok, 6) AS dup_frac
            FROM b LEFT JOIN counts USING (k) LEFT JOIN cov USING (k)
        """,
        # token-share governance: integer token sums (exact cross-
        # engine), round-6 shares, explicit ROWS-frame running sum
        "q76_token_share_report": f"""
            WITH a AS (
              SELECT source, count(*)::bigint AS n_docs,
                     sum(({_NTOK})::bigint)::bigint AS n_tokens
              FROM documents GROUP BY source
            )
            SELECT source, n_docs, n_tokens,
                   round(n_tokens / sum(n_tokens) OVER (), 6) AS share,
                   round(sum(n_tokens) OVER (
                           ORDER BY n_tokens DESC, source ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) / sum(n_tokens) OVER (), 6) AS cum_share,
                   round(n_tokens / sum(n_tokens) OVER (), 6) > 0.055 AS over_cap
            FROM a
        """,
        "q70_type_gauntlet": _q70_sql(),
        "q59_format_gauntlet2": _q59_sql(),
        "q60_crossfield_equality": _q60_sql(),
        # custom filter digitsOnly composed with trim: the oracle
        # recomputes the cleaned value with the same regex and
        # re-derives pass = required & number & stringLength 12..12
        "q61_custom_filter_chain": """
            WITH r AS (
              SELECT c_custkey,
                     '  +' || (c_custkey % 90 + 10)::varchar || '-'
                       || lpad(((c_custkey * 7) % 1000)::varchar, 3, '0') || '-'
                       || lpad(((c_custkey * 13) % 1000)::varchar, 3, '0') || '-'
                       || lpad((c_custkey % 10000)::varchar, 4, '0')
                       || CASE WHEN c_custkey % 9 = 0 THEN 'x9' ELSE '' END
                       || '  ' AS phone
              FROM customer
            ), d AS (
              SELECT c_custkey,
                     regexp_replace(trim(phone), '[^0-9]', '', 'g') AS ph
              FROM r
            )
            SELECT c_custkey, ph AS phone,
                   (ph IS NOT NULL AND ph <> ''
                    AND regexp_matches(ph, '^[0-9]+$')
                    AND length(ph) >= 12 AND length(ph) <= 12) AS pass
            FROM d
        """,
        # map-wildcard: per-value predicates evaluated explicitly; the
        # engine's skip-on-empty gates mirrored per value (required →
        # any NULL/'' value; minLength → any NON-empty value < 2 bytes;
        # attrs.key isIntString never fails and the n>0 filter drops it
        # in both engines)
        "q57_map_wildcard_validation": """
            WITH c AS (
              SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE c_name END AS vname,
                     CASE WHEN c_custkey % 5 = 0
                          THEN substr(c_mktsegment, 1, 1)
                          ELSE c_mktsegment END AS vseg,
                     c_custkey::varchar AS vkey
              FROM customer
            )
            SELECT * FROM (
              SELECT 'attrs.*' AS field, 'required' AS validator,
                     count_if(vname IS NULL OR vname = ''
                           OR vseg IS NULL OR vseg = ''
                           OR vkey IS NULL OR vkey = '')::bigint AS n
              FROM c
              UNION ALL SELECT 'attrs.*', 'minLength',
                     count_if(
                       (vname IS NOT NULL AND vname <> '' AND strlen(vname) < 2)
                       OR (vseg IS NOT NULL AND vseg <> '' AND strlen(vseg) < 2)
                       OR (vkey IS NOT NULL AND vkey <> '' AND strlen(vkey) < 2)
                     )::bigint FROM c
            ) WHERE n > 0
        """,
        # stateful streaming dedup: the emitted fingerprint set equals
        # the corpus's distinct content fingerprints, whatever the
        # micro-batch boundaries
        "q56_streaming_stateful_dedup": f"""
            SELECT DISTINCT {_FP} AS fp FROM ({_DOUBLED_DOCS})
        """,
        # span-level ref integrity: replay the interleaved fixture's
        # media_ref construction per (doc, i) and the anti-join against
        # the non-cohort catalog — multiplicity preserved (no distinct
        # on the pairs side)
        "q115_span_ref_integrity": """
            WITH f AS (
              SELECT coalesce(doc_id, 9) AS d FROM documents
            ), sp AS (
              SELECT d,
                     CASE WHEN d % 19 = 0 THEN NULL
                          WHEN d % 19 = 1 THEN 'dx'
                          ELSE 'doc-' || lpad(d::varchar, 8, '0')
                     END AS doc_id,
                     CASE WHEN (d + i) % 3 <> 0
                          THEN 'm-' || lpad(((d * 3 + i) % 100000000)::varchar,
                               CASE WHEN d % 7 = 0 THEN 6 ELSE 8 END, '0')
                     END AS media_ref
              FROM f CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) ii
              WHERE d % 13 NOT IN (0, 1)
            ), pairs AS (
              SELECT d, doc_id, media_ref FROM sp WHERE media_ref IS NOT NULL
            ), cat AS (
              SELECT DISTINCT media_ref FROM pairs WHERE d % 17 <> 5
            )
            SELECT p.doc_id, p.media_ref
            FROM pairs p LEFT JOIN cat c USING (media_ref)
            WHERE p.d % 17 = 5 AND c.media_ref IS NULL
        """,
        # CUBE: DuckDB GROUP BY CUBE + GROUPING() replays the grouping
        # sets; token sum int64-exact
        "q119_cube_profile": f"""
            WITH d AS (
              SELECT lang, source, ({_NTOK})::bigint AS ntok FROM documents
            )
            SELECT lang, source,
                   GROUPING(lang)::int AS g_lang,
                   GROUPING(source)::int AS g_source,
                   count(*)::bigint AS n,
                   sum(ntok)::bigint AS sum_tokens
            FROM d GROUP BY CUBE (lang, source)
        """,
        # PIVOT: explicit-domain CASE counts (absent combos 0)
        "q120_event_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'signup')::bigint AS signup,
                   count(*) FILTER (event_type = 'click')::bigint AS click,
                   count(*) FILTER (event_type = 'view')::bigint AS view,
                   count(*) FILTER (event_type = 'purchase')::bigint
                     AS purchase,
                   count(*) FILTER (event_type = 'error')::bigint AS error
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        """,
        # TPC-H Q1 shape: identical integer cents/basis pipeline
        "q123_pricing_summary": """
            WITH li AS (
              SELECT l_returnflag, l_linestatus,
                     round(l_quantity * 100)::bigint AS qc,
                     round(l_extendedprice * 100)::bigint AS pc,
                     round(l_discount * 100)::bigint AS dc,
                     round(l_tax * 100)::bigint AS tc
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            ), g AS (
              SELECT l_returnflag, l_linestatus,
                     sum(qc)::bigint AS sq, sum(pc)::bigint AS sp,
                     sum(pc * (100 - dc))::bigint AS sdp,
                     sum(pc * (100 - dc) * (100 + tc))::bigint AS sc,
                     sum(dc)::bigint AS sd,
                     count(*)::bigint AS n
              FROM li GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag, l_linestatus,
                   round(sq::double / 100, 6) AS sum_qty,
                   round(sp::double / 100, 6) AS sum_base_price,
                   round(sdp::double / 10000, 6) AS sum_disc_price,
                   round(sc::double / 1000000, 6) AS sum_charge,
                   round(sq::double / (100 * n), 6) AS avg_qty,
                   round(sp::double / (100 * n), 6) AS avg_price,
                   round(sd::double / (100 * n), 6) AS avg_disc,
                   n
            FROM g
        """,
        # TPC-H Q3 shape: k-cut ordered by the exact int64 revenue
        "q124_top_revenue": """
            WITH li AS (
              SELECT l_orderkey,
                     round(l_extendedprice * 100)::bigint
                       * (100 - round(l_discount * 100)::bigint) AS rev
              FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-01-01'
            ), o AS (
              SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
            ), c AS (
              SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING'
            ), g AS (
              SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
                     sum(li.rev)::bigint AS rev
              FROM li JOIN o ON li.l_orderkey = o.o_orderkey
              JOIN c ON o.o_custkey = c.c_custkey
              GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
            )
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   round(rev::double / 10000, 6) AS revenue
            FROM g ORDER BY rev DESC, o_orderkey LIMIT 10
        """,
        # TPC-H Q5 shape: local-supplier star join
        "q125_local_supplier_volume": """
            WITH s AS (
              SELECT s_suppkey, s_nationkey, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
            ), li AS (
              SELECT l_orderkey, l_suppkey,
                     round(l_extendedprice * 100)::bigint
                       * (100 - round(l_discount * 100)::bigint) AS rev
              FROM lineitem
            )
            SELECT s.n_name,
                   round(sum(li.rev)::double / 10000, 6) AS revenue
            FROM li JOIN s ON li.l_suppkey = s.s_suppkey
            JOIN orders o ON li.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_nationkey = s.s_nationkey
            GROUP BY s.n_name
        """,
        # TPC-H Q4 shape: EXISTS (semi join) with cross-table inequality
        "q126_order_priority": """
            SELECT o_orderpriority, count(*)::bigint AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
              AND o.o_orderdate < TIMESTAMP '1997-10-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        # TPC-H Q13 shape: zero-bucket-preserving left outer + double agg
        "q127_customer_orders_dist": """
            WITH per AS (
              SELECT c.c_custkey, count(o.o_orderkey)::bigint AS c_count
              FROM customer c
              LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey
            )
            SELECT c_count, count(*)::bigint AS custdist
            FROM per GROUP BY c_count
        """,
        # TPC-H Q22 shape: integer cross-multiplied global-average
        # threshold + NOT EXISTS anti join, int64-cents money
        "q128_idle_rich_customers": """
            WITH c AS (
              SELECT c_custkey, c_nationkey,
                     round(c_acctbal * 100)::bigint AS bal_c
              FROM customer
            ), pos AS (
              SELECT sum(bal_c)::bigint AS sum_pos,
                     count(*)::bigint AS n_pos
              FROM c WHERE bal_c > 0
            ), idle AS (
              SELECT c.c_nationkey, c.bal_c
              FROM c, pos
              WHERE c.bal_c * pos.n_pos > pos.sum_pos
                AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderdate
                                      >= TIMESTAMP '2000-01-01')
            )
            SELECT c_nationkey, count(*)::bigint AS numcust,
                   round(sum(bal_c)::double / 100, 6) AS totacctbal
            FROM idle GROUP BY c_nationkey
        """,
        # CDC compaction: newest row per key, NULLS LAST stated (Spark
        # DESC default and DuckDB default disagree on NULL placement)
        "q129_latest_wins": """
            SELECT user_id, event_id, ts, event_type, value
            FROM events
            QUALIFY row_number() OVER (
              PARTITION BY user_id
              ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
            ) = 1
        """,
        # linear quality model: integer dot product replayed exactly
        # (weights imported from the operator — one source of truth)
        "q130_quality_classifier": f"""
            WITH f AS (
              SELECT doc_id, text,
                     ({_NTOK})::bigint AS n_words,
                     len(regexp_extract_all(lower(coalesce(text,'')),
                         '\\b({_SW["en"]})\\b'))::bigint AS n_stop,
                     len(regexp_extract_all(coalesce(text,''),
                         '[^\\w\\s]'))::bigint AS n_punct,
                     len(regexp_extract_all(coalesce(text,''),
                         '[0-9]'))::bigint AS n_digit,
                     len(regexp_extract_all(coalesce(text,''),
                         '[A-Z]'))::bigint AS n_upper
              FROM documents
            ), s AS (
              SELECT *,
                     (CASE WHEN text IS NULL THEN NULL ELSE
                        {ts.QUALITY_MODEL_BIAS_E6}
                        + ({ts.QUALITY_MODEL_WEIGHTS_E6["n_words"]}) * n_words
                        + ({ts.QUALITY_MODEL_WEIGHTS_E6["n_stop"]}) * n_stop
                        + ({ts.QUALITY_MODEL_WEIGHTS_E6["n_punct"]}) * n_punct
                        + ({ts.QUALITY_MODEL_WEIGHTS_E6["n_digit"]}) * n_digit
                        + ({ts.QUALITY_MODEL_WEIGHTS_E6["n_upper"]}) * n_upper
                      END)::bigint AS score_e6
              FROM f
            )
            SELECT doc_id, n_words, n_stop, n_punct, n_digit, n_upper,
                   score_e6,
                   round(score_e6::double / 1e6, 6) AS model_score,
                   (score_e6 > 0) AS keep
            FROM s
        """,
        # sliding-window chunking: integer-exact chunk count, md5
        # chunk fingerprints; 64-token windows at stride 48
        "q131_doc_chunks": f"""
            WITH d AS (
              SELECT doc_id AS key,
                     list_filter(regexp_split_to_array({_NORM}, ' '),
                                 x -> x <> '') AS tk
              FROM documents
            ), b AS (
              SELECT key, tk, len(tk)::bigint AS n
              FROM d WHERE len(tk) > 0
            ), c AS (
              SELECT key, tk,
                     unnest(range(0,
                       1 + (greatest(n - 64, 0) + 47) // 48)) AS chunk_idx
              FROM b
            )
            SELECT key, chunk_idx::bigint AS chunk_idx,
                   (chunk_idx * 48)::bigint AS token_offset,
                   len(tk[chunk_idx*48+1 : chunk_idx*48+64])::bigint
                     AS n_chunk_tokens,
                   md5(array_to_string(
                       tk[chunk_idx*48+1 : chunk_idx*48+64], ' '))
                     AS chunk_fp
            FROM c
        """,
        # per-doc keywords: integer-exact (tf DESC, df ASC, term) rank
        "q132_doc_keywords": f"""
            WITH base AS (
              SELECT doc_id AS key,
                     unnest(list_filter(
                       regexp_split_to_array({_NORM}, ' '),
                       x -> length(x) >= 3 AND NOT list_contains(
                         ['the','and','of','to','in','is','that','for',
                          'it','with'], x))) AS term
              FROM documents
            ), tf AS (
              SELECT key, term, count(*)::bigint AS tf
              FROM base GROUP BY key, term
            ), dfq AS (
              SELECT term, count(*)::bigint AS df FROM tf GROUP BY term
            )
            SELECT key, rank, term, tf, df FROM (
              SELECT tf.key, tf.term, tf.tf, dfq.df,
                     row_number() OVER (
                       PARTITION BY tf.key
                       ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC
                     )::bigint AS rank
              FROM tf JOIN dfq USING (term)
            ) WHERE rank <= 3
        """,
        # PERMISSIVE CSV quarantine: the oracle rebuilds the pinned
        # reader semantics (bad field -> NULL + raw line; extra token
        # -> parsed + raw line) straight from the source table
        "q133_csv_ingest": """
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 7 = 3 THEN NULL
                        ELSE n_chars END AS n_chars,
                   (doc_id % 7 = 3 OR doc_id % 11 = 5) AS is_corrupt,
                   CASE WHEN doc_id % 7 = 3
                          THEN md5(concat(doc_id, ',', lang, ',x', n_chars))
                        WHEN doc_id % 11 = 5
                          THEN md5(concat(doc_id, ',', lang, ',',
                                          n_chars, ',999'))
                        ELSE NULL END AS corrupt_line_fp
            FROM documents
        """,
        # melt: long form = user × the 5-type domain with zero fills
        "q121_event_melt": """
            WITH u AS (
              SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
            ), dom(event_type) AS (
              VALUES ('signup'), ('click'), ('view'), ('purchase'),
                     ('error')
            ), c AS (
              SELECT user_id, event_type, count(*)::bigint AS n
              FROM events WHERE user_id IS NOT NULL
              GROUP BY user_id, event_type
            )
            SELECT u.user_id, dom.event_type, coalesce(c.n, 0)::bigint AS n
            FROM u CROSS JOIN dom
            LEFT JOIN c ON c.user_id = u.user_id
                       AND c.event_type = dom.event_type
        """,
        # densify: per-user generate_series over [min_day, max_day],
        # left join the day aggregate, zero fill
        "q122_daily_densify": """
            WITH e AS (
              SELECT user_id AS u, CAST(ts AS DATE) AS day, value
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), c AS (
              SELECT u, day, count(*)::bigint AS n,
                     sum(value) AS sv
              FROM e GROUP BY u, day
            ), span AS (
              SELECT u, min(day) AS lo, max(day) AS hi FROM c GROUP BY u
            ), cal AS (
              SELECT u, unnest(generate_series(lo::timestamp,
                               hi::timestamp, INTERVAL 1 DAY))::date AS day
              FROM span
            )
            SELECT cal.u AS "user", cal.day,
                   coalesce(c.n, 0)::bigint AS n_events,
                   round(coalesce(c.sv, 0.0), 6) AS sum_value
            FROM cal LEFT JOIN c ON c.u = cal.u AND c.day = cal.day
        """,
        # Benford: identical integer pipeline — round(abs·100) is
        # half-up in both engines on positives; ppm by floor division;
        # the law is the same hardcoded table
        "q117_benford_audit": """
            WITH c AS (
              SELECT round(abs(o_totalprice) * 100.0)::bigint AS cents
              FROM orders WHERE o_totalprice IS NOT NULL
            ), d AS (
              SELECT substring(cents::varchar, 1, 1)::int AS digit
              FROM c WHERE cents > 0
            ), g AS (
              SELECT digit, count(*)::bigint AS n FROM d
              WHERE digit BETWEEN 1 AND 9 GROUP BY digit
            ), t AS (SELECT sum(n)::bigint AS total FROM g),
            law(digit, ppm) AS (VALUES (1, 301030), (2, 176091),
              (3, 124939), (4, 96910), (5, 79181), (6, 66947),
              (7, 57992), (8, 51153), (9, 45757))
            SELECT g.digit, g.n,
                   ((g.n * 1000000) // t.total)::bigint AS share_ppm,
                   law.ppm::bigint AS expected_ppm,
                   ((g.n * 1000000) // t.total - law.ppm)::bigint
                     AS excess_ppm
            FROM g, t JOIN law ON law.digit = g.digit
        """,
        # Cohen's kappa: same pair-count -> marginals -> expected sum
        # pipeline; every fp input is an exact int64 count
        "q118_label_agreement": f"""
            WITH s0 AS (SELECT lang, text, {_SCORES} FROM documents),
            s AS (
              SELECT coalesce(lang, '') AS a,
                     coalesce({_LANG_PRED}, '') AS b
              FROM s0
            ), p AS (
              SELECT a, b, count(*)::bigint AS n FROM s GROUP BY a, b
            ), ra AS (SELECT a AS k, sum(n)::bigint AS rn FROM p GROUP BY a),
            cb AS (SELECT b AS k, sum(n)::bigint AS cn FROM p GROUP BY b),
            t AS (
              SELECT sum(n)::bigint AS n,
                     sum(CASE WHEN a = b THEN n ELSE 0 END)::bigint
                       AS n_agree
              FROM p
            ), e AS (
              SELECT sum(rn * cn)::bigint AS pe_num
              FROM ra JOIN cb USING (k)
            )
            SELECT t.n, t.n_agree,
                   round(t.n_agree::double / t.n::double, 6) AS po,
                   round(e.pe_num::double / (t.n::double * t.n::double), 6)
                     AS pe,
                   round(CASE WHEN e.pe_num::double
                                   / (t.n::double * t.n::double) = 1.0
                              THEN NULL
                         ELSE (t.n_agree::double / t.n::double
                               - e.pe_num::double / (t.n::double * t.n::double))
                              / (1.0 - e.pe_num::double
                                       / (t.n::double * t.n::double))
                         END, 6) AS kappa
            FROM t, e
        """,
        # stream-static enrichment: plain SQL join + the tumbling-day
        # epoch alignment (F.window with no slide = slide == width)
        "q116_stream_static_enrich": """
            WITH e AS (
              SELECT epoch_us(ts) AS us, value, c.c_mktsegment AS segment
              FROM events ev JOIN customer c ON ev.user_id = c.c_custkey
              WHERE ev.ts IS NOT NULL
            )
            SELECT make_timestamp(us - (us % 86400000000)) AS window_start,
                   segment,
                   count(*)::bigint AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM e GROUP BY 1, 2
        """,
        # native dropDuplicatesWithinWatermark: same contract under a
        # non-evicting watermark — distinct content fingerprints
        "q114_native_streaming_dedup": f"""
            SELECT DISTINCT {_FP} AS fp FROM ({_DOUBLED_DOCS})
        """,
        # retained corpus = everything minus non-canonical members of
        # the q26 transitive closure
        "q54_dedup_retained": f"""
            WITH RECURSIVE c AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t FROM ({_DOUBLED_DOCS})
            ), s AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(length(t) - 4, 1)),
                       i -> substring(t, i, 5))) AS sh
              FROM c WHERE length(t) > 0
            ), e AS (
              SELECT x.k AS u, y.k AS v
              FROM s x JOIN s y ON x.k < y.k
              WHERE round(len(list_intersect(x.sh, y.sh))::double
                          / len(list_distinct(x.sh || y.sh))::double, 6) >= 0.99
            ), adj AS (
              SELECT u, v FROM e UNION SELECT v, u FROM e
            ), reach(node, r) AS (
              SELECT u, u FROM adj
              UNION
              SELECT a.v, reach.r FROM reach JOIN adj a ON a.u = reach.node
            ), cl AS (
              SELECT node AS member, min(r) AS cluster FROM reach GROUP BY node
            )
            SELECT doc_id::varchar AS doc_id FROM ({_DOUBLED_DOCS})
            WHERE doc_id::varchar NOT IN
                  (SELECT member FROM cl WHERE member <> cluster)
        """,
        # PSI with add-0.5 smoothing over shared fixed-width buckets;
        # contributions and the rollup rounded to 6 in both engines
        "q55_drift_psi": """
            WITH b AS (
              SELECT (event_id % 2 = 0) AS is_ref,
                     least(19, floor(value / 25))::int AS bucket
              FROM events WHERE value IS NOT NULL
            ), h AS (
              SELECT bucket,
                     sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::bigint AS n_ref,
                     sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::bigint AS n_cur
              FROM b GROUP BY bucket
            ), t AS (
              SELECT sum(n_ref)::bigint AS t_ref, sum(n_cur)::bigint AS t_cur,
                     count(*)::bigint AS k
              FROM h
            ), cte AS (
              SELECT bucket, n_ref, n_cur,
                     round(((n_ref + 0.5) / (t_ref + 0.5 * k)
                            - (n_cur + 0.5) / (t_cur + 0.5 * k))
                           * ln(((n_ref + 0.5) / (t_ref + 0.5 * k))
                                / ((n_cur + 0.5) / (t_cur + 0.5 * k))),
                           6) AS psi_contrib
              FROM h, t
            )
            SELECT bucket, n_ref, n_cur, psi_contrib,
                   (SELECT round(sum(psi_contrib), 6) FROM cte) AS psi_total,
                   ((SELECT round(sum(psi_contrib), 6) FROM cte) > 0.2)
                     AS drifted
            FROM cte
        """,
        "q27_partition_manifest": f"""
            WITH v AS (
              SELECT CAST('0x' || substr(md5(coalesce(doc_id::varchar, '')),
                                         1, 8) AS BIGINT)
                       % 16 AS part_id,
                     ({_PASS}) AS pass,
                     ({_NVIOL}) AS nv
              FROM documents
            )
            SELECT part_id::int AS part_id,
                   '{DOC_RULES.hash()}' AS ruleset_hash,
                   count(*)::bigint AS n_rows,
                   sum(pass::int)::bigint AS n_pass,
                   sum((NOT pass)::int)::bigint AS n_fail,
                   sum(nv)::bigint AS n_violations,
                   (sum((NOT pass)::int) = 0) AS verdict
            FROM v GROUP BY part_id
        """,
        "q28_violation_messages": _q28_sql(),
        "q29_required_family": """
            WITH d AS (
              SELECT event_id, event_type, value,
                CASE WHEN event_type = 'purchase' AND value > 50 THEN value END AS purchase_value,
                CASE WHEN value > 250 THEN props END AS big_props
              FROM events
            ), v AS (
              SELECT 'purchase_value' AS field, 'requiredIf' AS validator, count(*)::bigint AS n
                FROM d WHERE event_type IN ('purchase') AND purchase_value IS NULL
              UNION ALL
              SELECT 'big_props', 'requiredWith', count(*)::bigint
                FROM d WHERE purchase_value IS NOT NULL
                         AND (big_props IS NULL OR big_props = '')
            )
            SELECT * FROM v WHERE n > 0
        """,
        "q31_format_gauntlet": _q31_sql(),
        "q32_date_gauntlet": """
            WITH od AS (
              SELECT strftime(o_orderdate, '%Y-%m-%d') AS odate FROM orders
            ), v AS (
              SELECT 'odate' AS field, 'required' AS validator,
                     count(*)::bigint AS n
                FROM od WHERE odate IS NULL OR odate = ''
              UNION ALL
              SELECT 'odate', 'isDate', count(*)::bigint FROM od
                WHERE odate IS NOT NULL AND odate <> ''
                  AND try_cast(odate AS date) IS NULL
              UNION ALL
              SELECT 'odate', 'afterOrEqualDate', count(*)::bigint FROM od
                WHERE odate IS NOT NULL AND odate <> ''
                  AND try_cast(odate AS date) < DATE '1995-06-01'
              UNION ALL
              SELECT 'odate', 'beforeDate', count(*)::bigint FROM od
                WHERE odate IS NOT NULL AND odate <> ''
                  AND try_cast(odate AS date) >= DATE '1997-06-30'
            )
            SELECT * FROM v WHERE n > 0
        """,
        "q33_form_staging": """
            WITH v AS (
              SELECT '_form.name' AS field, 'required' AS validator,
                     count(*)::bigint AS n
                FROM customer WHERE c_name IS NULL OR c_name = ''
              UNION ALL
              SELECT '_form.name', 'startsWith', count(*)::bigint FROM customer
                WHERE c_name IS NOT NULL AND c_name <> ''
                  AND NOT starts_with(c_name, 'Customer')
              UNION ALL
              SELECT '_form.acct.bal', 'required', count(*)::bigint FROM customer
                WHERE c_acctbal IS NULL
              UNION ALL
              SELECT '_form.acct.bal', 'min', count(*)::bigint FROM customer
                WHERE c_acctbal IS NOT NULL AND c_acctbal < 0
              UNION ALL
              SELECT '_form.seg', 'required', count(*)::bigint FROM customer
                WHERE c_mktsegment IS NULL OR c_mktsegment = ''
              UNION ALL
              SELECT '_form.seg', 'enum', count(*)::bigint FROM customer
                WHERE c_mktsegment IS NOT NULL AND c_mktsegment <> ''
                  AND c_mktsegment NOT IN
                  ('BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD','FURNITURE')
            )
            SELECT * FROM v WHERE n > 0
        """,
        "q34_scene_projection": f"""
            WITH v AS (
              SELECT 'doc_id' AS field, 'required' AS validator,
                     count(*)::bigint AS n
                FROM documents WHERE {_V["doc_id_required"]}
              UNION ALL
              SELECT 'text', 'required', count(*)::bigint FROM documents
                WHERE {_V["text_required"]}
              UNION ALL
              SELECT 'text', 'minLength', count(*)::bigint FROM documents
                WHERE {_V["text_minLength"]}
            )
            SELECT * FROM v WHERE n > 0
        """,
        "q35_locale_messages": _q35_sql(),
        "q42_rule_report": _q42_sql(),
        "q43_span_sequence_invariant": """
            WITH s AS (
              SELECT doc_id,
                (['text','image','audio'])[((doc_id + 0) % 3)::int + 1] AS k0,
                (['text','image','audio'])[((doc_id + 1) % 3)::int + 1] AS k1,
                (['text','image','audio'])[((doc_id + 2) % 3)::int + 1] AS k2,
                substr(coalesce(text,''), 1, 10)  AS t0,
                substr(coalesce(text,''), 11, 10) AS t1,
                substr(coalesce(text,''), 21, 10) AS t2,
                CASE WHEN doc_id % 7 = 0 THEN 6 ELSE 8 END AS w
              FROM documents
            ), m AS (
              SELECT *,
                CASE WHEN k0 <> 'text' THEN 'm-' || lpad(((doc_id*3 + 0) % 100000000)::varchar, w, '0') END AS r0,
                CASE WHEN k1 <> 'text' THEN 'm-' || lpad(((doc_id*3 + 1) % 100000000)::varchar, w, '0') END AS r1,
                CASE WHEN k2 <> 'text' THEN 'm-' || lpad(((doc_id*3 + 2) % 100000000)::varchar, w, '0') END AS r2
              FROM s
            )
            SELECT doc_id,
                   md5(
                     k0 || ':' || t0 || ':' || coalesce(r0,'') || ':0|' ||
                     k1 || ':' || t1 || ':' || coalesce(r1,'') || ':1|' ||
                     k2 || ':' || t2 || ':' || coalesce(r2,'') || ':2'
                   ) AS span_seq_md5,
                   (doc_id % 7 <> 0) AS pass
            FROM m
        """,
        "q37_iqr_outliers": """
            WITH b AS (
              SELECT quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3
              FROM events
            ), f AS (
              SELECT q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM b
            )
            SELECT (SELECT count(value) FROM events)::bigint AS n_values,
                   (SELECT count(*) FROM events, f
                     WHERE value IS NOT NULL AND (value < lo OR value > hi))::bigint
                     AS n_outliers,
                   round(lo, 4) AS lo, round(hi, 4) AS hi
            FROM f
        """,
        "q41_rune_vs_byte_length": """
            WITH u AS (SELECT 'café-' || lang AS u FROM documents)
            SELECT * FROM (
              SELECT 'u' AS field, 'byteLength' AS validator,
                     count(*)::bigint AS n FROM u
               WHERE u IS NOT NULL AND u <> ''
                 AND (strlen(u) < 8 OR strlen(u) > 8)
              UNION ALL
              SELECT 'u', 'stringLength', count(*)::bigint FROM u
               WHERE u IS NOT NULL AND u <> '' AND length(u) < 8
            ) WHERE n > 0
        """,
        "q40_training_pipeline": f"""
            WITH pass AS (
              SELECT doc_id, text, lang FROM documents WHERE {_PASS}
            ), fp AS (
              SELECT doc_id, text, lang, {_FP} AS f FROM pass
            ), keep AS (
              SELECT f, min(doc_id) AS k FROM fp GROUP BY f
            ), kept AS (
              SELECT fp.* FROM fp JOIN keep ON fp.f = keep.f AND fp.doc_id = keep.k
            )
            SELECT lang, count(*)::bigint AS n_docs,
                   sum({_NTOK})::bigint AS n_tokens
            FROM kept GROUP BY lang
        """,
        "q39_composite_dup_keys": """
            SELECT lang, source, count(*)::bigint AS dup_count
            FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
            GROUP BY lang, source
            HAVING count(*) > 1
        """,
        "q38_salted_uniqueness": """
            WITH d AS (
              SELECT doc_id, count(*) AS c FROM documents
              WHERE doc_id IS NOT NULL GROUP BY doc_id
            )
            SELECT (SELECT count(*) FROM documents)::bigint AS n_rows,
                   (SELECT count(DISTINCT doc_id) FROM documents)::bigint AS n_keys,
                   (SELECT count(*) FROM d WHERE c > 1)::bigint AS n_dup_keys,
                   (SELECT coalesce(sum(c), 0) FROM d WHERE c > 1)::bigint AS n_dup_rows
        """,
        "q36_drift_chi2": """
            WITH b AS (
              SELECT (doc_id % 2 = 0) AS is_ref,
                     least(9, floor(n_chars / 60))::int AS bucket
              FROM documents WHERE n_chars IS NOT NULL
            ), h AS (
              SELECT bucket,
                     sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::bigint AS n_ref,
                     sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::bigint AS n_cur
              FROM b GROUP BY bucket
            ), t AS (
              SELECT sum(n_ref)::bigint AS t_ref, sum(n_cur)::bigint AS t_cur FROM h
            )
            SELECT bucket, n_ref, n_cur,
                   round(
                     pow(n_ref - (n_ref + n_cur) * t_ref::double / (t_ref + t_cur), 2)
                       / ((n_ref + n_cur) * t_ref::double / (t_ref + t_cur))
                     + pow(n_cur - (n_ref + n_cur) * t_cur::double / (t_ref + t_cur), 2)
                       / ((n_cur + n_ref) * t_cur::double / (t_ref + t_cur)),
                     6) AS chi2_contrib
            FROM h, t
        """,
        "q30_json_validation": """
            WITH j AS (
              SELECT try_cast(json_extract_string(props, '$.k') AS int) AS k
              FROM events
            ), v AS (
              SELECT 'k' AS field, 'required' AS validator, count(*)::bigint AS n
                FROM j WHERE k IS NULL
              UNION ALL
              SELECT 'k', 'min', count(*)::bigint FROM j
                WHERE k IS NOT NULL AND k < 10
              UNION ALL
              SELECT 'k', 'max', count(*)::bigint FROM j
                WHERE k IS NOT NULL AND k > 95
            )
            SELECT * FROM v WHERE n > 0
        """,
        # sessionize: gaps-and-islands; break is STRICTLY > gap (an
        # event at exactly prev+gap merges in Spark's session_window —
        # pinned by experiment)
        "q102_sessionize": """
            WITH e AS (
              SELECT user_id AS "user", ts, value
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), f AS (
              SELECT "user", ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY "user" ORDER BY ts)
                               > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
              FROM e
            ), g AS (
              SELECT "user", ts, value,
                     sum(brk) OVER (PARTITION BY "user" ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
              FROM f
            )
            SELECT "user", min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::bigint AS n_events, sum(value) AS sum_value
            FROM g GROUP BY "user", sid
        """,
        # asof: DuckDB native ASOF LEFT JOIN (inclusive >=); lag in
        # floored epoch seconds (epoch_us // 1e6) to match Spark's
        # cast(timestamp as long); tolerance applied on the floored lag
        "q103_asof_join": """
            WITH clicks AS (
              SELECT user_id, ts, max(event_id) AS click_id
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ), pur AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ), j AS (
              SELECT p.event_id, p.user_id, p.ts, c.ts AS cts, c.click_id,
                     (epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000)
                       AS lag_s
              FROM pur p ASOF LEFT JOIN clicks c
                ON p.user_id = c.user_id AND p.ts >= c.ts
            )
            SELECT event_id, user_id, ts,
                   CASE WHEN lag_s <= 172800 THEN cts END AS r_ts,
                   CASE WHEN lag_s <= 172800 THEN click_id END AS r_click_id,
                   CASE WHEN lag_s <= 172800 THEN lag_s END AS asof_lag_s
            FROM j
        """,
        # streaming sessionize: same gaps-and-islands as q102 over the
        # odd-event_id cohort; round-6 on the sum (micro-batch addition
        # order differs; values are 2-decimal so the 6th-decimal tick
        # is never contested)
        "q105_streaming_sessionize": """
            WITH e AS (
              SELECT user_id AS "user", ts, value
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND coalesce(event_id, 0) % 2 = 1
            ), f AS (
              SELECT "user", ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY "user" ORDER BY ts)
                               > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
              FROM e
            ), g AS (
              SELECT "user", ts, value,
                     sum(brk) OVER (PARTITION BY "user" ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
              FROM f
            )
            SELECT "user", min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::bigint AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM g GROUP BY "user", sid
        """,
        # event-stream quality: same (ts, seq)-ordered lag arithmetic;
        # gaps in exact epoch microseconds, floored to seconds on output
        "q106_event_stream_quality": """
            WITH e AS (
              SELECT user_id AS "user",
                     CASE WHEN coalesce(event_id, 0) % 31 = 0
                          THEN ts - INTERVAL 3 DAY ELSE ts END AS ts,
                     event_id AS seq
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), f AS (
              SELECT "user",
                     epoch_us(ts) - epoch_us(lag(ts) OVER
                       (PARTITION BY "user" ORDER BY ts, seq)) AS gap_us,
                     (seq < lag(seq) OVER
                       (PARTITION BY "user" ORDER BY ts, seq)) AS inv,
                     (ts = lag(ts) OVER
                       (PARTITION BY "user" ORDER BY ts, seq)) AS dup
              FROM e
            )
            SELECT "user", count(*)::bigint AS n_events,
                   sum(CASE WHEN gap_us > 86400000000 THEN 1 ELSE 0 END)::bigint
                     AS n_big_gaps,
                   (max(gap_us) // 1000000)::bigint AS max_gap_s,
                   sum(CASE WHEN inv THEN 1 ELSE 0 END)::bigint
                     AS n_seq_inversions,
                   sum(CASE WHEN dup THEN 1 ELSE 0 END)::bigint AS n_ts_dups
            FROM f GROUP BY "user"
        """,
        # funnel: identical running-min(CASE) window construction; ROWS
        # frame stated explicitly (RANGE-default tie gotcha); depth ::int
        "q107_funnel": """
            WITH e AS (
              SELECT user_id AS "user", ts, event_type AS k, event_id AS seq
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), a1 AS (
              SELECT *, min(CASE WHEN k = 'signup' THEN ts END) OVER
                       (PARTITION BY "user" ORDER BY ts, seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS t1r
              FROM e
            ), a2 AS (
              SELECT *, CASE WHEN k = 'click' AND t1r IS NOT NULL
                              AND epoch_us(ts) - epoch_us(t1r) <= 129600000000
                         THEN ts END AS c2ts
              FROM a1
            ), a3 AS (
              SELECT *, min(c2ts) OVER
                       (PARTITION BY "user" ORDER BY ts, seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS t2r
              FROM a2
            ), a4 AS (
              SELECT *, CASE WHEN k = 'purchase' AND t2r IS NOT NULL
                              AND epoch_us(ts) - epoch_us(t2r) <= 129600000000
                         THEN ts END AS c3ts
              FROM a3
            ), g AS (
              SELECT "user",
                     min(CASE WHEN k = 'signup' THEN ts END) AS t1,
                     min(c2ts) AS t2, min(c3ts) AS t3
              FROM a4 GROUP BY "user"
            )
            SELECT "user", t1, t2, t3,
                   (CASE WHEN t3 IS NOT NULL THEN 3
                         WHEN t2 IS NOT NULL THEN 2
                         WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::int AS depth
            FROM g
        """,
        # cohort retention: naive distinct-count SQL is a fine oracle
        # (the engine-side bitmask is a plan optimization, not a
        # semantic change)
        "q108_cohort_retention": """
            WITH e AS (
              SELECT user_id AS u, CAST(ts AS DATE) AS day
              FROM events
              WHERE event_type = 'purchase'
                AND user_id IS NOT NULL AND ts IS NOT NULL
            ), f AS (
              SELECT u, min(day) AS cohort_day FROM e GROUP BY u
            ), a AS (
              SELECT DISTINCT u, day FROM e
            ), j AS (
              SELECT a.u, f.cohort_day,
                     date_diff('day', f.cohort_day, a.day) // 7 AS wk
              FROM a JOIN f ON a.u = f.u
            )
            SELECT cohort_day, count(DISTINCT u)::bigint AS n_users,
                   count(DISTINCT CASE WHEN wk = 0 THEN u END)::bigint AS w0,
                   count(DISTINCT CASE WHEN wk = 1 THEN u END)::bigint AS w1,
                   count(DISTINCT CASE WHEN wk = 2 THEN u END)::bigint AS w2,
                   count(DISTINCT CASE WHEN wk = 3 THEN u END)::bigint AS w3
            FROM j GROUP BY cohort_day
        """,
        # rolling window: identical RANGE frame over epoch microseconds
        # (tie-inclusive in both engines); frame-bounded fp sum is
        # round-6 safe under the gate's rounding
        "q109_rolling_window": """
            WITH e AS (
              SELECT event_id, user_id, value, epoch_us(ts) AS us
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            )
            SELECT event_id,
                   count(*) OVER (PARTITION BY user_id ORDER BY us
                                  RANGE BETWEEN 86400000000 PRECEDING
                                  AND CURRENT ROW)::bigint AS n_in_window,
                   sum(value) OVER (PARTITION BY user_id ORDER BY us
                                    RANGE BETWEEN 86400000000 PRECEDING
                                    AND CURRENT ROW) AS sum_in_window
            FROM e
        """,
        # distinctive terms: same normalize/split machinery as the
        # dedup oracles; integer-exact score replayed with // (both
        # operands positive, so DuckDB floor == Spark div truncation)
        "q110_distinctive_terms": f"""
            WITH c AS (
              SELECT doc_id, {_NORM} AS t FROM documents
            ), tk AS (
              SELECT doc_id, unnest(regexp_split_to_array(t, ' ')) AS term
              FROM c WHERE length(t) > 0
            ), tf AS (
              SELECT doc_id, term, count(*)::bigint AS tf
              FROM tk GROUP BY doc_id, term
            ), dfq AS (
              SELECT term, count(*)::bigint AS df FROM tf GROUP BY term
            ), s AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                     ((tf.tf * 1000000000) // dfq.df)::bigint AS score
              FROM tf JOIN dfq USING (term)
            ), r AS (
              SELECT *, row_number() OVER
                       (PARTITION BY doc_id
                        ORDER BY score DESC, term ASC)::int AS rank
              FROM s
            )
            SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= 3
        """,
        # hopping windows: replay F.window's epoch-aligned generator —
        # for slide s and window w = 3s, the 3 containing starts are
        # us - us%s - k·s for k in 0..2 (microsecond arithmetic, exact)
        "q111_hopping_windows": """
            WITH e AS (
              SELECT epoch_us(ts) AS us, value
              FROM events WHERE ts IS NOT NULL
            ), w AS (
              SELECT make_timestamp(us - (us % 7200000000)
                                    - k * 7200000000) AS window_start,
                     make_timestamp(us - (us % 7200000000)
                                    - k * 7200000000
                                    + 21600000000) AS window_end,
                     value
              FROM e CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) ks
            )
            SELECT window_start, window_end,
                   count(*)::bigint AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM w GROUP BY window_start, window_end
        """,
        # stream-stream interval join: oracle is the direct keyed
        # inequality join (both bounds inclusive); gap in whole
        # seconds via integer-exact microsecond floor division
        "q112_stream_interval_join": """
            WITH err AS (
              SELECT user_id, ts, event_id AS err_id
              FROM events WHERE event_type = 'error'
                AND user_id IS NOT NULL AND ts IS NOT NULL
            ), clk AS (
              SELECT user_id, ts, event_id AS click_id
              FROM events WHERE event_type = 'click'
                AND user_id IS NOT NULL AND ts IS NOT NULL
            )
            SELECT e.user_id, e.ts AS ts_l, c.ts AS ts_r,
                   e.err_id, c.click_id,
                   ((epoch_us(e.ts) - epoch_us(c.ts)) // 1000000)::bigint
                     AS gap_s
            FROM err e JOIN clk c ON e.user_id = c.user_id
             AND c.ts >= e.ts - INTERVAL 6 HOUR AND c.ts <= e.ts
        """,
        # streaming hopping windows: same k-range replay as q111 with
        # 4h/1h on the even cohort — proving streaming == batch == SQL
        "q113_streaming_hopping": """
            WITH e AS (
              SELECT epoch_us(ts) AS us, value
              FROM events
              WHERE ts IS NOT NULL AND coalesce(event_id, 0) % 2 = 0
            ), w AS (
              SELECT make_timestamp(us - (us % 3600000000)
                                    - k * 3600000000) AS window_start,
                     make_timestamp(us - (us % 3600000000)
                                    - k * 3600000000
                                    + 14400000000) AS window_end,
                     value
              FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
            )
            SELECT window_start, window_end,
                   count(*)::bigint AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM w GROUP BY window_start, window_end
        """,
        # range join: the oracle is the direct inequality join (DuckDB
        # IEJoin); both bounds inclusive
        "q104_range_join": """
            WITH err AS (
              SELECT event_id AS err_id, ts AS lo, ts + INTERVAL 10 MINUTE AS hi
              FROM events WHERE event_type = 'error'
            )
            SELECT err_id, count(*)::bigint AS n_in_window,
                   count(DISTINCT e.user_id)::bigint AS n_users
            FROM err JOIN events e ON e.ts >= err.lo AND e.ts <= err.hi
            GROUP BY err_id
        """,
        # TPC-H Q7 shape: bilateral trade volume, both directions
        "q134_nation_volume": """
            WITH li AS (
              SELECT l_orderkey, l_suppkey,
                     year(l_shipdate)::int AS l_year,
                     round(l_extendedprice * 100)::bigint
                       * (100 - round(l_discount * 100)::bigint) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
            ), s AS (
              SELECT s_suppkey, n_name AS supp_nation FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2')
            ), c AS (
              SELECT c_custkey, n_name AS cust_nation FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2')
            )
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(rev)::double / 10000, 6) AS revenue
            FROM li
            JOIN s ON li.l_suppkey = s.s_suppkey
            JOIN orders o ON li.l_orderkey = o.o_orderkey
            JOIN c ON o.o_custkey = c.c_custkey
            WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
               OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
            GROUP BY supp_nation, cust_nation, l_year
        """,
        # TPC-H Q10 shape: top-20 by exact int64 returned revenue
        "q135_returned_customers": """
            WITH li AS (
              SELECT l_orderkey,
                     round(l_extendedprice * 100)::bigint
                       * (100 - round(l_discount * 100)::bigint) AS rev
              FROM lineitem WHERE l_returnflag = 'R'
            ), o AS (
              SELECT o_orderkey, o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1997-04-01'
            ), g AS (
              SELECT o.o_custkey, sum(li.rev)::bigint AS rev
              FROM li JOIN o ON li.l_orderkey = o.o_orderkey
              GROUP BY o.o_custkey
            )
            SELECT c.c_custkey, c.c_name, n.n_name,
                   round(c.c_acctbal, 2) AS c_acctbal,
                   round(g.rev::double / 10000, 6) AS revenue
            FROM g
            JOIN customer c ON g.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            ORDER BY g.rev DESC, c.c_custkey LIMIT 20
        """,
        # TPC-H Q14 shape: promo share from two exact int64 sums
        "q136_promo_share": """
            WITH li AS (
              SELECT l_partkey,
                     round(l_extendedprice * 100)::bigint
                       * (100 - round(l_discount * 100)::bigint) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-03-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
            ), g AS (
              SELECT sum(CASE WHEN p.p_type = 'PROMO' THEN li.rev
                              ELSE 0 END)::bigint AS promo,
                     sum(li.rev)::bigint AS total
              FROM li JOIN part p ON li.l_partkey = p.p_partkey
            )
            SELECT round(promo::double / 10000, 6) AS promo_revenue,
                   round(total::double / 10000, 6) AS total_revenue,
                   round(100.0 * promo::double / total::double, 6)
                     AS promo_share_pct
            FROM g
        """,
        # TPC-H Q15 shape: global-max suppliers, int64 equality, ties kept
        "q137_top_suppliers": """
            WITH per AS (
              SELECT l_suppkey,
                     sum(round(l_extendedprice * 100)::bigint
                         * (100 - round(l_discount * 100)::bigint))::bigint
                       AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name,
                   round(per.rev::double / 10000, 6) AS total_revenue
            FROM per JOIN supplier s ON per.l_suppkey = s.s_suppkey
            WHERE per.rev = (SELECT max(rev) FROM per)
        """,
        # TPC-H Q17 shape: integer cross-multiplied 20%-of-average test
        "q138_small_qty_revenue": """
            WITH li AS (
              SELECT l.l_partkey,
                     round(l.l_quantity * 100)::bigint AS qty_c,
                     round(l.l_extendedprice * 100)::bigint AS price_c
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_brand = 'Brand#1' AND p.p_size <= 20
            ), per AS (
              SELECT l_partkey AS pk, sum(qty_c)::bigint AS sum_qty_c,
                     count(*)::bigint AS n
              FROM li GROUP BY l_partkey
            )
            SELECT round(sum(li.price_c)::double / 100 / 7.0, 6)
                     AS avg_yearly,
                   count(*)::bigint AS n_small_lines
            FROM li JOIN per ON li.l_partkey = per.pk
            WHERE li.qty_c * 5 * per.n < per.sum_qty_c
        """,
        # TPC-H Q18 shape: HAVING on exact int64 quantity-cents
        "q139_large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey,
                     sum(round(l_quantity * 100)::bigint)::bigint
                       AS sum_qty_c
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(round(l_quantity * 100)::bigint) > 14000
            )
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
                   round(o.o_totalprice, 2) AS o_totalprice,
                   round(big.sum_qty_c::double / 100, 6) AS total_qty
            FROM orders o
            JOIN big ON o.o_orderkey = big.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        # TPC-H Q19 shape: disjunctive brand/size/qty bands
        "q140_disjunctive_revenue": """
            SELECT round(sum(round(l_extendedprice * 100)::bigint
                       * (100 - round(l_discount * 100)::bigint))::double
                     / 10000, 6) AS revenue,
                   count(*)::bigint AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        # TPC-H Q21 shape: two stacked aggregates replace the double
        # correlated EXISTS; late = shipped >90 days after order date
        "q141_waiting_suppliers": """
            WITH per_os AS (
              SELECT l.l_orderkey, l.l_suppkey,
                     max(CASE WHEN l.l_shipdate
                                   > o.o_orderdate + INTERVAL 90 DAY
                              THEN 1 ELSE 0 END) AS supp_late
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY l.l_orderkey, l.l_suppkey
            ), per_o AS (
              SELECT l_orderkey, count(*)::bigint AS n_supp,
                     sum(supp_late)::bigint AS n_late,
                     max(CASE WHEN supp_late = 1 THEN l_suppkey END)
                       AS late_supp
              FROM per_os GROUP BY l_orderkey
            ), g AS (
              SELECT late_supp AS s_suppkey, count(*)::bigint AS numwait
              FROM per_o WHERE n_supp > 1 AND n_late = 1
              GROUP BY late_supp
            )
            SELECT g.s_suppkey, s.s_name, g.numwait
            FROM g JOIN supplier s ON g.s_suppkey = s.s_suppkey
            ORDER BY g.numwait DESC, g.s_suppkey LIMIT 25
        """,
        # integer-exact PageRank: 3 unrolled rounds; DuckDB // replays
        # Spark DIV bit-for-bit on non-negative int64 (rank in 1e-12
        # units, damping 85%, teleport 15/(100*N))
        "q142_pagerank": """
            WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
            e AS (
              SELECT doc_id::bigint AS src,
                     (doc_id::bigint * 7 + 1) % nn.n AS dst
              FROM documents, nn
              UNION ALL
              SELECT doc_id::bigint, (doc_id::bigint * 13 + 3) % nn.n
              FROM documents, nn
              UNION ALL
              SELECT doc_id::bigint, (doc_id::bigint * 31 + 7) % nn.n
              FROM documents, nn
            ),
            od AS (SELECT src, count(*)::bigint AS outdeg
                   FROM e GROUP BY src),
            nodes AS (SELECT DISTINCT node FROM (
              SELECT src AS node FROM e
              UNION ALL SELECT dst FROM e)),
            r0 AS (
              SELECT node,
                     (1000000000000::bigint // nn.n)::bigint AS r,
                     (15000000000000::bigint // (100 * nn.n))::bigint
                       AS base
              FROM nodes, nn
            ),
            c1 AS (
              SELECT e.dst,
                     sum((r0.r * 85 // 100) // od.outdeg)::bigint AS s
              FROM e JOIN od ON e.src = od.src
              JOIN r0 ON e.src = r0.node GROUP BY e.dst
            ),
            r1 AS (
              SELECT r0.node, r0.base,
                     (r0.base + coalesce(c1.s, 0))::bigint AS r
              FROM r0 LEFT JOIN c1 ON r0.node = c1.dst
            ),
            c2 AS (
              SELECT e.dst,
                     sum((r1.r * 85 // 100) // od.outdeg)::bigint AS s
              FROM e JOIN od ON e.src = od.src
              JOIN r1 ON e.src = r1.node GROUP BY e.dst
            ),
            r2 AS (
              SELECT r1.node, r1.base,
                     (r1.base + coalesce(c2.s, 0))::bigint AS r
              FROM r1 LEFT JOIN c2 ON r1.node = c2.dst
            ),
            c3 AS (
              SELECT e.dst,
                     sum((r2.r * 85 // 100) // od.outdeg)::bigint AS s
              FROM e JOIN od ON e.src = od.src
              JOIN r2 ON e.src = r2.node GROUP BY e.dst
            ),
            r3 AS (
              SELECT r2.node,
                     (r2.base + coalesce(c3.s, 0))::bigint AS r
              FROM r2 LEFT JOIN c3 ON r2.node = c3.dst
            )
            SELECT node, r AS rank_e12,
                   round(r::double / 1000000000000, 9) AS rank
            FROM r3
        """,
        # BPE merge candidates: pair counts over the DISTINCT
        # vocabulary weighted by word frequency (the compression trick)
        "q143_bpe_merges": f"""
            WITH words AS (
              SELECT word, count(*)::bigint AS wc FROM (
                SELECT unnest(string_split({_NORM}, ' ')) AS word
                FROM documents
              ) WHERE len(word) >= 2 GROUP BY word
            ), pos AS (
              SELECT word, wc,
                     unnest(generate_series(1, len(word) - 1)) AS i
              FROM words
            ), pairs AS (
              SELECT substr(word, i, 1) AS lhs,
                     substr(word, i + 1, 1) AS rhs, wc
              FROM pos
            ), g AS (
              SELECT lhs, rhs, sum(wc)::bigint AS pair_count
              FROM pairs GROUP BY lhs, rhs
            )
            SELECT lhs, rhs, pair_count FROM g
            ORDER BY pair_count DESC, lhs, rhs LIMIT 50
        """,
        # per-doc unigram entropy: exact int64 counts, round-6 double
        # (bounded per-doc cardinality => addition-order safe)
        "q144_token_entropy": f"""
            WITH toks AS (
              SELECT doc_id AS key,
                     unnest(string_split({_NORM}, ' ')) AS tok
              FROM documents
            ), tf AS (
              SELECT key, tok, count(*)::bigint AS c
              FROM toks WHERE len(tok) >= 1 GROUP BY key, tok
            ), g AS (
              SELECT key, sum(c)::bigint AS n_tokens,
                     count(*)::bigint AS n_distinct,
                     sum(c::double * ln(c::double)) AS clogc
              FROM tf GROUP BY key
            )
            SELECT key, n_tokens, n_distinct,
                   round(ln(n_tokens::double) - clogc / n_tokens::double, 6)
                     AS entropy_nats
            FROM g
        """,
        # JL ±1 projection: sign matrix inlined from the operator (one
        # source of truth); list_aggregate 'sum' == Spark left fold
        # bit-for-bit (round-3 gotcha), /4.0 is exact
        "q145_random_projection": _jl_oracle_sql(),
        # canary phrase check: zero-hit phrases preserved (phrase list
        # crossed with the corpus, not derived from matches)
        "q146_phrase_contamination": f"""
            WITH p AS (
              SELECT unnest({_CANARY_PHRASES}) AS phrase
            )
            SELECT p.phrase,
                   sum(CASE WHEN instr(coalesce(d.text, ''), p.phrase) > 0
                            THEN 1 ELSE 0 END)::bigint AS n_docs
            FROM p CROSS JOIN documents d
            GROUP BY p.phrase
        """,
        # exact continuous quantiles: identical (n-1)*p interpolation
        "q147_group_percentiles": """
            SELECT lang, source,
                   round(quantile_cont(n_chars::double, 0.25), 6) AS p25,
                   round(quantile_cont(n_chars::double, 0.50), 6) AS p50,
                   round(quantile_cont(n_chars::double, 0.75), 6) AS p75,
                   round(quantile_cont(n_chars::double, 0.95), 6) AS p95,
                   count(n_chars)::bigint AS n
            FROM documents GROUP BY lang, source
        """,
        # streaming LEFT-OUTER interval join == the direct SQL left
        # join (unmatched errors carry NULL click columns / NULL gap)
        "q148_stream_outer_interval_join": """
            WITH err AS (
              SELECT user_id, ts, event_id AS err_id FROM events
              WHERE event_type = 'error' AND ts IS NOT NULL
            ), clk AS (
              SELECT user_id, ts, event_id AS click_id FROM events
              WHERE event_type = 'click' AND ts IS NOT NULL
            )
            SELECT err.user_id, err.ts AS ts_l, clk.ts AS ts_r,
                   err.err_id, clk.click_id,
                   (epoch_us(err.ts) - epoch_us(clk.ts)) // 1000000
                     AS gap_s
            FROM err LEFT JOIN clk
              ON err.user_id = clk.user_id
             AND clk.ts >= err.ts - INTERVAL 6 HOUR
             AND clk.ts <= err.ts
        """,
        # bucketed co-located join == the plain join (bucketing is a
        # LAYOUT property; results must be identical)
        "q149_bucketed_join": """
            SELECT o.o_orderstatus,
                   round(sum(round(l.l_extendedprice * 100)::bigint
                         * (100 - round(l.l_discount * 100)::bigint)
                       )::double / 10000, 6) AS revenue,
                   count(*)::bigint AS n_lines
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderstatus
        """,
        # mergeSchema union profile: per-column presence of the
        # evolved corpus (A: doc_id,lang,n_chars; B: doc_id,lang,tier)
        "q150_schema_evolution": """
            WITH a AS (
              SELECT doc_id, lang, n_chars FROM documents
              WHERE doc_id % 2 = 0
            ), b AS (
              SELECT doc_id, lang,
                     CASE WHEN n_chars >= 400 THEN 'long'
                          ELSE 'short' END AS quality_tier
              FROM documents WHERE doc_id % 2 = 1
            ), u AS (
              SELECT doc_id, lang, n_chars,
                     NULL::varchar AS quality_tier FROM a
              UNION ALL
              SELECT doc_id, lang, NULL::bigint, quality_tier FROM b
            ), counts AS (
              SELECT count(*)::bigint AS n_rows,
                     count(doc_id)::bigint AS nn_doc_id,
                     count(lang)::bigint AS nn_lang,
                     count(n_chars)::bigint AS nn_n_chars,
                     count(quality_tier)::bigint AS nn_quality_tier
              FROM u
            )
            SELECT 'doc_id' AS column, n_rows, nn_doc_id AS n_nonnull,
                   n_rows - nn_doc_id AS n_null FROM counts
            UNION ALL
            SELECT 'lang', n_rows, nn_lang, n_rows - nn_lang FROM counts
            UNION ALL
            SELECT 'n_chars', n_rows, nn_n_chars, n_rows - nn_n_chars
            FROM counts
            UNION ALL
            SELECT 'quality_tier', n_rows, nn_quality_tier,
                   n_rows - nn_quality_tier FROM counts
        """,
        # partition-pruned week rollup == plain filtered rollup (the
        # layout changes the SCAN, never the result); per-group fp sum
        # is round-6 safe at bounded group cardinality
        "q151_partition_pruning": """
            SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
                   count(*)::bigint AS n,
                   round(sum(value), 6) AS sum_value
            FROM events
            WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08'
                                               AND '2024-01-14'
            GROUP BY 1, 2
        """,
        # NFC normalization: unicodedata.normalize (Spark pandas UDF)
        # vs DuckDB nfc_normalize, byte equality via md5; chr(769) is
        # the combining acute, chr(233) the precomposed e-acute
        "q152_nfc_normalization": """
            WITH salted AS (
              SELECT doc_id AS key,
                     CASE WHEN doc_id % 5 = 0
                            THEN text || 'cafe' || chr(769)
                          WHEN doc_id % 7 = 2
                            THEN text || 'caf' || chr(233)
                          ELSE text END AS t
              FROM documents
            )
            SELECT key,
                   md5(coalesce(nfc_normalize(t), '')) AS nfc_fp,
                   (nfc_normalize(t) <> t) AS changed
            FROM salted
        """,
        # order-insensitive row-set checksum: commutative sum of
        # 56-bit md5 prefixes, exact decimal, emitted as string
        "q153_table_checksum": """
            SELECT source,
                   sum(('0x' || substr(md5(concat_ws('|',
                         CASE WHEN doc_id IS NULL THEN 'N'
                              ELSE md5(doc_id::varchar) END,
                         CASE WHEN lang IS NULL THEN 'N'
                              ELSE md5(lang) END,
                         CASE WHEN n_chars IS NULL THEN 'N'
                              ELSE md5(n_chars::varchar) END,
                         CASE WHEN text IS NULL THEN 'N'
                              ELSE md5(text) END
                       )), 1, 14))::bigint)::decimal(38,0)::varchar
                     AS checksum,
                   count(*)::bigint AS n_rows
            FROM documents GROUP BY source
        """,
        # temperature-scaled mix: integer ppm natural shares; the only
        # floats are the p^alpha normalization over a bounded stratum
        # count (round-6 safe)
        "q154_mix_temperature": """
            WITH sizes AS (
              SELECT source, sum(n_chars)::bigint AS n_units
              FROM documents GROUP BY source
            ), tot AS (
              SELECT sum(n_units)::bigint AS t FROM sizes
            ), powd AS (
              SELECT source, n_units, t,
                     (n_units * 1000000 // t)::bigint AS share_ppm,
                     pow(n_units::double / t, 0.7) AS pa
              FROM sizes, tot
            ), z AS (SELECT sum(pa) AS z FROM powd)
            SELECT source, n_units, share_ppm,
                   round(pa / z, 6) AS target_share,
                   round((pa / z) / (n_units::double / t), 6)
                     AS sample_rate
            FROM powd, z
        """,
        # duplication topline: cluster-size distribution of exact dups
        "q155_duplication_profile": f"""
            WITH salted AS (
              SELECT CASE WHEN doc_id % 5 = 0
                          THEN 'boilerplate template ' ||
                               (doc_id % 7)::varchar
                          ELSE text END AS text
              FROM documents
            ), sizes AS (
              SELECT md5({_NORM.replace("documents", "salted")}) AS fp,
                     count(*)::bigint AS cluster_size
              FROM salted GROUP BY 1
            )
            SELECT cluster_size, count(*)::bigint AS n_clusters,
                   (count(*) * cluster_size)::bigint AS n_docs
            FROM sizes GROUP BY cluster_size
        """,
        # debounce: gaps-and-islands with the SAME <= gap chain rule
        # as q102; first-of-burst by (ts, event_id)
        "q156_debounce": """
            WITH e AS (
              SELECT user_id AS key, ts, event_id FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), f AS (
              SELECT key, ts, event_id,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY key
                                                  ORDER BY ts, event_id)
                               > INTERVAL 2 MINUTE THEN 1 ELSE 0 END AS brk
              FROM e
            ), g AS (
              SELECT key, ts, event_id,
                     sum(brk) OVER (PARTITION BY key
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS bid
              FROM f
            ), bursts AS (
              SELECT key, bid, min(ts) AS kept_ts,
                     count(*)::bigint - 1 AS n_folded
              FROM g GROUP BY key, bid
            ), first_ids AS (
              SELECT key, bid, event_id AS kept_id FROM (
                SELECT key, bid, event_id,
                       row_number() OVER (PARTITION BY key, bid
                                          ORDER BY ts, event_id) AS rn
                FROM g)
              WHERE rn = 1
            )
            SELECT b.key, b.kept_ts, fi.kept_id, b.n_folded
            FROM bursts b JOIN first_ids fi
              ON b.key = fi.key AND b.bid = fi.bid
        """,
        # TPC-H Q6 shape: zero-join band-filtered exact revenue sum
        "q157_forecast_revenue": """
            SELECT round(sum(round(l_extendedprice * 100)::bigint
                             * round(l_discount * 100)::bigint
                         )::double / 10000, 6) AS revenue,
                   count(*)::bigint AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND round(l_discount * 100)::bigint BETWEEN 2 AND 4
              AND round(l_quantity * 100)::bigint < 2400
        """,
        # nested span enrichment replayed flat: same per-span formulas
        # as q43's fixture, n_tokens = whitespace tokens of the slice
        "q158_span_annotate": """
            WITH base AS (
              SELECT doc_id, i,
                (['text','image','audio'])[((doc_id + i) % 3)::int + 1]
                  AS kind,
                substr(coalesce(text,''), 1 + i * 10, 10) AS t
              FROM documents
              CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
            )
            SELECT doc_id, i::int AS idx, kind,
                   strlen(t)::int AS n_chars,
                   (CASE WHEN trim(t) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(t), '\s+'))
                    END)::int AS n_tokens,
                   (kind <> 'text') AS has_ref
            FROM base
        """,
        # timer-sealed stateful sessions == the q102 gaps-and-islands
        # SQL (same <= gap chain rule; counts, min/max event times)
        "q159_stateful_sessionize": """
            WITH e AS (
              SELECT user_id AS key, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), f AS (
              SELECT key, ts,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY key
                                                  ORDER BY ts)
                               > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
              FROM e
            ), g AS (
              SELECT key, ts,
                     sum(brk) OVER (PARTITION BY key ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
              FROM f
            )
            SELECT key, min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::bigint AS n_events
            FROM g GROUP BY key, sid
        """,
        # custom Python DataSource replay: every row is md5('7:'||i)
        # arithmetic over range(5000) — the source IS its own oracle
        "q160_python_datasource": """
            WITH rows_ AS (
              SELECT i, md5('7:' || i::varchar) AS h
              FROM (SELECT unnest(range(5000)) AS i)
            ), r AS (
              SELECT substr(h, 1, 1) AS cat,
                     ('0x' || substr(h, 1, 6))::bigint AS value,
                     'w' || substr(h, 1, 2) || ' w' || substr(h, 3, 2)
                       || ' w' || substr(h, 5, 2) AS text
              FROM rows_
            )
            SELECT cat, count(*)::bigint AS n,
                   sum(value)::bigint AS sum_value,
                   md5(string_agg(text, '|' ORDER BY text)) AS texts_fp
            FROM r GROUP BY cat
        """,
        # UDTF replay: same normalize + adjacent word pairs, top-25
        "q161_ngram_udtf": f"""
            WITH words AS (
              SELECT doc_id,
                     string_split({_NORM}, ' ') AS ws
              FROM documents
            ), pos AS (
              SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws) - 1)) AS i
              FROM words WHERE len(ws) >= 2
            ), grams AS (
              SELECT ws[i] || ' ' || ws[i + 1] AS gram
              FROM pos WHERE ws[i] <> '' AND ws[i + 1] <> ''
            )
            SELECT gram, count(*)::bigint AS n
            FROM grams GROUP BY gram
            ORDER BY n DESC, gram LIMIT 25
        """,
        # streaming custom source == the same md5 replay as q160
        "q162_python_stream_source": """
            WITH rows_ AS (
              SELECT i, md5('7:' || i::varchar) AS h
              FROM (SELECT unnest(range(5000)) AS i)
            ), r AS (
              SELECT substr(h, 1, 1) AS cat,
                     ('0x' || substr(h, 1, 6))::bigint AS value,
                     'w' || substr(h, 1, 2) || ' w' || substr(h, 3, 2)
                       || ' w' || substr(h, 5, 2) AS text
              FROM rows_
            )
            SELECT cat, count(*)::bigint AS n,
                   sum(value)::bigint AS sum_value,
                   md5(string_agg(text, '|' ORDER BY text)) AS texts_fp
            FROM r GROUP BY cat
        """,
        # VARIANT replay: same JSON fixture; extraction behind a
        # json-valid guard (DuckDB json_extract THROWS on bad json)
        "q163_variant_extraction": """
            WITH built AS (
              SELECT doc_id,
                     '{"id": ' || doc_id::varchar
                     || ', "meta": {"lang": "' || lang
                     || '", "n": ' || n_chars::varchar
                     || '}, "tags": ["t' || (doc_id % 5)::varchar
                     || '", "t' || (doc_id % 3)::varchar || '"]}' AS j
              FROM documents
            ), payloads AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 6 THEN substr(j, 1, 20)
                          ELSE j END AS payload
              FROM built
            )
            SELECT doc_id,
                   json_valid(payload) AS json_valid,
                   CASE WHEN json_valid(payload)
                        THEN json_extract(payload, '$.id')::bigint END
                     AS vid,
                   CASE WHEN json_valid(payload)
                        THEN json_extract_string(payload, '$.meta.lang')
                     END AS vlang,
                   CASE WHEN json_valid(payload)
                        THEN json_extract(payload, '$.meta.n')::bigint END
                     AS vn,
                   CASE WHEN json_valid(payload)
                        THEN json_extract_string(payload, '$.tags[0]')
                     END AS tag0,
                   NULL::bigint AS lang_as_long
            FROM payloads
        """,
        # pandas UDAF replay: DuckDB's mad() is the same
        # median-of-absolute-deviations with interpolated medians
        "q164_group_mad": """
            SELECT lang, source,
                   round(mad(n_chars::double), 6) AS mad,
                   count(n_chars)::bigint AS n
            FROM documents GROUP BY lang, source
        """,
        # PII span replay: same salts, same Java-AND-RE2 patterns as
        # the scrub filters (imported one-source-of-truth below)
        "q165_pii_spans": _pii_spans_oracle_sql(),
        # tie-safe grouped top-k: dense_rank over the aggregate
        "q166_top_sources_with_ties": """
            WITH g AS (
              SELECT lang, source, count(*)::bigint AS n_docs
              FROM documents GROUP BY lang, source
            )
            SELECT lang, source, n_docs, rnk FROM (
              SELECT lang, source, n_docs,
                     dense_rank() OVER (PARTITION BY lang
                                        ORDER BY n_docs DESC)::bigint
                       AS rnk
              FROM g)
            WHERE rnk <= 2
        """,
        # q167: the oracle recomputes the cohort verdicts directly —
        # cohort 0 (NULL parent) contributes NO violation row; if the
        # optional gate ever broke, addr.city/required would pick up
        # cohort 0's count and the hash would diverge
        "q167_optional_parent_gate": """
            WITH c AS (SELECT event_id % 4 AS k FROM events)
            SELECT * FROM (
              SELECT 'addr.city' AS field, 'required' AS validator,
                     count(*)::bigint AS n FROM c WHERE k = 1
              UNION ALL
              SELECT 'addr.city' AS field, 'minLength' AS validator,
                     count(*)::bigint AS n FROM c WHERE k = 2
              UNION ALL
              SELECT 'addr.zip' AS field, 'regexp' AS validator,
                     count(*)::bigint AS n FROM c WHERE k = 1
            ) WHERE n > 0
        """,
        "q168_typed_validator_discovery": """
            WITH d AS (
              SELECT doc_id, text,
                CASE WHEN m = 0 THEN ''
                     WHEN m = 1 THEN 'srcXX'
                     ELSE source END AS src2,
                CASE WHEN m = 2 THEN n_chars + 7
                     ELSE n_chars END AS nc2
              FROM (
                SELECT *,
                  coalesce(try_cast(regexp_extract(source, '([0-9]+)$', 1)
                                    AS BIGINT), 0) % 5 AS m
                FROM documents)
            )
            SELECT * FROM (
              SELECT 'src2' AS field, 'required' AS validator,
                     count(*)::bigint AS n
              FROM d WHERE src2 IS NULL OR src2 = ''
              UNION ALL
              SELECT 'src2' AS field, 'sourceSlot' AS validator,
                     count(*)::bigint AS n
              FROM d
              WHERE src2 IS NOT NULL AND src2 <> ''
                AND NOT (regexp_extract(src2, '^src([0-9]+)$', 1) <> ''
                         AND try_cast(regexp_extract(src2, '^src([0-9]+)$', 1)
                                      AS BIGINT) < 40)
              UNION ALL
              SELECT 'nc2' AS field, 'fitsChars' AS validator,
                     count(*)::bigint AS n
              FROM d
              WHERE nc2 IS NOT NULL
                AND (text IS NULL OR nc2 <> length(text))
            ) WHERE n > 0
        """,
        # TPC-H Q2 shape over the derived partsupp (see _PS_SQL)
        "q169_min_cost_supplier": _PS_SQL + """,
            sup_r AS (
              SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
              FROM supplier s
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'EUROPE'
            ),
            eligible AS (
              SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_c,
                     u.s_name, u.s_acctbal, u.n_name
              FROM ps JOIN sup_r u ON ps.ps_suppkey = u.s_suppkey
            ),
            mc AS (
              SELECT ps_partkey, min(ps_supplycost_c) AS min_c
              FROM eligible GROUP BY ps_partkey
            )
            SELECT e.s_acctbal, e.s_name, e.n_name,
                   e.ps_partkey AS p_partkey, p.p_type,
                   round(e.ps_supplycost_c / 100.0, 6) AS supplycost
            FROM eligible e
            JOIN mc ON e.ps_partkey = mc.ps_partkey
                   AND e.ps_supplycost_c = mc.min_c
            JOIN part p ON e.ps_partkey = p.p_partkey
            WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 25
            ORDER BY e.s_acctbal DESC, e.n_name, e.s_name,
                     e.ps_partkey, e.ps_suppkey
            LIMIT 100
        """,
        # TPC-H Q8 shape: exact int64 1e-4 volume, one final division
        "q170_market_share": """
            WITH o AS (
              SELECT o_orderkey, o_custkey, year(o_orderdate)::int AS o_year
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                AND o_orderdate <  TIMESTAMP '1997-01-01'
            ), j AS (
              SELECT o.o_year,
                     round(l.l_extendedprice * 100)::bigint
                       * (100 - round(l.l_discount * 100)::bigint) AS v,
                     sn.n_name AS supp_nation
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
                         AND p.p_type = 'ECONOMY'
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              JOIN o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation cn ON c.c_nationkey = cn.n_nationkey
              JOIN region r ON cn.n_regionkey = r.r_regionkey
                           AND r.r_name = 'AMERICA'
            )
            SELECT o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_5'
                                  THEN v ELSE 0 END)::double
                         / sum(v)::double, 6) AS mkt_share
            FROM j GROUP BY o_year ORDER BY o_year
        """,
        # TPC-H Q9 shape over the derived partsupp
        "q171_product_profit": _PS_SQL + """,
            pn AS (SELECT p_partkey::bigint AS pk FROM part
                   WHERE p_name LIKE '%bolt%'),
            psx AS (SELECT ps.* FROM ps
                    JOIN pn ON ps.ps_partkey = pn.pk),
            j AS (
              SELECT n.n_name AS nation,
                     year(o.o_orderdate)::int AS o_year,
                     round(l.l_extendedprice * 100)::bigint
                       * (100 - round(l.l_discount * 100)::bigint)
                     - x.ps_supplycost_c
                       * round(l.l_quantity * 100)::bigint AS a
              FROM lineitem l
              JOIN psx x ON l.l_partkey = x.ps_partkey
                        AND l.l_suppkey = x.ps_suppkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN orders o ON l.l_orderkey = o.o_orderkey
            )
            SELECT nation, o_year, round(sum(a)::double / 10000, 6) AS profit
            FROM j GROUP BY nation, o_year
            ORDER BY nation, o_year DESC
        """,
        # TPC-H Q11 shape: integer cross-multiplied HAVING
        "q172_important_stock": _PS_SQL + """,
            sup_r AS (
              SELECT s.s_suppkey FROM supplier s
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'ASIA'
            ),
            val AS (
              SELECT ps.ps_partkey,
                     ps.ps_supplycost_c * ps.ps_availqty AS v
              FROM ps JOIN sup_r u ON ps.ps_suppkey = u.s_suppkey
            ),
            per_part AS (
              SELECT ps_partkey, sum(v)::bigint AS pv
              FROM val GROUP BY ps_partkey
            ),
            total AS (SELECT sum(v)::bigint AS tv FROM val)
            SELECT ps_partkey,
                   round(pv::double / 100, 6) AS stock_value
            FROM per_part, total
            WHERE pv * 1000 > 2 * tv
            ORDER BY stock_value DESC, ps_partkey
        """,
        # TPC-H Q12 shape (adapted: lateness bucket x priority class)
        "q173_late_priority": """
            SELECT CASE WHEN l.l_shipdate
                             > o.o_orderdate + INTERVAL 60 DAY
                        THEN 'late' ELSE 'ontime' END AS ship_bucket,
                   sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END)::bigint AS high_line_count,
                   sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END)::bigint AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY 1 ORDER BY 1
        """,
        # TPC-H Q16 shape: distinct via stacked GROUP BYs
        "q174_supplier_part_counts": _PS_SQL + """,
            p AS (
              SELECT p_partkey::bigint AS pk, p_brand, p_type, p_size
              FROM part
              WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
                AND p_size IN (1,4,7,10,14,19,23,45)
            ),
            ok_sup AS (
              SELECT s_suppkey FROM supplier WHERE s_acctbal >= 1000.0
            ),
            per_supp AS (
              SELECT p.p_brand, p.p_type, p.p_size, ps.ps_suppkey
              FROM ps
              JOIN p ON ps.ps_partkey = p.pk
              WHERE ps.ps_suppkey IN (SELECT s_suppkey FROM ok_sup)
              GROUP BY 1, 2, 3, 4
            )
            SELECT p_brand, p_type, p_size,
                   count(*)::bigint AS supplier_cnt
            FROM per_supp GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        # TPC-H Q20 shape: correlated half-sum as pre-aggregate + int cmp
        "q175_excess_stock_suppliers": _PS_SQL + """,
            pn AS (SELECT p_partkey::bigint AS pk FROM part
                   WHERE p_name LIKE 'red%'),
            psx AS (SELECT ps.* FROM ps JOIN pn ON ps.ps_partkey = pn.pk),
            shipped AS (
              SELECT l_partkey::bigint AS lpk, l_suppkey::bigint AS lsk,
                     sum(round(l_quantity * 100)::bigint)::bigint AS sq_c
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1997-01-01'
              GROUP BY 1, 2
            ),
            excess AS (
              SELECT x.ps_suppkey
              FROM psx x
              LEFT JOIN shipped sh ON x.ps_partkey = sh.lpk
                                  AND x.ps_suppkey = sh.lsk
              WHERE x.ps_availqty * 200 > coalesce(sh.sq_c, 0)
              GROUP BY x.ps_suppkey
            )
            SELECT s.s_suppkey, s.s_name
            FROM excess e
            JOIN supplier s ON e.ps_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
            ORDER BY s.s_name, s.s_suppkey
        """,
        # DSIR importance selection: integer 1e-6-nat per-bucket
        # log-ratios (ln stable cross-engine at the tick — q68's
        # contract), exact int64 doc weights, md5 bucket gate
        "q176_dsir_selection": f"""
            WITH toks AS (
              SELECT doc_id, (lang = 'en')::int AS is_t,
                     unnest(regexp_split_to_array({_NORM}, ' ')) AS tok
              FROM documents WHERE length({_NORM}) > 0
            ), tb AS (
              SELECT doc_id, is_t,
                     CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 256 AS b
              FROM toks
            ), bs AS (
              SELECT b, sum(is_t)::bigint AS t_cnt,
                     count(*)::bigint AS r_cnt
              FROM tb GROUP BY b
            ), tot AS (
              SELECT sum(t_cnt)::double AS tt, sum(r_cnt)::double AS rr
              FROM bs
            ), lam AS (
              SELECT b,
                     CAST(round(1000000.0 *
                       (ln((t_cnt + 1.0) / (tt + 256.0))
                        - ln((r_cnt + 1.0) / (rr + 256.0)))) AS BIGINT) AS l
              FROM bs, tot
            ), dw AS (
              SELECT tb.doc_id, count(*)::bigint AS n_tok,
                     sum(lam.l)::bigint AS w_e6
              FROM tb JOIN lam ON tb.b = lam.b
              GROUP BY tb.doc_id
            )
            SELECT doc_id::varchar AS doc_id, n_tok,
                   round(w_e6 / 1000000.0, 6) AS dsir_weight
            FROM dw ORDER BY w_e6 DESC, doc_id LIMIT 50
        """,
        # Bloom decontamination: the oracle REBUILDS the identical
        # 2048x63-bit filter (md5 positions, bit_or words) and probes
        # it — integer-only end to end
        "q177_bloom_decontamination": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, doc_id AS d, {_NORM} AS t
              FROM documents
            ), tk AS (
              SELECT k, d, regexp_split_to_array(t, ' ') AS w
              FROM c WHERE length(t) > 0
            ), g AS (
              SELECT k, d, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS grams
              FROM tk
            ), bg AS (
              SELECT DISTINCT unnest(grams) AS bgram FROM g WHERE d % 37 = 0
            ), bp AS (
              SELECT CAST('0x' || substr(md5(bgram || ';0'), 1, 12) AS BIGINT)
                       % 129024 AS p FROM bg
              UNION ALL
              SELECT CAST('0x' || substr(md5(bgram || ';1'), 1, 12) AS BIGINT)
                       % 129024 AS p FROM bg
            ), bloom AS (
              SELECT p // 63 AS bw,
                     bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
              FROM bp GROUP BY 1
            ), x AS (
              SELECT k, len(grams) AS n_grams, unnest(grams) AS gg FROM g
            ), xp AS (
              SELECT k, n_grams,
                CAST('0x' || substr(md5(gg || ';0'), 1, 12) AS BIGINT)
                  % 129024 AS p0,
                CAST('0x' || substr(md5(gg || ';1'), 1, 12) AS BIGINT)
                  % 129024 AS p1
              FROM x
            ), probed AS (
              SELECT xp.k, xp.n_grams,
                CASE WHEN (coalesce(b0.bits, 0)
                           & (1::BIGINT << CAST(p0 % 63 AS INT)))
                          = (1::BIGINT << CAST(p0 % 63 AS INT))
                      AND (coalesce(b1.bits, 0)
                           & (1::BIGINT << CAST(p1 % 63 AS INT)))
                          = (1::BIGINT << CAST(p1 % 63 AS INT))
                     THEN 1 ELSE 0 END AS maybe
              FROM xp
              LEFT JOIN bloom b0 ON xp.p0 // 63 = b0.bw
              LEFT JOIN bloom b1 ON xp.p1 // 63 = b1.bw
            ), hit AS (
              SELECT k, n_grams, sum(maybe)::bigint AS n_maybe
              FROM probed GROUP BY k, n_grams
            )
            SELECT k, n_grams::int AS n_grams, n_maybe,
                   round(n_maybe::double / n_grams::double, 6) AS maybe_rate,
                   (round(n_maybe::double / n_grams::double, 6) >= 0.5)
                     AS flagged
            FROM hit
        """,
        # q178: the one-task global window IS the correct semantics at
        # oracle scale; the Spark side computes the same index two-phase.
        "q178_global_row_index": """
            SELECT doc_id, n_chars,
                   row_number() OVER (ORDER BY doc_id) AS global_idx
            FROM documents
        """,
        "q179_zorder_layout": f"""
            WITH e AS (
              SELECT (abs(user_id) % 1024)::bigint AS x,
                     dayofyear(ts)::bigint AS y
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), z AS (
              SELECT x, y,
                     ({" | ".join(
                         f"(((x >> {i}) & 1) << {2 * i})"
                         f" | (((y >> {i}) & 1) << {2 * i + 1})"
                         for i in range(10)
                     )}) AS zk
              FROM e
            )
            SELECT zk >> 14 AS z_bucket,
                   count(*)::bigint AS n_rows,
                   min(x) AS x_min, max(x) AS x_max,
                   min(y) AS y_min, max(y) AS y_max,
                   max(x) - min(x) AS x_span,
                   max(y) - min(y) AS y_span
            FROM z GROUP BY 1
        """,
        "q180_blocked_fuzzy_pairs": """
            WITH b AS (
              SELECT c_custkey::bigint AS k, c_name AS nm,
                     substr(c_name, 10, 7) AS blk
              FROM customer
            ), good AS (
              SELECT blk FROM b GROUP BY blk
              HAVING count(*) BETWEEN 2 AND 128
            ), kept AS (
              SELECT b.* FROM b JOIN good USING (blk)
            )
            SELECT a.k AS k1, a.nm AS name_1,
                   c.k AS k2, c.nm AS name_2,
                   levenshtein(a.nm, c.nm)::int AS dist
            FROM kept a JOIN kept c
              ON a.blk = c.blk AND a.k < c.k
            WHERE levenshtein(a.nm, c.nm) <= 1
        """,
        "q181_cusum_changepoint": """
            WITH daily AS (
              SELECT event_type AS grp, ts::date AS d,
                     count(*)::bigint AS c
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1, 2
            ), s AS (
              SELECT grp, d,
                count(*) OVER (PARTITION BY grp) AS n_days,
                sum(c) OVER (PARTITION BY grp) AS total,
                sum(c) OVER (PARTITION BY grp ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum,
                row_number() OVER (PARTITION BY grp ORDER BY d) AS k
              FROM daily
            ), sc AS (
              SELECT grp, n_days, total, d,
                     abs(n_days * cum - k * total)::bigint AS stat
              FROM s WHERE n_days >= 4
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY grp ORDER BY stat DESC, d ASC) AS rn
              FROM sc
            )
            SELECT grp AS event_type, n_days::bigint AS n_days,
                   total::bigint AS total_events, d AS change_day,
                   stat AS cusum_stat
            FROM r WHERE rn = 1
        """,
        "q182_triangle_count": """
            WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
            e0 AS (
              SELECT doc_id::bigint AS src,
                     (doc_id::bigint * 7 + 1) % nn.n AS dst
              FROM documents, nn
              UNION ALL
              SELECT doc_id::bigint, (doc_id::bigint * 13 + 3) % nn.n
              FROM documents, nn
              UNION ALL
              SELECT doc_id::bigint, (doc_id::bigint * 31 + 7) % nn.n
              FROM documents, nn
            ), und AS (
              SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM e0 WHERE src <> dst
            ), deg AS (
              SELECT node, count(*)::bigint AS degree FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v AS node FROM und
              ) GROUP BY node
            ), orient AS (
              SELECT CASE WHEN du.degree < dv.degree
                            OR (du.degree = dv.degree AND und.u < und.v)
                          THEN und.u ELSE und.v END AS a,
                     CASE WHEN du.degree < dv.degree
                            OR (du.degree = dv.degree AND und.u < und.v)
                          THEN und.v ELSE und.u END AS b
              FROM und
              JOIN deg du ON und.u = du.node
              JOIN deg dv ON und.v = dv.node
            ), wedge AS (
              SELECT w1.a AS a, w1.b AS x, w2.b AS y
              FROM orient w1 JOIN orient w2
                ON w1.a = w2.a AND w1.b < w2.b
            ), tri AS (
              SELECT wedge.a, wedge.x, wedge.y
              FROM wedge JOIN und ON wedge.x = und.u AND wedge.y = und.v
            ), pn AS (
              SELECT node, count(*)::bigint AS n_triangles FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT x AS node FROM tri
                UNION ALL SELECT y AS node FROM tri
              ) GROUP BY node
            )
            SELECT deg.node, deg.degree,
                   coalesce(pn.n_triangles, 0)::bigint AS n_triangles,
                   (deg.degree * (deg.degree - 1) // 2)::bigint AS n_wedges
            FROM deg LEFT JOIN pn ON deg.node = pn.node
        """,
        "q183_url_dedup": """
            WITH u0 AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN 'HTTP://'
                     WHEN doc_id % 4 = 1 THEN 'http://'
                     WHEN doc_id % 4 = 2 THEN 'https://'
                     ELSE 'HTTPS://' END
                || 'WWW.Site' || (doc_id % 5)::varchar || '.COM'
                || CASE WHEN doc_id % 4 = 0 THEN ':80'
                        WHEN doc_id % 4 = 2 THEN ':443' ELSE '' END
                || '/articles/item' || (doc_id // 50)::varchar
                || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
                        ELSE '?a=1&b=2' END
                || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
                AS url
              FROM documents
            ), parts AS (
              SELECT doc_id,
                regexp_replace(url, '#.*$', '') AS u
              FROM u0
            ), comp AS (
              SELECT doc_id,
                lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                  AS scheme,
                lower(regexp_extract(u,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(u,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
                regexp_extract(u, '\\?([^#]*)', 1) AS q
              FROM parts
            ), canon AS (
              SELECT doc_id,
                scheme || '://'
                || CASE WHEN scheme = 'http'
                          THEN regexp_replace(hostport, ':80$', '')
                        WHEN scheme = 'https'
                          THEN regexp_replace(hostport, ':443$', '')
                        ELSE hostport END
                || CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                        ELSE regexp_replace(path0, '/+$', '') END
                || CASE WHEN array_to_string(list_sort(list_filter(
                          string_split(q, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_'))),
                          '&') = '' THEN ''
                        ELSE '?' || array_to_string(list_sort(list_filter(
                          string_split(q, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_'))),
                          '&') END
                AS canon_url
              FROM comp
            )
            SELECT canon_url, count(*)::bigint AS n_docs,
                   min(doc_id)::bigint AS keeper
            FROM canon GROUP BY canon_url
        """,
        "q184_leakage_safe_split": f"""
            WITH c AS (
              SELECT doc_id, {_FP} AS fp FROM documents
            )
            SELECT doc_id, fp,
              CASE WHEN CAST('0x' || substr(md5(fp || chr(31) || '0'), 1, 8)
                        AS BIGINT) % 1000000 < 800000 THEN 'train'
                   WHEN CAST('0x' || substr(md5(fp || chr(31) || '0'), 1, 8)
                        AS BIGINT) % 1000000 < 900000 THEN 'val'
                   ELSE 'test' END AS split
            FROM c
        """,
        "q185_compaction_plan": """
            WITH f AS (
              SELECT source AS part,
                     'f' || lpad(doc_id::varchar, 8, '0') AS path,
                     greatest(n_chars, 1)::bigint AS bytes
              FROM documents
            )
            SELECT part, path, bytes,
              ((sum(bytes) OVER (PARTITION BY part
                  ORDER BY bytes DESC, path ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - 1) // 5000)::bigint AS batch
            FROM f
        """,
        "q186_daily_trend": """
            WITH daily AS (
              SELECT event_type AS grp, ts::date AS d,
                     count(*)::bigint AS c
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1, 2
            ), kd AS (
              SELECT grp, c,
                row_number() OVER (PARTITION BY grp ORDER BY d)::bigint AS k
              FROM daily
            ), agg AS (
              SELECT grp,
                count(*)::bigint AS n_days,
                sum(c)::bigint AS total_events,
                sum(k * c)::bigint AS skc,
                sum(k)::bigint AS sk,
                sum(k * k)::bigint AS skk
              FROM kd GROUP BY grp
            )
            SELECT grp AS event_type, n_days, total_events,
                   (n_days * skc - sk * total_events)::bigint AS trend_num,
                   (n_days * skk - sk * sk)::bigint AS trend_den,
                   sign(n_days * skc - sk * total_events)::int AS direction
            FROM agg WHERE n_days >= 3
        """,
        "q187_sq8_ann": """
            WITH ex AS (
              SELECT unnest(list_transform(embedding,
                       (x, i) -> {'p': i, 'x': CAST(x AS DOUBLE)})) AS s
              FROM embeddings
            ), d AS (
              SELECT s.p AS p, min(s.x) AS lo, max(s.x) AS hi
              FROM ex GROUP BY 1
            ), ds AS (
              SELECT {'p': p, 'lo': lo, 'hi': hi} AS t FROM d
            ), b AS (
              SELECT list_transform(list_sort(list(t)), u -> u.lo) AS lo_arr,
                     list_transform(list_sort(list(t)), u -> u.hi) AS hi_arr
              FROM ds
            ), enc AS (
              SELECT e.vec_id, e.embedding,
                list_transform(e.embedding, (x, i) ->
                  CASE WHEN b.hi_arr[i] = b.lo_arr[i] THEN 0
                       ELSE CAST(least(greatest(floor(
                              (CAST(x AS DOUBLE)
                               - (b.lo_arr[i] + b.hi_arr[i]) / 2.0) * 256.0
                              / (b.hi_arr[i] - b.lo_arr[i])), -128), 127)
                            AS INT) END) AS code
              FROM embeddings e, b
            ), qs AS (
              SELECT vec_id AS query_id, embedding AS qv, code AS qcode
              FROM enc WHERE vec_id < 8
            ), s AS (
              SELECT qs.query_id, enc.vec_id AS neighbor_id,
                     CAST(list_dot_product(enc.code, qs.qcode) AS BIGINT)
                       AS dot
              FROM enc, qs WHERE enc.vec_id <> qs.query_id
            ), cr AS (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY dot DESC, neighbor_id ASC) AS crk
              FROM s
            ), cand AS (
              SELECT query_id, neighbor_id FROM cr WHERE crk <= 32
            ), rr AS (
              SELECT c.query_id, c.neighbor_id,
                     round(list_cosine_similarity(e.embedding, q.qv), 9)
                       AS cos
              FROM cand c
              JOIN embeddings e ON c.neighbor_id = e.vec_id
              JOIN qs q ON c.query_id = q.query_id
            ), r AS (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id ASC) AS rk
              FROM rr
            )
            SELECT query_id, neighbor_id, rk::int AS rank
            FROM r WHERE rk <= 10
        """,
        "q188_rrf_fusion": f"""
            WITH c AS (
              SELECT doc_id, n_chars::double AS ch,
                     ({_NTOK})::double AS tok
              FROM documents
            ), r AS (
              SELECT doc_id,
                row_number() OVER (ORDER BY ch DESC, doc_id ASC)::bigint
                  AS rank_chars,
                row_number() OVER (ORDER BY tok DESC, doc_id ASC)::bigint
                  AS rank_tokens
              FROM c
            )
            SELECT doc_id, rank_chars, rank_tokens,
                   (1000000000000 // (60 + rank_chars)
                    + 1000000000000 // (60 + rank_tokens))::bigint
                     AS rrf_score
            FROM r
        """,
        "q189_weekday_anomaly": """
            WITH daily AS (
              SELECT event_type AS grp, ts::date AS d,
                     count(*)::bigint AS c
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1, 2
            ), dd AS (
              SELECT grp, d, c, (isodow(d) - 1)::int AS dow FROM daily
            ), med AS (
              SELECT grp, dow,
                     (round(quantile_cont(c::double, 0.5), 6) * 2)::bigint
                       AS med2,
                     count(*)::bigint AS n_obs
              FROM dd GROUP BY grp, dow
              HAVING count(*) >= 2
            ), dev AS (
              SELECT dd.grp, dd.d, dd.dow, dd.c, med.med2,
                     abs(4 * dd.c - 2 * med.med2)::bigint AS dev4
              FROM dd JOIN med ON dd.grp = med.grp AND dd.dow = med.dow
            ), mad AS (
              SELECT grp, dow,
                     (round(quantile_cont(dev4::double, 0.5), 6) * 2)::bigint
                       AS mad8
              FROM dev GROUP BY grp, dow
            )
            SELECT dev.grp AS event_type, dev.d AS day, dev.dow,
                   dev.c, dev.med2, mad.mad8,
                   (2 * dev.dev4 > 3 * mad.mad8) AS anomaly
            FROM dev JOIN mad ON dev.grp = mad.grp AND dev.dow = mad.dow
        """,
        # q190: audit re-derived SCALAR-WISE from the span rotation:
        # kinds cycle [text,image,audio] from (doc_id+i)%3, so the
        # uncaptioned-media count per rotation phase is a constant
        # (phase 0: image->audio and trailing audio = 2; phases 1-2: 1);
        # monotonicity breaks exactly where the builder regresses the
        # last offset (doc_id % 11 = 7), except empty-span docs.
        "q190_span_pattern_audit": """
            SELECT doc_id,
              CASE WHEN doc_id % 89 = 0 THEN 0 ELSE 3 END::int AS n_spans,
              CASE WHEN doc_id % 89 = 0 THEN 0 ELSE 2 END::int AS n_media,
              CASE WHEN doc_id % 89 = 0 THEN 0
                   WHEN doc_id % 3 = 0 THEN 2
                   ELSE 1 END::int AS n_uncaptioned,
              (doc_id % 89 = 0 OR doc_id % 11 <> 7) AS offsets_monotone
            FROM documents
        """,
        # q191: KMV estimator is a pure int64 function of the hash
        # multiset: 63 * 2^52 = 283726776524341248; `//` truncates in
        # DuckDB exactly like Spark's `div` (all values positive here)
        "q191_kmv_distinct_sketch": """
            WITH h AS (
              SELECT DISTINCT lang,
                     CAST('0x' || substr(md5(doc_id::varchar), 1, 13)
                          AS BIGINT) AS hv
              FROM documents WHERE doc_id IS NOT NULL
            ), d AS (
              SELECT lang, count(*)::bigint AS nd FROM h GROUP BY lang
            ), kth AS (
              SELECT lang, hv AS kth_hash FROM (
                SELECT lang, hv,
                       row_number() OVER (PARTITION BY lang ORDER BY hv)
                         AS rn
                FROM h
              ) WHERE rn = 64
            ), base AS (
              SELECT lang, count(doc_id)::bigint AS n_rows
              FROM documents GROUP BY lang
            )
            SELECT base.lang, base.n_rows,
                   least(d.nd, 64)::int AS n_kept,
                   kth.kth_hash,
                   (CASE WHEN d.nd < 64 THEN d.nd
                         ELSE 283726776524341248 // kth.kth_hash
                    END)::bigint AS distinct_est
            FROM base JOIN d USING (lang) LEFT JOIN kth USING (lang)
        """,
        # q192: full BM25 re-derivation — same normalization, integer
        # milli-token avgdl (round-half-up in pure ints), idf int64 at
        # 1e-4 from ln((2N+2)/(2df+1)), tf term as truncating int64
        # rational, rank by (score desc, doc_id asc)
        "q192_bm25_topk": f"""
            WITH q(query_id, term) AS (
              VALUES ('q1','hash'), ('q1','join'), ('q1','merge'),
                     ('q2','stream'), ('q2','window'), ('q2','vector')
            ), base AS (
              SELECT doc_id, {_NORM} AS nt FROM documents
            ), dl AS (
              SELECT doc_id,
                     (CASE WHEN nt = '' THEN 0
                           ELSE len(string_split(nt, ' ')) END)::bigint
                       AS dl
              FROM base
            ), stats AS (
              SELECT count(*)::bigint AS n_docs,
                     sum(dl)::bigint AS total_tokens,
                     (2000 * sum(dl) + count(*)) // (2 * count(*))
                       AS a
              FROM dl
            ), tf AS (
              SELECT doc_id, term,
                     least(count(*), 4096)::bigint AS tf
              FROM (
                SELECT doc_id, unnest(string_split(nt, ' ')) AS term
                FROM base WHERE nt <> ''
              ) GROUP BY doc_id, term
            ), m AS (
              SELECT tf.doc_id, tf.term, tf.tf, dl.dl
              FROM tf
              JOIN (SELECT DISTINCT term FROM q) qt USING (term)
              JOIN dl USING (doc_id)
            ), dfc AS (
              SELECT term, count(*)::bigint AS df FROM m GROUP BY term
            ), idf AS (
              SELECT term,
                     round(ln((2 * stats.n_docs + 2)::double
                              / (2 * df + 1)) * 10000)::bigint
                       AS idf_int
              FROM dfc, stats
            ), sc AS (
              SELECT m.doc_id, m.term,
                     (idf.idf_int * (22 * stats.a * m.tf))
                       // (10 * stats.a * m.tf + 3 * stats.a
                           + 9000 * m.dl) AS s
              FROM m JOIN idf USING (term), stats
            ), ds AS (
              SELECT q.query_id, sc.doc_id,
                     sum(sc.s)::bigint AS bm25_int,
                     count(*)::int AS n_terms
              FROM sc JOIN q USING (term) GROUP BY 1, 2
            ), r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY bm25_int DESC, doc_id) AS rnk
              FROM ds
            )
            SELECT query_id, doc_id, bm25_int, n_terms, rnk::int AS rank
            FROM r WHERE rnk <= 8
        """,
        # q193: pairwise slopes frozen to int64 before the median
        # (// truncates toward zero in both engines — verified on
        # negatives); exact half-integer median via quantile_cont
        "q193_theil_sen_trend": """
            WITH daily AS (
              SELECT event_type AS grp, ts::date AS d,
                     count(*)::bigint AS c
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1, 2
            ), nd AS (
              SELECT grp, count(*)::bigint AS n_days
              FROM daily GROUP BY grp
            ), pairs AS (
              SELECT a.grp,
                     (1000000 * (b.c - a.c))
                       // date_diff('day', a.d, b.d) AS s
              FROM daily a JOIN daily b
                ON a.grp = b.grp AND a.d < b.d
            ), med AS (
              SELECT grp, count(*)::bigint AS n_pairs,
                     (round(quantile_cont(s::double, 0.5), 6) * 2)::bigint
                       AS slope_med2
              FROM pairs GROUP BY grp
            )
            SELECT nd.grp, nd.n_days, med.n_pairs, med.slope_med2
            FROM nd JOIN med USING (grp)
            WHERE nd.n_days >= 3
        """,
        "q194_join_skew_audit": """
            WITH c AS (
              SELECT event_type, count(*)::bigint AS n
              FROM events WHERE event_type IS NOT NULL
              GROUP BY event_type
            )
            SELECT a.event_type, a.n AS n_left, b.n AS n_right,
                   (a.n * b.n)::bigint AS est_rows,
                   ceil((a.n * b.n)::double / 1000000)::int AS salt_factor
            FROM c a JOIN c b USING (event_type)
            ORDER BY est_rows DESC, a.event_type
            LIMIT 5
        """,
        # q195: pixel grid rebuilt from the md5-derived fixture bytes
        # (the fake media's payload IS md5(k)||md5(k:2)||md5(k:3), so
        # the trailing-48-byte grid is those 96 hex chars); candidate
        # generation replays the pigeonhole (any chunk equal), pair
        # order compares keys as VARCHAR like the Spark struct sort
        "q195_phash_image_neardup": f"""
            WITH g AS (
              SELECT doc_id,
                     md5(src) || md5(src || ':2') || md5(src || ':3')
                       AS hx
              FROM (
                SELECT doc_id,
                       (CASE WHEN doc_id % 97 = 1 THEN doc_id - 1
                             ELSE doc_id END)::varchar AS src
                FROM documents
              )
            ), p AS (
              SELECT doc_id,
                     list_transform(range(48),
                       i -> CAST('0x' || substr(hx, CAST(2*i + 1 AS INT), 2)
                                 AS BIGINT)) AS px
              FROM g
            ), q AS (
              SELECT doc_id, px, list_sum(px) AS s FROM p
            ), c AS (
              SELECT doc_id, {_PHASH_C} FROM q
            ), pr AS (
              SELECT DISTINCT a.doc_id AS ai, b.doc_id AS bi,
                     a.c0 AS ac0, a.c1 AS ac1, a.c2 AS ac2, a.c3 AS ac3,
                     b.c0 AS bc0, b.c1 AS bc1, b.c2 AS bc2, b.c3 AS bc3
              FROM c a JOIN c b
                ON a.doc_id::varchar < b.doc_id::varchar
               AND (a.c0 = b.c0 OR a.c1 = b.c1
                    OR a.c2 = b.c2 OR a.c3 = b.c3)
            ), hm AS (
              SELECT ai, bi,
                     (bit_count(xor(ac0::bigint, bc0::bigint))
                      + bit_count(xor(ac1::bigint, bc1::bigint))
                      + bit_count(xor(ac2::bigint, bc2::bigint))
                      + bit_count(xor(ac3::bigint, bc3::bigint)))::int
                       AS hamming
              FROM pr
            )
            SELECT ai::varchar AS a, bi::varchar AS b, hamming
            FROM hm WHERE hamming <= 3
        """,
        # q196: FS weights are the SAME python-frozen literals the plan
        # carries: name(.95/.05)=±2944439, mkt(.9/.2)=+1504077/-2079442,
        # nation(.95/.04)=+3167583/-2954910; thresholds 1.5/-3.0 nats
        "q196_fs_record_linkage": """
            WITH base AS (
              SELECT c_custkey::bigint AS k, c_name, c_mktsegment,
                     c_nationkey, substr(c_name, 10, 8) AS blk
              FROM customer
            ), good AS (
              SELECT blk FROM base
              GROUP BY blk HAVING count(*) BETWEEN 2 AND 128
            ), kept AS (
              SELECT base.* FROM base JOIN good USING (blk)
            ), pairs AS (
              SELECT a.k AS k1, a.c_name AS name_1,
                     a.c_mktsegment AS c_mktsegment_1,
                     a.c_nationkey AS c_nationkey_1,
                     b.k AS k2, b.c_name AS name_2,
                     b.c_mktsegment AS c_mktsegment_2,
                     b.c_nationkey AS c_nationkey_2,
                     levenshtein(a.c_name, b.c_name)::int AS dist
              FROM kept a JOIN kept b ON a.blk = b.blk AND a.k < b.k
              WHERE levenshtein(a.c_name, b.c_name) <= 1
            ), sc AS (
              SELECT *,
                ((CASE WHEN name_1 = name_2
                       THEN 2944439 ELSE -2944439 END)
                 + (CASE WHEN c_mktsegment_1 = c_mktsegment_2
                         THEN 1504077 ELSE -2079442 END)
                 + (CASE WHEN c_nationkey_1 = c_nationkey_2
                         THEN 3167583 ELSE -2954910 END))::bigint
                  AS score_int,
                ((CASE WHEN name_1 = name_2 THEN 1 ELSE 0 END)
                 + (CASE WHEN c_mktsegment_1 = c_mktsegment_2
                         THEN 1 ELSE 0 END)
                 + (CASE WHEN c_nationkey_1 = c_nationkey_2
                         THEN 1 ELSE 0 END))::int AS n_agree
              FROM pairs
            )
            SELECT *,
                   CASE WHEN score_int >= 1500000 THEN 'match'
                        WHEN score_int <= -3000000 THEN 'non_match'
                        ELSE 'review' END AS decision
            FROM sc
        """,
        # q197: the oracle computes the per-lang sketch DIRECTLY from
        # raw rows (estimator constant 47 * 2^52 = 211669182486413312);
        # Spark got there by merging per-(lang,source) states — the
        # hash match IS the merge ≡ direct proof
        "q197_kmv_rollup_merge": """
            WITH h AS (
              SELECT DISTINCT lang,
                     CAST('0x' || substr(md5(doc_id::varchar), 1, 13)
                          AS BIGINT) AS hv
              FROM documents WHERE doc_id IS NOT NULL
            ), d AS (
              SELECT lang, count(*)::bigint AS nd FROM h GROUP BY lang
            ), kth AS (
              SELECT lang, hv AS kth_hash FROM (
                SELECT lang, hv,
                       row_number() OVER (PARTITION BY lang ORDER BY hv)
                         AS rn
                FROM h
              ) WHERE rn = 48
            ), base AS (
              SELECT lang, count(doc_id)::bigint AS n_rows
              FROM documents GROUP BY lang
            )
            SELECT base.lang, base.n_rows,
                   least(d.nd, 48)::int AS n_kept,
                   kth.kth_hash,
                   (CASE WHEN d.nd < 48 THEN d.nd
                         ELSE 211669182486413312 // kth.kth_hash
                    END)::bigint AS distinct_est
            FROM base JOIN d USING (lang) LEFT JOIN kth USING (lang)
        """,
        "q198_kwic_snippets": f"""
            WITH q(query_id, term) AS (
              VALUES ('q1','hash'), ('q2','vector')
            ), base AS (
              SELECT doc_id, {_NORM} AS nt FROM documents
            ), probed AS (
              SELECT q.query_id, q.term, b.doc_id, b.nt,
                     strpos(' ' || b.nt || ' ',
                            ' ' || q.term || ' ')::int AS pos
              FROM base b CROSS JOIN q
            )
            SELECT query_id, term, doc_id, pos,
                   substr(nt, greatest(1, pos - 24),
                          24 + length(term) + 24) AS snippet
            FROM probed WHERE pos > 0
        """,
        # q199: A-ES keys replayed exactly — (h+1)/2^52 is an EXACT
        # double (power-of-two divisor), ln frozen at 1e-6, integer
        # div truncation agrees on negatives, ties break on key asc
        "q199_weighted_reservoir": """
            WITH b AS (
              SELECT lang, doc_id::varchar AS key, n_chars::bigint AS w,
                     CAST('0x' || substr(md5(doc_id::varchar
                                             || chr(31) || '7'), 1, 13)
                          AS BIGINT) AS hv
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            ), r AS (
              SELECT lang, key, w,
                     (round(ln((hv + 1)::double / 4503599627370496.0)
                            * 1000000)::bigint * 1000) // w AS rk
              FROM b
            ), rr AS (
              SELECT lang, key, w, rk,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY rk DESC, key ASC) AS rn
              FROM r
            )
            SELECT lang, key AS doc_id, w AS weight,
                   rk AS rank_key, rn::int AS rank
            FROM rr WHERE rn <= 10
        """,
        # q200: q196's match pairs (score >= 1.5e6 with the same frozen
        # weights), then a recursive transitive closure with numeric
        # min labels — the independent derivation of label propagation
        "q200_linkage_entities": """
            WITH RECURSIVE base AS (
              SELECT c_custkey::bigint AS k, c_name, c_mktsegment,
                     c_nationkey, substr(c_name, 10, 8) AS blk
              FROM customer
            ), good AS (
              SELECT blk FROM base
              GROUP BY blk HAVING count(*) BETWEEN 2 AND 128
            ), kept AS (
              SELECT base.* FROM base JOIN good USING (blk)
            ), m AS (
              SELECT a.k AS u, b.k AS v
              FROM kept a JOIN kept b ON a.blk = b.blk AND a.k < b.k
              WHERE levenshtein(a.c_name, b.c_name) <= 1
                AND ((CASE WHEN a.c_name = b.c_name
                           THEN 2944439 ELSE -2944439 END)
                     + (CASE WHEN a.c_mktsegment = b.c_mktsegment
                             THEN 1504077 ELSE -2079442 END)
                     + (CASE WHEN a.c_nationkey = b.c_nationkey
                             THEN 3167583 ELSE -2954910 END)) >= 1500000
            ), adj AS (
              SELECT u, v FROM m UNION SELECT v, u FROM m
            ), reach(node, r) AS (
              SELECT u, u FROM adj
              UNION
              SELECT a.v, reach.r FROM reach JOIN adj a ON a.u = reach.node
            )
            SELECT node AS member, min(r)::bigint AS cluster
            FROM reach GROUP BY node
        """,
        "q201_k_anonymity": """
            SELECT event_type, ts::date AS day,
                   count(*)::bigint AS n,
                   count(DISTINCT user_id)::bigint AS n_sensitive,
                   (count(*) < 5) AS at_risk,
                   (count(DISTINCT user_id) < 5) AS l_violation
            FROM events GROUP BY 1, 2
        """,
        # q202: plogp terms as exact int64 — ln of the double
        # mult/div ratio (identical op order both engines) frozen at
        # 1e-6, multiplied by exact counts; one block per column pair
        "q202_mutual_information": """
            WITH p1 AS (
              SELECT coalesce(lang::varchar, chr(31) || '<null>') AS x,
                     coalesce(source::varchar, chr(31) || '<null>') AS y
              FROM documents
            ), c1 AS (
              SELECT x, y, count(*)::bigint AS n_xy FROM p1 GROUP BY x, y
            ), x1 AS (
              SELECT x, sum(n_xy)::bigint AS n_x FROM c1 GROUP BY x
            ), y1 AS (
              SELECT y, sum(n_xy)::bigint AS n_y FROM c1 GROUP BY y
            ), t1 AS (
              SELECT sum(n_xy)::bigint AS n_tot FROM c1
            ), mi1 AS (
              SELECT max(t1.n_tot) AS n_total,
                     count(*)::bigint AS n_cells,
                     sum(c1.n_xy * round(ln((c1.n_xy::double * t1.n_tot::double)
                            / (x1.n_x::double * y1.n_y::double))
                          * 1000000)::bigint)::bigint AS mi_num
              FROM c1 JOIN x1 USING (x) JOIN y1 USING (y), t1
            ), h1 AS (
              SELECT
                (SELECT sum(n_x * round(ln(t1.n_tot::double / n_x::double)
                        * 1000000)::bigint) FROM x1, t1)::bigint AS hx_num,
                (SELECT sum(n_y * round(ln(t1.n_tot::double / n_y::double)
                        * 1000000)::bigint) FROM y1, t1)::bigint AS hy_num
            ),
            p2 AS (
              SELECT coalesce(lang::varchar, chr(31) || '<null>') AS x,
                     coalesce((n_chars // 200)::varchar,
                              chr(31) || '<null>') AS y
              FROM documents
            ), c2 AS (
              SELECT x, y, count(*)::bigint AS n_xy FROM p2 GROUP BY x, y
            ), x2 AS (
              SELECT x, sum(n_xy)::bigint AS n_x FROM c2 GROUP BY x
            ), y2 AS (
              SELECT y, sum(n_xy)::bigint AS n_y FROM c2 GROUP BY y
            ), t2 AS (
              SELECT sum(n_xy)::bigint AS n_tot FROM c2
            ), mi2 AS (
              SELECT max(t2.n_tot) AS n_total,
                     count(*)::bigint AS n_cells,
                     sum(c2.n_xy * round(ln((c2.n_xy::double * t2.n_tot::double)
                            / (x2.n_x::double * y2.n_y::double))
                          * 1000000)::bigint)::bigint AS mi_num
              FROM c2 JOIN x2 USING (x) JOIN y2 USING (y), t2
            ), h2 AS (
              SELECT
                (SELECT sum(n_x * round(ln(t2.n_tot::double / n_x::double)
                        * 1000000)::bigint) FROM x2, t2)::bigint AS hx_num,
                (SELECT sum(n_y * round(ln(t2.n_tot::double / n_y::double)
                        * 1000000)::bigint) FROM y2, t2)::bigint AS hy_num
            )
            SELECT 'lang' AS x_col, 'source' AS y_col,
                   n_total, n_cells, mi_num, hx_num, hy_num
            FROM mi1, h1
            UNION ALL
            SELECT 'lang' AS x_col, 'len_bucket' AS y_col,
                   n_total, n_cells, mi_num, hx_num, hy_num
            FROM mi2, h2
        """,
        # q203: NULL parts join nothing (<> and range compares are
        # NULL), so a NULL-day partition reports 0 overlaps — same in
        # both engines
        "q203_partition_skipping_audit": """
            WITH pa AS (
              SELECT event_type AS part, min(ts) AS vmin, max(ts) AS vmax,
                     count(ts)::bigint AS n_values
              FROM events GROUP BY 1
            ), oa AS (
              SELECT a.part, a.vmin, a.vmax, a.n_values,
                     count(b.part)::int AS n_overlaps
              FROM pa a LEFT JOIN pa b
                ON a.part <> b.part
               AND a.vmin <= b.vmax AND a.vmax >= b.vmin
              GROUP BY 1, 2, 3, 4
            ), pb AS (
              SELECT ts::date AS part, min(ts) AS vmin, max(ts) AS vmax,
                     count(ts)::bigint AS n_values
              FROM events GROUP BY 1
            ), ob AS (
              SELECT a.part, a.vmin, a.vmax, a.n_values,
                     count(b.part)::int AS n_overlaps
              FROM pb a LEFT JOIN pb b
                ON a.part <> b.part
               AND a.vmin <= b.vmax AND a.vmax >= b.vmin
              GROUP BY 1, 2, 3, 4
            )
            SELECT 'by_type' AS layout, part::varchar AS part,
                   vmin, vmax, n_values, n_overlaps FROM oa
            UNION ALL
            SELECT 'by_day' AS layout, part::varchar AS part,
                   vmin, vmax, n_values, n_overlaps FROM ob
        """,
        # q204: CMS counters and probe estimates replayed exactly —
        # positions are md5(d || 0x1f || value) % width, estimates the
        # min over depth rows with untouched cells as 0
        "q204_cms_frequency_sketch": """
            WITH dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
            cnt AS (
              SELECT d, pos, count(*)::bigint AS cnt FROM (
                SELECT dd.d,
                       CAST('0x' || substr(md5(dd.d::varchar || chr(31)
                                || user_id::varchar), 1, 12) AS BIGINT)
                         % 256 AS pos
                FROM events CROSS JOIN dd
                WHERE user_id IS NOT NULL
              ) GROUP BY d, pos
            ), probes AS (
              SELECT DISTINCT user_id::varchar AS value FROM events
              WHERE coalesce(user_id, 0) % 17 = 3
              UNION
              SELECT 'absent-user'
            ), pe AS (
              SELECT p.value, dd.d,
                     CAST('0x' || substr(md5(dd.d::varchar || chr(31)
                              || p.value), 1, 12) AS BIGINT) % 256 AS pos
              FROM probes p CROSS JOIN dd
            ), est AS (
              SELECT pe.value, min(coalesce(cnt.cnt, 0))::bigint AS est
              FROM pe LEFT JOIN cnt USING (d, pos) GROUP BY pe.value
            ), exact AS (
              SELECT user_id::varchar AS value, count(*)::bigint AS exact
              FROM events WHERE user_id IS NOT NULL GROUP BY 1
            )
            SELECT est.value, est.est,
                   coalesce(exact.exact, 0)::bigint AS exact,
                   (est.est - coalesce(exact.exact, 0))::bigint AS overcount
            FROM est LEFT JOIN exact USING (value)
        """,
        # q205: weight = 1e6 // 2^(age // 7), age anchored at the max
        # event day — integer shift both engines; top-15 by
        # (score desc, key asc)
        "q205_decayed_trending": """
            WITH daily AS (
              SELECT user_id AS key, ts::date AS d, count(*)::bigint AS c
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
              GROUP BY 1, 2
            ), ref AS (
              SELECT max(d) AS r FROM daily
            ), w AS (
              SELECT key, c,
                     1000000 // (1::bigint << least(
                       date_diff('day', d, ref.r) // 7, 62)::int) AS wt
              FROM daily, ref
            )
            SELECT key, sum(c)::bigint AS total_count,
                   sum(c * wt)::bigint AS decayed_score
            FROM w GROUP BY key
            ORDER BY decayed_score DESC, key
            LIMIT 15
        """,
        "q206_threshold_sweep": """
            WITH b AS (
              SELECT n_chars AS s, (lang = 'en') AS y
              FROM documents
              WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            ), t(threshold) AS (
              SELECT unnest([100, 200, 400, 800, 1600])
            )
            SELECT threshold::bigint AS threshold,
                   sum(CASE WHEN s >= threshold AND y
                            THEN 1 ELSE 0 END)::bigint AS tp,
                   sum(CASE WHEN s >= threshold AND NOT y
                            THEN 1 ELSE 0 END)::bigint AS fp,
                   sum(CASE WHEN s < threshold AND y
                            THEN 1 ELSE 0 END)::bigint AS fn,
                   sum(CASE WHEN s < threshold AND NOT y
                            THEN 1 ELSE 0 END)::bigint AS tn
            FROM b CROSS JOIN t
            GROUP BY threshold
        """,
        # q207/q208: lead() over (user, ts, coalesced event_id) — the
        # tie column is coalesced BEFORE the window because Spark
        # sorts NULLS FIRST and DuckDB NULLS LAST by default
        "q207_transition_matrix": """
            WITH b AS (
              SELECT user_id, ts, event_type,
                     coalesce(event_id, -1) AS eid
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL
            ), p AS (
              SELECT event_type AS f,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, eid) AS t
              FROM b
            ), c AS (
              SELECT f AS from_state, t AS to_state,
                     count(*)::bigint AS n
              FROM p WHERE t IS NOT NULL GROUP BY 1, 2
            ), m AS (
              SELECT from_state, sum(n)::bigint AS n_from
              FROM c GROUP BY 1
            )
            SELECT c.from_state, c.to_state, c.n, m.n_from
            FROM c JOIN m USING (from_state)
        """,
        "q208_sequence_conformance": f"""
            WITH b AS (
              SELECT user_id, ts, event_type,
                     coalesce(event_id, -1) AS eid
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL
            ), p AS (
              SELECT user_id, event_type AS f,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, eid) AS t
              FROM b
            )
            SELECT user_id AS user,
                   count(*)::bigint AS n_transitions,
                   sum(CASE WHEN (f || chr(31) || t) NOT IN (
                     {", ".join("'" + a + chr(31) + b + "'"
                                for a, b in _Q208_ALLOWED)}
                   ) THEN 1 ELSE 0 END)::bigint AS n_illegal
            FROM p WHERE t IS NOT NULL
            GROUP BY user_id
        """,
        # q209: candidate set = q17's exhaustively recomputed SimHash
        # signatures at hamming <= 3; truth set = q44's exact trigram
        # Jaccard >= 0.9; the report counts the join regions
        "q209_dedup_recall_report": f"""
            WITH c AS (
              SELECT doc_id::varchar AS k, lower(coalesce(text, '')) AS t
              FROM ({_DOUBLED_DOCS})
            ), tok AS (
              SELECT k, unnest(list_filter(regexp_split_to_array(t, '\\s+'),
                                           x -> x <> '')) AS tok
              FROM c
            ), bits AS (
              SELECT k, md5(tok) AS h FROM tok
            ), votes AS (
              SELECT k, j,
                     sum((CAST('0x' || substr(h, (j // 8) * 2 + 1, 2) AS INT)
                          >> (7 - j % 8)) & 1) AS ones,
                     count(*) AS n
              FROM bits CROSS JOIN generate_series(0, 63) AS g(j)
              GROUP BY k, j
            ), sig AS (
              SELECT k, list(CASE WHEN ones * 2 > n THEN 1 ELSE 0 END
                             ORDER BY j) AS s
              FROM votes GROUP BY k
              UNION ALL
              SELECT k, list_transform(generate_series(0, 63), x -> 0) AS s
              FROM c WHERE len(list_filter(regexp_split_to_array(t, '\\s+'),
                                           x -> x <> '')) = 0
            ), cand AS (
              SELECT x.k AS a, y.k AS b
              FROM sig x JOIN sig y ON x.k < y.k
              WHERE list_sum(list_transform(generate_series(1, 64),
                      i -> abs(x.s[i] - y.s[i]))) <= 3
            ), cn AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t
              FROM ({_DOUBLED_DOCS})
            ), tk AS (
              SELECT k, regexp_split_to_array(t, ' ') AS w
              FROM cn WHERE length(t) > 0
            ), g2 AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS grams
              FROM tk
            ), truth AS (
              SELECT x.k AS a, y.k AS b
              FROM g2 x JOIN g2 y ON x.k < y.k
              WHERE round(len(list_intersect(x.grams, y.grams))::double
                    / len(list_distinct(x.grams || y.grams))::double, 6)
                    >= 0.9
            ), u AS (
              SELECT coalesce(t.a, cd.a) AS a, coalesce(t.b, cd.b) AS b,
                     (t.a IS NOT NULL) AS it, (cd.a IS NOT NULL) AS ic
              FROM truth t FULL OUTER JOIN cand cd
                ON t.a = cd.a AND t.b = cd.b
            )
            SELECT sum(CASE WHEN it THEN 1 ELSE 0 END)::bigint AS n_truth,
                   sum(CASE WHEN ic THEN 1 ELSE 0 END)::bigint
                     AS n_candidates,
                   sum(CASE WHEN it AND ic THEN 1 ELSE 0 END)::bigint
                     AS n_matched,
                   sum(CASE WHEN it AND NOT ic THEN 1 ELSE 0 END)::bigint
                     AS n_missed,
                   sum(CASE WHEN ic AND NOT it THEN 1 ELSE 0 END)::bigint
                     AS n_extra
            FROM u
        """,
        "q210_langid_confusion": f"""
            WITH s AS (SELECT lang, text, {_SCORES} FROM documents)
            SELECT lang, {_LANG_PRED} AS lang_pred,
                   count(*)::bigint AS n
            FROM s GROUP BY 1, 2
        """,
        # q211: exact bucket counts; the 20-term loo-rate reduction is
        # the bounded-cardinality round-6 case; Σ(r−r̄)² via Σr²−B·r̄²
        # identically on both sides
        "q211_rate_jackknife": """
            WITH b AS (
              SELECT lang,
                     CAST('0x' || substr(md5(coalesce(doc_id::varchar,
                          '')), 1, 8) AS BIGINT) % 20 AS bk,
                     (CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::bigint
                       AS f
              FROM documents WHERE n_chars IS NOT NULL
            ), per AS (
              SELECT lang, bk, count(*)::bigint AS n,
                     sum(f)::bigint AS k
              FROM b GROUP BY 1, 2
            ), tot AS (
              SELECT lang, sum(n)::bigint AS nn, sum(k)::bigint AS kk,
                     count(*)::bigint AS nb
              FROM per GROUP BY 1
            ), loo AS (
              SELECT per.lang,
                     CASE WHEN tot.nn > per.n THEN
                       (tot.kk - per.k)::double / (tot.nn - per.n)::double
                     END AS r,
                     tot.nn, tot.kk, tot.nb
              FROM per JOIN tot USING (lang)
            ), a AS (
              SELECT lang, max(nn) AS n, max(kk) AS k, max(nb) AS nb,
                     avg(r) AS rbar, sum(r * r) AS rsq
              FROM loo GROUP BY lang
            )
            SELECT lang, n::bigint AS n, k::bigint AS k,
                   round(k::double / n::double, 6) AS rate,
                   round(sqrt(greatest(
                     (nb - 1)::double / nb::double
                       * (rsq - nb * rbar * rbar), 0.0)), 6) AS jk_se
            FROM a
        """,
        # q212: each day's window sketch computed DIRECTLY from raw
        # rows (estimator constant 63·2^52 as in q191); Spark merges
        # per-day states instead — hash match = windowed merge ≡ direct
        "q212_kmv_trailing_window": """
            WITH e AS (
              SELECT ts::date AS day, user_id FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), d AS (
              SELECT DISTINCT day FROM e
            ), w AS (
              SELECT d.day AS day, e.user_id
              FROM d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
            ), h AS (
              SELECT DISTINCT day,
                     CAST('0x' || substr(md5(user_id::varchar), 1, 13)
                          AS BIGINT) AS hv
              FROM w
            ), nd AS (
              SELECT day, count(*)::bigint AS ndist FROM h GROUP BY day
            ), kth AS (
              SELECT day, hv AS kth_hash FROM (
                SELECT day, hv,
                       row_number() OVER (PARTITION BY day ORDER BY hv)
                         AS rn
                FROM h
              ) WHERE rn = 64
            ), nr AS (
              SELECT day, count(*)::bigint AS n_rows FROM w GROUP BY day
            )
            SELECT nr.day, nr.n_rows,
                   least(nd.ndist, 64)::int AS n_kept,
                   kth.kth_hash,
                   (CASE WHEN nd.ndist < 64 THEN nd.ndist
                         ELSE 283726776524341248 // kth.kth_hash
                    END)::bigint AS distinct_est
            FROM nr JOIN nd USING (day) LEFT JOIN kth USING (day)
        """,
        # q213: the streaming-incremental state must equal sketching
        # the whole table in one pass (union associativity + replay
        # idempotence) — the oracle is the direct batch sketch
        "q213_streaming_kmv": """
            WITH h AS (
              SELECT DISTINCT event_type,
                     CAST('0x' || substr(md5(user_id::varchar), 1, 13)
                          AS BIGINT) AS hv
              FROM events WHERE user_id IS NOT NULL
            ), d AS (
              SELECT event_type, count(*)::bigint AS nd
              FROM h GROUP BY event_type
            ), kth AS (
              SELECT event_type, hv AS kth_hash FROM (
                SELECT event_type, hv,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY hv) AS rn
                FROM h
              ) WHERE rn = 64
            )
            SELECT d.event_type,
                   least(d.nd, 64)::int AS n_kept,
                   kth.kth_hash,
                   (CASE WHEN d.nd < 64 THEN d.nd
                         ELSE 283726776524341248 // kth.kth_hash
                    END)::bigint AS distinct_est
            FROM d LEFT JOIN kth USING (event_type)
        """,
        # q214: AUC over (group, DISTINCT score) aggregates; u2 is the
        # integer invariant, auc its one correctly-rounded division.
        # ROWS frame stated explicitly (RANGE-default gotcha).
        "q214_roc_auc": """
            WITH b AS (
              SELECT source, n_chars AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents
              WHERE n_chars IS NOT NULL AND lang IS NOT NULL
                AND source IS NOT NULL
            ), per AS (
              SELECT source, s, sum(y)::bigint AS p,
                     sum(1 - y)::bigint AS neg
              FROM b GROUP BY source, s
            ), w AS (
              SELECT source, p, neg,
                     sum(neg) OVER (PARTITION BY source ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - neg AS below
              FROM per
            )
            SELECT source,
                   sum(p)::bigint AS pos_n,
                   sum(neg)::bigint AS neg_n,
                   sum(2 * p * below + p * neg)::bigint AS u2,
                   CASE WHEN sum(p) > 0 AND sum(neg) > 0 THEN
                     round(sum(2 * p * below + p * neg)::double
                           / (2 * sum(p) * sum(neg))::double, 6)
                   END AS auc
            FROM w GROUP BY source
        """,
        # q215: tier = ceil(cum_n*10/total) as the truncating-div
        # identity — exact both engines for positive operands; ties
        # share a distinct-score row so they land in one tier
        "q215_gains_table": """
            WITH b AS (
              SELECT n_chars AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents
              WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            ), per AS (
              SELECT s, count(*)::bigint AS cnt, sum(y)::bigint AS pos
              FROM b GROUP BY s
            ), w AS (
              SELECT cnt, pos,
                     sum(cnt) OVER (ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_n,
                     sum(pos) OVER (ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_pos,
                     (SELECT count(*) FROM b) AS tot
              FROM per
            )
            SELECT ((cum_n * 10 + tot - 1) // tot)::bigint AS bucket,
                   sum(cnt)::bigint AS n,
                   sum(pos)::bigint AS n_pos,
                   max(cum_n)::bigint AS cum_n,
                   max(cum_pos)::bigint AS cum_pos
            FROM w GROUP BY 1
        """,
        # q216: integer selection (HUGEINT cross-mult ≡ Spark
        # decimal(38,0)), display pmi = round-6 sum of lns; rank by
        # (c_ab DESC, bigram) is fully deterministic
        "q216_collocations": f"""
            WITH c AS (SELECT {_NORM} AS t FROM documents),
            tk AS (
              SELECT regexp_split_to_array(t, ' ') AS w
              FROM c WHERE length(t) > 0
            ),
            uni AS (SELECT unnest(w) AS tok FROM tk),
            u AS (SELECT tok, count(*)::bigint AS c1 FROM uni GROUP BY tok),
            bi AS (
              SELECT unnest(list_transform(
                       generate_series(1, greatest(len(w) - 1, 0)),
                       i -> [w[i], w[i + 1]])) AS p
              FROM tk
            ),
            bc AS (
              SELECT p[1] AS a, p[2] AS b, count(*)::bigint AS c_ab
              FROM bi GROUP BY 1, 2
            ),
            tot AS (SELECT (SELECT count(*)::bigint FROM uni) AS n1,
                           (SELECT count(*)::bigint FROM bi) AS n2),
            j AS (
              SELECT bc.a, bc.b, bc.c_ab, ua.c1 AS c_a, ub.c1 AS c_b,
                     tot.n1, tot.n2
              FROM bc
              JOIN u ua ON ua.tok = bc.a
              JOIN u ub ON ub.tok = bc.b
              CROSS JOIN tot
              WHERE bc.c_ab >= 3
                AND bc.c_ab::HUGEINT * tot.n1 * tot.n1
                    > ua.c1::HUGEINT * ub.c1 * tot.n2
            )
            SELECT a || ' ' || b AS bigram, c_ab, c_a, c_b,
                   round(ln(c_ab) + 2 * ln(n1) - ln(c_a) - ln(c_b)
                         - ln(n2), 6) AS pmi
            FROM j ORDER BY c_ab DESC, bigram LIMIT 100
        """,
        # q217: exhaustive exact containment (the Spark side must find
        # every pair through its one-sided prefix buckets — full
        # recall at max_df=1000 > corpus size)
        "q217_containment_quotes": f"""
            WITH src AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 2000000, substr(text, 1, 200)
              FROM documents WHERE doc_id % 5 = 0
            ), c AS (
              SELECT doc_id::varchar AS k, {_NORM} AS t FROM src
            ), tk AS (
              SELECT k, regexp_split_to_array(t, ' ') AS w
              FROM c WHERE length(t) > 0
            ), g AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS grams
              FROM tk
            ), p AS (
              SELECT x.k AS a, y.k AS b,
                     len(x.grams)::bigint AS n_a,
                     len(y.grams)::bigint AS n_b,
                     len(list_intersect(x.grams, y.grams))::bigint
                       AS common
              FROM g x JOIN g y
                ON x.k <> y.k
               AND (len(x.grams) < len(y.grams)
                    OR (len(x.grams) = len(y.grams) AND x.k < y.k))
            )
            SELECT a, b, n_a, n_b, common
            FROM p WHERE common * 100 >= 80 * n_a
        """,
        # q218: unrolled peel rounds (idempotent past the fixpoint)
        "q218_k_core": _kcore_unrolled_sql(k=3, rounds=12),
        # q219: full PQ replay — codebooks from the md5-ordered valid
        # sample, argmin code per (vector, subspace) on bit-identical
        # L2² folds (index-ascending, double-cast — the l2NormBetween
        # contract), ADC cells floor(d*1e6+0.5) int64, ranks by
        # (adc ASC, id ASC). MATERIALIZED: every CTE is multiply
        # referenced.
        "q219_pq_ann": _PQ_ANN_SQL,
        # q221: merged streaming CMS ≡ whole-table CMS (q204's counter
        # math grouped by event_type, width 256) — and the replayed
        # batch added nothing
        "q221_streaming_cms": """
            WITH dd AS (SELECT unnest([0, 1, 2, 3]) AS d)
            SELECT event_type, d, pos, count(*)::bigint AS cnt FROM (
              SELECT event_type, dd.d,
                     CAST('0x' || substr(md5(dd.d::varchar || chr(31)
                              || user_id::varchar), 1, 12) AS BIGINT)
                       % 256 AS pos
              FROM events CROSS JOIN dd
              WHERE user_id IS NOT NULL
            ) GROUP BY event_type, d, pos
        """,
        # q222: per-candidate interval self-joins over the one
        # |partitions|-row multi-agg; NULL part rows never match the
        # <> condition and count as disjoint in both engines
        "q222_layout_advisor": """
            WITH p AS MATERIALIZED (
              SELECT ts::date AS part,
                     min(event_id) AS min_e, max(event_id) AS max_e,
                     min(user_id) AS min_u, max(user_id) AS max_u,
                     min(value) AS min_v, max(value) AS max_v
              FROM events GROUP BY 1
            )
            SELECT 'event_id' AS candidate, count(*)::bigint AS n_parts,
                   sum(ov)::bigint AS overlap_pairs,
                   sum((ov = 0)::int)::bigint AS disjoint_parts
            FROM (SELECT a.part AS part, count(b.part)::bigint AS ov
                  FROM p a LEFT JOIN p b
                    ON a.part <> b.part AND a.min_e <= b.max_e
                   AND a.max_e >= b.min_e
                  GROUP BY 1)
            UNION ALL
            SELECT 'user_id', count(*)::bigint, sum(ov)::bigint,
                   sum((ov = 0)::int)::bigint
            FROM (SELECT a.part AS part, count(b.part)::bigint AS ov
                  FROM p a LEFT JOIN p b
                    ON a.part <> b.part AND a.min_u <= b.max_u
                   AND a.max_u >= b.min_u
                  GROUP BY 1)
            UNION ALL
            SELECT 'value', count(*)::bigint, sum(ov)::bigint,
                   sum((ov = 0)::int)::bigint
            FROM (SELECT a.part AS part, count(b.part)::bigint AS ov
                  FROM p a LEFT JOIN p b
                    ON a.part <> b.part AND a.min_v <= b.max_v
                   AND a.max_v >= b.min_v
                  GROUP BY 1)
        """,
        # q223: vocab = top-100 (cnt desc, token asc) of min_count≥5
        # normalized tokens; NULL lang joined null-safely
        "q223_oov_report": f"""
            WITH c AS (
              SELECT lang, text, {_NORM} AS t FROM documents
            ), tok AS (
              SELECT lang, unnest(regexp_split_to_array(t, ' ')) AS token
              FROM c WHERE length(t) > 0
            ), vc AS (
              SELECT token FROM (
                SELECT token, count(*)::bigint AS cnt
                FROM (SELECT unnest(regexp_split_to_array(t, ' ')) AS token
                      FROM c WHERE length(t) > 0)
                GROUP BY token HAVING count(*) >= 5
              ) ORDER BY cnt DESC, token LIMIT 100
            ), tk AS (
              SELECT tok.lang, count(*)::bigint AS n_tokens,
                     sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0
                         END)::bigint AS n_oov
              FROM tok LEFT JOIN vc v USING (token) GROUP BY tok.lang
            ), d AS (
              SELECT lang, count(*)::bigint AS n_docs,
                     sum(coalesce({_NBPE}, 0))::bigint AS n_bpe
              FROM documents GROUP BY lang
            )
            SELECT d.lang, d.n_docs,
                   coalesce(tk.n_tokens, 0)::bigint AS n_tokens,
                   coalesce(tk.n_oov, 0)::bigint AS n_oov, d.n_bpe
            FROM d LEFT JOIN tk ON d.lang IS NOT DISTINCT FROM tk.lang
        """,
        # q224: run detection via lag, running-sum version ids with an
        # explicit ROWS frame, intervals via lead over the compressed
        # versions; tiebreak coalesced before the window
        "q224_scd2_build": """
            WITH b AS (
              SELECT user_id AS key, event_type AS attr, ts,
                     coalesce(event_id, -1) AS tb
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL
            ), r AS (
              SELECT key, attr, ts, tb,
                     CASE WHEN lag(attr) OVER
                              (PARTITION BY key ORDER BY ts, tb) IS NULL
                            OR lag(attr) OVER
                              (PARTITION BY key ORDER BY ts, tb) <> attr
                          THEN 1 ELSE 0 END AS chg
              FROM b
            ), v AS (
              SELECT key, attr, ts,
                     sum(chg) OVER (PARTITION BY key ORDER BY ts, tb
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS ver
              FROM r
            ), g AS (
              SELECT key, ver, min(attr) AS attr, min(ts) AS eff_from
              FROM v GROUP BY key, ver
            )
            SELECT key, attr, eff_from,
                   lead(eff_from) OVER (PARTITION BY key
                     ORDER BY eff_from) AS eff_to,
                   ver::int AS version
            FROM g
        """,
        # q225: md5(anchor|candidate) draw — fixed-width hex-prefix
        # order ≡ the engine's 60-bit numeric order; same-label and
        # NULL-label candidates excluded
        "q225_contrastive_negatives": """
            WITH a AS (
              SELECT vec_id AS query_id, label AS alab FROM embeddings
              WHERE vec_id < 8 AND label IS NOT NULL
            ), c AS (
              SELECT vec_id AS neighbor_id, label AS clab FROM embeddings
              WHERE vec_id IS NOT NULL AND label IS NOT NULL
            ), s AS (
              SELECT a.query_id, c.neighbor_id,
                     md5(a.query_id::varchar || '|'
                         || c.neighbor_id::varchar) AS h
              FROM a CROSS JOIN c
              WHERE c.neighbor_id <> a.query_id AND c.clab <> a.alab
            )
            SELECT query_id, neighbor_id, rk::int AS rank FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY h ASC, neighbor_id ASC) AS rk
              FROM s
            ) WHERE rk <= 5
        """,
        # q226: rank-interval overlap per distinct value; k = (n·10)
        # div 100 each side — exact ints, one round-6 division
        "q226_trimmed_mean": """
            WITH b AS (
              SELECT lang, n_chars AS v FROM documents
              WHERE n_chars IS NOT NULL
            ), per AS (
              SELECT lang, v, count(*)::bigint AS cnt
              FROM b GROUP BY lang, v
            ), w AS (
              SELECT lang, v, cnt,
                     sum(cnt) OVER (PARTITION BY lang ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     sum(cnt) OVER (PARTITION BY lang) AS n
              FROM per
            ), kp AS (
              SELECT lang, v, n, (n * 10) // 100 AS k,
                     greatest(0, least(cum, n - (n * 10) // 100)
                       - greatest(cum - cnt + 1, (n * 10) // 100 + 1)
                       + 1) AS kept
              FROM w
            )
            SELECT lang, max(n)::bigint AS n,
                   max(k)::bigint AS k_each_side,
                   sum(kept)::bigint AS n_kept,
                   sum(kept * v)::bigint AS sum_kept,
                   CASE WHEN sum(kept) > 0 THEN
                     round(sum(kept * v)::double / sum(kept)::double, 6)
                   END AS tmean
            FROM kp GROUP BY lang
        """,
        # q227: two-phase dup counts over (source, md5 fingerprint);
        # NULL lang counts as a language like any group
        "q227_source_scorecard": f"""
            WITH a AS (
              SELECT source, lang, md5({_NORM}) AS fp,
                     CASE WHEN n_chars < 200 THEN 1 ELSE 0 END AS sh,
                     coalesce(n_chars, 0)::bigint AS nc
              FROM documents
            ), g1a AS (
              SELECT source, fp, count(*)::bigint AS cnt,
                     sum(sh)::bigint AS shs, sum(nc)::bigint AS chs
              FROM a GROUP BY source, fp
            ), g1 AS (
              SELECT source, sum(cnt)::bigint AS n_docs,
                     count(*)::bigint AS n_unique_texts,
                     sum(cnt - 1)::bigint AS n_dup_rows,
                     sum(shs)::bigint AS n_short,
                     sum(chs)::bigint AS sum_chars
              FROM g1a GROUP BY source
            ), g2 AS (
              SELECT source, count(*)::bigint AS n_langs FROM (
                SELECT DISTINCT source, lang FROM a
              ) GROUP BY source
            )
            SELECT g1.source, n_docs, n_unique_texts, n_dup_rows,
                   n_langs, n_short, sum_chars
            FROM g1 JOIN g2 ON g1.source = g2.source
        """,
        # q233: plane literals + fold arithmetic replayed; cand ⊆ truth
        # by construction so n_extra is identically 0
        "q233_embedding_lsh_recall": _emb_lsh_recall_sql(),
        # q234: q219's PQ replay + coarse buckets (argmin full-dim L2²
        # over the 4 md5-sampled centroids, ties to lower id) + nprobe=2
        # probe ranking per query
        "q234_ivf_pq": """
            WITH val AS MATERIALIZED (
              SELECT vec_id, embedding AS v FROM embeddings
              WHERE embedding IS NOT NULL AND len(embedding) = 64
                AND len(list_filter(embedding, x -> x IS NULL
                      OR isnan(x) OR isinf(x))) = 0
            ), cent AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY md5(vec_id::varchar))
                       - 1 AS c, v AS cvec
              FROM val ORDER BY md5(vec_id::varchar) LIMIT 4
            ), cb AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY md5(vec_id::varchar))
                       - 1 AS code, v
              FROM val ORDER BY md5(vec_id::varchar) LIMIT 16
            ), sub AS MATERIALIZED (
              SELECT code, j, v[j*8+1 : j*8+8] AS cv
              FROM cb CROSS JOIN generate_series(0, 7) AS g(j)
            ), bkt AS MATERIALIZED (
              SELECT vec_id, c AS bucket FROM (
                SELECT d.vec_id, ct.c,
                       row_number() OVER (PARTITION BY d.vec_id
                         ORDER BY list_aggregate(list_transform(
                           generate_series(1, 64),
                           i -> (d.v[i]::DOUBLE - ct.cvec[i]::DOUBLE)
                              * (d.v[i]::DOUBLE - ct.cvec[i]::DOUBLE)),
                           'sum') ASC, ct.c ASC) AS rn
                FROM val d CROSS JOIN cent ct
              ) WHERE rn = 1
            ), codes AS MATERIALIZED (
              SELECT vec_id, j, code FROM (
                SELECT d.vec_id, s.j, s.code,
                       row_number() OVER (PARTITION BY d.vec_id, s.j
                         ORDER BY list_aggregate(list_transform(
                           generate_series(1, 8),
                           i -> (d.v[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)
                              * (d.v[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)),
                           'sum') ASC, s.code ASC) AS rn
                FROM val d CROSS JOIN sub s
              ) WHERE rn = 1
            ), q AS MATERIALIZED (
              SELECT vec_id AS query_id, v AS qv FROM val WHERE vec_id < 8
            ), qprobe AS MATERIALIZED (
              SELECT query_id, c FROM (
                SELECT q.query_id, ct.c,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY list_aggregate(list_transform(
                           generate_series(1, 64),
                           i -> (q.qv[i]::DOUBLE - ct.cvec[i]::DOUBLE)
                              * (q.qv[i]::DOUBLE - ct.cvec[i]::DOUBLE)),
                           'sum') ASC, ct.c ASC) AS rn
                FROM q CROSS JOIN cent ct
              ) WHERE rn <= 2
            ), tbl AS MATERIALIZED (
              SELECT q.query_id, s.j, s.code,
                     floor(list_aggregate(list_transform(
                       generate_series(1, 8),
                       i -> (q.qv[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)
                          * (q.qv[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)),
                       'sum') * 1000000 + 0.5)::bigint AS cell
              FROM q CROSS JOIN sub s
            ), score AS MATERIALIZED (
              SELECT t.query_id, cd.vec_id AS neighbor_id,
                     sum(t.cell)::bigint AS adc
              FROM codes cd
              JOIN bkt b ON b.vec_id = cd.vec_id
              JOIN qprobe p ON p.c = b.bucket
              JOIN tbl t ON t.query_id = p.query_id
                        AND cd.j = t.j AND cd.code = t.code
              WHERE cd.vec_id <> t.query_id
              GROUP BY 1, 2
            )
            SELECT query_id, neighbor_id, rk::int AS rank FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC) AS rk
              FROM score
            ) WHERE rk <= 10
        """,
        # q232: 3-span rotation with content; per-kind two-phase dup
        # rollup; text key = md5(coalesced 40-char slice), media key =
        # the mod-50 asset ref
        "q232_span_dup_topline": """
            WITH s AS (
              SELECT CASE (doc_id + j) % 3 WHEN 0 THEN 'text'
                          WHEN 1 THEN 'image' ELSE 'audio' END AS kind,
                     CASE WHEN (doc_id + j) % 3 = 0
                          THEN md5(coalesce(substr(text, 1 + j * 40, 40),
                                            ''))
                          ELSE 'm-' || lpad(((doc_id * 7 + j) % 50)
                                 ::varchar, 4, '0') END AS k
              FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
            ), per AS (
              SELECT kind, k, count(*)::bigint AS cnt
              FROM s GROUP BY kind, k
            )
            SELECT kind, sum(cnt)::bigint AS n_spans,
                   count(*)::bigint AS n_distinct,
                   sum(cnt - 1)::bigint AS dup_rows
            FROM per GROUP BY kind
        """,
        # q231: frame signatures re-derived as hex substrings of the
        # deterministic media payload; exhaustive exact Jaccard over
        # 2-shingles of the ordered frame sequence
        "q231_audio_fingerprint": """
            WITH au AS (
              SELECT doc_id,
                     '52494646' || md5(doc_id::varchar)
                       || md5(doc_id::varchar || ':2')
                       || md5(doc_id::varchar || ':3') AS hx
              FROM documents
              WHERE (strpos('0123456789abcdef',
                       substr(md5(doc_id::varchar), 1, 1)) - 1) % 3 = 2
            ), corpus AS (
              SELECT doc_id::varchar AS k, hx FROM au
              UNION ALL
              SELECT (doc_id + 3000000)::varchar, substr(hx, 1, 82)
              FROM au WHERE doc_id % 7 = 0
            ), fr AS (
              SELECT k, list_transform(
                       generate_series(0, (length(hx) // 32) - 1),
                       i -> substr(hx, i * 32 + 1, 32)) AS sigs
              FROM corpus
            ), g AS (
              SELECT k, list_distinct(list_transform(
                       generate_series(1, greatest(len(sigs) - 1, 1)),
                       i -> array_to_string(sigs[i:i+1], '|'))) AS grams
              FROM fr WHERE len(sigs) > 0
            ), p AS (
              SELECT x.k AS a, y.k AS b,
                     round(len(list_intersect(x.grams, y.grams))::double
                       / len(list_distinct(x.grams || y.grams))::double,
                       6) AS jaccard
              FROM g x JOIN g y ON x.k < y.k
            )
            SELECT a, b, jaccard FROM p WHERE jaccard >= 0.5
        """,
        # q230: 45 conditional pair sums in one scan, stacked
        "q230_rule_coviolation": _coviolation_oracle_sql(),
        "q250_rule_impact": _rule_impact_oracle_sql(),
        # q228: distinct-value mid-ranks joined back; NULL n_chars rows
        # pass through with NULL pct
        "q228_quantile_normalize": """
            WITH b AS (SELECT doc_id, lang, n_chars FROM documents),
            per AS (
              SELECT lang, n_chars AS v, count(*)::bigint AS cnt
              FROM b WHERE n_chars IS NOT NULL GROUP BY 1, 2
            ), r AS (
              SELECT lang, v,
                     (2 * (sum(cnt) OVER (PARTITION BY lang ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - cnt) + cnt)::bigint AS mid2,
                     sum(cnt) OVER (PARTITION BY lang) AS n
              FROM per
            )
            SELECT b.doc_id, b.lang, b.n_chars, r.mid2,
                   round(r.mid2::double / (2 * r.n)::double, 6) AS pct
            FROM b LEFT JOIN r
              ON b.lang IS NOT DISTINCT FROM r.lang AND b.n_chars = r.v
        """,
        # q229: EMD by cross-multiplied cumulative counts (HUGEINT ≡
        # Spark decimal(38,0)); the dense group×s grid via cross joins
        "q229_t_closeness": """
            WITH b AS (
              SELECT lang, (n_chars // 200)::bigint AS s
              FROM documents WHERE n_chars IS NOT NULL
            ), g AS (
              SELECT s, count(*)::bigint AS pc FROM b GROUP BY s
            ), gc AS (
              SELECT s, sum(pc) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump
              FROM g
            ), tot AS (
              SELECT count(*)::bigint AS nn,
                     count(DISTINCT s)::bigint AS m FROM b
            ), q AS (
              SELECT lang, s, count(*)::bigint AS qc
              FROM b GROUP BY lang, s
            ), ngs AS (
              SELECT lang, count(*)::bigint AS ng FROM b GROUP BY lang
            ), grid AS (
              SELECT ngs.lang, gc.s, gc.cump, tot.nn, tot.m, ngs.ng,
                     coalesce(q.qc, 0) AS qc
              FROM ngs CROSS JOIN gc CROSS JOIN tot
              LEFT JOIN q ON q.lang IS NOT DISTINCT FROM ngs.lang
                         AND q.s = gc.s
            ), terms AS (
              SELECT lang, ng, nn, m,
                     abs((sum(qc) OVER (PARTITION BY lang ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        )::HUGEINT * nn - cump::HUGEINT * ng) AS term
              FROM grid
            )
            SELECT lang, max(ng)::bigint AS n,
                   sum(term)::bigint AS emd_num,
                   CASE WHEN max(m) > 1 THEN
                     round(sum(term)::double /
                       (max(nn)::double * max(ng)::double
                        * (max(m) - 1)::double), 6)
                   ELSE 0.0 END AS t
            FROM terms GROUP BY lang
        """,
        # q220: recall@10 of PQ against the exact oracle — both ranked
        # lists re-derived in SQL (q19's exact top-k, q219's full PQ
        # replay), joined on (query, neighbor)
        "q220_pq_recall": f"""
            SELECT e.query_id,
                   count(*)::bigint AS n_exact,
                   count(p.neighbor_id)::bigint AS n_matched
            FROM ({_ANN_TOPK}) e
            LEFT JOIN ({_PQ_ANN_SQL}) p
              ON e.query_id = p.query_id
             AND e.neighbor_id = p.neighbor_id
            GROUP BY e.query_id
        """,
        # q235: same md5-derived points, exhaustive cross-join filter
        # (the O(|L|·|R|) plan the grid join exists to avoid — runnable
        # only at oracle scale)
        "q235_spatial_grid_join": """
            WITH c AS (
              SELECT c_custkey AS a,
                CAST('0x' || substr(md5(c_custkey::VARCHAR || chr(31)
                  || '11'), 1, 8) AS BIGINT) % 10000 AS ax,
                CAST('0x' || substr(md5(c_custkey::VARCHAR || chr(31)
                  || '12'), 1, 8) AS BIGINT) % 10000 AS ay
              FROM customer
            ), s AS (
              SELECT s_suppkey AS b,
                CAST('0x' || substr(md5(s_suppkey::VARCHAR || chr(31)
                  || '13'), 1, 8) AS BIGINT) % 10000 AS bx,
                CAST('0x' || substr(md5(s_suppkey::VARCHAR || chr(31)
                  || '14'), 1, 8) AS BIGINT) % 10000 AS by
              FROM supplier
            )
            SELECT a, b,
                   (ax - bx) * (ax - bx) + (ay - by) * (ay - by) AS dist2
            FROM c, s
            WHERE (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 90000
        """,
        # q236: MERGE re-derived as NOT EXISTS + UNION ALL of surviving
        # source rows (updates %7, deletes %21 ⊂ matches, inserts %13
        # shifted +100000)
        "q236_merge_upsert": """
            WITH src AS (
              SELECT c_custkey,
                     c_name || '_v2' AS c_name,
                     c_nationkey,
                     c_acctbal + 100.0 AS c_acctbal,
                     c_mktsegment,
                     (c_custkey % 21 = 0) AS deleted
              FROM customer WHERE c_custkey % 7 = 0
              UNION ALL
              SELECT c_custkey + 100000,
                     'new_' || c_custkey::VARCHAR,
                     c_nationkey, 0.0, c_mktsegment, FALSE
              FROM customer WHERE c_custkey % 13 = 0
            )
            SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal,
                   t.c_mktsegment
            FROM customer t
            WHERE NOT EXISTS (SELECT 1 FROM src s
                              WHERE s.c_custkey = t.c_custkey)
            UNION ALL
            SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   c_mktsegment
            FROM src WHERE NOT deleted
        """,
        # q237: identical int64 div arithmetic per source; total weight
        # is exactly 1e6 by construction
        "q237_token_budget_mix": """
            WITH supply AS (
              SELECT source, SUM(n_chars)::BIGINT AS tokens_avail
              FROM documents GROUP BY source
            ), w AS (
              SELECT source, tokens_avail,
                     (CASE source WHEN 'src0' THEN 400000
                                  WHEN 'src1' THEN 300000
                                  WHEN 'src2' THEN 200000
                                  WHEN 'src5' THEN 100000
                                  ELSE 0 END)::BIGINT AS weight_ppm
              FROM supply
            ), d AS (
              SELECT *,
                     50000 * weight_ppm // 1000000 AS desired_tokens,
                     tokens_avail * 2500000 // 1000000 AS cap
              FROM w
            )
            SELECT source, tokens_avail, weight_ppm, desired_tokens,
                   LEAST(desired_tokens, cap) AS alloc_tokens,
                   CASE WHEN tokens_avail > 0
                        THEN LEAST(desired_tokens, cap) * 1000000
                             // tokens_avail
                        ELSE 0 END AS epochs_ppm,
                   desired_tokens - LEAST(desired_tokens, cap)
                     AS deficit_tokens
            FROM d
        """,
        # q238: four tables' plane literals + both collide predicates
        # replayed; candidates ⊆ truth by the verify step so n_extra
        # is identically 0
        "q238_embedding_lsh_multitable": _emb_multitable_sql(),
        # q239: merge-by-max ≡ direct sketch, so the oracle registers
        # come straight off the full corpus; both estimate branches
        # exercised by the per-lang cardinalities around 2.5m = 80
        "q239_hll_distinct_sketch": _hll_sql(),
        # q240: k-th order statistic via row_number + correlated
        # lookup; groups absent from the calibration split drop (no
        # threshold -> nothing to audit), inner-join semantics in both
        "q240_conformal_calibration": """
            WITH calib AS (
              SELECT event_type, value FROM events
              WHERE event_id % 2 = 0 AND value IS NOT NULL
            ), nk AS (
              SELECT event_type, count(*)::BIGINT AS n_calib,
                     ((count(*) + 1) * 900000 + 999999) // 1000000
                       AS rank_k
              FROM calib GROUP BY event_type
            ), ranked AS (
              SELECT event_type, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value) AS rn
              FROM calib
            ), thr AS (
              SELECT nk.event_type, nk.n_calib, nk.rank_k,
                     (SELECT r.value FROM ranked r
                      WHERE r.event_type = nk.event_type
                        AND r.rn = nk.rank_k) AS threshold
              FROM nk
            )
            SELECT t.event_type, t.n_calib, t.rank_k, t.threshold,
                   count(*)::BIGINT AS n_eval,
                   sum((e.value <= t.threshold
                        OR t.threshold IS NULL)::int)::BIGINT
                     AS n_covered,
                   (sum((e.value <= t.threshold
                         OR t.threshold IS NULL)::int)::BIGINT
                    * 1000000) // count(*)::BIGINT AS coverage_ppm
            FROM events e JOIN thr t ON e.event_type = t.event_type
            WHERE e.event_id % 2 = 1 AND e.value IS NOT NULL
            GROUP BY t.event_type, t.n_calib, t.rank_k, t.threshold
        """,
        # q241: Kish ESS — Σw/Σw² as exact int128 (DuckDB HUGEINT ≡
        # Spark decimal(38,0)) crossing as strings; the two divisions
        # are identical doubles in both engines, round-6 safe; the
        # ratio rounds the ALREADY-rounded ess (mirrors the Spark
        # expression exactly)
        "q241_ess_report": """
            WITH w AS (
              SELECT lang,
                     CASE WHEN doc_id % 19 = 0 THEN 0
                          ELSE CAST('0x' || substr(md5(doc_id::varchar), 1, 8)
                                    AS BIGINT) % 1000000
                     END AS w
              FROM documents
            ), agg AS (
              SELECT lang,
                     sum((w > 0)::int)::BIGINT AS n,
                     sum((w <= 0 OR w IS NULL)::int)::BIGINT AS n_zero_weight,
                     sum(CASE WHEN w > 0 THEN w ELSE 0 END)::HUGEINT AS sw,
                     sum(CASE WHEN w > 0 THEN w * w ELSE 0 END)::HUGEINT AS sw2
              FROM w GROUP BY lang
            )
            SELECT lang, n, n_zero_weight,
                   CAST(sw AS VARCHAR) AS sum_w,
                   CAST(sw2 AS VARCHAR) AS sum_w2,
                   CASE WHEN sw2 > 0
                        THEN round((sw::DOUBLE * sw::DOUBLE) / sw2::DOUBLE, 6)
                   END AS ess,
                   CASE WHEN n > 0
                        THEN round(CASE WHEN sw2 > 0
                                        THEN round((sw::DOUBLE * sw::DOUBLE)
                                                   / sw2::DOUBLE, 6)
                                   END / n::DOUBLE, 6)
                   END AS ess_ratio
            FROM agg
        """,
        # q242: calendar-lag pairs by exact date addition; six HUGEINT
        # moments ≡ Spark decimal(38,0); r mirrors the Spark expression
        # num/sqrt(vx*vy) over identical exact integers
        "q242_acf_report": """
            WITH daily AS (
              SELECT event_type AS grp, CAST(ts AS DATE) AS d,
                     count(*)::BIGINT AS c
              FROM events GROUP BY 1, 2
            ), lags AS (
              SELECT unnest(generate_series(1, 7)) AS lag
            ), pairs AS (
              SELECT a.grp, l.lag, a.c AS x0, b.c AS x1
              FROM daily a CROSS JOIN lags l
              JOIN daily b ON b.grp = a.grp AND b.d = a.d + l.lag::int
            ), agg AS (
              SELECT grp, lag, count(*)::BIGINT AS n_pairs,
                     sum(x0)::HUGEINT AS sx, sum(x1)::HUGEINT AS sy,
                     sum(x0::HUGEINT * x0) AS sxx,
                     sum(x1::HUGEINT * x1) AS syy,
                     sum(x0::HUGEINT * x1) AS sxy
              FROM pairs GROUP BY 1, 2
            )
            SELECT grp AS event_type, lag, n_pairs,
                   CASE WHEN (n_pairs * sxx - sx * sx) > 0
                         AND (n_pairs * syy - sy * sy) > 0
                        THEN round((n_pairs * sxy - sx * sy)::DOUBLE
                                   / sqrt((n_pairs * sxx - sx * sx)::DOUBLE
                                          * (n_pairs * syy - sy * sy)::DOUBLE),
                                   6)
                   END AS acf
            FROM agg
        """,
        # q243: distinct-value rank runs — run of c copies of v at
        # start rank s contributes v*(c*s + c(c-1)//2); HUGEINT ≡
        # decimal(38,0); ROWS frame explicit (the r4 RANGE-default
        # gotcha)
        "q243_gini_concentration": """
            WITH base AS (
              SELECT lang, n_chars::BIGINT AS v FROM documents
            ), excl AS (
              SELECT lang,
                     sum((v IS NULL OR v < 0)::int)::BIGINT AS n_excluded
              FROM base GROUP BY lang
            ), dv AS (
              SELECT lang, v, count(*)::BIGINT AS c
              FROM base WHERE v IS NOT NULL AND v >= 0 GROUP BY 1, 2
            ), st AS (
              SELECT lang, v, c,
                     1 + coalesce(sum(c) OVER (
                           PARTITION BY lang ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS s
              FROM dv
            ), agg AS (
              SELECT lang, sum(c)::HUGEINT AS n,
                     sum(v::HUGEINT * c) AS sx,
                     sum(v::HUGEINT * (c::HUGEINT * s + c * (c - 1) // 2))
                       AS si
              FROM st GROUP BY lang
            )
            SELECT e.lang, coalesce(a.n, 0)::BIGINT AS n, e.n_excluded,
                   coalesce(CAST(a.sx AS VARCHAR), '0') AS total,
                   CASE WHEN a.n * a.sx > 0
                        THEN round((2 * a.si - (a.n + 1) * a.sx)::DOUBLE
                                   / (a.n * a.sx)::DOUBLE, 6)
                   END AS gini
            FROM excl e LEFT JOIN agg a ON e.lang = a.lang
        """,
        # q244: same running-max window chain; half-open [start, end),
        # inverted rows clamped to points via greatest
        "q244_interval_overlap_audit": """
            WITH iv AS (
              SELECT o_custkey % 50 AS entity,
                     CAST(o_orderdate AS DATE) AS s,
                     CAST(o_orderdate AS DATE)
                       + (o_orderkey % 45 - 3)::int AS e
              FROM orders
            ), st AS (
              SELECT entity, s, e,
                     greatest(s, e) AS e2,
                     (e < s)::int AS inv,
                     max(greatest(s, e)) OVER (
                       PARTITION BY entity ORDER BY s, greatest(s, e)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS pmax
              FROM iv
            )
            SELECT entity, count(*)::BIGINT AS n_intervals,
                   sum(inv)::BIGINT AS n_inverted,
                   sum((pmax IS NOT NULL AND s < pmax)::int)::BIGINT
                     AS n_overlapping,
                   coalesce(sum(CASE WHEN pmax IS NOT NULL AND s < pmax
                                     THEN date_diff('day', s,
                                                    least(e2, pmax)) END),
                            0)::BIGINT AS overlap_days,
                   sum((pmax IS NOT NULL AND s > pmax)::int)::BIGINT
                     AS n_gaps,
                   coalesce(sum(CASE WHEN pmax IS NOT NULL AND s > pmax
                                     THEN date_diff('day', pmax, s) END),
                            0)::BIGINT AS gap_days,
                   date_diff('day', min(s), max(e2))::BIGINT AS span_days
            FROM st GROUP BY entity
        """,
        # q245: EXHAUSTIVE vocab cross join at lev=1 — the truth set
        # the SymSpell deletion-neighborhood join must fully recover
        # (zero recall loss); planted typos replayed from the same
        # tokenize
        "q245_typo_pairs": f"""
            WITH c0 AS (SELECT {_NORM} AS t FROM documents),
            tk0 AS (
              SELECT unnest(regexp_split_to_array(t, ' ')) AS w
              FROM c0 WHERE length(t) > 0
            ), hot AS (
              SELECT w FROM tk0
              WHERE regexp_matches(w, '^[a-z]{{5,10}}$')
              GROUP BY w HAVING count(*) >= 5
            ), allw AS (
              SELECT w FROM tk0
              UNION ALL
              SELECT substr(w, 1, 1) || substr(w, 3) FROM hot
            ), vocab AS (
              SELECT w, count(*)::BIGINT AS n FROM allw
              WHERE regexp_matches(w, '^[a-z]{{4,12}}$')
              GROUP BY w
            )
            SELECT a.w AS word_a, b.w AS word_b, a.n AS n_a, b.n AS n_b
            FROM vocab a JOIN vocab b
              ON a.w < b.w AND levenshtein(a.w, b.w) = 1
        """,
        # q246: per-(fp, source) counts then a fp equi-join with
        # src_a < src_b — the quadratic-in-|sources| truth the
        # row-local array expansion must reproduce
        "q246_cross_source_dups": f"""
            WITH corpus AS (
              SELECT text,
                     'src' || CAST(doc_id % 3 AS VARCHAR) AS src
              FROM documents
              UNION ALL
              SELECT text, 'mirror_site' FROM documents
              WHERE doc_id % 7 = 0
              UNION ALL
              SELECT text, 'laundered' FROM documents
              WHERE doc_id % 10 = 0
            ), fs AS (
              SELECT md5({_NORM}) AS fp, src, count(*)::BIGINT AS n
              FROM corpus WHERE src IS NOT NULL GROUP BY 1, 2
            )
            SELECT a.src AS source_a, b.src AS source_b,
                   count(*)::BIGINT AS n_shared_fps,
                   sum(a.n)::BIGINT AS docs_a,
                   sum(b.n)::BIGINT AS docs_b
            FROM fs a JOIN fs b ON a.fp = b.fp AND a.src < b.src
            GROUP BY 1, 2
        """,
        # q247: exhaustive per-basket pair join — quadratic truth for
        # the two-phase array expansion; lift selection is the same
        # HUGEINT cross-multiplication, display lift the same two
        # exact integers divided as doubles
        "q247_basket_pairs": """
            WITH bi AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
            ), sizes AS (
              SELECT b, count(*) AS sz FROM bi GROUP BY b
            ), kept AS (SELECT b FROM sizes WHERE sz <= 200),
            bik AS (SELECT bi.* FROM bi JOIN kept USING (b)),
            nb AS (SELECT count(*)::BIGINT AS n FROM kept),
            pr AS (
              SELECT a.i AS item_a, b2.i AS item_b,
                     count(*)::BIGINT AS c_ab
              FROM bik a JOIN bik b2 ON a.b = b2.b AND a.i < b2.i
              GROUP BY 1, 2 HAVING count(*) >= 2
            ), supp AS (
              SELECT i, count(*)::BIGINT AS c FROM bik GROUP BY i
            )
            SELECT item_a, item_b, c_ab, sa.c AS c_a, sb.c AS c_b,
                   nb.n AS n_baskets,
                   round((c_ab::HUGEINT * nb.n)::DOUBLE
                         / (sa.c::HUGEINT * sb.c)::DOUBLE, 6) AS lift
            FROM pr JOIN supp sa ON sa.i = item_a
                    JOIN supp sb ON sb.i = item_b, nb
            WHERE c_ab::HUGEINT * nb.n > sa.c::HUGEINT * sb.c
            ORDER BY c_ab DESC, item_a, item_b LIMIT 100
        """,
        # q248: lag-window gap stats per actor; the consecutive-diff
        # multiset of a sorted multiset is tie-order independent, so
        # both engines agree even on duplicate timestamps. mean is
        # truncating div both sides (Spark div ≡ DuckDB //); the
        # planted metronome replays as make_timestamp micros
        "q248_robotic_cadence": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS actor,
                     epoch_us(ts)::BIGINT AS us
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
              UNION ALL
              SELECT 'bot_1',
                     (1704067200 + i * 60) * 1000000
              FROM generate_series(0, 19) AS g(i)
            ), g AS (
              SELECT actor, us,
                     us - lag(us) OVER (PARTITION BY actor ORDER BY us)
                       AS gp
              FROM ev
            ), a AS (
              SELECT actor, count(*)::BIGINT AS n_events,
                     count(gp)::BIGINT AS n_gaps,
                     sum(gp)::BIGINT AS sg,
                     min(gp)::BIGINT AS min_gap_us,
                     max(gp)::BIGINT AS max_gap_us
              FROM g GROUP BY actor HAVING count(*) >= 5
            )
            SELECT actor, n_events, n_gaps,
                   sg // n_gaps AS mean_gap_us,
                   min_gap_us, max_gap_us,
                   ((max_gap_us - min_gap_us)::HUGEINT * 100 * n_gaps
                      <= 10::HUGEINT * sg) AS robotic
            FROM a
        """,
        # q249: q192's exact BM25 CTE chain + q19's cosine ranking,
        # fused on 10^12 // (60 + rank) integer contributions; rank
        # and cut replayed with the same (rrf_int DESC, doc_id) order
        "q249_hybrid_rrf": f"""
            WITH q(query_id, term) AS (
              VALUES ('q1','hash'), ('q1','join'), ('q1','merge'),
                     ('q2','stream'), ('q2','window'), ('q2','vector')
            ), base AS (
              SELECT doc_id, {_NORM} AS nt FROM documents
            ), dl AS (
              SELECT doc_id,
                     (CASE WHEN nt = '' THEN 0
                           ELSE len(string_split(nt, ' ')) END)::bigint
                       AS dl
              FROM base
            ), stats AS (
              SELECT count(*)::bigint AS n_docs,
                     (2000 * sum(dl) + count(*)) // (2 * count(*)) AS a
              FROM dl
            ), tf AS (
              SELECT doc_id, term,
                     least(count(*), 4096)::bigint AS tf
              FROM (
                SELECT doc_id, unnest(string_split(nt, ' ')) AS term
                FROM base WHERE nt <> ''
              ) GROUP BY doc_id, term
            ), m AS (
              SELECT tf.doc_id, tf.term, tf.tf, dl.dl
              FROM tf
              JOIN (SELECT DISTINCT term FROM q) qt USING (term)
              JOIN dl USING (doc_id)
            ), dfc AS (
              SELECT term, count(*)::bigint AS df FROM m GROUP BY term
            ), idf AS (
              SELECT term,
                     round(ln((2 * stats.n_docs + 2)::double
                              / (2 * df + 1)) * 10000)::bigint AS idf_int
              FROM dfc, stats
            ), sc AS (
              SELECT m.doc_id, m.term,
                     (idf.idf_int * (22 * stats.a * m.tf))
                       // (10 * stats.a * m.tf + 3 * stats.a
                           + 9000 * m.dl) AS s
              FROM m JOIN idf USING (term), stats
            ), ds AS (
              SELECT q.query_id, sc.doc_id, sum(sc.s)::bigint AS bm25_int
              FROM sc JOIN q USING (term) GROUP BY 1, 2
            ), lex AS (
              SELECT query_id, doc_id, rnk FROM (
                SELECT *, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY bm25_int DESC, doc_id) AS rnk
                FROM ds
              ) WHERE rnk <= 8
            ), qd AS (
              SELECT vec_id, embedding AS qv FROM embeddings
              WHERE vec_id IN (1, 2)
            ), sd AS (
              SELECT qd.vec_id, e.vec_id AS doc_id,
                     round(list_cosine_similarity(e.embedding, qd.qv), 9)
                       AS cos
              FROM embeddings e, qd WHERE e.vec_id <> qd.vec_id
            ), den AS (
              SELECT 'q' || vec_id::varchar AS query_id, doc_id, rnk
              FROM (
                SELECT vec_id, doc_id, row_number() OVER (
                         PARTITION BY vec_id
                         ORDER BY cos DESC, doc_id ASC) AS rnk
                FROM sd
              ) WHERE rnk <= 10
            ), u AS (
              SELECT query_id, doc_id,
                     1000000000000 // (60 + rnk) AS c FROM lex
              UNION ALL
              SELECT query_id, doc_id, 1000000000000 // (60 + rnk)
              FROM den
            ), fz AS (
              SELECT query_id, doc_id, sum(c)::bigint AS rrf_int,
                     count(*)::int AS n_lists
              FROM u GROUP BY 1, 2
            )
            SELECT query_id, doc_id, rrf_int, n_lists,
                   round(rrf_int::DOUBLE / 1e12, 6) AS rrf,
                   rk::int AS rank
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf_int DESC, doc_id) AS rk
              FROM fz
            ) WHERE rk <= 10
        """,
    }


_PQ_ANN_SQL = """
            WITH val AS MATERIALIZED (
              SELECT vec_id, embedding AS v FROM embeddings
              WHERE embedding IS NOT NULL AND len(embedding) = 64
                AND len(list_filter(embedding, x -> x IS NULL
                      OR isnan(x) OR isinf(x))) = 0
            ), cb AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY md5(vec_id::varchar))
                       - 1 AS code, v
              FROM val ORDER BY md5(vec_id::varchar) LIMIT 16
            ), sub AS MATERIALIZED (
              SELECT code, j, v[j*8+1 : j*8+8] AS cv
              FROM cb CROSS JOIN generate_series(0, 7) AS g(j)
            ), codes AS MATERIALIZED (
              SELECT vec_id, j, code FROM (
                SELECT d.vec_id, s.j, s.code,
                       row_number() OVER (PARTITION BY d.vec_id, s.j
                         ORDER BY list_aggregate(list_transform(
                           generate_series(1, 8),
                           i -> (d.v[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)
                              * (d.v[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)),
                           'sum') ASC, s.code ASC) AS rn
                FROM val d CROSS JOIN sub s
              ) WHERE rn = 1
            ), q AS MATERIALIZED (
              SELECT vec_id AS query_id, v AS qv FROM val WHERE vec_id < 8
            ), tbl AS MATERIALIZED (
              SELECT q.query_id, s.j, s.code,
                     floor(list_aggregate(list_transform(
                       generate_series(1, 8),
                       i -> (q.qv[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)
                          * (q.qv[s.j*8+i]::DOUBLE - s.cv[i]::DOUBLE)),
                       'sum') * 1000000 + 0.5)::bigint AS cell
              FROM q CROSS JOIN sub s
            ), score AS MATERIALIZED (
              SELECT t.query_id, c.vec_id AS neighbor_id,
                     sum(t.cell)::bigint AS adc
              FROM codes c JOIN tbl t ON c.j = t.j AND c.code = t.code
              WHERE c.vec_id <> t.query_id
              GROUP BY 1, 2
            )
            SELECT query_id, neighbor_id, rk::int AS rank FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC) AS rk
              FROM score
            ) WHERE rk <= 10
"""
