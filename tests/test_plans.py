"""Plan-quality regression tests: the physical plans we shipped are the
plans we keep. These assert the scale-critical properties — column
pruning reaching the parquet scan, broadcast anti-joins, single-scan
aggregation, shuffle counts — so a refactor that silently introduces an
extra shuffle or un-prunes the scan fails here, not at 100 TB."""

import pytest
from pyspark.sql import functions as F

from validate_spark import RuleSet, validate
from validate_spark.operators import refcheck as rc
from validate_spark.operators import stats as st
from validate_spark.operators import uniq as uq

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_validation_is_shuffle_free(spark):
    """The whole rule-set evaluation is projections over the scan — no
    Exchange anywhere in the annotated frame (SURVEY.md §3.5: one job =
    projections; the only shuffles in the engine are in dataset ops)."""
    docs = spark.read.parquet(DOCS)
    res = validate(
        docs,
        RuleSet(rules={"text": "required|minLength:50", "lang": "enum:en,de"}),
        key_cols=["doc_id"],
    )
    plan = physical(res.annotated)
    assert "Exchange" not in plan
    plan_v = physical(res.violations())
    assert "Exchange" not in plan_v  # explode is stateless, still no shuffle
    # r6: the Generate must explode a LITERAL index sequence, never the
    # failed/results array expression — an inline array generator is
    # evaluated INTERPRETED by GenerateExec, and column pruning inlines
    # the whole compiled rule tree into it (~13x, measured). The rule
    # evaluation has to stay a codegen projection BELOW the Generate.
    gen_line = next(l for l in plan_v.splitlines() if "Generate " in l)
    # the generator argument (before the requiredChildOutput list) must
    # be the constant-folded literal index array, not a _vs_ expression
    gen_expr = gen_line.split("), [")[0]
    assert "_vs_" not in gen_expr
    assert "UnsafeArrayData" in gen_expr or "sequence(0" in gen_expr


def test_scan_column_pruning(spark):
    """verdicts() over rules on (text) must not read lang/source/n_chars
    from parquet — ReadSchema is the contract that pruning reached the
    scan."""
    docs = spark.read.parquet(DOCS)
    res = validate(docs, RuleSet(rules={"text": "required|minLength:50"}), key_cols=["doc_id"])
    plan = physical(res.verdicts())
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "text" in scan_line and "doc_id" in scan_line
    assert "lang" not in scan_line and "source" not in scan_line


def test_filter_pushdown_reaches_scan(spark):
    """A pre-filter on the source composes with validation and lands in
    PushedFilters."""
    docs = spark.read.parquet(DOCS).filter(F.col("n_chars") > 100)
    res = validate(docs, RuleSet(rules={"text": "required"}), key_cols=["doc_id"])
    plan = physical(res.verdicts())
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)" in plan


def test_refcheck_broadcast_anti_join(spark):
    docs = spark.read.parquet(DOCS)
    cat = spark.createDataFrame([("src0",), ("src1",)], "ref string")
    dangling = rc.dangling_refs(docs, "source", cat, "ref")
    plan = physical(dangling)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_column_stats_single_scan_partial_agg(spark):
    """One multi-aggregate pass: exactly one parquet scan, and the
    aggregation is partial+final (map-side combine) so only agg state
    shuffles."""
    docs = spark.read.parquet(DOCS)
    s = st.column_stats(docs, ["doc_id", "text", "lang"], approx_distinct=True)
    plan = physical(s)
    assert plan.count("FileScan parquet") == 1
    assert "partial_" in plan  # partial aggregation present


def test_uniqueness_partial_aggregation(spark):
    """duplicate_keys must map-side combine before the shuffle: the plan
    has a partial HashAggregate below the Exchange."""
    docs = spark.read.parquet(DOCS)
    dup = uq.duplicate_keys(docs, "doc_id")
    plan = physical(dup)
    pre_exchange = plan.split("Exchange", 1)[1]
    assert "HashAggregate" in pre_exchange and "partial_count" in plan


def test_single_projection_rule_evaluation(spark):
    """All rules evaluate in ONE projection pass — the optimized plan has
    no repeated scans and the results array is a single Project."""
    docs = spark.read.parquet(DOCS)
    rules = {
        "doc_id": "required",
        "text": "required|minLength:10|maxLength:10000",
        "lang": "required|enum:en,de,fr,es,zh",
        "source": "regexp:^src[0-9]+$",
        "n_chars": "min:0|max:100000",
    }
    res = validate(docs, RuleSet(rules=rules), key_cols=["doc_id"])
    plan = optimized(res.annotated)
    assert plan.count("Relation") == 1  # one scan feeds all 10 predicates


def test_ann_topk_two_phase_no_window(spark):
    """ANN top-k must never window over the scored frame: a
    Window.partitionBy(query_id) funnels every scored row of a query to
    ONE reducer (hot task + unbounded sort at 10^12 corpus rows). The
    shipped plan is local top-k (partial collect below the exchange,
    uniformly keyed by (partition, query)) + a k-bounded merge — and
    corpus embedding vectors must be pruned before any exchange."""
    from validate_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for df in (
        sim.brute_force_topk(emb, q, k=5),
        sim.ivf_topk(emb, q, sim.sample_centroids(emb, 4), k=5, nprobe=4),
    ):
        plan = physical(df)
        assert "Window" not in plan
        # partial aggregation below the exchange (map-side local top-k)
        pre_exchange = plan.split("Exchange hashpartitioning", 1)[1]
        assert "partial_collect_list" in pre_exchange
        # vectors pruned before shuffle: the collected struct carries
        # only the (negated) score and the neighbor id
        assert "partial_collect_list(struct(nc" in plan


def test_exact_dup_report_two_phase_capped(spark):
    """exact_duplicates must never plan a single global collect of all
    duplicate keys: stage 1 groups by (partition, fp) so every buffer is
    task-local, stage 2 merges capped arrays. Both collects must show a
    partial phase below their exchange."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    plan = physical(dd.exact_duplicates(docs, max_keys=10))
    assert "Window" not in plan
    assert plan.count("partial_collect_list") == 2
    # stage-1 grouping is partition-scoped (spark_partition_id shows up
    # as a _nondeterministic grouping key)
    assert "_nondeterministic" in plan


def test_lsh_bucket_aggs_two_phase(spark):
    """Every LSH bucket collection (minhash bands, simhash chunks,
    AllPairs prefix grams, embedding sign-buckets) must be two-phase:
    stage 1 grouped by (spark_partition_id, bucket) with a capped local
    slice, stage 2 a merge of capped arrays — a single-stage
    groupBy(bucket).collect_set buffers an entire hot bucket on one
    task BEFORE the size filter runs (the r4 verdict's scale-killer).
    The partition-scoped stage shows up as a _nondeterministic grouping
    key; both collects must show a partial phase below their exchange."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    emb = spark.read.parquet(EMB)
    frames = {
        "minhash": dd.minhash_dedup_pairs(docs, threshold=0.9),
        "simhash": dd.simhash_candidates(docs),
        "ngram": dd.ngram_jaccard_pairs(docs, threshold=0.8),
        "embedding": dd.embedding_neardup_lsh(emb, "embedding", "vec_id", dim=64),
    }
    for name, df in frames.items():
        plan = physical(df)
        assert "_nondeterministic" in plan, name
        # the bucket merge collects capped LOCAL arrays, never raw rows:
        # stage 2 is a collect_list over stage 1's sliced `ms`
        assert "partial_collect_list(ms" in plan, name


def test_form_parse_entries_staged_once(spark):
    """parse_query_column must evaluate the entries-array transform ONCE
    per row, in its own projection — if CollapseProject ever inlines it
    into the per-field lookups, the split/decode work multiplies by the
    number of ruled fields (the shingle_frame PERF trap)."""
    from pyspark.sql import Row
    from validate_spark.sources.formsrc import parse_query_column

    df = spark.createDataFrame([Row(qid=1, q="a=1&b=2&c=3&d=4&e=5")])
    parsed = parse_query_column(df, "q", ["a", "b", "c", "d", "e", "f.g"])
    opt = optimized(parsed)
    assert opt.count("transform(") == 1   # one staged entries array
    assert opt.count("Project") == 2      # stage + lookups, not collapsed


def test_wildcard_fast_path_no_lambda_in_plan(spark):
    """enum/min/max on arr.*.leaf must compile to native array functions
    (codegen'd), not HigherOrderFunction lambdas (CodegenFallback —
    interpreted per element; measured 5.4x slower on the spans rules)."""
    sdf = spark.createDataFrame(
        [("1", [("text", 0)])],
        "doc_id string, spans array<struct<kind:string,offset:int>>",
    )
    res = validate(
        sdf,
        RuleSet(rules={
            "spans.*.kind": "enum:text,image,audio,video",
            "spans.*.offset": "min:0",
        }),
        key_cols=["doc_id"],
    )
    plan = optimized(res.annotated)
    # no per-ELEMENT lambdas remain (the engine's own failed-rules
    # filter over the n_rules-long results array is the one acceptable
    # lambda — it is O(rules) per row, not O(elements))
    assert "forall" not in plan
    # the only lambdas left belong to the engine's failed-rules filter
    # over the n_rules-long results array (O(rules) per row, not
    # O(elements)); both rule predicates must be lambda-free
    results_line = next(l for l in plan.splitlines() if "_vs_results" in l and "array(struct" in l)
    assert "lambdafunction" not in results_line
    assert "array_except" in plan and "array_min" in plan


def test_suggest_profile_single_scan_no_expand(spark):
    """suggest_rules must profile in exactly two scans regardless of
    column count: (1) the one-row stats agg — HLL distinct sketches, so
    no Expand (exact multi-countDistinct plans input-rows × N-aggs);
    (2) ONE melted distinct pass for ALL enum domains — never a
    per-column distinct().collect() loop (N+1 scans at 100 TB)."""
    from validate_spark.operators import suggest as sg

    docs = spark.read.parquet(DOCS)
    prof = physical(sg._profile_frame(docs, docs.columns))
    assert "Expand" not in prof
    assert prof.count("FileScan parquet") == 1

    dom = physical(sg._enum_domain_frame(docs, ["lang", "source"]))
    assert dom.count("FileScan parquet") == 1
    # distinct dedups map-side: a HashAggregate below the exchange
    assert "HashAggregate" in dom.split("Exchange", 1)[1]


def test_ngram_jaccard_prefix_filtered_no_full_self_join(spark):
    """q44's candidate generation must stay prefix-bucketed: no
    cartesian/nested-loop join anywhere, no self-join of the full gram
    frame — the only equi-joins are the gram-frequency attach and the
    two capped-pair verify lookups, and the bucket build shows a
    map-side partial collect below its exchange."""
    import re

    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    plan = physical(dd.ngram_jaccard_pairs(docs, threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    joins = re.findall(
        r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan
    )
    assert len(joins) <= 3  # freq attach + verify a + verify b
    # prefix buckets aggregate map-side before shuffling
    assert "partial_collect_set" in plan


def test_minhash_pipeline_single_scan(spark):
    """q16's near-dup pipeline must normalize + shingle-hash the corpus
    exactly ONCE: the staged (k, sh, sig) frame is persisted and BOTH
    the banding branch and the exact-Jaccard verify join read it
    as InMemoryTableScan. Structurally, only the cached relation's
    definition may contain the one shingle-and-signature UDF (_shsig) —
    the live (non-cache) part of the plan carries no Python UDF."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.9)
    plan = physical(pairs)
    # every consumer reads the persisted staging frame, not a re-scan
    assert "InMemoryTableScan" in plan
    # the cache-definition section is printed per reference; outside it
    # there must be NO second corpus scan: every "Scan parquet" print
    # belongs to an InMemoryRelation definition (count parity holds
    # because the live plan reads only InMemoryTableScan)
    assert plan.count("Scan parquet") == plan.count("InMemoryRelation")


def test_candidate_pair_dedup_reuses_pair_repartition(spark):
    """MinHash and AllPairs candidates are de-duplicated after the
    explicit repartition on ``a``: the distinct reuses that hash
    partitioning, so no Exchange on (a, b) of its own."""
    import re

    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    for name, df in {
        "minhash": dd.minhash_dedup_pairs(docs, threshold=0.9),
        "ngram": dd.ngram_jaccard_pairs(docs, threshold=0.8),
    }.items():
        plan = physical(df)
        assert re.search(r"Exchange hashpartitioning\(a#\d+, \d+\), REPARTITION_BY_NUM", plan), name
        assert not re.search(r"Exchange hashpartitioning\(a#\d+, b#\d+", plan), name


def test_dedup_clusters_label_init_reads_cached_adjacency(spark):
    """Label initialization groups the cached adjacency by ``u``, which
    the adjacency is already partitioned by: its final plan reads the
    cache with no Exchange above it."""
    from validate_spark.operators import dedup as dd

    i = F.col("id")
    pairs = spark.range(12).select(
        i.cast("string").alias("a"), (i + 1).cast("string").alias("b")
    )
    adj = dd._adjacency(pairs).cache()
    try:
        init = dd._initial_labels(adj)
        init.collect()
        final = physical(init).split("== Final Plan ==", 1)[1]
        above_cache = final.split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in above_cache
        assert "Exchange" not in above_cache
    finally:
        adj.unpersist()


def test_dedup_clusters_plan_stays_bounded(spark):
    """Label propagation must localCheckpoint each round: the returned
    frame's logical plan is a flat scan of the checkpointed labels, not
    a join-per-iteration nest (25 rounds over a long chain would
    otherwise stack 25 joins into the analyzer)."""
    from validate_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(12)], "a string, b string"
    )
    out = dd.dedup_clusters(pairs, max_iter=25)
    opt = optimized(out)
    assert "Join" not in opt
    assert "LogicalRDD" in opt
    assert len(opt.splitlines()) <= 4
    # and the answer is still right: one chain → one cluster, min label
    got = {r["cluster"] for r in out.collect()}
    assert got == {"0"}


def test_annotate_repetition_staged_split(spark):
    """annotate_repetition must evaluate the token split ONCE per row in
    its own projection — inlined, every signal column re-splits (the
    shingle_frame/parse_query trap, third occurrence)."""
    from validate_spark.operators.textstats import annotate_repetition

    docs = spark.read.parquet(DOCS)
    opt = optimized(annotate_repetition(docs))
    assert opt.count("split(") == 1


def test_weighted_mix_is_map_only(spark):
    """The mix builder must stay a pure map-side projection: gate +
    CASE + explode fused into the scan — no Exchange anywhere."""
    from validate_spark.operators.sampling import weighted_mix

    docs = spark.read.parquet(DOCS)
    plan = physical(weighted_mix(docs, "lang", {"en": 2.5, "de": 0.5}, "doc_id"))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_blocked_url_docs_broadcast_probe(spark):
    """The blocklist probe must broadcast (corpus never shuffles for
    membership); the only exchange is the per-doc rollup of MATCHED
    pairs."""
    import re

    from validate_spark.operators.decontam import blocked_url_docs

    docs = spark.read.parquet(DOCS)
    bl = spark.createDataFrame([("spam.example.com",)], "domain string")
    plan = physical(blocked_url_docs(docs, bl))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # allowed exchanges: ONE corpus-side rollup on k (matched pairs
    # only) and the blocklist-side dedup on dom (small side, pre-
    # broadcast). A second k-exchange would mean the distinct-agg
    # Expand crept back in.
    exchanges = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert sum(e.startswith("k") for e in exchanges) == 1, exchanges
    assert all(e.startswith(("k", "dom")) for e in exchanges), exchanges


def test_pack_sequences_no_global_sort(spark):
    """Packing must window per hash-stream, never globally: exactly one
    Exchange (hashpartitioning on stream) and no range-partitioned
    global Sort — a global pack would funnel the corpus through one
    reducer."""
    from validate_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(DOCS).select(
        "doc_id", F.length("text").alias("n_tok")
    )
    plan = physical(pack_sequences(docs, "n_tok", "doc_id", budget=512))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(stream" in plan


def test_semantic_contamination_map_side_only(spark):
    """The embedding decontam screen is a pure map-side projection:
    benchmark packed into one broadcast row (BroadcastNestedLoopJoin),
    NO aggregation shuffle on the corpus — the only hash exchange in
    the whole plan would be a regression."""
    from validate_spark.operators.decontam import semantic_contamination

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bv")
    )
    plan = physical(
        semantic_contamination(
            emb, bench, bench_vec_col="bv", bench_key_col="bid"
        )
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning" not in plan  # zero corpus-side shuffle


def test_incremental_dedup_all_exchanges_on_fp(spark):
    """Both probes (within-batch canonical + index membership) key on
    the fingerprint: every hash exchange in the plan is on fp, and
    there is no cartesian/nested-loop fallback — the co-partitioning
    claim in the docstring, asserted."""
    from validate_spark.operators.dedup import incremental_exact_dedup
    from validate_spark.operators.textstats import fingerprint

    docs = spark.read.parquet(DOCS)
    idx = docs.filter(F.col("doc_id") % 2 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    plan = physical(incremental_exact_dedup(docs, idx))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert hash_ex, "expected fp-keyed exchanges"
    assert all("fp#" in l for l in hash_ex)


def test_deterministic_shuffle_no_global_sort(spark):
    """One hash exchange on shard + a PER-PARTITION sort under the
    window — no rangepartitioning (global sort) anywhere; the plan that
    survives 10^12 rows."""
    from validate_spark.operators.sampling import deterministic_shuffle

    docs = spark.read.parquet(DOCS).select("doc_id")
    plan = physical(deterministic_shuffle(docs, "doc_id", n_shards=8, seed=3))
    assert "rangepartitioning" not in plan
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(hash_ex) == 1 and "shard#" in hash_ex[0]
    # Sort [..], false, 0 -> local (per-partition) sort, never global
    sort_lines = [l for l in plan.splitlines() if l.strip().startswith("+- Sort") or l.strip().startswith(":- Sort")]
    assert all(", false, 0" in l for l in sort_lines)


def test_duplicated_spans_single_tokenize_pass(spark):
    """duplicated_spans persists the exploded-window frame: the
    frequency rollup, the per-doc dup counts, and the coverage branch
    all read the SAME persisted relation (window building — regex +
    per-window md5 — happens once); the live plan never re-scans the
    corpus for a second tokenize."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    out = dd.duplicated_spans(docs, w=8, min_docs=2)
    plan = physical(out)
    assert "InMemoryTableScan" in plan
    # the base (k, n_tok, n_windows) projection legitimately scans the
    # corpus once; the window frame's tokenize lives only inside the
    # cached relation's definition — so at most base + cache-definition
    # scans appear, never a third
    n_cache_defs = plan.count("InMemoryRelation")
    assert plan.count("Scan parquet") <= 1 + n_cache_defs


def test_token_share_report_single_aggregation(spark):
    """One full-corpus aggregation with map-side partials; the window
    runs over the aggregated (stratum-cardinality) frame only — below
    the window there is exactly one corpus-wide exchange (the groupBy),
    plus the bounded SinglePartition exchange for the window itself."""
    from validate_spark.operators.textstats import token_share_report

    docs = spark.read.parquet(DOCS)
    plan = physical(token_share_report(docs, "source"))
    assert plan.count("Scan parquet") == 1  # ONE corpus scan, period
    assert "partial_sum" in plan or "partial_count" in plan
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(hash_ex) == 1 and "source" in hash_ex[0]
    # the scan is pruned to the two columns the report needs
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "text" in scan_line and "source" in scan_line and "doc_id" not in scan_line


def test_incremental_minhash_probe_index_never_shuffles(spark):
    """The probe join against the stored band index is a BROADCAST of
    the batch's band keys — the index is never sort-merge-joined on
    bucket keys; the batch staging frame is persisted (one batch scan
    feeds signatures + verify); hot buckets are dropped by the
    precomputed bucket_n, never re-aggregated."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    ib = dd.minhash_index_bands(docs)
    iss = dd.hashed_shingle_frame(docs)
    batch = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    plan = physical(
        dd.incremental_minhash_neardup(batch, ib, iss, threshold=0.99)
    )
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # persisted batch staging
    # the (band, bsig) probe is broadcast -- an SMJ on band keys would
    # mean the index shuffled for the probe
    assert not any(
        "SortMergeJoin [band" in l for l in plan.splitlines()
    )


def test_minhash_index_build_single_signature_pass(spark):
    """The band index build runs the signature UDF over the corpus
    exactly once: bucket sizes come from a partitioned window count,
    never a groupBy-join-back that would re-scan + re-signature."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    plan = physical(dd.minhash_index_bands(docs))
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_quality_quantile_approx_is_sortless_broadcast(spark):
    """The scale path for the per-stratum quality cut must never sort:
    threshold sketch agg + broadcast join + map-side filter. A window
    (sort) sneaking in would funnel mega-strata through one task."""
    from validate_spark.operators import sampling as sp
    from validate_spark.operators import textstats as ts

    docs = spark.read.parquet(DOCS)
    plan = physical(
        sp.quality_quantile_filter_approx(
            docs, "lang", ts.quality_score(F.col("text")), 0.3
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Sort " not in plan and "Sort[" not in plan


def test_stratum_quota_first_exchange_is_salted(spark):
    """Phase 1 must rank within (physical partition, stratum) — the
    exchange key carries SPARK_PARTITION_ID so a mega-stratum spreads
    over every task; only quota-bounded survivors shuffle on the bare
    stratum key."""
    from validate_spark.operators import sampling as sp

    docs = spark.read.parquet(DOCS)
    plan = physical(sp.stratum_quota(docs, "source", 7, "doc_id"))
    assert plan.count("Window") >= 2
    assert "_pid" in plan  # salted phase-1 partition key present


def test_label_centroid_outliers_two_scans_broadcast(spark):
    """Centroids (labels x dim, KBs) broadcast back onto the corpus:
    two scans total, no shuffle join of the corpus against itself."""
    from validate_spark.operators import similarity as sim

    emb = spark.read.parquet(EMB)
    plan = physical(sim.label_centroid_outliers(emb))
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_spans_is_take_ordered_not_global_sort(spark):
    """The global top-N must plan as TakeOrderedAndProject (per-task
    N-heaps, driver merge) — a full Sort of the span-aggregate frame
    would materialize a global order over billions of distinct spans."""
    from validate_spark.operators import dedup as dd

    docs = spark.read.parquet(DOCS)
    plan = physical(dd.top_duplicated_spans(docs, top_n=20))
    assert "TakeOrderedAndProject" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's runtime skew handling — the complement of the engine's
    static salting (uniq.py): a join whose shuffle has one hot key is
    re-planned at runtime with the skewed partition split across
    tasks (OptimizeSkewedJoin marks the SMJ with skew=true). This is
    the documented backstop for skew we did NOT predict; predicted
    skew still uses salting (bounded by construction)."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # tiny thresholds so the test's hot key counts as skew
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "20KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # one hot key (0) with 200k rows + long uniform tail
        left = spark.range(0, 260_000).select(
            F.when(F.col("id") < 200_000, F.lit(0))
            .otherwise(F.col("id") - 200_000 + 1)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 60_001).select(
            F.col("id").alias("k"), F.lit(1).alias("w")
        )
        j = left.join(right, "k")
        # collect j ITSELF so ITS QueryExecution runs to the final
        # adaptive plan (count() would plan a separate query and leave
        # j's plan at isFinalPlan=false)
        assert len(j.collect()) == 260_000  # runtime re-plan, same answer
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_annotate_spans_is_pure_projection(spark):
    """Nested span enrichment must not explode or shuffle — the whole
    point vs explode-and-regroup (which costs a doc_id shuffle plus
    collect_list buffers holding the documents themselves)."""
    import pyspark.sql.functions as F

    from validate_spark.operators.textstats import annotate_spans
    from validate_spark.sources.synth import synth_documents

    docs = synth_documents(spark, 1000)
    out = annotate_spans(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode anywhere
    row = (
        out.filter(F.size("spans") > 0)
        .select(
            F.get("spans", 0)["n_chars"].alias("nc"),
            F.get("spans", 0)["n_tokens"].alias("nt"),
            F.size("spans").alias("ns"),
        )
        .limit(1)
        .collect()[0]
    )
    assert row["nc"] is not None and row["nt"] is not None and row["ns"] >= 1


def test_acf_report_single_daily_collapse(spark):
    """acf_report persists the collapsed daily frame: both the lag
    expansion and the join side read the SAME InMemoryRelation — the
    raw events are scanned once, never once per side (at 100 TB the
    collapse IS the job; reading it twice doubles it)."""
    from validate_spark.operators.drift import acf_report

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = acf_report(ev, "ts", "event_type", max_lag=7)
    plan = physical(out)
    assert "InMemoryTableScan" in plan
    n_cache_defs = plan.count("InMemoryRelation")
    assert plan.count("Scan parquet") <= n_cache_defs  # only inside the cache def


def test_gini_is_distinct_value_shape_no_global_sort(spark):
    """gini_concentration's rank window runs over the distinct-value
    frame partitioned by group — the executed plan contains no
    partition-less Sort/Exchange (a per-row global sort would be the
    10^12-row failure mode the run-start arithmetic exists to avoid)."""
    from validate_spark.operators.stats import gini_concentration

    docs = spark.read.parquet(DOCS)
    plan = physical(gini_concentration(docs, "n_chars", group_cols=["lang"]))
    assert "rangepartitioning" not in plan.lower()


def test_typo_pairs_join_is_variant_equi_never_cartesian(spark):
    """typo_candidate_pairs' pair stage must be an equi-join on the
    deletion-variant key — never a cartesian/BNLJ over the vocabulary
    (the SymSpell identity exists precisely so the |vocab|² product
    never materializes)."""
    from validate_spark.operators.textstats import typo_candidate_pairs

    docs = spark.read.parquet(DOCS)
    plan = physical(typo_candidate_pairs(docs, "text", min_support=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
