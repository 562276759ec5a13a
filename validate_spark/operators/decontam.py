"""Benchmark decontamination — n-gram collision screening.

A training-data pipeline must guarantee the corpus does not contain
eval-benchmark text (train/test contamination). The standard screen
(GPT-3 appendix C / PaLM-style) flags a document when a high fraction
of its word n-grams collide with the UNION of the benchmark's n-grams.
This is membership-against-a-catalog — the same dataset-level lift as
the referential family (operators/refcheck.py), applied to gram sets
instead of keys; there is no single-row analogue in the reference
(gookit/validate), which never sees more than one record at a time.

Scale shape (corpus = 10^12 docs, benchmark = eval sets, i.e. SMALL):

- benchmark grams → distinct → **broadcast** hash join against the
  exploded corpus gram stream: zero shuffle on the corpus side for the
  membership probe;
- per-doc rollup → one groupBy(doc) with partial-agg counts (the only
  shuffle, count-state only);
- gram normalization/tokenization reuses ``word_ngram_frame``
  (operators/dedup.py) — staged projections, no per-row Python.

A benchmark too large to broadcast does not belong in this operator:
that is ``bloom_contamination``'s job (below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from validate_spark.operators.dedup import cosine_sim, word_ngram_frame


def contamination_report(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-corpus-doc contamination report:
    ``(k, n_grams, n_hit, overlap, contaminated)`` where ``overlap`` =
    fraction of the doc's DISTINCT word n-grams present in ANY benchmark
    doc, and ``contaminated`` = overlap ≥ threshold. Docs whose
    normalized text is empty produce no grams and no row (nothing to
    collide).

    Plan shape (r6): the benchmark gram set rides as ONE broadcast row
    holding the distinct-gram array, and ``n_hit`` is a row-local
    ``size(array_intersect(grams, bench))`` — the former
    explode-corpus-grams → left-join → groupBy(k) form shuffled the
    full (doc, gram) stream twice to compute a per-doc count that
    never needed to leave its row (guide §2.4); counts are identical
    because both gram arrays are already distinct. Broadcast budget is
    the SAME benchmark gram set the previous form broadcast as rows —
    when it outgrows broadcast, that is `bloom_contamination`'s job."""
    corpus_g = word_ngram_frame(corpus, text_col, key_col, n=n)
    bench_set = F.broadcast(
        word_ngram_frame(bench, text_col, key_col, n=n)
        .select(F.explode("grams").alias("g"))
        .distinct()
        .agg(F.collect_list("g").alias("_bg"))
    )
    rep = corpus_g.crossJoin(bench_set).select(
        "k",
        F.size("grams").alias("n_grams"),
        F.size(F.array_intersect("grams", "_bg")).alias("n_hit"),
    )
    overlap = F.round(F.col("n_hit") / F.col("n_grams"), 6)
    return rep.select(
        "k",
        "n_grams",
        F.col("n_hit").cast("long").alias("n_hit"),
        overlap.alias("overlap"),
        (overlap >= F.lit(float(threshold))).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# URL / domain blocklist screening
# ---------------------------------------------------------------------------

# scheme+host of every http(s) link; Java∩RE2 common dialect so the
# DuckDB oracle replays it byte-identically
URL_HOST_RX = r"https?://[^/\s]+"


def extract_domains(text_col: str = "text"):
    """Distinct lowercased domains linked from a document: scheme and
    :port stripped, order-free (array_distinct). Pure Column pipeline —
    regexp_extract_all + transform, fused into the scan."""
    urls = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(URL_HOST_RX), 0
    )
    return F.array_distinct(
        F.transform(
            urls,
            lambda u: F.regexp_replace(
                F.lower(F.regexp_replace(u, r"^https?://", "")), r":[0-9]+$", ""
            ),
        )
    )


def blocked_url_docs(
    corpus: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Docs that link to a blocklisted domain →
    ``(k, hits: array<string>, n_hits)`` — the URL-hygiene screen every
    web-scale corpus pass runs (spam/ad/tracker domain lists).

    Scale shape mirrors ``contamination_report``: domain extraction is
    a map-only projection over the corpus; the blocklist (small by
    nature) is **broadcast**, so the corpus never shuffles for the
    membership probe; only MATCHED (doc, domain) pairs — bounded by
    |blocklist| per doc — shuffle into the per-doc rollup."""
    doms = corpus.select(
        F.col(key_col).cast("string").alias("k"),
        F.explode(extract_domains(text_col)).alias("dom"),
    )
    bl = F.broadcast(
        blocklist.select(
            F.lower(F.col(domain_col).cast("string")).alias("dom")
        ).distinct()
    )
    hits = doms.join(bl, "dom", "inner")
    # n_hits from the collected set, NOT count_distinct: a distinct
    # aggregate beside collect_set re-plans as a two-phase Expand
    # (second k-shuffle); size(hits) reads the same buffer for free
    return (
        hits.groupBy("k")
        .agg(F.array_sort(F.collect_set("dom")).alias("hits"))
        .select("k", "hits", F.size("hits").cast("long").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------

def semantic_contamination(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    *,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    bench_vec_col: str | None = None,
    bench_key_col: str | None = None,
) -> DataFrame:
    """Embedding-level train/test contamination screen: per corpus
    vector, the max cosine similarity against ANY benchmark vector plus
    the count of benchmark vectors at or above ``threshold`` →
    ``(k, max_cos, n_hits, contaminated)``. Catches paraphrased /
    reformatted eval leakage that the n-gram screen
    (``contamination_report``) misses — the two run side by side in a
    real pipeline.

    Scale shape: the benchmark set (eval suites — small by nature) is
    packed into ONE broadcast row of (id, vec) structs and cross-joined
    in, so scoring is a pure map-side projection over the corpus —
    **zero shuffle, zero aggregation**: each corpus row folds over the
    broadcast array with JVM higher-order functions (``cosine_sim``:
    zip_with + aggregate in double precision) and emits exactly one
    output row. Cost is O(|corpus| x |bench| x dim) multiply-adds —
    the exact semantics of the screen; a benchmark too large for that
    product belongs in ``embedding_neardup_lsh``-style bucketing, not
    here.

    Cross-engine determinism: cosines are rounded to 6 before the max /
    threshold compare, and the fold is the NULL-propagating sequential
    double sum both engines replay bit-identically (round-3 gotcha);
    ``contaminated`` therefore compares identically in DuckDB. An empty
    benchmark yields max_cos NULL, n_hits 0, contaminated false.
    """
    bench_vec_col = bench_vec_col or vec_col
    bench_key_col = bench_key_col or key_col
    bench_arr = F.broadcast(
        bench_emb.agg(
            F.collect_list(
                F.struct(
                    F.col(bench_key_col).alias("bid"),
                    F.col(bench_vec_col).alias("bv"),
                )
            ).alias("_bvs")
        )
    )
    c = corpus_emb.select(F.col(key_col).alias("k"), F.col(vec_col).alias("cv"))
    scores = F.transform(
        F.col("_bvs"), lambda s: F.round(cosine_sim(F.col("cv"), s["bv"]), 6)
    )
    thr = F.lit(float(threshold))
    return (
        c.crossJoin(bench_arr)
        .select("k", scores.alias("_s"))
        .select(
            "k",
            F.array_max("_s").alias("max_cos"),
            F.size(F.filter("_s", lambda x: x >= thr)).cast("long").alias("n_hits"),
            F.coalesce(F.array_max("_s") >= thr, F.lit(False)).alias("contaminated"),
        )
    )


def phrase_contamination(
    corpus: DataFrame,
    phrases: list[str],
    *,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring benchmark contamination: for each blocked
    phrase, how many documents contain it verbatim (case-sensitive
    `instr` — the n-gram and semantic variants above handle fuzzier
    matches; this is the "canary string" check a leak audit runs
    first).

    Plan: the phrase list is a LITERAL array evaluated per document —
    a map-side scan of the corpus with K substring probes per row, no
    join, no shuffle before the K-row aggregate. K is the blocked-list
    size (thousands at most); at larger K the right tool is
    contamination_report's hashed n-gram join, not substring probes.
    Phrases with ZERO hits still appear (count 0) — a leak audit must
    distinguish "checked, clean" from "not checked" (explode of the
    static list, not of the matches).
    """
    probes = F.array(
        *[
            F.struct(
                F.lit(p).alias("phrase"),
                (F.instr(F.coalesce(F.col(text_col), F.lit("")), p) > 0)
                .cast("int")
                .alias("hit"),
            )
            for p in phrases
        ]
    )
    hits = corpus.select(F.explode(probes).alias("p")).select(
        F.col("p.phrase").alias("phrase"), F.col("p.hit").alias("hit")
    )
    return hits.groupBy("phrase").agg(
        F.sum("hit").cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Bloom-filter contamination screen (the 100-TB membership path)
# ---------------------------------------------------------------------------


def bloom_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n: int = 3,
    n_words: int = 2048,
    threshold: float = 0.5,
) -> DataFrame:
    """Bloom-filter variant of :func:`contamination_report` for when
    the benchmark gram set is too big to broadcast EXACTLY (10^9+
    grams at 100 TB): build a ``n_words x 63``-bit Bloom filter over
    the benchmark's word n-grams (two md5-derived probe positions per
    gram) and screen the corpus against it. NO false negatives —
    every true collision is counted; false positives inflate
    ``n_maybe`` by ~(1-e^(-2B/M))^2, so the report is a conservative
    UPPER BOUND screen (``maybe_rate >= `` the exact overlap; route
    flagged docs to the exact probe).

    63 bits per int64 word, never 64: DuckDB overflow-checks
    ``1::bigint << 63``, and the sign bit buys nothing. Positions are
    the portable md5 gate (12 hex chars -> int < 2^48), so the oracle
    rebuilds the IDENTICAL filter and the report hash-matches.

    Scale shape: the filter build is a ``n_words``-row aggregate
    (bit_or of masks — partial-aggregated map-side); the corpus gram
    stream probes it through TWO BROADCAST joins (one per hash
    position — never a groupBy over (doc, gram)); the per-doc rollup
    is the only corpus shuffle, count-state only. Filter size is
    ``n_words`` int64s regardless of benchmark size — THE property
    that keeps this broadcastable when the exact gram set is not."""
    m_bits = int(n_words) * 63

    def _pos(g, j):
        return (
            F.conv(
                F.substring(F.md5(F.concat(g, F.lit(f";{j}"))), 1, 12), 16, 10
            ).cast("long")
            % F.lit(m_bits)
        )

    # stage the gram arrays before EXPLODING them: a Generate whose
    # input array is the lazily-inlined gram-build expression re-pays
    # the tokenize/transform chain per EMITTED row (measured r6:
    # 500k-gram corpus explode 4.4 s lazy vs 0.26 s persisted); the
    # persist is the same stage-the-grams trade minhash documents
    from pyspark.storagelevel import StorageLevel

    bench_g = (
        word_ngram_frame(bench, text_col, key_col, n=n)
        .persist(StorageLevel.MEMORY_AND_DISK)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    bloom = (
        bench_g.select(
            F.explode(F.array(_pos(F.col("g"), 0), _pos(F.col("g"), 1))).alias(
                "_p"
            )
        )
        .select(
            F.expr("_p DIV 63").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 63 AS INT))").alias(
                "_m"
            ),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
    )
    b0 = F.broadcast(
        bloom.select(F.col("_w").alias("_w0"), F.col("_bits").alias("_bits0"))
    )
    b1 = F.broadcast(
        bloom.select(F.col("_w").alias("_w1"), F.col("_bits").alias("_bits1"))
    )
    corpus_g = word_ngram_frame(corpus, text_col, key_col, n=n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    probed = (
        corpus_g.select(
            "k", F.size("grams").alias("n_grams"), F.explode("grams").alias("g")
        )
        .withColumn("_p0", _pos(F.col("g"), 0))
        .withColumn("_p1", _pos(F.col("g"), 1))
        .withColumn("_m0", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p0 % 63 AS INT))"))
        .withColumn("_m1", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p1 % 63 AS INT))"))
        .join(b0, F.expr("_p0 DIV 63") == F.col("_w0"), "left")
        .join(b1, F.expr("_p1 DIV 63") == F.col("_w1"), "left")
        .select(
            "k",
            "n_grams",
            (
                (F.coalesce(F.col("_bits0"), F.lit(0)).bitwiseAND(F.col("_m0")) == F.col("_m0"))
                & (F.coalesce(F.col("_bits1"), F.lit(0)).bitwiseAND(F.col("_m1")) == F.col("_m1"))
            )
            .cast("long")
            .alias("_maybe"),
        )
    )
    rep = probed.groupBy("k", "n_grams").agg(F.sum("_maybe").alias("n_maybe"))
    rate = F.round(F.col("n_maybe") / F.col("n_grams"), 6)
    return rep.select(
        "k",
        "n_grams",
        F.col("n_maybe").cast("long").alias("n_maybe"),
        rate.alias("maybe_rate"),
        (rate >= F.lit(float(threshold))).alias("flagged"),
    )
