"""Lexical retrieval over the corpus: BM25 scoring and top-k search.

A training-data pipeline needs retrieval for more than search boxes:
decontamination triage ("which training docs score highest against
this benchmark question"), dedup adjudication, and quality-set mining
(kNN on BM25 is still the hard-to-beat lexical baseline). The
reference (gookit/validate) has no retrieval surface; this extends
SURVEY.md §2.9's dataset level the same way the ANN stack does for
embeddings — `similarity.brute_force_topk`'s lexical twin, fused at
the end by `indexing.rrf_fusion`.

Integer-frozen scoring (the repo's cross-engine discipline):

- idf is a function of two INTEGERS (N docs, df docs-with-term):
  Robertson idf with the +1 floor is ln((N-df+0.5)/(df+0.5) + 1) =
  ln((2N+2)/(2df+1)) — one int64 ratio, one double division
  (bit-exact cross-engine), one `ln`, frozen to int64 at 1e-4
  (`idf_int`). A 1-ulp libm divergence cannot reach the 1e-4 tick
  except exactly on a tick boundary (measure-zero; the q68/q176
  precedent).
- the tf saturation term is an exact RATIONAL once the average doc
  length is frozen to integer milli-tokens A = (2000·T + D) div
  (2·D) (integer round-half-up of 1000·T/D): with k1 = 1.2,
  b = 0.75,

      tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    = 22·A·tf / (10·A·tf + 3·A + 9000·dl)

  so each term's contribution is `idf_int · 22·A·tf div (...)` —
  pure int64, truncating div in both engines.

Overflow bound (stated, not hidden): idf_int ≤ ~3.5e5 (ln caps near
35 at N = 10^15 docs), tf is clamped at 4096 (BM25's tf term is
within 0.1% of its asymptote long before that), so the product stays
inside int64 while A ≤ ~1.5e8 — average doc length up to ~150k
tokens. Scores are comparable only within one corpus snapshot (A, N
are corpus constants), which is what ranking needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from validate_spark.operators.textstats import normalize_text

IDF_SCALE = 10_000
TF_CAP = 4096


def corpus_token_stats(
    corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """(tf_frame, stats) for BM25: tf_frame = one row per (doc, term)
    with the term count and the doc's token length carried map-side;
    stats = ONE row (n_docs, total_tokens, avgdl_milli).

    The doc length rides the scan as `size(split(...))` — never a
    second shuffle; the only exchange here is the (doc, term) hash
    aggregate over exploded tokens (unavoidable: that IS the postings
    build).
    """
    norm = normalize_text(F.col(text_col))
    base = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.when(norm == "", F.array().cast("array<string>"))
        .otherwise(F.split(norm, " "))
        .alias("_toks"),
    )
    with_dl = base.select(
        "doc_id", F.size("_toks").cast("long").alias("dl"), "_toks"
    )
    tf_frame = (
        with_dl.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.least(F.count(F.lit(1)), F.lit(TF_CAP)).cast("long").alias("tf"))
    )
    stats = with_dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    ).select(
        "n_docs",
        "total_tokens",
        F.expr(
            "(2000 * total_tokens + n_docs) div (2 * n_docs)"
        ).alias("avgdl_milli"),
    )
    return tf_frame, stats


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Top-k BM25 docs per query: (query_id, doc_id, bm25_int,
    n_terms, rank), score desc / doc_id asc — fully deterministic.

    `queries` is (query_id, term) long form — terms are matched
    against the SAME normalization as the corpus tokens (callers pass
    raw words; they are normalized here so a query can never miss on
    case/punctuation).

    Plan shape (the part that matters at 100 TB):
      1. postings (doc, term, tf, dl) — one token-level aggregate.
      2. postings ⋈ broadcast(distinct query terms): the corpus-wide
         frame collapses to query-matched rows BEFORE any further
         shuffle — df counts, scoring, and ranking all run on the
         pruned frame. The corpus never reshuffles for a query batch.
      3. df per matched term (|terms|-sized), idf/score arithmetic
         against a broadcast 1-row stats frame, per-(query, doc) sum,
         then the `_two_phase_topk` pattern (task-local top-k + a
         k-bounded merge — no per-query hot reducer, no global sort).
    """
    tf_frame, stats = corpus_token_stats(
        corpus, text_col=text_col, id_col=id_col
    )
    qnorm = normalize_text(F.col(term_col))
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"), qnorm.alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()  # two spellings normalizing to one token score once
    )
    terms = qterms.select("term").distinct()

    matched = tf_frame.join(F.broadcast(terms), "term")
    df_frame = matched.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf_int = (
        F.round(
            F.log(
                (2 * F.col("n_docs") + 2).cast("double") / (2 * F.col("df") + 1)
            )
            * F.lit(IDF_SCALE),
            0,
        )
    ).cast("long")
    scored_terms = (
        matched.join(F.broadcast(df_frame), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_int", idf_int)
        .select(
            "term",
            "doc_id",
            F.expr(
                "idf_int * (22 * avgdl_milli * tf) div "
                "(10 * avgdl_milli * tf + 3 * avgdl_milli + 9000 * dl)"
            ).alias("s_term"),
        )
    )
    per_doc = (
        scored_terms.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("s_term").cast("long").alias("bm25_int"),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
    )
    item = F.struct(
        (-F.col("bm25_int")).alias("ns"),
        F.col("doc_id").alias("doc_id"),
        F.col("n_terms").alias("n_terms"),
    )
    local = per_doc.groupBy(
        F.spark_partition_id().alias("_p"), "query_id"
    ).agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("top"))
    merged = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, k).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("_pos", "_e")
    ).select(
        "query_id",
        F.col("_e.doc_id").alias("doc_id"),
        (-F.col("_e.ns")).cast("long").alias("bm25_int"),
        F.col("_e.n_terms").cast("int").alias("n_terms"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def kwic_snippets(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    window: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Keyword-in-context snippets: for every (query term, matching
    doc), the position of the FIRST token-boundary occurrence in the
    normalized text and ``window`` characters of context either side —
    what a reviewer actually reads when adjudicating a
    :func:`bm25_topk` hit or a decontamination flag (the score says
    "this doc matched"; the snippet says WHY).

    Token-boundary matching on the normalized text: the probe is
    ``' term '`` against ``' ' || norm || ' '``, so "cat" never fires
    inside "category", with no regex (``locate`` ≡ DuckDB ``strpos``
    byte-for-byte, and the normalized alphabet makes byte = char).

    Scale: queries broadcast against the corpus, matches filtered in
    the same map stage — zero shuffle, vectors of work = one
    ``locate`` + one ``substring`` per (doc, term). Output is
    match-sized, never corpus × terms.
    """
    from validate_spark.operators.textstats import normalize_text

    qnorm = normalize_text(F.col(term_col))
    qterms = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), qnorm.alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    base = corpus.select(
        F.col(id_col).alias("doc_id"),
        normalize_text(F.col(text_col)).alias("_nt"),
    )
    probed = base.crossJoin(qterms).withColumn(
        "pos",
        # locate() with a COLUMN needle needs the SQL spelling
        # (F.locate only takes a literal python string)
        F.expr(
            "CAST(locate(concat(' ', term, ' '), concat(' ', _nt, ' ')) AS INT)"
        ),
    ).filter(F.col("pos") > 0)
    start = F.greatest(F.lit(1), F.col("pos") - F.lit(window))
    length = F.lit(window) + F.length("term") + F.lit(window)
    return probed.select(
        "query_id",
        "term",
        "doc_id",
        "pos",
        F.substring(F.col("_nt"), start, length).alias("snippet"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = 60,
    top_n: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of >= 2 per-query rankings — the hybrid-
    retrieval merge (lexical BM25 + dense ANN is the canonical pair)
    that needs NO score calibration because only RANKS cross lists:
    RRF(d) = Σ_lists 1/(k + rank_d). The per-QUERY sibling of
    `indexing.rrf_fusion` (which ensembles corpus-wide quality
    signals into one global ordering): there the rank is a global
    index over 10^12 rows and costs one range exchange per signal;
    here the inputs are already k-bounded top-k lists per query, so
    fusion is one hash aggregate. Reference seed: none (gookit has
    no retrieval surface); standard IR practice (Cormack SIGIR'09).

    Exactness: each contribution is frozen to the int64 micro-unit
    grid as ``10^12 div (k + rank)`` — ranks are small integers, so
    fusion scores, the (rrf_int DESC, doc ASC) order, and the top-n
    cut are all pure integer selection (the q202 split); ``rrf`` is
    the display-only float. Two lists of rank 1 sum to ~3.3e10 —
    nowhere near int64.

    Scale: inputs are already k-bounded per query (|queries|·k rows
    each), so ONE hash aggregate on (query, doc) fuses them; the
    top-n cut reuses the two-phase (pid, query) local-slice pattern —
    no per-query window over the fused frame, no global sort.

    Input contract (r6 advisory): ranks are 1-BASED (the contract
    every producer in this repo satisfies; with ``k >= 1`` enforced
    below, even a stray 0 rank cannot divide by zero and abort the
    job under ANSI), and each ranking must carry at most ONE row per
    (query_id, doc_id) — duplicate rows within a single list would
    double-count into both ``rrf_int`` and ``n_lists``.

    Output: (query_id, doc_id, rrf_int, n_lists, rrf, rank).
    """
    from validate_spark.operators.indexing import RRF_SCALE

    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs >= 2 rankings")
    if k < 1 or top_n < 1:
        raise ValueError("k must be >= 1 and top_n >= 1")
    parts = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.expr(f"{RRF_SCALE} div ({int(k)} + {rank_col})").alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("_c").cast("long").alias("rrf_int"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    item = F.struct(
        (-F.col("rrf_int")).alias("ns"),
        F.col("doc_id").alias("doc_id"),
        F.col("n_lists").alias("n_lists"),
    )
    cap = int(top_n)
    local = fused.groupBy(
        F.spark_partition_id().alias("_p"), "query_id"
    ).agg(F.slice(F.array_sort(F.collect_list(item)), 1, cap).alias("top"))
    merged = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, cap).alias(
            "top"
        )
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("_pos", "_e")
    ).select(
        "query_id",
        F.col("_e.doc_id").alias("doc_id"),
        (-F.col("_e.ns")).cast("long").alias("rrf_int"),
        F.col("_e.n_lists").alias("n_lists"),
        F.round((-F.col("_e.ns")).cast("double") / 1e12, 6).alias("rrf"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )
