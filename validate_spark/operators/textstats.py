"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

Everything here is pure ``Column`` expressions — JVM-side, inside
whole-stage codegen, zero Python in the hot path. At 100 TB each of
these is a narrow projection fused into the parquet scan (no shuffle at
all until an optional aggregation), which is exactly what you want for
a per-document annotate pass over 10^12 docs.

Determinism matters doubly here: the fingerprint uses ``md5`` (not
xxhash64) precisely because md5 hex strings are engine-portable — the
DuckDB oracle computes byte-identical values, so the driver's
value-hash correctness gate covers these operators exactly.

Reference seeds: the string/format validator family (SURVEY.md §2.6)
is the per-record ancestor of these per-document quality signals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# language ID — n-gram/stopword heuristic
# ---------------------------------------------------------------------------

# Most-frequent function words per language. Marker hits are counted with
# one compiled regex per language (codegen compiles the pattern once per
# task; ≈ the reference's precompiled regexes, validators.go:47-87).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ich", "ein", "zu", "mit"],
    "fr": ["le", "la", "et", "les", "des", "une", "est", "que", "dans", "pour"],
    "es": ["el", "los", "de", "que", "en", "una", "por", "con", "para", "las"],
}

LANGS = list(STOPWORDS)  # deterministic tie-break order

# Unicode-script codepoint ranges for non-Latin scripts, written as
# \x{...} class ranges — the ONE script syntax both Java regex and RE2
# (the DuckDB oracle) accept verbatim (\p{Han} is RE2-only,
# \p{IsHan} is Java-only). Stopword lists can't see CJK at all
# (no word boundaries), so script presence is the primary signal.
SCRIPT_RANGES: dict[str, str] = {
    "kana": r"[\x{3040}-\x{30ff}]",   # hiragana + katakana → ja
    "han": r"[\x{4e00}-\x{9fff}]",    # CJK unified ideographs → zh (unless kana)
    "hangul": r"[\x{ac00}-\x{d7af}]", # hangul syllables → ko
    "cyr": r"[\x{0400}-\x{04ff}]",    # cyrillic → ru
    "arab": r"[\x{0600}-\x{06ff}]",   # arabic → ar
}


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script codepoint hit counts (pure regexp_count columns)."""
    t = F.coalesce(text, F.lit(""))
    return {
        k: F.coalesce(F.regexp_count(t, F.lit(pat)), F.lit(0))
        for k, pat in SCRIPT_RANGES.items()
    }


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts (word-boundary regex, case-folded)."""
    low = F.lower(text)
    out = {}
    for lang, words in STOPWORDS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out[lang] = F.coalesce(F.regexp_count(low, F.lit(pat)), F.lit(0))
    return out


def lang_id(text: Column) -> Column:
    """Best-guess language code, or 'und' when no signal hits.

    Two tiers, all integer arithmetic (engine-portable, no floats):

    1. **Script ranges** (CJK + cyrillic + arabic): kana ≥ 5% of chars
       → 'ja' (Japanese mixes kanji with kana; any meaningful kana is
       decisive); else han ≥ 15% → 'zh'; hangul/cyrillic/arabic ≥ 15%
       → 'ko'/'ru'/'ar'. Ratios as integer cross-multiplications
       (count*20 >= n, count*20 >= n*3) so the DuckDB oracle compares
       bit-identically. Counts must be > 0 (guards the empty string).
    2. **Stopword argmax** for Latin-script languages, deterministic
       first-wins tie-break in LANGS order — a chain of comparisons,
       no UDF.
    """
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    sc = script_counts(text)
    scores = lang_scores(text)
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in reverse so earlier langs win ties (strict > when replacing)
    for lang in reversed(LANGS):
        s = scores[lang]
        take = (s > F.lit(0)) & (s >= best_score)
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return (
        F.when((sc["kana"] > 0) & (sc["kana"] * 20 >= n), F.lit("ja"))
        .when((sc["han"] > 0) & (sc["han"] * 20 >= n * 3), F.lit("zh"))
        .when((sc["hangul"] > 0) & (sc["hangul"] * 20 >= n * 3), F.lit("ko"))
        .when((sc["cyr"] > 0) & (sc["cyr"] * 20 >= n * 3), F.lit("ru"))
        .when((sc["arab"] > 0) & (sc["arab"] * 20 >= n * 3), F.lit("ar"))
        .otherwise(best)
    )


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer: runs of alphanumerics OR single non-space symbols —
# the shape GPT-style BPE vocabularies split on before merges.
BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column) -> Column:
    """Whitespace tokens; empty/NULL → 0."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def bpe_token_count(text: Column) -> Column:
    """Approximate BPE token count (pre-merge word/symbol pieces)."""
    return F.coalesce(F.regexp_count(text, F.lit(BPE_TOKEN_RE)), F.lit(0)).cast("int")


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def quality_signals(text: Column) -> dict[str, Column]:
    """Raw quality signals (all JVM expressions):
    n_chars, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
    upper_ratio, digit_ratio."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    n_tokens = whitespace_token_count(t)
    n_punct = F.coalesce(F.regexp_count(t, F.lit(r"[^\w\s]")), F.lit(0))
    n_upper = F.coalesce(F.regexp_count(t, F.lit(r"[A-Z]")), F.lit(0))
    n_digit = F.coalesce(F.regexp_count(t, F.lit(r"[0-9]")), F.lit(0))
    n_stop = F.coalesce(
        F.regexp_count(
            F.lower(t),
            F.lit(r"\b(" + "|".join(STOPWORDS["en"]) + r")\b"),
        ),
        F.lit(0),
    )
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars.cast("int"),
        "n_tokens": n_tokens,
        "mean_token_len": (n_chars.cast("double") / safe_tokens),
        "punct_ratio": n_punct.cast("double") / safe_chars,
        "stopword_ratio": n_stop.cast("double") / safe_tokens,
        "upper_ratio": n_upper.cast("double") / safe_chars,
        "digit_ratio": n_digit.cast("double") / safe_chars,
    }


def repetition_signals(text: Column) -> dict[str, Column]:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1 quality
    heuristics, re-expressed over whitespace tokens — this corpus has
    no line structure, so the line-level variants degenerate):

    - ``type_token_ratio``   distinct/total tokens (low → repetitive)
    - ``dup_bigram_frac``    1 − distinct/total word bigrams
    - ``dup_trigram_frac``   1 − distinct/total word trigrams
    - ``mean_word_len``      chars per token

    All pure Column expressions, O(n log n) per doc (array_distinct
    hashing) — deliberately NO top-gram-coverage signal, whose natural
    expression is O(distinct × tokens) per doc and belongs in an
    aggregation, not a row projection. Values rounded to 6 so external
    engines reproduce them exactly."""
    t = F.trim(F.coalesce(text, F.lit("")))
    toks = F.split(t, r"\s+")
    n = F.when(t == "", F.lit(0)).otherwise(F.size(toks))
    safe_n = F.greatest(n, F.lit(1)).cast("double")

    def grams(k: int) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )

    def dup_frac(k: int) -> Column:
        g = grams(k)
        return F.when(
            n < k + 1, F.lit(0.0)
        ).otherwise(
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(g)).cast("double")
                / F.size(g).cast("double"),
                6,
            )
        )

    ttr = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(F.size(F.array_distinct(toks)).cast("double") / safe_n, 6)
    )
    mwl = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(
            F.aggregate(
                toks, F.lit(0.0), lambda a, x: a + F.length(x).cast("double")
            )
            / safe_n,
            6,
        )
    )
    return {
        "n_tokens": n.cast("int"),
        "type_token_ratio": ttr,
        "dup_bigram_frac": dup_frac(2),
        "dup_trigram_frac": dup_frac(3),
        "mean_word_len": mwl,
    }


def annotate_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """DataFrame-level repetition annotation — prefer this over applying
    :func:`repetition_signals` expressions directly: the token split is
    STAGED in its own projection (computed once per row; inline, every
    signal column re-splits — measured 1.2 s → 0.7 s at 600k docs)."""
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    staged = df.withColumn(
        "_toks",
        F.when(t == "", F.array().cast("array<string>")).otherwise(
            F.split(t, r"\s+")
        ),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1)).cast("double")

    def grams(k: int) -> Column:
        return F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )

    def dup_frac(k: int) -> Column:
        g = grams(k)
        return F.when(n < k + 1, F.lit(0.0)).otherwise(
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(g)).cast("double")
                / F.size(g).cast("double"),
                6,
            )
        )

    out = staged.withColumns(
        {
            "n_tokens": n.cast("int"),
            "type_token_ratio": F.when(n == 0, F.lit(0.0)).otherwise(
                F.round(F.size(F.array_distinct(toks)).cast("double") / safe_n, 6)
            ),
            "dup_bigram_frac": dup_frac(2),
            "dup_trigram_frac": dup_frac(3),
            "mean_word_len": F.when(n == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.aggregate(
                        toks, F.lit(0.0), lambda a, x: a + F.length(x).cast("double")
                    )
                    / safe_n,
                    6,
                )
            ),
        }
    )
    return out.drop("_toks")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score — monotone in length (to a cap),
    rewarded for stopword presence, penalized for punct/digit excess.
    Deterministic closed form so the DuckDB oracle reproduces it."""
    s = quality_signals(text)
    len_score = F.least(s["n_chars"].cast("double") / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(s["stopword_ratio"] * F.lit(2.0), F.lit(1.0))
    punct_pen = F.least(s["punct_ratio"] * F.lit(4.0), F.lit(1.0))
    digit_pen = F.least(s["digit_ratio"] * F.lit(4.0), F.lit(1.0))
    raw = (
        F.lit(0.4) * len_score
        + F.lit(0.4) * stop_score
        + F.lit(0.2) * (F.lit(1.0) - (punct_pen + digit_pen) / F.lit(2.0))
    )
    return F.round(raw, 6)


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

def normalize_text(text: Column) -> Column:
    """Canonical form for dedup: casefold, strip non-alphanumerics to
    spaces, collapse runs, trim."""
    t = F.lower(F.coalesce(text, F.lit("")))
    t = F.regexp_replace(t, r"[^a-z0-9]+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """md5 hex of the normalized text — the exact-dedup key. md5 (not
    xxhash64) so DuckDB oracles produce byte-identical values."""
    return F.md5(normalize_text(text))


# ---------------------------------------------------------------------------
# table-level convenience
# ---------------------------------------------------------------------------

def annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One narrow projection adding all text-analysis columns."""
    t = F.col(text_col)
    sig = quality_signals(t)
    return df.select(
        "*",
        lang_id(t).alias("lang_pred"),
        whitespace_token_count(t).alias("n_tokens_ws"),
        bpe_token_count(t).alias("n_tokens_bpe"),
        F.round(sig["mean_token_len"], 6).alias("mean_token_len"),
        F.round(sig["punct_ratio"], 6).alias("punct_ratio"),
        F.round(sig["stopword_ratio"], 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )


# ---------------------------------------------------------------------------
# background-vocabulary quality (CCNet-style unigram log-prob)
# ---------------------------------------------------------------------------

def build_background_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    max_vocab: int = 250_000,
) -> DataFrame:
    """(token, cnt) frequency table from a TRUSTED snapshot — the
    background model for ``unigram_logprob_scores``. Tokens are the
    normalized whitespace words (same normalization as the dedup
    stack). min_count prunes the hapax tail; max_vocab caps the table
    deterministically (cnt DESC, token ASC) so it stays broadcastable.
    One explode + one count aggregate — vocab-sized output."""
    toks = (
        df.select(normalize_text(F.col(text_col)).alias("_t"))
        .filter(F.length("_t") > 0)
        .select(F.explode(F.split("_t", " ")).alias("token"))
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return vocab.orderBy(F.col("cnt").desc(), F.col("token")).limit(max_vocab)


def unigram_logprob_scores(
    corpus: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    smoothing: float = 0.5,
) -> DataFrame:
    """CCNet-style cheap quality proxy (Wenzek et al. 2020 use a KenLM
    5-gram; the unigram version is the distributed 80/20): per doc,
    the mean log-probability of its tokens under the background vocab,
    plus the OOV rate → ``(k, n_tok, oov_rate, mean_logp)``.
    Boilerplate/natural text scores high; gibberish, wrong-language
    and template soup score low. Filter on a mean_logp threshold
    calibrated per corpus.

    p(tok) = (cnt + s) / (total + s·V); an OOV token has cnt 0 — one
    unified formula, so the per-token expression is a single ln().
    ``total``/``V`` ride in via a broadcast 1-row cross join (fully
    lazy — no driver action).

    Scale shape: corpus explode is map-side; the vocab probe is a
    broadcast join (vocab is capped-broadcastable by construction);
    the per-doc rollup is the only shuffle, count/sum state only.
    Docs with no tokens produce no row (nothing to score).
    fp note: mean over ≤10^4 per-doc tokens rounds at 1e-6 — addition
    order differences (~1e-13 relative) cannot reach the rounding
    tick, so the DuckDB oracle reproduces the values exactly (same
    contract as the q14 corpus averages)."""
    s = float(smoothing)
    stats = vocab.agg(
        F.sum("cnt").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    toks = (
        corpus.select(
            F.col(key_col).cast("string").alias("k"),
            normalize_text(F.col(text_col)).alias("_t"),
        )
        .filter(F.length("_t") > 0)
        .select("k", F.explode(F.split("_t", " ")).alias("token"))
    )
    probed = (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "k",
            F.col("cnt").isNull().cast("int").alias("oov"),
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(s))
                / (F.col("_total") + F.lit(s) * F.col("_v"))
            ).alias("logp"),
        )
    )
    return probed.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.round(F.avg("oov"), 6).alias("oov_rate"),
        F.round(F.avg("logp"), 6).alias("mean_logp"),
    )


def distinctive_terms(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    *,
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k DISTINCTIVE terms: rarity-weighted term
    frequency (TF-IDF's job) with a fully integer-exact ranking —
    score = ``tf * 10^9 div df`` (int64 floor division; tf·10^9 ≤
    ~10^14 « 2^63), descending, then term ASC. An IDF log would make
    the ranking a double comparison whose near-ties can flip across
    engines; the rational-score floor is bit-identical everywhere,
    which is what lets the result sit under the value-hash gate.

    Plan: explode → per-(doc,term) count [shuffle 1] → explicit
    repartition on term [shuffle 2], **persisted** (MEMORY_AND_DISK)
    because two branches consume it — the term-DF aggregate and the
    TF⋈DF join; without the persist each branch re-runs the scan +
    regex + explode over the whole corpus (the round-4 two-branch gotcha). Both branches
    ride the persisted frame's term partitioning (agg and join add NO
    exchange) → per-doc top-k window [shuffle 3]. Every frame is
    token-bounded; blocks freed on driver GC of the returned plan.

    Reference seed: the reference has no corpus-level text analysis;
    this extends its string family (SURVEY.md §2.6) the same way the
    quality/repetition signals do."""
    from pyspark.sql.window import Window

    n = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.select(
            F.col(key_col).alias("k"),
            normalize_text(F.col(text_col)).alias("_t"),
        )
        .filter(F.length("_t") > 0)
        .select("k", F.explode(F.split("_t", " ")).alias("term"))
    )
    from pyspark import StorageLevel

    tf = (
        toks.groupBy("k", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .repartition(n, "term")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = tf.join(dfreq, "term").select(
        "k", "term", "tf", "df",
        F.expr("(tf * 1000000000L) div df").alias("score"),
    )
    w = Window.partitionBy("k").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(F.col("k").alias(key_col), "term", "tf", "df", "score", "rank")
    )


def token_share_report(
    df: DataFrame,
    strata_col: str,
    text_col: str = "text",
    *,
    cap: float = 0.5,
) -> DataFrame:
    """Data-mix governance rollup: per stratum (source / domain /
    language), document and token totals, the stratum's share of all
    tokens, the cumulative share in descending-token order, and an
    ``over_cap`` flag — the report a pretraining-mix owner reads before
    re-weighting (no single crawl/source should dominate the mix).
    Output: ``(stratum, n_docs, n_tokens, share, cum_share, over_cap)``.

    Scale shape: ONE full-corpus aggregation with map-side partials
    (counters per stratum — the shuffle carries |strata| rows per
    task); the share/cumulative window then runs over the AGGREGATED
    frame, whose size is the stratum cardinality (sources/domains — at
    most thousands), so the unpartitioned window is bounded-small by
    construction, never corpus-sized. Descending-token order ties break
    on stratum name → fully deterministic, oracle-comparable.

    Shares are round-6 doubles; the cumulative sum is an explicit
    ROWS-frame running sum (RANGE would merge ties — the round-4
    window gotcha).
    """
    from pyspark.sql import Window

    agg = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(whitespace_token_count(F.col(text_col)).cast("long"))
        .cast("long")
        .alias("n_tokens"),
    )
    # the grand total is a full-frame window over the SAME sorted
    # aggregate — NOT a separate agg().crossJoin, which would re-scan
    # and re-aggregate the whole corpus a second time (caught by
    # test_token_share_report_single_aggregation)
    wo = Window.orderBy(F.col("n_tokens").desc(), F.col("stratum").asc())
    w_run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    total = F.sum("n_tokens").over(w_all)
    share = F.round(F.col("n_tokens") / total, 6)
    return agg.select(
        "stratum",
        "n_docs",
        "n_tokens",
        share.alias("share"),
        F.round(F.sum("n_tokens").over(w_run) / total, 6).alias("cum_share"),
        (share > F.lit(float(cap))).alias("over_cap"),
    )


# The cp1252 image of UTF-8 continuation bytes 0x80-0xBF: when UTF-8
# text is misdecoded as Windows-1252 (the classic web mojibake), a
# continuation byte becomes either a C1 codepoint (U+0080-U+009F gaps
# stay as-is in Latin-1 fallback) or one of these punctuation/symbol
# codepoints. Spelled as \x{..} codepoint escapes — the one class
# syntax Java regex and RE2 share (round-4 gotcha: no common script
# class names).
_CP1252_CONT = (
    r"[\x{80}-\x{bf}\x{20ac}\x{201a}\x{192}\x{201e}\x{2026}\x{2020}"
    r"\x{2021}\x{2c6}\x{2030}\x{160}\x{2039}\x{152}\x{17d}\x{2018}"
    r"\x{2019}\x{201c}\x{201d}\x{2022}\x{2013}\x{2014}\x{2dc}\x{2122}"
    r"\x{161}\x{203a}\x{153}\x{17e}\x{178}]"
)

# lead char of a misdecoded 2-byte sequence (0xC2/0xC3 cover all
# Latin-1 supplement text, by far the most common damage) followed by
# one continuation image; or a misdecoded 3-byte sequence lead 0xE2
# (general punctuation — ' " – …) followed by two.
MOJIBAKE_RX = rf"[\x{{c2}}-\x{{c3}}]{_CP1252_CONT}|\x{{e2}}{_CP1252_CONT}{{2}}"

REPLACEMENT_RX = r"\x{fffd}"

# C0 control characters that are never legitimate in text corpora
# (tab/newline/CR excluded).
CTRL_RX = r"[\x{00}-\x{08}\x{0b}\x{0c}\x{0e}-\x{1f}]"


def encoding_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document encoding-damage signals — the C4/CCNet-style
    cleanup gate that catches text whose bytes survived but whose
    decoding didn't:

    - ``n_mojibake``    UTF-8-misdecoded-as-cp1252 sequences
      (:data:`MOJIBAKE_RX` — 'Ã©', 'â€™', 'Â ' …);
    - ``n_replacement`` U+FFFD replacement characters (a decoder
      already gave up there);
    - ``n_ctrl``        C0 control characters (minus tab/LF/CR);
    - ``damaged``       any of the above > 0.

    All three patterns are \\x{..} codepoint classes — the Java∩RE2
    common spelling — so an external engine replays the counts exactly.

    Scale: three ``regexp_count`` expressions in ONE codegen'd
    projection over the corpus — no shuffle, no Python. NULL text
    yields NULL counts and a NULL flag (no evidence), same as every
    annotator here.
    """
    t = F.col(text_col)
    out = df.select(
        "*",
        F.regexp_count(t, F.lit(MOJIBAKE_RX)).alias("n_mojibake"),
        F.regexp_count(t, F.lit(REPLACEMENT_RX)).alias("n_replacement"),
        F.regexp_count(t, F.lit(CTRL_RX)).alias("n_ctrl"),
    )
    damaged = (
        (F.col("n_mojibake") > 0)
        | (F.col("n_replacement") > 0)
        | (F.col("n_ctrl") > 0)
    )
    return out.withColumn("damaged", damaged)


# C4 policy-page cue phrases (Raffel et al. 2020 §2.2 cleanup rules).
_C4_POLICY_RX = r"(terms of use|privacy policy|cookie policy|uses cookies)"
# a sentence terminator followed by whitespace or end-of-text — the
# cheap sentence counter C4's "at least 3 sentences" rule needs
_SENTENCE_RX = r"[.!?]+(\s|$)"


def c4_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The C4 cleanup heuristics (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning", §2.2) as per-document signals:

    - ``has_curly``     source-code tell: a ``{`` anywhere;
    - ``has_lorem``     placeholder text: 'lorem ipsum';
    - ``has_js``        the word 'javascript' (enable-JS boilerplate);
    - ``has_policy``    policy-page cue phrases;
    - ``n_sentences``   terminator-based sentence count;
    - ``would_drop``    any cue fired OR fewer than 3 sentences.

    Emitted as SIGNALS (not applied) so a pipeline can audit the kill
    rate per source before committing — the same governance posture as
    :func:`encoding_signals`. All predicates are case-folded Column
    expressions in the Java∩RE2 dialect; one codegen'd
    projection, no shuffle. NULL text → NULL signals (no evidence).
    """
    t = F.col(text_col)
    low = F.lower(t)
    has_curly = t.contains("{")
    has_lorem = low.contains("lorem ipsum")
    has_js = low.contains("javascript")
    has_policy = low.rlike(_C4_POLICY_RX)
    n_sent = F.regexp_count(t, F.lit(_SENTENCE_RX)).cast("long")
    out = df.select(
        "*",
        has_curly.alias("has_curly"),
        has_lorem.alias("has_lorem"),
        has_js.alias("has_js"),
        has_policy.alias("has_policy"),
        n_sent.alias("n_sentences"),
    )
    would_drop = (
        F.col("has_curly")
        | F.col("has_lorem")
        | F.col("has_js")
        | F.col("has_policy")
        | (F.col("n_sentences") < 3)
    )
    return out.withColumn("would_drop", would_drop)


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, Appendix A) as
    per-document flags plus the raw counts behind them:

    - ``flag_word_count``    words outside [min_words, max_words]
    - ``flag_mean_word_len`` mean word length outside [3, 10]
      (spelled as non-space chars per word — documented approximation)
    - ``flag_symbol_ratio``  (# or ellipsis) per word > 0.1
    - ``flag_bullet``        > 90% of lines start with a bullet
    - ``flag_ellipsis``      > 30% of lines end with an ellipsis
    - ``flag_alpha``         < 80% of words contain a letter
    - ``flag_stopwords``     fewer than 2 of the 8 Gopher stop words
    - ``would_drop``         any flag

    Every RATIO threshold is integer cross-multiplication
    (``n_sym*10 > n_words`` etc.) — the working-notes rule for
    cross-engine exact selection; no float ever decides a flag. All
    counting is regexp/split Column expressions in the Java∩RE2
    dialect, one projection, no shuffle. NULL text →
    NULL flags (no evidence).
    """
    raw = F.col(text_col)
    t = F.trim(F.coalesce(raw, F.lit("")))
    n_words = whitespace_token_count(raw).cast("long")
    n_nonspace = F.length(F.regexp_replace(t, r"\s", "")).cast("long")
    n_sym = F.regexp_count(t, F.lit(r"#|\x{2026}|\.\.\.")).cast("long")
    n_lines = (
        F.when(t == "", F.lit(0))
        .otherwise(F.size(F.split(t, r"\n")))
        .cast("long")
    )
    n_bullet = F.regexp_count(t, F.lit(r"(^|\n)[ \t]*[\x{2022}*-]")).cast("long")
    n_ell = F.regexp_count(
        t, F.lit(r"(\.\.\.|\x{2026})[ \t]*(\n|$)")
    ).cast("long")
    n_alpha_words = F.regexp_count(
        F.concat(F.lit(" "), t), F.lit(r"\s[^\s]*[A-Za-z]")
    ).cast("long")
    n_stop = sum(
        F.lower(t).rlike(rf"\b{w}\b").cast("int") for w in GOPHER_STOPWORDS
    ).cast("long")

    out = df.select(
        "*",
        n_words.alias("n_words"),
        n_nonspace.alias("n_nonspace"),
        n_sym.alias("n_symbols"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ell.alias("n_ellipsis_lines"),
        n_alpha_words.alias("n_alpha_words"),
        n_stop.alias("n_stopwords_present"),
    )
    w = F.col("n_words")
    null_gate = F.when(raw.isNull(), F.lit(None).cast("boolean"))
    flags = {
        "flag_word_count": (w < min_words) | (w > max_words),
        "flag_mean_word_len": (F.col("n_nonspace") < 3 * w)
        | (F.col("n_nonspace") > 10 * w),
        "flag_symbol_ratio": F.col("n_symbols") * 10 > w,
        "flag_bullet": F.col("n_bullet_lines") * 10 > 9 * F.col("n_lines"),
        "flag_ellipsis": F.col("n_ellipsis_lines") * 10 > 3 * F.col("n_lines"),
        "flag_alpha": F.col("n_alpha_words") * 10 < 8 * w,
        "flag_stopwords": F.col("n_stopwords_present") < 2,
    }
    for name, expr in flags.items():
        out = out.withColumn(name, null_gate.otherwise(expr))
    drop = None
    for name in flags:
        drop = F.col(name) if drop is None else drop | F.col(name)
    return out.withColumn("would_drop", drop)


# default linear quality model: integer 1e-6-score-units per raw count.
# Stand-in coefficients for a learned fastText/CCNet-style quality
# filter — production swaps in trained weights; the EXECUTION shape
# (integer dot product over count features) is what this pins down.
QUALITY_MODEL_WEIGHTS_E6: dict[str, int] = {
    "n_words": 2_500,      # prose length helps, mildly
    "n_stop": 60_000,      # English-function-word hits: strong signal
    "n_punct": -15_000,
    "n_digit": -20_000,
    "n_upper": -8_000,
}
QUALITY_MODEL_BIAS_E6: int = -400_000


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    *,
    weights_e6: dict[str, int] | None = None,
    bias_e6: int = QUALITY_MODEL_BIAS_E6,
) -> DataFrame:
    """Model-based quality filter: a linear classifier over integer
    count features (the CCNet/fastText stage of a training-data
    pipeline, with pluggable weights).

    ALL-INTEGER score: features are int64 counts, weights are int64
    1e-6-units, so ``score_e6 = bias + Σ w·f`` is exact — the
    keep/drop decision (``score_e6 > 0``) can never flip across
    engines on float noise (working-notes rule: integer
    cross-multiplication for cross-engine selection). The display
    score divides once at the end.

    Scale: one projection, zero shuffle, zero Python —
    five regexp/split counts and a dot product inside whole-stage
    codegen. A learned model with 10^5 hashed-ngram features would
    swap the count features for a broadcast weight-map probe; the
    plan shape (map-only scan → score → flag) is identical.

    Reference seed: gookit/validate's custom-validator surface
    (register.go AddValidator) — a scoring rule is just a validator
    that returns a number; this lifts it to a first-class column.
    """
    w = dict(QUALITY_MODEL_WEIGHTS_E6 if weights_e6 is None else weights_e6)
    raw = F.col(text_col)
    t = F.coalesce(raw, F.lit(""))
    feats: dict[str, Column] = {
        "n_words": whitespace_token_count(raw).cast("long"),
        "n_stop": F.coalesce(
            F.regexp_count(
                F.lower(t), F.lit(r"\b(" + "|".join(STOPWORDS["en"]) + r")\b")
            ),
            F.lit(0),
        ).cast("long"),
        "n_punct": F.coalesce(
            F.regexp_count(t, F.lit(r"[^\w\s]")), F.lit(0)
        ).cast("long"),
        "n_digit": F.coalesce(
            F.regexp_count(t, F.lit(r"[0-9]")), F.lit(0)
        ).cast("long"),
        "n_upper": F.coalesce(
            F.regexp_count(t, F.lit(r"[A-Z]")), F.lit(0)
        ).cast("long"),
    }
    unknown = set(w) - set(feats)
    if unknown:
        raise ValueError(f"unknown quality features: {sorted(unknown)}")
    out = df.select("*", *(feats[k].alias(k) for k in feats))
    score_e6 = F.lit(int(bias_e6)).cast("long")
    for k in feats:  # fixed iteration order = fixed fold order
        if k in w:
            score_e6 = score_e6 + F.lit(int(w[k])).cast("long") * F.col(k)
    null_gate = F.when(raw.isNull(), F.lit(None).cast("long"))
    out = out.withColumn("score_e6", null_gate.otherwise(score_e6))
    return out.select(
        "*",
        F.round(F.col("score_e6").cast("double") / 1e6, 6).alias("model_score"),
        (F.col("score_e6") > 0).alias("keep"),
    )


def doc_keywords(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    min_len: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms of each doc
    ranked by (term frequency DESC, corpus doc-frequency ASC, term
    ASC) — "frequent here, rare elsewhere", the TF-IDF selection made
    INTEGER-EXACT (a float idf ranking can flip ties across engines;
    the lexicographic integer rank cannot). Complements
    ``distinctive_terms`` (corpus-level, per-source) at per-doc
    granularity.

    Terms are normalize_text tokens of length >= ``min_len`` minus the
    English stopword list. Output: key, rank (1..k), term, tf (count
    in doc), df (docs containing term).

    Scale (the inverted-index build): explode is map-side, then
    exactly THREE exchanges over ONE scan — (key,term) for tf, term
    for the doc-frequency COUNT WINDOW, key for the top-k rank. The
    doc frequency is a count().over(partitionBy(term)) on the tf
    frame, NOT a groupBy+self-join: a second branch re-scans the
    corpus (over a round-robin repartitioned input Catalyst does not
    reuse the exchange, the repartition being nondeterministic —
    measured: 2 scans, 5 exchanges) and a join adds a build side;
    the window form needs neither. Per-group window state is one running count (term
    groups), then the k-row rank heap. No collect, no skew trap
    beyond a mega-doc (bounded by doc length).
    """
    from pyspark.sql.window import Window

    stop = set(STOPWORDS["en"])
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda x: (F.length(x) >= min_len) & ~x.isin(*stop),
    )
    tf = (
        df.select(F.col(key_col).alias("key"), F.explode(toks).alias("term"))
        .groupBy("key", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    )
    w = Window.partitionBy("key").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("key", "rank", "term", "tf", "df")
    )


def bpe_merge_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """First BPE training iteration: frequency of every adjacent
    CHARACTER pair inside words, weighted by corpus word frequency —
    the statistic a byte-pair-encoding tokenizer maximizes when it
    picks its next merge (Sennrich et al. 2016). Returns the top-k
    (lhs, rhs, pair_count) merge candidates.

    Plan — the classic BPE compression trick, distributed: the corpus
    explodes to WORDS once and aggregates to (word, word_count)
    FIRST, so the per-character pair expansion runs over the distinct
    vocabulary (tens of thousands of rows) instead of the corpus
    token stream (10^12 rows) — the pair stage's input is bounded by
    |vocab|, not corpus size. Pair building is native (transform over
    a 1..len-1 sequence + substr), no UDF; the k-cut is
    TakeOrderedAndProject on (count desc, left, right).

    Reference seed: no gookit/validate analogue (tokenizer-training
    support op for the pretraining pipeline).
    """
    words = (
        df.select(
            F.explode(
                F.filter(
                    F.split(normalize_text(F.col(text_col)), " "),
                    lambda x: F.length(x) >= 2,
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    # adjacent char pairs of each distinct word: positions 1..len-1
    # (guarded sequence — F.sequence(1, n) with n <= 0 DESCENDS,
    # CLAUDE.md round-3 gotcha; len >= 2 is filtered above)
    pairs = words.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.struct(
                    F.col("word").substr(i, F.lit(1)).alias("lhs"),
                    F.col("word").substr(i + 1, F.lit(1)).alias("rhs"),
                ),
            )
        ).alias("p"),
    ).select("wc", F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
    g = pairs.groupBy("lhs", "rhs").agg(
        F.sum("wc").alias("pair_count")
    )
    return (
        g.orderBy(
            F.col("pair_count").desc(), F.col("lhs").asc(), F.col("rhs").asc()
        )
        .limit(int(k))
        .select("lhs", "rhs", "pair_count")
    )


def token_entropy(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document unigram (whitespace-token) Shannon entropy in
    nats: H = ln(n) - sum(c * ln(c)) / n over per-token counts c —
    low entropy flags repetitive/templated text, high entropy flags
    token soup; both tails are pretraining-quality signals beside the
    Gopher/C4 rules.

    Cross-engine fp: the per-doc distinct-token cardinality is
    bounded (a document has at most a few thousand distinct tokens),
    so addition-order noise in sum(c*ln c) is ~1e-13 relative and
    cannot reach the round-6 tick (CLAUDE.md round-4 gotcha on
    bounded-cardinality round-6 rollups). n and c are exact int64.

    Plan: explode → groupBy (key, token) → groupBy key; two
    key-local shuffles, no distinct aggregates, no window.
    """
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda x: F.length(x) >= 1,
    )
    tf = (
        df.select(F.col(key_col).alias("key"), F.explode(toks).alias("tok"))
        .groupBy("key", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = tf.groupBy("key").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("_clogc"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    n = F.col("n_tokens").cast("double")
    return g.select(
        "key",
        "n_tokens",
        "n_distinct",
        F.round(F.log(n) - F.col("_clogc") / n, 6).alias("entropy_nats"),
    )


def nfc_normalize_column(text: Column) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF —
    composes decomposed sequences (e + U+0301 → é) so that
    fingerprinting, dedup and length rules see ONE canonical form of
    visually-identical text (a classic web-corpus hazard: the same
    page crawled twice with different normalization forms defeats
    exact dedup).

    Spark has no native NFC function, so this is a justified Python
    path: Arrow batch transfer, `unicodedata.normalize` per element
    (C-implemented in CPython). The DuckDB oracle replays it with the
    built-in ``nfc_normalize`` — both implement Unicode NFC, so
    outputs match byte-for-byte. NULL stays NULL."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x)
            if x is not None
            else None
        )

    # real annotation objects: the module's `from __future__ import
    # annotations` would stringify inline hints and pyspark cannot
    # resolve 'pd.Series' in this closure's globals
    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = pandas_udf(_nfc_fn, "string")
    return _nfc(text)


def nfc_report(
    df: DataFrame, *, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document NFC normalization report: md5 of the normalized
    text plus a changed flag (normalization altered the bytes). The
    md5 crosses the engine boundary (repo hash rule); the flag feeds
    an encoding-hygiene drill-down beside encoding_signals."""
    t = F.col(text_col)
    norm = nfc_normalize_column(t)
    return df.select(
        F.col(key_col).alias("key"),
        F.md5(F.coalesce(norm, F.lit(""))).alias("nfc_fp"),
        (norm != t).alias("changed"),
    )


def annotate_spans(
    df: DataFrame, *, spans_col: str = "spans"
) -> DataFrame:
    """Per-span enrichment of the interleaved document schema WITHOUT
    exploding: each element of ``spans`` gains (n_chars, n_tokens,
    has_ref) via ``transform`` + ``withField``, preserving the nested
    shape and span order exactly.

    Scale rationale: explode-then-regroup is the naive route to
    span-level work — at 10^12 docs that is a full shuffle on doc_id
    plus a collect_list whose buffers are the documents themselves.
    This operator is a pure map-side projection (zero Exchange, zero
    Generate — plan-asserted in tests): the nested array never leaves
    its row. Downstream span-level rollups then aggregate the
    ANNOTATED array with `aggregate`/`filter` (still no explode) or
    explode only the final projection when a flat view is required.
    """
    s = F.col(spans_col)
    enriched = F.transform(
        s,
        lambda sp: sp.withField(
            "n_chars", F.length(F.coalesce(sp["text"], F.lit(""))).cast("int")
        )
        .withField(
            "n_tokens", whitespace_token_count(sp["text"]).cast("int")
        )
        .withField("has_ref", sp["media_ref"].isNotNull()),
    )
    return df.withColumn(spans_col, enriched)


def pii_spans(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "url", "ip"),
) -> DataFrame:
    """PII span EXTRACTION report — the audit-side twin of the scrub
    filters (functions/filters.py shares the exact same Java∩RE2
    patterns, one source of truth): long format (key, kind, span,
    pos) with one row per match, so a privacy review can see WHAT
    would be scrubbed before committing to destruction, route docs by
    PII density, or diff scrub configs.

    Plan: regexp_extract_all per kind into arrays on the scan, one
    posexplode per kind unioned — map-side only until the caller
    aggregates."""
    from validate_spark.functions.filters import _PII_PATTERNS

    name_map = {"email": "scrubEmail", "url": "scrubUrl",
                "phone": "scrubPhone", "ip": "scrubIp"}
    parts = []
    for kind in kinds:
        pat, _ = _PII_PATTERNS[name_map[kind]]
        arr = F.regexp_extract_all(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(pat), 0
        )
        parts.append(
            df.select(
                F.col(key_col).alias("key"),
                F.lit(kind).alias("kind"),
                F.posexplode(arr).alias("pos", "span"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.select("key", "kind", F.col("pos").cast("int"), "span")


def collocations(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 3,
    top_n: int = 100,
) -> DataFrame:
    """Bigram collocation mining: adjacent token pairs that co-occur
    far more than their unigram frequencies predict (positive PMI) —
    the multi-word-expression / named-entity signal a tokenizer or
    vocabulary builder reads, and the phrase-level sibling of
    `bpe_merge_stats` (that ranks by raw pair count; this normalizes
    away token popularity so "of the" loses to "san francisco").

    Exactness split (the q202/MI discipline): SELECTION is pure
    integer — the positive-PMI test is the cross-multiplication
    c_ab·N1² > c_a·c_b·N2 carried in decimal(38,0) so it cannot
    overflow even at 10^12 tokens (1e36 < 1e38), and the top-N rank
    rides (c_ab DESC, bigram ASC), both exact — while the reported
    `pmi` is display-only: a sum of six libm lns rounded at 6 (each
    ln agrees cross-engine to ~1 ulp; the round-6 tick is 8 orders
    coarser).

    Scale: one tokenize projection staged and
    persisted (two aggregates — unigram and bigram counts — read it;
    the r4 persisted-frame-sharing rule), counts are map-side-combined
    hash aggregates bounded by |vocab| and |vocab-pairs-observed|, the
    two unigram joins co-partition on the token key, totals ride a
    1-row broadcast, and the final cut is TakeOrderedAndProject (never
    a global sort). No per-row Python anywhere.

    Output: (bigram, c_ab, c_a, c_b, pmi) — top_n rows.
    """
    toks = (
        df.select(normalize_text(F.col(text_col)).alias("_t"))
        .filter(F.length("_t") > 0)
        .select(F.split("_t", " ").alias("_w"))
        .persist()
    )
    w = F.col("_w")
    uni = toks.select(F.explode(w).alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    pairs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.get(w, i - 1).alias("a"), F.get(w, i).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    big = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    totals = toks.select(
        F.sum(F.size(w)).cast("long").alias("n1"),
        F.sum(F.size(w) - 1).cast("long").alias("n2"),
    )
    j = (
        big.filter(F.col("c_ab") >= int(min_count))
        .join(uni.select(F.col("tok").alias("a"), F.col("c1").alias("c_a")), "a")
        .join(uni.select(F.col("tok").alias("b"), F.col("c1").alias("c_b")), "b")
        .crossJoin(F.broadcast(totals))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    j = j.filter(
        dec("c_ab") * dec("n1") * dec("n1") > dec("c_a") * dec("c_b") * dec("n2")
    )
    pmi = F.round(
        F.log("c_ab")
        + 2 * F.log("n1")
        - F.log("c_a")
        - F.log("c_b")
        - F.log("n2"),
        6,
    )
    return (
        j.select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "c_ab",
            "c_a",
            "c_b",
            pmi.alias("pmi"),
        )
        .orderBy(F.col("c_ab").desc(), F.col("bigram"))
        .limit(int(top_n))
    )


def oov_report(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer coverage report: per group (language), how much of
    the corpus a fixed vocabulary actually covers — the table read
    before freezing a tokenizer/vocab for training: a language whose
    OOV share is high gets shredded into fallback pieces (bad
    fertility, wasted context window), and this is where that shows
    up BEFORE a training run does.

    Output per group: (group, n_docs, n_tokens, n_oov, n_bpe) — all
    exact int64. oov_rate = n_oov/n_tokens and fertility =
    n_bpe/n_tokens are client-side ratios of these integers (the
    threshold_sweep discipline: ship counts, not ratios).
    `n_bpe` counts the BPE-ish regex pieces (`bpe_token_count`) so
    fertility compares subword pressure against whitespace tokens.

    Scale: one tokenize projection; the vocabulary
    (V-bounded by `build_background_vocab`'s cnt-desc cap) BROADCASTS
    against the exploded token stream — the corpus never reshuffles;
    one hash aggregate per branch, joined on the |groups|-sized
    frames. NULL group is kept as its own row (the k-anonymity NULL
    convention).
    """
    g = F.col(group_col)
    staged = df.select(
        g.alias("_g"),
        normalize_text(F.col(text_col)).alias("_t"),
        bpe_token_count(F.col(text_col)).cast("long").alias("_bpe"),
    )
    docs = staged.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_bpe").cast("long").alias("n_bpe"),
    )
    toks = (
        staged.filter(F.length("_t") > 0)
        .select("_g", F.explode(F.split("_t", " ")).alias("token"))
        .join(
            F.broadcast(vocab.select("token", F.lit(1).alias("_in"))),
            "token",
            "left",
        )
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("_in").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
        )
    )
    # eqNullSafe: a NULL group must find ITS token counts (a plain
    # equality join would keep the doc row but lose the tokens)
    return (
        docs.join(
            toks.withColumnRenamed("_g", "_g2"),
            docs["_g"].eqNullSafe(F.col("_g2")),
            "left",
        )
        .select(
            F.col("_g").alias(group_col),
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            "n_bpe",
        )
    )


def typo_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_len: int = 4,
    max_len: int = 12,
    min_support: int = 1,
) -> DataFrame:
    """Edit-distance-1 vocabulary pairs — the typo/variant screen a
    vocabulary builder or OCR-quality audit runs before frequencies
    feed `bpe_merge_stats` or a stopword list: "recieve" beside
    "receive" is a misspelling cluster, not two words.

    The pair generation is the SymSpell deletion-neighborhood
    identity (Garbe 2012): lev(a,b) ≤ 1 ⇔ ({a} ∪ del₁(a)) ∩
    ({b} ∪ del₁(b)) ≠ ∅ — substitutions meet at the shared deletion,
    insertions at the shorter word itself. So each vocabulary word
    expands into ≤ len+1 variants, candidates come from ONE equi-join
    on the variant key, and the exact `levenshtein(a,b) == 1` verify
    kills the false candidates the identity admits (e.g. "ab"/"ba"
    share variants at distance 2) and the a=b self-matches. NO
    all-pairs anything: the quadratic lives inside variant buckets
    whose size is bounded by alphabet density, never |vocab|².

    Tokens are lowercased [a-z]-only within [min_len, max_len]
    (cross-engine levenshtein is byte/char-identical on ASCII;
    multi-byte text routes to the gram/minhash tiers instead) and
    must clear ``min_support`` corpus occurrences BEFORE expansion —
    the frequency cut happens on the |vocab| frame, so hapax noise
    never inflates the join.

    Scale: one tokenize projection → |vocab|-bounded
    hash aggregate → ×(len+1) variant explode on the VOCAB frame →
    one shuffle on the variant key → distinct pairs → verify.
    Output: (word_a, word_b, n_a, n_b), word_a < word_b.
    """
    if min_len < 1 or max_len < min_len:
        raise ValueError("need 1 <= min_len <= max_len")
    tok_rx = f"^[a-z]{{{min_len},{max_len}}}$"
    vocab = (
        df.select(normalize_text(F.col(text_col)).alias("_t"))
        .filter(F.length("_t") > 0)
        .select(F.explode(F.split("_t", " ")).alias("_w"))
        .filter(F.col("_w").rlike(tok_rx))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .filter(F.col("_n") >= min_support)
    )
    variants = vocab.select(
        F.col("_w"),
        F.col("_n"),
        F.explode(
            F.expr(
                "transform(sequence(0, length(_w)), i -> "
                "CASE WHEN i = length(_w) THEN _w "
                "ELSE concat(substring(_w, 1, i), substring(_w, i + 2)) END)"
            )
        ).alias("_v"),
    ).distinct()
    a = variants.select(
        F.col("_v").alias("_va"), F.col("_w").alias("word_a"), F.col("_n").alias("n_a")
    )
    b = variants.select(
        F.col("_v").alias("_vb"), F.col("_w").alias("word_b"), F.col("_n").alias("n_b")
    )
    pairs = (
        a.join(b, (F.col("_va") == F.col("_vb")) & (F.col("word_a") < F.col("word_b")))
        .select("word_a", "word_b", "n_a", "n_b")
        .distinct()
    )
    return pairs.filter(F.levenshtein(F.col("word_a"), F.col("word_b")) == 1)
