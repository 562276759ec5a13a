"""Deterministic (re-runnable) sampling for training-data pipelines.

``df.sample()`` draws from a per-task RNG: re-runs, resumed jobs and
recomputed partitions select DIFFERENT rows — poison for lineage and
for any pipeline that must be replayable. These samplers gate on a
content hash of the row key instead: the same row is always in or out,
on any cluster layout, any retry, any engine. The gate hash is md5
(first 8 hex chars → int) because sampled outputs are lineage artifacts
an external auditor (or the DuckDB oracle) must recompute — the repo's
hash-portability rule; xxhash64 stays engine-internal.

Both samplers are pure map-side filters: zero shuffle, predicate
fused into the scan, trivially parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_M = 1_000_000


def _gate(key_col: str, seed: int) -> Column:
    """Uniform [0, 1e6) content-defined draw, portable:
    ``conv(substr(md5(key || '\\x1f' || seed), 1, 8), 16, 10) % 1e6`` ≡
    DuckDB ``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT) % 1000000``.
    NULL keys coalesce to '' pre-hash (md5(NULL) is NULL)."""
    k = F.concat_ws(
        "\x1f", F.coalesce(F.col(key_col).cast("string"), F.lit("")), F.lit(str(seed))
    )
    return F.pmod(
        F.conv(F.substring(F.md5(k), 1, 8), 16, 10).cast("long"), F.lit(_M)
    )


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str, *, seed: int = 0
) -> DataFrame:
    """Content-hash-gated Bernoulli sample: row kept iff
    hash(key, seed) < fraction — same selection on every run/replay."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(_gate(key_col, seed) < int(fraction * _M))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: float | dict,
    key_col: str,
    *,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sample — e.g. downsample boilerplate
    languages while keeping low-resource ones whole. ``fractions`` is a
    single float (every stratum) or {stratum_value: fraction}; strata
    absent from the dict keep fraction 0 (dropped), which makes the
    dict double as an allowlist. The per-stratum threshold compiles to
    one small CASE expression — still a map-side filter, no join, no
    shuffle, and skew-immune (no stratum ever funnels to one task)."""
    gate = _gate(key_col, seed)
    if isinstance(fractions, dict):
        thr = F.lit(0)
        for stratum, frac in sorted(fractions.items()):
            if not 0.0 <= frac <= 1.0:
                raise ValueError(f"fraction for {stratum!r} must be in [0, 1]")
            thr = F.when(
                F.col(strata_col) == F.lit(stratum), F.lit(int(frac * _M))
            ).otherwise(thr)
    else:
        if not 0.0 <= fractions <= 1.0:
            raise ValueError("fraction must be in [0, 1]")
        thr = F.lit(int(fractions * _M))
    return df.filter(gate < thr)


def weighted_mix(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    key_col: str,
    *,
    seed: int = 0,
    copy_col: str = "mix_copy",
) -> DataFrame:
    """Training-data MIX construction: per-stratum resampling with
    weights that may exceed 1 (oversampling high-quality sources is
    standard when assembling a pretraining mix). A weight w yields
    ``floor(w)`` full copies of every row plus one more copy for the
    md5-gated ``w - floor(w)`` fraction — so expected copies == w,
    per-row deterministic (same copies on every run/replay/engine).
    Strata absent from ``weights`` get 0 (dropped) — the dict is also
    the allowlist, like ``stratified_sample``.

    Output rows carry ``copy_col`` (1..n per source row) so downstream
    keys stay unique: (key, copy) is a primary key of the mix.

    Scale shape: a map-side projection + filter + explode — no shuffle,
    no join; the explode fan-out is bounded by max(weights). The
    sequence upper bound is guarded to ≥1 BEFORE explode (F.sequence
    with a smaller end generates a DESCENDING range — the repo's
    round-3 gotcha), with n ≤ 0 rows filtered first.
    """
    gate = _gate(key_col, seed)
    base = F.lit(0)
    frac_thr = F.lit(0)
    for stratum, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"weight for {stratum!r} must be >= 0")
        whole, frac = int(w), w - int(w)
        cond = F.col(strata_col) == F.lit(stratum)
        base = F.when(cond, F.lit(whole)).otherwise(base)
        frac_thr = F.when(cond, F.lit(int(round(frac * _M)))).otherwise(frac_thr)
    n = (base + (gate < frac_thr).cast("int")).alias("_n")
    out = df.withColumn("_n", n).filter(F.col("_n") >= 1)
    return out.withColumn(
        copy_col,
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1)))),
    ).drop("_n")


def deterministic_shuffle(
    df: DataFrame,
    key_col: str,
    *,
    n_shards: int,
    seed: int = 0,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Stable global document-order shuffle for pretraining: every row
    gets a ``shard`` (uniform md5 bucket) and a ``pos`` (its rank
    within the shard under the md5 draw) — the training order is then
    "read shards 0..n-1, each in pos order". Identical on every
    run/retry/cluster layout/engine (the draw is content-defined), so a
    resumed training job sees the same data order — which
    ``df.orderBy(rand())`` can never guarantee.

    Scale shape: ONE hash-partitioned exchange on ``shard`` + a
    per-shard sort (the window is partitioned, never global). Shard
    sizes are |corpus| / n_shards with md5-uniform keys — pick
    n_shards ≫ cores (a few thousand at 100 TB) and no single sort
    exceeds executor memory; there is no global ordering step and no
    driver involvement. The (h, k) sort key makes ranks fully
    deterministic even under (astronomically unlikely) md5-prefix
    ties.

    The draw reuses the sampler's portable gate construction: md5 so
    the shuffle order is auditable/replayable outside Spark (the repo's
    hash-portability rule).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col(key_col).cast("string"), F.lit("")),
            F.lit(str(seed)),
        )
    )
    out = df.withColumn("_h", h).withColumn(
        shard_col,
        F.pmod(
            F.conv(F.substring(F.col("_h"), 1, 8), 16, 10).cast("long"),
            F.lit(n_shards),
        ),
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col("_h"), F.col(key_col).cast("string"))
    )
    return out.withColumn(pos_col, F.row_number().over(w).cast("long")).drop("_h")


def quality_quantile_filter(
    df: DataFrame,
    strata_col: str,
    score: Column,
    keep_num: int,
    keep_den: int,
    key_col: str,
    *,
    seed: int = 0,
    rank_col: str = "q_rank",
    n_col: str = "q_n",
) -> DataFrame:
    """CCNet-style per-stratum quality cut: keep the top
    ``keep_num/keep_den`` fraction of each stratum by ``score`` (ties
    broken by the portable md5 draw, then the key — fully
    deterministic). The kept fraction is enforced with INTEGER
    cross-multiplication (``rank * den <= num * n``) so the selection
    is bit-identical across engines — never a float threshold compare
    (the repo's cross-engine selection rule).

    Output = kept rows + ``rank_col`` (1 = best in stratum) and
    ``n_col`` (stratum size), both computed from ONE window partition
    spec — a single hash exchange on the stratum + one per-stratum
    sort.

    Scale shape, stated honestly: the per-stratum sort funnels a
    mega-stratum (one language = half the corpus) through few tasks.
    That is acceptable when strata are languages/sources (tens to
    thousands of strata); for pathological strata use
    ``quality_quantile_filter_approx`` — a two-pass
    threshold-broadcast plan with NO sort anywhere (at the cost of an
    approximate cut point).

    Reference analogue: gookit/validate's min/max rules gate single
    records; this is the dataset-level "keep the best p%" curation gate
    a pretraining pipeline runs after scoring (cf. CCNet, Wenzek et
    al. 2020 — public paper).
    """
    if keep_num < 0 or keep_den <= 0:
        raise ValueError("keep fraction must be >= 0 with positive denominator")
    h = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col(key_col).cast("string"), F.lit("")),
            F.lit(str(seed)),
        )
    )
    part = Window.partitionBy(strata_col)
    w = part.orderBy(
        score.desc(), F.col("_h"), F.col(key_col).cast("string")
    )
    out = (
        df.withColumn("_h", h)
        .withColumn(rank_col, F.row_number().over(w).cast("long"))
        .withColumn(n_col, F.count(F.lit(1)).over(part).cast("long"))
        .drop("_h")
    )
    return out.filter(
        F.col(rank_col) * F.lit(int(keep_den)) <= F.lit(int(keep_num)) * F.col(n_col)
    )


def quality_quantile_thresholds(
    df: DataFrame,
    strata_col: str,
    score: Column,
    keep_frac: float,
    *,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-stratum approximate score cut points: ``(stratum, thr)``
    where thr ≈ the (1-keep_frac) quantile of score. One aggregation
    with map-side partial sketches (Greenwald-Khanna inside
    ``approx_percentile``) — the frame is |strata| rows, broadcastable
    by construction. No sort, no window, skew-immune."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError("keep_frac must be in (0, 1]")
    return df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.percentile_approx(
            score, F.lit(1.0 - keep_frac), F.lit(accuracy)
        ).alias("thr")
    )


def quality_quantile_filter_approx(
    df: DataFrame,
    strata_col: str,
    score: Column,
    keep_frac: float,
    *,
    accuracy: int = 10000,
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """Scale path for the per-stratum quality cut: broadcast the
    per-stratum approximate threshold and keep rows with
    ``score >= thr`` — a map-side filter after a broadcast hash join;
    the corpus never shuffles and no stratum ever sorts. The cut point
    is approximate (sketch error ~1/accuracy of rank), so the kept
    fraction wobbles around keep_frac — the standard trade every
    petabyte-scale quantile cut makes. Pass a precomputed
    ``thresholds`` frame to pin cut points across incremental runs
    (score drift then shows up as kept-fraction drift — a signal, not
    a bug)."""
    if thresholds is None:
        thresholds = quality_quantile_thresholds(
            df, strata_col, score, keep_frac, accuracy=accuracy
        )
    t = F.broadcast(thresholds.withColumnRenamed("stratum", "_qstratum"))
    joined = df.withColumn("_qscore", score).join(
        t, F.col(strata_col) == F.col("_qstratum"), "inner"
    )
    return joined.filter(F.col("_qscore") >= F.col("thr")).drop(
        "_qstratum", "_qscore", "thr"
    )


def stratum_quota(
    df: DataFrame,
    strata_col: str,
    quota: int,
    key_col: str,
    *,
    seed: int = 0,
    rank_col: str = "quota_rank",
) -> DataFrame:
    """Cap every stratum at ``quota`` rows, chosen by the portable md5
    draw (deterministic on every run/retry/engine) — the "at most N
    documents per domain" balancing gate crawl pipelines apply before
    mixing.

    TWO-PHASE top-N so a mega-stratum never funnels through one task
    (the salted-uniqueness pattern, operators/uniq.py): phase 1 ranks
    within (input partition, stratum) — the exchange key includes the
    physical partition id, so a stratum occupying half the corpus
    spreads over every task — and keeps ≤ quota rows per (partition,
    stratum); phase 2 ranks the ≤ n_partitions × quota survivors per
    stratum. Global-min-N-of-local-min-Ns is exact: any row in the true
    top-N is in its partition's top-N. Only the survivor frame (quota-
    bounded) ever shuffles on the bare stratum key.

    Ordering key is (full md5 hex, key) — the same tie-proof pair
    ``deterministic_shuffle`` uses, so the oracle replays the selection
    with one window over the full table. The spread comes from the
    input's partitions: on a 1-partition input the ``_pid`` salt is
    constant and phase 1 is the full window.
    """
    if quota < 1:
        raise ValueError("quota must be >= 1")
    h = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col(key_col).cast("string"), F.lit("")),
            F.lit(str(seed)),
        )
    )
    ks = F.col(key_col).cast("string")
    staged = df.withColumn("_h", h).withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("_pid", strata_col).orderBy(F.col("_h"), ks)
    local = staged.withColumn("_lr", F.row_number().over(w1)).filter(
        F.col("_lr") <= quota
    )
    w2 = Window.partitionBy(strata_col).orderBy(F.col("_h"), ks)
    return (
        local.withColumn(rank_col, F.row_number().over(w2).cast("long"))
        .filter(F.col(rank_col) <= quota)
        .drop("_h", "_pid", "_lr")
    )


def mix_temperature_weights(
    df: DataFrame,
    *,
    strata_col: str,
    size_col: str,
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled source-mixing weights — the standard
    multilingual/multi-source rebalancing rule (GPT-3 App. A, XLM-R
    §3.1, LLaMA): target share of stratum i ∝ p_i^alpha where p_i is
    its natural share; alpha < 1 up-weights small sources without
    letting any source dominate. Output per stratum:

      n_units      exact int64 size (sum of ``size_col``)
      share_ppm    exact integer natural share, parts-per-million
      target_share alpha-scaled share, round-6
      sample_rate  target/natural — the per-stratum inclusion rate a
                   sampler (deterministic_sample) should apply, >1 =
                   oversample with weighted_mix, round-6

    The two one-row totals broadcast back (no driver action); the
    only floats are the final p^alpha normalization — per-stratum
    cardinality is the (small) stratum COUNT, so round-6 is
    engine-stable (round-4 gotcha); selection stays integer.

    Scale: one hash aggregate on the stratum key + two broadcast
    one-row joins. Feed the rates to deterministic_sample /
    weighted_mix for the actual row selection.
    """
    sizes = df.groupBy(strata_col).agg(
        F.sum(F.col(size_col).try_cast("long")).alias("n_units")
    )
    tot = sizes.agg(F.sum("n_units").alias("_tot"))
    with_share = sizes.crossJoin(F.broadcast(tot)).withColumn(
        "share_ppm",
        F.expr("n_units * 1000000 DIV _tot"),
    )
    powd = with_share.withColumn(
        "_pa",
        F.pow(F.col("n_units").cast("double") / F.col("_tot"), F.lit(alpha)),
    )
    z = powd.agg(F.sum("_pa").alias("_z"))
    return (
        powd.crossJoin(F.broadcast(z))
        .select(
            strata_col,
            "n_units",
            "share_ppm",
            F.round(F.col("_pa") / F.col("_z"), 6).alias("target_share"),
            F.round(
                (F.col("_pa") / F.col("_z"))
                / (F.col("n_units").cast("double") / F.col("_tot")),
                6,
            ).alias("sample_rate"),
        )
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    smoothing: float = 1.0,
    k: int = 50,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc
    by how much more likely its hashed-unigram bag is under the
    TARGET distribution (rows matching ``target_pred``) than under
    the RAW corpus, and return the top-``k``.

    Per bucket b the log-ratio is frozen to an INTEGER in 1e-6 nats::

        lam[b] = round(1e6 * (ln((t_cnt+s)/(T+s*B)) - ln((r_cnt+s)/(R+s*B))))

    so each doc's weight is an EXACT int64 sum of its tokens'
    lam values — selection and ordering stay integer-only (the
    round-3 cross-engine rule); only the display column divides back
    to nats. Token -> bucket is the portable md5 gate (first 8 hex
    chars -> int, mod B) so the DuckDB oracle replays bit-for-bit;
    the ln itself is cross-engine-stable at the 1e-6 tick (same
    contract as unigram_logprob_scores' round-6 mean_logp).

    Scale shape: ONE token-explode scan staged and shared by both
    consumers (persisted — the r4 two-branch rule); bucket stats are
    a B-row aggregate broadcast back; the per-doc rollup is the only
    key shuffle (map-side partial sums); the k-cut is
    TakeOrderedAndProject on the exact integer."""
    from validate_spark.operators.textstats import normalize_text

    s = float(smoothing)
    B = int(n_buckets)
    toks = (
        df.select(
            F.col(key_col).cast("string").alias("k"),
            target_pred.cast("int").alias("_is_t"),
            normalize_text(F.col(text_col)).alias("_t"),
        )
        .filter(F.length("_t") > 0)
        .select("k", "_is_t", F.explode(F.split("_t", " ")).alias("_tok"))
        .select(
            "k",
            "_is_t",
            (
                F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("long")
                % F.lit(B)
            ).alias("_b"),
        )
        .persist()
    )
    bs = toks.groupBy("_b").agg(
        F.sum("_is_t").cast("long").alias("_t_cnt"),
        F.count(F.lit(1)).cast("long").alias("_r_cnt"),
    )
    tot = bs.agg(
        F.sum("_t_cnt").cast("double").alias("_T"),
        F.sum("_r_cnt").cast("double").alias("_R"),
    )
    lam = (
        bs.crossJoin(F.broadcast(tot))
        .select(
            "_b",
            F.round(
                F.lit(1e6)
                * (
                    F.log(
                        (F.col("_t_cnt").cast("double") + F.lit(s))
                        / (F.col("_T") + F.lit(s * B))
                    )
                    - F.log(
                        (F.col("_r_cnt").cast("double") + F.lit(s))
                        / (F.col("_R") + F.lit(s * B))
                    )
                )
            )
            .cast("long")
            .alias("_lam"),
        )
    )
    dw = (
        toks.join(F.broadcast(lam), "_b")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("_lam").cast("long").alias("_w_e6"),
        )
    )
    return (
        dw.orderBy(F.col("_w_e6").desc(), F.col("k").asc())
        .limit(int(k))
        .select(
            F.col("k").alias(key_col),
            "n_tok",
            F.round(F.col("_w_e6").cast("double") / 1e6, 6).alias("dsir_weight"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    group_col: str,
    splits: dict[str, float],
    *,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment that cannot leak duplicates across
    splits: the md5 gate draws on a GROUP key — the exact-dedup
    fingerprint (textstats.fingerprint) or a near-dup cluster id —
    so every member of a group lands in the same split BY CONSTRUCTION,
    not by post-hoc checking. (Splitting on the row key and then
    deduplicating per split is the classic contamination bug: two
    near-identical documents straddle train/test and the eval is
    polluted.)

    ``splits`` maps name -> fraction (must sum to 1); assignment is the
    usual portable gate (md5 first-8-hex of ``group \\x1f seed``) cut at
    cumulative integer thresholds, first match wins, the last split
    takes the remainder so threshold rounding never drops a row.

    Map-side only: no shuffle, no join — the split column fuses into
    the scan; fractions hold in expectation per GROUP (the correct unit
    of independence once groups exist).
    """
    fracs = list(splits.items())
    if len(fracs) < 2:
        raise ValueError("need at least two splits")
    if any(f < 0 for _, f in fracs):
        raise ValueError("split fractions must be >= 0")
    if abs(sum(f for _, f in fracs) - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    g = _gate(group_col, seed)
    expr = None
    acc = 0.0
    for name, f in fracs[:-1]:
        acc += f
        cond = g < int(acc * _M)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn(split_col, expr.otherwise(F.lit(fracs[-1][0])))


def weighted_reservoir_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    *,
    strata_cols: list[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: exactly ``n`` rows per
    stratum, inclusion probability ∝ weight — the Efraimidis–Spirakis
    A-ES reservoir (keep the n largest ``u^(1/w)`` for uniform u).
    :func:`weighted_mix` gives ∝-weight rates but WITH-replacement
    semantics (independent Bernoulli gates, so a stratum's sample size
    varies); this is the fixed-size, no-repeat version a curriculum
    builder wants for "the n best-weighted docs per source, sampled
    not ranked".

    Determinism + cross-engine exactness: u = (h+1)/2^52 from the md5
    draw (division by a power of two — the double is EXACT), ranked by

        rank_key = round(1e6·ln u) * 1000 div w

    maximizing rank_key ≡ maximizing u^(1/w) (ln u < 0; w > 0
    integer). ln is frozen to the 1e-6 grid BEFORE the integer
    arithmetic, so selection never rides a raw float (tick-boundary
    coincidence is the measure-zero caveat the q68/q176 precedent
    accepts); ties break on the key string. Weights must be POSITIVE
    integers (token counts, byte sizes, quality grades — the natural
    units); w ≤ 0 / NULL rows are excluded, stated not hidden.

    Scale: the rank key is map-side; selection is the `_two_phase_topk`
    pattern — local top-n per (task, stratum), then an n-bounded merge
    per stratum. No per-stratum window, no global sort; skew-free by
    the same accounting.
    """
    if n < 1:
        raise ValueError("weighted_reservoir_sample: n must be >= 1")
    strata = list(strata_cols or [])
    k = F.concat_ws(
        "\x1f",
        F.coalesce(F.col(key_col).cast("string"), F.lit("")),
        F.lit(str(seed)),
    )
    hv = F.conv(F.substring(F.md5(k), 1, 13), 16, 10).cast("long")
    u = (hv + F.lit(1)).cast("double") / F.lit(float(1 << 52))
    lnu_int = F.round(F.log(u) * F.lit(1_000_000), 0).cast("long")
    w = F.col(weight_col).cast("long")
    base = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            *strata,
            F.col(key_col).cast("string").alias("_key"),
            w.alias("_w"),
            (lnu_int * F.lit(1000)).alias("_lnu_k"),
        )
        .withColumn("_rk", F.expr("_lnu_k div _w"))
    )
    item = F.struct(
        (-F.col("_rk")).alias("nrk"),
        F.col("_key").alias("_key"),
        F.col("_w").alias("_w"),
    )
    local = base.groupBy(F.spark_partition_id().alias("_p"), *strata).agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, n).alias("top")
    )
    merged = local.groupBy(*strata).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, n).alias("top")
    )
    return merged.select(
        *strata, F.posexplode("top").alias("_pos", "_e")
    ).select(
        *strata,
        F.col("_e._key").alias(key_col),
        F.col("_e._w").cast("long").alias("weight"),
        (-F.col("_e.nrk")).cast("long").alias("rank_key"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def token_budget_mix(
    df: DataFrame,
    source_col: str,
    token_col: str,
    *,
    budget: int,
    weights_ppm: dict,
    max_epochs_ppm: int = 4_000_000,
) -> DataFrame:
    """Static pretraining-mix allocator: given per-source token supply
    (rolled up from the corpus) and target mix ``weights_ppm`` (parts
    per million, integers — the cross-engine-exact spelling of the mix
    proportions a LLaMA/DoReMi-style data card publishes), split a
    ``budget`` of training tokens across sources with a repeat cap of
    ``max_epochs_ppm`` (4_000_000 = at most 4 epochs of any source —
    the "don't loop a small source forever" guard).

    Per source: ``tokens_avail`` (supply), ``desired_tokens`` =
    budget·w/Σw (integer div), ``alloc_tokens`` = min(desired, cap =
    avail·max_epochs_ppm div 1e6), ``epochs_ppm`` = alloc·1e6 div
    avail, ``deficit_tokens`` = desired − alloc (what the caller must
    re-spread or accept losing; single-pass by design — the iterative
    water-filling variant is a driver-side loop over this |sources|-row
    frame, never a dataset-scale op). Sources absent from
    ``weights_ppm`` get weight 0 and appear with zero allocation (the
    honest "you forgot a source" signal, not a silent drop).

    All arithmetic is int64, validated on BOTH factors: budget·ppm ≤
    9.2e18 caps budget at ~9e12 tokens (eager check), and
    tokens_avail·max_epochs_ppm is guarded by a lazy per-source
    assert — a pretraining-scale source above int64_max/max_epochs_ppm
    tokens (~2.3e12 at the default 4 epochs) fails with an explicit
    message instead of an opaque ANSI overflow abort (r6 advisory).
    One groupBy(source) shuffle to a |sources|-row frame, then
    map-side math.
    """
    if budget <= 0:
        raise ValueError("token_budget_mix: budget must be positive")
    if budget > 9_000_000_000_000:
        raise ValueError(
            "token_budget_mix: budget·ppm would overflow int64 "
            "(cap 9e12 tokens; allocate larger budgets in units of 1k tokens)"
        )
    if not weights_ppm:
        raise ValueError("token_budget_mix: weights_ppm is empty")
    total_w = sum(int(v) for v in weights_ppm.values())
    if total_w <= 0:
        raise ValueError("token_budget_mix: weights must sum positive")

    wmap = F.create_map(
        *[
            lit
            for k, v in sorted(weights_ppm.items())
            for lit in (F.lit(str(k)), F.lit(int(v)))
        ]
    )
    supply = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(F.col(token_col).cast("long")).alias("tokens_avail")
    )
    # lazy overflow guard: cap = tokens_avail·max_epochs_ppm must stay
    # inside int64; assert_true returns NULL for passing rows (filter
    # keeps them all) and raises a DIAGNOSTIC error for a source whose
    # supply would overflow — a filter, not a dropped projection, so
    # the optimizer cannot prune it
    avail_lim = 9_223_372_036_854_775_807 // max(int(max_epochs_ppm), 1)
    supply = supply.filter(
        F.assert_true(
            F.col("tokens_avail") <= F.lit(avail_lim),
            F.concat(
                F.lit(
                    "token_budget_mix: tokens_avail overflows the "
                    f"max_epochs_ppm={int(max_epochs_ppm)} repeat cap "
                    f"(per-source limit {avail_lim}); source="
                ),
                F.col("source").cast("string"),
            ),
        ).isNull()
    )
    w = F.coalesce(wmap[F.col("source")], F.lit(0)).cast("long")
    desired = F.expr(f"{budget} * weight_ppm div {total_w}")
    cap = F.expr(f"tokens_avail * {int(max_epochs_ppm)} div 1000000")
    return (
        supply.withColumn("weight_ppm", w)
        .withColumn("desired_tokens", desired)
        .withColumn("alloc_tokens", F.least(F.col("desired_tokens"), cap))
        .withColumn(
            "epochs_ppm",
            F.when(
                F.col("tokens_avail") > 0,
                F.expr("alloc_tokens * 1000000 div tokens_avail"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "deficit_tokens", F.col("desired_tokens") - F.col("alloc_tokens")
        )
    )


def ess_report(
    df: DataFrame,
    weight_ppm_col: str,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Effective sample size of an importance-weighted corpus, per
    group: ESS = (Σw)²/Σw² (Kish) — the diagnostic that must gate any
    weighted mix (:func:`dsir_weights`, :func:`mix_temperature_weights`)
    before training: a 10^9-doc source with ESS 10⁴ is 10⁴ documents
    wearing a big number, and the mix table should say so.

    Weights are integer PPM (the house cross-engine spelling); Σw and
    Σw² accumulate as decimal(38,0) (w² ≤ 10^12 per row — int64 dies
    at ~10^6 rows, decimal is overflow-proof to ~10^26). The two final
    divisions are the only fp ops (round 6): ess = (Σw)²/Σw²,
    ess_ratio = ess/n. Zero/NULL weights are rows the mix already
    dropped — excluded, with ``n_zero_weight`` reported rather than
    silently vanishing. One hash aggregate; output |groups| rows.
    """
    groups = list(group_cols or [])
    w = F.col(weight_ppm_col).cast("long")
    base = df.select(*groups, w.alias("_w"))
    agg = base.groupBy(*groups).agg(
        F.sum(F.when(F.col("_w") > 0, 1).otherwise(0)).cast("long").alias("n"),
        # when-condition NULL (NULL weight) falls to otherwise -> counted
        F.sum(
            F.when(F.col("_w") > 0, 0).otherwise(1)
        ).cast("long").alias("n_zero_weight"),
        F.sum(
            F.when(F.col("_w") > 0, F.col("_w")).otherwise(0).cast("decimal(38,0)")
        ).alias("sum_w"),
        F.sum(
            F.when(F.col("_w") > 0, F.col("_w") * F.col("_w"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("sum_w2"),
    )
    ess = F.when(
        F.col("sum_w2") > 0,
        F.round(
            (F.col("sum_w").cast("double") * F.col("sum_w").cast("double"))
            / F.col("sum_w2").cast("double"),
            6,
        ),
    )
    return agg.select(
        *groups,
        "n",
        "n_zero_weight",
        F.col("sum_w").cast("string").alias("sum_w"),
        F.col("sum_w2").cast("string").alias("sum_w2"),
        ess.alias("ess"),
        F.when(
            F.col("n") > 0, F.round(ess / F.col("n").cast("double"), 6)
        ).alias("ess_ratio"),
    )
