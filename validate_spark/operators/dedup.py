"""Deduplication operators for training-data pipelines.

Five tiers, each a different cost/recall point, all shuffle-bounded,
plus the pipeline-closing steps (connected components → retention):

1. **Exact** — md5 fingerprint of normalized text → one hash-aggregate.
   md5 keys are uniform, so the shuffle never skews; 10^12 rows is one
   map-side-combined groupBy.
2. **MinHash + LSH** — char-shingle → minhash signature → band buckets →
   candidate pairs only within buckets → exact-Jaccard verify. The
   self-join is replaced by ``collect_list`` within a bucket (bounded by
   ``max_bucket``), so the worst case is O(bucket²) per bucket, never
   O(n²) — the textbook LSH bound.
3. **SimHash** — 64-bit token-vote signature (vectorized pandas UDF,
   Arrow-batched — the one place Python earns its transfer cost), then
   Hamming-ball candidate pairs via 4×16-bit chunk buckets (any pair
   within Hamming distance 3 shares ≥1 exact chunk — pigeonhole).
4. **n-gram Jaccard** — exact-score similarity join via prefix
   filtering (AllPairs/PPJoin family, rarest-first global gram order);
   no signatures, recall contract documented on the function.
5. **Embedding near-dup** — cosine ≥ τ pairs; exact O(n²) only inside
   LSH sign-buckets (deterministic hyperplanes), brute-force variant for
   oracle-exact small-scale verification.

Downstream: ``dedup_clusters`` (min-label propagation with
localCheckpoint-ed rounds) assigns (member, cluster); ``dedup_retain``
applies the assignment back to the corpus (canonical + singletons).

Portability note: the exact-dedup fingerprint is md5-hex, so a DuckDB
oracle reproduces it byte-identically. MinHash signatures use seeded
xxhash64 (fast, JVM-native, engine-local) — fine, because the oracle
for the LSH pipeline verifies the OUTPUT pairs with an exhaustive
exact-Jaccard computation, not signature equality.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from validate_spark.operators.textstats import fingerprint, normalize_text


def _two_phase_buckets(
    df: DataFrame,
    group_cols: list[str],
    member: Column,
    max_bucket: int,
) -> DataFrame:
    """Bounded LSH-bucket collection: (group_cols..., ms) where ``ms``
    is the sorted member array of every bucket with 2..max_bucket
    members.

    A single-stage ``groupBy(bucket).collect_set`` buffers EVERY member
    of a hot bucket before the size filter can drop it — collect_*
    partial aggregation does NOT bound shuffle bytes (CLAUDE.md r2), so
    one boilerplate band signature / sign-bucket shared by 10^8 docs
    builds a multi-GB aggregation buffer on ONE task, then gets
    discarded. This is the exact_duplicates two-phase pattern: stage 1
    groups by (spark_partition_id, bucket) so each buffer holds at most
    one task's members, sliced to ``max_bucket + 1``; stage 2 merges
    the capped locals. ``total`` (summed exact per-task counts) detects
    overflow even when every local slice truncated — callers must feed
    rows UNIQUE per (bucket, member) so the count equals the member
    count (true for all four LSH paths: one row per (doc, band/chunk/
    prefix-gram/sign-bucket)). For any KEPT bucket (total <= max_bucket)
    no local slice dropped anything, so ``ms`` is provably complete —
    output identical to the single-stage plan, buffers bounded by task
    input size. ``member`` structs must order on a unique leading field
    (the doc key) so array_sort never compares heavy trailing fields
    (e.g. embedding vectors)."""
    cap = max_bucket + 1
    local = df.groupBy(
        F.spark_partition_id().alias("_p"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.slice(F.array_sort(F.collect_set(member)), 1, cap).alias("ms"),
    )
    return (
        local.groupBy(*group_cols)
        .agg(
            F.sum("c").alias("total"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("ms"))), 1, cap
            ).alias("ms"),
        )
        .filter((F.col("total") > 1) & (F.col("total") <= max_bucket))
        .select(*group_cols, "ms")
    )


def upper_pairs(arr: Column, pair, keep=None) -> Column:
    """``pair(arr[i], arr[j])`` for every i < j, in array order — the
    ROW-LOCAL pair expansion every candidate-pair operator runs over a
    collected array (an LSH bucket, a prefix-gram bucket, a basket, a
    row's failed rules): no self-join, no row identity, at most
    size(arr)² elements per row. With ``keep``, an element is
    ``when(keep(x, y), pair(x, y))`` and the NULLs are filtered out
    before the flatten, so dropped pairs never reach the explode.
    A NULL ``arr`` gives NULL."""

    def row(x, i):
        tail = F.slice(arr, i + 2, F.size(arr))
        if keep is None:
            return F.transform(tail, lambda y: pair(x, y))
        return F.filter(
            F.transform(tail, lambda y: F.when(keep(x, y), pair(x, y))),
            lambda s: s.isNotNull(),
        )

    return F.flatten(F.transform(arr, row))


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    max_keys: int = 100,
) -> DataFrame:
    """Duplicate groups by normalized-text fingerprint:
    (fp, dup_count, keep_key, dup_keys, n_truncated). ``keep_key`` =
    min key — the canonical survivor; ``dup_keys`` the first (sorted)
    ``max_keys`` losers; ``n_truncated`` how many more exist.

    The key sample is CAPPED: an unbounded ``collect_list`` per
    fingerprint is an executor OOM at 100 TB — one boilerplate page
    duplicated 10^8× would build a multi-hundred-MB aggregation buffer.
    Collection is two-phase: stage 1 groups by (spark_partition_id,
    fp), so every aggregation buffer holds at most ONE TASK's keys for
    one fingerprint (never the global group — that is the OOM) and
    slices to the ``max_keys + 1`` smallest; stage 2 merges the capped
    locals and takes the smallest ``max_keys + 1`` overall — enough to
    contain ``keep_key`` plus a full ``max_keys`` sample. Exact counts
    stay exact (summed longs); only the key LIST is sampled, with the
    truncation made explicit."""
    with_fp = df.select(
        F.col(key_col).cast("string").alias("k"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    cap = max_keys + 1
    local = with_fp.groupBy(F.spark_partition_id().alias("_p"), "fp").agg(
        F.count(F.lit(1)).alias("c"),
        F.slice(F.array_sort(F.collect_list("k")), 1, cap).alias("ks"),
    )
    groups = local.groupBy("fp").agg(
        F.sum("c").alias("dup_count"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("ks"))), 1, cap
        ).alias("all_keys"),
    )
    # NULL-safe access throughout: collect_list drops NULL keys, so a
    # duplicate group whose keys are ALL NULL leaves all_keys empty —
    # element_at(1)/array_remove(NULL) would abort the whole job under
    # ANSI for one such group in 10^12 rows. keep_key degrades to NULL,
    # the sample to [], and n_truncated still accounts for every loser.
    keep = F.get(F.col("all_keys"), 0)
    dup_keys = F.slice(
        F.when(keep.isNull(), F.col("all_keys")).otherwise(
            F.array_remove(F.col("all_keys"), keep)
        ),
        1,
        max_keys,
    )
    return (
        groups.filter(F.col("dup_count") > 1)
        .select(
            "fp",
            "dup_count",
            keep.alias("keep_key"),
            dup_keys.alias("dup_keys"),
        )
        .withColumn(
            "n_truncated",
            F.greatest(
                F.col("dup_count") - 1 - F.size("dup_keys"), F.lit(0)
            ).cast("long"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min key) per fingerprint. Single shuffle on fp;
    min_by avoids a window function."""
    fp = fingerprint(F.col(text_col))
    tagged = df.withColumn("_fp", fp)
    keep = tagged.groupBy("_fp").agg(F.min(F.col(key_col)).alias("_keep"))
    return (
        tagged.join(keep, on="_fp", how="inner")
        .filter(F.col(key_col) == F.col("_keep"))
        .drop("_fp", "_keep")
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH
# ---------------------------------------------------------------------------

# deterministic 64-bit hash constants (odd multipliers → bijective mod 2^64)
_MH_BASE = 1099511628211  # FNV-64 prime
_MH_A = [0x9E3779B97F4A7C15 | 1, 0xBF58476D1CE4E5B9 | 1, 0x94D049BB133111EB | 1,
         0xD6E8FEB86659FD93 | 1, 0xA5A5A5A5A5A5A5A5 | 1, 0xC2B2AE3D27D4EB4F | 1,
         0x165667B19E3779F9 | 1, 0x27D4EB2F165667C5 | 1, 0x85EBCA77C2B2AE63 | 1,
         0xFF51AFD7ED558CCD | 1, 0xC4CEB9FE1A85EC53 | 1, 0x2545F4914F6CDD1D | 1]
_MH_C = list(range(1, 13))


def _mh_family(n_hashes: int) -> tuple[list[int], list[int]]:
    """(A, C) affine-family constants of EXACTLY n_hashes entries.
    The first 12 are the frozen _MH_A/_MH_C table (signatures already
    shipped in stored LSH indexes must stay bit-identical); beyond 12
    the multipliers extend deterministically by splitmix64 steps of the
    golden-ratio constant, forced odd (bijective mod 2^64). Silently
    slicing _MH_A[:n] past its length was a truncation bug: a 24-hash
    request produced 12-long signatures and banding then indexed past
    the array (caught by q81's 24x12 configuration)."""
    a = list(_MH_A[: min(n_hashes, len(_MH_A))])
    c = list(_MH_C[: min(n_hashes, len(_MH_C))])
    x = _MH_A[-1]
    while len(a) < n_hashes:
        # splitmix64 finalizer step — deterministic, well-mixed
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z = z ^ (z >> 31)
        a.append(z | 1)
        c.append(len(c) + 1)
    return a, c


def _shingle_hasher(k: int):
    """The one k-shingle hash: a function from normalized text to its
    sorted distinct shingle hashes (uint64 ndarray). Each shingle is a
    polynomial rolling hash (base ``_MH_BASE``, mod 2⁶⁴) over k UTF-8
    bytes; text shorter than k bytes hashes as one shingle. Shared by
    the (k, sh) and the (k, sh, sig) UDFs, so a SETS index and a signed
    frame hash identically. Call it inside ``np.errstate(over="ignore")``.
    """
    import numpy as np

    POW = np.power(
        np.uint64(_MH_BASE), np.arange(k, dtype=np.uint64), dtype=np.uint64
    )

    def hashes(s: str):
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        if len(b) < k:
            h = np.array(
                [(b.astype(np.uint64) * POW[: len(b)]).sum(dtype=np.uint64)],
                dtype=np.uint64,
            )
        else:
            w = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
            h = (w * POW).sum(axis=1, dtype=np.uint64)
        return np.unique(h)

    return hashes


def shingle_hash_set_udf(k: int = 5):
    """Vectorized distinct k-shingle HASHES: normalized text →
    array<long> (sorted unique rolling-hash values). Jaccard on hashed
    shingles equals Jaccard on shingles up to 64-bit collisions
    (P ≈ |set|²/2⁶⁴ per doc — negligible), and the verify join then
    moves 8-byte longs instead of strings and intersects JVM-native."""
    import numpy as np

    hashes = _shingle_hasher(k)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _shh(t: pd.Series) -> pd.Series:
        with np.errstate(over="ignore"):
            return pd.Series(
                [hashes(s).astype(np.int64) if s else [] for s in t]
            )

    return _shh


def shingle_sig_udf(k: int = 5, n_hashes: int = 12):
    """Vectorized distinct k-shingle hashes AND their MinHash signature
    in ONE Arrow pass: normalized text → struct<sh: array<long>,
    sig: array<long>>. ``sig`` is the column minima of the n_hashes
    affine families (a_i·h + c_i mod 2⁶⁴, ``_mh_family``) over the same
    ``np.unique`` result that becomes ``sh``. A separate
    hashes → signature UDF would ship every shingle array back to
    Python for a second pass (the whole staged frame, ~8× the text
    bytes). Signatures are bit-identical to that two-pass form: ``sh``
    holds the uint64 bit pattern as int64, and min is order-independent.
    Empty text gives ``sh = []`` and ``sig = NULL``."""
    import numpy as np

    hashes = _shingle_hasher(k)
    a, c = _mh_family(n_hashes)
    A = np.array(a, dtype=np.uint64)
    C = np.array(c, dtype=np.uint64)

    @F.pandas_udf("sh array<bigint>, sig array<bigint>")
    def _shsig(t: pd.Series) -> pd.DataFrame:
        sh, sig = [], []
        with np.errstate(over="ignore"):
            for s in t:
                if not s:
                    sh.append([])
                    sig.append(None)
                    continue
                h = hashes(s)
                sh.append(h.astype(np.int64))
                sig.append((h[:, None] * A[None, :] + C).min(axis=0).astype(np.int64))
        return pd.DataFrame({
            "sh": pd.Series(sh, dtype=object), "sig": pd.Series(sig, dtype=object)
        })

    return _shsig


def _normalized_frame(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """(k, _t) keys and normalized text, empty texts dropped. The
    normalization runs in its own projection, once per row: shingling
    an inline ``normalize_text(...)`` with a per-element lambda
    re-evaluates it per shingle (measured ~10× on 400-shingle docs).
    Empty docs are dropped on the scalar column: a later
    ``filter(size(sh) > 0)`` would be pushed below the projection and
    re-run the normalization per element (measured 5 s → 35 s on 1k
    docs). So ``sh`` is never empty downstream."""
    return df.select(
        F.col(key_col).cast("string").alias("k"),
        normalize_text(F.col(text_col)).alias("_t"),
    ).filter(F.length("_t") > 0)


def hashed_shingle_frame(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", *, k: int = 5
) -> DataFrame:
    """(k, sh: array<long>) distinct shingle hashes — the verify-join
    input and the SETS side of a stored LSH index."""
    normed = _normalized_frame(df, text_col, key_col)
    return normed.select("k", shingle_hash_set_udf(k)(F.col("_t")).alias("sh"))


def signed_shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 12,
) -> DataFrame:
    """(k, sh: array<long>, sig: array<long>): ``hashed_shingle_frame``
    plus each doc's MinHash signature, from one Arrow pass
    (``shingle_sig_udf``). The struct is unpacked in a second
    projection; CollapseProject keeps the two apart because inlining
    would evaluate the (non-cheap) Python UDF once per field."""
    normed = _normalized_frame(df, text_col, key_col)
    return normed.select(
        "k", shingle_sig_udf(k, n_hashes)(F.col("_t")).alias("_s")
    ).select("k", "_s.sh", "_s.sig")


def band_signatures(sig: Column, n_bands: int = 6, rows_per_band: int = 2) -> Column:
    """array<long> of per-band bucket keys: xxhash64 over the band's
    signature slice."""
    return F.array(
        *[
            F.xxhash64(
                *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
            )
            for b in range(n_bands)
        ]
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 12,
    n_bands: int = 6,
    max_bucket: int = 1000,
    size_ratio_min: float,
) -> DataFrame:
    """Distinct candidate pairs (a, b) sharing ≥1 LSH band bucket,
    a < b — convenience wrapper that stages the signed shingle frame
    itself. ``minhash_dedup_pairs`` stages the frame ONCE and calls
    ``minhash_candidates_from_sets`` directly so the verify join shares
    the same scan."""
    signed = signed_shingle_frame(df, text_col, key_col, k=k, n_hashes=n_hashes)
    return minhash_candidates_from_sets(
        signed, n_hashes=n_hashes, n_bands=n_bands,
        max_bucket=max_bucket, size_ratio_min=size_ratio_min,
    ).distinct()


def minhash_candidates_from_sets(
    signed: DataFrame,
    *,
    n_hashes: int = 12,
    n_bands: int = 6,
    max_bucket: int = 1000,
    size_ratio_min: float,
) -> DataFrame:
    """Candidate pairs (a, b) sharing ≥1 LSH band bucket, a < b, from a
    staged ``(k, sh, sig)`` frame (``signed_shingle_frame``, ``sig`` of
    length ``n_hashes``).

    NOT de-duplicated: a pair sharing several bands appears once per
    shared band. The caller de-duplicates where its own partitioning
    makes that free (``minhash_dedup_pairs`` after its repartition on
    ``a``, one Exchange instead of two; ``minhash_candidates``).

    Pairs are generated WITHIN buckets via collect_list + array pair
    expansion — no self-join, no O(n²). ``max_bucket`` guards degenerate
    buckets (e.g. empty docs): oversized buckets are dropped here; the
    exact-dedup pass catches their members anyway.

    ``size_ratio_min``: pairs whose DISTINCT-shingle-count ratio is
    below it are dropped INSIDE the pair expansion, before the explode
    (``_size_ratio_pairs``). On similarity-dense corpora it cuts the
    exploded pair count ~25×.
    """
    # bounded hot-bucket collection — one row per (k, band), unique
    buckets = _two_phase_buckets(
        _band_rows(signed, n_hashes, n_bands),
        ["band", "bsig"],
        F.struct("k", "n"),
        max_bucket,
    )
    return _size_ratio_pairs(buckets, size_ratio_min)


def _band_rows(signed: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """``(k, n, band, bsig)`` — one row per (doc, band) of a signed
    shingle frame: ``n`` the distinct-shingle count, ``bsig`` the
    band's bucket key."""
    # explode the band array expression itself: exploding an aliased
    # column makes Spark infer a size(bands) > 0 filter and push it
    # below the projection, hashing every band key twice per doc
    return signed.select(
        "k",
        F.size("sh").cast("long").alias("n"),
        F.posexplode(
            band_signatures(F.col("sig"), n_bands, n_hashes // n_bands)
        ).alias("band", "bsig"),
    )


def _size_ratio_pairs(buckets: DataFrame, ratio_min: float) -> DataFrame:
    """``(a, b)`` for every pair in each bucket ``ms`` of ``(k, n)``
    members whose set-size ratio min(n)/max(n) is ≥ ``ratio_min`` —
    J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so for a verify threshold t
    (pass t·(1-ε)) this prefilter is exact-safe. It runs inside the
    pair expansion, before the explode."""

    def pair_ok(x, y):
        nx = x.getField("n").cast("double")
        ny = y.getField("n").cast("double")
        return F.least(nx, ny) / F.greatest(nx, ny) >= F.lit(ratio_min)

    pairs = upper_pairs(
        F.col("ms"),
        lambda x, y: F.struct(
            x.getField("k").alias("a"), y.getField("k").alias("b")
        ),
        keep=pair_ok,
    )
    return buckets.select(F.explode(pairs).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )


def _jaccard(x: str, y: str) -> Column:
    """Jaccard of two distinct-element arrays, rounded to 6; 0.0 when
    both are empty."""
    inter = F.size(F.array_intersect(x, y)).cast("double")
    union = F.size(F.array_union(x, y)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)


def _jaccard_verify(
    pairs: DataFrame, sets_: DataFrame, col: str, n_parts: int, threshold: float
) -> DataFrame:
    """``(a, b, jaccard)`` for the distinct candidate ``pairs`` whose
    exact Jaccard over ``sets_``' ``(k, col)`` arrays is ≥ threshold.

    The explicit repartition of the pair frame matters: candidate pairs
    are tiny in bytes, so AQE coalesces them into 1-2 partitions and
    the expensive per-pair array intersection runs nearly serial
    (measured 86s → parallel after repartition at 2.6M pairs). The
    distinct after it reuses its hash partitioning on a, so a pair
    found in several buckets costs one Exchange, not two."""
    pre = pairs.repartition(n_parts, "a").distinct()
    a = sets_.select(F.col("k").alias("a"), F.col(col).alias(f"{col}_a"))
    b = sets_.select(F.col("k").alias("b"), F.col(col).alias(f"{col}_b"))
    j = pre.join(a, "a").join(b, "b")
    return (
        j.select("a", "b", _jaccard(f"{col}_a", f"{col}_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 12,
    n_bands: int = 6,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact-Jaccard ≥ threshold.

    SINGLE-SCAN: the corpus is normalized, shingle-hashed and signed
    exactly once, in one Arrow pass, into a persisted ``(k, sh, sig)``
    frame (MEMORY_AND_DISK — spills, never OOMs) that feeds BOTH the
    banding branch and the exact-Jaccard verify join. Without the
    persist each branch would re-run the scan + regex normalization +
    Arrow UDF over the full corpus — at 100 TB that second pass
    dominated the pipeline. Blocks are freed on unpersist/driver GC of
    the returned plan's relation.

    Candidates are de-duplicated AFTER the explicit ``repartition(n,
    "a")``: the distinct aggregate reuses that hash partitioning, so a
    pair found in several bands costs one Exchange, not two.

    Size trade, stated honestly: |sh| ≈ one 8-byte hash per character,
    so the staged frame is ~8× the raw text bytes — the standard
    stage-the-shingles trade every production MinHash pipeline makes
    (recomputing instead costs a second full scan + normalize + hash
    of the corpus). At extreme scale write the frame to a temp table
    instead of executor-local spill; the plan shape is identical.

    Verify scale guards (dense corpora produce millions of candidates):
    the size-ratio prefilter J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) runs
    inside the bucket pair expansion (1e-6 margin covers the round-to-6
    boundary), and the verify intersects distinct shingle HASHES
    (array<long>) — the same Jaccard up to negligible 64-bit
    collisions, far cheaper to move and compare than strings.
    """
    from pyspark.storagelevel import StorageLevel

    staged = signed_shingle_frame(
        df, text_col, key_col, k=k, n_hashes=n_hashes
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_candidates_from_sets(
        staged, n_hashes=n_hashes, n_bands=n_bands,
        max_bucket=max_bucket, size_ratio_min=threshold - 1e-6,
    )
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism * 2, 16)
    return _jaccard_verify(cands, staged, "sh", n_parts, threshold)


# ---------------------------------------------------------------------------
# 2b. token-n-gram Jaccard similarity join (exact, prefix-filtered)
# ---------------------------------------------------------------------------

def word_ngram_frame(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", *, n: int = 3
) -> DataFrame:
    """(k, grams: array<string>) — DISTINCT word n-grams of the
    normalized text; docs shorter than n tokens contribute their whole
    token sequence as the single gram (short exact dups still match).
    Normalization staged in its own projection (``_normalized_frame``)."""
    normed = _normalized_frame(df, text_col, key_col)
    toks = normed.select("k", F.split("_t", " ").alias("_w"))
    w = F.col("_w")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    )
    return toks.select("k", grams.alias("grams"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Token-n-gram Jaccard join: every pair (a < b) with
    J(grams_a, grams_b) ≥ threshold — no signatures, exact scores, and
    still no O(n²): candidates come from PREFIX FILTERING (the
    AllPairs/PPJoin family). Each doc's gram set is put in one GLOBAL
    total order and only the first ``|G| - ceil(t·|G|) + 1`` grams are
    indexed. The prefix lemma (order-agnostic): if J(A,B) ≥ t then
    |A∩B| ≥ t·max(|A|,|B|), and the globally-smallest common gram g*
    must sit inside BOTH prefixes — were g* past A's prefix, all |A∩B|
    common grams would occupy A's last ceil(t·|A|) - 1 slots, a
    contradiction. So bucket-joining prefix grams finds every
    qualifying pair.

    The global order is (document frequency ASC, hash) — the canonical
    AllPairs ordering: prefixes then hold each doc's RAREST grams, so
    boilerplate trigrams shared by thousands of docs land at the end of
    every gram list and never form buckets. Costs one extra
    gram-frequency aggregation + join over the exploded gram frame
    (both partial-agg/shuffle-bounded); hashes are xxhash64 —
    engine-internal, never crossing to the oracle, which verifies
    output pairs by exhaustive exact Jaccard instead.

    RECALL CONTRACT (honest): buckets larger than ``max_bucket`` are
    dropped, so a qualifying pair is missed only when one of its
    members' RAREST prefix grams is shared by > max_bucket other docs'
    prefixes. Under rarest-first ordering that requires a cohort of
    max_bucket+ documents agreeing on a globally-rare gram — i.e. a
    mass near-duplicate cluster, whose members exact/minhash dedup
    already surfaces; scattered boilerplate no longer costs recall
    (pre-ordering, ANY popular trigram in a short doc's prefix did).
    Raise ``max_bucket`` for a strict-recall run.

    The verify stage reuses minhash_dedup_pairs' scale guards: in-bucket pair
    expansion (no self-join) capped at ``max_bucket``, size-ratio
    prefilter applied pre-explode (J ≤ min/max set sizes), explicit
    repartition before the per-pair array intersection (AQE would
    coalesce the tiny pair frame and serialize the expensive step), and
    hashed-gram intersection (array<long>, not strings).
    """
    sets_ = word_ngram_frame(df, text_col, key_col, n=n)
    return gram_set_jaccard_pairs(
        sets_, threshold=threshold, max_bucket=max_bucket
    )


def gram_set_jaccard_pairs(
    sets_: DataFrame,
    *,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """The prefix-filtered AllPairs Jaccard join over an ALREADY-BUILT
    gram frame ``(k: string, grams: array<string>)`` — the engine of
    `ngram_jaccard_pairs` (see its docstring for the prefix lemma,
    rarest-first ordering, recall contract and scale guards), exposed
    so non-text modalities reuse it: `multimodal.
    audio_fingerprint_neardup` feeds frame-signature shingles through
    the identical machinery (any (key, token-set) dedup does)."""
    from pyspark.storagelevel import StorageLevel

    # the hashed gram frame feeds THREE branches (gram explode + both
    # verify join sides); without the persist each branch re-runs the
    # regex tokenize + hash scan — the minhash/containment
    # persisted-frame-sharing pattern (CLAUDE.md r4), MEMORY_AND_DISK
    # so a corpus-scale frame spills instead of evicting
    hashed = _hashed_grams(sets_).persist(StorageLevel.MEMORY_AND_DISK)
    # rarest-first global order: explode grams, count document
    # frequency per gram (partial agg), join it back, and keep each
    # doc's plen smallest (df, g) pairs as the prefix. Partition counts
    # are EXPLICIT throughout: the gram frame is byte-small but its
    # downstream work (join probe, per-doc collect+sort) is expensive
    # per row, so AQE's size-based coalescing would serialize it onto
    # 1-2 tasks (the q16 candidate-pair lesson, BENCH.md §5) — an
    # explicit repartition(n, "g") also makes the freq aggregate AND
    # the join reuse one exchange (co-partitioned, zero extra shuffle).
    spark = sets_.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 16)
    grams_doc = hashed.select(
        "k", F.size("gh").alias("n"), F.explode("gh").alias("g")
    ).repartition(n_parts, "g")
    freq = grams_doc.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = grams_doc.join(freq, "g")
    plen = (
        F.col("n")
        - F.ceil(F.col("n") * F.lit(float(threshold))).cast("int")
        + F.lit(1)
    )
    prefixed = (
        ranked.repartition(n_parts, "k", "n")
        .groupBy("k", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("sg"))
        .select("k", "n", F.explode(F.slice(F.col("sg"), F.lit(1), plen)).alias("pg"))
        .select("k", "n", F.col("pg.g").alias("g"))
    )
    # bounded hot-bucket collection — a stop-word-grade gram that
    # survives prefix selection must not buffer single-stage
    buckets = _two_phase_buckets(
        prefixed, ["g"], F.struct("k", "n"), max_bucket
    )
    pairs = _size_ratio_pairs(buckets, threshold - 1e-6)
    return _jaccard_verify(pairs, hashed, "gh", n_parts, threshold)


def _hashed_grams(sets_: DataFrame) -> DataFrame:
    """``(k, gh)`` — each doc's distinct gram hashes (xxhash64, sorted)
    from a ``(k, grams)`` frame. Callers persist it themselves: their
    storage levels differ, and so would their plans."""
    return sets_.select(
        "k",
        F.array_sort(
            F.array_distinct(F.transform("grams", lambda g: F.xxhash64(g)))
        ).alias("gh"),
    )


# ---------------------------------------------------------------------------
# 2c. duplicate clusters (connected components over the pair graph)
# ---------------------------------------------------------------------------

def _free_local_blocks(df: DataFrame) -> None:
    """Best-effort explicit release of a localCheckpoint-ed round's
    storage blocks (the LogicalRDD's persisted RDD). Without this,
    blocks linger until the driver GCs the old DataFrame — fine for
    small label frames, wasteful over many rounds at scale. Internal
    API (py4j into LogicalRDD.rdd), so failures are swallowed: cleanup
    then simply falls back to the ContextCleaner."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _adjacency(pairs: DataFrame) -> DataFrame:
    """(u, v) symmetric adjacency of the pair graph, self-loops and
    repeats dropped. Partitioned by u, then de-duplicated: the distinct
    reuses that partitioning, and so does ``_initial_labels`` once the
    frame is cached."""
    edges = pairs.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    return (
        edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("u")
        .distinct()
    )


def _initial_labels(adj: DataFrame) -> DataFrame:
    """(node, label) after propagation round 1, folded into
    initialization: from the identity init (label = node) the first
    round computes exactly min(u, min_{v∈N(u)} v), and the grouping
    that builds the node set can carry that aggregate directly — one
    join over the edge list fewer per call (r6). Same fixed point,
    identical final labels; the loop just starts one round further
    in."""
    return (
        adj.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .select(F.col("u").alias("node"), "label")
    )


def dedup_clusters(
    pairs: DataFrame, *, max_iter: int = 25, reliable: bool = False
) -> DataFrame:
    """(member, cluster) assignment from near-dup pairs — connected
    components via iterative min-label propagation: each round joins the
    edge list with the current labels and takes the per-node min
    (one shuffle join + one hash-aggregate per round), converging in
    O(component diameter) rounds. Near-dup clusters have tiny diameter
    (every member pairs with the canonical doc through 1-2 hops), so
    2-4 rounds in practice. Each round's labels are localCheckpoint-ed:
    the logical plan is TRUNCATED to the materialized result, so the
    analyzer/optimizer never sees a join-per-round nest and a
    slow-converging graph cannot walk into plan-size blowup (cache()
    alone would NOT do this — it truncates execution, not the plan).
    Cluster id = min member key.

    Fixed point is detected with a changed-label count — deterministic,
    independent of partitioning — that the round's checkpoint job
    itself computes: ``DataFrame.observe`` on the checkpointed
    aggregate, read back from an ``Observation``. No round runs a
    separate job just to test convergence. For adversarially long
    chains switch to large-star/small-star; for dedup workloads label
    propagation is the cheaper loop.

    The symmetric adjacency is built as one ``repartition("u")``
    followed by ``distinct()`` and cached: the distinct and the label
    initialization's ``groupBy("u")`` both reuse that hash
    partitioning, so neither adds an Exchange.

    ``reliable=True`` uses ``checkpoint()`` (requires
    ``sc.setCheckpointDir``) instead of ``localCheckpoint()``: blocks
    live in the checkpoint dir, so losing an executor mid-loop does NOT
    kill the job — the right setting for real cluster runs (local
    checkpoints truncate lineage, so they are unrecoverable by design).
    Either way the superseded round's storage is released explicitly
    each iteration, not left to driver GC.

    ``max_iter`` bounds the rounds AFTER initialization, which already
    runs propagation round 1: at most ``max_iter + 1`` rounds run.
    ``max_iter=0`` returns the round-1 labels, each node's minimum
    over itself and its direct neighbours — the final clusters only
    where every member pairs directly with its component's minimum
    key. A negative ``max_iter`` is a ``ValueError``.
    """
    from pyspark.sql import Observation

    if max_iter < 0:
        raise ValueError(f"max_iter must be >= 0, got {max_iter}")
    if reliable:
        ckpt = lambda d: d.checkpoint()  # noqa: E731
        free = lambda d: None  # noqa: E731 — files cleaned by
        # spark.cleaner.referenceTracking.cleanCheckpoints / dir TTL
    else:
        ckpt = lambda d: d.localCheckpoint()  # noqa: E731
        free = _free_local_blocks
    adj = _adjacency(pairs).cache()
    labels = ckpt(_initial_labels(adj))
    # the frame whose checkpoint BLOCKS back the current `labels`
    # (labels itself becomes a projection over it from round 1 on —
    # free() must target the LogicalRDD holder, not the projection)
    labels_store = labels

    for _ in range(max_iter):
        # neighbor labels → per-node min(own, neighbors'). The own row
        # is tagged so the round's aggregate carries BOTH the new min
        # label and the previous label — fixed-point detection is then
        # a plain scan of the checkpointed round (the former
        # join-new-against-old probe cost one extra shuffle join job
        # per round; r6, guide §2.4). Every node contributes exactly
        # one own row, so `_old` is never NULL and min(union) is
        # unchanged — identical labels, identical round count.
        msgs = adj.join(
            labels.select(F.col("node").alias("v"), F.col("label").alias("nlabel")),
            "v",
        ).select(
            F.col("u").alias("node"),
            F.col("nlabel").alias("label"),
            F.lit(False).alias("_own"),
        )
        # eager localCheckpoint: materializes THIS round and replaces
        # the lineage with the stored blocks — every round starts from
        # a flat LogicalRDD scan (tests/test_dataset.py asserts the
        # returned plan is join-free). The same job counts the changed
        # labels (observe): convergence costs no job of its own.
        changed = Observation()
        new_full = ckpt(
            labels.select("node", "label", F.lit(True).alias("_own"))
            .unionAll(msgs)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("_own"), F.col("label"))).alias("_old"),
            )
            .observe(changed, F.count_if(F.col("label") != F.col("_old")).alias("n"))
        )
        free(labels_store)  # superseded round's blocks — release now
        labels_store = new_full
        labels = new_full.select("node", "label")
        if changed.get["n"] == 0:
            break

    adj.unpersist()
    return labels.select(F.col("node").alias("member"), F.col("label").alias("cluster"))


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------

def simhash_column(text_col: str = "text") -> Column:
    """64-bit SimHash as a vectorized pandas UDF (Arrow batches; numpy
    bit-votes — no per-row Python function calls inside the batch loop
    beyond tokenization)."""

    @F.pandas_udf(T.LongType())
    def _simhash(s: pd.Series) -> pd.Series:
        import hashlib
        import numpy as np

        out = np.zeros(len(s), dtype=np.int64)
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for row_i, txt in enumerate(s.fillna("")):
            toks = txt.lower().split()
            if not toks:
                continue
            digests = b"".join(
                hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks
            )
            bits = np.unpackbits(
                np.frombuffer(digests, dtype=np.uint8)
            ).reshape(len(toks), 64)
            votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(toks)
            sig = int(((votes > 0).astype(np.uint64) * weights).sum(dtype=np.uint64))
            out[row_i] = sig - 2**64 if sig >= 2**63 else sig
        return pd.Series(out)

    return _simhash(F.col(text_col))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming(sig_a, sig_b) ≤ max_hamming.

    Bucket by each of the 4 disjoint 16-bit chunks: two signatures
    within Hamming distance 3 must agree exactly on ≥1 chunk
    (pigeonhole over 4 chunks), so per-chunk buckets have full recall.
    """
    sigs = df.select(
        F.col(key_col).cast("string").alias("k"), simhash_column(text_col).alias("sig")
    )
    chunks = sigs.select(
        "k",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sig"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("k", "sig", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    # bounded hot-bucket collection — a degenerate chunk value (e.g.
    # the all-zeros chunk of short docs) must not buffer single-stage
    buckets = _two_phase_buckets(
        chunks, ["chunk", "val"], F.struct("k", "sig"), max_bucket
    )
    pairs = buckets.select(
        F.explode(
            upper_pairs(
                F.col("ms"),
                lambda x, y: F.struct(
                    x.getField("k").alias("a"),
                    y.getField("k").alias("b"),
                    x.getField("sig").alias("sa"),
                    y.getField("sig").alias("sb"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.sa", "p.sb").distinct()
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        pairs.select("a", "b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# 4. embedding near-dup
# ---------------------------------------------------------------------------

def cosine_sim(a: Column, b: Column) -> Column:
    """Exact cosine between two array<float/double> columns:
    higher-order functions (zip_with + aggregate) — correct for
    any/ragged length, but HOFs are CodegenFallback: every fold step
    dispatches interpreted inside the codegen'd projection (~17k
    rows/s/32-cores measured on the PQ path, CLAUDE.md r5). Callers
    that can guarantee an exact width score with numpy kernels instead
    (``embedding_pair_cos``, the explicit-``dim`` verify of
    ``embedding_neardup_lsh``)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


# row bound of embedding_pair_cos's local collect: 10^5 rows are
# already 5·10^9 exhaustive pairs
PAIR_COS_MAX_ROWS = 100_000


def embedding_pair_cos(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    *,
    threshold: float,
    dim: int,
) -> DataFrame:
    """(a, b, cos) for every id pair a < b with cos ≥ threshold —
    the exhaustive O(n²) scorer as a BLOCKED numpy kernel.

    The former form (self-join on a < b + per-pair unrolled cosine)
    was a BroadcastNestedLoopJoin evaluating a 192-term codegen chain
    per pair: ~500k pairs/s on 32 cores, and the pair count grows
    n² — the one shape that cannot ride to a bigger fixture (guide
    §4.2: batch the math into native code). Here the (id, vector)
    frame is collected ONCE (an O(n²) scorer is only affordable when
    n is small enough that n rows are trivially memory-resident:
    n=10⁶ already means 5·10¹¹ pairs — the collect is bounded by the
    same budget that makes exhaustive scoring affordable at all; the
    scale path is ``embedding_neardup_lsh``), key-sorted, broadcast,
    and `spark.range` chunks fan row-block × corpus products across
    the cluster. Per block: a BLAS matmul prefilter with a rigorous
    floating-point error margin finds candidate pairs (provably no
    false negatives — see the stage-1 comment), then the candidates
    alone are re-scored with the SAME left-to-right IEEE addition
    chain the unrolled expression performed (0.0 + t0 + t1 + …,
    index-ascending), the norm gate `(na>0) AND (nb>0) ELSE 0.0`
    replicated, `a < b` enforced by searchsorted rank on the sorted
    keys — so the output pair set and every cos double are
    bit-identical to the join form and the DuckDB fold oracles stay
    untouched (measured: q233 truth 16M pairs 2×~15 s → one sub-second
    pass at sf0.1).

    Contract: ``dim`` is the caller's guarantee that every vector is
    exactly that length with finite, non-null elements (both report
    queries pre-filter exactly this); the kernel is undefined on
    unvalidated frames — use the fold path / LSH for those. An input
    of more than ``PAIR_COS_MAX_ROWS`` rows is a ``ValueError`` that
    points to ``embedding_neardup_lsh``; the collect stops one row
    past the bound."""
    import numpy as np

    spark = df.sparkSession
    kt = df.schema[key_col].dataType.simpleString()
    out_schema = f"a {kt}, b {kt}, cos double"
    # bounded collect: at most one row past the bound reaches Python.
    # The limit makes the Arrow collect shuffle its input into one
    # partition first, a stage that cost ~0.14 s on 1000 rows in 2
    # partitions (4-vCPU VM); a collect checked only afterwards would
    # land an oversized input in driver memory before raising.
    pdf = (
        df.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v"))
        .limit(PAIR_COS_MAX_ROWS + 1)
        .toPandas()
    )
    n = len(pdf)
    if n > PAIR_COS_MAX_ROWS:
        raise ValueError(
            f"embedding_pair_cos collects its input into local memory and "
            f"scores all n² pairs; the input has more than "
            f"{PAIR_COS_MAX_ROWS} rows. Use embedding_neardup_lsh for "
            f"inputs of this size."
        )
    if n < 2:
        return spark.createDataFrame([], out_schema)
    keys = pdf["k"].to_numpy()
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    M = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
    dim_i = int(dim)
    na2 = np.zeros(n)
    for d_ in range(dim_i):
        x = M[:, d_]
        na2 += x * x
    na = np.sqrt(na2)
    bc = spark.sparkContext.broadcast((keys, M, na))
    n_chunks = min(n, max(1, spark.sparkContext.defaultParallelism) * 4)
    bounds = [int(round(i * n / n_chunks)) for i in range(n_chunks + 1)]
    thr = float(threshold)

    def gen(batches):
        import pandas as pd

        keys_, M_, na_ = bc.value
        for pdfb in batches:
            for ci in pdfb["id"]:
                i0, i1 = bounds[ci], bounds[ci + 1]
                if i1 <= i0:
                    continue
                # columns with key <= the block's smallest key can
                # never satisfy b > a — skip them wholesale
                j0 = int(np.searchsorted(keys_, keys_[i0], side="right"))
                if j0 >= len(keys_):
                    continue
                A = M_[i0:i1]
                # Stage 1 — BLAS prefilter with a RIGOROUS margin.
                # For any summation order, |fl(dot) − dot| ≤
                # γ_d·Σ|aᵢbᵢ| ≤ γ_d·‖a‖‖b‖ (γ_64 ≈ 7.1e-15), and the
                # same bound covers the exact left-to-right chain, so
                # |blas − chain| ≤ 2γ_d·na·nb ≪ 1e-9·na·nb. Every pair
                # whose chain cos ≥ thr therefore has blas_dot ≥
                # (thr − 1e-9)·na·nb — candidates cannot miss a true
                # pair; false candidates are discarded by stage 2.
                G = A @ M_[j0:].T
                lim = np.outer(na_[i0:i1], na_[j0:])
                lim *= thr - 1e-9
                # strict a < b via key rank (numeric AND string keys;
                # equal keys excluded exactly as the a < b join did)
                hi = np.searchsorted(keys_, keys_[i0:i1], side="right")
                col_ok = (
                    np.arange(j0, len(keys_))[None, :] >= hi[:, None]
                )
                rows, cols = np.nonzero((G >= lim) & col_ok)
                if not len(rows):
                    continue
                # Stage 2 — exact ordered-chain recompute on the
                # candidate pairs only: the SAME left-to-right IEEE
                # chain the unrolled expression performed, so every
                # emitted cos double (and the ≥ thr verdict) is
                # bit-identical to the join form.
                CA = A[rows]
                CB = M_[j0 + cols]
                dot = np.zeros(len(rows))
                for d_ in range(dim_i):
                    dot += CA[:, d_] * CB[:, d_]
                na_p = na_[i0 + rows]
                nb_p = na_[j0 + cols]
                ok = (na_p > 0) & (nb_p > 0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(ok, dot / (na_p * nb_p), 0.0)
                sel = cos >= thr
                if not sel.any():
                    continue
                yield pd.DataFrame(
                    {
                        "a": keys_[i0 + rows[sel]],
                        "b": keys_[j0 + cols[sel]],
                        "cos": cos[sel],
                    }
                )

    drv = spark.range(0, n_chunks, 1, n_chunks)
    return drv.mapInPandas(gen, schema=out_schema)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Brute-force (a, b) id pairs with cosine ≥ threshold, a < b.
    O(n²) — correct at any scale but only AFFORDABLE inside a bucket
    or on a bounded sample; the scale path is
    ``embedding_neardup_lsh``. Pass ``dim`` when every vector is
    exactly that length with finite non-null elements (pre-validated
    frames): the scorer then runs as the blocked numpy kernel
    (``embedding_pair_cos`` — bit-identical cos doubles, ~30× on the
    n² fixture truth); without ``dim`` the ragged-safe HOF fold join
    form is kept."""
    if dim is not None:
        return embedding_pair_cos(
            df, vec_col, key_col, threshold=threshold, dim=dim
        ).select("a", "b")
    a = df.select(F.col(key_col).alias("a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(key_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    sim = cosine_sim(F.col("va"), F.col("vb"))
    return pairs.select("a", "b", sim.alias("cos")).filter(F.col("cos") >= threshold).select("a", "b")


def embedding_neardup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    max_bucket: int = 2000,
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Scale path: random-hyperplane sign buckets (deterministic planes
    derived from (seed, plane, dim) hashes), exact cosine only within a
    bucket. Recall < 1 by construction (sign-LSH); raise n_planes ↓
    bucket sizes, lower it ↑ recall.

    ``n_tables`` > 1 is the OR-banding lift the q233 recall report
    quantifies the need for below the near-dup regime: each table
    draws its own planes (sequential draws from the one seeded rng, so
    table 0 is bit-identical to the single-table operator), a pair is
    a candidate if it collides in ANY table, and per-pair collision
    probability rises from p_band = (1−θ/π)^n_planes to
    1−(1−p_band)^T. Cost is T× the bucket shuffle rows and T× the
    plane folds per row — the classic recall-vs-compute dial. Pair
    dedup across tables rides the existing final ``distinct``.

    Pass ``dim`` (the embedding width — always known to the pipeline
    that produced the vectors) to keep this a fully lazy operator; when
    omitted, a one-row limit-scan infers it — a deliberate, documented
    small driver action, not a hidden full scan. An EXPLICIT dim is
    also the caller's every-vector-is-exactly-dim guarantee, which
    lets the in-bucket verify run as a numpy kernel (one blocked
    dot-product batch per bucket, bit-identical cos); an inferred dim
    keeps the ``cosine_sim`` fold so ragged vectors keep their
    partial-sum cosine semantics."""
    explicit_dim = dim is not None
    if dim is None:
        # NULL-safe: the first ROW may carry a NULL/empty vector
        row = (
            df.select(F.size(F.col(vec_col)).alias("_d"))
            .filter(F.col("_d") > 0)
            .first()
        )
        if row is None:
            raise ValueError(f"cannot infer dim: no non-empty {vec_col!r}")
        dim = row["_d"]
    if n_tables < 1:
        raise ValueError("embedding_neardup_lsh: n_tables must be >= 1")
    import numpy as np

    rng = np.random.default_rng(seed)

    v = F.col(vec_col)

    def table_bucket(planes):
        bits = []
        for p in range(n_planes):
            plane = F.array(*[F.lit(float(planes[p, d])) for d in range(dim)])
            dot = F.aggregate(
                F.zip_with(v, plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(
                F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**p)
            )
        return sum(bits[1:], bits[0])

    buckets = [
        table_bucket(rng.standard_normal((n_planes, dim)))
        for _ in range(n_tables)
    ]

    # bounded hot-bucket collection — heavier than the minhash case
    # (each member carries a FULL vector: one hot sign-bucket, e.g. an
    # all-zeros vector class, is dim×8 bytes × members on one task
    # single-stage); the unique leading k means vectors are never
    # compared by the sort
    if n_tables == 1:
        tagged = df.select(
            F.col(key_col).alias("k"), v.alias("vec"), buckets[0].alias("bucket")
        )
        grouped = _two_phase_buckets(
            tagged, ["bucket"], F.struct("k", "vec"), max_bucket
        )
    else:
        # one map-side explode tags each row with its T (table, bucket)
        # pairs; buckets are then independent per table in the same
        # two-phase shuffle (group key (t, bucket))
        tagged = df.select(
            F.col(key_col).alias("k"),
            v.alias("vec"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"), buckets[t].alias("bucket")
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("_tb"),
        ).select("k", "vec", F.col("_tb.t").alias("t"), F.col("_tb.bucket").alias("bucket"))
        grouped = _two_phase_buckets(
            tagged, ["t", "bucket"], F.struct("k", "vec"), max_bucket
        )
    if explicit_dim:
        # in-bucket verify, numpy form: an EXPLICIT dim is the
        # caller's exactly-dim / finite-elements guarantee, so the
        # whole bucket verifies as ONE blocked dot-product batch per
        # bucket row instead of a per-pair expression chain (the
        # embedding_pair_cos rationale; bucket rows are ≤ max_bucket
        # members ≈ 1 MB, so a batch is always memory-bounded). The
        # accumulators run the identical left-to-right IEEE chains,
        # the (na>0 AND nb>0) ELSE 0.0 gate is replicated, and ms is
        # key-sorted (array_sort on the unique leading k), so the
        # upper triangle IS the (least, greatest) pair orientation —
        # pairs and cos thresholds bit-match the expression form.
        kt = df.schema[key_col].dataType.simpleString()
        thr = float(threshold)
        dim_i = int(dim)

        def verify(batches):
            import numpy as np
            import pandas as pd

            for pdfb in batches:
                out_a: list = []
                out_b: list = []
                for ms in pdfb["ms"]:
                    s = len(ms)
                    if s < 2:
                        continue
                    E = np.stack(
                        [
                            np.asarray(m["vec"], dtype=np.float64)
                            for m in ms
                        ]
                    )
                    ks = [m["k"] for m in ms]
                    na2 = np.zeros(s)
                    for d_ in range(dim_i):
                        x = E[:, d_]
                        na2 += x * x
                    na = np.sqrt(na2)
                    dot = np.zeros((s, s))
                    for d_ in range(dim_i):
                        dot += E[:, d_ : d_ + 1] * E[:, d_]
                    ok = (na[:, None] > 0) & (na[None, :] > 0)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = np.where(
                            ok, dot / (na[:, None] * na[None, :]), 0.0
                        )
                    iu, ju = np.triu_indices(s, 1)
                    sel = cos[iu, ju] >= thr
                    out_a.extend(ks[i] for i in iu[sel])
                    out_b.extend(ks[j] for j in ju[sel])
                if out_a:
                    yield pd.DataFrame({"a": out_a, "b": out_b})

        return (
            grouped.select("ms")
            .mapInPandas(verify, schema=f"a {kt}, b {kt}")
            .distinct()
        )
    pairs = grouped.select(
        F.explode(
            upper_pairs(
                F.col("ms"),
                lambda x, y: F.struct(
                    F.least(x.getField("k"), y.getField("k")).alias("a"),
                    F.greatest(x.getField("k"), y.getField("k")).alias("b"),
                    x.getField("vec").alias("va"),
                    y.getField("vec").alias("vb"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.va", "p.vb")
    # in-bucket verify: inferred dim keeps the ragged-safe fold
    sim = cosine_sim(F.col("va"), F.col("vb"))
    return (
        pairs.select("a", "b", sim.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# 2d. retention — apply a cluster assignment back to the corpus
# ---------------------------------------------------------------------------

def dedup_retain(corpus: DataFrame, clusters: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """The step a dedup pipeline actually ends with: given the
    (member, cluster) assignment from :func:`dedup_clusters`, keep each
    cluster's CANONICAL doc (cluster id = min member key, so the
    canonical is the row where member == cluster) plus every
    unclustered doc, dropping the rest. One anti-join against the drop
    set (non-canonical members): corpus-side map-only, drop-set side
    broadcast when small — AQE picks the strategy; no corpus shuffle
    either way. Corpus keys are cast to string to match cluster member
    keys (cluster keys are always strings)."""
    drop = clusters.filter(F.col("member") != F.col("cluster")).select("member")
    return corpus.join(
        drop, corpus[key_col].cast("string") == drop["member"], "left_anti"
    )


# ---------------------------------------------------------------------------
# 6. line-level boilerplate dedup (C4 / RefinedWeb-style corpus cleanup)
# ---------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
    min_chars: int = 10,
) -> DataFrame:
    """Remove boilerplate LINES that recur across many documents
    (nav bars, cookie banners, copyright footers) — the standard
    web-corpus cleanup step between exact-dedup and near-dedup
    (C4 drops repeated spans; RefinedWeb/CCNet drop high-doc-frequency
    lines). Reference scope note: gookit/validate has no corpus
    operators at all — this extends the engine's dataset tier the same
    way exact_duplicates (dedup.py:52) does.

    Semantics (oracle-exact, engine-portable):
      * lines = text split on ``\\n``; a line is a REMOVAL CANDIDATE
        when ``len(trim(line)) >= min_chars`` (short/empty lines are
        never counted or removed — they would trivially cross any
        document-frequency threshold).
      * a candidate line is boilerplate when it occurs in
        ``>= min_docs`` DISTINCT documents (keyed by ``md5(trim(line))``
        — md5 so a DuckDB oracle reproduces the key byte-identically).
      * boilerplate lines are dropped from EVERY document (deterministic
        pure filter — no keep-first ordering dependence); surviving
        lines are rejoined with ``\\n`` in original position order.

    Output: (key, text_clean, n_lines, n_removed).

    Scale design (10^12 docs):
      * the line frame is built once per consuming branch with column
        pruning doing the narrowing — the FREQUENCY branch carries only
        (line_key, doc_key), never line text, so its shuffle is
        O(total lines) of fixed-width hashes, map-side-combined into
        O(distinct lines) by the partial aggregate.
      * the boilerplate set (doc_freq >= min_docs) is the aggregate's
        OUTPUT — typically orders of magnitude smaller than the corpus;
        the mark join is left-join on the md5 key with both sides
        explicitly repartitioned on that key (AQE will broadcast the
        boilerplate side when it is small enough; co-partitioned
        shuffle join otherwise — both correct, neither O(n²)).
      * reconstruction is one groupBy(doc key) whose per-group state is
        bounded by a single document's line count — the same bound
        every per-doc collect in this module relies on.
      * md5 keys are uniform → no skew; the one skewed *value* (a
        boilerplate line repeated 10^9×) lives on the LINES side of the
        join where it is already spread across that key's partitions.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    k, t = F.col(key_col), F.coalesce(F.col(text_col), F.lit(""))

    lines = (
        df.select(k.alias("k"), F.posexplode(F.split(t, "\n")).alias("pos", "line"))
        .withColumn("_t", F.trim(F.col("line")))
        .withColumn("cand", F.length("_t") >= min_chars)
        .withColumn("lk", F.md5(F.col("_t")))
    )

    boiler = (
        lines.where(F.col("cand"))
        .select("lk", "k")
        .repartition(n, "lk")
        .groupBy("lk")
        .agg(F.count_distinct("k").alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
        .select("lk", F.lit(True).alias("_boiler"))
    )

    marked = (
        lines.repartition(n, "lk")
        .join(boiler, "lk", "left")
        .withColumn("rm", F.col("cand") & F.coalesce(F.col("_boiler"), F.lit(False)))
    )

    kept_struct = F.when(~F.col("rm"), F.struct("pos", "line"))
    return (
        marked.groupBy(F.col("k").alias(key_col))
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("rm").cast("long")).alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# 7. incremental dedup against an existing fingerprint index
# ---------------------------------------------------------------------------

def incremental_exact_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    fp_col: str = "fp",
    broadcast_index: bool = False,
) -> DataFrame:
    """Classify a NEW batch of documents against the fingerprint index
    of the corpus already ingested → ``(k, fp, status)`` with status

    - ``dup_index`` — the batch doc's fingerprint already exists in the
      index (every batch copy is a duplicate of prior data);
    - ``dup_batch`` — new fingerprint, but an earlier (smaller-key)
      batch doc has it (only the min-key copy survives);
    - ``novel``    — first sighting anywhere: the min-key copy of a
      fingerprint the index has never seen.

    ``filter(status == 'novel')`` is exactly the rows to append to the
    corpus AND to the index — the incremental form of
    ``drop_exact_duplicates`` that a daily-crawl pipeline runs instead
    of re-deduplicating 10^12 accumulated rows per day.

    Scale shape: the index holds one md5 fingerprint per corpus doc —
    at 10^12 docs it is far too large to broadcast, so BOTH probes are
    fp-keyed shuffles: the within-batch canonical (groupBy fp → min
    key), the canonical rejoin, and the left probe against the index
    all hash-partition on the SAME key, so Catalyst reuses one exchange
    per side and the batch never shuffles on anything but fp (md5 keys
    are uniform → no skew; the index side ships fingerprints only,
    ~32 B/row). ``broadcast_index=True`` opts a small index (early
    corpus life) into a map-side probe. Fingerprint = md5(normalized
    text) — identical to ``exact_duplicates``, portable by the repo's
    hash rule, so an external engine (or the DuckDB oracle) can
    maintain the same index.

    Reference: gookit/validate has no dataset memory at all — this is
    the dataset-level lift of its unique-style checks (see
    operators/uniq.py) applied across pipeline RUNS rather than within
    one table.
    """
    b = batch.select(
        F.col(key_col).cast("string").alias("k"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    idx = index.select(F.col(fp_col).alias("fp")).distinct().withColumn(
        "_seen", F.lit(True)
    )
    if broadcast_index:
        idx = F.broadcast(idx)
    canon = b.groupBy("fp").agg(F.min("k").alias("_canon"))
    status = (
        F.when(F.col("_seen").isNotNull(), F.lit("dup_index"))
        .when(F.col("k") != F.col("_canon"), F.lit("dup_batch"))
        .otherwise(F.lit("novel"))
    )
    return (
        b.join(canon, "fp")
        .join(idx, "fp", "left")
        .select("k", "fp", status.alias("status"))
    )


# ---------------------------------------------------------------------------
# 8. cross-document duplicated spans (exact-substring dedup signal)
# ---------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc report of EXACT w-token spans shared with other
    documents → ``(k, n_tok, n_windows, n_dup_windows, covered_tokens,
    dup_frac)`` — the "exact substring duplication" signal (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better")
    at token-window granularity: a rolling window of ``w`` normalized
    tokens, hashed; a window is duplicated when it occurs in >=
    ``min_docs`` DISTINCT documents; ``covered_tokens`` is the exact
    size of the UNION of duplicated windows' token positions (overlaps
    never double-count) and ``dup_frac`` = covered / n_tok. Docs with
    fewer than ``w`` tokens have no windows and report zeros — they are
    exact-dedup's (not this operator's) job.

    Scale shape (corpus = 10^12 docs):

    - window building is a map-side projection (split + transform +
      md5 over slices); the marked frame is **persisted**
      (MEMORY_AND_DISK) because two rollups consume it — without the
      persist each branch would re-tokenize and re-hash the full
      corpus (the round-4 persisted-frame-sharing rule);
    - doc frequency is a distinct (wh, k) + count — both shuffles key
      on the uniform md5 window hash, explicitly ``repartition(wh)``
      co-partitioned with the mark join so frequency agg + join share
      one exchange (the line_dedup pattern); the one skewed VALUE (a
      boilerplate window in 10^8 docs) is a single counter row, never
      a collected list;
    - coverage explodes ONLY duplicated windows ×w positions, then
      distinct + count per doc — the expansion is bounded by w × dup
      windows, and per-doc state is counters only.

    Fingerprints are md5 (portable) so a DuckDB oracle replays every
    value; engine-internal hashing stays xxhash64 per the repo rule —
    window hashes cross the oracle boundary, so md5 is required here.
    """
    from pyspark.storagelevel import StorageLevel

    if w < 1:
        raise ValueError("w must be >= 1")
    n = df.sparkSession.sparkContext.defaultParallelism
    toks = df.select(
        F.col(key_col).cast("string").alias("k"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_w"),
    ).filter(F.length(F.concat_ws("", "_w")) > 0)
    tw = F.col("_w")
    base = toks.select(
        "k",
        F.size(tw).alias("n_tok"),
        F.greatest(F.size(tw) - (w - 1), F.lit(0)).alias("n_windows"),
        tw.alias("_w"),
    )
    # windows exploded: (k, pos 1-based, wh); guard n_tok < w BEFORE
    # sequence (descending-range gotcha)
    wins = (
        base.filter(F.col("n_windows") > 0)
        .select(
            "k",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_windows")),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_w"), i, w))),
                )
            ).alias("_p0", "wh"),
        )
        .select("k", (F.col("_p0") + 1).alias("pos"), "wh")
        .repartition(n, "wh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = (
        wins.select("wh", "k").distinct()
        .groupBy("wh")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("wh", F.lit(True).alias("_dup"))
    )
    marked = wins.join(freq, "wh", "left").withColumn(
        "dup", F.coalesce(F.col("_dup"), F.lit(False))
    )
    counts = marked.groupBy("k").agg(
        F.sum(F.col("dup").cast("long")).alias("n_dup_windows")
    )
    covered = (
        marked.filter("dup")
        .select("k", F.explode(F.sequence(F.col("pos"), F.col("pos") + (w - 1))).alias("cp"))
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    out = (
        base.select("k", "n_tok", "n_windows")
        .join(counts, "k", "left")
        .join(covered, "k", "left")
        .select(
            "k",
            "n_tok",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tok"), 6
            ).alias("dup_frac"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# 9. incremental MinHash near-dup probe against a stored LSH index
# ---------------------------------------------------------------------------

def minhash_index_bands(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 12,
    n_bands: int = 6,
) -> DataFrame:
    """Build the BAND side of a persistent LSH index:
    ``(k, n, band, bsig, bucket_n)`` — one row per (doc, band), where
    ``bucket_n`` is the size of the doc's (band, bsig) bucket,
    precomputed at BUILD time so every future probe can drop degenerate
    hot buckets (empty-doc/boilerplate signatures) with a map-side
    filter instead of re-aggregating 10^12 index rows per batch.

    At scale this frame is a stored table bucketed by (band, bsig);
    the companion SETS index is ``hashed_shingle_frame`` (stored
    bucketed by k). Same seeded hash family as ``minhash_dedup_pairs``
    — signatures are deterministic, so an index built yesterday probes
    identically today (the incremental-dedup requirement).

    The bucket-size computation is ONE build-time shuffle: an
    unordered window count partitioned by (band, bsig) — a
    groupBy-then-join-back would make both consumers recompute the
    signature UDF over the whole corpus (two scans; caught by
    test_minhash_index_build_single_signature_pass).
    """
    from pyspark.sql import Window

    signed = signed_shingle_frame(df, text_col, key_col, k=k, n_hashes=n_hashes)
    return _band_rows(signed, n_hashes, n_bands).withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band", "bsig")).cast("long"),
    )


def incremental_minhash_neardup(
    batch: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 12,
    n_bands: int = 6,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Probe a NEW batch of documents against the stored LSH index of
    the already-ingested corpus → ``(k, index_key, jaccard)``: every
    (batch doc, index doc) pair sharing ≥1 band bucket whose EXACT
    hashed-shingle Jaccard is ≥ threshold. Batch docs with no output
    row are novel w.r.t. the index at this threshold — the incremental
    form of ``minhash_dedup_pairs``, so a daily crawl probes 10^12
    accumulated docs without ever re-signaturing them.

    Scale shape (index = 10^12 rows, batch = one crawl, batch ≪ index):

    - the batch is staged ONCE (persisted shingle hashes and signatures,
      one Arrow pass, feed both the banding pass and the verify join —
      the single-scan rule);
    - the index side never shuffles: batch band keys are **broadcast**
      into a map-side join over the stored band table, and hot buckets
      are dropped by the precomputed ``bucket_n`` (map-side filter, no
      re-aggregation). ``broadcast_batch=False`` falls back to a
      (band, bsig)-keyed shuffle join for abnormally large batches;
    - the SETS index is semi-join-reduced before verification: only the
      matched index keys' shingle arrays are fetched (broadcast IN
      probe — refcheck's reduction rule), so verify moves
      O(candidates) arrays, never the index;
    - candidate pairs are size-ratio prefiltered inside the band join
      (J ≤ min/max of set sizes — exact-safe) and de-duplicated across
      bands before any array moves.

    Reference: gookit/validate validates one record at a time and keeps
    no corpus state; this is the dataset-level near-dup analogue of its
    unique checks across pipeline runs (cf. incremental_exact_dedup).
    """
    from pyspark.storagelevel import StorageLevel

    bstaged = signed_shingle_frame(
        batch, text_col, key_col, k=k, n_hashes=n_hashes
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bexp = _band_rows(bstaged, n_hashes, n_bands).select(
        F.col("k").alias("bk"), F.col("n").alias("bn"), "band", "bsig"
    )
    if broadcast_batch:
        bexp = F.broadcast(bexp)
    ib = index_bands.filter(F.col("bucket_n") <= max_bucket).select(
        F.col("k").alias("ik"), F.col("n").alias("in_"), "band", "bsig"
    )
    ratio_ok = (
        F.least("bn", "in_").cast("double") / F.greatest("bn", "in_")
        >= F.lit(threshold - 1e-6)
    )
    cands = (
        ib.join(bexp, ["band", "bsig"])
        .filter(ratio_ok)
        .select("bk", "ik")
        .distinct()
    )
    matched = cands.select(F.col("ik").alias("k")).distinct()
    isets = index_sets.join(F.broadcast(matched), "k").select(
        F.col("k").alias("ik"), F.col("sh").alias("sh_i")
    )
    verify = (
        cands.join(isets, "ik")
        .join(
            bstaged.select(F.col("k").alias("bk"), F.col("sh").alias("sh_b")),
            "bk",
        )
    )
    return (
        verify.select(
            F.col("bk").alias("k"),
            F.col("ik").alias("index_key"),
            _jaccard("sh_b", "sh_i").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def source_overlap_matrix(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    k: int = 5,
    threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """Cross-source contamination matrix: for every unordered pair of
    strata (crawl sources, snapshots, datasets), how many near-dup
    document pairs at ``threshold`` straddle them and how similar they
    are — ``(src_a, src_b, n_pairs, mean_jaccard)`` with
    src_a <= src_b. The governance view a mix designer reads before
    trusting per-source token budgets: two "independent" sources
    sharing thousands of near-dups are one source wearing two hats.

    Plan shape: the pair generation is ``minhash_dedup_pairs``
    unchanged (bucketed LSH + exact verify — its 100 TB contract
    carries over); the pair frame (≪ corpus) is then joined TWICE
    against a projected ``(key, stratum)`` frame. Both joins hash on
    the pair's key columns — the (key, stratum) projection is 2
    narrow columns off the corpus, and at typical near-dup densities
    the PAIRS side is the small side; the final rollup groups
    |strata|² keys at most. mean_jaccard is a round-6 mean of already
    round-6 values with bounded per-cell cardinality — cross-engine
    safe per the working-notes round-4 rule; n_pairs (the selection
    signal) stays integer.
    """
    pairs = minhash_dedup_pairs(
        df, text_col, key_col, k=k, threshold=threshold, **minhash_kwargs
    )
    lab = df.select(
        F.col(key_col).cast("string").alias("_k"),
        F.col(strata_col).alias("_src"),
    )
    pa = pairs.join(lab.withColumnsRenamed({"_k": "a", "_src": "src_of_a"}), "a")
    pb = pa.join(lab.withColumnsRenamed({"_k": "b", "_src": "src_of_b"}), "b")
    return (
        pb.select(
            F.least("src_of_a", "src_of_b").alias("src_a"),
            F.greatest("src_of_a", "src_of_b").alias("src_b"),
            "jaccard",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("mean_jaccard"),
        )
    )


def exact_clusters(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """(member, cluster) over exact-duplicate groups: cluster id = min
    member key per normalized-text md5 fingerprint. The cheap (one
    fixed-width-key exchange) cluster frame for the soft-dedup /
    split consumers below; feed ``dedup_clusters`` output instead when
    near-dup grouping is wanted — same contract."""
    from pyspark.sql import Window

    staged = df.select(
        F.col(key_col).cast("string").alias("member"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    w = Window.partitionBy("fp")
    return staged.withColumn("cluster", F.min("member").over(w)).drop("fp")


def soft_dedup_weights(
    df: DataFrame,
    clusters: DataFrame,
    key_col: str = "doc_id",
) -> DataFrame:
    """Soft dedup: instead of DROPPING duplicates, keep every document
    with sampling weight 1/|cluster| — the duplication-aware
    reweighting that preserves corpus coverage while equalizing each
    unique content's total mass (the alternative to hard dedup when
    duplicates carry signal, e.g. popularity).

    ``clusters`` is any (member, cluster) frame — ``exact_clusters``
    for exact groups, ``dedup_clusters`` for near-dup components.
    Documents absent from it are singletons (cluster = own key,
    weight 1).

    Plan shape: left join corpus keys to the cluster frame on the key
    (fixed-width exchange), then ONE window count partitioned by
    cluster — a second single exchange; no groupBy-join-back double
    scan (the minhash_index_bands lesson). weight is round-6 of
    1/integer — cross-engine exact.
    """
    all_k = df.select(F.col(key_col).cast("string").alias("k"))
    lab = clusters.select(F.col("member").alias("k"), "cluster")
    full = all_k.join(lab, "k", "left").withColumn(
        "cluster", F.coalesce("cluster", F.col("k"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster")
    return full.withColumn(
        "cluster_n", F.count(F.lit(1)).over(w).cast("long")
    ).withColumn(
        "weight", F.round(F.lit(1.0) / F.col("cluster_n"), 6)
    )


def cluster_split(
    df: DataFrame,
    clusters: DataFrame,
    fractions: dict,
    key_col: str = "doc_id",
    *,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-free train/val/test assignment: every document is
    gated into a split by the md5 draw of its CLUSTER id — members of
    one (near-)duplicate cluster land in the same split by
    construction, so evaluation never scores memorized training
    near-dups (the split-contamination failure mode hard dedup alone
    does not fix when dedup thresholds are looser than "similar").

    ``fractions`` maps split name → fraction; must sum to 1. The gate
    is the samplers' portable md5 construction on the cluster id, so
    the assignment replays on any engine; bucket boundaries are
    cumulative in sorted-name order.

    Plan shape: one key join (corpus → cluster frame) + a map-side
    CASE on the draw — no extra shuffle beyond the join; singleton
    docs short-circuit to cluster = own key.
    """
    from validate_spark.operators.sampling import _M, _gate

    tot = sum(fractions.values())
    if abs(tot - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    all_k = df.select(F.col(key_col).cast("string").alias("k"))
    lab = clusters.select(F.col("member").alias("k"), "cluster")
    full = all_k.join(lab, "k", "left").withColumn(
        "cluster", F.coalesce("cluster", F.col("k"))
    )
    full = full.withColumn("_g", _gate("cluster", seed))
    expr = None
    acc = 0.0
    names = sorted(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = F.col("_g") < F.lit(int(acc * _M))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return full.withColumn(split_col, out).drop("_g")


def top_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    w: int = 8,
    min_docs: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """The governance companion to ``duplicated_spans``: WHAT is the
    boilerplate — the ``top_n`` exact w-token spans occurring in the
    most distinct documents → ``(rank, span, n_docs, n_occ)`` ordered
    by (n_docs desc, n_occ desc, span) with a fully deterministic
    tie-break.

    Scale shape:

    - window building is the same map-side split + slice projection;
      exchanges key on ``md5(span)`` (16-byte uniform keys), the span
      string rides along (min-per-group — the hash is injective
      modulo md5 collision);
    - the doc-frequency aggregate is TWO distinct-free stages —
      (wh, k) then (wh) — never a ``countDistinct`` beside a plain
      count (that re-plans the groupBy as a two-phase Expand, the
      round-4 gotcha); per-stage state is counters only, so the one
      mega-boilerplate span is a single row, not a collected list;
    - the global top-N is ``orderBy().limit(top_n)`` — Spark plans
      TakeOrderedAndProject: each task keeps a local N-heap and the
      driver merges ≤ tasks × N rows; NO global sort ever materializes
      (plan-asserted). The final rank window runs over the ≤ top_n-row
      result — driver-sized by construction.
    """
    if w < 1 or top_n < 1:
        raise ValueError("w and top_n must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col(key_col).cast("string").alias("k"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_w"),
    ).filter(F.length(F.concat_ws("", "_w")) > 0)
    tw = F.col("_w")
    base = toks.select(
        "k", F.greatest(F.size(tw) - (w - 1), F.lit(0)).alias("n_windows"), tw.alias("_w")
    )
    spans = (
        base.filter(F.col("n_windows") > 0)
        .select(
            "k",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_windows")),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i, w)),
                )
            ).alias("span"),
        )
        .select("k", F.md5("span").alias("wh"), "span")
    )
    per_doc = spans.groupBy("wh", "k").agg(
        F.count(F.lit(1)).cast("long").alias("_n"), F.min("span").alias("span")
    )
    agg = per_doc.groupBy("wh").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_n").cast("long").alias("n_occ"),
        F.min("span").alias("span"),
    )
    top = (
        agg.filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("span"))
        .limit(top_n)
    )
    wnd = Window.orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("span"))
    return top.withColumn("rank", F.row_number().over(wnd).cast("long")).select(
        "rank", "span", "n_docs", "n_occ"
    )


def dedup_retain_best(
    corpus: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware retention: keep each cluster's HIGHEST-``quality_col``
    member (ties broken by min key — fully deterministic) plus every
    unclustered doc. What production pipelines actually do after
    near-dedup: the canonical should be the best-written copy, not the
    one with the smallest id (:func:`dedup_retain` is the min-key
    variant for when no quality signal exists).

    Scale: the corpus joins the (member, cluster) frame once on the key
    (clusters frame is pair-pipeline-sized, broadcastable when small),
    then ONE per-cluster max_by window on the CLUSTERED SUBSET only —
    unclustered docs (the overwhelming majority at real dup rates)
    bypass the window entirely via the anti-join branch; finally the
    kept keys semi-join back to the corpus, map-only. NULL quality
    sorts LAST in both engines under DESC NULLS LAST (pinned
    explicitly — Spark and DuckDB default NULL ordering differ).
    """
    from pyspark.sql import Window

    k = F.col(key_col).cast("string")
    mem = clusters.select(F.col("member"), F.col("cluster"))
    clustered = corpus.join(mem, k == mem["member"], "inner")
    w = (
        Window.partitionBy("cluster")
        .orderBy(F.col(quality_col).desc_nulls_last(), F.col("member").asc())
    )
    best = (
        clustered.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col("member").alias("_keep"))
    )
    unclustered = corpus.join(mem, k == mem["member"], "left_anti")
    kept_clustered = corpus.join(
        best, k == best["_keep"], "left_semi"
    )
    return unclustered.unionByName(kept_clustered)


def duplication_profile(
    df: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """Corpus duplication topline — the cluster-SIZE distribution of
    exact duplicates: one row per cluster size with how many clusters
    and how many documents sit at that size ("how duplicated is my
    corpus, and is it one mega-template or a long tail?"). Size 1 =
    unique documents; total docs = sum(n_docs).

    Two stacked hash aggregates (fingerprint → size → distribution) —
    the second input is |distinct fingerprints| and the third is
    |distinct sizes| (tiny); nothing here is driver-side."""
    from validate_spark.operators.textstats import fingerprint

    sizes = (
        df.select(fingerprint(F.col(text_col)).alias("_fp"))
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("long")
            .alias("n_docs"),
        )
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    block: Column,
    *,
    max_dist: int = 1,
    max_block: int = 128,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: records whose ``name_col``
    values are within ``max_dist`` Levenshtein edits, restricted to a
    blocking key (classic blocked record linkage — all-pairs edit
    distance over 10^12 rows is impossible; blocking makes the pair
    space sum-of-block^2, and the block cap makes each term bounded).

    Plan shape (the whole point at scale):
      - block sizes via a streaming hash aggregate (NOT a window count:
        ``count() OVER (PARTITION BY block)`` buffers an entire hot
        block's rows on one window task before the cap can drop it —
        the same pre-filter-buffer failure the LSH paths fixed);
      - blocks with 2..max_block members survive; singletons carry no
        pairs, oversized blocks are non-discriminative boilerplate
        (reported upstream by the caller if needed);
      - the pair join self-joins ONLY surviving blocks, co-partitioned
        on the block key (one exchange feeds both the size join and
        the pair join), ``k1 < k2`` halves the square;
      - ``F.levenshtein`` is a JVM builtin (same unit-cost DP as
        DuckDB's levenshtein, so oracle parity is exact).

    Output: (k1, k2, name_1, name_2, dist), one row per unordered
    candidate pair.  Worst-case rows per block = max_block^2/2 —
    bounded by construction, never by luck.

    ``carry_cols`` rides extra comparison fields onto both sides
    (``<c>_1`` / ``<c>_2``) so a downstream scorer (Fellegi–Sunter,
    :func:`fs_score_pairs`) can weigh multi-field agreement without
    re-joining the source — the pair frame stays the only shuffle.
    """
    carry = list(carry_cols or [])
    base = df.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(name_col).alias("_nm"),
        block.alias("_blk"),
        *[F.col(c) for c in carry],
    )
    n_parts = base.sparkSession.sparkContext.defaultParallelism
    base = base.repartition(n_parts, "_blk")

    good = (
        base.groupBy("_blk")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_block))
        .select("_blk")
    )
    kept = base.join(good, "_blk")

    a = kept.select(
        F.col("_blk"),
        F.col("_k").alias("k1"),
        F.col("_nm").alias("name_1"),
        *[F.col(c).alias(f"{c}_1") for c in carry],
    )
    b = kept.select(
        F.col("_blk"),
        F.col("_k").alias("k2"),
        F.col("_nm").alias("name_2"),
        *[F.col(c).alias(f"{c}_2") for c in carry],
    )
    return (
        a.join(b, ["_blk"])
        .filter(F.col("k1") < F.col("k2"))
        .withColumn(
            "dist", F.levenshtein(F.col("name_1"), F.col("name_2"))
        )
        .filter(F.col("dist") <= max_dist)
        .drop("_blk")
    )


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL, entirely in native
    (codegen'd) string/array functions — the first dedup tier for web
    crawls, where the same page is fetched under utm-tagged, fragment-
    suffixed, case-shifted, default-ported variants:

      - scheme and host lowercased; default port stripped (:80 for
        http, :443 for https);
      - fragment dropped; trailing slashes collapsed ('' path -> '/');
      - query params split, empties and ``utm_*`` tracking params
        dropped, the rest SORTED and rejoined (param order never
        distinguishes pages).

    Portability: every regex is RE2-safe (no lookaround) so the DuckDB
    oracle canonicalizes byte-identically; the array filter lambda is
    CodegenFallback but trivial (CLAUDE.md r2 gotcha: a trivial lambda
    beats the native rewrite — measured there). Non-http(s) or
    schemeless inputs degrade gracefully (empty scheme/host components)
    rather than erroring — one bad row in 10^12 must never abort.
    """
    u = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def url_dedup(df: DataFrame, url_col: str, key_col: str) -> DataFrame:
    """Canonical-URL duplicate groups: (canon_url, n_docs, keeper) with
    keeper = min key. ONE hash-aggregate shuffle on the canonical form;
    the canonicalization itself is map-side and fuses into the scan —
    at crawl scale this is the cheapest dedup pass and runs first,
    before any content hashing touches the text bytes.
    """
    return (
        df.select(
            canonicalize_url(F.col(url_col)).alias("canon_url"),
            F.col(key_col).cast("long").alias("_k"),
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("_k").alias("keeper"),
        )
    )


def fs_score_pairs(
    pairs: DataFrame,
    fields: list[tuple[str, str, float, float, int]],
    *,
    upper: float = 3.0,
    lower: float = -3.0,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage scoring over a
    candidate-pair frame (Fellegi & Sunter 1969; the decision layer
    :func:`blocked_fuzzy_pairs` feeds). Each field spec is
    ``(col_1, col_2, m, u, max_dist)``: m = P(agree | match),
    u = P(agree | non-match), agreement = Levenshtein ≤ max_dist
    (0 = exact match).

    The log-likelihood weights are frozen to int64 at plan-build time
    IN PYTHON — ``round(scale·ln(m/u))`` and ``round(scale·ln((1-m)/
    (1-u)))`` become literal integers inside the plan, so the score is
    a pure int64 sum with ZERO cross-engine floating point (stronger
    than the round-6 discipline: not even `ln` is evaluated by the
    engines). A field with either side NULL contributes 0 (no
    evidence), the standard treatment for missing comparators.

    Decision: score ≥ upper·scale → 'match', ≤ lower·scale →
    'non_match', else 'review' (the FS clerical band). Thresholds are
    given in nats and frozen the same way.

    Scale: one map-side projection over the pair frame — no shuffle,
    no UDF; `levenshtein` is a JVM builtin with DuckDB-identical unit
    costs. Pair volume is bounded upstream by the blocker.

    Output: pairs columns + (score_int, n_agree, decision).
    """
    import math

    score = F.lit(0).cast("long")
    n_agree = F.lit(0).cast("int")
    for col_1, col_2, m, u, max_dist in fields:
        if not (0.0 < u < m < 1.0):
            raise ValueError(f"fs_score_pairs: need 0 < u < m < 1 for {col_1}")
        w_agree = round(weight_scale * math.log(m / u))
        w_disagree = round(weight_scale * math.log((1.0 - m) / (1.0 - u)))
        c1, c2 = F.col(col_1), F.col(col_2)
        agree = F.levenshtein(c1.cast("string"), c2.cast("string")) <= max_dist
        w = (
            F.when(c1.isNull() | c2.isNull(), F.lit(0))
            .when(agree, F.lit(w_agree))
            .otherwise(F.lit(w_disagree))
        ).cast("long")
        score = score + w
        n_agree = n_agree + F.when(
            c1.isNotNull() & c2.isNotNull() & agree, F.lit(1)
        ).otherwise(F.lit(0))
    up_i = round(upper * weight_scale)
    lo_i = round(lower * weight_scale)
    return pairs.select(
        "*",
        score.alias("score_int"),
        n_agree.cast("int").alias("n_agree"),
        F.when(score >= up_i, F.lit("match"))
        .when(score <= lo_i, F.lit("non_match"))
        .otherwise(F.lit("review"))
        .alias("decision"),
    )


def dedup_recall_report(
    candidates: DataFrame,
    truth: DataFrame,
    *,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """One-row evaluation of a candidate pair generator against a
    ground-truth pair set — the "measure, don't guess" loop for the
    dedup stack itself: before trusting an LSH tier's band/threshold
    settings on 10^12 docs, run it beside an exact tier on a labeled
    slice and read recall/precision off these integers.

    Both inputs normalize to unordered distinct pairs (least/greatest
    + distinct — generators may emit either orientation), then one
    full-outer join on the pair key counts the three regions. Output
    (single row): n_truth, n_candidates, n_matched, n_missed,
    n_extra — recall = n_matched/n_truth, precision =
    n_matched/n_candidates, both client-side exact ratios.

    Scale: pair frames are already the SMALL side of any dedup
    pipeline (bounded by the generators' caps); the join is
    pair-count-sized, the report one aggregate row.
    """

    def norm(df: DataFrame, flag: str) -> DataFrame:
        a, b = F.col(a_col).cast("string"), F.col(b_col).cast("string")
        return (
            df.select(
                F.least(a, b).alias("_pa"), F.greatest(a, b).alias("_pb")
            )
            .filter(F.col("_pa").isNotNull() & F.col("_pb").isNotNull())
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    joined = norm(truth, "_t").join(
        norm(candidates, "_c"), ["_pa", "_pb"], "full_outer"
    )
    t = F.col("_t").isNotNull()
    c = F.col("_c").isNotNull()
    return joined.agg(
        F.sum(t.cast("long")).alias("n_truth"),
        F.sum(c.cast("long")).alias("n_candidates"),
        F.sum((t & c).cast("long")).alias("n_matched"),
        F.sum((t & ~c).cast("long")).alias("n_missed"),
        F.sum((~t & c).cast("long")).alias("n_extra"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n: int = 3,
    threshold_pct: int = 80,
    max_df: int = 1000,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join — the quote detector.
    Jaccard (q44) misses the canonical web-corpus duplication mode: a
    short document quoted whole inside a much longer one scores
    J = |A|/|B| ≈ 0 however perfect the quote. Containment normalizes
    by the SMALLER side only: emit ordered pairs (a ⊂≈ b) with

        C(a,b) = |grams_a ∩ grams_b| / |grams_a| ≥ threshold_pct/100

    where a is the smaller gram set (ties ordered by key). The
    threshold test is integer cross-multiplication
    (common·100 ≥ pct·n_a) — no cross-engine floats anywhere; the
    oracle verifies by exhaustive exact containment.

    Candidates come from the AllPairs prefix lemma, one-sided: if
    |A∩B| ≥ ceil(t·|A|), the globally-smallest common gram must sit in
    A's first |A| − ceil(t·|A|) + 1 slots under rarest-first (document
    frequency ASC, hash) order — so only the CONTAINED side indexes a
    prefix, while the container side posts its full gram set (its size
    gives no bound). Hot grams are handled by construction, not by a
    post-agg filter: grams with df > ``max_df`` are dropped BEFORE any
    per-gram grouping (the freq join is co-partitioned with the
    explode — one exchange), so no aggregation buffer can exceed
    max_df members and the two-phase hot-bucket machinery is not
    needed here. RECALL CONTRACT (honest, same shape as
    ngram_jaccard_pairs): a qualifying pair is missed only if EVERY
    prefix gram of the contained doc is shared by > max_df documents —
    a mass-duplicated template, which exact/minhash dedup already
    surfaces.

    In-bucket pair expansion is ≤ max_df (prefix side) × max_df (full
    side) per gram worst-case, deduped before the verify join; the
    verify stage reuses the hashed-gram arrays (array<long>, xxhash64
    engine-internal — the oracle re-derives grams as strings).

    Output: (a, b, n_a, n_b, common) — all integers; containment =
    common/n_a is a client-side ratio.

    Reference seed: gookit/validate has no corpus-level operator class
    (README.md:959 stops at per-record filters); this extends the
    dedup family the LLM-pipeline tier requires.
    """
    pct = int(threshold_pct)
    sets_ = word_ngram_frame(df, text_col, key_col, n=n)
    hashed = _hashed_grams(sets_).persist()
    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 16)
    grams_doc = hashed.select(
        "k", F.size("gh").alias("n"), F.explode("gh").alias("g")
    ).repartition(n_parts, "g")
    freq = grams_doc.groupBy("g").agg(F.count(F.lit(1)).alias("dfg"))
    kept = grams_doc.join(freq, "g").filter(F.col("dfg") <= int(max_df))
    # contained-side prefix: first n - ceil(pct*n/100) + 1 grams in
    # (dfg, g) order; ceil as the truncating-div identity. Dropped
    # hot grams sort LAST in rarest-first order, so the prefix over
    # kept grams equals the prefix over the full ordering whenever it
    # fits inside the kept set (and is a subset — never extra — when
    # it does not: recall contract above).
    plen = (
        F.col("n")
        - F.expr(f"(n * {pct} + 99) div 100").cast("int")
        + F.lit(1)
    )
    prefixed = (
        kept.repartition(n_parts, "k")
        .groupBy("k", "n")
        .agg(F.array_sort(F.collect_list(F.struct("dfg", "g"))).alias("sg"))
        .select(
            "k",
            "n",
            F.explode(F.slice(F.col("sg"), F.lit(1), plen)).alias("pg"),
        )
        .select("k", "n", F.col("pg.g").alias("g"))
    )
    full = kept.select(
        F.col("k").alias("b"), F.col("n").alias("nb"), "g"
    )
    cand = (
        prefixed.join(full, "g")
        .filter(
            (F.col("k") != F.col("b"))
            & (
                (F.col("n") < F.col("nb"))
                | ((F.col("n") == F.col("nb")) & (F.col("k") < F.col("b")))
            )
        )
        .select(F.col("k").alias("a"), "b")
        .distinct()
    )
    a = hashed.select(F.col("k").alias("a"), F.col("gh").alias("gh_a"))
    b = hashed.select(F.col("k").alias("b"), F.col("gh").alias("gh_b"))
    j = cand.repartition(n_parts, "a").join(a, "a").join(b, "b")
    common = F.size(F.array_intersect("gh_a", "gh_b")).cast("long")
    return (
        j.select(
            "a",
            "b",
            F.size("gh_a").cast("long").alias("n_a"),
            F.size("gh_b").cast("long").alias("n_b"),
            common.alias("common"),
        )
        .filter(F.col("common") * 100 >= F.lit(pct) * F.col("n_a"))
    )


def cross_source_dup_matrix(
    df: DataFrame,
    source_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Source × source exact-duplication matrix — WHO shares content
    with WHOM: for every pair of sources, how many distinct
    fingerprints appear in both and how many documents each side
    holds for them. The governance sequel to the per-source
    duplication topline (that says "src3 is 40% dup"; this says
    "src3's dups are src1's content" — the mirror-site / laundered-
    scrape signal that decides which source to DROP rather than
    dedup).

    Per fingerprint the per-source doc counts collect into an array
    bounded by |sources| — INHERENTLY bounded, unlike the LSH bucket
    collects that needed the two-phase (pid, key) stage: a fingerprint
    cannot have more entries than there are sources, so the hot-key
    failure mode structurally cannot occur (documented, not assumed).
    Source pairs then expand ROW-LOCALLY from that array
    (``upper_pairs``: never a self-join on the fingerprint frame) and
    one |sources|²-bounded hash aggregate finishes.

    Output: (source_a, source_b, n_shared_fps, docs_a, docs_b),
    source_a < source_b, only pairs that actually share content.
    """
    from validate_spark.operators.textstats import fingerprint

    fs = (
        df.select(
            F.col(source_col).alias("_src"),
            fingerprint(F.col(text_col)).alias("_fp"),
        )
        .filter(F.col("_src").isNotNull())
        .groupBy("_fp", "_src")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    per_fp = fs.groupBy("_fp").agg(
        F.sort_array(F.collect_list(F.struct("_src", "_n"))).alias("_ss")
    )
    pairs = per_fp.filter(F.size("_ss") >= 2).select(
        F.explode(
            upper_pairs(
                F.col("_ss"),
                lambda x, y: F.struct(
                    x.getField("_src").alias("sa"),
                    y.getField("_src").alias("sb"),
                    x.getField("_n").alias("na"),
                    y.getField("_n").alias("nb"),
                ),
            )
        ).alias("_p")
    )
    return pairs.groupBy(
        F.col("_p.sa").alias("source_a"), F.col("_p.sb").alias("source_b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_fps"),
        F.sum("_p.na").cast("long").alias("docs_a"),
        F.sum("_p.nb").cast("long").alias("docs_b"),
    )
