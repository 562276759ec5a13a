"""Approximate-nearest-neighbor search over an embedding column.

Two paths, one contract (``(query_id, neighbor_id, rank)`` top-k):

- **Brute force** — broadcast the (small) query set against the corpus,
  exact cosine via higher-order functions (JVM-side, no Python), then
  ``_two_phase_topk``: map-side local top-k per (partition, query) and
  a k-bounded merge — never a per-query window. Cost: one corpus scan
  per query batch. This is both the baseline and the correctness
  oracle.
- **IVF (inverted-file) buckets** — corpus is pre-assigned to the
  nearest of C centroids (one scan); a query probes only its ``nprobe``
  nearest centroids' buckets, cutting the scan to ~nprobe/C of the
  corpus. Centroids here are deterministic samples (seeded), standing
  in for a k-means fit — the bucketing/probing plumbing is the part
  that matters at 100 TB (the corpus side is hash-partitioned by
  centroid id, so a query-batch join touches only matching partitions).

Scale notes: the query side is always broadcast (queries ≪ corpus);
corpus vectors never shuffle — scoring projects to compact
(query_id, neighbor_id, cos) triples map-side, then ``_two_phase_topk``
does a uniformly-keyed local-top-k + k-bounded merge (no per-query hot
reducer, no global sort; see its docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from validate_spark.operators.dedup import cosine_sim


def _two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank) from a scored frame
    (query_id, neighbor_id, cos) WITHOUT shuffling every scored row.

    A plain ``Window.partitionBy(query_id)`` funnels ALL scored rows of
    a query to ONE reducer: at 10^12 corpus rows that is an unbounded-
    memory global sort per query and a single hot task per query_id —
    the straggler IS the job. Instead:

    1. **local top-k** — groupBy (spark_partition_id, query_id): the
       partial collect completes map-side (each map task owns exactly
       one partition id, so every group is task-local), and the
       grouping key space is n_partitions × |queries| — uniformly
       spread, no hot reducer, and each aggregation buffer holds only
       one task's rows for one query.
    2. **global merge** — groupBy query_id over the k-sliced locals:
       flatten + sort + slice over ≤ k × n_partitions tiny structs per
       query — the theoretical minimum a distributed top-k must move.

    Honest byte accounting: the scored triples (query_id, neighbor_id,
    cos — ~24 B, embedding vectors pruned BEFORE the exchange) still
    cross the wire once in stage 1, packed as per-group arrays; what
    this buys over the window is uniform keying (no per-query hot
    reducer), bounded per-buffer memory, no global per-query sort, and
    a k-bounded merge stage. Bounding stage-1 bytes below one scored
    pass would require a custom bounded-heap UDAF or a Python hop —
    both worse trades than a uniformly-keyed compact shuffle.

    Ordering: ascending array_sort on struct(-cos, neighbor_id) ≡
    cos desc, id asc — fully deterministic, oracle-comparable ranks.
    """
    # rows whose cosine is NULL (NULL/malformed embedding) are not
    # rankable — drop them here rather than letting NULL sort ahead of
    # or behind real scores
    scored = scored.filter(F.col("cos").isNotNull())
    item = F.struct((-F.col("cos")).alias("nc"), F.col("neighbor_id").alias("neighbor_id"))
    local = scored.groupBy(
        F.spark_partition_id().alias("_p"), F.col("query_id")
    ).agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("top"))
    merged = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, k).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("_pos", "_e")
    ).select(
        "query_id",
        F.col("_e.neighbor_id").alias("neighbor_id"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, rank), cosine-desc, id-asc
    tie-break (fully deterministic → oracle-comparable). A corpus row
    whose id equals the query id is never a neighbor of that query.

    With queries broadcast, scoring is map-side and vectors are pruned
    before any exchange; ``_two_phase_topk`` does the skew-free
    local-top-k + merge (see its docstring for the byte accounting).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = c.crossJoin(q).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_sim(F.col("cv"), F.col("qv")), 9).alias("cos"),
    )
    return _two_phase_topk(scored, k)


def assign_ivf_buckets(
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``bucket`` = argmax-cosine centroid id. Centroids are plan
    literals (broadcast-by-construction); one narrow projection.

    The argmax is one ``array_max`` over (score, -position, bucket)
    structs, so each centroid's cosine appears once in the plan (a
    when/otherwise chain that carries the best score forward holds it
    twice per centroid and doubles the tree with each one). Struct
    order makes it the left-to-right ``score > best`` scan: ties
    (±0.0 equal) go to the first centroid, NaN ranks above every
    number, NULL below; the leading (-2.0, bucket 0) seed is the scan's
    starting best, so an all-NULL row lands in bucket 0."""
    v = F.col(vec_col)
    cands = [F.struct(F.lit(-2.0).alias("s"), F.lit(0).alias("o"), F.lit(0).alias("b"))]
    for ci, cvec in enumerate(centroids):
        cl = F.array(*[F.lit(float(x)) for x in cvec])
        cands.append(
            F.struct(
                cosine_sim(v, cl).alias("s"),
                F.lit(-1 - ci).alias("o"),
                F.lit(ci).alias("b"),
            )
        )
    return corpus.withColumn(
        "bucket", F.array_max(F.array(*cands)).getField("b").cast("int")
    )


def sample_centroids(
    corpus: DataFrame,
    n_centroids: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic centroid pick: the n vectors with the smallest
    md5(id) — a seeded uniform sample without RNG state (stand-in for
    a k-means fit; at real scale run a few Lloyd iterations with
    the same bucket-assign projection + groupBy-avg)."""
    rows = (
        corpus.select(F.col(id_col).cast("string").alias("k"), F.col(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("k")))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    return [list(map(float, r["v"])) for r in rows]


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int,
    *,
    n_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Spherical k-means for IVF centroids — distributed Lloyd rounds:
    each round is ONE bucket-assign projection (plan literals, no
    shuffle of vectors beyond the groupBy) + ONE groupBy-avg, then the
    driver renormalizes C centroid rows. Deterministic: seeded md5
    sample init (sample_centroids), fixed iteration count.

    At 10^12 rows each round is a single scan with map-side partial
    aggregation of C × dim doubles — centroid fitting costs n_iters
    scans, independent of C beyond the plan size."""
    import numpy as np

    cents = sample_centroids(corpus, n_centroids, vec_col=vec_col, id_col=id_col)
    dim = len(cents[0])
    for _ in range(n_iters):
        assigned = assign_ivf_buckets(corpus, cents, vec_col=vec_col)
        sums = (
            assigned.groupBy("bucket")
            .agg(
                *[
                    # F.get (0-based, NULL on out-of-bounds): one ragged
                    # short vector in a dirty corpus must not abort the
                    # fit under ANSI — sum skips the NULLs
                    F.sum(F.get(F.col(vec_col), d)).alias(f"s{d}")
                    for d in range(dim)
                ],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_cents = list(cents)  # empty buckets keep their old centroid
        for r in sums:
            v = np.array([r[f"s{d}"] for d in range(dim)], dtype=float) / r["n"]
            norm = float(np.linalg.norm(v))
            if norm > 0:
                new_cents[r["bucket"]] = (v / norm).tolist()
        cents = new_cents
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN top-k probing only the ``nprobe`` closest centroid buckets
    per query. Join key = bucket id → the scored frame is ~nprobe/C of
    brute force. Recall < 1 by construction; grade with
    ``recall_at_k`` against ``brute_force_topk``."""
    bucketed = assign_ivf_buckets(corpus, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )

    qv = F.col("qv")
    # per-query centroid similarity → nprobe probe buckets (plan literals)
    sims = F.array(
        *[
            F.struct(
                cosine_sim(qv, F.array(*[F.lit(float(x)) for x in cvec])).alias("s"),
                F.lit(ci).alias("b"),
            )
            for ci, cvec in enumerate(centroids)
        ]
    )
    probes = F.slice(F.reverse(F.array_sort(sims)), 1, nprobe).getField("b")
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        )
        .withColumn("bucket", F.explode(probes))
        .withColumn("bucket", F.col("bucket").cast("int"))
    )

    scored = bucketed.join(q, "bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_sim(F.col("cv"), F.col("qv")), 9).alias("cos"),
    )
    return _two_phase_topk(scored, k)


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """|approx ∩ exact| / |exact| on (query_id, neighbor_id)."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hit = a.join(e, ["query_id", "neighbor_id"], "inner").count()
    total = e.count()
    return hit / total if total else 1.0


def label_centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    key_col: str = "vec_id",
    *,
    dist_threshold: float = 1.0,
) -> DataFrame:
    """Embedding-space label audit: distance of every vector to its
    label's mean vector (centroid), flagging rows whose L2 distance
    exceeds ``dist_threshold`` — the standard mislabel / junk-embedding
    screen run before training a classifier head or trusting
    label-stratified mixes.

    Plan shape (scale-first):

    - centroids via ``posexplode`` → groupBy (label, pos) avg — a
      map-side-combined aggregate whose result is |labels| × dim rows
      (KBs), re-assembled to one array per label with a
      ``sort_array(collect_list(struct(pos, avg)))`` — bounded by dim;
    - the centroid frame is **broadcast** back onto the corpus (labels
      ≪ corpus — a dimension-table join by the repo's broadcast rule);
    - the distance is a JVM ``zip_with`` + fold — no Python, no second
      shuffle; the corpus is scanned once for centroids and once for
      distances (two scans total, both map-side beyond the tiny agg).

    The flag compares the ROUND-6 distance (not the raw double) so the
    oracle's boolean replays bit-identically — round-6 doubles match
    across engines when per-group cardinality is bounded (working-notes
    round-4 rule); the selection itself ships as a flag column, never a
    filter, so the output row set is engine-independent.

    Reference analogue: gookit/validate's enum/in membership gates a
    field against a fixed set; this is the continuous-space analogue —
    membership in a label's cluster — which only exists at dataset
    scale. (validators.go:598 enum; no per-record counterpart.)
    """
    v = F.col(vec_col)
    exploded = df.select(
        F.col(label_col).alias("_lbl"),
        F.posexplode(v).alias("pos", "x"),
    )
    centroids = (
        exploded.groupBy("_lbl", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
        .groupBy("_lbl")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("centroid")
        )
    )
    joined = df.join(
        F.broadcast(centroids), df[label_col] == F.col("_lbl"), "inner"
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    v,
                    F.col("centroid"),
                    lambda x, c: (x.try_cast("double") - c)
                    * (x.try_cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
        ),
        6,
    )
    return joined.select(
        F.col(key_col),
        F.col(label_col),
        dist.alias("dist"),
        (dist > F.lit(float(dist_threshold))).alias("is_outlier"),
    )


def jl_sign_matrix(
    out_dim: int, in_dim: int, seed: int = 7
) -> list[list[int]]:
    """Deterministic ±1 (Achlioptas/JL) projection matrix: sign k,i is
    the parity of md5(f"{seed}:{k}:{i}")'s first byte. Pure Python so
    BOTH engines inline the identical literal matrix — one source of
    truth, no cross-engine RNG to reconcile."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{k}:{i}".encode()).digest()[0] < 128
            else -1
            for i in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    *,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    matrix: proj_k = (Σ_i v_i · s_{k,i}) / sqrt(out_dim). With high
    probability pairwise distances are preserved within
    O(sqrt(ln n / out_dim)) relative error (JL lemma; Achlioptas 2003
    shows ±1 entries suffice) — the standard pre-step before
    brute-force/IVF search when D is large.

    Returns LONG format (key, k, proj) — one row per output
    coordinate, proj rounded to 6.

    Cross-engine exactness: each coordinate is a SEQUENTIAL left fold
    over the array order (F.aggregate here, list_aggregate 'sum' in
    DuckDB — bit-identical per the round-3 gotcha), elements cast to
    double BEFORE multiply so no float-vs-double ladder diverges, and
    /sqrt(out_dim) with out_dim a perfect square divides by an exact
    power of two (4 for out_dim=16). Vectors whose length ≠ in_dim are
    FILTERED — a projection of a ragged vector is meaningless; the
    arrayDim validator is the advertised way to FLAG them first.

    Scale: map-only — the projection fuses into the scan. The
    zip_with/aggregate HOFs are CodegenFallback (interpreted per
    element, D·K multiplies per row); at D·K beyond
    ~10⁴ per row the scale path is an Arrow-batched numpy matmul via
    mapInPandas — which this operator deliberately does NOT use
    because numpy's pairwise summation changes addition order and
    breaks the bit-exact oracle. Measured guidance, not guesswork:
    the fold is the correctness reference; swap in the matmul when
    throughput dominates and verify with recall, not hashes.
    """
    signs = jl_sign_matrix(out_dim, in_dim, seed)
    v = F.col(vec_col)
    projs = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(s) for s in row]),
                    lambda x, s: x.try_cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for row in signs
        ]
    )
    scale = float(out_dim) ** 0.5
    return (
        df.filter(F.size(v) == in_dim)
        .select(F.col(key_col).alias("key"), projs.alias("_p"))
        .select("key", F.posexplode("_p").alias("k", "_raw"))
        .select(
            "key",
            F.col("k").cast("long").alias("k"),
            F.round(F.col("_raw") / scale, 6).alias("proj"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8-style) ANN: compressed-domain candidates + exact rerank
# ---------------------------------------------------------------------------

def sq8_bounds(corpus: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """One-row (lo: array<double>, hi: array<double>) per-dimension
    quantizer bounds. posexplode -> groupBy(pos) collapses map-side to
    |dims| rows per task (dims ~64-4096 — the aggregate, not the
    corpus, crosses the wire); the final collect_list buffers |dims|
    structs. The result is broadcast-sized by construction.
    """
    per_dim = (
        corpus.select(F.posexplode(vec_col).alias("pos", "x"))
        .select("pos", F.col("x").cast("double").alias("x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    item = F.struct(F.col("pos"), F.col("lo"), F.col("hi"))
    return per_dim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(item)), lambda s: s.getField("lo")
        ).alias("lo"),
        F.transform(
            F.array_sort(F.collect_list(item)), lambda s: s.getField("hi")
        ).alias("hi"),
    )


def _sq8_encode(vec: Column, lo: Column, hi: Column) -> Column:
    """Quantize a float vector to SIGNED int8 range (-128..127) against
    per-dim bounds, CENTERED on the dimension midpoint:
    ``clamp(floor((x - (lo_i+hi_i)/2) * 256 / (hi_i - lo_i)), -128, 127)``,
    degenerate dimension (hi == lo) -> 0.

    Centering matters for the dot-product proxy: unsigned 0..255 codes
    carry a per-vector shift bias (+a*lo_i per dim) whose cross terms
    a*lo·(x+y) swamp the x·y signal whenever |lo| is comparable to the
    coordinate spread — measured here as candidate orderings that
    ignore the actual similarity. Centered codes approximate
    a*(x - mid), so code-dot ≈ a²·(x-mid)·(y-mid) — the bias is the
    per-corpus constant |mid|², rank-neutral per query. floor (not
    round) so there is no half-tie rounding-mode question cross-engine;
    every arithmetic step is IEEE double and replays bit-identically.
    """
    def enc(x, i):
        l, h = F.get(lo, i), F.get(hi, i)
        q = F.floor((x.cast("double") - (l + h) / 2.0) * 256.0 / (h - l))
        return (
            F.when(h == l, F.lit(0))
            .otherwise(F.least(F.greatest(q, F.lit(-128)), F.lit(127)))
            .cast("int")
        )

    return F.transform(vec, enc)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    rerank: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Compressed-domain ANN: candidates by INTEGER dot product over
    scalar-quantized (8-bit) codes, then exact-cosine rerank of the
    top ``rerank`` per query. Same contract as brute_force_topk:
    (query_id, neighbor_id, rank).

    Why this is the memory-bound-scale path: at 10^12 x 1k-dim float32
    the corpus is 4 PB of vector bytes — quantized codes are 4x
    smaller and the candidate scan does integer multiply-adds (SIMD-
    friendly, no FMA ordering concerns); only ``rerank x |queries|``
    rows ever touch full-precision vectors again. The int64 candidate
    scores are EXACT, so the candidate SET is deterministic and
    engine-independent (ties by id) — all float work happens after the
    cut, where q19's round-9 cosine contract already holds.

    Plan shape: bounds (one-row) broadcast-joined onto both sides;
    candidate scoring is map-side (queries broadcast, codes pruned to
    (query_id, neighbor_id, dot) before any exchange); candidate
    selection reuses ``_two_phase_topk`` (no per-query hot reducer);
    the rerank joins the tiny candidate frame BROADCAST against the
    corpus, so full vectors never shuffle. The final per-query window
    runs over <= rerank rows per group — bounded by construction.
    """
    bounds = F.broadcast(sq8_bounds(corpus, vec_col=vec_col))
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .crossJoin(bounds)
        .select("neighbor_id", _sq8_encode(F.col("cv"), F.col("lo"), F.col("hi")).alias("cq"))
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        )
        .crossJoin(bounds)
        .select(
            "query_id", _sq8_encode(F.col("qv"), F.col("lo"), F.col("hi")).alias("qq")
        )
    )
    scored = c.crossJoin(q).filter(F.col("neighbor_id") != F.col("query_id"))
    int_dot = F.aggregate(
        F.zip_with(F.col("cq"), F.col("qq"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = _two_phase_topk(
        scored.select("query_id", "neighbor_id", int_dot.alias("cos")), rerank
    ).select("query_id", "neighbor_id")

    cvec = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qvec = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        )
    )
    reranked = (
        cvec.join(F.broadcast(cand), "neighbor_id")
        .join(qvec, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("cv"), F.col("qv")), 9).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _pq_valid(vec: Column, dim: int) -> Column:
    """Encodable vector: present, exact dim, every element finite.
    Shared by codebook sampling, corpus encode, and queries so all
    three see the same population (and the oracle mirrors one
    predicate)."""
    return (
        vec.isNotNull()
        & (F.size(vec) == dim)
        & F.forall(
            vec,
            lambda x: x.isNotNull()
            & ~F.isnan(x.cast("double"))
            & (F.abs(x.cast("double")) != F.lit(float("inf"))),
        )
    )


def pq_codebooks(
    corpus: DataFrame,
    *,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Product-quantization codebooks from a DETERMINISTIC sample:
    the ``n_codes`` valid vectors with smallest md5(id) (the
    `sample_centroids` contract), each sliced into ``m`` subvectors —
    codebooks[j][c] is code c of subspace j. Sampled codebooks trade
    a little quantization error for full cross-engine replayability
    (an oracle can re-derive every codebook entry in SQL, which no
    iterative k-means fit allows); at production scale swap in
    `kmeans_fit` per subspace — `pq_encode`/`pq_adc_topk` only see
    the float lists."""
    dim_row = corpus.select(
        F.size(F.col(vec_col)).alias("d")
    ).filter(F.col("d") > 0).limit(1).collect()
    if not dim_row:
        raise ValueError("pq_codebooks: no non-empty vectors")
    d = int(dim_row[0]["d"])
    if d % m:
        raise ValueError(f"pq_codebooks: dim {d} not divisible by m={m}")
    valid = corpus.filter(_pq_valid(F.col(vec_col), d))
    rows = sample_centroids(valid, n_codes, vec_col=vec_col, id_col=id_col)
    sub = d // m
    return [[r[j * sub:(j + 1) * sub] for r in rows] for j in range(m)]


def _np_sq_l2_chain(S, cv):
    """Per-row L2² between S (n×sub float64) and one literal codebook
    vector, accumulated LEFT-TO-RIGHT: acc starts at 0.0 and gains
    (x_i − c_i)² in index order — the exact IEEE addition chain the
    former unrolled Spark expression (and DuckDB's index-ascending
    list_aggregate fold, the l2NormBetween contract) performs, so every
    distance double is BIT-IDENTICAL across all three forms and the
    oracles stay untouched."""
    import numpy as np

    acc = np.zeros(len(S))
    for i in range(S.shape[1]):
        diff = S[:, i] - cv[i]
        acc += diff * diff
    return acc


def _np_code_table(codebooks) -> "object":
    import numpy as np

    return np.array(codebooks, dtype=np.float64)  # (m, n_codes, sub)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(neighbor_id, codes: array<int>) — per subspace the argmin-L2²
    code, ties to the lower code id.

    Kernel: Arrow-vectorized numpy (`mapInPandas`) — the m·n_codes
    unrolled distance chains this used to build as ONE Spark expression
    (~10k Catalyst nodes) cost ~8 s of driver-side plan construction /
    optimization PER ACTION at any data size (measured r6: encode cell
    8.1 s warm, of which <0.5 s was execution); the numpy kernel needs
    no giant tree and vectorizes the same arithmetic batch-wise
    (guide §4.2). Distances accumulate via `_np_sq_l2_chain` — the
    identical left-to-right IEEE chain — and `np.argmin`'s
    first-occurrence rule IS the struct-min (dist, code) tie-break, so
    code assignments are bit-for-bit the previous ones and the DuckDB
    oracle is untouched. Still map-side only; only (id, vector)
    columns cross the Arrow boundary. Invalid vectors (NULL / ragged /
    non-finite) are EXCLUDED — they are not encodable; `allFinite`
    validation is where they get reported."""
    import numpy as np

    m = len(codebooks)
    n_codes = len(codebooks[0])
    sub = len(codebooks[0][0])
    d = m * sub
    C = _np_code_table(codebooks)
    c = corpus.filter(_pq_valid(F.col(vec_col), d)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )
    id_t = c.schema["neighbor_id"].dataType.simpleString()

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * sub : (j + 1) * sub]
                dists = np.empty((n_codes, len(pdf)))
                for cc in range(n_codes):
                    dists[cc] = _np_sq_l2_chain(S, C[j, cc])
                codes[:, j] = np.argmin(dists, axis=0)
            yield pd.DataFrame(
                {"neighbor_id": pdf["neighbor_id"], "codes": list(codes)}
            )

    return c.mapInPandas(enc, schema=f"neighbor_id {id_t}, codes array<int>")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Product-quantization ANN with Asymmetric Distance Computation:
    corpus vectors live as m small codes (here m bytes vs d·4 vector
    bytes — a 32× memory cut at d=64, the reason PQ is THE standard
    billion-vector index layout), queries stay full-precision, and a
    candidate's distance is a sum of m table lookups.

    Exactness contract (the sq8 pattern lifted to PQ): every
    per-(query, subspace, code) cell is frozen to int64 micro-units —
    floor(L2²·1e6 + 0.5) of a bit-identical double — so ADC scores
    are EXACT integer sums (order-independent, engine-independent)
    and the top-k set + rank order (score asc, id asc) is
    deterministic. Approximation lives only in quantization itself,
    never in the arithmetic.

    Plan shape: the code table is map-only (`pq_encode`); the ADC
    table is |queries|·m·n_codes cells built by the same Arrow/numpy
    kernel as the encode (the unrolled-expression form cost seconds of
    driver-side plan work per action — measured r6, see pq_encode);
    scoring is a broadcast cross join + an m-term integer fold via
    array indexing — NO per-candidate join against an exploded
    (neighbor, subspace) frame (that would shuffle m× the corpus);
    top-k reuses `_two_phase_topk` (no per-query hot reducer).
    Compose with sq8_topk's exact-rerank stage when recall at the
    quantization boundary matters.

    Output: (query_id, neighbor_id, rank).
    """
    import numpy as np

    m = len(codebooks)
    n_codes = len(codebooks[0])
    sub = len(codebooks[0][0])
    d = m * sub
    C = _np_code_table(codebooks)
    codes = pq_encode(corpus, codebooks, vec_col=vec_col, id_col=id_col)
    q = queries.filter(_pq_valid(F.col(query_vec_col), d)).select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
    )
    qid_t = q.schema["query_id"].dataType.simpleString()

    def tblf(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
            cells = np.empty((len(pdf), m * n_codes), dtype=np.int64)
            for j in range(m):
                S = Q[:, j * sub : (j + 1) * sub]
                for cc in range(n_codes):
                    # floor(L2²·1e6 + 0.5) of the bit-identical double
                    # → the exact int64 micro-unit cell the expression
                    # form produced
                    cells[:, j * n_codes + cc] = np.floor(
                        _np_sq_l2_chain(S, C[j, cc]) * 1e6 + 0.5
                    ).astype(np.int64)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "tbl": list(cells)}
            )

    tbl = q.mapInPandas(tblf, schema=f"query_id {qid_t}, tbl array<long>")
    scored = codes.crossJoin(F.broadcast(tbl)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.get(F.col("tbl"), j * n_codes + F.get(F.col("codes"), j)),
    )
    return _two_phase_topk(
        scored.select("query_id", "neighbor_id", (-adc).alias("cos")), k
    )


def negative_samples(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    n: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    anchor_label_col: str = "anchor_label",
) -> DataFrame:
    """Deterministic negative sampling for contrastive/triplet
    training: per anchor, the ``n`` candidates with a DIFFERENT label
    whose md5(anchor|candidate) hashes are smallest — a uniform draw
    that is reproducible across runs, partition layouts, and engines
    (no RNG state; the sampling-family md5 discipline). Same-label
    candidates are excluded because they are false negatives — the
    single most common contrastive-training data bug; rows with NULL
    ids or labels are excluded on both sides (no evidence either
    way).

    Scale: anchors broadcast against the corpus (the corpus never
    reshuffles), per-pair hash is map-side, and selection reuses the
    `_two_phase_topk` skew-free local-top-k + merge — no per-anchor
    hot reducer however many negatives one anchor's label class
    admits. Swap the hash key salt (concat a run tag into the md5) to
    draw a fresh epoch's negatives with the same machinery.

    Output: (query_id = anchor, neighbor_id = negative, rank 1..n).
    """
    a = F.broadcast(
        anchors.filter(
            F.col(anchor_id_col).isNotNull()
            & F.col(anchor_label_col).isNotNull()
        ).select(
            F.col(anchor_id_col).alias("query_id"),
            F.col(anchor_label_col).alias("_alab"),
        )
    )
    c = corpus.filter(
        F.col(id_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_clab")
    )
    # 15 hex chars = 60 bits: fits signed int64, and numeric order
    # equals the fixed-width hex-prefix order the oracle sorts by
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("query_id").cast("string"),
                    F.col("neighbor_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    scored = (
        c.crossJoin(a)
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("_clab") != F.col("_alab"))
        )
        .select("query_id", "neighbor_id", (-h).alias("cos"))
    )
    return _two_phase_topk(scored, n)



def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ: the production billion-vector ANN layout — coarse
    inverted lists (IVF, q20) select WHICH vectors to score, product
    quantization (PQ, q219) decides HOW CHEAPLY: a query scans only
    its ``nprobe`` nearest centroids' lists, and inside them pays m
    int64 table lookups per candidate instead of a d-dim float dot.
    Corpus memory is m bytes + 1 bucket id per vector; scan cost drops
    by ~|buckets|/nprobe on top of PQ's 32×.

    Determinism stack (everything the q219/q20 contracts give):
    centroids and codebooks are md5-ordered samples (SQL-replayable),
    bucket assignment is argmin over bit-identical unrolled L2²
    chains (ties to the lower centroid id), probe selection ranks the
    SAME chains per query, ADC cells are floor(d·1e6+0.5) int64 —
    the candidate SET and the final (score asc, id asc) ranking are
    exact in both engines. Recall loss is the honest IVF price
    (a true neighbor in an unprobed bucket is missed) — measure with
    the q220/q233 recall-report loop before freezing nprobe.

    Plan: bucket assignment rides the SAME map-only Arrow/numpy pass
    as the code assignment (one kernel emits codes + bucket — the
    former unrolled-expression form cost seconds of driver-side plan
    work per action at ANY data size, measured r6, see pq_encode; the
    numpy chains are bit-identical); the query-side probe set and ADC
    table broadcast; candidate filtering is a map-side array_contains
    against the broadcast probe array — the corpus never shuffles;
    top-k is the two-phase skew-free merge.
    """
    import numpy as np

    m = len(codebooks)
    n_codes = len(codebooks[0])
    sub = len(codebooks[0][0])
    d = m * sub
    n_cent = len(centroids)
    C = _np_code_table(codebooks)
    CENT = np.array(
        [[float(x) for x in cv] for cv in centroids], dtype=np.float64
    )  # (n_cent, d)

    c_base = corpus.filter(_pq_valid(F.col(vec_col), d)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )
    id_t = c_base.schema["neighbor_id"].dataType.simpleString()

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            n = len(pdf)
            cdists = np.empty((n_cent, n))
            for cc in range(n_cent):
                cdists[cc] = _np_sq_l2_chain(V, CENT[cc])
            # first-occurrence argmin ≡ struct-min (d, c) tie-break
            bkt = np.argmin(cdists, axis=0).astype(np.int32)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * sub : (j + 1) * sub]
                dists = np.empty((n_codes, n))
                for cc in range(n_codes):
                    dists[cc] = _np_sq_l2_chain(S, C[j, cc])
                codes[:, j] = np.argmin(dists, axis=0)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"],
                    "_bkt": bkt,
                    "codes": list(codes),
                }
            )

    codes = c_base.mapInPandas(
        enc, schema=f"neighbor_id {id_t}, _bkt int, codes array<int>"
    )

    q = queries.filter(_pq_valid(F.col(query_vec_col), d)).select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
    )
    qid_t = q.schema["query_id"].dataType.simpleString()
    nprobe_i = int(nprobe)

    def tblf(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
            n = len(pdf)
            cdists = np.empty((n_cent, n))
            for cc in range(n_cent):
                cdists[cc] = _np_sq_l2_chain(Q, CENT[cc])
            # stable argsort on (d) keeps index order on ties ≡ the
            # array_sort of struct(d, c) the expression form ranked
            order = np.argsort(cdists, axis=0, kind="stable")
            probes = order[:nprobe_i].T.astype(np.int32)  # (n, nprobe)
            cells = np.empty((n, m * n_codes), dtype=np.int64)
            for j in range(m):
                S = Q[:, j * sub : (j + 1) * sub]
                for cc in range(n_codes):
                    cells[:, j * n_codes + cc] = np.floor(
                        _np_sq_l2_chain(S, C[j, cc]) * 1e6 + 0.5
                    ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "_probes": list(probes),
                    "tbl": list(cells),
                }
            )

    tbl = q.mapInPandas(
        tblf, schema=f"query_id {qid_t}, _probes array<int>, tbl array<long>"
    )
    scored = (
        codes.crossJoin(F.broadcast(tbl))
        .filter(F.array_contains(F.col("_probes"), F.col("_bkt")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.get(F.col("tbl"), j * n_codes + F.get(F.col("codes"), j)),
    )
    return _two_phase_topk(
        scored.select("query_id", "neighbor_id", (-adc).alias("cos")), k
    )
