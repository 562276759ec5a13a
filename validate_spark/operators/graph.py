"""Iterative graph analytics over document link graphs — PageRank as
the representative fixed-point algorithm (`k_core` and dedup.py's
min-label propagation are the others; all three truncate lineage every
round through ``session.checkpoint``).

Reference seed: gookit/validate has no graph surface — this is the
dataset-level extension (SURVEY.md §2.9) for corpora that carry a
link structure (web crawls: citation/backlink authority is a standard
document-quality prior at pretraining scale).

INTEGER-EXACT ranks: every rank is an int64 in 1e-12 units of
probability mass. One update round is

    rank' = (15 * SCALE) DIV (100 * N)                      (teleport)
          + sum over in-edges of (rank * 85 DIV 100) DIV outdeg

with DIV the truncating integral division — identical in Spark (`DIV`)
and DuckDB (`//`) on non-negative operands, so three unrolled rounds
replay bit-for-bit in SQL with zero float drift. (A double PageRank
needs an addition-order argument per in-degree; integers need
nothing.) Truncation loses < outdeg * 1e-12 of mass per node per
round — irrelevant for ranking, and both engines lose the IDENTICAL
amount.

Scale: the (src, dst, outdeg) edge stream is STAGED ONCE — joined,
repartitioned on src and persisted before the loop (the edge table is
the 10^12-scale object; re-shuffling it every round would dominate).
Each round then costs: the rank join against that src-partitioned
stream, one dst aggregation shuffle, and a left join back onto the
node list whose contrib side reuses the aggregation's partitioning
(nodes with no in-links keep the teleport term — an inner join would
silently drop them). Lineage is truncated with ``session.checkpoint``
every round (CLAUDE.md round-3 gotcha: cache() does NOT stop the
analyzer re-walking a join-per-round nest): local checkpoints, or
reliable ones that survive executor loss once ``sc.setCheckpointDir``
is set — the setting for multi-executor runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from validate_spark.session import checkpoint

SCALE = 10**12


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact PageRank over an edge list. Nodes are the union
    of sources and destinations; parallel edges count once each (a
    node's out-degree is its edge COUNT, not its distinct-neighbor
    count — stated, both engines agree). Returns
    (node, rank_e12, rank) with rank_e12 the exact int64 state and
    rank its 1e-12-scaled double display.

    ``damping_pct`` is an integer percentage (85 = the classic 0.85)
    so the contribution arithmetic stays in int64.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    outdeg = e.groupBy(F.col("src").alias("_od_node")).agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    # loop-invariant edge stream: join out-degrees once, partition on
    # src once, persist — every round reuses this layout instead of
    # re-shuffling the (10^12-scale) edge table
    eo = (
        e.join(outdeg, e["src"] == F.col("_od_node"))
        .select("src", "dst", "outdeg")
        .repartition("src")
        .persist()
    )
    # N and the teleport term: one-row aggregate, broadcast cross join
    # (free at any scale — never a driver-side collect)
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    base_expr = F.expr(f"CAST({15 * SCALE} AS BIGINT) DIV (100 * _n)")
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select(
            "node",
            F.expr(f"CAST({SCALE} AS BIGINT) DIV _n").alias("rank_e12"),
            base_expr.alias("_base"),
        )
    )
    ranks = checkpoint(ranks)
    for _ in range(n_iters):
        # damped per-edge contribution: rank*85 DIV 100 DIV outdeg —
        # ints end to end; the edge stream shuffles once on dst
        contrib = (
            eo.join(
                ranks.select(
                    F.col("node").alias("_r_node"), "rank_e12"
                ),
                F.col("src") == F.col("_r_node"),
            )
            .select(
                "dst",
                F.expr(
                    f"(rank_e12 * {damping_pct} DIV 100) DIV outdeg"
                ).alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            ranks.join(contrib, ranks["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.col("_base") + F.coalesce(F.col("_in"), F.lit(0)))
                .alias("rank_e12"),
                "_base",
            )
        )
        ranks = checkpoint(ranks)
    # every round's checkpoint already materialized through eo
    eo.unpersist()
    return ranks.select(
        "node",
        "rank_e12",
        F.round(F.col("rank_e12").cast("double") / SCALE, 9).alias("rank"),
    )


def synthetic_doc_links(
    documents: DataFrame, *, id_col: str = "doc_id", fan_out: int = 3
) -> DataFrame:
    """Deterministic link fixture over a document table: doc d points
    at (d*7+1) mod N, (d*13+3) mod N, (d*31+7) mod N (first
    ``fan_out`` of those). Self-loops possible and kept — a web graph
    has them too, and both engines derive the identical edge list.
    N comes from a one-row aggregate broadcast back (no driver
    action)."""
    coefs = [(7, 1), (13, 3), (31, 7)][:fan_out]
    d = documents.select(F.col(id_col).cast("long").alias("src"))
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    dn = d.crossJoin(F.broadcast(nn))
    parts = [
        dn.select(
            "src",
            F.pmod(F.col("src") * a + b, F.col("_n")).alias("dst"),
        )
        for a, b in coefs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering numerator/denominator
    over an undirected graph given as a (src, dst) edge list (direction,
    duplicates and self-loops in the input are normalized away first).

    Algorithm: degree-ordered orientation (the MapReduce-era standard —
    Suri & Vassilvitskii "Counting Triangles and the Curse of the Last
    Reducer", WWW'11). Every undirected edge is oriented from its
    lower-(degree, id) endpoint to its higher one; each triangle
    {a,b,c} then appears EXACTLY once as the wedge a->b, a->c plus the
    closing oriented edge b->c. Why this is the 100-TB shape:

      - wedge generation self-joins the oriented list on ``src``, so a
        node produces outdeg^2 wedges — and orientation caps every
        outdeg at O(sqrt(m)) for arbitrary skew (a 10^8-degree hub in a
        web graph emits its wedges from the LOW-degree side, never
        hub^2). Total wedge volume is O(m^1.5) worst case, the join is
        co-partitioned on ``src`` (one exchange feeds both sides).
      - closing is a broadcast-free semi-ish inner join of wedges
        against the oriented edge list on (b, c) — no per-node state,
        no collect.

    Output: (node, degree, n_triangles, n_wedges) where n_wedges =
    degree*(degree-1)/2 — the local clustering coefficient is the
    integer pair n_triangles/n_wedges, kept unreduced so cross-engine
    comparison stays exact. Nodes with no triangles report 0.
    """
    # normalize: undirected support, self-loops out, one row per edge
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).cast("long").alias("u"),
            F.greatest(F.col("src"), F.col("dst")).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sess = edges.sparkSession
    n_parts = sess.sparkContext.defaultParallelism
    und = und.repartition(n_parts, "u").persist()
    und.count()  # one normalization pass feeds degrees + orientation

    # explode, not unionAll: a union of two projections evaluates the
    # child twice; explode emits both endpoints in ONE pass
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )

    # orientation order: (degree, id) lexicographic — ties broken by id
    # so the order is total and every edge gets exactly one direction
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    oriented = oriented.repartition(n_parts, "a").persist()
    oriented.count()

    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    # the closing edge, id-normalized, is exactly the undirected edge
    # set (already distinct + persisted) — no extra shuffle to build it
    closing = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"])  # rows (a, x, y): one per triangle

    # explode the triangle's 3 corners in one pass — a 3-way unionAll
    # of projections would REPLAY the wedge-closing join three times
    # (measured before the rewrite: 3x the join stages in the plan)
    per_node = (
        tris.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.expr("degree * (degree - 1) DIV 2").alias("n_wedges"),
        )
    )
    # both persisted frames stay cached until the caller's action has
    # run (unpersisting here would force a full recompute of the
    # normalization); callers drop them via catalog.clearCache()
    return out


def k_core(
    edges: DataFrame,
    k: int,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node whose degree (in the CURRENT remaining graph) is < k
    until none remains, and return the survivors — the densely-
    interlinked subgraph. In a web/link-graph curation pipeline the
    2-core/3-core separates organically cross-linked sites from
    spam-farm stars and isolated chains (a hub with a million leaf
    followers has huge degree but its leaves peel in round 1 and the
    hub follows), the structural complement of `pagerank` (volume)
    and `triangle_count` (local density).

    Semantics: undirected; direction, duplicate edges and self-loops
    are normalized away first (degree = distinct-neighbor count).
    Peeling is SIMULTANEOUS per round (all deg<k nodes drop together)
    — the classic chain ...-a-b-c-... therefore peels from the ends
    inward, one layer per round, which is why the loop is bounded by
    ``max_rounds`` and STOPS EARLY the first round the edge count is
    unchanged (the fixpoint test; the result is then exactly the
    k-core, independent of round schedule — peeling is confluent).

    Scale shape: each round is one degree aggregate (explode both
    endpoints, hash-agg — map-side combined) plus two left-semi joins
    of the edge list against the ≥k survivor set, lineage truncated
    per round (``session.checkpoint``, as in `pagerank` and
    `dedup_clusters`: durable once ``sc.setCheckpointDir`` is set, so
    one lost executor doesn't kill a multi-hour run). Rounds needed =
    the graph's "peeling depth", typically O(10) for web graphs; each
    round's cost shrinks with the surviving edge set.

    Output: (node, degree) — survivors only, with their k-core
    degree (all ≥ k by construction); empty frame when the k-core is
    empty. The oracle unrolls the same rounds in SQL; tests assert
    the fixture converges well inside ``max_rounds``.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur = checkpoint(und)
    prev = cur.count()
    for _ in range(max_rounds):
        if prev == 0:
            break
        deg = (
            cur.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= int(k)).select("node")
        nxt = cur.join(
            keep.select(F.col("node").alias("u")), "u", "left_semi"
        ).join(keep.select(F.col("node").alias("v")), "v", "left_semi")
        nxt = checkpoint(nxt)
        cnt = nxt.count()
        cur = nxt
        if cnt == prev:
            break
        prev = cnt
    return (
        cur.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )

