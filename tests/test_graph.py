"""Graph analytics (operators/graph.py): integer-exact PageRank hand
checks — fixed points, no-in-link teleport floor, parallel-edge
out-degree — plus the fixture builder's determinism."""

from pyspark.sql import functions as F

from validate_spark.operators.graph import SCALE, pagerank, synthetic_doc_links


def _ranks(spark, edges, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["rank_e12"]
        for r in pagerank(e, **kw).collect()
    }


def test_two_node_cycle_is_a_fixed_point(spark):
    # 1<->2: perfectly symmetric, every round returns 0.5 / 0.5
    # (integer replay: base 75e9 + damped half 425e9 = 500e9 = SCALE/2)
    r = _ranks(spark, [(1, 2), (2, 1)], n_iters=3)
    assert r == {1: SCALE // 2, 2: SCALE // 2}


def test_no_inlink_node_keeps_teleport_floor(spark):
    # 1 -> 2 only: node 1 has no in-edges, so after ONE round its rank
    # is exactly the teleport base 15*SCALE DIV (100*2)
    r = _ranks(spark, [(1, 2)], n_iters=1)
    base = 15 * SCALE // 200
    assert r[1] == base
    assert r[2] == base + ((SCALE // 2) * 85 // 100) // 1
    # round 2: node 2's in-flow is the damped base of node 1
    r2 = _ranks(spark, [(1, 2)], n_iters=2)
    assert r2[1] == base
    assert r2[2] == base + (base * 85 // 100) // 1


def test_parallel_edges_split_outdegree(spark):
    # 1 -> 2 twice and 1 -> 3 once: outdeg(1) = 3 edge slots, node 2
    # receives two shares, node 3 one share
    r = _ranks(spark, [(1, 2), (1, 2), (1, 3)], n_iters=1)
    third = ((SCALE // 3) * 85 // 100) // 3
    base = 15 * SCALE // 300
    assert r[2] == base + 2 * third
    assert r[3] == base + third


def test_total_mass_is_bounded_and_positive(spark):
    docs = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    e = synthetic_doc_links(docs)
    assert e.count() == 150  # 3 links per doc, deterministic
    out = pagerank(e, n_iters=3)
    rows = out.collect()
    assert len(rows) == 50
    total = sum(r["rank_e12"] for r in rows)
    # truncating DIVs only LOSE mass: total <= SCALE, and every node
    # keeps at least the teleport floor
    assert total <= SCALE
    assert all(r["rank_e12"] >= 15 * SCALE // (100 * 50) for r in rows)


def test_bpe_merge_stats_hand_checked(spark):
    from validate_spark.operators.textstats import bpe_merge_stats

    docs = spark.createDataFrame(
        [(1, "abab abab xy"), (2, "abab")], "doc_id long, text string"
    )
    rows = {(r["lhs"], r["rhs"]): r["pair_count"]
            for r in bpe_merge_stats(docs, k=10).collect()}
    # vocabulary: abab (wc=3), xy (wc=1); pairs inside 'abab' per
    # occurrence: ab, ba, ab -> ab:2*3, ba:1*3; xy -> 1
    assert rows == {("a", "b"): 6, ("b", "a"): 3, ("x", "y"): 1}


def test_token_entropy_uniform_and_degenerate(spark):
    import math

    from validate_spark.operators.textstats import token_entropy

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a")], "doc_id long, text string"
    )
    rows = {r["key"]: r for r in token_entropy(docs).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_distinct"] == 4
    assert rows[1]["entropy_nats"] == round(math.log(4), 6)
    assert rows[2]["n_tokens"] == 4 and rows[2]["n_distinct"] == 1
    assert rows[2]["entropy_nats"] == 0.0


# ---------------------------------------------------------------- triangles

def _tri(spark, edges):
    from validate_spark.operators.graph import triangle_count

    e = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r["node"]: (r["degree"], r["n_triangles"], r["n_wedges"])
        for r in triangle_count(e).collect()
    }
    spark.catalog.clearCache()
    return out


def test_triangle_k4_counts(spark):
    # complete graph on 4 nodes: every node sits in C(3,2) = 3 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    out = _tri(spark, k4)
    assert out == {i: (3, 3, 3) for i in range(4)}


def test_triangle_normalization(spark):
    # duplicates, reversed direction, self-loop: one triangle 1-2-3,
    # node 4 dangling off node 1 with zero triangles
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2), (1, 4)]
    out = _tri(spark, edges)
    assert out[1] == (3, 1, 3)
    assert out[2] == (2, 1, 1)
    assert out[3] == (2, 1, 1)
    assert out[4] == (1, 0, 0)


def test_triangle_free_graph(spark):
    # 4-cycle: wedges exist, triangles don't
    out = _tri(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert all(t == 0 for _, t, _ in out.values())
    assert all(w == 1 for _, _, w in out.values())


# ----------------------------------------------------------------- k_core

def _kcore(spark, edges, k, **kw):
    from validate_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["degree"] for r in k_core(df, k, **kw).collect()}


def test_k_core_peels_pendant_chain(spark):
    # triangle 1-2-3 with a chain 3-4-5-6 hanging off: the 2-core is
    # exactly the triangle — the chain peels from the END inward
    # (node 6 first), taking 3 simultaneous rounds
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
    out = _kcore(spark, edges, 2)
    assert out == {1: 2, 2: 2, 3: 2}


def test_k_core_star_hub_peels_with_leaves(spark):
    # a degree-8 hub whose leaves all peel in round 1 — the hub's huge
    # degree does not save it (this is the spam-star property)
    star = [(0, i) for i in range(1, 9)]
    tri = [(10, 11), (11, 12), (12, 10)]
    out = _kcore(spark, star + tri, 2)
    assert out == {10: 2, 11: 2, 12: 2}


def test_k_core_empty_and_normalization(spark):
    # path graph: 2-core empty; duplicates/direction/self-loops ignored
    out = _kcore(spark, [(1, 2), (2, 1), (2, 3), (2, 2)], 2)
    assert out == {}
    # whole graph already a k-core: early-stops round 1, unchanged
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert _kcore(spark, k4, 3) == {i: 3 for i in range(4)}
