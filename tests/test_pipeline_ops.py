"""Tests for the training-data pipeline operators: text analysis,
dedup (exact / MinHash-LSH / SimHash / embedding), similarity search,
and multimodal plumbing."""

from itertools import combinations

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import Row, functions as F

from validate_spark.operators import textstats as ts
from validate_spark.operators import dedup as dd
from validate_spark.operators import similarity as sim
from validate_spark.operators import multimodal as mm


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("1", "the cat sat on the mat and it is that for the win"),
            ("2", "der hund ist nicht zu haus und das ist gut"),
            ("3", "le chat est dans la maison et les chiens pour"),
            ("4", "el perro en la casa con una mesa por los gatos"),
            ("5", "xyzzy plugh"),
            ("6", None),
        ],
        "id string, text string",
    )
    got = {r["id"]: r["l"] for r in df.select("id", ts.lang_id(F.col("text")).alias("l")).collect()}
    assert got == {"1": "en", "2": "de", "3": "fr", "4": "es", "5": "und", "6": "und"}


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c", 3), ("", 0), ("  ", 0), ("one", 1), (None, 0)],
        "text string, want int",
    )
    rows = df.select(
        "want", ts.whitespace_token_count(F.col("text")).alias("got")
    ).collect()
    for r in rows:
        assert r["got"] == r["want"]
    bpe = df.select(ts.bpe_token_count(F.lit("don't stop-me now!")).alias("n")).first()["n"]
    # don / ' / t / stop / - / me / now / !  → 8
    assert bpe == 8


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("a", "The quick brown fox is in the barn with it."),
         ("b", "the quick brown fox IS in the barn with it")],
        "id string, text string",
    )
    out = ts.annotate(df, "text").select("id", "quality", "fp").collect()
    by_id = {r["id"]: r for r in out}
    # normalization folds case and punctuation → identical fingerprints
    assert by_id["a"]["fp"] == by_id["b"]["fp"]
    assert 0.0 <= by_id["a"]["quality"] <= 1.0


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [("d1", "Hello, World!"), ("d2", "hello world"), ("d3", "unrelated text")],
        "doc_id string, text string",
    )
    groups = dd.exact_duplicates(df).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["dup_count"] == 2 and g["keep_key"] == "d1" and g["dup_keys"] == ["d2"]
    kept = dd.drop_exact_duplicates(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == ["d1", "d3"]


@given(
    st.lists(
        st.one_of(st.none(), st.lists(st.integers(0, 4), max_size=6)),
        min_size=1,
        max_size=6,
    )
)
@example([[], [3], None, [2, 2, 1, 2]])
@settings(max_examples=20, deadline=None)
def test_upper_pairs_matches_combinations(spark, arrs):
    """upper_pairs is itertools.combinations(arr, 2), in order, per
    row — with a keep predicate it is the filtered subsequence; a NULL
    array stays NULL. The rows are an inline VALUES table, so each
    example evaluates on the driver without launching a job."""
    lit = lambda a: (  # noqa: E731
        "NULL" if a is None else f"array({', '.join(map(str, a))})"
    )
    rows = ", ".join(f"({i}, CAST({lit(a)} AS array<int>))" for i, a in enumerate(arrs))
    df = spark.sql(f"SELECT * FROM VALUES {rows} AS t(i, arr)")
    pair = lambda x, y: F.struct(x.alias("a"), y.alias("b"))  # noqa: E731
    got = df.select(
        "i",
        dd.upper_pairs(F.col("arr"), pair).alias("all"),
        dd.upper_pairs(F.col("arr"), pair, keep=lambda x, y: x < y).alias("lt"),
    ).collect()
    assert len(got) == len(arrs)
    for r in got:
        arr = arrs[r["i"]]
        if arr is None:
            assert r["all"] is None and r["lt"] is None
            continue
        want = list(combinations(arr, 2))
        assert [tuple(p) for p in r["all"]] == want
        assert [tuple(p) for p in r["lt"]] == [p for p in want if p[0] < p[1]]


def test_minhash_lsh_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark shuffle partitions and joins"
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far), ("d", base)],
        "doc_id string, text string",
    )
    pairs = dd.minhash_dedup_pairs(df, threshold=0.5).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert ("a", "b") in got and ("a", "d") in got and ("b", "d") in got
    assert not any("c" in p for p in got)
    # exact dup pair has jaccard exactly 1.0
    jac = {(r["a"], r["b"]): r["jaccard"] for r in pairs}
    assert jac[("a", "d")] == 1.0


def test_dedup_clusters_label_propagation(spark):
    # two components: {a,b,c} via chain a-b, b-c; {x,y}
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "a string, b string"
    )
    got = {(r["member"], r["cluster"]) for r in dd.dedup_clusters(pairs).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
    }


def test_dedup_clusters_long_chain(spark):
    # diameter > 1 iteration: chain of 6 nodes converges to min label
    edges = [(f"n{i}", f"n{i+1}") for i in range(5)]
    pairs = spark.createDataFrame(edges, "a string, b string")
    got = {(r["member"], r["cluster"]) for r in dd.dedup_clusters(pairs).collect()}
    assert got == {(f"n{i}", "n0") for i in range(6)}


def test_dedup_clusters_max_iter_bounds_rounds_after_init(spark):
    """Initialization runs propagation round 1, so max_iter=k returns
    the labels of round k+1: on a chain, each node's minimum within
    k+1 hops."""
    edges = [(f"n{i}", f"n{i+1}") for i in range(5)]
    pairs = spark.createDataFrame(edges, "a string, b string")

    def labels(max_iter):
        return {
            r["member"]: r["cluster"]
            for r in dd.dedup_clusters(pairs, max_iter=max_iter).collect()
        }

    assert labels(0) == {f"n{i}": f"n{max(i - 1, 0)}" for i in range(6)}
    assert labels(1) == {f"n{i}": f"n{max(i - 2, 0)}" for i in range(6)}
    with pytest.raises(ValueError, match="max_iter"):
        dd.dedup_clusters(pairs, max_iter=-1)


def test_embedding_pair_cos_row_bound(spark, monkeypatch):
    """Over PAIR_COS_MAX_ROWS rows the scorer refuses before scoring
    and names the scale path; at the bound it scores."""
    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(dd, "PAIR_COS_MAX_ROWS", 3)
    with pytest.raises(ValueError, match="embedding_neardup_lsh"):
        dd.embedding_pair_cos(df, threshold=0.0, dim=2)
    monkeypatch.setattr(dd, "PAIR_COS_MAX_ROWS", 4)
    assert dd.embedding_pair_cos(df, threshold=0.0, dim=2).count() == 6


def test_simhash_neardup(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok7 ", "tok7x ")
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], "doc_id string, text string"
    )
    pairs = {(r["a"], r["b"]): r["hamming"] for r in dd.simhash_candidates(df, max_hamming=16).collect()}
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def test_embedding_neardup_and_lsh(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    bf = {(r["a"], r["b"]) for r in dd.embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert bf == {(1, 2)}
    lsh = {(r["a"], r["b"]) for r in dd.embedding_neardup_lsh(df, threshold=0.95, n_planes=4).collect()}
    # sign-LSH: identical-direction vectors always share every bucket
    assert lsh == {(1, 2)}


def test_embedding_lsh_multitable_recall_monotone(spark):
    """OR-banding: table 0 of the T-table operator is the single-table
    operator's table (sequential rng draws), so the candidate set is
    monotone in n_tables; on a moderate-similarity fixture extra
    tables recover pairs table 0 misses, and every emitted pair still
    passes the exact-cosine verify (candidates ⊆ truth)."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 16))
    rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(40)]
    # blend neighbors -> cos≈0.71 moderate pairs
    rows += [
        Row(vec_id=100 + i, embedding=[float(x) for x in base[i] + base[i + 1]])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    truth = {
        (r["a"], r["b"])
        for r in dd.embedding_neardup_pairs(df, threshold=0.5).collect()
    }
    got = {}
    for t in (1, 2, 4):
        got[t] = {
            (r["a"], r["b"])
            for r in dd.embedding_neardup_lsh(
                df, threshold=0.5, n_planes=4, seed=7, dim=16, n_tables=t
            ).collect()
        }
        assert got[t] <= truth  # verify step: no false positives ever
    assert got[1] <= got[2] <= got[4]  # monotone in tables
    assert len(got[4]) > len(got[1])  # extra tables recover missed pairs

    import pytest as _pt

    with _pt.raises(ValueError):
        dd.embedding_neardup_lsh(df, n_tables=0, dim=16)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_brute_force_topk_deterministic(spark, emb):
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = sorted(map(tuple, sim.brute_force_topk(emb, q, k=4).collect()))
    b = sorted(map(tuple, sim.brute_force_topk(emb, q, k=4).collect()))
    assert a == b and len(a) == 12
    ranks = {r[2] for r in a}
    assert ranks == {1, 2, 3, 4}


def test_ivf_full_probe_equals_exact(spark, emb):
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = sim.sample_centroids(emb, 4)
    exact = sim.brute_force_topk(emb, q, k=5)
    approx = sim.ivf_topk(emb, q, cents, k=5, nprobe=4)  # probe ALL buckets
    assert sim.recall_at_k(approx, exact) == 1.0


def test_ivf_partial_probe_recall(spark, emb):
    q = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = sim.sample_centroids(emb, 8)
    exact = sim.brute_force_topk(emb, q, k=5)
    approx = sim.ivf_topk(emb, q, cents, k=5, nprobe=3)
    assert sim.recall_at_k(approx, exact) >= 0.3  # random vectors: weak but nonzero


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_media_attach_sniff_meta(spark):
    df = spark.createDataFrame([(str(i),) for i in range(30)], "doc_id string")
    m = mm.media_metadata(mm.attach_fake_media(df))
    rows = m.select("doc_id", "media_meta").collect()
    mimes = {r["media_meta"]["mime"] for r in rows}
    assert mimes <= {"image/jpeg", "image/png", "audio/wav"}
    assert len(mimes) > 1  # the kind hash spreads
    for r in rows:
        assert r["media_meta"]["n_bytes"] > 48
        assert 1 <= r["media_meta"]["width"] <= 1920


def test_extract_media_features_schema_and_batch(spark):
    df = mm.attach_fake_media(
        spark.createDataFrame([(str(i),) for i in range(20)], "doc_id string")
    )
    feats = mm.extract_media_features(df)
    assert feats.schema == mm.FEATURES_SCHEMA
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_bytes"] > 0 and 0.0 <= r["feat_mean"] <= 255.0
        assert r["mime"] in {"image/jpeg", "image/png", "audio/wav"}


def test_decode_real_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image_real(b"\xff\xd8\xff")


def test_sample_frames(spark):
    df = mm.attach_fake_media(
        spark.createDataFrame([("v1",)], "doc_id string")
    )
    frames = mm.sample_frames(df, every_n=2).collect()
    # 51-byte payload → 3 frames → keep idx 0, 2
    idxs = sorted(r["frame_idx"] for r in frames)
    assert idxs[0] == 0 and all(i % 2 == 0 for i in idxs)
    assert all(len(r["frame_bytes"]) == 16 for r in frames)


def test_exact_dedup_hot_fingerprint_capped(spark):
    # a degenerate fingerprint (boilerplate duplicated en masse) must
    # never materialize every duplicate key in one array: the report
    # caps the key sample and surfaces the remainder as n_truncated
    rows = [(f"d{i:04d}", "same boilerplate page") for i in range(500)]
    rows.append(("zzz", "a unique document"))
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(8)
    g = dd.exact_duplicates(df, max_keys=10).collect()
    assert len(g) == 1
    row = g[0]
    assert row["dup_count"] == 500
    assert row["keep_key"] == "d0000"
    # sorted sample of exactly max_keys losers, truncation explicit
    assert row["dup_keys"] == [f"d{i:04d}" for i in range(1, 11)]
    assert row["n_truncated"] == 500 - 1 - 10



def test_ngram_jaccard_exact_join(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        ("d1", base),
        ("d2", base),                          # identical -> J = 1.0
        ("d3", base.replace("lazy", "sleepy")),  # near-dup
        ("d4", "completely different text about spark aggregation plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    assert got[("d1", "d2")] == 1.0
    assert ("d1", "d4") not in got and ("d2", "d4") not in got
    assert 0.5 <= got[("d1", "d3")] < 1.0


def test_ngram_jaccard_prefix_filter_full_recall(spark):
    # property check vs in-test brute force: the prefix-filtered join
    # must find EVERY pair >= threshold (the AllPairs recall guarantee)
    docs = []
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for i in range(12):
        # rotate + perturb so pair similarities spread across [0, 1]
        toks = words[i % 4:] + words[: i % 4] + ([f"x{i}"] if i % 3 else [])
        docs.append((f"d{i:02d}", " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    t = 0.6
    got = {(r["a"], r["b"]) for r in dd.ngram_jaccard_pairs(df, n=3, threshold=t).collect()}

    gsets = {
        r["k"]: set(r["grams"])
        for r in dd.word_ngram_frame(df, n=3).collect()
    }
    keys = sorted(gsets)
    want = set()
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            j = len(gsets[a] & gsets[b]) / len(gsets[a] | gsets[b])
            if round(j, 6) >= t:
                want.add((a, b))
    assert got == want and want  # non-trivial: at least one pair exists


def test_exact_dedup_all_null_keys_never_abort(spark):
    # one duplicate group whose keys are ALL NULL must degrade to a
    # NULL keep_key and empty sample — not an ANSI array-index abort
    df = spark.createDataFrame(
        [(None, "same text"), (None, "same text"), ("d1", "other")],
        "doc_id string, text string",
    )
    rows = dd.exact_duplicates(df, max_keys=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["dup_count"] == 2 and r["keep_key"] is None
    assert r["dup_keys"] == [] and r["n_truncated"] == 1


def test_ngram_jaccard_edge_inputs(spark):
    # empty and NULL texts are excluded; single-token docs still match
    # exactly (whole-token-sequence gram)
    df = spark.createDataFrame(
        [("a", ""), ("b", None), ("c", "one"), ("d", "one"), ("e", "x y")],
        "doc_id string, text string",
    )
    got = sorted((r["a"], r["b"]) for r in dd.ngram_jaccard_pairs(df, threshold=0.5).collect())
    assert got == [("c", "d")]


# --- decontamination / sampling / PII scrub (round 3) ----------------------

def test_contamination_report_semantics(spark):
    from validate_spark.operators import decontam as dc

    corpus = spark.createDataFrame(
        [
            ("1", "alpha beta gamma delta epsilon"),   # fully in bench
            ("2", "alpha beta gamma zeta eta theta"),  # partial overlap
            ("3", "one two three four five six"),      # disjoint
            ("4", ""),                                  # no grams → no row
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon")], "doc_id string, text string"
    )
    rep = {
        r["k"]: r
        for r in dc.contamination_report(corpus, bench, n=3, threshold=0.5).collect()
    }
    assert set(rep) == {"1", "2", "3"}
    assert rep["1"]["overlap"] == 1.0 and rep["1"]["contaminated"]
    # doc 2: grams {ab g, b g z, g z e, z e t} → 1 of 4 hits
    assert rep["2"]["n_hit"] == 1 and not rep["2"]["contaminated"]
    assert rep["3"]["n_hit"] == 0 and rep["3"]["overlap"] == 0.0


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark gram set must reach the corpus as a BROADCAST
    (one array row → BroadcastNestedLoopJoin since r6) and the per-doc
    hit count must stay row-local: a shuffle of the 10^12-doc exploded
    gram stream — either to co-locate with a tiny eval set or to
    groupBy the count back per doc — would be THE scale bug here."""
    from validate_spark.operators import decontam as dc

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    rep = dc.contamination_report(docs, bench)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # corpus side: scan → gram build → row-local intersect, shuffle-free
    # (the only exchanges belong to the bench-side distinct/aggregate)
    assert "hashpartitioning(k" not in plan


def test_deterministic_and_stratified_sampling(spark):
    from validate_spark.operators import sampling as sp

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"] for r in sp.deterministic_sample(docs, 0.3, "doc_id", seed=1).collect()}
    b = {r["doc_id"] for r in sp.deterministic_sample(docs, 0.3, "doc_id", seed=1).collect()}
    assert a == b and 0 < len(a)  # replay-identical
    c = {r["doc_id"] for r in sp.deterministic_sample(docs, 0.3, "doc_id", seed=2).collect()}
    assert a != c  # seed-sensitive
    # nested fractions: monotone — a 0.1 sample is a subset of the 0.3
    d = {r["doc_id"] for r in sp.deterministic_sample(docs, 0.1, "doc_id", seed=1).collect()}
    assert d <= a

    strat = sp.stratified_sample(docs, "lang", {"en": 1.0}, "doc_id")
    langs = {r["lang"] for r in strat.select("lang").distinct().collect()}
    assert langs == {"en"}  # dict doubles as allowlist
    # map-side only: no exchange in the sampling filter
    plan = strat._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sp.deterministic_sample(docs, 1.5, "doc_id")


def test_pii_scrub_filters(spark):
    from validate_spark import RuleSet, validate

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-site.org now"),
            (2, "see https://x.io/p?q=1 and http://y.z/a"),
            (3, "call +44 (0)20 7946-0958 ok"),
            (4, "ip 10.0.255.1 here"),
            (5, "clean text"),
        ],
        "rid int, t string",
    )
    rs = RuleSet(
        rules={"t": "required"},
        filters={"t": "scrubEmail|scrubUrl|scrubPhone|scrubIp"},
    )
    got = {
        r["rid"]: r["t"]
        for r in validate(df, rs, key_cols=["rid"]).updated_rows().collect()
    }
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "see [URL] and [URL]"
    assert got[3] == "call [PHONE] ok"
    assert got[4] == "ip [IP] here"
    assert got[5] == "clean text"


def test_repetition_signals(spark):
    from validate_spark.operators.textstats import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 6 toks, 2 distinct, bigrams all dup
            (2, "one two three four"), # no repetition
            (3, ""),                   # empty → zeros
            (4, None),                 # NULL → zeros
            (5, "xx yy"),              # n=2 < 3 → gram fracs 0
        ],
        "rid int, text string",
    )
    sig = repetition_signals(F.col("text"))
    out = {r["rid"]: r for r in df.select("rid", *[v.alias(k) for k, v in sig.items()]).collect()}
    assert out[1]["n_tokens"] == 6
    assert out[1]["type_token_ratio"] == round(2 / 6, 6)
    # bigrams: [a b, b a, a b, b a, a b] → 2 distinct of 5 → dup 0.6
    assert out[1]["dup_bigram_frac"] == 0.6
    assert out[2]["dup_bigram_frac"] == 0.0 and out[2]["type_token_ratio"] == 1.0
    assert out[3]["n_tokens"] == 0 and out[3]["mean_word_len"] == 0.0
    assert out[4]["n_tokens"] == 0
    assert out[5]["dup_bigram_frac"] == 0.0 and out[5]["mean_word_len"] == 2.0


def test_dedup_retain(spark):
    from validate_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (9, "z")],
        "doc_id int, text string",
    )
    clusters = spark.createDataFrame(
        [("1", "1"), ("2", "1"), ("3", "1")], "member string, cluster string"
    )
    kept = {r["doc_id"] for r in dd.dedup_retain(corpus, clusters).collect()}
    # canonical of the cluster (1) + unclustered docs (4, 9)
    assert kept == {1, 4, 9}


def test_psi_drift(spark):
    from validate_spark.operators import drift as dr

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    same = dr.numeric_drift(
        ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1"),
        "value", lo=0.0, hi=500.0, method="psi",
    )
    assert same.method == "psi" and not same.drifted
    shifted = dr.numeric_drift(
        ev, ev.withColumn("value", F.col("value") * 3 + 200),
        "value", lo=0.0, hi=500.0, method="psi",
    )
    assert shifted.drifted and shifted.statistic > 0.2
    # closed-form sanity: identical histograms → psi 0
    assert dr.psi_from_histograms([5, 5], [5, 5]) == 0.0


def test_annotate_repetition_matches_expression_form(spark):
    """The staged DataFrame path must agree value-for-value with the
    expression-level repetition_signals API."""
    from validate_spark.operators.textstats import (
        annotate_repetition,
        repetition_signals,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    sig = repetition_signals(F.col("text"))
    a = docs.select("doc_id", *[v.alias(k) for k, v in sig.items()])
    b = annotate_repetition(docs).select("doc_id", *sig.keys())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_round3_operator_edge_inputs(spark):
    """Degenerate inputs must degrade, not abort (the one-bad-row-in-
    10^12 rule): empty benchmark, empty corpus, empty cluster frame,
    all-NULL text, empty events for PSI."""
    from validate_spark.operators import decontam as dc
    from validate_spark.operators import dedup as dd
    from validate_spark.operators import drift as dr
    from validate_spark.operators import sampling as sp
    from validate_spark.operators.textstats import annotate_repetition

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None)], "doc_id int, text string"
    )
    empty_docs = docs.filter("doc_id < 0")

    # empty benchmark → no gram ever collides, zero contaminated
    rep = dc.contamination_report(docs, empty_docs)
    assert rep.filter("contaminated").count() == 0
    # empty corpus → empty report
    assert dc.contamination_report(empty_docs, docs).count() == 0

    # empty cluster frame → everything retained
    empty_clusters = spark.createDataFrame([], "member string, cluster string")
    assert dd.dedup_retain(docs, empty_clusters).count() == 2

    # all-NULL text repetition → zeros, no abort
    nulls = spark.createDataFrame([(1, None), (2, None)], "doc_id int, text string")
    assert annotate_repetition(nulls).filter("n_tokens != 0").count() == 0

    # PSI with an empty side → 0.0, not NaN/abort
    assert dr.psi_from_histograms([0, 0], [1, 2]) == 0.0
    assert dr.psi_from_histograms([], []) == 0.0

    # sampling at the extremes
    assert sp.deterministic_sample(docs, 0.0, "doc_id").count() == 0
    assert sp.deterministic_sample(docs, 1.0, "doc_id").count() == 2
    # stratified with empty dict → allowlist admits nothing
    assert sp.stratified_sample(docs, "text", {}, "doc_id").count() == 0


def test_weighted_mix_oversampling(spark):
    from validate_spark.operators.sampling import weighted_mix

    df = spark.createDataFrame(
        [(i, "hi" if i % 2 == 0 else "lo") for i in range(200)],
        "doc_id long, src string",
    )
    mix = weighted_mix(df, "src", {"hi": 2.5, "lo": 0.5}, "doc_id", seed=3)
    rows = mix.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append((r["doc_id"], r["mix_copy"]))
    # every hi row appears 2 or 3 times; every lo row 0 or 1 times
    from collections import Counter

    hi_counts = Counter(k for k, _ in by_src["hi"])
    assert set(hi_counts.values()) <= {2, 3}
    lo_counts = Counter(k for k, _ in by_src.get("lo", []))
    assert set(lo_counts.values()) <= {1}
    # expected copies ~ w: hi ≈ 250, lo ≈ 50 (md5-gated, deterministic)
    assert 200 <= len(by_src["hi"]) <= 300
    assert 20 <= len(by_src.get("lo", [])) <= 80
    # (key, copy) is a primary key
    assert len(rows) == len({(r["doc_id"], r["mix_copy"]) for r in rows})
    # replay-deterministic: second run identical
    again = weighted_mix(df, "src", {"hi": 2.5, "lo": 0.5}, "doc_id", seed=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # absent stratum dropped (allowlist semantics)
    only_hi = weighted_mix(df, "src", {"hi": 1.0}, "doc_id", seed=3)
    assert only_hi.filter("src = 'lo'").count() == 0


def test_blocked_url_docs_normalization(spark):
    from validate_spark.operators.decontam import blocked_url_docs

    df = spark.createDataFrame(
        [
            (1, "go to https://Spam.Example.com:443/buy and http://spam.example.com/x"),
            (2, "clean text with https://fine.example.net/ok"),
            (3, "tracker http://tracker.example.org:8080/p?q=1 twice tracker https://tracker.example.org/r"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    bl = spark.createDataFrame(
        [("spam.example.com",), ("TRACKER.example.org",)], "domain string"
    )
    got = {r["k"]: (list(r["hits"]), r["n_hits"]) for r in blocked_url_docs(df, bl).collect()}
    # case-folded + port-stripped + deduped: doc 1 hits spam once
    assert got == {
        "1": (["spam.example.com"], 1),
        "3": (["tracker.example.org"], 1),
    }


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    from validate_spark.operators import dedup as dd

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a string, b string"
    )
    got = {
        (r["member"], r["cluster"])
        for r in dd.dedup_clusters(pairs, reliable=True).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_pack_sequences_semantics(spark):
    from validate_spark.operators.packing import pack_sequences, packing_report

    df = spark.createDataFrame(
        [(i, 100 + (i % 7) * 50) for i in range(300)] + [(999, None)],
        "doc_id long, n_tok int",
    )
    packed = pack_sequences(df, "n_tok", "doc_id", budget=500, n_streams=4, seed=1)
    rows = packed.collect()
    assert len(rows) == 301  # every doc assigned, NULL tokens included
    assert {r["key"] for r in rows} == {r["doc_id"] for r in df.collect()}
    # per (stream, chunk): start offsets < (chunk+1)*budget and the
    # overflow is bounded by one document's tokens
    rep = {
        (r["stream"], r["chunk_id"]): (r["n_docs"], r["n_tokens"])
        for r in packing_report(packed, budget=500).collect()
    }
    max_tok = 100 + 6 * 50
    for (s, c), (n_docs, n_tokens) in rep.items():
        assert n_tokens < 500 + max_tok
    # chunks are contiguous per stream (0..max, no gaps)
    from collections import defaultdict

    by_stream = defaultdict(set)
    for (s, c) in rep:
        by_stream[s].add(c)
    for s, cs in by_stream.items():
        assert cs == set(range(max(cs) + 1))
    # deterministic: identical assignment on re-run
    again = pack_sequences(df, "n_tok", "doc_id", budget=500, n_streams=4, seed=1)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_unigram_logprob_scores(spark):
    from validate_spark.operators.textstats import (
        build_background_vocab,
        unigram_logprob_scores,
    )

    bg = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox"),        # fully in-vocab
            (2, "zxqv wvut qqqq"),             # fully OOV gibberish
            (3, "the lazy zxqv"),              # mixed
            (4, ""),                           # no tokens -> no row
        ],
        "doc_id long, text string",
    )
    vocab = build_background_vocab(bg, min_count=2)
    got = {
        r["k"]: r for r in unigram_logprob_scores(corpus, vocab).collect()
    }
    assert set(got) == {"1", "2", "3"}
    assert got["1"]["oov_rate"] == 0.0
    assert got["2"]["oov_rate"] == 1.0
    assert abs(got["3"]["oov_rate"] - 1 / 3) < 1e-6
    # natural text scores strictly higher than gibberish
    assert got["1"]["mean_logp"] > got["3"]["mean_logp"] > got["2"]["mean_logp"]
    assert got["1"]["n_tok"] == 4


def test_line_dedup_boilerplate(spark):
    """Lines in >= min_docs distinct docs are dropped from EVERY doc;
    short lines are never dropped; position order is preserved in the
    rejoined text; empty docs survive."""
    footer = "All rights reserved by Example Corp"
    rows = [Row(doc_id=i, text=f"unique body {i}\n{footer}\nok") for i in range(5)]
    rows.append(Row(doc_id=99, text=""))
    df = spark.createDataFrame(rows)
    out = {
        r["doc_id"]: r
        for r in dd.line_dedup(df, min_docs=3, min_chars=10).collect()
    }
    for i in range(5):
        # footer (35 chars, 5 docs >= 3) removed; "ok" is short -> kept
        assert out[i]["text_clean"] == f"unique body {i}\nok"
        assert out[i]["n_lines"] == 3 and out[i]["n_removed"] == 1
    assert out[99]["text_clean"] == "" and out[99]["n_removed"] == 0

    # below threshold: nothing removed, text round-trips byte-identical
    out2 = dd.line_dedup(df, min_docs=6, min_chars=10).collect()
    assert all(r["n_removed"] == 0 for r in out2)
    kept = {r["doc_id"]: r["text_clean"] for r in out2}
    assert kept[2] == f"unique body 2\n{footer}\nok"


def test_semantic_contamination(spark):
    """Identical vector -> cos 1.0 contaminated; orthogonal -> not; a
    NULL corpus vector degrades to cos 0.0 (never aborts); an empty
    benchmark yields max_cos NULL / contaminated false."""
    from validate_spark.operators.decontam import semantic_contamination

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, None),
        ],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {
        r["k"]: r
        for r in semantic_contamination(corpus, bench, threshold=0.99).collect()
    }
    assert got[1]["max_cos"] == 1.0 and got[1]["contaminated"]
    assert got[1]["n_hits"] == 1
    assert got[2]["max_cos"] == 0.0 and not got[2]["contaminated"]
    assert got[3]["max_cos"] == 0.0 and not got[3]["contaminated"]

    empty_bench = bench.filter("vec_id < 0")
    got0 = {
        r["k"]: r
        for r in semantic_contamination(corpus, empty_bench).collect()
    }
    assert got0[1]["max_cos"] is None
    assert got0[1]["n_hits"] == 0 and not got0[1]["contaminated"]


def test_incremental_exact_dedup(spark):
    """Three-way classification vs an index: fingerprints already in
    the index are dup_index (every copy); new fingerprints keep the
    min-key copy as novel and the rest as dup_batch. Broadcast and
    shuffle probes agree."""
    from validate_spark.operators.textstats import fingerprint

    batch = spark.createDataFrame(
        [(1, "alpha text"), (2, "alpha text"), (3, "known text"), (4, "fresh")],
        "doc_id long, text string",
    )
    index = (
        spark.createDataFrame([("known text",)], "text string")
        .select(fingerprint(F.col("text")).alias("fp"))
    )
    for bc in (False, True):
        got = {
            r["k"]: r["status"]
            for r in dd.incremental_exact_dedup(
                batch, index, broadcast_index=bc
            ).collect()
        }
        assert got == {
            "1": "novel",
            "2": "dup_batch",
            "3": "dup_index",
            "4": "novel",
        }
    # novel rows are exactly what joins back into the corpus + index
    novel = dd.incremental_exact_dedup(batch, index).filter(
        "status = 'novel'"
    )
    assert novel.count() == 2


def test_deterministic_shuffle(spark):
    """(shard, pos) is a dense 1..n_s ranking per shard, stable across
    input partitionings, and n_shards=1 is a total order."""
    from validate_spark.operators.sampling import deterministic_shuffle

    df = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    out = deterministic_shuffle(df, "doc_id", n_shards=4, seed=3)
    rows = out.collect()
    assert len(rows) == 100
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # layout-independence: a different input partitioning produces the
    # identical (doc_id, shard, pos) assignment
    out2 = deterministic_shuffle(
        df.repartition(7), "doc_id", n_shards=4, seed=3
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in out2.collect()}

    total = deterministic_shuffle(df, "doc_id", n_shards=1, seed=3)
    assert sorted(r["pos"] for r in total.collect()) == list(range(1, 101))

    with pytest.raises(ValueError):
        deterministic_shuffle(df, "doc_id", n_shards=0)


def test_duplicated_spans(spark):
    """A shared 8-token run is one dup window covering 8 positions;
    overlap never double-counts; short docs report zeros; empty docs
    produce no row; w guard raises."""
    rows = [
        Row(doc_id=1, text="a b c d e f g h i j"),
        Row(doc_id=2, text="x y a b c d e f g h z"),
        Row(doc_id=3, text="p q r s t u v w"),
        Row(doc_id=4, text="short text"),
        Row(doc_id=5, text=""),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["k"]: r for r in dd.duplicated_spans(df, w=8, min_docs=2).collect()
    }
    assert set(got) == {"1", "2", "3", "4"}  # empty doc -> no row
    assert got["1"]["n_windows"] == 3 and got["1"]["n_dup_windows"] == 1
    assert got["1"]["covered_tokens"] == 8 and got["1"]["dup_frac"] == 0.8
    assert got["2"]["covered_tokens"] == 8
    assert got["3"]["n_dup_windows"] == 0 and got["3"]["dup_frac"] == 0.0
    assert got["4"]["n_windows"] == 0 and got["4"]["covered_tokens"] == 0

    # overlapping dup windows: doc 6/7 share a 9-token run -> 2 windows
    # whose union is 9 positions, not 16
    over = spark.createDataFrame(
        [
            Row(doc_id=6, text="a b c d e f g h i"),
            Row(doc_id=7, text="a b c d e f g h i zz"),
        ]
    )
    g2 = {
        r["k"]: r for r in dd.duplicated_spans(over, w=8, min_docs=2).collect()
    }
    assert g2["6"]["n_dup_windows"] == 2 and g2["6"]["covered_tokens"] == 9
    assert g2["7"]["n_dup_windows"] == 2 and g2["7"]["covered_tokens"] == 9

    with pytest.raises(ValueError):
        dd.duplicated_spans(df, w=0)


def test_token_share_report(spark):
    """Shares sum to 1, cumulative share is the ROWS-frame running sum
    in (tokens desc, stratum asc) order, over_cap flags the dominant
    stratum."""
    from validate_spark.operators.textstats import token_share_report

    df = spark.createDataFrame(
        [
            ("big", "one two three four five six"),
            ("big", "one two three four"),
            ("mid", "a b c"),
            ("tiny", "x"),
        ],
        "source string, text string",
    )
    rows = token_share_report(df, "source", cap=0.5).collect()
    by = {r["stratum"]: r for r in rows}
    assert by["big"]["n_docs"] == 2 and by["big"]["n_tokens"] == 10
    assert by["big"]["share"] == round(10 / 14, 6) and by["big"]["over_cap"]
    assert not by["mid"]["over_cap"] and not by["tiny"]["over_cap"]
    ordered = sorted(rows, key=lambda r: (-r["n_tokens"], r["stratum"]))
    assert [r["cum_share"] for r in ordered] == sorted(
        r["cum_share"] for r in ordered
    )
    assert ordered[-1]["cum_share"] == 1.0


def test_incremental_minhash_neardup(spark):
    """Exact copies of indexed docs match at 0.99; appended-tail decoys
    and novel texts do not; broadcast and shuffle probes agree; hot
    buckets beyond max_bucket are dropped (degenerate duplicates are
    exact-dedup's job)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ib = dd.minhash_index_bands(docs)
    iss = dd.hashed_shingle_frame(docs)
    i = F.col("doc_id")
    batch = docs.filter(i % 25 < 3).select(
        (i + 100000).alias("doc_id"),
        F.when(i % 25 == 0, F.col("text"))
        .when(i % 25 == 1, F.concat(F.col("text"), F.lit(" totally new trailing words appended")))
        .otherwise(F.concat(F.lit("novel content "), i.cast("string")))
        .alias("text"),
    )
    got = {
        (r["k"], r["index_key"])
        for r in dd.incremental_minhash_neardup(
            batch, ib, iss, threshold=0.99
        ).collect()
    }
    copies = {
        (str(r["doc_id"] + 100000), str(r["doc_id"]))
        for r in docs.filter(i % 25 == 0).select("doc_id").collect()
    }
    assert copies <= got  # every exact copy found
    # no decoy/novel batch doc matches anything
    bad = {k for k, _ in got} - {a for a, _ in copies}
    assert not bad

    got2 = {
        (r["k"], r["index_key"])
        for r in dd.incremental_minhash_neardup(
            batch, ib, iss, threshold=0.99, broadcast_batch=False
        ).collect()
    }
    assert got2 == got

    # max_bucket=0 drops every bucket -> nothing can match
    assert (
        dd.incremental_minhash_neardup(
            batch, ib, iss, threshold=0.99, max_bucket=0
        ).count()
        == 0
    )


def test_duplicated_spans_matches_brute_force(spark):
    """Differential: a seeded random small-vocab corpus (dense window
    collisions) against a pure-Python reimplementation — counts,
    coverage union, and fraction must agree on every doc."""
    import random
    import re as _re

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 12))))
        for i in range(30)
    ]
    w, min_docs = 3, 2

    toks = {}
    for k, t in docs:
        t2 = _re.sub(r"[^a-z0-9]+", " ", (t or "").lower()).strip()
        if t2:
            toks[str(k)] = t2.split(" ")
    windows = {
        k: [(i + 1, " ".join(ws[i : i + w])) for i in range(len(ws) - w + 1)]
        if len(ws) >= w
        else []
        for k, ws in toks.items()
    }
    freq = {}
    for k, wn in windows.items():
        for g in {g for _, g in wn}:
            freq[g] = freq.get(g, 0) + 1
    dup_g = {g for g, c in freq.items() if c >= min_docs}
    expect = {}
    for k, ws in toks.items():
        wn = windows[k]
        dups = [(p, g) for p, g in wn if g in dup_g]
        cov = set()
        for p, _ in dups:
            cov.update(range(p, p + w))
        expect[k] = (len(ws), len(wn), len(dups), len(cov))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["k"]: r for r in dd.duplicated_spans(df, w=w, min_docs=min_docs).collect()
    }
    assert set(got) == set(expect)
    for k, (n_tok, n_win, n_dup, cov) in expect.items():
        r = got[k]
        assert (r["n_tok"], r["n_windows"], r["n_dup_windows"], r["covered_tokens"]) == (
            n_tok, n_win, n_dup, cov
        ), k
        assert abs(r["dup_frac"] - cov / n_tok) < 1.5e-6


# ---------------------------------------------------------------------------
# round-4 late additions: quality cut / quota / centroid audit / overlap
# ---------------------------------------------------------------------------

def test_mh_family_frozen_prefix_and_extension():
    """First 12 constants must never change (stored LSH indexes replay
    signatures); past 12 the family extends deterministically with odd
    multipliers. _MH_A[:24] silently truncating to 12 was the q81 bug."""
    a12, c12 = dd._mh_family(12)
    assert a12 == dd._MH_A and c12 == dd._MH_C
    a24, c24 = dd._mh_family(24)
    assert a24[:12] == dd._MH_A and len(a24) == 24 and len(c24) == 24
    assert all(x % 2 == 1 for x in a24)
    assert len(set(a24)) == 24
    # deterministic: same family every call
    assert dd._mh_family(24) == (a24, c24)


def _ref_shingle_sig(text, k, n_hashes):
    """Plain-Python reference of shingle_sig_udf: distinct rolling
    hashes over UTF-8 bytes (sorted as uint64, emitted as int64) and
    the min over the _mh_family affine family."""
    m = 1 << 64
    b = text.encode("utf-8")
    windows = [b] if len(b) < k else [b[i : i + k] for i in range(len(b) - k + 1)]
    hs = sorted({sum(x * dd._MH_BASE**j for j, x in enumerate(w)) % m for w in windows})
    a, c = dd._mh_family(n_hashes)
    sig = [min((ai * h + ci) % m for h in hs) for ai, ci in zip(a, c)]

    def signed(x):
        return x - m if x >= 1 << 63 else x

    return [signed(h) for h in hs], [signed(x) for x in sig]


def test_shingle_sig_udf_matches_python_reference(spark):
    """One Arrow pass gives the distinct shingle hashes and their
    MinHash signature; both equal a plain-Python reference, and the
    hashes equal the (k, sh) UDF's, so a SETS index and a signed frame
    hash alike."""
    texts = [
        "abc",  # shorter than k: one shingle
        "the quick brown fox jumps over the lazy dog",
        "héllo wörld ☃ naïve café",  # multi-byte UTF-8
        "abcabcabcabcabcabc",  # repeated shingles
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.coalesce(1).select(
        "i",
        dd.shingle_hash_set_udf(5)(F.col("t")).alias("sh"),
        *[dd.shingle_sig_udf(5, n)(F.col("t")).alias(f"s{n}") for n in (12, 24)],
    ).collect()
    for r in rows:
        t = texts[r["i"]]
        for n in (12, 24):
            got = r[f"s{n}"]
            if not t:
                assert got["sh"] == [] and got["sig"] is None
                continue
            sh, sig = _ref_shingle_sig(t, 5, n)
            assert got["sh"] == sh == r["sh"], t
            assert got["sig"] == sig and len(sig) == n, t


def test_dedup_clusters_converged_pairs_one_round_no_count_job(spark, tmp_path):
    """Pairs already at their fixed point after initialization run one
    propagation round, and the round's own checkpoint job observes the
    changed-label count: past the jobs of ``max_iter=0`` (initialization
    alone) the call runs exactly one checkpoint job, and that job is the
    call's last — no job runs after it to test convergence."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # a JVM-local relation: a Python-list frame re-runs a Python scan
    # per action, which would dominate this test's time
    pairs = spark.sql("VALUES ('a', 'b'), ('c', 'd'), ('f', 'e') AS t(a, b)")

    def job_names(group, **kw):
        """Last-stage name of every job the call ran, in job order."""
        sc.setJobGroup(group, group)
        try:
            out = dd.dedup_clusters(pairs, **kw)
        finally:
            sc.setJobGroup("", "")
        names = [
            tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).name
            for j in sorted(tracker.getJobIdsForGroup(group))
        ]
        return out, names

    for reliable in (False, True):
        ckpt = "checkpoint" if reliable else "localCheckpoint"
        _, init = job_names(f"dc_init_{reliable}", max_iter=0, reliable=reliable)
        out, full = job_names(f"dc_full_{reliable}", reliable=reliable)
        ops = [n.split(" at ")[0] for n in full]
        assert ops[len(init):].count(ckpt) == 1, full
        assert ops[-1] == ckpt, full
        got = {(r["member"], r["cluster"]) for r in out.collect()}
        assert got == {("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"), ("e", "e"), ("f", "e")}


def test_quality_quantile_filter_exact(spark):
    from validate_spark.operators import sampling as sp

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = sp.quality_quantile_filter(
        docs, "lang", ts.quality_score(F.col("text")), 3, 10, "doc_id"
    )
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert got.get(lang, 0) == (3 * n) // 10  # floor(0.3 n) exactly
    # ranks are 1..kept_n and the score ordering is descending
    one = kept.filter(F.col("lang") == "en").orderBy("q_rank")
    scores = [r["s"] for r in
              one.select(ts.quality_score(F.col("text")).alias("s")).collect()]
    assert scores == sorted(scores, reverse=True)


def test_quality_quantile_approx_agrees_on_small_data(spark):
    """At sketch accuracy 10k over a few hundred rows the approx cut
    point is the exact quantile — kept sets may differ only at the
    boundary score. Assert per-stratum kept counts within 2 rows and
    that every approx-kept row scores >= the exact path's minimum."""
    from validate_spark.operators import sampling as sp

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    score = ts.quality_score(F.col("text"))
    exact = sp.quality_quantile_filter(docs, "lang", score, 3, 10, "doc_id")
    approx = sp.quality_quantile_filter_approx(docs, "lang", score, 0.3)
    e = {r["lang"]: r["n"] for r in
         exact.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    a = {r["lang"]: r["n"] for r in
         approx.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(a) == set(e)
    for lang in e:
        assert abs(a[lang] - e[lang]) <= 2
    # kept SETS agree except at the boundary score: exact tie-breaks
    # boundary ties by md5, approx keeps every row at >= thr — so the
    # symmetric difference is confined to rows scoring the cut point
    ek = {r["doc_id"] for r in exact.select("doc_id").collect()}
    ak = {r["doc_id"] for r in approx.select("doc_id").collect()}
    assert len(ek & ak) >= 0.9 * len(ek)


def test_stratum_quota_equals_single_window(spark):
    """Two-phase (partition-salted) top-N must equal the one-window
    definition — including on a deliberately skewed stratum."""
    from pyspark.sql import Window
    from validate_spark.operators import sampling as sp

    rows = [(i, "mega" if i % 10 else "rare") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, src string").repartition(16)
    got = sp.stratum_quota(df, "src", 25, "doc_id", seed=3)
    h = F.md5(F.concat_ws("\x1f", F.col("doc_id").cast("string"), F.lit("3")))
    w = Window.partitionBy("src").orderBy(h, F.col("doc_id").cast("string"))
    want = (
        df.withColumn("quota_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("quota_rank") <= 25)
    )
    assert sorted(got.select("doc_id", "src", "quota_rank").collect()) == sorted(
        want.select("doc_id", "src", "quota_rank").collect()
    )
    per = {r["src"]: r["n"] for r in
           got.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert per == {"mega": 25, "rare": 25}


def test_label_centroid_outliers_vs_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 8)).astype("float32")
    labels = [int(i % 3) for i in range(60)]
    rows = [(i, labels[i], [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = {
        r["vec_id"]: (r["dist"], r["is_outlier"])
        for r in sim.label_centroid_outliers(df, dist_threshold=2.5).collect()
    }
    v64 = vecs.astype("float64")
    for lbl in range(3):
        idx = [i for i in range(60) if labels[i] == lbl]
        cent = v64[idx].mean(axis=0)
        for i in idx:
            d = round(float(np.sqrt(((v64[i] - cent) ** 2).sum())), 6)
            assert got[i][0] == pytest.approx(d, abs=1e-6)
            assert got[i][1] == (got[i][0] > 2.5)


def test_source_overlap_matrix_planted_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 8
    rows = [
        (1, "srcA", base),
        (2, "srcB", base + " tiny tail"),          # cross-source near-dup
        (3, "srcA", "completely different words about mountains and rivers " * 8),
        (4, "srcB", "unrelated musings on compilers and type systems " * 8),
        (5, "srcC", base + " another small suffix"),  # second cross-source dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    m = {
        (r["src_a"], r["src_b"]): r["n_pairs"]
        for r in dd.source_overlap_matrix(df, threshold=0.7).collect()
    }
    # J(1,2) ~ 0.87 and J(1,5) ~ 0.76 clear the 0.7 bar; J(2,5) ~ 0.68
    # (each tail dilutes the shared base) correctly does NOT
    assert m[("srcA", "srcB")] == 1
    assert m[("srcA", "srcC")] == 1
    assert ("srcB", "srcC") not in m
    assert ("srcA", "srcA") not in m


def test_exact_clusters_and_soft_weights(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "ALPHA beta   gamma, delta!"),   # same normalized content
        (3, "alpha beta gamma delta"),       # third member
        (4, "something else entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cl = dd.exact_clusters(df)
    got = {r["member"]: r["cluster"] for r in cl.collect()}
    assert got == {"1": "1", "2": "1", "3": "1", "4": "4"}
    w = {r["k"]: (r["cluster_n"], r["weight"])
         for r in dd.soft_dedup_weights(df, cl).collect()}
    assert w["1"] == (3, 0.333333) and w["2"] == (3, 0.333333)
    assert w["4"] == (1, 1.0)


def test_soft_weights_singleton_for_unclustered(spark):
    """Docs missing from the clusters frame are their own singleton
    cluster — total weight mass = number of unique contents."""
    df = spark.createDataFrame(
        [(i, f"unique text number {i} with words") for i in range(10)],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "member string, cluster string")
    w = dd.soft_dedup_weights(df, empty)
    assert w.count() == 10
    assert w.filter((F.col("cluster_n") == 1) & (F.col("weight") == 1.0)).count() == 10


def test_cluster_split_leakage_free(spark):
    """Members of one cluster always share a split; fractions are
    roughly honored over many singleton clusters."""
    rows = [(i, f"totally unique document {i} body text") for i in range(300)]
    rows += [(1000 + i, "the shared near duplicate boilerplate page") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cl = dd.exact_clusters(df)
    out = dd.cluster_split(df, cl, {"train": 0.8, "val": 0.1, "test": 0.1})
    per_cluster = (
        out.groupBy("cluster")
        .agg(F.size(F.collect_set("split")).alias("ns"))
        .agg(F.max("ns"))
        .first()[0]
    )
    assert per_cluster == 1  # no cluster straddles splits
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("train", 0) > 200  # ~80% of 305
    assert set(counts) <= {"train", "val", "test"}
    with pytest.raises(ValueError):
        dd.cluster_split(df, cl, {"train": 0.5, "val": 0.1})


def test_top_duplicated_spans(spark):
    boiler = "one two three four five six seven eight"   # exactly 8 tokens
    rows = [
        (1, f"{boiler} unique tail alpha"),
        (2, f"{boiler} unique tail beta"),
        (3, f"prefix words here {boiler}"),
        (4, "totally different content with no shared windows at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.top_duplicated_spans(df, w=8, min_docs=2, top_n=5).collect()
    assert out[0]["rank"] == 1
    assert out[0]["span"] == boiler
    assert out[0]["n_docs"] == 3 and out[0]["n_occ"] == 3
    # every reported span occurs in >= 2 docs; ranks are 1..n dense
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    assert all(r["n_docs"] >= 2 for r in out)


def test_encoding_signals_counts(spark):
    """Each damage family counted exactly; clean text all-zero; NULL
    text -> NULL counts (no evidence, not zero)."""
    from validate_spark.operators.textstats import encoding_signals

    rows = [
        (1, "clean ascii text"),
        (2, "caf\u00c3\u00a9 and na\u00c3\u00afve"),       # two 2-byte mojibake
        (3, "it\u00e2\u20ac\u2122s \u00e2\u20ac\u0153q\u00e2\u20ac\u009d"),  # three 3-byte
        (4, "lost \ufffd\ufffd here"),
        (5, "bell \u0007 and \u0000\u001f"),
        (6, None),
        (7, "tabs\tand\nnewlines\rok"),                     # whitelisted ctrl
        (8, "r\u00e9sum\u00e9 caf\u00e9"),                  # REAL accents: not mojibake
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r.asDict() for r in encoding_signals(df, "text").collect()}
    assert out[1]["damaged"] is False
    assert out[2]["n_mojibake"] == 2 and out[2]["damaged"] is True
    assert out[3]["n_mojibake"] == 3
    assert out[4]["n_replacement"] == 2 and out[4]["n_mojibake"] == 0
    assert out[5]["n_ctrl"] == 3 and out[5]["n_mojibake"] == 0
    assert out[6]["n_mojibake"] is None and out[6]["damaged"] is None
    assert out[7]["damaged"] is False                         # tab/LF/CR are fine
    assert out[8]["damaged"] is False                         # real accents are legit


def test_dedup_retain_best(spark):
    """Highest quality wins, min-key tie-break, NULL quality last,
    unclustered rows pass through untouched."""
    from validate_spark.operators.dedup import dedup_retain_best

    corpus = spark.createDataFrame(
        [("1", 5), ("2", 9), ("3", 9), ("4", None), ("9", 1)],
        "doc_id string, q int",
    )
    clusters = spark.createDataFrame(
        [("1", "1"), ("2", "1"), ("3", "1"), ("4", "4")],  # 9 unclustered
        "member string, cluster string",
    )
    kept = {r["doc_id"] for r in dedup_retain_best(corpus, clusters, "q").collect()}
    # cluster 1: q 9 ties on docs 2,3 -> min key "2"; cluster 4: NULL q
    # is its only member; 9 unclustered
    assert kept == {"2", "4", "9"}


def test_functional_dependency_violations(spark):
    """Violating determinants only; NULL dependents don't contradict;
    the plan is Expand-free (the distinct-beside-count gotcha)."""
    from validate_spark.operators.uniq import functional_dependency_violations

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, None), (3, "c"), (None, "z")],
        "k int, v string",
    )
    out = functional_dependency_violations(df, "k", "v")
    got = {r["k"]: (r["n_rows"], r["n_distinct_dependent"]) for r in out.collect()}
    assert got == {2: (2, 2)}        # k=3's NULL doesn't count; k=1 holds
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_c4_signals(spark):
    """Each C4 cue fires independently; sentence rule composes into
    would_drop; NULL text -> NULL signals."""
    from validate_spark.operators.textstats import c4_signals

    rows = [
        (1, "One. Two! Three? Clean and long enough."),
        (2, "Code ahead { x } here. Two. Three."),
        (3, "LOREM IPSUM dolor. Two. Three."),
        (4, "Please enable JavaScript now. Two. Three."),
        (5, "We updated our Privacy Policy. Two. Three."),
        (6, "Too short. Really."),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r.asDict() for r in c4_signals(df, "text").collect()}
    assert out[1]["would_drop"] is False and out[1]["n_sentences"] == 4
    assert out[2]["has_curly"] and out[2]["would_drop"]
    assert out[3]["has_lorem"] and not out[3]["has_js"]
    assert out[4]["has_js"] and out[5]["has_policy"]
    assert out[6]["n_sentences"] == 2 and out[6]["would_drop"] is True
    assert out[7]["would_drop"] is None


def test_gopher_rules(spark):
    """Flag-by-flag on crafted docs; ratio thresholds are integer
    cross-multiplied; NULL text -> NULL flags."""
    from validate_spark.operators.textstats import gopher_rules

    long_good = ("the cat and the dog have fun with all of that stuff here " * 6).strip()
    rows = [
        (1, long_good),                                     # clean: no flags
        (2, "short with the and of"),                       # < 50 words
        (3, long_good + " # # # # # # # # # # # # # # #"),  # symbol ratio
        (4, "- a\n- b\n- c"),                               # all-bullet lines
        (5, "one...\ntwo...\nthree is fine"),               # 2/3 ellipsis ends
        (6, ("1 2 3 4 5 " * 12).strip()),                   # no alpha words
        (7, "zzz qqq " * 30),                               # no stopwords
        (8, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r.asDict() for r in gopher_rules(df, "text", min_words=50).collect()}
    assert out[1]["would_drop"] is False
    assert out[2]["flag_word_count"] is True
    assert out[3]["flag_symbol_ratio"] is True and out[3]["n_symbols"] == 15
    assert out[4]["flag_bullet"] is True and out[4]["n_bullet_lines"] == 3
    assert out[5]["flag_ellipsis"] is True and out[5]["n_ellipsis_lines"] == 2
    assert out[6]["flag_alpha"] is True and out[6]["n_alpha_words"] == 0
    assert out[7]["flag_stopwords"] is True and out[7]["n_stopwords_present"] == 0
    assert out[8]["would_drop"] is None and out[8]["flag_alpha"] is None


def test_distinctive_terms_integer_exact_ranking(spark):
    df = spark.createDataFrame(
        [
            (1, "Apple, APPLE banana!"),          # normalizes + casefolds
            (2, "apple cherry"),
            (3, "banana banana banana cherry"),
            (4, None),                            # empty after normalize: no rows
        ],
        "doc_id long, text string",
    )
    out = ts.distinctive_terms(df, "doc_id", "text", top_k=2)
    got = {
        (r["doc_id"], r["term"], r["tf"], r["df"], r["score"], r["rank"])
        for r in out.collect()
    }
    # df: apple 2, banana 2, cherry 2; score = tf*10^9 div df
    assert got == {
        (1, "apple", 2, 2, 1_000_000_000, 1),
        (1, "banana", 1, 2, 500_000_000, 2),
        # d2 ties on score -> term ASC breaks it deterministically
        (2, "apple", 1, 2, 500_000_000, 1),
        (2, "cherry", 1, 2, 500_000_000, 2),
        (3, "banana", 3, 2, 1_500_000_000, 1),
        (3, "cherry", 1, 2, 500_000_000, 2),
    }
    # two-branch sharing: the TF frame is persisted, so the corpus is
    # scanned ONCE — the DF-aggregate branch reads the InMemoryRelation,
    # not a second explode over the source (round-4 gotcha)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1
    assert "InMemoryTableScan" in final or "TableCacheQueryStage" in final


def test_quality_classifier_integer_exact(spark):
    from validate_spark.operators.textstats import (
        QUALITY_MODEL_BIAS_E6,
        QUALITY_MODEL_WEIGHTS_E6,
        quality_classifier,
    )

    good = ("the cat and the dog sat in the house with it "
            "and that is good for everyone to see")
    bad = "$$$ 404 ERROR 12345 !!! ### 999 @@@"
    df = spark.createDataFrame(
        [(1, good), (2, bad), (3, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in quality_classifier(df).collect()}
    w = QUALITY_MODEL_WEIGHTS_E6

    def score(r):
        return (QUALITY_MODEL_BIAS_E6
                + w["n_words"] * r["n_words"] + w["n_stop"] * r["n_stop"]
                + w["n_punct"] * r["n_punct"] + w["n_digit"] * r["n_digit"]
                + w["n_upper"] * r["n_upper"])

    # the dot product is integer-exact, replayable in plain Python
    assert rows[1]["score_e6"] == score(rows[1]) and rows[1]["keep"] is True
    assert rows[2]["score_e6"] == score(rows[2]) and rows[2]["keep"] is False
    # stopword-dense prose scores above symbol soup
    assert rows[1]["score_e6"] > rows[2]["score_e6"]
    # NULL text -> NULL score and NULL keep (no evidence), zero features
    assert rows[3]["score_e6"] is None and rows[3]["keep"] is None
    assert rows[3]["n_words"] == 0
    # display score is the e6 division
    assert rows[1]["model_score"] == round(rows[1]["score_e6"] / 1e6, 6)


def test_chunk_documents_windows_and_plan(spark):
    from validate_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i:03d}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text), (2, "only three tokens"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=10, stride=8)
    rows = sorted(
        [(r["key"], r["chunk_idx"], r["token_offset"], r["n_chunk_tokens"])
         for r in out.collect()]
    )
    # doc 1: 100 tokens -> 1 + ceil(90/8) = 13 chunks at offsets 0,8,..,96;
    # the last covers tokens 96..99 (4 tokens). docs 3/4: no chunks.
    d1 = [r for r in rows if r[0] == 1]
    assert len(d1) == 13
    assert [r[2] for r in d1] == [8 * i for i in range(13)]
    assert [r[3] for r in d1] == [10] * 12 + [4]
    assert [r for r in rows if r[0] == 2] == [(2, 0, 0, 3)]
    assert not [r for r in rows if r[0] in (3, 4)]
    # overlapping windows share content: same slice -> same fingerprint
    fp = {(r["chunk_idx"]): r["chunk_fp"] for r in out.collect()
          if r["key"] == 1}
    assert len(set(fp.values())) == 13  # all-distinct windows here
    # map-only: no exchange anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_doc_keywords_integer_rank(spark):
    from validate_spark.operators.textstats import doc_keywords

    df = spark.createDataFrame(
        [
            # 'apple' tf=3; 'banana' tf=2; 'cherry' tf=2 but rarer (df)
            (1, "apple apple apple banana banana cherry cherry zebra"),
            (2, "banana banana banana plum"),
            (3, "the and of to in is"),  # all stopwords -> no keywords
        ],
        "doc_id long, text string",
    )
    out = doc_keywords(df, k=2)
    got = {(r["key"], r["rank"]): (r["term"], r["tf"], r["df"])
           for r in out.collect()}
    # doc 1: apple(3) first; banana/cherry tie tf=2 -> cherry df=1 beats
    # banana df=2 (rare-elsewhere wins)
    assert got[(1, 1)] == ("apple", 3, 1)
    assert got[(1, 2)] == ("cherry", 2, 1)
    assert got[(2, 1)] == ("banana", 3, 2)
    assert got[(2, 2)] == ("plum", 1, 1)
    assert not [k for k in got if k[0] == 3]
    # one corpus scan, no join: df is a count window on the tf frame
    # (a groupBy+self-join branch re-scans — over a round-robin
    # repartitioned input Catalyst does not reuse the exchange;
    # measured 2 scans/5 exchanges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final
    assert final.count("Scan ") <= 1


def test_random_projection_preserves_distances(spark):
    """JL property on real embeddings: pairwise L2 distances in the
    16-dim projection stay within a generous relative band of the
    64-dim originals (the lemma's guarantee), and ragged vectors are
    filtered."""
    import numpy as np

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(20)
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    out = sim.random_projection(emb)
    proj = {}
    for r in out.collect():
        proj.setdefault(r["key"], [0.0] * 16)[r["k"]] = r["proj"]
    assert set(proj) == set(orig)
    keys = sorted(orig)
    ratios = []
    for a in range(len(keys)):
        for b in range(a + 1, len(keys)):
            d0 = np.linalg.norm(orig[keys[a]] - orig[keys[b]])
            d1 = np.linalg.norm(
                np.array(proj[keys[a]]) - np.array(proj[keys[b]])
            )
            if d0 > 0:
                ratios.append(d1 / d0)
    # ±1 JL at k=16: loose band, but catastrophic distortion would
    # blow way past it (a sign bug collapses ratios toward 0)
    assert 0.3 < min(ratios) and max(ratios) < 3.0


def test_random_projection_filters_ragged(spark):
    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, [0.5] * 10)],
        "vec_id long, embedding array<float>",
    )
    out = sim.random_projection(df)
    assert sorted({r["key"] for r in out.collect()}) == [1]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # map-only: no hash/range shuffle, no join
    assert "hashpartitioning" not in plan and "Join" not in plan


def test_nfc_normalization_composes_and_flags(spark):
    decomposed = "café"
    precomposed = "café"
    docs = spark.createDataFrame(
        [(1, decomposed), (2, precomposed), (3, "plain"), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["key"]: r for r in ts.nfc_report(docs).collect()}
    # decomposed doc changed; its fp now equals the precomposed doc's
    assert rows[1]["changed"] is True
    assert rows[2]["changed"] is False
    assert rows[1]["nfc_fp"] == rows[2]["nfc_fp"]
    assert rows[3]["changed"] is False
    assert rows[4]["changed"] is None  # NULL text stays NULL-flagged


def test_mix_temperature_weights_hand_checked(spark):
    from validate_spark.operators.sampling import mix_temperature_weights

    df = spark.createDataFrame(
        [("big", 900), ("small", 100)], "src string, n int"
    )
    rows = {r["src"]: r for r in mix_temperature_weights(
        df, strata_col="src", size_col="n", alpha=0.5).collect()}
    # natural shares 0.9/0.1; sqrt-scaled: .9487/.3162 -> norm .75/.25
    assert rows["big"]["share_ppm"] == 900000
    assert rows["small"]["share_ppm"] == 100000
    assert abs(rows["big"]["target_share"] - 0.75) < 1e-6
    assert abs(rows["small"]["target_share"] - 0.25) < 1e-6
    # alpha<1 up-weights the small source (rate>1), down-weights big
    assert rows["small"]["sample_rate"] > 1 > rows["big"]["sample_rate"]
    # alpha=1 is the identity mix
    ident = {r["src"]: r for r in mix_temperature_weights(
        df, strata_col="src", size_col="n", alpha=1.0).collect()}
    assert abs(ident["big"]["sample_rate"] - 1.0) < 1e-6
    assert abs(ident["small"]["sample_rate"] - 1.0) < 1e-6


def test_pii_spans_extraction_matches_scrub_patterns(spark):
    docs = spark.createDataFrame(
        [(1, "mail a@b.co and c@d.org, ip 10.0.0.1, bad 999.1.1.1"),
         (2, "https://x.io/a then http://y.z/b"),
         (3, None)],
        "doc_id long, text string",
    )
    rows = {(r["key"], r["kind"], r["pos"]): r["span"]
            for r in ts.pii_spans(docs).collect()}
    assert rows[(1, "email", 0)] == "a@b.co"
    assert rows[(1, "email", 1)] == "c@d.org"
    assert rows[(1, "ip", 0)] == "10.0.0.1"
    assert (1, "ip", 1) not in rows  # 999.x is not an IP (octet bound)
    assert rows[(2, "url", 0)] == "https://x.io/a"
    assert rows[(2, "url", 1)] == "http://y.z/b"
    assert not any(k[0] == 3 for k in rows)  # NULL text: no spans


# ---------------------------------------------------------------------------
# DSIR importance selection
# ---------------------------------------------------------------------------

def test_dsir_weights_prefers_target_distribution(spark):
    """Docs written in the target's token distribution must outscore
    docs from a disjoint distribution, and the weight of a doc made
    ONLY of target-exclusive tokens must be positive (its buckets'
    target ratio exceeds the raw ratio)."""
    from validate_spark.operators.sampling import dsir_weights

    rows = []
    # 20 target docs over vocabulary A, 20 raw-only docs over vocab B
    for i in range(20):
        rows.append((f"t{i:02d}", "alpha beta gamma delta " * 5, 1))
        rows.append((f"r{i:02d}", "omega psi chi phi " * 5, 0))
    df = spark.createDataFrame(rows, "doc_id string, text string, is_t int")
    out = dsir_weights(
        df, F.col("is_t") == 1, key_col="doc_id", text_col="text", k=40
    ).collect()
    w = {r["doc_id"]: r["dsir_weight"] for r in out}
    assert all(w[f"t{i:02d}"] > w[f"r{i:02d}"] for i in range(20))
    assert all(w[f"t{i:02d}"] > 0 for i in range(20))
    assert all(w[f"r{i:02d}"] < 0 for i in range(20))
    # deterministic: a rerun returns identical weights
    out2 = dsir_weights(
        df, F.col("is_t") == 1, key_col="doc_id", text_col="text", k=40
    ).collect()
    assert {r["doc_id"]: r["dsir_weight"] for r in out2} == w


def test_dsir_single_staged_scan(spark):
    """The token explode is persisted and SHARED by the bucket-stats
    branch and the per-doc branch — the plan must read the
    InMemoryRelation, not scan the parquet twice (r4 two-branch
    rule)."""
    from validate_spark.operators.sampling import dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dsir_weights(docs, F.col("lang") == "en")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both consumers (bucket stats and per-doc rollup) must read the
    # cache; FileScan appears only inside the InMemoryRelation recipe
    assert plan.count("InMemoryTableScan") >= 2
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            assert "InMemoryRelation" in plan  # scan lives in the cache recipe
    spark.catalog.clearCache()


def test_bloom_contamination_conservative_and_broadcast(spark):
    """Bloom screen must have ZERO false negatives vs the exact
    report (per-doc n_maybe >= n_hit), and the probe must ride
    broadcast joins — no shuffle of the corpus gram stream besides
    the per-doc rollup."""
    from validate_spark.operators.decontam import (
        bloom_contamination,
        contamination_report,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    rep = bloom_contamination(docs, bench)
    exact = {r["k"]: r["n_hit"]
             for r in contamination_report(docs, bench).collect()}
    maybe = {r["k"]: r["n_maybe"] for r in rep.collect()}
    assert set(maybe) == set(exact)
    assert all(maybe[k] >= exact[k] for k in exact)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    # only corpus-side shuffle: the (k, n_grams) rollup
    probe_side = plan.split("BroadcastExchange", 1)[0]
    assert probe_side.count("Exchange hashpartitioning") <= 1


# --------------------------------------------- collocations / containment

def test_collocations_pmi_selection_and_counts(spark):
    import math

    from validate_spark.operators.textstats import collocations

    # designed counts: c_z=c_q=33, n1=66, n2=57; "z z"/"q q" cohere
    # (27·66² > 33·33·57) while "z q" meets min_count yet fails the
    # positive-PMI integer test (3·66² = 13068 < 62073)
    docs = ([("z " * 10).strip()] * 3 + [("q " * 10).strip()] * 3
            + ["z q"] * 3)
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    out = {r["bigram"]: r for r in
           collocations(df, "text", min_count=3, top_n=50).collect()}
    assert set(out) == {"z z", "q q"}
    r = out["z z"]
    assert (r["c_ab"], r["c_a"], r["c_b"]) == (27, 33, 33)
    n1, n2 = 66, 57
    assert r["pmi"] == round(
        math.log(27) + 2 * math.log(n1) - 2 * math.log(33) - math.log(n2),
        6,
    )
    # every surviving row satisfies the integer inequality
    for r in out.values():
        assert r["c_ab"] * n1 * n1 > r["c_a"] * r["c_b"] * n2


def test_containment_detects_quote_jaccard_misses(spark):
    import validate_spark.operators.dedup as dd

    long_text = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(12))  # first 12 tokens
    df = spark.createDataFrame(
        [(1, long_text), (2, quote), (3, "totally different words here ok")],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]): r for r in
           dd.containment_pairs(df, threshold_pct=80).collect()}
    assert ("2", "1") in got  # contained side is the SMALLER set
    r = got[("2", "1")]
    # quote has 10 trigrams, all inside the long doc
    assert (r["n_a"], r["common"]) == (10, 10)
    assert ("3", "1") not in got and len(got) == 1
    # Jaccard at the same threshold misses it: J = 10/58 ≈ 0.17
    jac = dd.ngram_jaccard_pairs(df, n=3, threshold=0.8).collect()
    assert not any({p["a"], p["b"]} == {"1", "2"} for p in jac)


def test_containment_full_recall_vs_bruteforce(spark):
    import itertools
    import validate_spark.operators.dedup as dd

    # overlapping sliding windows over one token stream: many partial
    # containments with varied sizes, incl. equal-size tie pairs
    toks = [f"t{i % 17}" for i in range(40)]
    rows = [(i, " ".join(toks[s:s + ln]))
            for i, (s, ln) in enumerate(
                (s, ln) for s in range(0, 30, 5) for ln in (8, 14, 25))]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(t):
        w = t.lower().split()
        if len(w) < 3:
            return frozenset([" ".join(w)])
        return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))

    gs = {str(i): grams(t) for i, t in rows}
    want = set()
    for a, b in itertools.permutations(gs, 2):
        na, nb = len(gs[a]), len(gs[b])
        if (na < nb or (na == nb and a < b)) and \
                len(gs[a] & gs[b]) * 100 >= 60 * na:
            want.add((a, b))
    got = {(r["a"], r["b"]) for r in
           dd.containment_pairs(df, threshold_pct=60).collect()}
    assert got == want and want  # non-trivial and exactly equal


def test_oov_report_counts_and_null_group(spark):
    from validate_spark.operators.textstats import oov_report

    docs = spark.createDataFrame(
        [("en", "the cat sat"), ("en", "the the dog"), (None, "cat zzz"),
         ("fr", ""), ("fr", None)],
        "lang string, text string",
    )
    vocab = spark.createDataFrame([("the",), ("cat",)], "token string")
    out = {r["lang"]: r for r in oov_report(docs, vocab).collect()}
    en = out["en"]
    # en tokens: the cat sat | the the dog → 6 tokens, oov = sat, dog
    assert (en["n_docs"], en["n_tokens"], en["n_oov"]) == (2, 6, 2)
    # NULL lang keeps its own row WITH its token counts (null-safe join)
    nl = out[None]
    assert (nl["n_docs"], nl["n_tokens"], nl["n_oov"]) == (1, 2, 1)
    # empty/NULL text: docs counted, zero tokens
    fr = out["fr"]
    assert (fr["n_docs"], fr["n_tokens"], fr["n_oov"], fr["n_bpe"]) == (2, 0, 0, 0)
    # fertility numerator: "the cat sat" → 3 BPE pieces etc.
    assert en["n_bpe"] == 6


def test_token_budget_mix_allocation_and_caps(spark):
    from validate_spark.operators.sampling import token_budget_mix

    docs = spark.createDataFrame(
        [("small", 100), ("small", 100), ("big", 5000), ("ghost", 400)],
        "src string, toks long",
    )
    out = token_budget_mix(
        docs,
        "src",
        "toks",
        budget=10_000,
        weights_ppm={"small": 500_000, "big": 500_000},
        max_epochs_ppm=3_000_000,
    ).collect()
    rows = {r.source: r for r in out}
    # small: desired 5000, supply 200, cap 600 -> alloc 600, epochs 3.0
    assert rows["small"].desired_tokens == 5000
    assert rows["small"].alloc_tokens == 600
    assert rows["small"].epochs_ppm == 3_000_000
    assert rows["small"].deficit_tokens == 4400
    # big: desired 5000 < cap 15000 -> fully allocated, 1.0 epochs
    assert rows["big"].alloc_tokens == 5000
    assert rows["big"].epochs_ppm == 1_000_000
    assert rows["big"].deficit_tokens == 0
    # unweighted source surfaces with zero allocation, never dropped
    assert rows["ghost"].weight_ppm == 0 and rows["ghost"].alloc_tokens == 0

    import pytest as _pt

    with _pt.raises(ValueError):
        token_budget_mix(docs, "src", "toks", budget=0, weights_ppm={"a": 1})
    with _pt.raises(ValueError):
        token_budget_mix(docs, "src", "toks", budget=10, weights_ppm={})


def test_ess_report_hand_checked(spark):
    from validate_spark.operators.sampling import ess_report

    # equal weights -> ESS == n (Kish identity); zero/NULL weights are
    # excluded from the sums but counted in n_zero_weight
    docs = spark.createDataFrame(
        [("a", 500_000), ("a", 500_000), ("a", 500_000), ("a", 0),
         ("a", None), ("b", 100_000), ("b", 900_000)],
        "grp string, w long",
    )
    rows = {r.grp: r for r in ess_report(docs, "w", group_cols=["grp"]).collect()}
    a = rows["a"]
    assert (a.n, a.n_zero_weight) == (3, 2)
    assert a.sum_w == "1500000" and a.sum_w2 == "750000000000"
    assert a.ess == 3.0 and a.ess_ratio == 1.0
    # skewed weights: ESS = (1e6)^2 / (1e10 + 81e10) = 1.219512...
    b = rows["b"]
    assert b.ess == 1.219512 and b.n == 2
    # all-zero group: NULL ess, n=0
    z = ess_report(
        spark.createDataFrame([("z", 0)], "grp string, w long"),
        "w", group_cols=["grp"],
    ).collect()[0]
    assert z.ess is None and z.ess_ratio is None and z.n == 0


def test_typo_candidate_pairs_symspell_identity(spark):
    from validate_spark.operators.textstats import typo_candidate_pairs

    docs = spark.createDataFrame(
        [("abcd abcd abzd",),   # substitution pair, n_a support 2
         ("abcde",),            # insertion vs abcd
         ("abdc",),             # lev("abcd","abdc")=2 — shares deletion
                                # variants, must be killed by verify
         ("zzzz 1234 ab",)],    # digits + below min_len excluded
        "text string",
    )
    out = typo_candidate_pairs(docs, "text", min_len=4, max_len=8)
    pairs = {(r.word_a, r.word_b): (r.n_a, r.n_b) for r in out.collect()}
    assert ("abcd", "abzd") in pairs and pairs[("abcd", "abzd")] == (2, 1)
    assert ("abcd", "abcde") in pairs
    assert ("abcd", "abdc") not in pairs  # distance-2 candidate filtered
    import pyspark.sql.functions as F

    # every returned pair is exactly distance 1
    assert out.filter(F.levenshtein("word_a", "word_b") != 1).count() == 0
    # min_support cut happens before expansion
    sup = typo_candidate_pairs(docs, "text", min_len=4, max_len=8, min_support=2)
    assert sup.count() == 0  # only "abcd" survives the support cut

    import pytest as _pt

    with _pt.raises(ValueError):
        typo_candidate_pairs(docs, "text", min_len=5, max_len=4)


def test_cross_source_dup_matrix(spark):
    """Shared-fp counts and per-side doc sums vs a hand model,
    including a 3-source fp (row-local pair expansion) and
    normalization-equal texts."""
    from validate_spark.operators.dedup import cross_source_dup_matrix

    rows = [
        (1, "Hello World", "a"),
        (2, "hello, world!", "b"),  # normalizes equal to 1
        (3, "HELLO WORLD", "c"),
        (4, "dup in a", "a"),
        (5, "dup in a", "a"),  # same source twice -> docs count 2
        (6, "dup in a!", "b"),
        (7, "only here", "c"),
        (8, "no source", None),  # dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r.source_a, r.source_b): (r.n_shared_fps, r.docs_a, r.docs_b)
        for r in cross_source_dup_matrix(df, "source").collect()
    }
    assert out == {
        ("a", "b"): (2, 3, 2),  # hello-fp (1,1) + dup-fp (2,1)
        ("a", "c"): (1, 1, 1),
        ("b", "c"): (1, 1, 1),
    }
