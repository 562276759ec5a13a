"""Deterministic synthesis of the interleaved documents table.

Schema (BASELINE.json input_hint — authoritative)::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

plus the reference tables media_catalog(ref, mime, size_bytes) and a
drift-snapshot histogram (FIXTURES.md §1-2).

Everything is generated from ``spark.range(n)`` with pure column
expressions — fully distributed, seed-stable (xxhash64 with a fixed
seed), NO driver-side data and NO Python RNG. At 10^12 rows this
generator is itself cluster-scale: `range` splits across executors and
each row is derived from its id alone.

Violation seeding (FIXTURES.md §1): deterministic id-modulus classes so
every rule class has failing rows at any scale factor —
  id%97==3  → NULL doc_id              (required fails)
  id%101==5 → duplicate doc_id         (uniqueness fails)
  id%89==7  → empty spans              (required/minLen fails)
  id%83==11 → bad span kind 'hologram' (enum fails)
  id%79==13 → text span with NULL text (conditional-required fails)
  id%73==17 → malformed media_ref      (regexp fails)
  id%71==19 → dangling media_ref       (referential fails)
  id%67==23 → negative/shuffled offset (offset-monotonic fails)
  id%61==29 → short doc_id 'dx'        (minLen fails)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

SEED = 42

KINDS = ["text", "image", "audio", "video"]

# deterministic token vocabulary for span text
_WORDS = [
    "spark", "scan", "merge", "join", "filter", "window", "batch", "stream",
    "row", "column", "shuffle", "hash", "sort", "group", "data", "value",
]


def _h(col, salt: int):
    """Stable 64-bit hash — the seed-stable randomness source."""
    return F.xxhash64(col, F.lit(SEED + salt))


def _pos(col, salt: int, mod: int):
    return F.pmod(_h(col, salt), F.lit(mod))


def synth_documents(spark: SparkSession, n_docs: int, n_parts: int | None = None) -> DataFrame:
    """Generate the interleaved documents table with seeded violations."""
    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n_docs, 1, n_parts)
    i = F.col("id")

    # --- doc_id ---------------------------------------------------------
    doc_id = F.concat(F.lit("doc-"), F.lpad(i.cast("string"), 12, "0"))
    doc_id = (
        F.when(i % 97 == 3, F.lit(None).cast("string"))
        .when((i % 101 == 5) & (i > 0), F.concat(F.lit("doc-"), F.lpad((i - 1).cast("string"), 12, "0")))
        .when(i % 61 == 29, F.lit("dx"))
        .otherwise(doc_id)
    )

    # --- spans ----------------------------------------------------------
    n_spans = 1 + _pos(i, 1, 5)  # 1..5 spans
    n_spans = F.when(i % 89 == 7, F.lit(0)).otherwise(n_spans)

    def span(j):
        """One span struct as a function of (doc id, position j)."""
        jh = _h(F.concat(i.cast("string"), F.lit(":"), j.cast("string")), 2)
        kind = F.element_at(
            F.array(*[F.lit(k) for k in KINDS]), (F.pmod(jh, F.lit(4)) + 1).cast("int")
        )
        kind = F.when((i % 83 == 11) & (j == 0), F.lit("hologram")).otherwise(kind)

        word = F.element_at(
            F.array(*[F.lit(w) for w in _WORDS]),
            (F.pmod(_h(jh.cast("string"), 3), F.lit(len(_WORDS))) + 1).cast("int"),
        )
        n_rep = (F.pmod(jh, F.lit(12)) + 2).cast("int")
        text_val = F.array_join(F.array_repeat(word, n_rep), " ")
        text = F.when(kind == "text", text_val).otherwise(F.lit(None).cast("string"))
        # seeded violation: text span with NULL text
        text = F.when((i % 79 == 13) & (j == 0), F.lit(None).cast("string")).otherwise(text)

        ref_ok = F.concat(
            F.lit("m-"),
            F.lpad(F.pmod(jh, F.lit(100000)).cast("string"), 8, "0"),
        )
        media_ref = F.when(kind == "text", F.lit(None).cast("string")).otherwise(ref_ok)
        media_ref = F.when(
            (i % 73 == 17) & (j == 0) & (kind != "text"), F.lit("??bad ref??")
        ).otherwise(media_ref)
        media_ref = F.when(
            (i % 71 == 19) & (j == 0) & (kind != "text"),
            F.concat(F.lit("m-9"), F.lpad(F.pmod(jh, F.lit(10000)).cast("string"), 7, "0")),
        ).otherwise(media_ref)

        offset = j.cast("int")
        offset = F.when((i % 67 == 23) & (j == 0), F.lit(-1)).otherwise(offset)

        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            offset.alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span)
    spans = F.when(n_spans == 0, F.array().cast(spans_type_ddl())).otherwise(spans)

    return df.select(doc_id.alias("doc_id"), spans.alias("spans"))


def spans_type_ddl() -> str:
    return "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def synth_media_catalog(spark: SparkSession, n_refs: int = 100000) -> DataFrame:
    """media_catalog(ref, mime, size_bytes) — targets of the referential
    check. Covers refs m-00000000..m-00099999; the dangling class
    (m-9xxxxxxx) is deliberately absent."""
    mimes = ["image/jpeg", "image/png", "image/gif", "audio/mpeg", "audio/wav", "video/mp4", "video/webm"]
    df = spark.range(0, n_refs, 1, 8)
    i = F.col("id")
    return df.select(
        F.concat(F.lit("m-"), F.lpad(i.cast("string"), 8, "0")).alias("ref"),
        F.element_at(
            F.array(*[F.lit(m) for m in mimes]), (F.pmod(_h(i, 7), F.lit(len(mimes))) + 1).cast("int")
        ).alias("mime"),
        (F.pmod(_h(i, 8), F.lit(10_000_000)) + 100).alias("size_bytes"),
    )
