"""Sequence packing for LLM pretraining — concat-then-chunk documents
into ~token-budget groups, cut at document boundaries.

Every pretraining pipeline packs variable-length documents into
fixed-size context windows. The distributed lift: a GLOBAL greedy pack
is a single sorted stream (one reducer — the exact anti-pattern the ANN
top-k plan avoids), so packing runs over N independent *streams*:
stream = md5-hash(key) % n_streams, order within a stream = md5 draw.
Each stream is one window partition — parallelism == n_streams, state
per task == one running sum. At 10^12 docs raise ``n_streams`` so each
stream holds ~10^6 docs; chunk quality is unaffected (packing is local
to a stream by design, and streams are content-hash-uniform).

Chunk semantics (stated exactly): a document belongs to chunk
``floor(start_offset / budget)`` of its stream, where start_offset is
the running token count before it. Chunks therefore target ``budget``
tokens and may overflow by at most one document's tokens (the doc that
crosses the boundary stays in the chunk where it starts) — the
standard "greedy fill, cut at doc boundaries" contract.

Hash portability: ordering and stream assignment use md5 (not
xxhash64) so an external engine — and the DuckDB oracle — reproduces
the exact same packing (repo hash rule: anything that crosses the
engine boundary is md5).

Reference seed: the closest single-record ancestor is the length
family (SURVEY.md §2.4); packing is its corpus-level lift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def pack_sequences(
    df: DataFrame,
    token_col: str,
    key_col: str,
    *,
    budget: int,
    n_streams: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Assign each document a deterministic ``(stream, chunk_id)`` →
    ``(key, n_tokens, stream, chunk_id)``.

    One shuffle (the window's hashpartitioning on stream); running-sum
    state only. NULL token counts pack as 0 (they consume no budget).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    h = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col(key_col).cast("string"), F.lit("")),
            F.lit(str(seed)),
        )
    )
    stream = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_streams))
    toks = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    tagged = df.select(
        F.col(key_col).alias("key"),
        toks.alias("n_tokens"),
        stream.alias("stream"),
        h.alias("_ord"),
    )
    # ROWS frame explicitly: the default RANGE frame would sum ties
    # together (none exist — _ord+key is a total order — but the frame
    # must not depend on that)
    w = (
        Window.partitionBy("stream")
        .orderBy("_ord", "key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return tagged.select(
        "key",
        "n_tokens",
        "stream",
        F.floor(start / F.lit(budget)).cast("long").alias("chunk_id"),
    )


def packing_report(packed: DataFrame, *, budget: int) -> DataFrame:
    """Per-chunk fill report → (stream, chunk_id, n_docs, n_tokens,
    fill): utilization evidence for a packing run. Aggregate-sized
    output (streams × chunks)."""
    return packed.groupBy("stream", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(budget)), 6).alias("fill"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window context chunking WITH overlap — the other half of
    sequence prep beside ``pack_sequences`` (that one concatenates
    whole docs into budget groups; this one splits each long doc into
    fixed windows, keeping per-doc provenance and ``chunk_tokens -
    stride`` tokens of overlap so no training example straddles a cut
    blind).

    Chunk i covers whitespace tokens [i*stride, i*stride+chunk_tokens)
    of the doc; the last chunk may be short; ``n_chunks = 1 +
    floor((max(n - chunk_tokens, 0) + stride - 1) / stride)`` — all
    INTEGER arithmetic (floor of a <2^53 ratio is exact), so the
    chunking is bit-identical across engines. Empty/NULL docs produce
    no chunks (stated; a zero-token training example is garbage).
    Chunk content travels as an md5 fingerprint (engine-boundary hash
    rule) + token count, never the text itself.

    Scale: map-only — normalize, split, explode a per-doc index
    sequence, slice. ZERO shuffles; the explode fan-out is ~n/stride
    rows per doc on the same partition. The guarded ``sequence()``
    never sees a negative length (the working-notes F.sequence
    gotcha).

    Reference seed: length family (SURVEY.md §2.4) lifted to window
    construction; cf. the standard fixed-window pretraining prep.
    """
    if chunk_tokens <= 0 or stride <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    L, S = int(chunk_tokens), int(stride)
    from validate_spark.operators.textstats import normalize_text

    norm = normalize_text(F.col(text_col))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    base = (
        df.select(F.col(key_col).alias("key"), toks.alias("_tk"))
        .withColumn("_n", F.size("_tk").cast("long"))
        .filter(F.col("_n") > 0)
    )
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(F.col("_n") - L, F.lit(0)) + (S - 1)) / S
    ).cast("long")
    out = base.select(
        "key",
        "_tk",
        "_n",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
            "chunk_idx"
        ),
    )
    piece = F.slice(F.col("_tk"), F.col("chunk_idx") * S + 1, L)
    return out.select(
        "key",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx").cast("long") * S).alias("token_offset"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_fp"),
    )
