"""Multimodal (image/audio/video) column handling.

Media travel as opaque ``binary`` columns plus a typed metadata struct
(mime, n_bytes, width/height or duration) — the reference's upload-file
validators (`isImage`/`inMimeTypes`, validators.go:527-588; MIME sniff
data_source.go:900-914) mapped onto columnar storage.

The Spark-side plumbing is REAL and tested: schemas, Arrow batch
shapes, ``mapInPandas`` iterator contracts, partition sizing. The codec
step is a STUB — this container has no PIL/ffmpeg — implemented as a
deterministic fake clearly marked below; ``decode_image_real`` raises
``NotImplementedError`` where a real pipeline would call the codec.

Scale notes: media bytes are the FAT payload. Every operator here
projects (key, data) before the UDF so Arrow only ships the needed
columns; feature outputs are slim (few ints per row), so the expensive
direction (JVM→Python) carries bytes once and returns scalars.
``spark.sql.files.maxPartitionBytes`` should be tuned down (e.g. 64 MB)
for tables with large binary columns so one Arrow batch fits in worker
memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_META_DDL = "struct<mime:string,n_bytes:int,width:int,height:int>"

MIME_SNIFF = {  # magic-byte prefixes — http.DetectContentType's core table
    b"\xff\xd8\xff": "image/jpeg",
    b"\x89PNG\r\n\x1a\n": "image/png",
    b"GIF8": "image/gif",
    b"RIFF": "audio/wav",
    b"ID3": "audio/mpeg",
}


def attach_fake_media(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media bytes for tests/benches: a sniffable
    magic prefix + md5-derived payload, all derived from the key (no
    RNG, identical across runs/engines)."""
    k = F.col(key_col).cast("string")
    h = F.md5(k)
    # kind from the first md5 hex nibble — md5 (not xxhash64) so a DuckDB
    # oracle derives the identical media bytes
    kind = F.pmod(F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1, F.lit(3))
    prefix = (
        F.when(kind == 0, F.lit(b"\xff\xd8\xff"))
        .when(kind == 1, F.lit(b"\x89PNG\r\n\x1a\n"))
        .otherwise(F.lit(b"RIFF"))
    )
    payload = F.unhex(F.concat(h, F.md5(F.concat(k, F.lit(":2"))), F.md5(F.concat(k, F.lit(":3")))))
    return df.withColumn("media_data", F.concat(prefix.cast("binary"), payload))


def sniff_mime(data: F.Column) -> F.Column:
    """MIME from magic bytes — pure Column expressions over the first
    bytes (reference: first-512-bytes sniff, validators.go:527-559)."""
    hexhead = F.hex(F.substring(data, 1, 8))
    return (
        F.when(hexhead.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(hexhead.startswith("89504E470D0A1A0A"), F.lit("image/png"))
        .when(hexhead.startswith("47494638"), F.lit("image/gif"))
        .when(hexhead.startswith("52494646"), F.lit("audio/wav"))
        .when(hexhead.startswith("494433"), F.lit("audio/mpeg"))
        .otherwise(F.lit("application/octet-stream"))
    )


def media_metadata(df: DataFrame, data_col: str = "media_data") -> DataFrame:
    """Typed metadata struct; width/height come from the (stub) decode
    — here a deterministic function of the bytes so the whole column is
    oracle-checkable."""
    d = F.col(data_col)
    n = F.octet_length(d)
    # STUB decode: "dimensions" derived from byte length, stable & portable
    w = (F.pmod(n * 7, F.lit(1920)) + 1).cast("int")
    return df.withColumn(
        "media_meta",
        F.struct(
            sniff_mime(d).alias("mime"),
            n.cast("int").alias("n_bytes"),
            w.alias("width"),
            (n % 1080 + 1).cast("int").alias("height"),
        ),
    )


# ---------------------------------------------------------------------------
# mapInPandas decode / feature-extraction plumbing
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("feat_std", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def decode_image_real(data: bytes) -> dict:
    """Where a real pipeline calls the codec (PIL.Image.open etc.).
    The image/audio libraries are not available in this environment."""
    raise NotImplementedError(
        "real media decode requires PIL/ffmpeg — not present in this container; "
        "use extract_media_features (deterministic stub) instead"
    )


def _stub_decode_batch(data_series):
    """STUB for the codec step: deterministic per-byte statistics standing
    in for decoded-pixel statistics. numpy-vectorized per batch."""
    import numpy as np

    means, stds, frames = [], [], []
    for b in data_series:
        arr = np.frombuffer(b or b"\x00", dtype=np.uint8).astype(np.float64)
        means.append(float(arr.mean()))
        stds.append(float(arr.std()))
        frames.append(int(max(1, len(arr) // 16)))  # fake frame count
    return means, stds, frames


def extract_media_features(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    data_col: str = "media_data",
) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas``: Arrow-batched, slim
    output schema. Only (key, data) cross the JVM→Python boundary."""

    def gen(batches: Iterator["object"]) -> Iterator["object"]:
        import numpy as np  # noqa: F401
        import pandas as pd

        for pdf in batches:
            means, stds, frames = _stub_decode_batch(pdf[data_col])
            data = pdf[data_col]
            mimes = []
            for b in data:
                head = bytes(b[:8]) if b is not None else b""
                mime = "application/octet-stream"
                for magic, m in MIME_SNIFF.items():
                    if head.startswith(magic):
                        mime = m
                        break
                mimes.append(mime)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[key_col].astype(str),
                    "mime": mimes,
                    "n_bytes": [len(b) if b is not None else 0 for b in data],
                    "feat_mean": means,
                    "feat_std": stds,
                    "n_frames": frames,
                }
            )

    return df.select(F.col(key_col), F.col(data_col)).mapInPandas(
        gen, FEATURES_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    data_col: str = "media_data",
    every_n: int = 4,
) -> DataFrame:
    """Frame-sampling plumbing (video → every Nth 'frame'): the stub
    treats each 16-byte block as one frame and keeps every Nth. Output:
    one row per kept frame (key, frame_idx, frame_bytes) — the exploded
    shape a downstream vision encoder consumes."""
    d = F.col(data_col)
    n_frames = F.floor(F.octet_length(d) / 16).cast("int")
    idxs = F.filter(
        F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
        lambda i: i % every_n == 0,
    )
    return (
        df.select(F.col(key_col), d.alias("_d"), F.explode(idxs).alias("frame_idx"))
        .select(
            key_col,
            "frame_idx",
            F.substring(F.col("_d"), F.col("frame_idx") * 16 + 1, 16).alias("frame_bytes"),
        )
    )


def span_pattern_audit(
    df: DataFrame,
    spans_col: str = "spans",
    *,
    caption_kind: str = "text",
    offset_field: str = "offset",
    kind_field: str = "kind",
) -> DataFrame:
    """Sequence-pattern validation over an interleaved spans array —
    the rule class the wildcard (`spans.*.kind`) compiler cannot
    express, because it quantifies over ADJACENT PAIRS, not elements:

      - ``n_uncaptioned``: media spans (kind != caption_kind) whose
        NEXT span is not a caption — the standard multimodal-pretraining
        contract that every image/audio segment carries adjacent text;
      - ``offsets_monotone``: the span order field strictly increases
        (an interleaving that re-sorted or duplicated offsets corrupts
        the (kind, text, media_ref, order) invariant BEFORE per-span
        rules could notice).

    Built on the pair trick ``zip_with(spans, slice(spans, 2, n), ...)``
    — zip_with pads the shorter side with NULL, so the last span pairs
    with NULL "next" naturally. Entirely native array functions, one
    map-side projection per row: no explode, no shuffle, no Python —
    the per-doc work is O(n_spans) inside the projection, which is the
    only shape that survives 10^12 rows of ragged arrays.

    Output: (all input columns) + n_spans, n_media, n_uncaptioned,
    offsets_monotone.
    """
    spans = F.col(spans_col)
    nxt = F.slice(spans, 2, F.greatest(F.size(spans) - 1, F.lit(1)))
    pairs = F.zip_with(
        spans,
        nxt,
        lambda cur, nx: F.struct(
            cur[kind_field].alias("k"),
            nx[kind_field].alias("nk"),
            cur[offset_field].alias("o"),
            nx[offset_field].alias("no"),
        ),
    )
    is_media = lambda k: k.isNotNull() & (k != caption_kind)
    n_uncaptioned = F.size(
        F.filter(
            pairs,
            lambda p: is_media(p["k"])
            & (p["nk"].isNull() | (p["nk"] != caption_kind)),
        )
    )
    offsets_monotone = F.forall(
        pairs, lambda p: p["no"].isNull() | (p["no"] > p["o"])
    )
    empty = spans.isNull() | (F.size(spans) == 0)
    return (
        df.withColumn("n_spans", F.coalesce(F.size(spans), F.lit(0)).cast("int"))
        .withColumn(
            "n_media",
            F.when(empty, F.lit(0))
            .otherwise(F.size(F.filter(spans, lambda s: is_media(s[kind_field]))))
            .cast("int"),
        )
        .withColumn(
            "n_uncaptioned",
            F.when(empty, F.lit(0)).otherwise(n_uncaptioned).cast("int"),
        )
        .withColumn(
            "offsets_monotone",
            F.when(empty, F.lit(True)).otherwise(offsets_monotone),
        )
    )


# ---------------------------------------------------------------------------
# perceptual-hash image near-dup (the media tier of the dedup stack)
# ---------------------------------------------------------------------------

# 48 trailing payload bytes stand in for the decoded 6x8 luma grid (the
# deterministic decode stub; a real pipeline resamples pixels here).
# 48 bits -> 4 chunks x 12 bits: pigeonhole gives FULL recall for
# Hamming distance <= 3 (d < #chunks forces >= 1 chunk equal).
PHASH_GRID = 48
PHASH_CHUNKS = 4
PHASH_CHUNK_BITS = PHASH_GRID // PHASH_CHUNKS


def phash_chunks(data) -> "F.Column":
    """Average-hash (aHash) of the stub-decoded pixel grid, as an
    array of 4 int chunks of 12 bits each.

    The REAL aHash algorithm over the stubbed decode: pixel i's bit is
    ``p_i · 48 > Σp`` (strictly-above-mean, integer cross-multiplied —
    no division, no float, deterministic ties). Pixels come from the
    LAST 48 payload bytes (`substring(data, -48)`), skipping the
    variable-length magic prefix, so a DuckDB oracle can rebuild the
    identical grid from the md5-derived fixture bytes without blob
    arithmetic.

    Built with higher-order functions ON PURPOSE: a fully-native
    Python-side loop (zorder_key style) inlines the 48-term pixel
    array and its sum into every one of the 48 bit comparisons —
    ~2,300 byte-extract subtrees per row and a multi-second codegen
    compile (measured: the q195 cell dropped ~5× after this rewrite).
    transform/aggregate bind ``px`` and ``s`` ONCE per row; the
    per-element lambdas are trivial, exactly the case the r2
    measurement says beats the native rewrite.
    """
    return _phash_chunks_expr(_phash_pixels(data))


def _phash_pixels(data) -> "F.Column":
    """array<long> of the 48 stub-decoded pixel values."""
    hx = F.lower(F.hex(F.substring(data, -PHASH_GRID, PHASH_GRID)))
    return F.transform(
        F.sequence(F.lit(0), F.lit(PHASH_GRID - 1)),
        lambda i: F.conv(
            F.substring(hx, i * 2 + 1, F.lit(2)), 16, 10
        ).cast("long"),
    )


def _phash_chunks_expr(px_col, s_col=None) -> "F.Column":
    """Chunk array from a pixel-array column (and optionally a
    pre-bound sum column — `phash_candidates` stages ``px`` and ``s``
    as NAMED columns so each is evaluated once per row; referencing
    the raw expressions here would re-expand the 48-term pixel build
    into every bit comparison, the tree blowup the first version of
    this operator shipped with)."""
    s = (
        s_col
        if s_col is not None
        else F.aggregate(px_col, F.lit(0).cast("long"), lambda a, v: a + v)
    )
    # little-endian bit packing as a REVERSE-order fold (acc*2 + bit):
    # shiftleft needs a literal shift amount, a fold does not
    return F.transform(
        F.sequence(F.lit(0), F.lit(PHASH_CHUNKS - 1)),
        lambda j: F.aggregate(
            F.reverse(
                F.slice(px_col, j * PHASH_CHUNK_BITS + 1, F.lit(PHASH_CHUNK_BITS))
            ),
            F.lit(0).cast("long"),
            lambda acc, p: acc * 2
            + F.when(p * PHASH_GRID > s, F.lit(1)).otherwise(F.lit(0)),
        ).cast("int"),
    )


def phash_candidates(
    df: DataFrame,
    key_col: str = "doc_id",
    data_col: str = "media_data",
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """(a, b, hamming) pairs of images whose perceptual hashes are
    within ``max_hamming`` bits — near-duplicate IMAGES, completing
    the dedup tier list (exact / MinHash / SimHash / n-gram Jaccard /
    embedding-cosine / canonical-URL) with the media column the other
    tiers can't see. Re-encoded, metadata-stripped, byte-different
    copies of the same picture hash to nearby aHashes; byte-level
    fingerprints miss them by construction.

    Same scale shape as `dedup.simhash_candidates`: bucket by each of
    the 4 disjoint 12-bit chunks (pigeonhole: Hamming ≤ 3 over 4
    chunks forces ≥ 1 equal chunk → full recall), hot buckets bounded
    two-phase (`dedup._two_phase_buckets` — a degenerate chunk value,
    e.g. all-dark images, must never buffer single-stage), exact
    Hamming verify on the survivors via ``bit_count(xor)`` per chunk.

    CAPACITY BOUND (stated, not silent): 12-bit chunks give 4,096
    buckets per chunk, so candidate volume grows ≈ n²·4/(2·4096) once
    buckets saturate — measured: 500k rows 23.6 s but 2M rows 338 s
    (BENCH.md §7c). Past ~10^6 rows use a longer hash: a real decoder
    yields a 64-pixel grid → 4×16-bit chunks (65,536 buckets/chunk) =
    exactly `simhash_candidates`' layout, 16× the capacity at the same
    recall guarantee. The 48-pixel grid here is fixture-sized (the
    fake payload is 48 bytes), not a design limit.

    Keys compare as STRINGS in the pair ordering (a < b) — the
    `_two_phase_buckets` member-struct contract.
    """
    from validate_spark.operators.dedup import _two_phase_buckets, upper_pairs

    # stage px and s as NAMED columns: CollapseProject keeps a
    # multiply-referenced non-cheap alias in its own projection, so
    # the 48-term pixel build and its sum run ONCE per row instead of
    # being inlined into all 48 bit comparisons
    sigs = (
        df.select(
            F.col(key_col).cast("string").alias("k"),
            _phash_pixels(F.col(data_col)).alias("_px"),
        )
        .withColumn(
            "_s",
            F.aggregate("_px", F.lit(0).cast("long"), lambda a, v: a + v),
        )
        .select(
            "k",
            _phash_chunks_expr(F.col("_px"), F.col("_s")).alias("pc"),
        )
    )
    chunks = sigs.select(
        "k",
        "pc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        F.get("pc", j).alias("val"),
                    )
                    for j in range(PHASH_CHUNKS)
                ]
            )
        ).alias("cv"),
    ).select("k", "pc", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    buckets = _two_phase_buckets(
        chunks, ["chunk", "val"], F.struct("k", "pc"), max_bucket
    )
    pairs = buckets.select(
        F.explode(
            upper_pairs(
                F.col("ms"),
                lambda x, y: F.struct(
                    x.getField("k").alias("a"),
                    y.getField("k").alias("b"),
                    x.getField("pc").alias("pa"),
                    y.getField("pc").alias("pb"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.pa", "p.pb").distinct()
    hamming = F.lit(0).cast("int")
    for j in range(PHASH_CHUNKS):
        hamming = hamming + F.bit_count(
            F.get("pa", j).bitwiseXOR(F.get("pb", j))
        ).cast("int")
    return (
        pairs.select("a", "b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# audio fingerprint near-dup (the audio tier of the media dedup stack)
# ---------------------------------------------------------------------------

def audio_frame_sigs(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    data_col: str = "media_data",
    frame_bytes: int = 16,
) -> DataFrame:
    """(k, sigs: array<string>) — ORDERED per-frame signatures of an
    audio blob: each full ``frame_bytes`` block's hex string (the
    chromaprint shape: a fingerprint is the SEQUENCE of per-window
    spectral hashes; the stub's 'spectral hash' is the block itself —
    already md5-derived bytes under `attach_fake_media`, and a real
    decoder would put an FFT+quantize here exactly like
    `decode_image_real` documents for images). Trailing partial
    blocks are dropped (a real window function needs a full window).
    Map-only, native Column ops (hex/substring on binary)."""
    d = F.col(data_col)
    n_frames = F.floor(F.octet_length(d) / frame_bytes).cast("int")
    sigs = F.when(
        n_frames > 0,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
            lambda i: F.hex(
                F.substring(d, i * frame_bytes + 1, frame_bytes)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(key_col).cast("string").alias("k"), sigs.alias("sigs")
    )


def audio_fingerprint_neardup(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    data_col: str = "media_data",
    frame_bytes: int = 16,
    gram: int = 2,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Audio near-duplicate pairs — the AUDIO tier of the media dedup
    stack beside `phash_candidates` (images): two recordings match
    when they share enough CONSECUTIVE frame-signature runs, i.e.
    Jaccard over ``gram``-length shingles of the ordered frame
    signatures ≥ threshold. Shingling over the SEQUENCE (not the
    frame set) is what makes it a fingerprint: a re-encode that keeps
    the stream matches; a shuffled remix of the same frames does not.

    Everything after the signature projection IS the text dedup
    engine — `dedup.gram_set_jaccard_pairs` (prefix-filtered
    AllPairs, rarest-first, bounded buckets, exact verify); the
    modality only contributes the gram builder, which is the whole
    point of normalizing media to (key, token-set) early. Short
    clips (< gram+1 frames) contribute their whole signature sequence
    as one gram (the `word_ngram_frame` convention, so exact-dup
    short clips still pair).

    Output: (a, b, jaccard round-6) — same contract as q44.
    """
    from validate_spark.operators.dedup import gram_set_jaccard_pairs

    sigs = audio_frame_sigs(
        df, key_col=key_col, data_col=data_col, frame_bytes=frame_bytes
    ).filter(F.size("sigs") > 0)
    s = F.col("sigs")
    grams = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(s) - (gram - 1), F.lit(1))
            ),
            lambda i: F.concat_ws("|", F.slice(s, i, gram)),
        )
    )
    sets_ = sigs.select("k", grams.alias("grams"))
    return gram_set_jaccard_pairs(
        sets_, threshold=threshold, max_bucket=max_bucket
    )


def modality_dup_topline(
    df: DataFrame,
    *,
    kind_col: str = "kind",
    key_col: str = "dup_key",
) -> DataFrame:
    """Duplication topline at SPAN granularity, per modality: given an
    exploded span frame with a modality column and a per-span dedup
    key (md5 text fingerprint for text spans, the media_ref for media
    spans — the same asset embedded in many documents IS the dominant
    media-duplication mode), report per kind

        (kind, n_spans, n_distinct, dup_rows)

    — the interleaved-payload lift of the document-level duplication
    topline: a corpus can look clean at doc granularity while 40% of
    its image spans are one logo. Two-phase ((kind, key) counts →
    kind rollup): aggregation state is bounded by distinct keys, never
    a collect of span payloads. NULL keys are coalesced to '' (the
    manifest md5 rule) so they form one countable group.
    """
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    per = (
        df.select(F.col(kind_col).alias("kind"), key.alias("_k"))
        .groupBy("kind", "_k")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    )
    return per.groupBy("kind").agg(
        F.sum("_cnt").cast("long").alias("n_spans"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("_cnt") - 1).cast("long").alias("dup_rows"),
    )
