"""Referential-integrity checks as anti-joins (SURVEY.md §2.9).

The reference's filesystem/upload probes (`pathExists`,
validators_compare.go:22-28; `isFile`, validators.go:505-517) are
side-effecting per-record lookups. The table-scale re-expression:
"every media_ref must exist in the media catalog" = LEFT ANTI JOIN.

Strategy selection is by operator, not by flag:
- ``dangling_refs``, ``dangling_span_refs`` and
  ``attribute_consistency`` always ``broadcast()`` the catalog or
  dimension (dimension-sized by nature): the join runs map-side with
  ZERO shuffle of the 10^12-row fact side;
- ``dangling_ref_counts`` is the large-catalog operator: a shuffle
  anti-join after a semi-join reduction of the fact side; AQE
  converts it to broadcast at runtime if the catalog turns out small,
  and handles skew.

For the interleaved documents table the refs live INSIDE the spans
array — ``dangling_span_refs`` explodes only (doc_id, media_ref),
projecting away text before the shuffle so the wide payload never moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dangling_refs(
    fact: DataFrame,
    ref_col: str,
    catalog: DataFrame,
    catalog_key: str = "ref",
) -> DataFrame:
    """Rows of ``fact`` whose ``ref_col`` is non-null but absent from the
    catalog."""
    cat = F.broadcast(
        catalog.select(F.col(catalog_key).alias("__cat_key")).distinct()
    )
    refs = fact.filter(F.col(ref_col).isNotNull())
    return refs.join(cat, refs[ref_col] == cat["__cat_key"], "left_anti")


def dangling_span_refs(
    docs: DataFrame,
    catalog: DataFrame,
    *,
    spans_col: str = "spans",
    key_col: str = "doc_id",
    catalog_key: str = "ref",
) -> DataFrame:
    """(doc_id, media_ref) pairs dangling vs the catalog. Projects to the
    two needed columns BEFORE exploding so column pruning reaches the
    parquet scan and the anti-join moves minimal bytes."""
    refs = (
        docs.select(
            F.col(key_col),
            F.explode(
                F.filter(
                    F.col(spans_col).getField("media_ref"),
                    lambda r: r.isNotNull(),
                )
            ).alias("media_ref"),
        )
    )
    cat = F.broadcast(
        catalog.select(F.col(catalog_key).alias("__cat_key")).distinct()
    )
    return refs.join(cat, refs["media_ref"] == cat["__cat_key"], "left_anti")


def dangling_ref_counts(
    fact: DataFrame,
    ref_col: str,
    catalog: DataFrame,
    catalog_key: str = "ref",
) -> DataFrame:
    """Scale path for the case BOTH sides are huge: (ref, n_occurrences)
    for every dangling ref, via semi-join reduction.

    At 10^12 fact rows a ref column repeats heavily (maybe 10^8 distinct
    refs). Anti-joining raw rows shuffles O(rows); pre-aggregating
    ``groupBy(ref).count()`` first lets Catalyst's partial (map-side)
    aggregate collapse each scan partition to its distinct refs before
    anything moves, so the shuffle is O(distinct refs) — then the
    anti-join runs on the reduced frame. Same trick a bloom-filter
    runtime filter approximates, but exact and with zero extra pass.
    The anti-join is a shuffle join (both sides large); a dimension-
    sized catalog belongs to ``dangling_refs``.
    """
    counts = (
        fact.filter(F.col(ref_col).isNotNull())
        .groupBy(ref_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    cat = catalog.select(F.col(catalog_key).alias("__cat_key")).distinct()
    return counts.join(cat, counts[ref_col] == cat["__cat_key"], "left_anti")


def attribute_consistency(
    fact: DataFrame,
    fk_col: str,
    dim: DataFrame,
    dim_key: str,
    attr_pairs: list[tuple[str, str]],
) -> DataFrame:
    """Denormalization-consistency check (the step past existence):
    for fact rows whose ``fk_col`` RESOLVES in the dimension, do the
    fact's denormalized copies of dimension attributes still agree
    with the dimension of record? One row per ``(fact_attr, dim_attr)``
    pair: rows checked, mismatches, round-6 mismatch rate.

    Values are compared null-safely (``eqNullSafe``): NULL==NULL is
    consistent, NULL vs value is a mismatch — a denormalized column
    that silently went NULL is exactly the corruption this catches.
    Unresolved foreign keys are :func:`dangling_refs`' job and are
    excluded here (inner join).

    Scale: the dimension is dimension-sized by definition → broadcast
    inner join (the fact side never shuffles), then ONE map-side-
    partial agg over len(attr_pairs) counters; output rows =
    len(attr_pairs).

    Reference seed: eqField (validators_compare.go — cross-FIELD
    equality inside one record); at table scale the natural lift is
    cross-TABLE equality through a key.
    """
    d = F.broadcast(
        dim.select(
            F.col(dim_key).alias("__dk"),
            *[F.col(dc).alias(f"__d_{i}") for i, (_, dc) in enumerate(attr_pairs)],
        )
    )
    f = fact.filter(F.col(fk_col).isNotNull())
    j = f.join(d, f[fk_col] == d["__dk"], "inner")
    aggs = []
    for i, (fc, _) in enumerate(attr_pairs):
        ok = F.col(fc).eqNullSafe(F.col(f"__d_{i}"))
        aggs.append(F.count(F.lit(1)).alias(f"__n_{i}"))
        aggs.append(F.sum((~ok).cast("long")).alias(f"__m_{i}"))
    one = j.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(fc).alias("fact_attr"),
                F.lit(dc).alias("dim_attr"),
                F.col(f"__n_{i}").alias("n_checked"),
                F.col(f"__m_{i}").alias("n_mismatch"),
            )
            for i, (fc, dc) in enumerate(attr_pairs)
        ]
    )
    return one.select(F.explode(entries).alias("e")).select(
        F.col("e.fact_attr").alias("fact_attr"),
        F.col("e.dim_attr").alias("dim_attr"),
        F.col("e.n_checked").alias("n_checked"),
        F.col("e.n_mismatch").alias("n_mismatch"),
        F.round(F.col("e.n_mismatch") / F.col("e.n_checked"), 6).alias(
            "mismatch_rate"
        ),
    )
