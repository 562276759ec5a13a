"""Distribution-drift detection via histogram sketches (SURVEY.md §2.9).

No reference analogue (the reference sees one record at a time); this
is the natural table-scale extension named by the north rule.

Design for 10^12 rows: the ONLY thing that ever reaches the driver is
a ≤n_buckets-row histogram per column — executors compute bucket
counts with map-side combine (`groupBy(bucket).count()`), the driver
runs the KS / chi-square arithmetic on those tiny arrays with numpy.
No applyInPandas needed for fixed-bucket histograms — pure built-in
expressions beat a pandas UDF here; the UDF path is reserved for
quantile sketches (future: KLL/t-digest via applyInPandas merge).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from validate_spark.operators.stats import numeric_histogram


@dataclass
class DriftReport:
    statistic: float  # KS distance or chi-square
    p_value: float | None
    n_left: int
    n_right: int
    method: str

    @property
    def drifted(self) -> bool:
        if self.method == "psi":
            # industry convention: <0.1 stable, 0.1-0.2 moderate, >0.2 drifted
            return self.statistic > 0.2
        # conventional alpha
        return self.p_value is not None and self.p_value < 0.05


def _hist_to_counts(hist_rows, n_buckets: int) -> list[int]:
    counts = [0] * n_buckets
    for r in hist_rows:
        b = int(r["bucket"])
        if 0 <= b < n_buckets:
            counts[b] = int(r["cnt"])
    return counts


def ks_from_histograms(left: list[int], right: list[int]) -> tuple[float, float]:
    """Two-sample KS on binned data: max |CDF_l - CDF_r|, asymptotic p."""
    nl, nr = sum(left), sum(right)
    if nl == 0 or nr == 0:
        return 0.0, 1.0
    d = 0.0
    cl = cr = 0.0
    for a, b in zip(left, right):
        cl += a / nl
        cr += b / nr
        d = max(d, abs(cl - cr))
    # asymptotic Kolmogorov distribution
    ne = nl * nr / (nl + nr)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    if lam < 1e-3:  # series diverges as lam→0; exact limit is p=1
        return d, 1.0
    p = 2.0 * sum((-1) ** (k - 1) * math.exp(-2.0 * (lam**2) * (k**2)) for k in range(1, 101))
    return d, max(0.0, min(1.0, p))


def chi_square_from_histograms(left: list[int], right: list[int]) -> tuple[float, float]:
    """Two-sample chi-square homogeneity test on binned data."""
    nl, nr = sum(left), sum(right)
    if nl == 0 or nr == 0:
        return 0.0, 1.0
    stat = 0.0
    dof = 0
    for a, b in zip(left, right):
        tot = a + b
        if tot == 0:
            continue
        ea = tot * nl / (nl + nr)
        eb = tot * nr / (nl + nr)
        stat += (a - ea) ** 2 / ea + (b - eb) ** 2 / eb
        dof += 1
    dof = max(1, dof - 1)
    # Wilson-Hilferty approximation of the chi-square survival function
    if stat <= 0:
        return 0.0, 1.0
    z = ((stat / dof) ** (1.0 / 3.0) - (1 - 2.0 / (9 * dof))) / math.sqrt(2.0 / (9 * dof))
    p = 0.5 * math.erfc(z / math.sqrt(2.0))
    return stat, p


def numeric_drift(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    *,
    lo: float,
    hi: float,
    n_buckets: int = 32,
    method: str = "ks",
) -> DriftReport:
    """Drift between two live DataFrames on a numeric column."""
    h_cur = numeric_histogram(cur, col, lo=lo, hi=hi, n_buckets=n_buckets).collect()
    h_ref = numeric_histogram(ref, col, lo=lo, hi=hi, n_buckets=n_buckets).collect()
    return _report(_hist_to_counts(h_cur, n_buckets), _hist_to_counts(h_ref, n_buckets), method)


# ---------------------------------------------------------------------------
# per-partition quantile sketches (pandas/Arrow path — north_star wording:
# "per-partition KS sketches via pandas/Arrow UDFs")
# ---------------------------------------------------------------------------

SKETCH_SCHEMA = "n long, q array<double>"


def partition_quantile_sketches(df: DataFrame, col: str, *, n_quantiles: int = 64) -> DataFrame:
    """One (n, equi-depth-quantiles) sketch row PER ARROW BATCH via
    ``mapInPandas`` — numpy quantile over the batch, nothing but the
    sketch leaves the executor. At 10^12 rows the driver receives
    ~(batches × n_quantiles) doubles, independent of row count.

    This is the sketch path for statistics fixed-bucket histograms can't
    express (unknown value range, heavy tails); for known ranges the
    pure-expression ``numeric_histogram`` is cheaper (no Python)."""
    import numpy as np  # noqa: F401
    import pandas as pd

    probs = [i / (n_quantiles - 1) for i in range(n_quantiles)]

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            v = pdf[col].dropna().to_numpy(dtype=float)
            if len(v) == 0:
                continue
            yield pd.DataFrame(
                {"n": [len(v)], "q": [np.quantile(v, probs).tolist()]}
            )

    return df.select(col).mapInPandas(gen, SKETCH_SCHEMA)


def _sketch_cdf(sketches: list, grid) -> "list[float]":
    """Weighted CDF estimate at grid points from (n, quantiles) sketches:
    within a sketch, CDF is linear between quantile points (equi-depth)."""
    import numpy as np

    total = sum(int(s["n"]) for s in sketches)
    acc = np.zeros(len(grid))
    for s in sketches:
        q = np.asarray(s["q"], dtype=float)
        probs = np.linspace(0.0, 1.0, len(q))
        cdf = np.interp(grid, q, probs, left=0.0, right=1.0)
        acc += int(s["n"]) * cdf
    return acc / max(total, 1)


def sketch_drift(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    *,
    n_quantiles: int = 64,
) -> DriftReport:
    """KS drift from per-partition quantile sketches — the only driver
    traffic is the sketch rows. Grid = union of both sides' quantile
    points, so the KS sup is evaluated exactly where the estimated CDFs
    bend."""
    import numpy as np

    s_cur = partition_quantile_sketches(cur, col, n_quantiles=n_quantiles).collect()
    s_ref = partition_quantile_sketches(ref, col, n_quantiles=n_quantiles).collect()
    if not s_cur or not s_ref:
        return DriftReport(0.0, 1.0, 0, 0, "ks_sketch")
    grid = np.unique(
        np.concatenate(
            [np.asarray(s["q"], dtype=float) for s in (*s_cur, *s_ref)]
        )
    )
    c1 = _sketch_cdf(s_cur, grid)
    c2 = _sketch_cdf(s_ref, grid)
    d = float(np.max(np.abs(c1 - c2)))
    nl = sum(int(s["n"]) for s in s_cur)
    nr = sum(int(s["n"]) for s in s_ref)
    ne = nl * nr / (nl + nr)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    if lam < 1e-3:
        p = 1.0
    else:
        p = 2.0 * sum(
            (-1) ** (k - 1) * math.exp(-2.0 * (lam**2) * (k**2)) for k in range(1, 101)
        )
    return DriftReport(d, max(0.0, min(1.0, p)), nl, nr, "ks_sketch")


def iqr_outlier_bounds(
    df: DataFrame, col: str, *, k: float = 1.5, n_quantiles: int = 128
) -> tuple[float, float]:
    """Tukey fences from the merged per-partition quantile sketches:
    [q1 - k·IQR, q3 + k·IQR]. Sketch-based — one scan, sketch-sized
    driver traffic; pair with a ``between`` rule to turn the bounds into
    violations."""
    import numpy as np

    sketches = partition_quantile_sketches(df, col, n_quantiles=n_quantiles).collect()
    if not sketches:
        return (float("-inf"), float("inf"))
    grid = np.unique(
        np.concatenate([np.asarray(s["q"], dtype=float) for s in sketches])
    )
    cdf = _sketch_cdf(sketches, grid)
    q1 = float(np.interp(0.25, cdf, grid))
    q3 = float(np.interp(0.75, cdf, grid))
    iqr = q3 - q1
    return (q1 - k * iqr, q3 + k * iqr)


def count_outliers(df: DataFrame, col: str, *, k: float = 1.5) -> int:
    """Rows outside the Tukey fences (sketch pass + one filter-count)."""
    lo, hi = iqr_outlier_bounds(df, col, k=k)
    c = F.col(col)
    return df.filter(c.isNotNull() & ((c < lo) | (c > hi))).count()


def psi_from_histograms(
    left: list[int], right: list[int], *, smoothing: float = 0.5
) -> float:
    """Population Stability Index on binned data:
    Σ (p_i − q_i)·ln(p_i/q_i), with add-``smoothing`` on counts so an
    empty bucket on one side contributes a large-but-finite term
    instead of ±inf (the standard production-monitoring guard).
    Convention: <0.1 stable, 0.1-0.2 moderate shift, >0.2 drifted."""
    k = len(left)
    tl, tr = sum(left), sum(right)
    if tl == 0 or tr == 0 or k == 0:
        return 0.0
    psi = 0.0
    for a, b in zip(left, right):
        p = (a + smoothing) / (tl + smoothing * k)
        q = (b + smoothing) / (tr + smoothing * k)
        psi += (p - q) * math.log(p / q)
    return psi


def _report(left: list[int], right: list[int], method: str) -> DriftReport:
    if method == "ks":
        stat, p = ks_from_histograms(left, right)
    elif method == "psi":
        stat, p = psi_from_histograms(left, right), None
    else:
        stat, p = chi_square_from_histograms(left, right)
    return DriftReport(
        statistic=stat, p_value=p, n_left=sum(left), n_right=sum(right), method=method
    )


_FAILED_COL = "_vs_failed"
_PASS_COL = "_vs_pass"

# Integer cross-multiplication products reach |count|·|count|·10^4; at
# 10^12 rows that's ~10^29, far past BIGINT — all rate comparisons below
# go through decimal(38,0) (Spark) / HUGEINT (oracle SQL), never long.
_DEC = "decimal(38,0)"


def rule_violation_drift(
    res,
    cohort,
    *,
    min_delta_bp: int = 100,
    failed_col: str = _FAILED_COL,
) -> DataFrame:
    """Per-rule violation-RATE drift between two cohorts of one
    validation run (e.g. yesterday's partition vs today's, or an
    md5-split A/B of the same table): for every (field, validator)
    with at least one violation, the per-cohort violation counts, row
    totals, round-6 rates, and a ``drifted`` flag raised when the two
    rates differ by more than ``min_delta_bp`` basis points.

    ``cohort`` is a boolean Column (True = cohort A). The flag is
    decided by INTEGER cross-multiplication —
    ``|n_a·tot_b − n_b·tot_a|·10⁴ > bp·tot_a·tot_b`` — in decimal(38,0)
    so the selection replays bit-identically in any engine and never
    overflows at 10^12-row totals.

    Scale: ONE scan. Row totals ride the same explode as the per-rule
    counts via a NULL-sentinel element prepended to every row's
    violation array, so the groupBy((field, validator)) — cardinality
    = #rules + 1, map-side combined — is the only shuffle; the totals
    row is then broadcast back inside the tiny aggregated frame with
    an unpartitioned window (≤ #rules rows on one task, not a second
    scan of the input)."""
    from pyspark.sql import Window

    ann = getattr(res, "annotated", res)
    arr_t = ann.schema[failed_col].dataType
    sentinel = F.array(F.lit(None).cast(arr_t.elementType))
    ex = ann.select(
        cohort.alias("_in_a"),
        F.explode(
            F.concat(sentinel, F.coalesce(F.col(failed_col), F.array().cast(arr_t)))
        ).alias("_v"),
    )
    a = F.col("_in_a")
    counts = ex.groupBy(
        F.col("_v.field").alias("field"),
        F.col("_v.validator").alias("validator"),
    ).agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    null_f = F.col("field").isNull()
    counts = counts.withColumn(
        "tot_a", F.max(F.when(null_f, F.col("n_a"))).over(whole)
    ).withColumn("tot_b", F.max(F.when(null_f, F.col("n_b"))).over(whole))
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    delta = d("n_a") * d("tot_b") - d("n_b") * d("tot_a")
    drifted = F.abs(delta) * F.lit(10_000).cast(_DEC) > (
        F.lit(int(min_delta_bp)).cast(_DEC) * d("tot_a") * d("tot_b")
    )
    return counts.filter(~null_f).select(
        "field",
        "validator",
        "n_a",
        "n_b",
        "tot_a",
        "tot_b",
        F.round(F.col("n_a") / F.col("tot_a"), 6).alias("rate_a"),
        F.round(F.col("n_b") / F.col("tot_b"), 6).alias("rate_b"),
        drifted.alias("drifted"),
    )


def windowed_violation_anomalies(
    res,
    window_col,
    *,
    max_delta_bp: int = 200,
    pass_col: str = _PASS_COL,
) -> DataFrame:
    """Violation-rate control chart: per ``window_col`` group (a day,
    an ingest batch, a source shard) the row count, failing-row count,
    round-6 failure rate, and an ``anomalous`` flag raised when the
    window's rate deviates from the GLOBAL rate by more than
    ``max_delta_bp`` basis points — the monitoring view a production
    validation pipeline alarms on.

    Flag semantics are integer cross-multiplication in decimal(38,0)
    (``|n_viol·tot_n − tot_viol·n|·10⁴ > bp·n·tot_n``) — engine-portable
    and overflow-safe at 10^12 rows (same discipline as
    :func:`rule_violation_drift`).

    Scale: ONE scan → groupBy(window) with map-side partials
    (cardinality = #windows); global totals are an unpartitioned-window
    sum over that tiny aggregated frame, NOT a second pass over the
    input."""
    from pyspark.sql import Window

    ann = getattr(res, "annotated", res)
    per = ann.select(
        window_col.alias("window"), F.col(pass_col).alias("_p")
    ).groupBy("window").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_p"), 0).otherwise(1)).cast("long").alias("n_viol"),
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = per.withColumn("tot_n", F.sum("n").over(whole)).withColumn(
        "tot_viol", F.sum("n_viol").over(whole)
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    delta = d("n_viol") * d("tot_n") - d("tot_viol") * d("n")
    anomalous = F.abs(delta) * F.lit(10_000).cast(_DEC) > (
        F.lit(int(max_delta_bp)).cast(_DEC) * d("n") * d("tot_n")
    )
    return per.select(
        "window",
        "n",
        "n_viol",
        "tot_n",
        "tot_viol",
        F.round(F.col("n_viol") / F.col("n"), 6).alias("rate"),
        F.round(F.col("tot_viol") / F.col("tot_n"), 6).alias("global_rate"),
        anomalous.alias("anomalous"),
    )


def _profile_side(df: DataFrame, suffix: str) -> DataFrame:
    """ONE-scan per-column profile of one snapshot, melted long:
    (col_name, dtype_<s>, n_<s>, null_<s>). The agg is a single wide
    count(*) + per-column null sums (map-side partials, no raw-data
    shuffle); the melt explodes the resulting ONE row into #columns
    rows, so everything after the agg is metadata-sized. dtypes are
    schema literals (driver-side metadata, not a data read)."""
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{i}")
        for i, c in enumerate(cols)
    ]
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(df.schema[c].dataType.simpleString()).alias("dtype"),
                F.col("_n").alias("n"),
                F.col(f"_null_{i}").alias("n_null"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return one.select(F.explode(entries).alias("e")).select(
        F.col("e.col_name").alias("col_name"),
        F.col("e.dtype").alias(f"dtype_{suffix}"),
        F.col("e.n").alias(f"n_{suffix}"),
        F.col("e.n_null").alias(f"null_{suffix}"),
    )


def schema_profile_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    max_null_delta_bp: int = 100,
) -> DataFrame:
    """Schema + profile drift between two snapshots of one table (the
    trusted snapshot vs today's crawl) — the TFDV/Deequ-style skew
    check that runs BEFORE row validation. Per column (union of both
    schemas): presence, dtype on each side, row/null counts, round-6
    null rates, and a ``status``:

    - ``added`` / ``dropped`` — column present on one side only;
    - ``type_changed`` — present on both with different Spark dtypes;
    - ``null_drift`` — same dtype but null RATES more than
      ``max_null_delta_bp`` basis points apart (integer
      cross-multiplication in decimal(38,0) — bit-identical replay in
      any engine, no overflow at 10^12-row snapshots);
    - ``ok`` otherwise.

    The structural-only, nested-path variant is
    :func:`validate_spark.operators.suggest.schema_diff`; this one adds
    the data-side evidence (a dropped column and an all-NULL column
    look identical to a consumer — only the profile tells them apart).

    Scale: ONE scan per snapshot (wide agg with map-side partials →
    one row), then a full-outer join of two #columns-row frames —
    everything past the aggs is metadata-sized. No raw-data shuffle.

    An EMPTY snapshot reports n=0 with NULL null-counts/rates (sum
    over zero rows — identical in DuckDB), so the null_drift flag
    never fires on it: zero rows is "no evidence", not "0% nulls".

    Reference seed: the compile-time struct-shape pin in cache.go:98-257
    (gookit/validate re-checks a struct's fields/types per call; at
    table scale the analogous guard is snapshot-vs-snapshot).
    """
    a = _profile_side(df_a, "a")
    b = _profile_side(df_b, "b")
    j = a.join(b, "col_name", "full_outer")
    in_a = F.col("dtype_a").isNotNull()
    in_b = F.col("dtype_b").isNotNull()
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    delta = d("null_a") * d("n_b") - d("null_b") * d("n_a")
    null_drifted = F.abs(delta) * F.lit(10_000).cast(_DEC) > (
        F.lit(int(max_null_delta_bp)).cast(_DEC) * d("n_a") * d("n_b")
    )
    status = (
        F.when(~in_b, F.lit("dropped"))
        .when(~in_a, F.lit("added"))
        .when(F.col("dtype_a") != F.col("dtype_b"), F.lit("type_changed"))
        .when(null_drifted, F.lit("null_drift"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        "col_name",
        in_a.alias("in_a"),
        in_b.alias("in_b"),
        "dtype_a",
        "dtype_b",
        "n_a",
        "n_b",
        "null_a",
        "null_b",
        F.round(F.col("null_a") / F.col("n_a"), 6).alias("null_rate_a"),
        F.round(F.col("null_b") / F.col("n_b"), 6).alias("null_rate_b"),
        status.alias("status"),
    )


def categorical_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    *,
    min_delta_bp: int = 100,
) -> DataFrame:
    """Category-share drift between two snapshots of one column (the
    categorical complement of :func:`numeric_drift`): per category —
    including categories present on only one side, and the NULL
    category — per-side counts, totals, round-6 shares, and a
    ``drifted`` flag when the shares differ by more than
    ``min_delta_bp`` basis points (decimal(38,0) cross-multiplication,
    same engine-portable discipline as :func:`rule_violation_drift`).

    Scale: each snapshot aggregates map-side into (category, count)
    and the two tiny frames meet via tag+union+groupBy — one exchange
    per side, no join (the snapdiff pattern); totals ride a window
    over the aggregated frame. Output cardinality = |categories|: for
    genuinely high-cardinality columns, bucket first (hash buckets or
    :func:`~validate_spark.operators.suggest.pattern_profile` classes)
    — emitting 10^9 category rows is a modeling error, not a drift
    report, so no silent top-K is applied here.
    """
    from pyspark.sql import Window

    def side(df, ia, ib):
        return df.groupBy(F.col(col).alias("category")).agg(
            F.count(F.lit(1)).alias("_c")
        ).select(
            "category",
            (F.col("_c") * ia).cast("long").alias("_na"),
            (F.col("_c") * ib).cast("long").alias("_nb"),
        )

    u = side(df_a, 1, 0).unionByName(side(df_b, 0, 1))
    g = u.groupBy("category").agg(
        F.sum("_na").cast("long").alias("n_a"),
        F.sum("_nb").cast("long").alias("n_b"),
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = g.withColumn("tot_a", F.sum("n_a").over(whole)).withColumn(
        "tot_b", F.sum("n_b").over(whole)
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    delta = d("n_a") * d("tot_b") - d("n_b") * d("tot_a")
    drifted = F.abs(delta) * F.lit(10_000).cast(_DEC) > (
        F.lit(int(min_delta_bp)).cast(_DEC) * d("tot_a") * d("tot_b")
    )
    return g.select(
        "category",
        "n_a",
        "n_b",
        "tot_a",
        "tot_b",
        F.round(F.col("n_a") / F.col("tot_a"), 6).alias("share_a"),
        F.round(F.col("n_b") / F.col("tot_b"), 6).alias("share_b"),
        drifted.alias("drifted"),
    )


# digit -> round(log10(1 + 1/d) * 1e6): hardcoded in BOTH engines so no
# libm ULP difference can ever reach the gate; the nine values sum to
# exactly 1_000_000.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_audit(
    df: DataFrame, value_col: str, *, cents_scale: int = 100
) -> DataFrame:
    """First-significant-digit (Benford's law) audit of a positive
    numeric column — fabricated or truncated financial/measure data
    drifts from the log10(1 + 1/d) digit law long before its moments
    move (classic forensic-accounting check; complements the KS/χ²
    drift family with a no-baseline audit).

    Everything that crosses the gate is an INTEGER: the value is
    scaled to cents (round-half-up on an abs() value — identical in
    both engines), the digit comes from the integer's STRING (double
    formatting differs across engines; int64 strings don't), shares
    are ppm by integer floor division, and the expected law is the
    hardcoded BENFORD_PPM table. Zero/NULL/overflow-cents rows drop.

    One map-side-partial groupBy on 9 keys; the whole-frame window
    below runs over those 9 rows, not the input."""
    from pyspark.sql.window import Window

    v = F.col(value_col).try_cast("double")
    cents = F.round(F.abs(v) * F.lit(float(cents_scale))).try_cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).try_cast("int")
    counts = (
        df.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # try_element_at: map element_at aborts under ANSI on a missing
    # key; the filter guarantees 1..9, but data paths never hard-throw
    expected = F.try_element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
        ),
        F.col("digit"),
    )
    return (
        counts.withColumn("total", F.sum("n").over(whole))
        .select(
            "digit",
            "n",
            F.expr("(n * 1000000L) div total").alias("share_ppm"),
            expected.cast("long").alias("expected_ppm"),
            (F.expr("(n * 1000000L) div total") - expected).cast("long")
            .alias("excess_ppm"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    *,
    min_days: int = 4,
) -> DataFrame:
    """CUSUM change-point screen over daily event counts, per group:
    for each group's day series c_1..c_n (calendar-ordered), the
    cumulative deviation from a flat rate is

        S_k = n * (c_1 + ... + c_k) - k * T        (T = total count)

    i.e. the classic CUSUM statistic cross-multiplied by ``n`` so it
    stays EXACT int64 (no mean, no division — the repo's standard
    trick for hash-stable cross-engine thresholds).  The reported
    change point is the day with the largest |S_k| (ties → earliest
    day), the canonical single-change-point estimator; a flat series
    scores near 0, a step change scores ~ n * k * |delta|.

    Scale shape: one groupBy (group, day) hash aggregate collapses
    10^12 events to |groups| * |days| rows; everything after runs on
    that collapsed frame — a per-group cumulative-sum window (ROWS
    frame stated explicitly; each window task buffers one group's
    ≤ n_days rows) and a rank-1 filter.  No window ever touches raw
    events.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    gw = Window.partitionBy("grp")
    cum_w = (
        Window.partitionBy("grp")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        daily.withColumn("n_days", F.count(F.lit(1)).over(gw))
        .withColumn("total", F.sum("c").over(gw))
        .withColumn("k", F.row_number().over(Window.partitionBy("grp").orderBy("d")))
        .withColumn("cum", F.sum("c").over(cum_w))
        .withColumn(
            "s_k",
            (F.col("n_days") * F.col("cum") - F.col("k") * F.col("total"))
            .cast("long"),
        )
        .filter(F.col("n_days") >= min_days)
    )
    pick = Window.partitionBy("grp").orderBy(
        F.abs(F.col("s_k")).desc(), F.col("d").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(pick))
        .filter(F.col("_r") == 1)
        .select(
            F.col("grp").alias(group_col),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total").alias("total_events"),
            F.col("d").alias("change_day"),
            F.abs(F.col("s_k")).alias("cusum_stat"),
        )
    )


def daily_trend(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    *,
    min_days: int = 3,
) -> DataFrame:
    """Integer-exact per-group OLS trend over daily event counts — the
    monotone-rate complement to :func:`cusum_changepoint` (CUSUM finds
    a step; this finds a steady ramp-up/bleed-out). For day indexes
    k = 1..n (calendar order) and counts c_k, the least-squares slope
    is num/den with

        num = n * Σ(k·c_k) − Σk · Σc_k
        den = n * Σk²      − (Σk)²        (> 0 whenever n ≥ 2)

    Both are kept as UNREDUCED int64s (the repo's integer
    cross-multiplication rule: cross-engine selection must never ride
    a float) and the headline ``direction`` is sign(num).

    Scale: one (group, day) hash aggregate collapses the raw events;
    the day-index window and the final per-group aggregate both run on
    the collapsed |groups|·|days| frame. Overflow headroom: num ≤
    n²·total — at n = 3650 days and 10^12 events/group that is ~10^19,
    past int64; production callers bucket by (group, year). Stated,
    not hidden.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    k_w = Window.partitionBy("grp").orderBy("d")
    kd = daily.withColumn("k", F.row_number().over(k_w).cast("long"))
    return (
        kd.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("c").alias("total_events"),
            F.sum(F.col("k") * F.col("c")).alias("_skc"),
            F.sum("k").alias("_sk"),
            F.sum(F.col("k") * F.col("k")).alias("_skk"),
        )
        .filter(F.col("n_days") >= min_days)
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            "total_events",
            (F.col("n_days") * F.col("_skc") - F.col("_sk") * F.col("total_events"))
            .cast("long")
            .alias("trend_num"),
            (F.col("n_days") * F.col("_skk") - F.col("_sk") * F.col("_sk"))
            .cast("long")
            .alias("trend_den"),
            F.signum(
                F.col("n_days") * F.col("_skc") - F.col("_sk") * F.col("total_events")
            ).cast("int").alias("direction"),
        )
    )


def weekday_anomaly(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    *,
    k: int = 3,
    min_obs: int = 3,
) -> DataFrame:
    """Seasonality-aware robust anomaly screen over daily event counts:
    a Tuesday is compared only against that group's OTHER same-weekdays
    (the day-of-week baseline every ops series needs — flagging Sunday
    dips against a Monday-Friday mean is the classic false positive).

    Per (group, weekday) cell the baseline is the MEDIAN of the daily
    counts and the spread is the MAD (median absolute deviation) — both
    EXACT continuous medians (Spark `percentile` ≡ DuckDB
    `quantile_cont`, (n-1)p interpolation). A day is anomalous when

        |c - median| > k * MAD

    evaluated ENTIRELY in int64: medians of ints live on a 0.5 grid, so
    med2 = 2*median and mad8 = 8*MAD are exact integers and the rule is
    ``2*|4c - 2*med2| > k*mad8`` — no float ever crosses the decision
    (the repo's integer cross-multiplication rule). MAD = 0 (a
    perfectly flat baseline) flags ANY deviation, which is the correct
    reading of "this cell never varies".

    Weekday is Monday=0..Sunday=6 — Spark ``weekday()`` ≡ DuckDB
    ``isodow - 1`` (the raw ``dayofweek`` builtins DISAGREE across
    engines: Spark 1=Sunday, DuckDB 0=Sunday — recorded trap).

    Scale: one hash aggregate collapses raw events to (group, day);
    the two (group, weekday) aggregates and joins run on that collapsed
    frame, exact-median state bounded by distinct daily counts per
    cell. Cells with < min_obs observations are excluded (a median of
    two points flags nothing meaningful).

    Output: (group, day, weekday, c, med2, mad8, anomaly) — med2/mad8
    deliberately unreduced so thresholds stay portable.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("dow", F.weekday("d").cast("int"))
    )
    med = (
        daily.groupBy("grp", "dow")
        .agg(
            (F.round(F.percentile(F.col("c").cast("double"), F.lit(0.5)), 6) * 2)
            .cast("long")
            .alias("med2"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
        .filter(F.col("n_obs") >= min_obs)
    )
    dev = daily.join(med, ["grp", "dow"]).withColumn(
        "dev4", F.abs(F.lit(4) * F.col("c") - F.lit(2) * F.col("med2"))
    )
    mad = dev.groupBy("grp", "dow").agg(
        (F.round(F.percentile(F.col("dev4").cast("double"), F.lit(0.5)), 6) * 2)
        .cast("long")
        .alias("mad8")
    )
    return (
        dev.join(mad, ["grp", "dow"])
        .select(
            F.col("grp").alias(group_col),
            F.col("d").alias("day"),
            "dow",
            "c",
            "med2",
            "mad8",
            (F.lit(2) * F.col("dev4") > F.lit(int(k)) * F.col("mad8")).alias(
                "anomaly"
            ),
        )
    )


def theil_sen_trend(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    *,
    scale: int = 1_000_000,
    min_days: int = 3,
) -> DataFrame:
    """Robust per-group trend: the Theil–Sen estimator (median of all
    pairwise slopes) over daily event counts — :func:`daily_trend`'s
    OLS slope moves with ONE corrupt day (a backfill spike drags the
    fit); the pairwise-slope median has a 29.3% breakdown point, so a
    third of the days can be garbage before the trend lies.

    Every pairwise slope is frozen to an int64 BEFORE the median:

        slope_int = (scale * (c_j - c_i)) div datediff(d_j, d_i)

    `div` truncates toward zero in both Spark and DuckDB (verified —
    unlike floor division they agree on negative slopes), so the slope
    multiset is integer-exact cross-engine, and the median comes out
    on the half-integer grid as ``slope_med2 = 2 * median`` via the
    exact-percentile trick (:func:`weekday_anomaly`): slopes as
    doubles are exact while |slope_int| < 2^52 — |Δc| ≤ 4.5e9 at
    scale=1e6, far past any daily count delta.

    Scale: raw events collapse to the |groups|·|days| daily frame
    first (one hash aggregate); the pair self-join runs ON that
    collapsed frame, co-partitioned by group, O(days²) pairs per group
    — 365 days → 66k pairs, trivially task-sized. For multi-year
    series cap the window upstream (filter to a trailing period);
    the quadratic is in DAYS, never rows.

    Output: (grp, n_days, n_pairs, slope_med2) — slope_med2 is
    events/day × 2·scale.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = daily.select("grp", F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select("grp", F.col("d").alias("d2"), F.col("c").alias("c2"))
    pairs = a.join(b, "grp").filter(F.col("d1") < F.col("d2"))
    slope = F.expr(
        f"CAST({scale} AS BIGINT) * (c2 - c1) div CAST(datediff(d2, d1) AS BIGINT)"
    )
    n_days = daily.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    med = (
        pairs.select("grp", slope.alias("_s"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.round(F.percentile(F.col("_s").cast("double"), F.lit(0.5)), 6) * 2)
            .cast("long")
            .alias("slope_med2"),
        )
    )
    return (
        n_days.filter(F.col("n_days") >= min_days)
        .join(med, "grp")
        .select("grp", "n_days", "n_pairs", "slope_med2")
    )


def acf_report(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    *,
    max_lag: int = 7,
) -> DataFrame:
    """Lag-k autocorrelation of the daily event-count series per group
    — the periodicity diagnostic missing beside :func:`daily_trend`
    (ramp), :func:`cusum_changepoint` (step), and
    :func:`weekday_anomaly` (known weekly season): a spike at lag 7
    CONFIRMS weekly seasonality, a spike at lag 1 says counts are
    sticky (yesterday predicts today), near-zero everywhere says the
    series is safe to treat i.i.d. in drift baselines.

    Pairs align on CALENDAR lag — (d, d+k) joined by exact date, so a
    missing day produces no pair rather than smearing neighbours
    together (index-based lag on a gappy series silently compares
    Friday to Monday). Pearson r at each lag is computed from six
    exact integer moments (n, Σx, Σy, Σx², Σy², Σxy) accumulated as
    decimal(38,0) — int64 dies at ~10^4 days of 10^9-count days —
    and the final r is the only fp op (round-6 over identical exact
    integers in both engines; the q68 bounded-cardinality precedent).

    Scale: raw events collapse to the |groups|·|days| daily frame
    first (one hash aggregate, persisted — both the lag expansion and
    the join side read it, never the raw events twice); the lag
    expansion is ×max_lag on the COLLAPSED frame feeding one
    equi-join on (grp, day) — never a range self-join. Output
    |groups|·max_lag rows.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.to_date(F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    exp = daily.select(
        "grp",
        F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias(
            "lag"
        ),
        F.date_add(F.col("d"), F.col("lag")).alias("_dt"),
        F.col("c").alias("x0"),
    )
    # renamed keys: a frame derived from `daily` joins back to `daily`
    # (AMBIGUOUS_SELF_JOIN otherwise — CLAUDE.md r5 gotcha)
    rhs = daily.select(
        F.col("grp").alias("_g2"), F.col("d").alias("_d2"), F.col("c").alias("x1")
    )
    pairs = exp.join(
        rhs, (F.col("grp") == F.col("_g2")) & (F.col("_dt") == F.col("_d2"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pairs.groupBy("grp", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(dec(F.col("x0"))).alias("_sx"),
        F.sum(dec(F.col("x1"))).alias("_sy"),
        F.sum(dec(F.col("x0")) * dec(F.col("x0"))).alias("_sxx"),
        F.sum(dec(F.col("x1")) * dec(F.col("x1"))).alias("_syy"),
        F.sum(dec(F.col("x0")) * dec(F.col("x1"))).alias("_sxy"),
    )
    n = F.col("n_pairs").cast("decimal(38,0)")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return agg.select(
        F.col("grp").alias(group_col),
        "lag",
        "n_pairs",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            ),
        ).alias("acf"),
    )
