"""Profiling aggregates — SURVEY.md §2.4 (A1–A10) and §2.5 (L1–L5).

The reference computes these per-file with Polars
(/root/reference/parquet_converter/converter.py:592-655 fused
n_unique+null_count; analyzer.py:164-281 summary stats, value counts).
Here they are distributed Spark aggregates; everything stays in one
Catalyst Aggregate node per call (single scan, map-side partial agg).

Exact `median`/`countDistinct` are used for oracle parity at test
scale; at 10^12-row scale swap `approx_count_distinct` /
`percentile_approx` (noted per function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def row_count(df: DataFrame) -> DataFrame:
    """A1 — reference converter.py:579 (pl.len() over lazy scan)."""
    return df.agg(F.count("*").alias("cnt"))


def distinct_count(df: DataFrame, col: str) -> DataFrame:
    """A2 — reference converter.py:626 (n_unique). Exact here;
    approx_count_distinct at scale."""
    return df.agg(F.countDistinct(col).alias("uniq"))


def null_count(df: DataFrame, col: str) -> DataFrame:
    """A3 — reference converter.py:627 (null_count)."""
    return df.agg((F.count("*") - F.count(col)).alias("nulls"))


def numeric_profile(df: DataFrame, col: str) -> DataFrame:
    """A4–A6 — reference analyzer.py:192-196 (min/max/mean/median/std).

    Floating aggregates are rounded so a DuckDB oracle hashing doubles
    agrees despite summation-order differences. Median is exact.

    Double columns take a TWO-PASS exact median (r6): Spark's
    ``median`` is an ObjectHashAggregate that buffers EVERY value into
    a per-partition counts map (boxing + serialized merge — measured
    ~2.3 s of a 2.5 s profile at 600k rows, and per-partition memory
    ∝ rows at corpus scale). Instead: one codegen'd histogram pass
    bounds the two order statistics the median needs to a single
    bucket, a second pinpoint pass collects just that bucket (~n/8192
    rows), and the interpolation replicates ``Percentile``'s exact
    arithmetic. Skewed buckets (pathological constant-heavy columns)
    fall back to the builtin — never a wrong answer.

    Evaluation differs by type: a double column runs 2–3 Spark jobs
    EAGERLY, at call time (stats aggregate, histogram pass, pinpoint
    collect), and returns a materialized one-row frame that does not
    see later changes to ``df``; every other type returns a lazy
    single-aggregate plan."""
    c = F.col(col)
    dt = df.schema[col].dataType.simpleString() if col in df.columns else None
    if dt != "double":
        return df.agg(
            F.round(F.min(c), 4).alias("mn"),
            F.round(F.max(c), 4).alias("mx"),
            F.round(F.avg(c), 4).alias("mean"),
            F.round(F.expr(f"median(`{col}`)"), 4).alias("med"),
            F.round(F.stddev_samp(c), 4).alias("sd"),
        )
    from ..localframe import local_df

    stats = _double_stats(df, col)
    med = _exact_median_twopass(df, col, stats)
    out = local_df(
        df.sparkSession,
        [(stats["mn"], stats["mx"], stats["mean"], med, stats["sd"])],
        "mn double, mx double, mean double, med double, sd double",
    )
    return out.select(
        F.round("mn", 4).alias("mn"),
        F.round("mx", 4).alias("mx"),
        F.round("mean", 4).alias("mean"),
        F.round("med", 4).alias("med"),
        F.round("sd", 4).alias("sd"),
    )


#: histogram resolution for the two-pass exact median — the pinpoint
#: pass touches ~n/_MEDIAN_BUCKETS rows on a smooth distribution
_MEDIAN_BUCKETS = 8192

#: pinpoint-pass collect guard: a bucket bigger than this (heavy
#: duplicate skew) falls back to the builtin median aggregate
_MEDIAN_COLLECT_CAP = 4_000_000


def _double_stats(df: DataFrame, col: str):
    """One aggregate over a double column: the profile's moments plus
    the counts and real-valued bounds ``_exact_median_twopass`` reads."""
    c = F.col(col)
    return df.agg(
        F.min(c).alias("mn"),
        F.max(c).alias("mx"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("sd"),
        F.count(c).alias("cnt"),
        F.count(F.when(F.isnan(c), 1)).alias("nan_cnt"),
        F.max(F.when(~F.isnan(c), c)).alias("mx_real"),
    ).collect()[0]


def _exact_median_twopass(df: DataFrame, col: str, stats) -> float | None:
    """Exact median of a double column via histogram + pinpoint select.

    Replicates ``Percentile(0.5)`` semantics bit-for-bit: nulls are
    skipped, NaN sorts greatest, and the even-count interpolation is
    ``(higher - pos) * v_lo + (pos - lower) * v_hi`` (the builtin's
    exact formula). Falls back to the builtin aggregate whenever the
    cheap path can't prove itself (non-finite bounds, skewed bucket)."""
    import math

    c = F.col(col)
    cnt = int(stats["cnt"] or 0)
    if cnt == 0:
        return None
    nan_cnt = int(stats["nan_cnt"] or 0)
    n_real = cnt - nan_cnt
    pos = 0.5 * (cnt - 1)
    k_lo, k_hi = int(math.floor(pos)), int(math.ceil(pos))
    if n_real == 0 or k_lo >= n_real:
        return float("nan")
    mn, mx = stats["mn"], stats["mx_real"]
    if (
        mn is None
        or mx is None
        or not (math.isfinite(mn) and math.isfinite(mx) and math.isfinite(mx - mn))
    ):
        return _median_builtin(df, col)
    real = c.isNotNull() & ~F.isnan(c)
    if mn == mx:
        v_lo = mn
        v_hi = mn if k_hi < n_real else float("nan")
    else:
        nb = _MEDIAN_BUCKETS
        # monotone total bucketing; the SAME expression drives both the
        # histogram and the pinpoint select, so FP boundary quirks
        # cannot desynchronize counts from retrieval
        bucket = F.least(
            F.greatest(
                F.floor((c - F.lit(mn)) / F.lit(mx - mn) * F.lit(nb)), F.lit(0)
            ),
            F.lit(nb - 1),
        ).cast("int")
        hist = (
            df.where(real)
            .groupBy(bucket.alias("b"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        counts = {int(r["b"]): int(r["n"]) for r in hist}
        below = 0
        b_lo = b_hi = None
        for b in sorted(counts):
            if b_lo is None and below + counts[b] > k_lo:
                b_lo = b
            if below + counts[b] > k_hi:
                b_hi = b
                break
            below += counts[b]
        # `below` now counts rows before b_hi; recompute offset of b_lo
        if b_lo is None:
            # k_lo beyond real values: only possible via races; fallback
            return _median_builtin(df, col)
        want = [b_lo] if b_hi in (None, b_lo) else [b_lo, b_hi]
        if sum(counts[b] for b in want) > _MEDIAN_COLLECT_CAP:
            return _median_builtin(df, col)
        vals = sorted(
            r[0]
            for r in df.where(real & bucket.isin([int(b) for b in want]))
            .select(c)
            .collect()
        )
        offset = sum(n for b, n in counts.items() if b < want[0])
        v_lo = vals[k_lo - offset]
        v_hi = vals[k_hi - offset] if k_hi < n_real else float("nan")
    if k_hi == k_lo or v_lo == v_hi:
        return float(v_lo)
    return float((k_hi - pos) * v_lo + (pos - k_lo) * v_hi)


def _median_builtin(df: DataFrame, col: str):
    row = df.agg(F.expr(f"median(`{col}`)").alias("m")).collect()[0]
    return row["m"]


def value_counts_top5(df: DataFrame, col: str) -> DataFrame:
    """A7/L4 — reference analyzer.py:265-275 (top-5 value frequencies).
    Deterministic tiebreak on the value itself."""
    return (
        df.groupBy(F.col(col).alias("v"))
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("v"))
        .limit(5)
    )


def null_unique_pct(df: DataFrame, col: str) -> DataFrame:
    """A8 — reference analyzer.py:198,231,262 (percentages, 2dp)."""
    return df.agg(
        F.round(
            100.0 * (F.count("*") - F.count(col)) / F.greatest(F.count("*"), F.lit(1)), 2
        ).alias("null_pct"),
        F.round(
            100.0 * F.countDistinct(col) / F.greatest(F.count("*"), F.lit(1)), 2
        ).alias("uniq_pct"),
    )


def profile_all_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """A9 — the reference's fused multi-aggregate single pass
    (converter.py:624-630): ALL n_unique+null_count exprs in ONE
    Aggregate node → Catalyst fuses into a single scan."""
    aggs = []
    for c in cols:
        aggs.append(F.countDistinct(c).alias(f"uniq_{c}"))
        aggs.append((F.count("*") - F.count(c)).alias(f"nulls_{c}"))
    return df.agg(*aggs)


def histogram(df: DataFrame, col: str, lo: float, hi: float, n_bins: int) -> DataFrame:
    """Fixed-edge histogram: bucket index + count over [lo, hi).

    The bucket formula is written as plain arithmetic
    (``floor((x - lo) / (hi - lo) * n)`` clamped to [0, n-1]) rather
    than an engine-specific width_bucket builtin, so any engine
    evaluating IEEE doubles with the same literals bins every value
    identically — that is what lets the DuckDB oracle hash-match it.
    One map-side-combined aggregate; no sort, no second pass (edges
    are caller-supplied, e.g. from a prior numeric_profile)."""
    x = F.col(col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) / F.lit(float(hi) - float(lo)) * F.lit(n_bins))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def summary_rollup(df: DataFrame, key: str, num: str) -> DataFrame:
    """A10 — totals over per-unit stats (reference logging.py:250-255);
    here grouped totals over an arbitrary key."""
    return (
        df.groupBy(F.col(key).alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(num), 2).alias("total"),
        )
        .orderBy("k")
    )


def head_n(df: DataFrame, order_cols: list[str], n: int = 10) -> DataFrame:
    """L1/L5 — first-N under an explicit order (file order is not a
    thing in a distributed table; reference converter.py:689)."""
    return df.orderBy(*[F.asc(c) for c in order_cols]).limit(n)


def tail_n(df: DataFrame, order_cols: list[str], n: int = 10) -> DataFrame:
    """L2 — last-N (reference analyzer.py:344) via descending order."""
    return df.orderBy(*[F.desc(c) for c in order_cols]).limit(n)


def sample_n(df: DataFrame, key_expr: str, n: int = 10) -> DataFrame:
    """L3 — deterministic pseudo-random N rows (reference
    analyzer.py:324-329 uses random.sample; here md5-of-key order so
    any engine reproduces the same sample)."""
    return df.orderBy(F.md5(F.expr(key_expr))).limit(n)
