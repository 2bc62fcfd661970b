"""One-pass sketch operators with deterministic, oracle-checkable
results: KMV (k-minimum-values) distinct-count estimation and
fixed-grid histogram quantiles.

Spark's built-ins (``approx_count_distinct`` = HLL++,
``percentile_approx`` = KLL-ish) are engine-specific: no independent
system reproduces their exact outputs, so they cannot be verified
against a SQL oracle.  These two sketches compute the SAME estimate
on any engine — the KMV synopsis is "the k smallest distinct values
of a deterministic hash" (Bar-Yossef et al. 2002, the classic
distinct-elements sketch) and the histogram is a fixed bucket grid —
so a DuckDB twin matches bit-for-bit while the cost profile stays
sketch-like:

* ``kmv_distinct`` — per-partition bounded state (k hashes) via an
  Arrow ``mapInPandas`` partial, then a ≤ k×partitions-row merge.
  Nothing proportional to the data volume ever shuffles, unlike
  ``countDistinct`` whose exchange carries every distinct value.
* ``histogram_quantiles`` — one map-side-combined groupBy over
  ``value/width`` buckets (the exchange carries one row per occupied
  bucket, bounded by the grid, not by rows), then a driver-sized
  cumulative pass.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rheoceros_spark.functions.portable import h64, h64_sql
from rheoceros_spark.operators.scale import local_frame

__all__ = [
    "kmv_distinct",
    "kmv_distinct_sql",
    "histogram_quantiles",
    "histogram_quantiles_sql",
    "cms_sketch",
    "cms_estimate",
    "cms_top_tokens",
]

#: h64 hashes are 60-bit non-negative (md5 hex prefix), so the KMV
#: domain size is 2^60 — exactly representable as a double.
_DOMAIN = float(2**60)


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Estimate ``count(distinct col)`` from the ``k`` smallest
    distinct hash values: estimate = (k-1) * 2^60 / kth_smallest
    (exact count when fewer than ``k`` distinct hashes exist).

    Returns one row: ``distinct_estimate`` (bigint), ``k_used``,
    ``kth_hash`` — all pure functions of the data, so an independent
    engine computing the same synopsis matches exactly.

    NULLs are excluded (standard COUNT DISTINCT semantics) — kept,
    a NULL hash would also force the Arrow int64 batch to float64,
    whose 53-bit mantissa rounds 60-bit hashes and breaks the
    bit-exact cross-engine contract."""
    hashes = df.where(F.col(col).isNotNull()).select(
        h64(F.col(col).cast("string")).alias("h")
    )

    def partial(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            u = pdf["h"].drop_duplicates()
            best = u if best is None else pd.concat([best, u]).drop_duplicates()
            best = best.nsmallest(k)
        if best is not None and len(best):
            yield best.to_frame()

    # bounded per-partition state; cross-partition duplicates removed
    # before the global top-k (distinct input is <= k rows/partition)
    partials = hashes.mapInPandas(partial, "h long")
    topk = partials.distinct().orderBy("h").limit(k)
    agg = topk.agg(F.count("*").alias("n"), F.max("h").alias("kth"))
    estimate = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(_DOMAIN) / F.col("kth").cast("double"))
    )
    return agg.select(
        estimate.cast("bigint").alias("distinct_estimate"),
        F.col("n").cast("bigint").alias("k_used"),
        F.col("kth").alias("kth_hash"),
    )


def kmv_distinct_sql(table: str, expr: str, k: int = 256) -> str:
    """DuckDB twin of :func:`kmv_distinct` (same synopsis, same
    arithmetic, same rounding)."""
    h = h64_sql(f"CAST({expr} AS VARCHAR)")
    dom = f"{2**60}.0"
    return f"""
    WITH hs AS (SELECT DISTINCT {h} AS h FROM {table}),
    tk AS (SELECT h FROM hs ORDER BY h LIMIT {k}),
    a AS (SELECT count(*) AS n, max(h) AS kth FROM tk)
    SELECT CAST(CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                ELSE round({k - 1}.0 * {dom} / CAST(kth AS DOUBLE)) END AS BIGINT)
             AS distinct_estimate,
           CAST(n AS BIGINT) AS k_used, kth AS kth_hash
    FROM a
    """


def histogram_quantiles(
    df: DataFrame,
    col: str,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    bin_width: float = 1.0,
) -> DataFrame:
    """Grid quantiles: bucket ``floor(col/width)`` counts, cumulative
    sum, then for each q the lower edge of the first bucket whose
    cumulative count reaches ``q * n``.  Error is bounded by
    ``bin_width`` by construction; result is a pure function of the
    grid, independent of partitioning or merge order (what
    ``percentile_approx`` cannot promise).

    Returns (``q`` double, ``value`` double) per requested quantile.
    The single-partition cumulative window runs over one row per
    OCCUPIED bucket — histogram-sized, not data-sized.

    NULLs are excluded: a NULL bucket would sort FIRST in Spark but
    LAST in DuckDB and inflate ``n`` either way, skewing every
    quantile toward the minimum and breaking the twin equivalence."""
    bucket = F.floor(F.col(col) / F.lit(float(bin_width))).cast("bigint")
    hist = (
        df.where(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy())
    )
    qdf = local_frame(df.sparkSession, [(float(q),) for q in quantiles], "q double")
    return (
        qdf.join(cum, F.col("cum").cast("double") >= F.col("q") * F.col("n").cast("double"))
        .groupBy("q")
        .agg(F.min("bucket").alias("b"))
        .select("q", (F.col("b").cast("double") * F.lit(float(bin_width))).alias("value"))
    )


def histogram_quantiles_sql(
    table: str,
    expr: str,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    bin_width: float = 1.0,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles`."""
    qs = ", ".join(f"({float(q)})" for q in quantiles)
    return f"""
    WITH hist AS (
      SELECT CAST(floor({expr} / {float(bin_width)}) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM {table} WHERE {expr} IS NOT NULL GROUP BY 1
    ), cum AS (
      SELECT bucket,
             SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS n
      FROM hist
    ), qs(q) AS (VALUES {qs})
    SELECT q, CAST(min(bucket) AS DOUBLE) * {float(bin_width)} AS value
    FROM qs JOIN cum ON CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
    GROUP BY q
    """


# ---------------------------------------------------------------------------
# mergeable HLL sketch cube (Datasketches, JVM-native in Spark 3.5+/4.x)
# ---------------------------------------------------------------------------

def hll_cube_sketches(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group Apache Datasketches HLL sketches over ``value_col`` —
    the persisted, RE-MERGEABLE distinct-count building block of an
    OLAP rollup layer.

    At 100 TB the pattern is: sketch ONCE at the finest grain (one
    shuffle over ``group_cols``, map-side combinable, JVM-native
    ``hll_sketch_agg``), persist the sketch column, and answer any
    coarser slice with :func:`hll_rollup_estimate` by unioning the
    binary sketches — kilobytes per group — instead of rescanning the
    corpus.  ``lg_k=12`` keeps the standard error ~1.6% at 4 KB per
    sketch."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("hll")
    )


def hll_rollup_estimate(
    sketches: DataFrame,
    rollup_cols: Sequence[str] = (),
    sketch_col: str = "hll",
) -> DataFrame:
    """Union persisted HLL sketches up to ``rollup_cols`` grain (empty
    = grand total) and return the distinct-count estimate.  Reads only
    the sketch table — the raw corpus is never touched."""
    agg = F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(
        "approx_distinct"
    )
    if rollup_cols:
        return sketches.groupBy(*rollup_cols).agg(agg)
    return sketches.agg(agg)


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

def _cms_cells(col: str, depth: int, width: int):
    """The (row, cell) probe struct array for one value — THE shared
    definition: build, estimate, and top-k must address identical cells
    or the est >= exact guarantee silently breaks."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    (h64(F.col(col), seed=i) % width).cast("int").alias("c"),
                )
                for i in range(depth)
            ]
        )
    ).alias("rc")


def cms_sketch(df: DataFrame, col: str, depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a string
    column, as a ``(row, cell, cnt)`` frame of at most ``depth × width``
    rows.

    Each value lands in one cell per sketch row via the seeded portable
    hash ``h64(v, seed=row) % width`` — deterministic on any engine, so
    a DuckDB twin reproduces the sketch bit-for-bit (unlike Spark's
    engine-specific ``approx_count_distinct``/``count_min_sketch``
    internals).  The groupBy combines map-side: the exchange carries at
    most ``depth × width`` rows per map partition regardless of input
    size — CMS's bounded-state property, preserved under Spark's
    partial aggregation.  Sketches from disjoint slices merge by cell
    addition (sum ``cnt`` on ``(row, cell)``).

    overflow: a cell count ≤ total input rows (≈1e11 documents /
    ≈2.5e13 tokens at 100 TB) — far under 2^63, so bigint cell
    addition is safe for any physically storable corpus.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"cms_sketch: depth/width must be >= 1, got {depth}x{width}")
    cells = df.select(
        _cms_cells(col, depth, width)
    )
    # overflow: a cell count ≤ total input rows (≈1e11 docs / ≈2.5e13
    # tokens at 100 TB) — far under 2^63; bigint cell addition is safe.
    return cells.groupBy(
        F.col("rc.r").alias("row"), F.col("rc.c").alias("cell")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame, candidates: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-query the sketch: for each candidate value, the estimate is
    ``min`` over the ``depth`` probed cells (the CMS upper bound:
    ``exact ≤ est ≤ exact + ε·N`` w.h.p.).  ``depth``/``width`` must
    match the sketch's build parameters.

    The sketch is at most ``depth × width`` rows — broadcast it; the
    probe join never shuffles the candidate side."""
    probes = candidates.select(
        "*",
        _cms_cells(col, depth, width),
    )
    joined = probes.join(
        F.broadcast(sketch),
        (F.col("rc.r") == F.col("row")) & (F.col("rc.c") == F.col("cell")),
        "left",
    )
    others = [c for c in candidates.columns if c != col]
    return joined.groupBy(col, *others).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("cms_est")
    )


def cms_top_tokens(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Heavy hitters with sketch verification: exact top-``k`` tokens by
    count (ties broken token-ascending) side-by-side with their
    count-min estimates — ``(token, exact_cnt, cms_est)``.

    The exact pass is the same explode + map-side-combined groupBy the
    vocabulary operator uses; the sketch pass adds one bounded
    ``depth × width`` aggregate.  ``cms_est ≥ exact_cnt`` always (CMS
    never undercounts); equality on a sf-sized corpus shows the grid is
    wide enough for its vocabulary.
    """
    from rheoceros_spark.functions.portable import tokens

    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("token")).where(
        F.col("token") != ""
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("token").asc()).limit(k)
    # Build the sketch FROM the exact counts rather than re-reading the
    # corpus: summing each distinct token's count into its cells yields
    # the identical sketch (CMS cells are sums over colliding values),
    # but the build input shrinks from N token occurrences (a second
    # full scan at 100 TB) to V vocabulary rows already in hand.
    # cms_sketch stays the one-scan streaming build for pipelines that
    # want only the sketch.
    cells = exact.select("exact_cnt", _cms_cells("token", depth, width))
    sketch = cells.groupBy(
        F.col("rc.r").alias("row"), F.col("rc.c").alias("cell")
    ).agg(F.sum("exact_cnt").alias("cnt"))
    return cms_estimate(sketch, top, "token", depth=depth, width=width).select(
        "token", F.col("exact_cnt").cast("bigint").alias("exact_cnt"), "cms_est"
    )
