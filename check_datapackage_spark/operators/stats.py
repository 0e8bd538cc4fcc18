"""Per-column statistics — single-pass profiling (SURVEY.md §2.8).

The BASELINE adds column profiling the reference never had: null rates,
min/max, distinct-ish counts, quantiles. Everything is ONE
``df.agg(...)`` pass — Catalyst fuses all aggregates into a single
partial+final hash aggregation, and column pruning means the scan reads
only profiled columns (stats over (doc_id, n_tok, source) never touch
``tokens``).

Scale notes:
* ``approx_count_distinct`` = HyperLogLog++ (constant memory/column).
* ``percentile_approx`` = positional QuantileSummaries sketch — mergeable
  across partitions, driver merge is O(sketch), never O(rows).
* exact ``percentile`` exists for oracle tests; use the approx path at
  scale.
* every exact quantile in the package (``exact_quantiles=True`` here,
  q02, q27) is Spark's ``percentile``, which keeps one count per
  distinct value; there is no hand-written copy.
* grouped profiles shuffle only |groups| × |aggs| partial rows.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _is_numeric(df: DataFrame, col: str) -> bool:
    t = dict(df.dtypes)[col]
    return any(
        t.startswith(x) for x in ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")
    )


def profile_aggs(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    exact_quantiles: bool = False,
) -> list[Column]:
    """Aggregate expressions for a one-pass profile of ``columns``.

    Per column: n, n_null, null_rate, approx_distinct; numeric also get
    min/max/mean and quantiles.
    """
    columns = list(columns or df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__n_null"))
        aggs.append(F.approx_count_distinct(c).alias(f"{c}__approx_distinct"))
        if _is_numeric(df, c):
            aggs.append(F.min(c).alias(f"{c}__min"))
            aggs.append(F.max(c).alias(f"{c}__max"))
            aggs.append(F.avg(c).alias(f"{c}__mean"))
            qf = F.percentile(col, F.lit(list(quantiles))) if exact_quantiles else (
                F.percentile_approx(col, F.lit(list(quantiles)), F.lit(10000))
            )
            aggs.append(qf.alias(f"{c}__quantiles"))
    return aggs


def profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    by: Optional[str] = None,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    exact_quantiles: bool = False,
) -> DataFrame:
    """One-pass column profile, optionally grouped by a partition column.

    Output is wide (one row per group): ``<col>__n_null``,
    ``<col>__approx_distinct``, ``<col>__min/max/mean/quantiles``.
    """
    aggs = profile_aggs(df, columns, quantiles, exact_quantiles)
    if by:
        return df.groupBy(by).agg(*aggs)
    return df.agg(*aggs)


def null_rates(df: DataFrame, columns: Optional[Sequence[str]] = None, by: Optional[str] = None) -> DataFrame:
    """Long-form null rates: (column, n_rows, n_null, null_rate)[ + by].

    Same single scan; the unpivot is a ``stack`` over the finished
    aggregate (tiny), not over the data.
    """
    columns = list(columns or df.columns)
    group = [by] if by else []
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"_n{i}")
        for i, c in enumerate(columns)
    ]
    wide = df.groupBy(*group).agg(*aggs)
    # names are literals, never pasted into SQL text
    stack_args = [a for i, c in enumerate(columns) for a in (F.lit(c), F.col(f"_n{i}"))]
    return (
        wide.select(
            *group,
            "n_rows",
            F.stack(F.lit(len(columns)), *stack_args).alias("column", "n_null"),
        )
        .withColumn("null_rate", F.col("n_null") / F.col("n_rows"))
    )


def minmax(df: DataFrame, column: str, by: Optional[str] = None) -> DataFrame:
    """(min, max, mean, n) for one numeric column, optionally per group."""
    aggs = [
        F.min(column).alias("min_value"),
        F.max(column).alias("max_value"),
        F.avg(column).alias("mean_value"),
        F.count(column).alias("n_value"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def heavy_hitters(
    df: DataFrame,
    columns: Sequence[str],
    k: int = 3,
) -> DataFrame:
    """Exact top-k most frequent values per column with their share of
    all rows — the skew profile a 100 TB join/agg plan needs BEFORE it
    runs (a 50% hot key means salting or AQE skew-join; this is how
    you find out).

    One pass over the data: every row explodes into |columns|
    (column, value) pairs map-side, ONE groupBy(column, value) with
    map-side combine does the heavy lifting, and the top-k window runs
    over the already-aggregated counts only (|distinct values| rows,
    not |rows|). Values are stringified so mixed-type columns share
    one tidy relation; NULLs rank like any other value.

    At extreme cardinality (a unique-id column) the aggregated state
    is the distinct-value count — exclude such columns or swap in a
    count-min sketch; for the categorical/enum columns skew profiling
    targets, the combine collapses everything map-side.
    """
    from pyspark.sql import Window as W

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.*")
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("column").orderBy(
        F.desc("cnt"), F.col("value").asc_nulls_last()
    )
    # per-column total == row count (each row contributes exactly one
    # pair per column), so share needs NO extra scan: a window sum
    # over the already-aggregated counts
    wt = W.partitionBy("column")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .withColumn("total", F.sum("cnt").over(wt))
        .where(F.col("rank") <= k)
        .select(
            "column",
            "value",
            "cnt",
            "rank",
            F.round(F.col("cnt") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
        )
    )
