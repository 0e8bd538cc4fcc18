"""Embedding-column quality validation.

The reference validates scalar field constraints
(/root/reference/src/check_datapackage/check.py: field type/constraint
checks); a training pipeline's analog for an ``array<float>`` embedding
column is structural + numeric conformance: dimension length, non-finite
elements, all-zero vectors, and L2-norm range. This module compiles those
into ONE fused JVM-side aggregation — no UDF, no explode, no shuffle
beyond the final small groupBy — the same single-pass shape as
``operators/stats.py``.

Scale: every per-row predicate is a higher-order function over the
array (``exists`` / ``aggregate``), evaluated map-side inside codegen'd
stages; the only exchange is the final hash aggregation on the group
key, whose output is |groups| rows. At 10^12 vectors the plan is one
scan + one combine-backed agg — the shape survives 100×.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm2(vec: Column) -> Column:
    """Σ xᵢ² in double precision (sequential left fold — matches
    DuckDB's ``list_sum`` accumulation order for oracle parity)."""
    return F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nonfinite(vec: Column) -> Column:
    """True iff any element is NaN or ±Inf."""
    return F.exists(
        vec,
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )


def embedding_quality(
    df: DataFrame,
    vec_col: str = "embedding",
    by: Optional[str] = None,
    expected_dim: Optional[int] = None,
    norm_lo: float = 0.0,
    norm_hi: float = float("inf"),
) -> DataFrame:
    """Fused per-group embedding-quality profile.

    Emits one row per group with integer violation counts plus the
    min/max L2 norm (rounded to 6 decimals so the value is
    representation-stable across engines):

    * ``n_vecs``      — rows in the group
    * ``n_null``      — NULL vector values
    * ``n_bad_dim``   — wrong array length (when ``expected_dim`` set)
    * ``n_nonfinite`` — vectors containing NaN/±Inf
    * ``n_zero``      — all-zero vectors (norm == 0, finite)
    * ``n_norm_lo`` / ``n_norm_hi`` — norm outside [norm_lo, norm_hi]
    * ``min_norm`` / ``max_norm``   — over finite non-null vectors

    Norm-range counts exclude null/non-finite vectors (those are
    reported by their own counters — one defect, one counter).
    """
    vec = F.col(vec_col)
    bad = _nonfinite(vec)
    norm = F.round(F.sqrt(_norm2(vec)), 6)
    # let-bind the finite per-row norm once; null when not computable
    finite_norm = F.when(vec.isNotNull() & ~bad, norm)
    aggs = [
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_if(vec.isNull()).alias("n_null"),
    ]
    if expected_dim is not None:
        aggs.append(
            F.count_if(
                vec.isNotNull() & (F.size(vec) != F.lit(int(expected_dim)))
            ).alias("n_bad_dim")
        )
    aggs += [
        F.count_if(vec.isNotNull() & bad).alias("n_nonfinite"),
        F.count_if(finite_norm == F.lit(0.0)).alias("n_zero"),
        F.count_if(finite_norm < F.lit(float(norm_lo))).alias("n_norm_lo"),
        F.count_if(finite_norm > F.lit(float(norm_hi))).alias("n_norm_hi"),
        F.min(finite_norm).alias("min_norm"),
        F.max(finite_norm).alias("max_norm"),
    ]
    grouped = df.groupBy(by) if by else df.groupBy()
    return grouped.agg(*aggs)


def embedding_dim_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    base_group=None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-dimension mean shift of an embedding column between each
    group and a baseline group — the vector-space analog of
    ``drift.drift_by_group`` (a source whose embedding centroid moved
    is emitting different content; a dimension whose mean collapsed to
    0 signals an upstream encoder bug).

    Elements are floor-quantized to ``scale`` (int64) BEFORE summation
    so group sums are order-independent and exact — float addition
    order would otherwise make the result shuffle-dependent (and
    engine-dependent). Means stay in INTEGER micro-units
    end-to-end: round-half-away(sq/n) computed as
    ``sign · ((2·|sq| + n) DIV (2·n))`` — pure int64 arithmetic, so
    the result is bit-identical across engines (a double division
    rounded to 6 decimals lands on exact ``…5`` boundaries whenever n
    divides a power of 10, where Spark's decimal-string HALF_UP and
    DuckDB's binary rounding disagree).

    Output: (group, dim, mean_micro, base_mean_micro, shift_micro)
    for group ≠ base, all int64 micro-units (value · scale).

    Scale: posexplode fans each row into |dim| elements map-side, but
    partial aggregation combines them within the task — the shuffle
    carries |groups|·|dim| longs, not row data. The baseline mean is
    attached via a window over the tiny aggregated table (single
    instantiation of the heavy subtree). One wide shuffle total.
    """
    if base_group is None:
        raise ValueError("base_group is required")
    e = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("_pos", "_x"),
    )
    q = e.select(
        "grp",
        (F.col("_pos") + 1).alias("dim"),
        F.floor(F.col("_x").cast("double") * F.lit(int(scale)))
        .cast("long")
        .alias("q"),
    )
    agg = q.groupBy("grp", "dim").agg(
        F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    # round-half-away(sq/n) in pure int64 (see docstring)
    mean = F.expr(
        "CASE WHEN sq >= 0 THEN (2 * sq + n) DIV (2 * n) "
        "ELSE -((2 * (-sq) + n) DIV (2 * n)) END"
    )
    means = agg.select("grp", "dim", mean.alias("mean_micro"))
    # the baseline mean rides a window over the TINY aggregated table
    # (groups × dims rows) — one instantiation of the heavy subtree,
    # no reliance on AQE exchange reuse across a self-join
    from pyspark.sql import Window as W

    base = F.max(
        F.when(F.col("grp") == F.lit(base_group), F.col("mean_micro"))
    ).over(W.partitionBy("dim"))
    return (
        means.withColumn("base_mean_micro", base)
        .filter(
            (F.col("grp") != F.lit(base_group))
            & F.col("base_mean_micro").isNotNull()
        )
        .select(
            F.col("grp").alias(group_col),
            "dim",
            "mean_micro",
            "base_mean_micro",
            F.abs(F.col("mean_micro") - F.col("base_mean_micro")).alias(
                "shift_micro"
            ),
        )
    )
