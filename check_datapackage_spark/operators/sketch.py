"""Mergeable quantile sketches — t-digest via Arrow-batched pandas
(SURVEY §7 step 5).

``percentile_approx`` (QuantileSummaries) is the built-in scale path;
this module adds a per-group t-digest for the BASELINE's "quantiles via
t-digest sketches" requirement: each group's digest is built in
``applyInPandas`` (one pass, O(δ) state), and the salted variant merges
bounded partial digests per group (merge cost O(salts·δ), never
O(rows)).

Determinism (SURVEY §7 hard-part 3): centroids are built by scanning
values in sorted order with a fixed size bound per centroid — no RNG,
no order sensitivity; every merge re-sorts its centroids before
compressing, so results are independent of partition arrival order.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compress(means: np.ndarray, weights: np.ndarray, delta: int) -> tuple[np.ndarray, np.ndarray]:
    """Greedy size-bounded compression of weighted points (sorted by
    mean) into ≤ delta centroids with the t-digest size function
    (small near the tails, large in the middle)."""
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    if total == 0:
        return np.array([]), np.array([])
    out_m: list[float] = []
    out_w: list[float] = []
    q0 = 0.0
    cur_m, cur_w = means[0], weights[0]
    for m, w in zip(means[1:], weights[1:]):
        q = q0 + (cur_w + w / 2) / total
        # scale function k1: centroid capacity ~ 4·total·q(1-q)/delta
        cap = max(1.0, 4.0 * total * q * (1.0 - q) / delta)
        if cur_w + w <= cap:
            cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            q0 += cur_w / total
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    out = np.asarray(out_m)
    # FP hygiene: the iterative weighted mean can overshoot its group's
    # bounds by ~n·eps (hypothesis found a sub-ulp centroid inversion
    # with heavy duplicates at 1e6 magnitude). True centroid means are
    # monotone non-decreasing and inside the data range — clamp both
    # properties back so downstream np.interp sees sorted x.
    out = np.maximum.accumulate(np.clip(out, means[0], means[-1]))
    return out, np.asarray(out_w)


def _quantile_rows(
    by: str, group, means: np.ndarray, weights: np.ndarray, qs: list[float]
) -> pd.DataFrame:
    """(group, q, value) rows read off one group's centroids; no rows
    for an empty digest."""
    if len(means) == 0:
        return pd.DataFrame({by: [], "q": [], "value": []})
    cum = np.cumsum(weights) - weights / 2
    total = weights.sum()
    vals = [float(np.interp(q * total, cum, means)) for q in qs]
    return pd.DataFrame({by: [group] * len(qs), "q": qs, "value": vals})


def tdigest_by_group(
    df: DataFrame,
    column: str,
    by: str,
    quantiles: Sequence[float] = (0.5,),
    delta: int = 200,
) -> DataFrame:
    """Per-group t-digest quantiles, fully distributed.

    applyInPandas per group (each group's digest built in one pass);
    output (group, q, value) stays a DataFrame — no driver collect.
    For groups that exceed one task, use
    :func:`tdigest_by_group_salted` (value-collapsing + salted partial
    digests — bounded task state at any skew).
    """
    qs = list(quantiles)

    def per_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[column].dropna().to_numpy(dtype=np.float64)
        m, w = _compress(v, np.ones(len(v)), delta)
        return _quantile_rows(by, key[0], m, w, qs)

    return df.select(by, column).groupBy(by).applyInPandas(
        per_group, schema=f"{by} string, q double, value double"
    )


def tdigest_by_group_salted(
    df: DataFrame,
    column: str,
    by: str,
    quantiles: Sequence[float] = (0.5,),
    delta: int = 200,
    n_salts: int = 16,
) -> DataFrame:
    """Hot-group-safe per-group t-digest (the salted two-level path
    :func:`tdigest_by_group`'s docstring promises for groups that
    exceed one task).

    Three-stage plan, all state bounded:

    1. ``groupBy(group, value)`` weighted-value aggregate — identical
       values collapse MAP-SIDE, so a billion repeats of one value
       arrive at the digest stage as a single (value, weight) row.
    2. partial digest per ``(group, salt)`` where salt =
       ``xxhash64(value) % n_salts`` — a hot group's DISTINCT values
       spread uniformly over ``n_salts`` tasks, each holding ≤
       |distinct|/n_salts weighted points before compressing to ≤ delta
       centroids. Value-hash (not row-random) salting keeps the result
       deterministic under any input partitioning.
    3. per-group merge of ≤ n_salts·delta centroids → quantiles.

    Output contract matches tdigest_by_group: (group, q, value).
    """
    qs = list(quantiles)

    def partial(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = _compress(
            pdf["_v"].to_numpy(dtype=np.float64),
            pdf["_w"].to_numpy(dtype=np.float64),
            delta,
        )
        return pd.DataFrame({by: [key[0]] * len(m), "mean": m, "weight": w})

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = _compress(
            pdf["mean"].to_numpy(dtype=np.float64),
            pdf["weight"].to_numpy(dtype=np.float64),
            delta,
        )
        return _quantile_rows(by, key[0], m, w, qs)

    weighted = (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(by), F.col(column).cast("double").alias("_v"))
        .agg(F.count(F.lit(1)).cast("double").alias("_w"))
        .withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("_v").cast("string")), F.lit(n_salts)),
        )
    )
    partials = weighted.groupBy(by, "_salt").applyInPandas(
        partial, schema=f"{by} string, mean double, weight double"
    )
    return partials.groupBy(by).applyInPandas(
        merge, schema=f"{by} string, q double, value double"
    )
