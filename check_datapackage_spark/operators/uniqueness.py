"""Uniqueness (C11) — duplicate-key detection at scale.

The reference only validates the *declaration* of ``unique`` / primary
keys (README warning: "it does not check the data itself") — this
operator is the data-plane check BASELINE.json adds: uniqueness of
``doc_id`` over 10^12 rows.

Scale design:

* ``groupBy(keys).count()`` is a hash aggregate with map-side partial
  aggregation — each task emits at most |distinct keys in task| rows, so
  the shuffle carries ~unique keys, not ~rows. For a mostly-unique key
  column (the common case) partial aggregation does NOT help; what keeps
  it scalable is that the shuffle is (key, count:long) pairs only —
  column pruning means we never move any other column.
* Skew: a single pathologically-hot duplicate key lands on one reducer.
  ``dup_key_counts_salted`` pre-aggregates on (key, salt) before the
  final (key) agg, bounding any reducer's input to ``n_buckets`` partial
  counts per key. AQE skew handling is the backstop.
* Violation rows for duplicated keys come from a semi-join of the table
  against the (tiny) duplicate-key set — broadcast when it fits.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..issue import row_key_text, violation_address, violation_columns


def dup_key_counts(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys appearing more than once → (keys..., dup_count).

    Plain two-phase hash agg; Catalyst prunes the scan to ``keys``.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def dup_key_counts_salted(
    df: DataFrame, keys: Sequence[str], n_buckets: int = 64
) -> DataFrame:
    """Skew-proof variant: two-level aggregation.

    Level 1 groups on (key, xxhash64(rand-free salt)) — we salt with a
    hash of a *different* physical property (the partition id) so equal
    keys in one task still combine map-side; level 2 sums partials per
    key. Any hot key's traffic is spread over ``n_buckets`` reducers.
    """
    salted = df.select(*keys).withColumn(
        "_salt", F.pmod(F.spark_partition_id(), F.lit(n_buckets))
    )
    partial = salted.groupBy(*keys, "_salt").agg(F.count(F.lit(1)).alias("_pc"))
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_pc").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    keys: Sequence[str],
    table_name: str,
    order_by_jsonpath: bool = False,
) -> DataFrame:
    """Violation rows (VIOLATION_FULL_SCHEMA) for duplicated keys.

    One row per duplicated key value (not per duplicate row) — matching
    the reference's one-Issue-per-violating-property shape and keeping
    output proportional to |dup keys|. The rows carry a NULL
    ``partition``: a duplicated key can span partitions.
    ``order_by_jsonpath=True`` returns the rows jsonpath-ordered, with
    the sort run over the narrow key frame before the strings are built.
    """
    keys = list(keys)
    dups = dup_key_counts(df, keys)
    key_str = row_key_text(keys)
    col_name = ",".join(keys)
    jp = violation_address(table_name, key_str, f".{col_name}")
    if order_by_jsonpath:
        # r6 (guide §2.3): build jsonpath ONCE on the narrow key frame
        # and sort on it BEFORE the other violation strings are built —
        # the range-partition exchange carries the keys plus the one
        # output string instead of 8 built strings per row; the
        # projection below reuses the sorted column and preserves the
        # order (identical ordering, identical rows).
        dups = dups.withColumn("jsonpath", jp).orderBy("jsonpath")
        jp = F.col("jsonpath")
    return dups.select(
        *violation_columns(
            jsonpath=jp,
            type="unique",
            message=f"value of `{col_name}` must be unique but appears more than once",
            instance=key_str,
            check=f"{col_name}.unique",
            column=col_name,
            row_key=key_str,
            partition=None,
        )
    )
