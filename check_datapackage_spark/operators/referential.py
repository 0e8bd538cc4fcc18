"""Referential integrity (R5 data-plane) — broadcast anti-join.

The reference checks FK *declarations* only
(``_check_fk_dest_fields_diff_resource``, check.py:474-513); this is the
data-plane analog from BASELINE.json: every fact key must exist in the
dimension.

Scale design: the dimension's distinct key set is small (allowed
``source`` values ≈ hundreds) → ``F.broadcast`` makes the anti-join a
map-side hash lookup with ZERO shuffle of the fact table. The hint is
unconditional: every FK check broadcasts the dimension's key columns.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..issue import row_key_text, violation_address, violation_columns


def missing_keys(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Fact rows whose key is absent from the dimension (NOT EXISTS).

    NULL fact keys are excluded — null-ness is C1's job, mirroring SQL FK
    semantics where NULL references are not violations.
    """
    dim_keys = list(dim_keys or fact_keys)
    fact_keys = list(fact_keys)
    # no dropDuplicates: anti-join semantics ignore duplicate build keys,
    # and the distinct would add the plan's only shuffle (the broadcast
    # HashedRelation dedups keys for free)
    keyed = F.broadcast(
        dim.select(*[F.col(d).alias(f) for f, d in zip(fact_keys, dim_keys)])
    )
    non_null = fact
    for k in fact_keys:
        non_null = non_null.where(F.col(k).isNotNull())
    return non_null.join(keyed, on=fact_keys, how="left_anti")


def referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Sequence[str],
    table_name: str,
    dim_name: str,
    row_key: Optional[str] = None,
    partition: Optional[str] = None,
    distinct: bool = False,
) -> DataFrame:
    """Violation rows for FK misses (VIOLATION_FULL_SCHEMA).

    ``distinct=True`` emits one row per distinct missing KEY instead of
    one per fact row (guide §2.3 — callers that dedup by jsonpath
    anyway should dedup here: the distinct then shuffles only the
    narrow key columns with map-side combine, not fully-built
    violation strings). Only valid with the default row_key/partition,
    which are functions of the key columns.
    """
    fact_keys = list(fact_keys)
    misses = missing_keys(fact, dim, fact_keys, dim_keys)
    if distinct:
        if row_key is not None or partition is not None:
            raise ValueError("distinct=True requires default row_key/partition")
        misses = misses.select(*fact_keys).dropDuplicates(fact_keys)
    key_str = row_key_text(fact_keys)
    col_name = ",".join(fact_keys)
    # the plan's row key where the fact has it, else the FK value
    rk_cols = [row_key] if isinstance(row_key, str) else list(row_key or ())
    rk_cols = [k for k in rk_cols if k in fact.columns]
    rk = row_key_text(rk_cols) if rk_cols else key_str
    part = F.col(partition) if partition and partition in fact.columns else None
    return misses.select(
        *violation_columns(
            jsonpath=violation_address(table_name, rk, f".{col_name}"),
            type="foreign-key",
            message=f"value of `{col_name}` not found in `{dim_name}`",
            instance=key_str,
            check=f"{col_name}.foreign-key",
            column=col_name,
            row_key=rk,
            partition=part,
        )
    )


def reconcile(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_measure: Column,
    dim_measure: Column,
) -> DataFrame:
    """Cross-table aggregate reconciliation — the other half of
    referential integrity: not just "does the key exist" but "do the
    MEASURES agree" (sum of line items vs the order header total, rows
    ingested vs manifest counts, token counts vs shard metadata).

    ``fact_measure``/``dim_measure`` should be INTEGER expressions
    (e.g. cents via round(x*100)): integer sums are associative, so
    the comparison is exact under ANY partitioning/aggregation order —
    double sums differ in the last ulp between engines and between
    runs (oracle-exactness rule).

    Returns one row per key: (key, expected, actual, diff) where
    ``actual`` is the fact-side aggregate, ``expected`` the dim-side
    value, and keys missing from either side surface as NULL on that
    side (a missing dim row IS a reconciliation failure). Scale shape:
    ONE map-side-combinable aggregation of the fact, then a key join
    with the dim — co-partitioned/bucketed layouts make the join
    shuffle-free; there is no per-key window and no driver traffic.
    """
    f = fact.groupBy(F.col(fact_key).alias("key")).agg(
        F.sum(fact_measure).alias("actual")
    )
    d = dim.select(
        F.col(dim_key).alias("key"), dim_measure.alias("expected")
    )
    return f.join(d, "key", "full_outer").select(
        "key",
        "expected",
        "actual",
        (F.coalesce(F.col("actual"), F.lit(0)) -
         F.coalesce(F.col("expected"), F.lit(0))).alias("diff"),
    )
