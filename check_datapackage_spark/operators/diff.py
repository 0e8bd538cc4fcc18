"""Snapshot-to-snapshot table diff — regression validation between
two versions of the same table (e.g. yesterday's and today's shard of
the north-star sequence table).

The reference validates ONE descriptor+table pair; a pipeline that
re-materializes 100 TB nightly also needs "what changed since the
last good run": rows added, rows removed, and per-column value
changes among common rows.

Scale shape: ONE full-outer join hash-partitioned on the primary key
(both sides shuffle once — on a bucketed/Iceberg table sorted by key
the shuffle is free), then a single aggregation computing every
column's change count in the same pass (map-side combine, output is
|columns| rows). No window, no per-column re-scan, no collect.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Tall per-column diff summary between two table snapshots:
    ``(column, n_common, n_added, n_removed, n_changed)`` where
    ``n_changed`` counts common rows whose value differs (null-safe:
    null→value and value→null both count; null→null does not).

    ``n_common``/``n_added``/``n_removed`` are table-level and repeat
    on every output row so the result stays one tidy relation.
    """
    keys = list(key_cols)
    cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c not in keys and c in new.columns]
    )
    # input columns by quoted name (a dotted name is not struct access),
    # own columns by position
    o = old.select(
        *[_quoted(k).alias(f"_k{i}") for i, k in enumerate(keys)],
        F.lit(1).alias("_in_old"),
        *[_quoted(c).alias(f"_o{i}") for i, c in enumerate(cols)],
    )
    n = new.select(
        *[_quoted(k).alias(f"_k{i}") for i, k in enumerate(keys)],
        F.lit(1).alias("_in_new"),
        *[_quoted(c).alias(f"_n{i}") for i, c in enumerate(cols)],
    )
    j = o.join(n, [f"_k{i}" for i in range(len(keys))], "full_outer")
    both = F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull()
    agg = j.agg(
        F.sum(both.cast("long")).alias("n_common"),
        F.sum(
            (F.col("_in_old").isNull() & F.col("_in_new").isNotNull()).cast(
                "long"
            )
        ).alias("n_added"),
        F.sum(
            (F.col("_in_new").isNull() & F.col("_in_old").isNotNull()).cast(
                "long"
            )
        ).alias("n_removed"),
        *[
            F.sum(
                (both & ~F.col(f"_o{i}").eqNullSafe(F.col(f"_n{i}"))).cast(
                    "long"
                )
            ).alias(f"_chg{i}")
            for i in range(len(cols))
        ],
    )
    # unpivot the per-column change counts: |columns| rows out; names
    # are literals, never pasted into SQL text
    stack = F.stack(
        F.lit(len(cols)),
        *[a for i, c in enumerate(cols) for a in (F.lit(c), F.col(f"_chg{i}"))],
    ).alias("column", "n_changed")
    return agg.select("n_common", "n_added", "n_removed", stack).select(
        "column", "n_common", "n_added", "n_removed", "n_changed"
    )


def _quoted(name: str) -> Column:
    """The column named ``name``, quoted so that dots are part of it."""
    return F.col("`" + name.replace("`", "``") + "`")


def schema_diff(old: DataFrame, new: DataFrame) -> list:
    """Schema-evolution diff between two snapshots of a table — the
    metadata complement of :func:`snapshot_diff`: columns added,
    removed, type-changed, and nullability-changed.

    Returns a list of dicts ``{"column", "change", "old", "new"}``
    with change in {added, removed, type, nullability}, ordered by
    column name. Pure driver-side metadata (two StructTypes) — no job
    runs; at 10^12 rows this costs the same as at 10 rows, which is
    the point: run it BEFORE the data diff and skip the join when the
    schemas already disagree.
    """
    o = {f.name: f for f in old.schema.fields}
    n = {f.name: f for f in new.schema.fields}
    out = []
    for c in sorted(set(o) | set(n)):
        if c not in n:
            out.append(
                {"column": c, "change": "removed",
                 "old": o[c].dataType.simpleString(), "new": None}
            )
        elif c not in o:
            out.append(
                {"column": c, "change": "added",
                 "old": None, "new": n[c].dataType.simpleString()}
            )
        else:
            if o[c].dataType != n[c].dataType:
                out.append(
                    {"column": c, "change": "type",
                     "old": o[c].dataType.simpleString(),
                     "new": n[c].dataType.simpleString()}
                )
            if o[c].nullable != n[c].nullable:
                out.append(
                    {"column": c, "change": "nullability",
                     "old": o[c].nullable, "new": n[c].nullable}
                )
    return out
