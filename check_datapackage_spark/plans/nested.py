"""Nested-column validation — the JSONPath wildcard subsystem analog
(SURVEY §2.2 P2: ``finditer`` with node paths; ``[*]`` → posexplode so
the emitted address carries the reference's ``[i]`` array index,
``internals.py:28-46``).

Validates elements of an ``array<struct<...>>`` column against a nested
TableSpec, emitting violation rows addressed
``$.<table>[<row>].<column>[<i>].<field>`` — exactly the reference's
normalized-path convention (``['x']`` → ``.x``).

Scale shape: one ``posexplode`` projection (no shuffle — explode is a
generator in the same stage), then the fused branch of
:mod:`.validation` over the element frame, so the violation rows are
built after its explode, on violating elements only. Catalyst prunes
the scan to the array column + row key.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compile import compile_field_checks
from ..issue import VIOLATION_FULL_SCHEMA, row_key_text
from ..spec import TableSpec
from .validation import ELEMENT_INDEX, _FailingChecks, _FusedBranch

#: the row key column of the element frame
_ROW = "__cdp_row"


def nested_violations(
    df: DataFrame,
    array_col: str,
    element_spec: TableSpec,
    table_name: str,
    row_key: Optional[str] = None,
) -> DataFrame:
    """Validate each struct element of ``df[array_col]``.

    ``element_spec.fields`` declare constraints on the struct's fields.
    Output: VIOLATION_FULL_SCHEMA with ``[i]``-indexed jsonpaths. Without
    ``row_key`` a positional id addresses each input row.
    """
    # the key is taken before the explode: a positional id must number
    # the input rows, not their elements
    key = row_key_text(row_key) if row_key else F.monotonically_increasing_id()
    keyed = df.select(key.cast("string").alias(_ROW), F.col(array_col))
    # one row per non-NULL element, its struct fields flattened into
    # columns so compile_field_checks' F.col(name) references resolve
    elems = (
        keyed.select(_ROW, F.posexplode(array_col).alias(ELEMENT_INDEX, "_e"))
        .where(F.col("_e").isNotNull())
        .select(_ROW, ELEMENT_INDEX, "_e.*")
    )

    checks = [
        ck
        for fs in element_spec.fields
        if fs.name in elems.columns
        for ck in compile_field_checks(fs, table_name)
    ]
    if not checks:
        return df.sparkSession.createDataFrame([], VIOLATION_FULL_SCHEMA)
    failing = _FailingChecks(checks)
    branch = _FusedBranch(
        failing, range(len(checks)), table_name, _ROW, None, element=array_col
    )
    return branch.violations(failing.frame(elems))
