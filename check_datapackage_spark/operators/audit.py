"""Checkpoint/resume + per-partition lineage (BASELINE north_star:
"checkpoint-resumable with per-partition lineage and metrics persisted
to an Iceberg audit table").

The unit of work is a **work unit** = (source, bucket) where bucket =
pmod(xxhash64(doc_id), n_buckets) — the same explicit repartitioning key
the north_rule prescribes for skew. A run:

1. plans work units (one light distinct scan of (source, bucket)),
2. anti-joins against already-completed units in the audit ledger,
3. validates only the remaining units (partition-pruned scan),
4. appends (run_id, source, bucket, metrics...) rows to the ledger.

In-sandbox the ledger is a parquet directory; on a cluster it's an
Iceberg table (atomic appends give exactly-once unit completion).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..issue import row_key_text


def with_bucket(df: DataFrame, key: str = "doc_id", n_buckets: int = 64) -> DataFrame:
    """Add the explicit salt/bucket column from the north_rule:
    pmod(xxhash64(key), n_buckets)."""
    return df.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def plan_units(df: DataFrame, partition: str = "source") -> DataFrame:
    """Distinct (source, bucket) work units present in the input."""
    return df.select(F.col(partition).alias("source"), "_bucket").distinct()


#: file extensions that mark a dotted string as a PATH, not a catalog
#: table (ADVICE r5: 'ledger.parquet' was silently rerouted to
#: saveAsTable and resume re-did every unit)
_PATH_SUFFIXES = (".parquet", ".orc", ".json", ".csv", ".avro", ".d", ".db")


def _is_table_ident(ledger: str) -> bool:
    """Catalog table identifier (``catalog.db.ledger``) vs a filesystem
    path. Explicit addressing wins: a ``table:`` prefix always means a
    catalog table, a ``path:`` prefix (or any slash / known file
    extension) always means a filesystem path; only bare dotted names
    like ``db.ledger`` are inferred as tables."""
    if ledger.startswith("table:"):
        return True
    if ledger.startswith("path:"):
        return False
    return (
        "/" not in ledger
        and "." in ledger
        and not ledger.lower().endswith(_PATH_SUFFIXES)
    )


def _strip_prefix(ledger: str) -> str:
    for p in ("table:", "path:"):
        if ledger.startswith(p):
            return ledger[len(p):]
    return ledger


def completed_units(spark: SparkSession, ledger: str) -> DataFrame:
    """Units already recorded complete (any run). ``ledger`` is a
    parquet directory path, or an Iceberg table identifier when the
    session has an Iceberg catalog (atomic appends + snapshot reads
    give exactly-once unit completion on a cluster)."""
    is_table = _is_table_ident(ledger)
    ledger = _strip_prefix(ledger)
    if is_table:
        if not spark.catalog.tableExists(ledger):
            return spark.createDataFrame([], "source string, _bucket int")
        led = spark.read.table(ledger)
    elif _ledger_exists(ledger):
        led = spark.read.parquet(ledger)
    else:
        return spark.createDataFrame([], "source string, _bucket int")
    return led.where(F.col("passed").isNotNull()).select(
        "source", F.col("bucket").alias("_bucket")
    ).distinct()


def _join_units(left: DataFrame, units: DataFrame, how: str) -> DataFrame:
    """``left`` joined to ``units`` on (source, _bucket), where a NULL
    source is a unit of its own and matches a NULL source; ``units``'
    two key columns are not in the result.

    ``units`` is broadcast: it has at most one row per unit, and a
    shuffled null-safe join would hash on ``coalesce(source)`` and
    re-shuffle inputs already grouped by (source, _bucket)."""
    u = F.broadcast(units).withColumnsRenamed(
        {"source": "_u_source", "_bucket": "_u_bucket"}
    )
    on = F.col("source").eqNullSafe(F.col("_u_source")) & (
        F.col("_bucket") == F.col("_u_bucket")
    )
    return left.join(u, on, how).drop("_u_source", "_u_bucket")


def pending_units(df: DataFrame, spark: SparkSession, ledger_path: str) -> DataFrame:
    """Anti-join: planned minus completed → the resume frontier."""
    return _join_units(plan_units(df), completed_units(spark, ledger_path), "left_anti")


def record_units(
    summary_per_unit: DataFrame, ledger: str, run_id: Optional[str] = None
) -> None:
    """Append per-unit metric rows: (run_id, source, bucket, n_rows,
    n_violations, passed, completed_at_ms).

    ``ledger`` may be a parquet directory path (sandbox) or an Iceberg
    table identifier (``catalog.db.ledger`` — cluster): the Iceberg
    branch goes through DataFrameWriterV2 ``createOrReplace``-free
    ``append`` so concurrent runs commit atomically and a torn run
    never half-records a unit."""
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    out = summary_per_unit.select(
        F.lit(run_id).alias("run_id"),
        "source",
        F.col("_bucket").alias("bucket"),
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
        F.lit(int(time.time() * 1000)).alias("completed_at_ms"),
    )
    is_table = _is_table_ident(ledger)
    ledger = _strip_prefix(ledger)
    if is_table:
        from pyspark.errors import AnalysisException

        spark = out.sparkSession
        if not spark.catalog.tableExists(ledger):
            try:
                out.writeTo(ledger).partitionedBy(F.col("source")).create()
                return
            except AnalysisException:
                # ADVICE r5: two concurrent first runs can both observe
                # tableExists()==False; the loser's create() fails with
                # table-already-exists — fall through to append so both
                # runs commit (exactly-once via Iceberg's atomic append)
                pass
        try:
            out.writeTo(ledger).append()
        except AnalysisException:
            # v1 catalog (no Iceberg in the sandbox): the v2 writer
            # refuses appends — fall back to the v1 append path.
            # On an Iceberg catalog the v2 branch is the one taken.
            out.write.mode("append").partitionBy("source").saveAsTable(
                ledger
            )
    else:
        out.write.mode("append").parquet(ledger)


def unit_summary(
    df: DataFrame, violations: DataFrame, row_key: Union[str, list] = "doc_id"
) -> DataFrame:
    """Per-(source, bucket) row/violation counts for the ledger.

    Each violation row counts in the unit of the row of ``df`` it came
    from: the one whose ``row_key`` column(s), as text
    (:func:`..issue.row_key_text`), equal its ``row_key``. One tiny agg
    each, joined.
    """
    rows = df.groupBy("source", "_bucket").agg(F.count(F.lit(1)).alias("n_rows"))
    units = df.select(row_key_text(row_key).alias("_rk"), "source", "_bucket").distinct()
    v = (
        violations.select(F.col("row_key").alias("_vk"))
        .join(units, F.col("_vk").eqNullSafe(F.col("_rk")))
        .groupBy("source", "_bucket")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    return _join_units(rows, v, "left").fillna(0, subset=["n_violations"])


def _ledger_exists(path: str) -> bool:
    if not os.path.exists(path):
        return False
    return any(
        name.endswith(".parquet") or name == "_SUCCESS" or name.startswith("part-")
        for name in os.listdir(path)
    )


@dataclass
class ResumableRun:
    """End-to-end resumable validation over (source, bucket) units."""

    ledger_path: str
    n_buckets: int = 64
    key: str = "doc_id"
    #: the column(s) whose text the violations carry as ``row_key`` (the
    #: validated table's primary key); ``key`` when None
    row_key: Optional[Union[str, list]] = None

    def pending(self, df: DataFrame) -> tuple[DataFrame, int]:
        """The rows of ``df`` in work units the ledger has not recorded
        complete, with their ``_bucket``, and the number of those units."""
        b = with_bucket(df, self.key, self.n_buckets)
        units = pending_units(b, df.sparkSession, self.ledger_path)
        # broadcast semi-join on the tiny unit list (partition pruning does
        # the heavy lifting when the table is partitioned by source)
        return _join_units(b, units, "left_semi"), units.count()

    def record(self, pending: DataFrame, violations: DataFrame, run_id: Optional[str] = None):
        """Append one ledger row per unit of ``pending``: its row and
        ``violations`` counts (which execute here unless cached)."""
        summ = unit_summary(pending, violations, self.row_key or self.key)
        record_units(summ, self.ledger_path, run_id)

    def run(self, df: DataFrame, validate_fn, run_id: Optional[str] = None):
        """``validate_fn(df_pending) -> (violations, _)``; processes only
        pending units, records them, returns (violations, n_units_done)."""
        pending, n_pending = self.pending(df)
        if n_pending == 0:
            return None, 0
        violations, _ = validate_fn(pending)
        self.record(pending, violations, run_id)
        return violations, n_pending
