"""Continuous validation over Structured Streaming.

Not in the reference (SURVEY §2.8: "no streaming operators exist
anywhere in the reference") — this is the engine's extension for
validating data as it lands:

* :func:`~..plans.validation.violations_plan` takes a streaming
  DataFrame as it is: the fused violation projection is stateless, so
  the SAME compiled checks run unchanged in append mode (this is the
  payoff of compiling checks to Column expressions).
* :func:`windowed_violation_counts` — watermarked windowed pass/fail
  counts (late data handled by the watermark), read from the same
  failing-check array as the batch summary.
* :func:`foreach_batch_validator` — exactly-once micro-batch validation:
  run the full batch plan (incl. uniqueness/referential, which need
  joins not allowed in pure append streams) per epoch via foreachBatch.
  The plan is compiled once per stream and batch schema
  (:class:`~..plans.validation.ValidationPlan`): every later epoch only
  binds its batch to the same checks and Column expressions, and a
  changed batch schema compiles afresh.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compile import CompiledCheck
from ..plans.validation import _FailingChecks
from ..spec import TableSpec


def windowed_violation_counts(
    stream: DataFrame,
    checks: Sequence[CompiledCheck],
    ts_col: str,
    window: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed fail counts per check.

    Output (append mode): (window, check, fail_count). State is bounded
    by the watermark; late rows beyond it are dropped, matching the
    standard Structured Streaming contract.
    """
    failing = _FailingChecks(checks)
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC so
    # the cast preserves the wall-clock instant
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    framed = failing.frame(stream).withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide)  # tumbling when slide is None
    return failing.matrix(framed, win.alias("window")).select("window", "check", "fail_count")


def foreach_batch_validator(
    spec: TableSpec,
    dims: Optional[dict] = None,
    sink: Optional[Callable[[DataFrame, int], None]] = None,
    extra_checks: Optional[list] = None,
):
    """Build a ``foreachBatch`` function running the FULL batch
    validation (uniqueness + referential included) per micro-batch.

    Use: ``stream.writeStream.foreachBatch(foreach_batch_validator(spec,
    dims, sink)).start()``. ``sink(violations_df, epoch_id)`` persists
    results (e.g. append to the audit ledger); it gets the deduplicated
    violations without their canonical order
    (:attr:`~..plans.validation.ValidationResult.unordered_violations`).

    The first batch compiles the validation plan; later batches of the
    same schema reuse it, so an epoch pays only for building and running
    its DataFrames. A batch with another schema compiles a new plan.
    """
    from ..plans.validation import ValidationPlan

    plan: Optional[ValidationPlan] = None

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal plan
        if plan is None or not plan.matches(batch_df):
            plan = ValidationPlan(batch_df, spec, dims=dims, extra_checks=extra_checks)
        res = plan.apply(batch_df)
        if sink is not None:
            sink(res.unordered_violations, epoch_id)

    return _run


def session_window_counts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Engine-native session windows (``F.session_window``): one row
    per (user, session) with the session span and event count. The
    engine owns the session state (mergeable, RocksDB-backable, late
    events folded per the watermark); the operator works identically
    on a BATCH DataFrame (no watermark), which is how q71 runs it
    against its DuckDB oracle: gaps-and-islands over ``LAG(ts)`` per
    user, a new session where the gap is NULL or ``>= gap``,
    ``session_end = MAX(ts) + gap``.

    Session semantics: events belong to one session while each is
    STRICTLY closer than ``gap`` to the previous; ``session_end`` is
    the last event's time + gap (Spark's [start, last+gap) contract).

    Scale: one shuffle on the user key; per-key window merging is
    engine-side and spill-safe. No per-user history materialization.
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap), F.col(user_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
