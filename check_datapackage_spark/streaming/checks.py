"""Continuous validation over Structured Streaming.

Not in the reference (SURVEY §2.8: "no streaming operators exist
anywhere in the reference") — this is the engine's extension for
validating data as it lands:

* :func:`streaming_violations` — the SAME compiled checks run on a
  streaming DataFrame; the fused violation projection is stateless, so
  it works unchanged in append mode (this is the payoff of compiling
  checks to Column expressions).
* :func:`windowed_violation_counts` — watermarked windowed pass/fail
  counts (late data handled by the watermark).
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
from ..plans.validation import violations_plan
from ..spec import TableSpec


def streaming_violations(
    stream: DataFrame,
    checks: Sequence[CompiledCheck],
    table_name: str,
    row_key: Optional[str] = None,
    partition: Optional[str] = None,
) -> DataFrame:
    """Stateless fused violation projection on a stream (append mode).

    Identical plan to the batch path — per-row checks are pure
    projections, so Spark runs them per micro-batch with no state store.
    """
    return violations_plan(
        stream, checks, table_name, row_key=row_key, partition=partition
    )


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
    from ..plans.validation import bind_check_lets

    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC so
    # the cast preserves the wall-clock instant
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    win = F.window(F.col(ts_col), window, slide)  # tumbling when slide is None
    if not checks:
        # the same columns, no rows (and still a stream when the input is)
        return stream.where(F.lit(False)).select(
            win.alias("window"),
            F.lit(None).cast("string").alias("check"),
            F.lit(None).cast("long").alias("fail_count"),
        )
    stream = bind_check_lets(stream, checks)
    fails = [
        F.sum(F.when(~ck.ok, F.lit(1)).otherwise(F.lit(0))).alias(f"_c{i}")
        for i, ck in enumerate(checks)
    ]
    wide = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"))
        .agg(*fails)
    )
    stack_args: list = []
    for i, ck in enumerate(checks):
        stack_args += [F.lit(ck.name), F.col(f"_c{i}")]
    return wide.select(
        "window", F.stack(F.lit(len(checks)), *stack_args).alias("check", "fail_count")
    )


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


def stateful_session_counts(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the engine's arbitrary-state surface, task brief §streaming): per-
    user session counting with a ``gap_s`` inactivity gap — the
    streaming twin of the batch q16 sessionization query.

    State per user = (last event time in ns, running session count);
    each micro-batch folds its (sorted) events into the state and emits
    the updated count. State is two longs per key — bounded regardless
    of stream length; Spark shuffles each micro-batch by the grouping
    key so a user's events always meet their state on one task.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ns = int(gap_s) * 1_000_000_000

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            last_ns, n_sessions = state.get
        else:
            last_ns, n_sessions = None, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        ts = (
            batch[ts_col]
            .astype("datetime64[ns]")
            .astype("int64")
            .sort_values()
        )
        for t in ts:
            if last_ns is None or t - last_ns > gap_ns:
                n_sessions += 1
            last_ns = int(t)
        state.update((last_ns, n_sessions))
        yield pd.DataFrame({user_col: [key[0]], "n_sessions": [n_sessions]})

    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=f"{user_col} long, n_sessions long",
        stateStructType="last_ns long, n_sessions long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    delay: str = "10 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Exactly-once-per-key stream: drop duplicate arrivals of the same
    key(s), with state BOUNDED by the event-time watermark.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark`` —
    duplicates are only suppressed while their first sighting is inside
    the watermark horizon, so per-key state expires and the state store
    stays O(keys per horizon) instead of O(all keys ever) — the only
    shape that survives an unbounded stream at 10^12 keys. The plain
    variant (``False``) keeps the event-time column in the dedup key
    (exact semantics, state still watermark-expired) for pipelines
    where re-emission after the horizon is REQUIRED rather than merely
    tolerated.
    """
    wm = stream.withWatermark(ts_col, delay)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(list(keys))
    return wm.dropDuplicates([*keys, ts_col])


def streaming_pack_offsets(
    stream: DataFrame,
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    by: str = "source",
) -> DataFrame:
    """Streaming continuation of concat-and-chunk packing
    (``operators.packing.pack_sequences``): documents are laid
    end-to-end PER GROUP in arrival order, token offsets continuing
    across micro-batches, and each doc is emitted once with the
    training-sequence ids it spans.

    State per group = ONE long (the group's running token total) —
    bounded regardless of stream length, the only shape that survives
    an unbounded corpus feed; Spark shuffles each micro-batch by the
    group key so a group's arrivals always meet their offset on one
    task. Arrival order inside a micro-batch follows the batch frame;
    cross-batch order is the trigger order — the deterministic-replay
    contract is per (checkpoint, trigger sequence), matching how
    streaming tokenized shards are actually written. Zero-token docs
    emit NULL first/last_seq (they occupy no tokens), same as batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        n = batch[n_tok_col].astype("int64")
        ends = n.cumsum() + total
        starts = ends - n
        nonzero = n > 0
        first = (starts // seq_len).where(nonzero).astype("Int64")
        last = ((ends - 1) // seq_len).where(nonzero).astype("Int64")
        if len(ends):
            total = int(ends.iloc[-1])
        state.update((total,))
        yield pd.DataFrame(
            {
                by: key[0],
                id_col: batch[id_col],
                n_tok_col: n,
                "start_tok": starts,
                "first_seq": first,
                "last_seq": last,
            }
        )

    return stream.groupBy(by).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{by} string, {id_col} long, {n_tok_col} long, "
            "start_tok long, first_seq long, last_seq long"
        ),
        stateStructType="tok_total long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_histogram(
    stream: DataFrame,
    column: str,
    ts_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 32,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-window fixed-width histogram of a value column:
    (window, bucket, count) in append mode — the streaming half of the
    drift check. State is |open windows| x n_buckets longs, bounded by
    the watermark; the bucket expression is the SAME width_bucket
    arithmetic the batch/oracle path uses (drift.bucket_expr)."""
    from ..operators.drift import bucket_expr

    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    b = bucket_expr(F.col(column), lo, hi, n_buckets)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("window"),
            b.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def windowed_drift_monitor(
    baseline: dict,
    sink: Callable[[DataFrame, int], None],
    eps: float = 1e-9,
):
    """foreachBatch stage turning closed-window histogram rows (the
    append-mode output of :func:`windowed_histogram`) into per-window
    PSI/KL vs a STATIC baseline distribution — live drift against the
    distribution the model was trained on.

    ``baseline`` maps bucket id -> probability (normalized driver-side,
    broadcast as an n_buckets-row local table — never data). The PSI/KL
    sum runs over the FULL bucket domain per window — baseline buckets
    the window never observed enter with pa=0 (a full-outer grid join),
    so mass vanishing from a baseline-heavy bucket scores drift (r4
    ADVICE: the previous observed-rows-only sum underestimated PSI).
    Each epoch handles only the windows the watermark just closed, so
    the per-epoch work is |closed windows x buckets| rows: tiny,
    regardless of stream volume.
    """
    total = float(sum(baseline.values())) or 1.0
    probs = {int(k): v / total for k, v in baseline.items()}

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.columns:
            return
        dom = batch_df.sparkSession.createDataFrame(
            [(k, v) for k, v in sorted(probs.items())],
            "bucket int, pb double",
        )
        w = batch_df.groupBy("window").agg(F.sum("count").alias("wn"))
        # windows × baseline buckets grid; full-outer keeps observed
        # buckets outside the baseline domain (they get pb=0)
        grid = w.select("window").crossJoin(F.broadcast(dom))
        j = (
            grid.join(
                batch_df.withColumn(
                    "bucket", F.col("bucket").cast("int")
                ),
                ["window", "bucket"],
                "full_outer",
            )
            .join(w, "window")
            .select(
                "window",
                (
                    F.coalesce(F.col("count"), F.lit(0)) / F.col("wn")
                ).alias("pa"),
                F.coalesce(F.col("pb"), F.lit(0.0)).alias("pb"),
            )
        )
        e = F.lit(eps)
        out = j.groupBy("window").agg(
            F.sum(
                (F.col("pa") - F.col("pb"))
                * F.log((F.col("pa") + e) / (F.col("pb") + e))
            ).alias("psi"),
            F.sum(
                F.col("pa") * F.log((F.col("pa") + e) / (F.col("pb") + e))
            ).alias("kl"),
        )
        sink(out, epoch_id)

    return _run


def session_window_counts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Engine-native session windows (``F.session_window``): one row
    per (user, session) with the session span and event count.
    Complements :func:`stateful_session_counts` — here the engine owns
    the session state (mergeable, RocksDB-backable, late events folded
    per the watermark) instead of a hand-rolled applyInPandasWithState
    fold; the operator works identically on a BATCH DataFrame (no
    watermark), which is how its exact DuckDB oracle runs (q71).

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
