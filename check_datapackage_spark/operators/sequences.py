"""Structural validation of pre-tokenized training sequences — the
north-star table shape (doc_id, tokens:array<int32>, n_tok, source).

Beyond the per-row length invariant (q18 / fixtures.token_invariant_
checks), a tokenized corpus has STRUCTURAL invariants a trainer relies
on: the first token is BOS, the last is EOS, padding never appears in
the interior, and every id is inside the embedding table. A single bad
shard silently corrupts loss curves, so these run as one fused
map-side pass per shard.

Reference parity: the reference validates field values one constraint
at a time (check.py check_data); this lifts the same per-row
pass/fail + per-check counts contract onto token arrays.

Scale shape: all four predicates are JVM higher-order expressions over
the let-bound array (one evaluation per row, see text.let_col), fused
into ONE aggregation with map-side combine — zero extra shuffles at
any corpus size, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import let_col


def structure_flags(
    tokens: Column,
    bos: int,
    eos: int,
    pad: int,
    max_id: int,
) -> Column:
    """Struct of per-row structural violation flags over a token array:
    ``missing_bos``, ``bad_eos``, ``pad_interior``, ``oov``.

    ``pad_interior`` counts pads then discounts the endpoints (works
    for any array length without slicing, and replays exactly in SQL);
    ``oov`` is any id outside ``[0, max_id]``. The array expression is
    let-bound so callers can pass a CONSTRUCTED array (e.g. a planted
    corruption) without paying one re-evaluation per predicate.

    Empty (zero-length, non-null) arrays are themselves malformed
    shards: ``try_element_at`` (ANSI-safe, never throws — same
    convention as extensions.py) yields NULL endpoints, which we
    define as ``missing_bos`` + ``bad_eos`` violations with zero
    interior pads and no OOV.
    """

    def flags_of(t: Column) -> Column:
        first, last, interior_pads, oov = _structure_terms(t, pad, max_id)
        return F.struct(
            F.coalesce(first != bos, F.lit(True)).alias("missing_bos"),
            F.coalesce(last != eos, F.lit(True)).alias("bad_eos"),
            (interior_pads > 0).alias("pad_interior"),
            oov.alias("oov"),
        )

    return let_col(tokens, flags_of)


def _structure_terms(t: Column, pad: int, max_id: int) -> tuple:
    """The terms both :func:`structure_flags` and
    :func:`structure_checks` test, over a token array ``t``: its first
    and last ids (NULL when empty, ``try_element_at`` is ANSI-safe), the
    number of pads between them (all pads, less the endpoints), and
    whether any id lies outside ``[0, max_id]``."""
    first = F.try_element_at(t, F.lit(1))
    last = F.try_element_at(t, F.lit(-1))
    n_pad = F.size(F.filter(t, lambda x: x == F.lit(pad)))
    interior_pads = (
        n_pad
        - F.coalesce((first == pad).cast("int"), F.lit(0))
        - F.coalesce((last == pad).cast("int"), F.lit(0))
    )
    oov = F.exists(t, lambda x: (x < F.lit(0)) | (x > F.lit(max_id)))
    return first, last, interior_pads, oov


def structure_summary(
    df: DataFrame,
    tokens: Column,
    bos: int,
    eos: int,
    pad: int,
    max_id: int,
    by: str = "source",
) -> DataFrame:
    """Per-group counts of each structural violation, one fused pass:
    (by, n_seqs, n_missing_bos, n_bad_eos, n_pad_interior, n_oov)."""
    f = structure_flags(tokens, bos=bos, eos=eos, pad=pad, max_id=max_id)
    flagged = df.select(F.col(by), f.alias("_f"))
    cnt = lambda name: F.sum(  # noqa: E731
        F.col(f"_f.{name}").cast("long")
    ).alias(f"n_{name}")
    return flagged.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_seqs"),
        cnt("missing_bos"),
        cnt("bad_eos"),
        cnt("pad_interior"),
        cnt("oov"),
    )


def structure_checks(
    column: str = "tokens",
    bos: int = 0,
    eos: int = 1,
    pad: int = 2,
    max_id: int = 2,
):
    """The four structural invariants as compiled checks, pluggable
    into :func:`plans.validation.check_table` (batch, fused with every
    other declared check into the single-scan violations plan) and
    :func:`plans.validation.violations_plan` on a stream (the predicates
    are stateless projections, so they run unchanged in append mode).

    NULL arrays pass every structure check — ``required`` owns null
    handling, same convention as every field constraint. EMPTY arrays
    (zero-length, non-null) violate bos_first and eos_last:
    ``try_element_at`` (ANSI-safe) returns NULL endpoints and the
    coalesced predicates treat a missing endpoint as a violation.
    """
    from ..compile import compile_invariant

    t = F.col(column)
    first, last, interior_pads, oov = _structure_terms(t, pad, max_id)
    null_ok = t.isNull()
    return [
        compile_invariant(
            name=f"{column}.bos_first",
            ok=null_ok | F.coalesce(first == bos, F.lit(False)),
            issue_type="structure",
            message=f"sequence must start with BOS ({bos})",
            column=column,
            instance=first,
        ),
        compile_invariant(
            name=f"{column}.eos_last",
            ok=null_ok | F.coalesce(last == eos, F.lit(False)),
            issue_type="structure",
            message=f"sequence must end with EOS ({eos})",
            column=column,
            instance=last,
        ),
        compile_invariant(
            name=f"{column}.no_interior_pad",
            ok=null_ok | (interior_pads <= 0),
            issue_type="structure",
            message=f"PAD ({pad}) must not appear inside the sequence",
            column=column,
            instance=interior_pads,
        ),
        compile_invariant(
            name=f"{column}.in_vocab",
            ok=null_ok | ~oov,
            issue_type="structure",
            message=f"token ids must be in [0, {max_id}]",
            column=column,
            instance=F.lit(None),
        ),
    ]


def order_inversions(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    by: str,
) -> DataFrame:
    """Event-time monotonicity check: within each ``by`` group ordered
    by ``order_col`` (e.g. ingestion id), count events whose ``ts``
    moved BACKWARDS vs the previous event — out-of-order delivery, the
    invariant every watermark/asof consumer silently assumes.

    One shuffle (the per-group window); output one row per group:
    (by, n_events, n_inversions, max_backstep_s). At skewed group
    sizes the window partitions by the group key only — salt the key
    upstream if one group dominates (same guidance as uniqueness)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(by).orderBy(order_col)
    # NTZ cannot cast to double directly; the timestamp hop preserves
    # the instant (session TZ pinned UTC, same as streaming/checks.py)
    t = F.col(ts_col).cast("timestamp").cast("double")
    staged = df.select(
        F.col(by),
        t.alias("_t"),
        F.lag(t).over(w).alias("_prev"),
    )
    step = F.col("_t") - F.col("_prev")
    flagged = staged.select(
        F.col(by),
        F.when(F.col("_prev").isNotNull() & (step < 0), -step).alias("_back"),
    )
    return flagged.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("_back").isNotNull()).cast("long")).alias(
            "n_inversions"
        ),
        F.round(F.coalesce(F.max("_back"), F.lit(0.0)), 3).alias(
            "max_backstep_s"
        ),
    )


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel completion counts: how many users performed
    ``steps[0]``, then ``steps[1]`` at-or-after their first
    ``steps[0]``, and so on — the event-sequence conversion report
    (first-touch semantics: each step anchors at the user's EARLIEST
    qualifying occurrence, ties inclusive).

    Output: (step_idx, step, n_users, conversion) where conversion is
    n_users / previous step's n_users rounded to 6 decimals
    (step 1 converts from itself = 1.0).

    Plan (100 TB shape): one conditional-min aggregation per step, all
    keyed on ``user_col`` — |steps|-1 self-joins on the SAME key, so
    the exchange is reused rather than re-shuffled, and each pass's
    input after step 1 is the (shrinking) converted-user set joined
    against one event-type slice (filter pushed to the scan). No
    collect_list of a user's history (hub-user OOM at scale), no
    window over raw events.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = df.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t"), us.alias("us")
    )
    # anchor: first occurrence of step 0 per user
    cur = (
        ev.filter(F.col("t") == steps[0])
        .groupBy("u")
        .agg(F.min("us").alias("anchor"))
        .persist()
    )
    held = [cur]
    counts = [cur.count()]
    for step in steps[1:]:
        nxt = (
            ev.filter(F.col("t") == step)
            .join(cur, "u")
            .filter(F.col("us") >= F.col("anchor"))
            .groupBy("u")
            .agg(F.min("us").alias("anchor"))
            .persist()
        )
        held.append(nxt)
        counts.append(nxt.count())
        cur = nxt
    for h in held:
        h.unpersist()
    spark = df.sparkSession
    rows = []
    prev = None
    for i, (step, n) in enumerate(zip(steps, counts)):
        # step 1 converts from itself; a dead previous step yields NULL
        conv = 1.0 if prev is None else (None if prev == 0 else round(n / prev, 6))
        rows.append((i + 1, step, n, conv))
        prev = n
    # Arrow-path createDataFrame (object dtype keeps the NULL
    # conversion slot exact) — the Python-rows path re-pickles through
    # a Python worker on every downstream action (~0.6 s per frame)
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["step_idx", "step", "n_users", "conversion"], dtype=object
    )
    return spark.createDataFrame(
        pdf, "step_idx int, step string, n_users bigint, conversion double"
    )
