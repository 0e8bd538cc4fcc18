"""The fused single-pass validation plan.

The reference walks the JSON document once and collects ALL violations
(``check.py:544-561`` — "All schema violations are collected"). Our plan
does the table analog in one scan:

* **violations**: every compiled check becomes a
  ``when(~ok, struct(...))`` element of one array; ``filter`` + one
  ``explode`` yields violation rows. No shuffle, no Python — the whole
  expression runs inside whole-stage codegen, and Catalyst prunes the
  scan down to exactly the checked columns.
* **summary**: without ``partitionBy``, an ``Observation`` on the
  pre-explode frame counts ``n_rows`` and one fail count per check from
  the same failing-check array, so the action that executes the
  violations also yields the summary — no second scan, no extra job.
  The array covers every runnable check, including those exclusions
  prune from the explode. With ``partitionBy`` (an observation cannot
  group), or when no complete observation exists, :func:`summary_plan`
  builds it lazily: one ``groupBy(partition).agg`` of
  ``sum(when(~ok, 1))`` per check, a light shuffle of |partitions| ×
  |checks| longs regardless of table size.

Never ``limit`` violations (mirror the reference's no-short-circuit
rule, SURVEY §4); optionally cap *persisted examples* per check with a
deterministic filter, summaries stay complete.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compile import CompiledCheck
from ..issue import VIOLATION_COLUMNS, finalize_violations
from ..jsonpath import address_regex
from ..spec import CheckConfig, Exclusion, TableSpec


def bind_check_lets(df: DataFrame, checks: Sequence[CompiledCheck]) -> DataFrame:
    """Inject the checks' shared-subexpression columns
    (:attr:`CompiledCheck.lets`) as layered projections.

    Layer ``i`` may reference layer ``i-1``'s names (e.g. a variant
    type-tag column over the materialized extraction column), so each
    layer is its own ``withColumns``. Names are field-scoped by the
    compiler, so merging across checks/fields is collision-free, and
    Catalyst's column pruning drops any slot the surviving checks don't
    reference — over-registration costs nothing at runtime."""
    layers: list[dict] = []
    for ck in checks:
        for i, layer in enumerate(getattr(ck, "lets", ()) or ()):
            if not layer:
                continue
            while len(layers) <= i:
                layers.append({})
            layers[i].update(layer)
    for layer in layers:
        if layer:
            df = df.withColumns(layer)
    return df


#: the failing-check index array column of the fused branch
_FAILS = "__cdp_fails"


def _with_failing_checks(df: DataFrame, checks: Sequence[CompiledCheck]) -> DataFrame:
    """``df`` plus the checks' shared columns and ``__cdp_fails``: the
    indices of the checks a row fails (``array<int>``, empty when it
    passes). This is the fused branch's only per-row work: each ``ok``
    predicate is evaluated once, here; the violation payload is built
    after the explode, on violating rows only, and the observed summary
    reads its fail counts from this same array."""
    fails = F.array_compact(
        F.array(*[F.when(~ck.ok, F.lit(i)) for i, ck in enumerate(checks)])
    )
    return bind_check_lets(df, checks).withColumn(_FAILS, fails)


def violations_plan(
    df: DataFrame,
    checks: Sequence[CompiledCheck],
    table_name: str,
    row_key: Optional[Union[str, list]] = None,
    partition: Optional[str] = None,
) -> DataFrame:
    """One-scan violation extraction.

    Emits the VIOLATION_FULL_SCHEMA columns. ``row_key``/``partition``
    name columns of ``df`` used for addressing and context. ``row_key``
    may be a list of columns (composite key → ``a|b`` address). With no
    key at all, a positional id stands in for the reference's ``[i]``
    array index (distinct rows must yield distinct jsonpaths, or the
    Issue-contract dedup would collapse them).
    """
    if not checks:
        return df.sparkSession.createDataFrame([], schema=_empty_schema())
    return _explode_violations(
        _with_failing_checks(df, checks),
        checks,
        range(len(checks)),
        table_name,
        row_key,
        partition,
    )


def _explode_violations(
    framed: DataFrame,
    checks: Sequence[CompiledCheck],
    emit: Sequence[int],
    table_name: str,
    row_key: Optional[Union[str, list]],
    partition: Optional[str],
) -> DataFrame:
    """Violation rows from a :func:`_with_failing_checks` frame of
    ``checks``; only the indices in ``emit`` are exploded."""
    if row_key is None:
        key_col = F.monotonically_increasing_id().cast("string")
    elif isinstance(row_key, (list, tuple)):
        key_col = F.concat_ws("|", *[F.col(k).cast("string") for k in row_key])
    else:
        key_col = F.col(row_key)
    part_col = F.col(partition).cast("string") if partition else F.lit(None).cast("string")

    # The per-row work is ONLY the ok predicates: the array carries the
    # indices of failing checks (array<int>), nothing else. All payload
    # — jsonpath, constants, the instance value — is resolved AFTER the
    # explode, i.e. on violating rows only. The previous shape (full
    # payload structs inside the array) re-evaluated 15 jsonpath
    # concats + 15 instance expressions + any staging when-chains per
    # row inside one giant interpreted expression (variant checks
    # disable codegen): q38 measured 14.2 s per execution vs ~2 s with
    # this emission at sf0.1.
    fails = F.col(_FAILS)
    if len(emit) < len(checks):
        fails = F.filter(fails, lambda i: i.isin(*emit))

    # Columns the post-explode payload references: derived from the
    # ``instance`` expressions THEMSELVES (one driver-side analysis of
    # all instances against df — ~50 ms, no execution), so ``instance``
    # may reference ANY input column (cross-column invariants,
    # column=None checks — the full compile_invariant contract), not
    # just its check's declared column root. Carrying the referenced
    # columns through the Generate is free (Generate appends to the
    # input row) and keeps column pruning intact — unreferenced table
    # columns never leave the scan.
    carry = _instance_carry_columns(framed, [checks[i] for i in emit])

    # No explicit pre-filter on size(_v): explode (non-outer) already
    # drops empty arrays. Catalyst's InferFiltersFromGenerate would add
    # a size(_v) > 0 Filter that DUPLICATES the array expression on
    # every row (13× measured with interpreted variant checks) — the
    # rule is excluded session-wide (session.exclude_infer_filters).
    exploded = framed.select(
        key_col.cast("string").alias("_k"),
        part_col.alias("_p"),
        *[F.col(c) for c in carry],
        F.explode(fails).alias("_ci"),
    )

    idx = F.col("_ci") + 1  # element_at is 1-based

    def const(fn) -> Column:
        """Per-check constant via literal-array lookup (one expression,
        no N-branch CASE)."""
        return F.element_at(F.array(*[F.lit(fn(ck)) for ck in checks]), idx)

    # jsonpath = $.<table>[<key>]<.column-suffix> — suffix precomputed
    # per check so table-level checks (column None) get no suffix
    jsonpath = F.concat(
        F.lit(f"$.{table_name}["),
        F.coalesce(F.col("_k"), F.lit("?")),
        F.lit("]"),
        const(_column_suffix),
    )
    # ONE flat CaseWhen (when().when()...), never nested otherwise() —
    # nesting would embed the whole previous chain per branch: O(N²)
    # expression size, measured 90 s vs ~3 s on the 29-check q07
    instance: Optional[Column] = None
    for i in emit:
        branch = (F.col("_ci") == i, checks[i].instance.cast("string"))
        instance = F.when(*branch) if instance is None else instance.when(*branch)
    instance = instance.otherwise(F.lit(None).cast("string"))

    out = exploded.select(
        jsonpath.alias("jsonpath"),
        const(lambda ck: ck.issue_type).alias("type"),
        const(lambda ck: ck.message).alias("message"),
        instance.alias("instance"),
        const(lambda ck: ck.name).alias("check"),
        const(lambda ck: ck.column).cast("string").alias("column"),
        F.col("_k").alias("row_key"),
        F.col("_p").alias("partition"),
    ).select(VIOLATION_COLUMNS)
    return out


def _column_suffix(ck: CompiledCheck) -> str:
    """The address suffix after ``$.<table>[<row key>]``: ``.<column>``,
    or nothing for a table-level check."""
    return f".{ck.column}" if ck.column else ""


def _empty_schema():
    from ..issue import VIOLATION_FULL_SCHEMA

    return VIOLATION_FULL_SCHEMA


def _instance_carry_columns(
    df: DataFrame, checks: Sequence[CompiledCheck]
) -> list[str]:
    """Input columns referenced by any check's ``instance`` expression.

    ONE analysis pass (never executed): project every instance against
    ``df`` and read each aliased expression's references off the
    analyzed plan. An instance that references a column absent from
    ``df`` fails here, at plan-build time, with the offending check
    named — not later with a bare AnalysisException from deep inside
    the exploded plan. Falls back to each check's declared-column root
    if the JVM plan introspection is unavailable (e.g. Spark Connect,
    where ``_jdf`` does not exist)."""
    try:
        probe = df.select(
            [ck.instance.alias(f"_i{i}") for i, ck in enumerate(checks)]
        )
        exprs = probe._jdf.queryExecution().analyzed().expressions()
        refs: set[str] = set()
        for i in range(exprs.length()):
            it = exprs.apply(i).references().iterator()
            while it.hasNext():
                refs.add(it.next().name())
        return [c for c in df.columns if c in refs]
    except AttributeError:
        # no classic-mode JVM handle — conservative fallback: declared
        # column roots (documented on CompiledCheck as the portable
        # contract for instance expressions)
        carry: list[str] = []
        seen: set[str] = set()
        for ck in checks:
            root = (ck.column or "").split(".", 1)[0]
            if root and root in df.columns and root not in seen:
                seen.add(root)
                carry.append(root)
        return carry
    except Exception:
        # combined analysis failed → per-check probes to name the
        # culprit in the error
        for ck in checks:
            try:
                df.select(ck.instance)._jdf.queryExecution().analyzed()
            except Exception as e:
                raise ValueError(
                    f"check {ck.name!r}: instance expression does not "
                    f"resolve against the input columns {df.columns}: {e}"
                ) from e
        raise


def summary_plan(
    df: DataFrame,
    checks: Sequence[CompiledCheck],
    partition: Optional[str] = None,
) -> DataFrame:
    """Per-partition pass/fail matrix in one agg pass.

    Output: (partition, check, column, type, n_rows, fail_count, passed)
    — long form, one row per (partition, check). The wide agg happens
    first (one shuffle of tiny partial aggregates), then a driver-free
    ``stack`` unpivot.
    """
    if not checks:
        return df.sparkSession.createDataFrame(
            [],
            schema=(
                "partition string, n_rows long, check string, column string,"
                " type string, fail_count long, passed boolean"
            ),
        ).drop(*([] if partition else ["partition"]))

    df = bind_check_lets(df, checks)
    group = [F.col(partition).cast("string").alias("partition")] if partition else []
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, ck in enumerate(checks):
        aggs.append(
            F.sum(F.when(~ck.ok, F.lit(1)).otherwise(F.lit(0))).alias(f"_c{i}")
        )
    wide = df.groupBy(*group).agg(*aggs)

    # unpivot via stack — stays distributed, no collect
    n = len(checks)
    stack_args = []
    for i, ck in enumerate(checks):
        stack_args.append(f"'{ck.name}', '{ck.column or ''}', '{ck.issue_type}', _c{i}")
    stack_expr = f"stack({n}, {', '.join(stack_args)}) as (check, column, type, fail_count)"
    cols = (["partition"] if partition else []) + ["n_rows"]
    long = wide.selectExpr(*cols, stack_expr).withColumn(
        "passed", F.col("fail_count") == 0
    )
    return long


# ---------------------------------------------------------------------------
# Exclusions (ref exclusion.py:50-84 → filter on the violations DataFrame)
# ---------------------------------------------------------------------------

#: the row key of a check's generic address in prune_excluded_checks
_ANY_ROW = "\x00"


def exclusion_filter(violations: DataFrame, exclusions: Sequence[Exclusion]) -> DataFrame:
    """Drop violations matching any exclusion.

    AND within one exclusion, OR across exclusions; empty exclusion
    matches nothing (ref exclusion.py:50-78). Compiled to a single
    vectorized predicate — no join needed since exclusion lists are tiny
    and driver-resident.
    """
    conds: list[Column] = []
    for ex in exclusions:
        if ex.is_empty():
            continue
        sub: list[Column] = []
        if ex.jsonpath is not None:
            sub.append(F.col("jsonpath").rlike(address_regex(ex.jsonpath)))
        if ex.type is not None:
            sub.append(F.col("type") == ex.type)
        cond = sub[0]
        for s in sub[1:]:
            cond = cond & s
        conds.append(cond)
    if not conds:
        return violations
    matched = conds[0]
    for c in conds[1:]:
        matched = matched | c
    return violations.where(~matched)


def prune_excluded_checks(
    checks: Sequence[CompiledCheck],
    exclusions: Sequence[Exclusion],
    table_name: str,
) -> list[CompiledCheck]:
    """Driver-side plan pruning (SURVEY §2.6 U4 note: "don't even
    compute excluded checks").

    A check is dropped from the violations plan when some exclusion is
    guaranteed to match EVERY violation it could emit: its type (if
    set) is the check's issue type, and its jsonpath (if set) matches
    the check's generic address ``$.<table>[<any row>].<column>`` —
    e.g. ``$.<table>[*].<col>``, ``..<col>``, ``$.<table>[*]['a','b']``.
    The any-row key is a character no row-key or index selector
    matches, so only ``[*]`` and ``..`` cover it.

    Row-specific paths stay in the plan and are filtered post-hoc by
    :func:`exclusion_filter` — pruning is an optimization, never a
    semantic change. The summary matrix intentionally keeps all checks
    (it reports fail counts, not issues).
    """
    covering = [
        (ex.type, ex.jsonpath and re.compile(address_regex(ex.jsonpath)))
        for ex in exclusions
        if not ex.is_empty()
    ]

    def covered(ck: CompiledCheck) -> bool:
        address = f"$.{table_name}[{_ANY_ROW}]{_column_suffix(ck)}"
        return any(
            (t is None or t == ck.issue_type)
            and (p is None or p.match(address) is not None)
            for t, p in covering
        )

    return [ck for ck in checks if not covered(ck)]


def cap_examples(
    violations: DataFrame, max_per_check: int, partition: bool = True
) -> DataFrame:
    """Deterministically cap persisted example rows per (check, partition).

    Window row_number over (check, partition) ordered by jsonpath — used
    only for the persisted-examples sink; summaries never pass through
    this (SURVEY §4 short-circuit note).
    """
    from pyspark.sql import Window as W

    keys = ["check"] + (["partition"] if partition else [])
    w = W.partitionBy(*keys).orderBy("jsonpath")
    return (
        violations.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_check)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Orchestration — the check() analog (ref check.py:250-291)
# ---------------------------------------------------------------------------


class _ObservedSummary:
    """The unpartitioned summary as observed metrics of the fused
    branch: ``n_rows`` plus one fail count per check, collected by
    whichever action first executes the violations. The counts read the
    failing-check array, not the ``ok`` predicates, which would evaluate
    every check a second time per row."""

    def __init__(self, checks: Sequence[CompiledCheck]):
        from pyspark.sql import Observation

        self.checks = list(checks)
        self.observation = Observation()

    def attach(self, framed: DataFrame) -> DataFrame:
        self.spark = framed.sparkSession
        fails = F.col(_FAILS)
        return framed.observe(
            self.observation,
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.when(F.array_contains(fails, i), 1).otherwise(0)).alias(f"_c{i}")
                for i in range(len(self.checks))
            ],
        )

    def frame(self) -> Optional[DataFrame]:
        """The summary in :func:`summary_plan`'s schema, ordered by check;
        None until an action completed the observation with every metric.
        A first action that ran the branch inside a broadcast exchange
        completes it with an empty row. Classic mode only (no JVM handle
        elsewhere)."""
        jo = getattr(self.observation, "_jo", None)
        if jo is None:
            return None
        if not jo.future().isCompleted():
            # completion arrives on the listener bus just after the
            # action returns; drain it (immediate when idle)
            try:
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            except Exception:
                pass
            if not jo.future().isCompleted():
                return None
        try:
            if jo.getRow().length() != len(self.checks) + 1:
                return None
            got = self.observation.get
        except Exception:  # the first action failed
            return None
        import pandas as pd

        n_rows = got["n_rows"]
        rows = []
        for i, ck in enumerate(self.checks):
            fails = got[f"_c{i}"]
            passed = None if fails is None else fails == 0
            rows.append((n_rows, ck.name, ck.column or "", ck.issue_type, fails, passed))
        rows.sort(key=lambda r: r[1])
        # built from pandas (Arrow) it is a LocalRelation: show runs no job
        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=_SUMMARY_COLUMNS), schema=_SUMMARY_SCHEMA
        )


#: :func:`summary_plan`'s output schema without a partition column
_SUMMARY_COLUMNS = ["n_rows", "check", "column", "type", "fail_count", "passed"]
_SUMMARY_SCHEMA = (
    "n_rows long not null, check string, column string, type string,"
    " fail_count long, passed boolean"
)


@dataclass
class ValidationResult:
    """Outcome of a full table validation run."""

    spec_issues: list  # driver-side Issues (spec-level, structural)
    violations: DataFrame  # data-plane violation rows (full schema)
    #: builds the :func:`summary_plan` frame (a rescan of the table)
    _summary_plan: Callable[[], DataFrame] = dc_field(repr=False)
    _observed: Optional[_ObservedSummary] = dc_field(default=None, repr=False)
    _summary: Optional[DataFrame] = dc_field(default=None, repr=False)
    _n_violations: Optional[int] = dc_field(default=None, repr=False)

    @property
    def summary(self) -> DataFrame:
        """Pass/fail matrix: one row per (partition, check) with
        ``n_rows``, ``fail_count`` and ``passed`` — the values and schema
        of :func:`summary_plan`, ordered by partition, then check.

        Unpartitioned, it comes from the metrics the first action on
        :attr:`violations` observed: a small local frame, no rescan.
        Before that action, when it completed without every metric, and
        for specs with ``partitionBy`` (an observation cannot group) it
        is :func:`summary_plan`, built lazily on access."""
        if self._summary is None:
            if self._observed is None:
                self._summary = self._summary_plan()
            else:
                self._summary = self._observed.frame()
        return self._summary if self._summary is not None else self._summary_plan()

    def violation_count(self) -> int:
        """Number of violation rows; runs one job the first time, then
        returns the same count."""
        if self._n_violations is None:
            self._n_violations = self.violations.count()
        return self._n_violations

    def passed(self) -> bool:
        """True iff no spec issues and no data violations. Reuses
        :meth:`violation_count` once it ran; otherwise one ``isEmpty``
        job."""
        if self.spec_issues:
            return False
        if self._n_violations is not None:
            return self._n_violations == 0
        return self.violations.isEmpty()


def check_table(
    df: DataFrame,
    spec: TableSpec,
    config: Optional[CheckConfig] = None,
    dims: Optional[dict[str, DataFrame]] = None,
    extra_checks: Optional[list[CompiledCheck]] = None,
) -> ValidationResult:
    """Full validation lifecycle — the engine's ``check()`` analog.

    Mirrors ref check.py:250-291 staging:
      1. spec self-validation (driver; ref Draft7Validator.check_schema)
      2. structural schema conformance (driver; C2 for typed columns)
      3. fused row-level checks (one scan; C1–C10)
      4. key checks *gated on spec validity* (ref check.py:330-337):
         uniqueness (C11) and referential (R5) — only when the declaring
         property had no structural issue
      5. exclusions filter (ref exclusion.py)
      6. dedup + canonical order (ref check.py:279)
    """
    from ..compile import compile_table_checks, schema_conforms
    from ..extensions import compile_extensions
    from ..operators.dedup import _spread
    from ..operators.referential import referential_violations
    from ..operators.uniqueness import uniqueness_violations
    from ..spec import validate_spec, validate_spec_against

    config = config or CheckConfig()
    dims = dims or {}

    actual_cols = set(df.columns)
    pk_present = [k for k in spec.primary_key if k in actual_cols]
    row_key: Optional[Union[str, list]]
    if len(pk_present) == 1:
        row_key = pk_present[0]
    elif pk_present:
        row_key = pk_present
    else:
        row_key = None

    # Under-split inputs (a single small parquet file arrives as 1-2
    # partitions) would run the whole fused plan through one task —
    # measured 20-30 s for 15 jsonSchema checks over 100k one-partition
    # rows vs ~2 s spread. A production 10^12-row table always has
    # orders of magnitude more partitions than cores, so this never
    # fires there. Skipped when there is no primary key: the positional
    # jsonpath fallback (monotonically_increasing_id) must stay tied to
    # the INPUT layout, not a round-robin shuffle's.
    if row_key is not None:
        df = _spread(df)

    spec_issues = list(validate_spec(spec, version=config.version))
    spec_issues.extend(schema_conforms(df, spec))
    if config.strict:
        from ..spec import strict_spec_issues

        spec_issues.extend(strict_spec_issues(spec))

    # extra_checks accepts CompiledCheck objects AND raw extension
    # objects (CustomCheck/RequiredCheck — ref check(extensions=...),
    # check.py:250); those and config.extensions compile here against
    # the physical schema so jsonpath targets resolve.
    extra = compile_extensions(
        [*(extra_checks or ()), *config.extensions], schema=df.schema
    )
    checks = compile_table_checks(spec, extra=extra, schema=df.schema)
    # dotted column paths (nested RequiredCheck targets) are runnable
    # when their ROOT column exists
    runnable = [
        c
        for c in checks
        if c.column is None or c.column.split(".", 1)[0] in actual_cols
    ]
    partition = spec.partition_by[0] if spec.partition_by else None

    # plan pruning: checks whose every violation a type/whole-column
    # exclusion would drop are never computed (U4 pushdown)
    emitted = prune_excluded_checks(runnable, config.exclusions, spec.name)
    observed = None
    if emitted and partition is None and not df.isStreaming:
        # one failing-check array over ALL runnable checks: the observed
        # summary counts every check, the explode emits only the
        # unpruned ones
        keep = {id(ck) for ck in emitted}
        observed = _ObservedSummary(runnable)
        v = _explode_violations(
            observed.attach(_with_failing_checks(df, runnable)),
            runnable,
            [i for i, ck in enumerate(runnable) if id(ck) in keep],
            spec.name,
            row_key,
            None,
        )
    else:
        v = violations_plan(
            df, emitted, spec.name, row_key=row_key, partition=partition
        )
    parts = [v]

    # Gate (R1, ref check.py:330-337): skip data-level key checks whose
    # declaration is itself broken.
    bad_paths = {i.jsonpath for i in spec_issues}

    pk_ok = spec.primary_key and not any("primaryKey" in p for p in bad_paths)
    if pk_ok and all(k in actual_cols for k in spec.primary_key):
        parts.append(
            uniqueness_violations(
                df, list(spec.primary_key), spec.name, partition=partition
            )
        )
    for cols in spec.unique_keys:
        if all(k in actual_cols for k in cols):
            parts.append(
                uniqueness_violations(df, list(cols), spec.name, partition=partition)
            )
    for fs in spec.fields:
        if fs.constraints.unique and fs.name in actual_cols and (fs.name,) != spec.primary_key:
            parts.append(
                uniqueness_violations(df, [fs.name], spec.name, partition=partition)
            )

    for j, fk in enumerate(spec.foreign_keys):
        if any(f"foreignKeys[{j}]" in p for p in bad_paths):
            continue
        dest_df = df if not fk.reference_resource else dims.get(fk.reference_resource)
        if dest_df is None:
            continue
        if fk.reference_resource and fk.reference_resource in dims:
            # declaration-level cross-resource check needs the dest spec;
            # here dims are DataFrames so only existence was checkable —
            # field existence validated against the DataFrame columns.
            missing = [c for c in fk.reference_fields if c not in dest_df.columns]
            if missing:
                spec_issues.extend(
                    validate_spec_against(
                        spec,
                        {
                            fk.reference_resource: TableSpec(
                                name=fk.reference_resource,
                                fields=tuple(),
                            )
                        },
                    )
                )
                continue
        parts.append(
            referential_violations(
                df,
                dest_df,
                list(fk.fields),
                list(fk.reference_fields),
                spec.name,
                fk.reference_resource or spec.name,
                row_key=row_key,
                partition=partition,
            )
        )

    all_v = parts[0]
    for p in parts[1:]:
        all_v = all_v.unionByName(p)

    all_v = exclusion_filter(all_v, config.exclusions)
    if config.max_examples_per_check:
        all_v = cap_examples(all_v, config.max_examples_per_check)
    all_v = finalize_violations(all_v)

    from ..issue import finalize_issues

    return ValidationResult(
        spec_issues=finalize_issues(spec_issues),
        violations=all_v,
        _summary_plan=lambda: summary_plan(df, runnable, partition=partition).orderBy(
            *(["partition"] if partition else []), "check"
        ),
        _observed=observed,
    )
