"""The fused single-pass validation plan.

The reference walks the JSON document once and collects ALL violations
(``check.py:544-561`` — "All schema violations are collected"). Our plan
does the table analog in one scan:

* **violations**: one array per row of the indices of the checks it
  fails; one ``explode`` that carries the whole row, then the row is
  written through :mod:`..issue`'s writer, on violating rows only.
  Nested elements run on this branch too (:mod:`.nested`). No shuffle,
  no Python, and Catalyst prunes the scan (and the explode) down to
  exactly the columns the checks and their instances read — nothing
  derives them by hand.
* **summary**: one aggregate list, ``n_rows`` plus one fail count per
  check, over the same failing-check array the violations explode
  (:class:`_FailingChecks`; it covers every runnable check, including
  those exclusions prune from the explode). Without ``partitionBy`` an
  ``Observation`` on the pre-explode frame reads it, so the action that
  executes the violations also yields the summary — no second scan, no
  extra job. With ``partitionBy`` (an observation cannot group), or
  when no complete observation exists, a ``groupBy(partition)`` reads
  it lazily (:func:`summary_plan`): a light shuffle of |partitions| ×
  |checks| longs regardless of table size.
* **compile once, apply per frame**: :class:`ValidationPlan` holds
  everything that does not depend on the rows (spec issues, compiled
  and pruned checks, every Column expression of the fused branch) and
  keeps no per-frame state; ``apply`` only builds DataFrames.
  :func:`check_table` is the two in a row; a stream reuses one plan
  while its batch schema holds.

Never ``limit`` violations (mirror the reference's no-short-circuit
rule, SURVEY §4); optionally cap *persisted examples* per check with a
deterministic filter, summaries stay complete.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Callable, Optional, Sequence, Union

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compile import CompiledCheck
from ..issue import (
    VIOLATION_FULL_SCHEMA,
    dedup_violations,
    finalize_issues,
    order_violations,
    row_key_text,
    violation_address,
    violation_columns,
)
from ..jsonpath import address_regex
from ..spec import CheckConfig, Exclusion, TableSpec


def _let_layers(checks: Sequence[CompiledCheck]) -> list[dict]:
    """The checks' :attr:`CompiledCheck.lets`, merged per layer."""
    layers: list[dict] = []
    for ck in checks:
        for i, layer in enumerate(getattr(ck, "lets", ()) or ()):
            if not layer:
                continue
            while len(layers) <= i:
                layers.append({})
            layers[i].update(layer)
    return [layer for layer in layers if layer]


def bind_check_lets(df: DataFrame, checks: Sequence[CompiledCheck]) -> DataFrame:
    """Inject the checks' shared-subexpression columns
    (:attr:`CompiledCheck.lets`) as layered projections.

    Layer ``i`` may reference layer ``i-1``'s names (e.g. a variant
    type-tag column over the materialized extraction column), so each
    layer is its own ``withColumns``. Names are field-scoped by the
    compiler, so merging across checks/fields is collision-free, and
    Catalyst's column pruning drops any slot the surviving checks don't
    reference — over-registration costs nothing at runtime."""
    for layer in _let_layers(checks):
        df = df.withColumns(layer)
    return df


#: the fused branch's own columns; the prefix keeps them apart from
#: table columns
_FAILS, _KEY, _PART, _CI = "__cdp_fails", "__cdp_k", "__cdp_p", "__cdp_ci"
#: the element index column of a frame of array elements (nested.py)
ELEMENT_INDEX = "__cdp_i"


class _FailingChecks:
    """The failing-check array of ``checks`` and the fail counts read
    from it, as Column expressions built once: every per-check fail
    count of the engine (the observed summary, :func:`summary_plan`'s
    matrix, the windowed stream counts) is an aggregate of this array.

    ``aggs`` is ``n_rows`` plus one ``_c<i>`` count per check: observed
    on the fused branch, or grouped by :meth:`matrix`."""

    def __init__(self, checks: Sequence[CompiledCheck]):
        self.checks = list(checks)
        self.lets = _let_layers(self.checks)
        # the per-row work is ONLY the ok predicates: the array carries
        # the indices of failing checks (array<int>), nothing else
        self.fails = F.array_compact(
            F.array(*[F.when(~ck.ok, F.lit(i)) for i, ck in enumerate(self.checks)])
        )
        fails = F.col(_FAILS)
        self.aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.when(F.array_contains(fails, i), 1).otherwise(0)).alias(f"_c{i}")
                for i in range(len(self.checks))
            ],
        ]

    def frame(self, df: DataFrame) -> DataFrame:
        """``df`` plus the checks' shared columns and ``__cdp_fails``:
        the indices of the checks a row fails (``array<int>``, empty when
        it passes). Each ``ok`` predicate is evaluated once, here."""
        for layer in self.lets:
            df = df.withColumns(layer)
        return df.withColumn(_FAILS, self.fails)

    def matrix(self, framed: DataFrame, *group: Column) -> DataFrame:
        """The fail counts of a :meth:`frame` per ``group``, long form:
        the ``group`` columns, then (n_rows, check, column, type,
        fail_count), one row per (group, check). The wide aggregate runs
        first (one shuffle of tiny partial aggregates), then a
        driver-free ``stack`` unpivot; check names are literals, never
        pasted into SQL text. Without checks: the same columns, no rows
        (and still a stream when ``framed`` is one)."""
        if not self.checks:
            types = {
                "n_rows": "long", "check": "string", "column": "string",
                "type": "string", "fail_count": "long",
            }
            return framed.where(F.lit(False)).select(
                *group, *[F.lit(None).cast(t).alias(c) for c, t in types.items()]
            )
        wide = framed.groupBy(*group).agg(*self.aggs)
        stack_args: list[Column] = []
        for i, ck in enumerate(self.checks):
            stack_args += [F.lit(ck.name), F.lit(ck.column or ""), F.lit(ck.issue_type), F.col(f"_c{i}")]
        return wide.select(
            *wide.columns[: len(group)],
            "n_rows",
            F.stack(F.lit(len(self.checks)), *stack_args).alias("check", "column", "type", "fail_count"),
        )

    def summary(self, df: DataFrame, partition: Optional[str] = None) -> DataFrame:
        """:func:`summary_plan` of these checks over ``df``."""
        group = [F.col(partition).cast("string").alias("partition")] if partition else []
        return self.matrix(self.frame(df), *group).withColumn("passed", F.col("fail_count") == 0)


class _FusedBranch:
    """The fused branch over a :class:`_FailingChecks`' array as Column
    expressions that do not depend on the input frame: the explode and
    the violation payload. It holds nothing per frame:
    :meth:`violations` only builds DataFrames, so a plan reused across
    micro-batches builds the expressions once.

    Only the checks at the indices in ``emit`` are exploded; the array
    (and an observed summary reading it) covers all of ``failing``'s
    checks.

    With ``element``, the rows are elements of that array column with
    their index in :data:`ELEMENT_INDEX`: addresses get the segment
    ``.<element>[<i>]``, checks and columns the prefix ``<element>[].``."""

    def __init__(
        self,
        failing: _FailingChecks,
        emit: Sequence[int],
        table_name: str,
        row_key: Optional[Union[str, list]],
        partition: Optional[str],
        element: Optional[str] = None,
    ):
        self.checks = failing.checks
        self.emit_checks = [self.checks[i] for i in emit]

        # with no key, a positional id stands in for the reference's [i]
        key_col = F.monotonically_increasing_id() if row_key is None else row_key_text(row_key)
        part_col = F.col(partition).cast("string") if partition else F.lit(None).cast("string")
        fails = F.col(_FAILS)
        if len(emit) < len(self.checks):
            fails = F.filter(fails, lambda i: i.isin(*emit))
        # No explicit pre-filter on size(_v): explode (non-outer) already
        # drops empty arrays. Catalyst's InferFiltersFromGenerate would add
        # a size(_v) > 0 Filter that DUPLICATES the array expression on
        # every row (13× measured with interpreted variant checks) — the
        # rule is excluded session-wide (session.exclude_infer_filters).
        # Every input column rides through the explode for the instances,
        # which may read any of them; Catalyst prunes the Generate down to
        # the columns the payload reads, so the rest never leave the scan.
        self._exploded = [
            key_col.cast("string").alias(_KEY),
            part_col.alias(_PART),
            "*",
            F.explode(fails).alias(_CI),
        ]

        # All payload — jsonpath, constants, the instance value — is
        # resolved AFTER the explode, i.e. on violating rows only. The
        # previous shape (full payload structs inside the array)
        # re-evaluated 15 jsonpath concats + 15 instance expressions +
        # any staging when-chains per row inside one giant interpreted
        # expression (variant checks disable codegen): q38 measured
        # 14.2 s per execution vs ~2 s with this emission at sf0.1.
        idx = F.col(_CI) + 1  # element_at is 1-based

        def const(fn) -> Column:
            """Per-check constant via literal-array lookup (one
            expression, no N-branch CASE)."""
            return F.element_at(F.array(*[F.lit(fn(ck)) for ck in self.checks]), idx)

        segment = [f".{element}[", F.col(ELEMENT_INDEX).cast("string"), "]"] if element else []
        prefix = f"{element}[]." if element else ""
        # ONE flat CaseWhen (when().when()...), never nested otherwise() —
        # nesting would embed the whole previous chain per branch: O(N²)
        # expression size, measured 90 s vs ~3 s on the 29-check q07
        instance: Optional[Column] = None
        for i in emit:
            branch = (F.col(_CI) == i, self.checks[i].instance.cast("string"))
            instance = F.when(*branch) if instance is None else instance.when(*branch)
        self._payload = violation_columns(
            # the address suffix is precomputed per check, so table-level
            # checks (column None) get none
            jsonpath=violation_address(table_name, F.col(_KEY), *segment, const(_column_suffix)),
            type=const(lambda ck: ck.issue_type),
            message=const(lambda ck: ck.message),
            instance=instance.otherwise(F.lit(None).cast("string")),
            check=const(lambda ck: prefix + ck.name),
            column=const(lambda ck: ck.column and prefix + ck.column),
            row_key=F.col(_KEY),
            partition=F.col(_PART),
        )

    def violations(self, framed: DataFrame) -> DataFrame:
        """Violation rows (VIOLATION_FULL_SCHEMA) of a
        :meth:`_FailingChecks.frame`.

        The post-explode payload may read ANY input column (cross-column
        invariants, column=None checks — the full compile_invariant
        contract). An instance that reads a column ``framed`` lacks is
        rejected here, with the check named."""
        exploded = framed.select(*self._exploded)
        try:
            return exploded.select(*self._payload)
        except AnalysisException:
            for ck in self.emit_checks:
                try:
                    framed.select(ck.instance)
                except AnalysisException as e:
                    raise ValueError(
                        f"check {ck.name!r}: instance expression does not "
                        f"resolve against the input columns {framed.columns}: {e}"
                    ) from e
            raise


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
        return df.sparkSession.createDataFrame([], schema=VIOLATION_FULL_SCHEMA)
    failing = _FailingChecks(checks)
    branch = _FusedBranch(failing, range(len(checks)), table_name, row_key, partition)
    return branch.violations(failing.frame(df))


def _column_suffix(ck: CompiledCheck) -> str:
    """The address suffix after ``$.<table>[<row key>]``: ``.<column>``,
    or nothing for a table-level check."""
    return f".{ck.column}" if ck.column else ""


def summary_plan(
    df: DataFrame,
    checks: Sequence[CompiledCheck],
    partition: Optional[str] = None,
) -> DataFrame:
    """Per-partition pass/fail matrix in one agg pass.

    Output: (partition, n_rows, check, column, type, fail_count, passed)
    — long form, one row per (partition, check); no partition column
    without ``partition``. The counts are
    :meth:`_FailingChecks.matrix` of the failing-check array.
    """
    return _FailingChecks(checks).summary(df, partition)


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
    kept = _kept_by_exclusions(exclusions)
    return violations if kept is None else violations.where(kept)


def _kept_by_exclusions(exclusions: Sequence[Exclusion]) -> Optional[Column]:
    """The predicate on violation rows that no exclusion matches; None
    when no exclusion can match anything."""
    conds: list[Column] = []
    for ex in exclusions:
        if ex.is_empty():
            continue
        sub: list[Column] = []
        if ex.jsonpath is not None:
            sub.append(F.col("jsonpath").rlike(address_regex(ex.jsonpath)))
        if ex.type is not None:
            sub.append(F.col("type") == ex.type)
        conds.append(reduce(Column.__and__, sub))
    return ~reduce(Column.__or__, conds) if conds else None


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
        address = violation_address(table_name, _ANY_ROW, _column_suffix(ck))
        return any(
            (t is None or t == ck.issue_type)
            and (p is None or p.match(address) is not None)
            for t, p in covering
        )

    return [ck for ck in checks if not covered(ck)]


def cap_examples(violations: DataFrame, max_per_check: int) -> DataFrame:
    """Deterministically cap persisted example rows per (check, partition).

    Window row_number over (check, partition) ordered by jsonpath — used
    only for the persisted-examples sink; summaries never pass through
    this (SURVEY §4 short-circuit note).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("check", "partition").orderBy("jsonpath")
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
    branch: :attr:`_FailingChecks.aggs`, collected by whichever action
    first executes the violations. The counts read the failing-check
    array, not the ``ok`` predicates, which would evaluate every check a
    second time per row."""

    def __init__(self, failing: _FailingChecks, framed: DataFrame):
        from pyspark.sql import Observation

        self.checks = failing.checks
        self.spark = framed.sparkSession
        # an Observation serves one DataFrame: a fresh one per frame
        self.observation = Observation()
        self.observed = framed.observe(self.observation, *failing.aggs)

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
    #: data-plane violation rows (full schema), deduplicated and in the
    #: reference's canonical ``(jsonpath, type, message)`` order
    violations: DataFrame
    #: builds the :func:`summary_plan` frame (a rescan of the table)
    _summary_plan: Callable[[], DataFrame] = dc_field(repr=False)
    _observed: Optional[_ObservedSummary] = dc_field(default=None, repr=False)
    _summary: Optional[DataFrame] = dc_field(default=None, repr=False)
    _n_violations: Optional[int] = dc_field(default=None, repr=False)
    _unordered: Optional[DataFrame] = dc_field(default=None, repr=False)

    @property
    def unordered_violations(self) -> DataFrame:
        """The rows of :attr:`violations` without the canonical order,
        for sinks: a write partitioned by ``type`` does not keep the
        order anyway, and the global sort costs a range-partition sample
        job and an exchange. Showing or collecting rows goes through
        :attr:`violations`."""
        return self.violations if self._unordered is None else self._unordered

    @property
    def summary(self) -> DataFrame:
        """Pass/fail matrix: one row per (partition, check) with
        ``n_rows``, ``fail_count`` and ``passed`` — the values and schema
        of :func:`summary_plan`, ordered by partition, then check.

        Unpartitioned, it comes from the metrics the first action on
        :attr:`violations` (or :attr:`unordered_violations`) observed: a
        small local frame, no rescan. Before that action, when it
        completed without every metric, and for specs with
        ``partitionBy`` (an observation cannot group) it is
        :func:`summary_plan`, built lazily on access."""
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
            self._n_violations = self.unordered_violations.count()
        return self._n_violations

    def passed(self) -> bool:
        """True iff no spec issues and no data violations. Reuses
        :meth:`violation_count` once it ran; otherwise one ``isEmpty``
        job."""
        if self.spec_issues:
            return False
        if self._n_violations is not None:
            return self._n_violations == 0
        return self.unordered_violations.isEmpty()


class ValidationPlan:
    """The compile step of :func:`check_table`: everything about a
    validation that does not depend on the rows, for one (spec, input
    schema, config, dims, extra checks). :meth:`apply` binds it to a
    frame of that schema and only builds DataFrames, so a stream
    compiles once and binds every micro-batch
    (:func:`~..streaming.checks.foreach_batch_validator`).

    Held: the spec-level issues; the compiled, runnable and
    exclusion-pruned checks with the row key and partition; the
    uniqueness and foreign-key checks that run; and every Column
    expression of the fused branch (failing-check array, observed
    aggregates, literal lookup arrays, instance ``CaseWhen``) and of the
    exclusion filter. Nothing is kept per frame. Under ``config.strict``
    the spec is compiled as :func:`~..spec.strictify` rewrites it and the
    table name is checked (:func:`~..spec.strict_spec_issues`): this is
    the one place strict mode is applied.

    A streaming frame cannot be validated here: the dedup window and the
    observed summary need a batch frame (a stream goes through
    :func:`~..streaming.checks.foreach_batch_validator`)."""

    def __init__(
        self,
        df: DataFrame,
        spec: TableSpec,
        config: Optional[CheckConfig] = None,
        dims: Optional[dict[str, DataFrame]] = None,
        extra_checks: Optional[list[CompiledCheck]] = None,
    ):
        from ..compile import compile_table_checks, schema_conforms
        from ..extensions import compile_extensions
        from ..spec import strict_spec_issues, strictify, validate_spec, validate_spec_against

        config = config or CheckConfig()
        dims = dims or {}
        if config.strict:
            spec = strictify(spec)
        self.spec, self.config = spec, config
        self.schema = df.schema

        actual_cols = set(self.schema.fieldNames())
        pk_present = [k for k in spec.primary_key if k in actual_cols]
        row_key: Optional[Union[str, list]]
        if len(pk_present) == 1:
            row_key = pk_present[0]
        elif pk_present:
            row_key = pk_present
        else:
            row_key = None
        self.row_key = row_key

        spec_issues = list(validate_spec(spec, version=config.version))
        spec_issues.extend(schema_conforms(df, spec))
        if config.strict:
            spec_issues.extend(strict_spec_issues(spec))

        # extra_checks accepts CompiledCheck objects AND raw extension
        # objects (CustomCheck/RequiredCheck — ref check(extensions=...),
        # check.py:250); those and config.extensions compile here against
        # the physical schema so jsonpath targets resolve.
        extra = compile_extensions(
            [*(extra_checks or ()), *config.extensions], schema=self.schema
        )
        checks = compile_table_checks(spec, extra=extra, schema=self.schema)
        # dotted column paths (nested RequiredCheck targets) are runnable
        # when their ROOT column exists
        runnable = [
            c
            for c in checks
            if c.column is None or c.column.split(".", 1)[0] in actual_cols
        ]
        self.partition = spec.partition_by[0] if spec.partition_by else None

        #: the failing-check array covers ALL runnable checks: every fail
        #: count of the summary reads it
        self.failing = _FailingChecks(runnable)
        # plan pruning: checks whose every violation a type/whole-column
        # exclusion would drop are never exploded (U4 pushdown)
        keep = {id(ck) for ck in prune_excluded_checks(runnable, config.exclusions, spec.name)}
        emit = [i for i, ck in enumerate(runnable) if id(ck) in keep]
        self.branch = (
            _FusedBranch(self.failing, emit, spec.name, row_key, self.partition) if emit else None
        )

        # Gate (R1, ref check.py:330-337): skip data-level key checks whose
        # declaration is itself broken.
        bad_paths = {i.jsonpath for i in spec_issues}
        self.unique_keys: list[list[str]] = []
        pk_ok = spec.primary_key and not any("primaryKey" in p for p in bad_paths)
        if pk_ok and all(k in actual_cols for k in spec.primary_key):
            self.unique_keys.append(list(spec.primary_key))
        for cols in spec.unique_keys:
            if all(k in actual_cols for k in cols):
                self.unique_keys.append(list(cols))
        for fs in spec.fields:
            if fs.constraints.unique and fs.name in actual_cols and (fs.name,) != spec.primary_key:
                self.unique_keys.append([fs.name])

        #: (fk, destination frame or None for the validated frame itself)
        self.foreign_keys: list[tuple] = []
        for j, fk in enumerate(spec.foreign_keys):
            if any(f"foreignKeys[{j}]" in p for p in bad_paths):
                continue
            if not fk.reference_resource:
                self.foreign_keys.append((fk, None))
                continue
            dest_df = dims.get(fk.reference_resource)
            if dest_df is None:
                continue
            # declaration-level cross-resource check needs the dest spec;
            # here dims are DataFrames so only existence was checkable —
            # field existence validated against the DataFrame columns.
            if any(c not in dest_df.columns for c in fk.reference_fields):
                spec_issues.extend(
                    validate_spec_against(
                        spec,
                        {fk.reference_resource: TableSpec(name=fk.reference_resource, fields=tuple())},
                    )
                )
                continue
            self.foreign_keys.append((fk, dest_df))

        self.spec_issues = finalize_issues(spec_issues)
        self.kept = _kept_by_exclusions(config.exclusions)

    def matches(self, df: DataFrame) -> bool:
        """True when ``df`` has the schema this plan was compiled for."""
        return df.schema == self.schema

    def apply(self, df: DataFrame) -> ValidationResult:
        """Bind the plan to ``df``: builds the violation and summary
        frames, runs nothing. Each call observes with a fresh
        ``Observation``."""
        from ..operators.dedup import _spread
        from ..operators.referential import referential_violations
        from ..operators.uniqueness import uniqueness_violations

        spec, row_key, partition = self.spec, self.row_key, self.partition
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

        observed = None
        if self.branch is None:
            v = df.sparkSession.createDataFrame([], schema=VIOLATION_FULL_SCHEMA)
        else:
            framed = self.failing.frame(df)
            if partition is None:  # an observation cannot group
                observed = _ObservedSummary(self.failing, framed)
                framed = observed.observed
            v = self.branch.violations(framed)
        parts = [v]
        for keys in self.unique_keys:
            parts.append(uniqueness_violations(df, keys, spec.name))
        for fk, dest_df in self.foreign_keys:
            parts.append(
                referential_violations(
                    df,
                    df if dest_df is None else dest_df,
                    list(fk.fields),
                    list(fk.reference_fields),
                    spec.name,
                    fk.reference_resource or spec.name,
                    row_key=row_key,
                    partition=partition,
                )
            )
        all_v = reduce(DataFrame.unionByName, parts)
        if self.kept is not None:
            all_v = all_v.where(self.kept)
        if self.config.max_examples_per_check:
            all_v = cap_examples(all_v, self.config.max_examples_per_check)
        unordered = dedup_violations(all_v)

        failing = self.failing
        return ValidationResult(
            spec_issues=list(self.spec_issues),
            violations=order_violations(unordered),
            _summary_plan=lambda: failing.summary(df, partition).orderBy(
                *(["partition"] if partition else []), "check"
            ),
            _observed=observed,
            _unordered=unordered,
        )


def check_table(
    df: DataFrame,
    spec: TableSpec,
    config: Optional[CheckConfig] = None,
    dims: Optional[dict[str, DataFrame]] = None,
    extra_checks: Optional[list[CompiledCheck]] = None,
) -> ValidationResult:
    """Full validation lifecycle — the engine's ``check()`` analog:
    :class:`ValidationPlan` compiled for ``df``'s schema, then applied to
    ``df``.

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
    return ValidationPlan(df, spec, config=config, dims=dims, extra_checks=extra_checks).apply(df)
