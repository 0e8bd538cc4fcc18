"""End-to-end validation tests — the reference's test pattern
(mutate-one-field-from-valid, assert exact violations; SURVEY.md §5)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark import (
    CheckConfig,
    Exclusion,
    check_table,
)
from check_datapackage_spark.fixtures import (
    allowed_sources_df,
    sequences_df,
    sequences_spec,
    sequences_with_violations,
    token_invariant_checks,
)

N = 200


@pytest.fixture(scope="module")
def valid_df(spark):
    return sequences_df(spark, N).cache()


@pytest.fixture(scope="module")
def bad(spark):
    df, inj = sequences_with_violations(spark, N)
    return df.cache(), inj


def run_check(spark, df, dims=None, config=None):
    return check_table(
        df.drop("_row"),
        sequences_spec(),
        config=config,
        dims=dims or {"allowed_sources": allowed_sources_df(spark)},
        extra_checks=token_invariant_checks(),
    )


def test_valid_table_passes(spark, valid_df):
    res = run_check(spark, valid_df)
    assert res.spec_issues == []
    assert res.violations.count() == 0
    summ = res.summary.collect()
    assert all(r["passed"] for r in summ)
    assert sum(r["fail_count"] for r in summ) == 0


def test_all_injected_violations_detected(spark, bad):
    df, inj = bad
    res = run_check(spark, df)
    rows = res.violations.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["type"], []).append(r)

    # C1 required: doc_id null at row 10, source null at row 20
    req = {(r["column"], r["instance"]) for r in by_type["required"]}
    assert ("doc_id", None) in req
    assert ("source", None) in req

    # C4 pattern: BAD-ID
    assert any(r["instance"] == "BAD-ID" for r in by_type["pattern"])

    # C6 range on n_tok
    assert any(r["instance"] == "0" for r in by_type["minimum"])
    assert any(r["instance"] == "2049" for r in by_type["maximum"])

    # token-array invariant: size mismatch at rows 70 (and 50/60 via n_tok edit)
    length_rows = {r["row_key"] for r in by_type["length"]}
    assert "doc-%012d" % 70 in length_rows

    # token element violations at rows 80 (range) and 85 (null)
    elem = [r for r in by_type["type"] if r["check"] == "tokens.element_range"]
    elem_rows = {r["row_key"] for r in elem}
    assert "doc-%012d" % 80 in elem_rows
    assert "doc-%012d" % 85 in elem_rows

    # C11 uniqueness: doc-…90 duplicated
    uniq = by_type["unique"]
    assert len(uniq) == 1 and uniq[0]["instance"] == "doc-%012d" % 90

    # R5 referential: src-UNKNOWN
    fk = by_type["foreign-key"]
    assert any(r["instance"] == "src-UNKNOWN" for r in fk)


def test_violation_rows_are_exact(spark, bad):
    """No false positives: every violating row_key is an injected one."""
    df, inj = bad
    res = run_check(spark, df)
    rows = res.violations.collect()
    injected = set()
    for ids in inj.rows.values():
        injected.update(ids)
    expected_keys = {"doc-%012d" % i for i in injected} | {None, "src-UNKNOWN"}
    for r in rows:
        key = r["row_key"]
        if key is not None and key.startswith("doc-"):
            assert key in expected_keys, f"false positive at {key}: {r}"
    # exact count: rows 10,20,30,40,70 → 1 each; rows 50,60 → 2 each
    # (range + size-invariant); rows 80,85 → 2 each (element + size);
    # rows 90+91 collapse into one unique violation. Total 14.
    assert len(rows) == 14, [
        (r["type"], r["check"], r["row_key"]) for r in rows
    ]


def test_summary_matrix(spark, bad):
    df, _ = bad
    res = run_check(spark, df)
    summ = res.summary.collect()
    failing = {r["check"] for r in summ if not r["passed"]}
    assert "doc_id.required" in failing
    assert "doc_id.pattern" in failing
    assert "n_tok.minimum" in failing
    assert "n_tok.maximum" in failing
    assert "tokens.size_eq_n_tok" in failing
    assert "tokens.element_range" in failing
    # n_rows sums to the table size across partitions for any one check
    assert (
        sum(r["n_rows"] for r in summ if r["check"] == "doc_id.required") == N
    )


def test_exclusions_filter(spark, bad):
    df, _ = bad
    cfg = CheckConfig(exclusions=(Exclusion(type="pattern"),))
    res = run_check(spark, df, config=cfg)
    assert res.violations.where(F.col("type") == "pattern").count() == 0
    # other types unaffected
    assert res.violations.where(F.col("type") == "required").count() == 2


def test_exclusion_wildcard_jsonpath(spark, bad):
    df, _ = bad
    cfg = CheckConfig(exclusions=(Exclusion(jsonpath="$.sequences[*].n_tok"),))
    res = run_check(spark, df, config=cfg)
    assert res.violations.where(F.col("column") == "n_tok").count() == 0
    assert res.violations.where(F.col("type") == "pattern").count() == 1


def test_empty_exclusion_matches_nothing(spark, bad):
    df, _ = bad
    base = run_check(spark, df).violations.count()
    cfg = CheckConfig(exclusions=(Exclusion(),))
    assert run_check(spark, df, config=cfg).violations.count() == base


def test_single_scan_plan(spark, valid_df):
    """The fused row-level plan must touch the table exactly once
    (SURVEY §4 'single-pass fusion' — asserted on the physical plan)."""
    from check_datapackage_spark import compile_table_checks, violations_plan

    base = valid_df.drop("_row")
    checks = compile_table_checks(
        sequences_spec(), extra=token_invariant_checks(), schema=base.schema
    )
    v = violations_plan(base, checks, "sequences", row_key="doc_id")
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1, plan


def test_exclusion_prunes_check_from_plan(spark, bad):
    """U4 pushdown: a type-level exclusion removes the check from the
    violations plan entirely — the pattern literal disappears from the
    physical plan, not just from the output."""
    from check_datapackage_spark.plans.validation import prune_excluded_checks
    from check_datapackage_spark.compile import compile_table_checks

    df, _ = bad
    base = df.drop("_row")
    checks = compile_table_checks(sequences_spec(), schema=base.schema)
    pruned = prune_excluded_checks(checks, (Exclusion(type="pattern"),), "sequences")
    assert {c.name for c in checks} - {c.name for c in pruned} == {"doc_id.pattern"}

    # whole-column pattern prunes every check on that column
    pruned2 = prune_excluded_checks(
        checks, (Exclusion(jsonpath="$.sequences[*].n_tok"),), "sequences"
    )
    dropped = {c.name for c in checks} - {c.name for c in pruned2}
    assert dropped == {"n_tok.minimum", "n_tok.maximum"}

    # row-specific path prunes nothing (post-filter handles it)
    pruned3 = prune_excluded_checks(
        checks, (Exclusion(jsonpath="$.sequences[doc-0].n_tok"),), "sequences"
    )
    assert len(pruned3) == len(checks)

    # end-to-end: results identical to post-filtering
    cfg = CheckConfig(exclusions=(Exclusion(type="pattern"),))
    res = run_check(spark, df, config=cfg)
    assert res.violations.where(F.col("type") == "pattern").count() == 0
    assert res.violations.where(F.col("type") == "required").count() == 2


# ---------------------------------------------------------------------------
# Observed summary: without partitionBy, the summary is read from metrics
# observed while the violations execute, and must equal summary_plan.
# ---------------------------------------------------------------------------


def _flat_spec():
    import dataclasses

    return dataclasses.replace(sequences_spec(), partition_by=())


def _flat_check(spark, df, config=None):
    return check_table(
        df,
        _flat_spec(),
        config=config,
        dims={"allowed_sources": allowed_sources_df(spark)},
        extra_checks=token_invariant_checks(),
    )


def _plan_summary(df):
    from check_datapackage_spark import compile_table_checks, summary_plan

    checks = compile_table_checks(
        _flat_spec(), extra=token_invariant_checks(), schema=df.schema
    )
    return summary_plan(df, checks)


def _assert_observed_equals_plan(res, df):
    assert res._observed.frame() is not None  # the observed path was taken
    got, ref = res.summary, _plan_summary(df)
    assert got.schema == ref.schema
    by_check = lambda rows: sorted(rows, key=lambda r: r["check"])
    assert by_check(got.collect()) == by_check(ref.collect())


def test_observed_summary_equals_plan(spark, bad):
    df = bad[0].drop("_row")
    res = _flat_check(spark, df)
    assert res.violations.count() == 14
    _assert_observed_equals_plan(res, df)
    failing = {r["check"] for r in res.summary.collect() if not r["passed"]}
    assert {"doc_id.pattern", "tokens.size_eq_n_tok"} <= failing


def test_observed_summary_zero_violations(spark, valid_df):
    df = valid_df.drop("_row")
    res = _flat_check(spark, df)
    assert res.violations.count() == 0
    _assert_observed_equals_plan(res, df)
    assert all(r["passed"] for r in res.summary.collect())


def test_observed_summary_keeps_pruned_check(spark, bad):
    """An exclusion that prunes a check from the explode still reports
    it in the summary, with its fail count."""
    df = bad[0].drop("_row")
    cfg = CheckConfig(exclusions=(Exclusion(type="pattern"),))
    res = _flat_check(spark, df, config=cfg)
    types = {r["type"] for r in res.violations.collect()}
    assert "pattern" not in types and "required" in types
    _assert_observed_equals_plan(res, df)
    row = [r for r in res.summary.collect() if r["check"] == "doc_id.pattern"]
    assert [r["fail_count"] for r in row] == [1]


def test_partitioned_summary_keeps_pruned_check(spark, bad):
    """With partitionBy, an exclusion that prunes a check from the
    explode still leaves its fail count in every partition of the
    summary; the partitions add up to the flat observed summary, and the
    violations are the unexcluded run's without the excluded type."""
    from check_datapackage_spark import bind_check_lets, compile_table_checks

    df = bad[0].drop("_row")
    cfg = CheckConfig(exclusions=(Exclusion(type="pattern"),))
    res = run_check(spark, df, config=cfg)
    plain = run_check(spark, df)
    assert sorted(res.violations.collect(), key=str) == sorted(
        plain.violations.where(F.col("type") != "pattern").collect(), key=str
    )

    summary = res.summary.collect()
    checks = compile_table_checks(
        sequences_spec(), extra=token_invariant_checks(), schema=df.schema
    )
    [ck] = [c for c in checks if c.name == "doc_id.pattern"]
    recount = {
        r["source"]: r["count"]
        for r in bind_check_lets(df, checks).where(~ck.ok).groupBy("source").count().collect()
    }
    got = {r["partition"]: r["fail_count"] for r in summary if r["check"] == ck.name}
    assert got.keys() == {r["source"] for r in df.select("source").distinct().collect()}
    assert {p: n for p, n in got.items() if n} == recount and sum(recount.values()) > 0

    flat = _flat_check(spark, df, config=cfg)
    flat.violations.count()
    assert flat._observed.frame() is not None  # the observed path was taken
    totals: dict = {}
    for r in summary:
        n, f = totals.get(r["check"], (0, 0))
        totals[r["check"]] = (n + r["n_rows"], f + r["fail_count"])
    assert totals == {r["check"]: (r["n_rows"], r["fail_count"]) for r in flat.summary.collect()}


def test_observed_summary_after_is_empty(spark, bad):
    """A short-circuiting first action still observes every row: the
    dedup exchange runs the whole fused branch before any row is taken."""
    df = bad[0].drop("_row")
    res = _flat_check(spark, df)
    assert not res.violations.isEmpty()
    _assert_observed_equals_plan(res, df)


def test_summary_after_unit_summary_first_action(spark, bad):
    """When the violations first execute inside the resume ledger's
    unit_summary join, the summary still has summary_plan's values."""
    from check_datapackage_spark.operators.audit import unit_summary, with_bucket

    df = bad[0].drop("_row")
    res = _flat_check(spark, df)
    unit_summary(with_bucket(df, "doc_id", 4), res.violations).collect()
    by_check = lambda rows: sorted(rows, key=lambda r: r["check"])
    assert by_check(res.summary.collect()) == by_check(_plan_summary(df).collect())


def test_summary_before_any_action_is_plan(spark, bad):
    """Read before the violations ever execute, the summary is
    summary_plan's rescan; no observation is waited for."""
    df = bad[0].drop("_row")
    res = _flat_check(spark, df)
    by_check = lambda rows: sorted(rows, key=lambda r: r["check"])
    assert by_check(res.summary.collect()) == by_check(_plan_summary(df).collect())


def test_passed_reuses_violation_count(spark, valid_df):
    res = _flat_check(spark, valid_df.drop("_row"))
    assert res.violation_count() == 0
    res.violations = None  # passed() must not touch the plan again
    assert res.passed()


def test_violations_collect_in_canonical_order(spark, bad):
    """violations keep the reference's sorted(set(issues)) order
    (check.py:279); unordered_violations, what sinks get, holds the same
    rows."""
    df = bad[0].drop("_row")
    for res in (run_check(spark, df), _flat_check(spark, df)):
        rows = [tuple(r) for r in res.violations.collect()]
        keys = [r[:3] for r in rows]
        assert keys == sorted(keys) and len(set(keys)) == len(keys)
        assert sorted(rows, key=str) == sorted(
            (tuple(r) for r in res.unordered_violations.collect()), key=str
        )
        assert res.violation_count() == len(rows)


def test_summaries_with_a_quoted_field_name(spark):
    """Check names reach the summary unpivots as literals, never as SQL
    text: a field named ``it's`` used to fail with PARSE_SYNTAX_ERROR in
    the partitioned summary, the pre-action fallback summary and the
    windowed stream counts."""
    import dataclasses

    from check_datapackage_spark import TableSpec, compile_table_checks
    from check_datapackage_spark.streaming.checks import windowed_violation_counts

    df = spark.createDataFrame(
        [(1, -1, "a", "2024-01-01 00:00:00"), (2, 3, "b", "2024-01-01 00:01:00")],
        "id int, `it's` int, part string, ts string",
    )
    spec = TableSpec.from_dict(
        {
            "name": "t",
            "schema": {
                "fields": [
                    {"name": "id", "type": "integer"},
                    {"name": "it's", "type": "integer", "constraints": {"minimum": 0}},
                    {"name": "part", "type": "string"},
                ],
                "primaryKey": "id",
            },
            "partitionBy": "part",
        }
    )
    fails = lambda res: {
        (r["check"], r["fail_count"]) for r in res.summary.collect() if r["fail_count"]
    }
    partitioned = check_table(df, spec)
    assert fails(partitioned) == {("it's.minimum", 1)}
    flat = check_table(df, dataclasses.replace(spec, partition_by=()))
    assert fails(flat) == {("it's.minimum", 1)}  # before any action: summary_plan
    # both rows fall in one window: the windowed counts are the summary's
    checks = compile_table_checks(spec, schema=df.schema)
    counts = windowed_violation_counts(df, checks, ts_col="ts", window="1 hour").collect()
    assert sorted(r["check"] for r in counts) == sorted(ck.name for ck in checks)
    assert {(r["check"], r["fail_count"]) for r in counts if r["fail_count"]} == fails(flat)


# ---------------------------------------------------------------------------
# One address format across every emitter: fused, unique, foreign key, nested
# ---------------------------------------------------------------------------

#: row keys "", "a]b", "c\" and NULL, each on two rows (a duplicated
#: primary key and ``u`` value); every row fails ``n >= 0``, has a
#: ``ref`` missing from the dimension and an element without a title
_ODD_KEYS = ["", "a]b", "c\\", None]
_MATRIX_SPEC = {
    "name": "t",
    "schema": {
        "fields": [
            {"name": "id", "type": "string"},
            {"name": "n", "type": "integer", "constraints": {"minimum": 0}},
            {"name": "u", "type": "string", "constraints": {"unique": True}},
            {"name": "ref", "type": "string"},
        ],
        "primaryKey": "id",
        "foreignKeys": [
            {"fields": "ref", "reference": {"resource": "d", "fields": "code"}}
        ],
    },
}
_ELEMENT_SPEC = {
    "name": "t",
    "schema": {
        "fields": [{"name": "title", "type": "string", "constraints": {"required": True}}]
    },
}
#: the address of each emitter's violation on one row, by row key
_ADDRESSES = {
    "n.minimum": "$.t[{}].n",
    "id.unique": "$.t[{}].id",
    "u.unique": "$.t[{}].u",
    "ref.foreign-key": "$.t[{}].ref",
    "contributors[].title.required": "$.t[{}].contributors[0].title",
}


@pytest.fixture(scope="module")
def odd_keys(spark):
    from check_datapackage_spark import TableSpec

    rows = [(k, -1, k, "zz", [{"title": None}]) for k in _ODD_KEYS for _ in range(2)]
    df = spark.createDataFrame(
        rows,
        "id string, n int, u string, ref string, contributors array<struct<title:string>>",
    )
    dims = {"d": spark.createDataFrame([("ok",)], "code string")}
    return df, TableSpec.from_dict(_MATRIX_SPEC), dims


def _matrix_rows(df, spec, dims, config=None):
    from check_datapackage_spark.plans.nested import nested_violations
    from check_datapackage_spark.spec import TableSpec

    nested = nested_violations(
        df, "contributors", TableSpec.from_dict(_ELEMENT_SPEC), "t", row_key="id"
    )
    res = check_table(df, spec, config=config, dims=dims)
    return res.violations.collect() + nested.collect()


def test_every_emitter_writes_one_address_format(spark, odd_keys):
    """Odd and NULL row keys get the same escaped address from the fused,
    unique, foreign-key and nested rows (NULL is ``?``); no address is
    NULL, and ``[*]`` and ``..`` select every one of them."""
    from check_datapackage_spark.jsonpath import address_regex

    rows = _matrix_rows(*odd_keys)
    assert all(r["jsonpath"] is not None for r in rows)
    escaped = ["", "a\\]b", "c\\\\", "?"]
    got = {(r["check"], r["jsonpath"]) for r in rows}
    for check, template in _ADDRESSES.items():
        for key in escaped:
            assert (check, template.format(key)) in got, (check, key)
    for r in rows:
        column = r["column"].split(".")[-1]
        wildcard = template_of(r["jsonpath"]).replace("[0]", "[*]")
        assert re.match(address_regex(wildcard), r["jsonpath"]), r["jsonpath"]
        assert re.match(address_regex(f"..{column}"), r["jsonpath"]), r["jsonpath"]


def template_of(address: str) -> str:
    """``$.t[*]<suffix>`` for a ``$.t[<key>]<suffix>`` address."""
    suffix = re.sub(r"^\$\.t\[(?:[^\]\\]|\\.)*\]", "", address)
    return "$.t[*]" + suffix


def test_nested_violations_without_row_key_address_each_row(spark, odd_keys):
    """With no row key, a positional id taken before the explode gives
    each input row its own address, so the Issue dedup keeps them all."""
    from check_datapackage_spark.issue import dedup_violations
    from check_datapackage_spark.plans.nested import nested_violations
    from check_datapackage_spark.spec import TableSpec

    df = odd_keys[0]
    v = nested_violations(df, "contributors", TableSpec.from_dict(_ELEMENT_SPEC), "t")
    addresses = [r["jsonpath"] for r in dedup_violations(v).collect()]
    assert len(addresses) == df.count() == len(set(addresses))
    assert all(a.endswith("].contributors[0].title") for a in addresses)


def test_unrelated_exclusion_keeps_null_key_foreign_key_row(spark, odd_keys):
    """An exclusion naming another column keeps the FK violation of the
    row whose primary key is NULL."""
    df, spec, dims = odd_keys
    ex = CheckConfig(exclusions=(Exclusion(jsonpath="$.t[*].doc_id"),))
    got = {r["jsonpath"] for r in check_table(df, spec, config=ex, dims=dims).violations.collect()}
    assert "$.t[?].ref" in got
    assert {a for a in got if a.endswith(".ref")} == {
        "$.t[].ref", "$.t[a\\]b].ref", "$.t[c\\\\].ref", "$.t[?].ref"
    }


def _invariant_table(spark):
    """Rows (id, n, note, _k, _p, _ci) with table columns named like the
    fused branch's old working columns."""
    return spark.createDataFrame(
        [(1, 5, "a", 1, "x", 0), (2, -1, "b", -7, "y", 1), (3, -2, "c", 3, "z", -4)],
        "id int, n int, note string, _k int, _p string, _ci int",
    )


def test_table_columns_named_like_branch_columns(spark):
    """Columns ``_k``, ``_p`` and ``_ci`` are ordinary table columns:
    instances read them and the fields on them validate."""
    from check_datapackage_spark import TableSpec
    from check_datapackage_spark.compile import compile_invariant

    spec = TableSpec.from_dict({"name": "t", "schema": {"primaryKey": "id", "fields": [
        {"name": "id", "type": "integer"},
        {"name": "_ci", "type": "integer", "constraints": {"minimum": 0}}]}})
    k_positive = compile_invariant(
        name="_k.positive", ok=F.col("_k") > 0, issue_type="minimum",
        message="_k must be positive", column="_k",
        instance=F.concat_ws(":", F.col("_k"), F.col("_p")),
    )
    rows = check_table(_invariant_table(spark), spec, extra_checks=[k_positive]).violations
    got = {(r["jsonpath"], r["check"], r["instance"]) for r in rows.collect()}
    assert got == {
        ("$.t[2]._k", "_k.positive", "-7:y"),
        ("$.t[3]._ci", "_ci.minimum", "-4"),
    }


def test_invariant_instance_reads_another_column(spark):
    """An invariant's instance may read a column other than its own."""
    from check_datapackage_spark import TableSpec
    from check_datapackage_spark.compile import compile_invariant

    spec = TableSpec.from_dict({"name": "t", "schema": {
        "primaryKey": "id", "fields": [{"name": "id", "type": "integer"}]}})
    check = compile_invariant(
        name="n.nonneg", ok=F.col("n") >= 0, issue_type="minimum",
        message="n must be >= 0", column="n", instance=F.col("note"),
    )
    rows = check_table(_invariant_table(spark), spec, extra_checks=[check]).violations
    assert [(r["jsonpath"], r["instance"]) for r in rows.collect()] == [
        ("$.t[2].n", "b"), ("$.t[3].n", "c")
    ]


def test_instance_of_absent_column_names_the_check(spark):
    """An instance that reads a column the table lacks fails when the
    plan is built, with the check named."""
    from check_datapackage_spark import TableSpec
    from check_datapackage_spark.compile import compile_invariant

    spec = TableSpec.from_dict({"name": "t", "schema": {
        "primaryKey": "id", "fields": [{"name": "id", "type": "integer"}]}})
    check = compile_invariant(
        name="n.nonneg", ok=F.col("n") >= 0, issue_type="minimum",
        message="n must be >= 0", column="n", instance=F.col("absent"),
    )
    with pytest.raises(ValueError, match="'n.nonneg'.*does not resolve"):
        check_table(_invariant_table(spark), spec, extra_checks=[check])


def test_composite_key_null_parts_keep_rows_apart(spark):
    """A NULL part of a composite row key is written ``?``, so keys that
    differ only in where the NULL sits keep distinct addresses."""
    from check_datapackage_spark import TableSpec

    spec = TableSpec.from_dict({"name": "t", "schema": {"primaryKey": ["a", "b"], "fields": [
        {"name": "a", "type": "string"}, {"name": "b", "type": "string"},
        {"name": "n", "type": "integer", "constraints": {"minimum": 0}}]}})
    df = spark.createDataFrame(
        [(None, "x", -1), ("x", None, -2), ("x", "y", -3)], "a string, b string, n int"
    )
    rows = check_table(df, spec).violations.where(F.col("type") == "minimum").collect()
    assert [(r["jsonpath"], r["instance"], r["row_key"]) for r in rows] == [
        ("$.t[?|x].n", "-1", "?|x"),
        ("$.t[x|?].n", "-2", "x|?"),
        ("$.t[x|y].n", "-3", "x|y"),
    ]


def test_duplicate_key_survivor_ignores_layout(spark):
    """Two rows share an address and an Issue key; the surviving row's
    ``instance`` is the same under every partitioning and row order."""
    from check_datapackage_spark import TableSpec

    spec = TableSpec.from_dict({"name": "t", "schema": {"primaryKey": ["a"], "fields": [
        {"name": "a", "type": "string"},
        {"name": "n", "type": "integer", "constraints": {"minimum": 0}}]}})
    rows = [("a", -1), ("a", -2)]
    seen = set()
    for parts in (1, 4):
        for order in (rows, rows[::-1]):
            df = spark.createDataFrame(
                spark.sparkContext.parallelize(order, parts), "a string, n int"
            )
            got = check_table(df, spec).violations.where(F.col("type") == "minimum")
            seen.update(r["instance"] for r in got.collect())
    assert len(seen) == 1, seen
