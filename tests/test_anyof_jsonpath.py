"""G7 anyOf-required analog + P4 jsonpath syntax validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.compile import compile_any_of_required
from check_datapackage_spark.plans.validation import violations_plan
from check_datapackage_spark.spec import CheckConfig, Exclusion, SpecTypeError, is_jsonpath


def test_any_of_required(spark):
    # ref _handle_licenses (check.py:878-898): at least one of name/path
    df = spark.createDataFrame(
        [(1, "n", None), (2, None, "p"), (3, None, None), (4, "n", "p")],
        "id int, name string, path string",
    )
    ck = compile_any_of_required(["name", "path"])
    v = violations_plan(df, [ck], "licenses", row_key="id").collect()
    assert len(v) == 1
    assert v[0]["type"] == "anyOf"
    assert v[0]["message"] == "must have at least one of: `name`, `path`"
    assert v[0]["row_key"] == "3"


@pytest.mark.parametrize(
    "path,ok",
    [
        ("$.a.b", True),
        ("$.resources[*].name", True),
        ("$", True),
        ("a.b", True),  # relative paths allowed (ref test_exclusion.py:93)
        ("..path", True),  # recursive descent
        ("", False),
        ("$.a[0", False),  # unbalanced
        ("$.a & $.b", False),  # ref internals.py:49-67: '&' rejected
    ],
)
def test_is_jsonpath(path, ok):
    assert is_jsonpath(path) is ok


def test_exclusion_validates_jsonpath_at_build():
    # ref internals.py:70: validation happens at config-build time
    with pytest.raises(SpecTypeError, match="invalid jsonpath"):
        Exclusion(jsonpath="$.a & $.b")  # intersection operator banned
    Exclusion(jsonpath="$.t[*].col")  # valid builds fine
    Exclusion(jsonpath="not-a-path")  # relative paths are valid (ref)


# --- exclusion wildcard-path matrix ------------------------------------------
# Adapted from the reference's 16-case table (tests/test_exclusion.py:87-121)
# to data-plane addresses: exact match, * = one name, [*] = any index,
# .. = any depth, relative path = any depth.

PATHS = [
    "$.t[doc-1].n_tok",
    "$.t[doc-2].n_tok",
    "$.t[doc-1].source",
    "$.t[doc-1].tokens[3].v",
]


@pytest.mark.parametrize(
    "pattern,n_excluded",
    [
        ("$", 0),  # root matches nothing (ref: ('$', 3 remaining))
        ("..*", 4),  # everything (ref: ('..*', 0 remaining))
        ("$.t[*].n_tok", 2),
        ("$.t[doc-1].n_tok", 1),
        ("n_tok", 2),  # relative = any depth (ref: ('created', ...))
        ("t[*].n_tok", 2),
        ("..n_tok", 2),
        ("..v", 1),
        ("$.t[doc-1].*", 2),  # one-name wildcard, not descendants
        ("$.t[*].tokens[*].v", 1),
        ("$.t[doc-9].n_tok", 0),
        ("tokens", 0),  # no issue exactly AT ...tokens (exact match)
        # quoted names and unions read like their dotted forms
        ("$.t[*]['n_tok']", 2),
        ('$.t[*]["n_tok"]', 2),
        ("$.t[*]['n_tok','source']", 3),
        ("$.t[*].n_tok | $.t[*].source", 3),
    ],
)
def test_exclusion_path_matrix(spark, pattern, n_excluded):
    from check_datapackage_spark.plans.validation import exclusion_filter

    df = spark.createDataFrame(
        [(p, "x", "m", None, "c", None, None, None) for p in PATHS],
        "jsonpath string, type string, message string, instance string,"
        " check string, column string, row_key string, partition string",
    )
    out = exclusion_filter(df, [Exclusion(jsonpath=pattern)])
    assert out.count() == len(PATHS) - n_excluded, pattern


@pytest.mark.parametrize(
    "pattern", ["$.t[0:2].n_tok", "$.t[1:].n_tok", "$.t[?(@.n_tok > 1)]"]
)
def test_exclusion_slice_or_filter_raises_at_build(pattern):
    """A form that cannot address a violation row must fail loudly at
    config-build time, never silently exclude nothing."""
    with pytest.raises(SpecTypeError, match="invalid jsonpath"):
        Exclusion(jsonpath=pattern)


def test_name_union_whole_column_exclusion_prunes_both_checks(spark):
    from check_datapackage_spark.compile import CompiledCheck
    from check_datapackage_spark.plans.validation import prune_excluded_checks

    def check(column):
        return CompiledCheck(
            name=f"{column}.minimum",
            column=column,
            issue_type="minimum",
            message="m",
            ok=F.col(column) >= 0,
            instance=F.col(column).cast("string"),
        )

    checks = [check("n_tok"), check("source"), check("other")]
    for pattern in (
        "$.t[*]['n_tok','source']",
        "$.t[*].n_tok | $.t[*].source",
        "..['n_tok','source']",
    ):
        kept = prune_excluded_checks(checks, [Exclusion(jsonpath=pattern)], "t")
        assert [c.column for c in kept] == ["other"], pattern
    # a row-specific union still needs the post-filter
    kept = prune_excluded_checks(
        checks, [Exclusion(jsonpath="$.t[doc-1]['n_tok','source']")], "t"
    )
    assert kept == checks


def test_unusual_row_keys_are_escaped_and_excluded(spark):
    """An empty row key or one holding ``]`` or a backslash gets an
    escaped address that ``[*]`` and ``..`` still select, so the same
    exclusion drops those rows whether it prunes the check (check_table)
    or only filters its output (exclusion_filter); ordinary keys keep
    their byte-identical address."""
    from check_datapackage_spark import TableSpec, check_table
    from check_datapackage_spark.plans.validation import exclusion_filter

    df = spark.createDataFrame(
        [("", -1), ("a]b", -2), ("c\\", -3), ("k1", -4), ("k2", 5)],
        "id string, n int",
    )
    spec = TableSpec.from_dict(
        {
            "name": "t",
            "schema": {
                "fields": [
                    {"name": "id", "type": "string"},
                    {"name": "n", "type": "integer", "constraints": {"minimum": 0}},
                ],
                "primaryKey": "id",
            },
        }
    )
    addresses = sorted(r["jsonpath"] for r in check_table(df, spec).violations.collect())
    assert addresses == ["$.t[].n", "$.t[a\\]b].n", "$.t[c\\\\].n", "$.t[k1].n"]

    from check_datapackage_spark.compile import compile_table_checks

    checks = compile_table_checks(spec, schema=df.schema)
    for pattern in ("$.t[*].n", "..n", "$.t[*].*"):
        ex = (Exclusion(jsonpath=pattern),)
        pruned = check_table(df, spec, config=CheckConfig(exclusions=ex))
        assert pruned.violations.collect() == [], pattern
        filtered = exclusion_filter(violations_plan(df, checks, "t", row_key="id"), ex)
        assert filtered.collect() == [], pattern
    # a row-key selector still picks out one ordinary row
    ex = (Exclusion(jsonpath="$.t[k1].n"),)
    left = check_table(df, spec, config=CheckConfig(exclusions=ex)).violations
    assert sorted(r["row_key"] for r in left.collect()) == ["", "a]b", "c\\"]
