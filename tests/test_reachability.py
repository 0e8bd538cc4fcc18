"""The package holds no def that neither a user path nor a listed reason
keeps: ``tools/reachability.py`` must report exactly the defs below.

A new def that no query, CLI path, public entry point, benchmark or tool
reaches fails this test. Either call it from a user path, or delete it,
or add it here with the reason it stays.
"""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: defs only tests call, each with the reason it stays
KEEP = {
    # public API that mirrors the reference or its describe side
    "compile.compile_one_of": "oneOf group check, exported; mirrors the reference's GROUP_ERRORS",
    "compile.compile_all_of": "allOf group check, exported; mirrors the reference's GROUP_ERRORS",
    "examples.example_field_properties": "mirrors the reference's example_* helpers",
    "examples.example_table_properties": "mirrors the reference's example_* helpers",
    "examples.example_table_spec": "mirrors the reference's example_* helpers",
    "examples.example_table": "mirrors the reference's example_* helpers",
    "extensions.CustomCheck": "the reference's custom-check extension point",
    "issue.finalize_violations": "exported sorted(set(issues)) analog of the reference's check()",
    "issue.issues_from_rows": "turns violation rows back into the reference's Issue objects",
    "spec.is_jsonpath": "mirrors the reference's jsonpath validity test",
    "plans.validation.exclusion_filter": "applies the reference's exclusions to a violation frame",
    "plans.validation.summary_plan": "exported pass/fail matrix of compiled checks over a frame",
    "plans.validation.bind_check_lets": "exported: adds the let columns a check's ok predicate reads",
    "plans.nested.nested_violations": "validates nested array-of-struct fields for library callers",
    "sources.registry.raise_on_violations": "the reference's check(error=True) exception channel",
    "operators.infer.suggest_spec": "describe side: infers a spec from data",
    "operators.diff.schema_diff": "describe side: compares two table schemas",
    # typed readers: the way CSV/JSONL data reaches check_table
    "sources.csv.cast_table": "cast stage shared by the typed CSV/JSONL readers",
    "sources.csv.read_csv_typed": "typed CSV reader for library callers",
    "sources.csv.read_csv_stream_typed": "typed CSV stream reader for library callers",
    "sources.csv.read_jsonl_typed": "typed JSONL reader for library callers",
    "sources.csv.read_jsonl_stream_typed": "typed JSONL stream reader for library callers",
    # streaming validation for library callers
    "streaming.checks.windowed_violation_counts": "watermarked per-window fail counts of the checks",
    # test references and helpers
    "operators.similarity.brute_force_topk": "exact top-k, the ground truth for ivf_topk's recall test",
    "fixtures.allowed_sources_df": "test fixture",
    "fixtures._source_expr": "test fixture helper",
    "fixtures.sequences_df": "test fixture",
    "fixtures.Injection": "test fixture",
    "fixtures.sequences_with_violations": "test fixture",
    "fixtures.sequences_spec": "test fixture",
    "fixtures.token_invariant_checks": "test fixture",
    "fixtures.sequences_df_fast": "test fixture",
    "operators.stats.minmax": "per-column summary the operator tests check against DuckDB",
    "operators.sampling.deterministic_sample": "stable hash sample the operator tests pin",
    "functions.geopoint_array_ok": "geopoint array predicate the type tests pin",
}


def _reachability():
    spec = importlib.util.spec_from_file_location(
        "reachability", os.path.join(ROOT, "tools", "reachability.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unreachable_defs_are_the_kept_ones():
    assert set(_reachability().unreachable(ROOT)) == set(KEEP)


def test_walk_ignores_strings_and_comments_and_imports(tmp_path):
    pkg = tmp_path / "check_datapackage_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from .m import dead, live\n")
    (pkg / "m.py").write_text(
        "def live():\n"
        "    return helper()\n"
        "\n"
        "def helper():\n"
        "    return 1\n"
        "\n"
        "def dead():\n"
        "    return 2\n"
    )
    (pkg / "cli.py").write_text(
        "# dead\n"
        "def main():\n"
        "    '''calls dead'''\n"
        "    return live()\n"
    )
    assert _reachability().unreachable(str(tmp_path)) == {"m.dead": 2}
