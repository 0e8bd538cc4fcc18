"""check_datapackage_spark — a PySpark-native schema + constraint
validation engine with the check vocabulary of
``seedcase-project/check-datapackage``, rebuilt Spark-first for
10^12-row tokenized-sequence tables (SURVEY.md).

Public API mirrors the reference's ``check() / explain() / Issue``
surface (ref ``src/check_datapackage/__init__.py``) plus the data-plane
operators the reference lacks (stats, uniqueness, referential, drift,
dedup, similarity, text).
"""

from .issue import (
    DEDUP_KEY,
    MISSING,
    DataPackageError,
    Issue,
    MissingValue,
    VIOLATION_FULL_SCHEMA,
    VIOLATION_SCHEMA,
    explain,
    pretty_print,
    finalize_issues,
    finalize_violations,
)
from .spec import (
    CheckConfig,
    Constraints,
    Exclusion,
    FIELD_TYPES,
    FieldSpec,
    ForeignKeySpec,
    TableSpec,
    validate_spec,
    validate_spec_against,
)
from .compile import (
    CompiledCheck,
    compile_all_of,
    compile_all_of_required,
    compile_any_of_required,
    compile_field_checks,
    compile_invariant,
    compile_json_schema_checks,
    compile_one_of,
    compile_one_of_required,
    compile_table_checks,
    schema_conforms,
)
from .plans.validation import (
    ValidationResult,
    bind_check_lets,
    check_table,
    exclusion_filter,
    summary_plan,
    violations_plan,
)

from .extensions import CustomCheck, ExtensionError, RequiredCheck, compile_extensions
from .package import PackageResult, check_package
from .plans.nested import nested_violations
from .spec import SpecTypeError
from .examples import (
    example_field_properties,
    example_table,
    example_table_properties,
    example_table_spec,
)

__version__ = "0.1.0"

__all__ = [
    "CheckConfig",
    "CompiledCheck",
    "Constraints",
    "DEDUP_KEY",
    "DataPackageError",
    "Exclusion",
    "FIELD_TYPES",
    "FieldSpec",
    "ForeignKeySpec",
    "Issue",
    "MISSING",
    "MissingValue",
    "TableSpec",
    "VIOLATION_FULL_SCHEMA",
    "VIOLATION_SCHEMA",
    "PackageResult",
    "ValidationResult",
    "bind_check_lets",
    "check_package",
    "check_table",
    "compile_all_of",
    "compile_all_of_required",
    "compile_any_of_required",
    "compile_field_checks",
    "compile_invariant",
    "compile_json_schema_checks",
    "compile_one_of",
    "compile_one_of_required",
    "compile_table_checks",
    "example_field_properties",
    "example_table",
    "example_table_properties",
    "example_table_spec",
    "exclusion_filter",
    "explain",
    "pretty_print",
    "finalize_issues",
    "finalize_violations",
    "schema_conforms",
    "summary_plan",
    "validate_spec",
    "validate_spec_against",
    "violations_plan",
]
