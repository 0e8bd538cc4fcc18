"""Check compiler: TableSpec → fused single-pass column predicates.

Each constraint (C1–C10, SURVEY.md §2.3) compiles to a
:class:`CompiledCheck` holding a boolean ``ok`` Column (true = row
passes) plus the Issue metadata to emit when it fails. All compiled
checks for a table are fused into ONE ``select`` (violation structs) and
ONE ``agg`` (summary counts) — the reference walks the document once
(``check.py:561``); we scan the table once.

The per-check ``Issue.type`` strings equal the jsonschema keyword names,
matching the reference's ``Issue.type`` contract (e.g. ``required``,
``pattern``, ``enum``, ``minimum`` — see SURVEY.md §2.3 table).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import string_format_ok, type_conforms
from .spec import Constraints, FieldSpec, TableSpec


@dataclass
class CompiledCheck:
    """One check compiled to a vectorized predicate.

    ``ok`` is a boolean Column (true ⇒ pass). ``instance`` is the value
    to surface in the violation row (stringified).

    ``ok`` may read shared slot columns declared in ``lets`` (every
    jsonSchema check does): they exist only on
    ``bind_check_lets(df, checks)``, so evaluate ``ok`` there —
    ``bind_check_lets(df, checks).filter(~ck.ok)``, not
    ``df.filter(~ck.ok)``. ``check_table`` and the plan builders bind
    them themselves.

    ``instance`` may reference ANY columns of the checked DataFrame
    (not just ``column``): the violations plan carries every input
    column through its explode, Catalyst prunes the ones no instance
    reads, and the instances are evaluated on violating rows only. It
    must not reference columns absent from the input — that is
    rejected at plan-build time with the check named.
    """

    name: str  # unique check id, e.g. "doc_id.required"
    column: Optional[str]  # checked column (None for table-level)
    issue_type: str  # reference Issue.type (jsonschema keyword)
    message: str
    ok: Column
    instance: Column
    #: layered shared-subexpression columns ``ok``/sibling checks
    #: reference (layer i may reference layer i-1's names). Plan
    #: builders inject them with ``plans.validation.bind_check_lets``
    #: BEFORE using ``ok``; Catalyst prunes any a pruned check leaves
    #: unreferenced. Empty for checks that need none.
    lets: tuple = ()


def _fmt(v) -> str:
    if isinstance(v, str):
        return f"'{v}'"
    return repr(v)


def compile_field_checks(
    field: FieldSpec, table_name: str, actual_type: Optional[str] = None
) -> list[CompiledCheck]:
    """Compile one field's declaration into predicate checks.

    Covers C1 required, C2 type, C3 format, C4 pattern, C5 enum,
    C6 range, C7 length. Uniqueness (C11) and referential (R5) need
    shuffles/joins and are separate operators (``operators.uniqueness``,
    ``operators.referential``).

    ``actual_type`` is the physical Spark type name of the column when
    known: the C2 string-staging parse check only applies to string
    columns — natively-typed columns get structural conformance via
    :func:`schema_conforms` (driver-side, zero data cost) instead.
    """
    c = field.constraints
    col = F.col(field.name)
    checks: list[CompiledCheck] = []
    inst = col.cast("string")

    def add(kind: str, issue_type: str, message: str, ok: Column) -> None:
        checks.append(
            CompiledCheck(
                name=f"{field.name}.{kind}",
                column=field.name,
                issue_type=issue_type,
                message=message,
                ok=ok,
                instance=inst,
            )
        )

    # C1 required — null check (ref required keyword; MISSING marker →
    # NULL instance per issue.py contract).
    if c.required:
        add(
            "required",
            "required",
            f"{field.name} is a required property",
            col.isNotNull(),
        )

    # C2 type conformance — only meaningful for string-staged columns;
    # natively-typed columns are verified structurally (schema_conforms).
    if actual_type in (None, "string") and field.type != "string":
        add(
            "type",
            "type",
            f"value is not of type '{field.type}'",
            type_conforms(col, field.type, field.format),
        )
    elif field.type == "string" and actual_type in (None, "string"):
        # format conformance doubles as the string 'type' check surface
        pass

    # C3 string format.
    if field.type == "string" and field.format not in (None, "default"):
        add(
            "format",
            "format",
            f"value does not conform to format '{field.format}'",
            string_format_ok(col, field.format),
        )

    # C4 pattern (NULLs pass — required owns nulls).
    if c.pattern is not None:
        add(
            "pattern",
            "pattern",
            f"value does not match pattern '{c.pattern}'",
            col.isNull() | col.rlike(c.pattern),
        )

    # C5 enum — small literal set → isin (Catalyst folds to an
    # InSet/bloom check); large sets use the broadcast anti-join
    # operator instead (operators.referential).
    if c.enum is not None:
        add(
            "enum",
            "enum",
            f"value is not one of {list(c.enum)!r}",
            col.isNull() | col.isin(*c.enum),
        )

    # C6 range.
    if c.minimum is not None:
        add(
            "minimum",
            "minimum",
            f"value is less than the minimum of {_fmt(c.minimum)}",
            col.isNull() | (col >= F.lit(c.minimum)),
        )
    if c.maximum is not None:
        add(
            "maximum",
            "maximum",
            f"value is greater than the maximum of {_fmt(c.maximum)}",
            col.isNull() | (col <= F.lit(c.maximum)),
        )
    if c.exclusive_minimum is not None:
        add(
            "exclusiveMinimum",
            "exclusiveMinimum",
            f"value is less than or equal to the exclusive minimum of {_fmt(c.exclusive_minimum)}",
            col.isNull() | (col > F.lit(c.exclusive_minimum)),
        )
    if c.exclusive_maximum is not None:
        add(
            "exclusiveMaximum",
            "exclusiveMaximum",
            f"value is greater than or equal to the exclusive maximum of {_fmt(c.exclusive_maximum)}",
            col.isNull() | (col < F.lit(c.exclusive_maximum)),
        )

    # C7 length — chars for string, size() for collections.
    if c.min_length is not None or c.max_length is not None:
        length = (
            F.length(col)
            if field.type == "string"
            else F.size(col)
        )
        if c.min_length is not None:
            add(
                "minLength",
                "minLength",
                f"length is less than the minimum of {c.min_length}",
                col.isNull() | (length >= F.lit(c.min_length)),
            )
        if c.max_length is not None:
            add(
                "maxLength",
                "maxLength",
                f"length is greater than the maximum of {c.max_length}",
                col.isNull() | (length <= F.lit(c.max_length)),
            )

    # C8 minItems/maxItems — declarative collection-size constraints
    # (ref jsonschema minItems on resource path arrays,
    # tests/test_check.py:646-664: empty array → type "minItems").
    if c.min_items is not None:
        add(
            "minItems",
            "minItems",
            f"array has fewer items than the minimum of {c.min_items}",
            col.isNull() | (F.size(col) >= F.lit(c.min_items)),
        )
    if c.max_items is not None:
        add(
            "maxItems",
            "maxItems",
            f"array has more items than the maximum of {c.max_items}",
            col.isNull() | (F.size(col) <= F.lit(c.max_items)),
        )

    # C9 uniqueItems (ref duplicate enum values →
    # type "uniqueItems", tests/test_check.py:758-768).
    if c.unique_items:
        add(
            "uniqueItems",
            "uniqueItems",
            "array items are not unique",
            col.isNull() | (F.size(col) == F.size(F.array_distinct(col))),
        )

    # C10 nested jsonSchema constraint on object/array fields
    # (ref schema supports jsonSchema per SURVEY §1.4).
    if c.json_schema:
        checks.extend(compile_json_schema_checks(field, actual_type=actual_type))

    return checks


def _variant_type_tag(sub: Column) -> Column:
    """Canonical JSON-Schema type tag of a variant value.

    ``schema_of_variant`` preserves the JSON source type exactly —
    ``"1"`` → STRING, ``1`` → BIGINT, ``1.5`` → DECIMAL(2,1), ``true``
    → BOOLEAN, ``null`` → variant-null — which is what un-vacuouses the
    string/number/boolean distinction that ``get_json_object``'s
    quote-stripping destroyed (VERDICT r2 "What's wrong" #2). Returns
    NULL when the value is ABSENT (missing key / invalid JSON /
    non-object parent); 'null' when present as JSON null — the Draft-7
    absent-vs-null distinction (ADVICE r2).

    Draft-7 integer: a number with zero fractional part (2.0 is a valid
    integer) — DECIMAL(p,0) maps to 'integer'; DOUBLE-with-zero-frac is
    handled by the caller via the double cast.
    """
    from .operators.text import let_col

    # let-bind the value AND its schema string: variant expressions are
    # interpreted (no codegen CSE), so an unbound ``s`` re-runs
    # schema_of_variant once per CaseWhen branch probed (~8x/row) and an
    # unbound ``sub`` re-extracts per reference. schema_of_variant/
    # is_variant_null are null-safe (NULL -> NULL/false, probed), so
    # eager evaluation inside the binding array cannot differ.
    def _with_sub(x: Column) -> Column:
        def _with_schema(s: Column) -> Column:
            return _variant_type_tag_from(x, s)

        return let_col(F.schema_of_variant(x), _with_schema)

    return let_col(sub, _with_sub)


def _variant_type_tag_from(x: Column, s: Column) -> Column:
    """The tag CaseWhen over an ALREADY-shared value ``x`` and its
    ``schema_of_variant`` string ``s`` — pure codegen-able expressions,
    used directly when both are materialized projection columns (a
    let-binding wrapper would force the whole consumer interpreted)."""
    return (
        F.when(x.isNull(), F.lit(None).cast("string"))
        .when(F.is_variant_null(x), F.lit("null"))
        .when(s == "STRING", F.lit("string"))
        .when(s == "BOOLEAN", F.lit("boolean"))
        .when(
            s.isin("TINYINT", "SMALLINT", "INT", "BIGINT"),
            F.lit("integer"),
        )
        .when(s.rlike(r"^DECIMAL\(\d+,0\)$"), F.lit("integer"))
        .when(
            s.startswith("DECIMAL") | s.isin("DOUBLE", "FLOAT"),
            F.lit("number"),
        )
        .when(s.startswith("OBJECT"), F.lit("object"))
        .when(s.startswith("ARRAY"), F.lit("array"))
        .otherwise(F.lit("other"))
    )


def _json_type_pred(tag: Column, dbl: Column, declared) -> Column:
    """Draft-7 ``type`` keyword over the canonical tag (string or list
    of strings). Booleans are never numbers (jsonschema special-case);
    any number with zero fractional part satisfies 'integer'."""
    types = declared if isinstance(declared, list) else [declared]
    pred = F.lit(False)
    for t in types:
        if t == "integer":
            pred = pred | (tag == "integer") | (
                (tag == "number") & dbl.isNotNull() & (dbl == F.floor(dbl))
            )
        elif t == "number":
            pred = pred | tag.isin("integer", "number")
        else:
            pred = pred | (tag == F.lit(t))
    return pred


def _unique_items_pred(arr_v: Column) -> Column:
    """Draft-7 ``uniqueItems`` over an array<variant>: canonicalize each
    element as ``<kind>|<text>`` then compare the distinct size.

    Numbers canonicalize by VALUE (``num|<double>``) so ``[1, 1.0]``
    is correctly non-unique (jsonschema: ``1 == 1.0``, verified
    against Draft7Validator), while ``1`` vs ``"1"`` stay distinct
    (``num|1.0`` vs ``STRING|1``) and booleans never equal numbers.
    Objects/arrays compare by JSON text — mixed int/float duplicates
    NESTED inside them ([[1]] vs [[1.0]]) still compare unequal, a
    documented edge of text canonicalization. Duplicate JSON nulls
    canonicalize to SQL NULL on both sides of the concat, which
    ``array_distinct`` also collapses, so ``[null,null]`` is correctly
    non-unique."""
    from .operators.text import let_col

    def elem_canon(x: Column) -> Column:
        # tag let-bound: ``num`` is referenced on both sides of the
        # concat and interpreted exprs re-evaluate per reference
        def canon_of(tag: Column) -> Column:
            num = tag.isin("integer", "number")
            return F.concat(
                F.when(num, F.lit("num")).otherwise(F.schema_of_variant(x)),
                F.lit("|"),
                F.when(
                    num, F.try_variant_get(x, "$", "double").cast("string")
                ).otherwise(x.cast("string")),
            )

        return let_col(_variant_type_tag(x), canon_of)

    canon = F.transform(arr_v, elem_canon)
    # let-bound: canon is referenced twice; unbound it would
    # re-canonicalize the whole array per reference
    return let_col(canon, lambda c: F.size(c) == F.size(F.array_distinct(c)))


#: Draft-7 annotation keywords — no validation semantics, always allowed
#: inside combinator member schemas. ``definitions``/``$defs`` are ref
#: CONTAINERS: :func:`resolve_refs` substitutes every ``$ref`` at
#: compile time, so whatever survives here is inert.
_JS_ANNOTATIONS = frozenset(
    {"title", "description", "default", "examples", "$comment", "$schema",
     "$id", "deprecated", "readOnly", "writeOnly",
     "definitions", "$defs"}
)
#: validation keywords :func:`_schema_pred` implements.
_JS_SUPPORTED = frozenset(
    {"type", "enum", "const", "pattern", "multipleOf",
     "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
     "minLength", "maxLength", "minItems", "maxItems", "uniqueItems",
     "items", "additionalItems", "contains", "properties", "required",
     "minProperties", "maxProperties", "additionalProperties",
     "propertyNames", "patternProperties", "dependencies", "format",
     "anyOf", "oneOf", "allOf", "not", "if", "then", "else"}
)
#: keywords that apply to arrays only (their checks read the value as
#: ``array<variant>``) and to objects only (they read its keys).
_JS_ARRAY_KEYWORDS = ("minItems", "maxItems", "uniqueItems", "items",
                      "additionalItems", "contains")
_JS_OBJECT_KEYWORDS = ("required", "properties", "minProperties",
                       "maxProperties", "additionalProperties",
                       "propertyNames", "patternProperties", "dependencies")


def _json_pointer(root, ptr: str):
    """Resolve a LOCAL ``#/...`` JSON Pointer against the root schema
    (RFC 6901 escaping: ``~1`` → ``/``, ``~0`` → ``~``)."""
    if not ptr.startswith("#"):
        raise ValueError(
            f"only local '#/...' $ref pointers are supported, got {ptr!r}"
        )
    cur = root
    frag = ptr[1:].lstrip("/")
    if not frag:
        return root
    for raw in frag.split("/"):
        tok = raw.replace("~1", "/").replace("~0", "~")
        if isinstance(cur, list):
            try:
                cur = cur[int(tok)]
            except (ValueError, IndexError):
                raise ValueError(f"$ref {ptr!r} does not resolve") from None
        elif isinstance(cur, dict) and tok in cur:
            cur = cur[tok]
        else:
            raise ValueError(f"$ref {ptr!r} does not resolve")
    return cur


def resolve_refs(schema: dict, root: Optional[dict] = None) -> dict:
    """Expand every local ``$ref`` in a Draft-7 schema at COMPILE time —
    pure dict substitution against the root's ``definitions``/``$defs``
    (or any local pointer), zero runtime cost. Draft-7 semantics: the
    sibling keywords of ``$ref`` are ignored (exactly what
    ``jsonschema.Draft7Validator`` does, the reference's engine at ref
    check.py:559-561 — its bundled data-package-2-0.json profile is
    itself ``$ref``-heavy).

    RECURSIVE schemas raise: a cyclic ``$ref`` has no finite expression
    expansion (Catalyst predicates are finite trees), and refusing
    loudly beats validating wrongly — the same contract as every other
    unsupported keyword. The guard is the expansion PATH (a diamond —
    the same definition referenced from two branches — is fine)."""
    root_schema = schema if root is None else root

    def expand(node, stack: tuple):
        if isinstance(node, list):
            return [expand(x, stack) for x in node]
        if not isinstance(node, dict):
            return node
        if "$ref" in node:
            ptr = node["$ref"]
            if ptr in stack:
                chain = " -> ".join(stack + (ptr,))
                raise ValueError(
                    f"recursive $ref is not supported (cycle: {chain})"
                )
            target = _json_pointer(root_schema, ptr)
            if not isinstance(target, dict):
                raise ValueError(
                    f"$ref {ptr!r} must point at a schema object, "
                    f"got {type(target).__name__}"
                )
            return expand(target, stack + (ptr,))
        return {
            k: expand(v, stack)
            for k, v in node.items()
            if k not in ("definitions", "$defs")
        }

    return expand(schema, ())


# --- Draft-7 ``format`` --------------------------------------------------
# Exact parity with the checkers the reference's FormatChecker() has
# registered in this environment (jsonschema 4.26, no optional format
# deps beyond idna; ref check.py:560 passes format_checker=FormatChecker()).
# Semantics verified probe-by-probe against Draft7Validator:
#   email/idn-email  = '"@" in s' (jsonschema is_email, literally)
#   date             = ^\d{4}-\d{2}-\d{2}$ + real calendar date, year>=1
#   time             = strptime('%H:%M:%S'): 1-2 digit fields, no frac/tz
#   date-time        = rfc3339_validator: offset REQUIRED, no leap second,
#                      case-insensitive T/Z, real calendar date
#   uuid             = canonical 8-4-4-4-12 hex with hyphens (is_uuid)
#   ipv4             = dotted quad 0-255, no leading zeros
#   ipv6             = RFC 3986 grammar incl. embedded IPv4, no zone-id
#   json-pointer / relative-json-pointer = RFC 6901 grammars
# Formats the environment's FormatChecker does NOT register (uri,
# hostname, iri, duration, ... — their optional deps are absent) are
# ignored, which is exactly what the reference does here. ``regex`` and
# ``idn-hostname`` ARE registered but need a Python interpreter
# (re.compile / idna encoding) — not expressible as a JVM predicate
# usable inside HOF lambdas, so they are ignored too (documented
# divergence; Draft-7 calls format best-effort).
_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IPV4_RE = rf"^({_IPV4_OCTET}\.){{3}}{_IPV4_OCTET}$"
_H16 = r"[0-9A-Fa-f]{1,4}"
_LS32 = rf"({_H16}:{_H16}|({_IPV4_OCTET}\.){{3}}{_IPV4_OCTET})"
_IPV6_RE = (
    "^("
    rf"({_H16}:){{6}}{_LS32}"
    rf"|::({_H16}:){{5}}{_LS32}"
    rf"|({_H16})?::({_H16}:){{4}}{_LS32}"
    rf"|(({_H16}:)?{_H16})?::({_H16}:){{3}}{_LS32}"
    rf"|(({_H16}:){{0,2}}{_H16})?::({_H16}:){{2}}{_LS32}"
    rf"|(({_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}"
    rf"|(({_H16}:){{0,4}}{_H16})?::{_LS32}"
    rf"|(({_H16}:){{0,5}}{_H16})?::{_H16}"
    rf"|(({_H16}:){{0,6}}{_H16})?::"
    ")$"
)
_JS_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_JS_TIME_RE = r"^([01]?\d|2[0-3]):[0-5]?\d:[0-5]?\d$"
_JS_DATETIME_RE = (
    r"^\d{4}-(0[1-9]|1[0-2])-\d{2}[Tt]([01]\d|2[0-3]):[0-5]\d:[0-5]\d"
    r"(\.\d+)?([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)$"
)
_JS_UUID_RE = (
    r"^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}"
    r"-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$"
)
_JS_JSON_POINTER_RE = r"^(/([^/~]|~[01])*)*$"
_JS_REL_JSON_POINTER_RE = r"^(0|[1-9]\d*)(#|(/([^/~]|~[01])*)*)$"


def _calendar_date_ok(text: Column) -> Column:
    """Real-calendar gate shared by date/date-time: the first 10 chars
    parse as an actual date (leap years, month lengths) with year >= 1
    (``date.fromisoformat`` / rfc3339_validator both reject year 0;
    Spark's proleptic parser accepts it, hence the explicit guard)."""
    head = F.substring(text, 1, 10)
    return F.try_to_date(head, "yyyy-MM-dd").isNotNull() & (
        F.substring(text, 1, 4) != "0000"
    )


def _js_format_pred(sstr: Column, fmt: str) -> Optional[Column]:
    """Predicate for a Draft-7 ``format`` over the STRING value, or
    ``None`` when the format is ignored (unregistered/interpreter-bound
    — see the block comment above). Non-strings pass at the caller."""
    if fmt in ("email", "idn-email"):
        return sstr.contains("@")
    if fmt == "date":
        return sstr.rlike(_JS_DATE_RE) & _calendar_date_ok(sstr)
    if fmt == "time":
        return sstr.rlike(_JS_TIME_RE)
    if fmt == "date-time":
        return sstr.rlike(_JS_DATETIME_RE) & _calendar_date_ok(sstr)
    if fmt == "uuid":
        return sstr.rlike(_JS_UUID_RE)
    if fmt == "ipv4":
        return sstr.rlike(_IPV4_RE)
    if fmt == "ipv6":
        return sstr.rlike(_IPV6_RE)
    if fmt == "json-pointer":
        return sstr.rlike(_JS_JSON_POINTER_RE)
    if fmt == "relative-json-pointer":
        return sstr.rlike(_JS_REL_JSON_POINTER_RE)
    return None


def _property_name_pred(pn_schema: dict):
    """1-arg element predicate for Draft-7 ``propertyNames``: keys are
    plain strings, so only string-applicable keywords make sense —
    pattern / minLength / maxLength / enum / const. Others raise."""
    allowed = {"pattern", "minLength", "maxLength", "enum", "const", "type"}
    bad = set(pn_schema) - allowed - _JS_ANNOTATIONS
    if bad:
        raise ValueError(
            f"propertyNames supports only string keywords, got {sorted(bad)}"
        )
    members = (
        pn_schema.get("enum")
        if "enum" in pn_schema
        else ([pn_schema["const"]] if "const" in pn_schema else None)
    )

    def pred(k: Column) -> Column:
        # JSON keys are always strings: type 'string' is vacuous,
        # any other declared type can never hold
        p = F.lit(pn_schema.get("type", "string") == "string")
        if "pattern" in pn_schema:
            p = p & k.rlike(pn_schema["pattern"])
        if "minLength" in pn_schema:
            p = p & (F.length(k) >= F.lit(int(pn_schema["minLength"])))
        if "maxLength" in pn_schema:
            p = p & (F.length(k) <= F.lit(int(pn_schema["maxLength"])))
        if members is not None:
            p = p & k.isin([m for m in members if isinstance(m, str)])
        return p

    return pred


def _enum_member_pred(values, tag: Column, dbl: Column, sstr: Column) -> Column:
    """True iff the variant value equals one of ``values`` (scalar
    members, type-aware: ``1`` matches integer 1 but not ``"1"``)."""
    member = F.lit(False)
    for e in values:
        if e is None:
            member = member | (tag == "null")
        elif isinstance(e, bool):  # before int: bool ⊂ int
            member = member | (
                (tag == "boolean") & (sstr == ("true" if e else "false"))
            )
        elif isinstance(e, (int, float)):
            member = member | (
                tag.isin("integer", "number") & (dbl == F.lit(float(e)))
            )
        elif isinstance(e, str):
            member = member | ((tag == "string") & (sstr == e))
    return member


def _schema_pred(
    schema: dict, base: Column, path: str, slots: Optional[dict] = None
) -> Column:
    """Satisfaction predicate for a Draft-7 sub-schema over the variant
    value at ``path`` within variant ``base`` — the recursive core
    every ``jsonSchema`` keyword check compiles through, at the root,
    on a property and inside ``anyOf``/``oneOf``/``allOf``/``not``
    (reference: arbitrary Draft-7 via ``jsonschema``, ref
    check.py:559-561).

    The value is assumed PRESENT (callers guard absence per Draft-7
    applicability); nested properties guard their own absence. Each
    keyword predicate is applicability-guarded (e.g. ``pattern`` is
    vacuous on non-strings). Besides the scalar, length and array
    keywords it covers ``const``,
    ``multipleOf``, ``contains``, ``minProperties``/``maxProperties``,
    ``additionalProperties`` (boolean AND schema forms — the schema
    form walks the object as ``map<string, variant>`` entries, the
    dynamic-key access path-based variant gets can't express),
    ``patternProperties`` (same entries walk), ``propertyNames``
    (string keywords over ``json_object_keys``), ``dependencies``
    (both the property-list and the sub-schema form), tuple-form
    ``items`` + ``additionalItems``, ``format`` (exact FormatChecker
    parity, see :func:`_js_format_pred`) and ``if``/``then``/``else``.
    ``$ref`` must be expanded by :func:`resolve_refs` BEFORE compiling
    (``compile_json_schema_checks`` does); a raw ``$ref`` here and any
    other unsupported keyword, like non-scalar ``enum``/``const``
    members, raise at compile time — a silently-ignored keyword would
    validate wrongly, which is worse than refusing."""
    for key in schema:
        if key not in _JS_SUPPORTED and key not in _JS_ANNOTATIONS:
            raise ValueError(
                f"jsonSchema keyword {key!r} is not supported "
                f"(supported: {sorted(_JS_SUPPORTED)})"
            )
    if not (set(schema) & _JS_SUPPORTED):
        return F.lit(True)  # annotations only: vacuously true, no extraction
    return _let_chain_pred(schema, base, path, slots)


def _let_chain_pred(
    schema: dict, base: Column, path: str, given: Optional[dict] = None
) -> Column:
    """Bind the shared extractions of one :func:`_schema_pred` node as
    higher-order-function LET variables, then build the predicate over
    the bound slots.

    Why: the predicate references ``tag``/``dbl``/``sstr``/``keys``/
    ``entries`` once per keyword, and variant expressions are
    interpreted — every reference re-walked the variant path and (for
    ``tag``) re-ran ``schema_of_variant``. Binding makes each a cheap
    slot read; every expression bound is null-safe (try_variant_get /
    json_object_keys / map_entries return NULL on NULL input), so
    eager evaluation in the binding array is value-identical. Columns
    the schema's keywords don't need are passed through UNBOUND
    (raw expressions) — correctness never depends on the needs
    analysis, only the sharing does.

    ``given`` carries ALREADY-shared columns for this (base, path) —
    materialized projection slots from the top-level compiler, or the
    parent combinator node's bound lambda variables — keyed by
    "sub"/"tag"/"dbl"/"sstr"/"keys"/"entries". Whatever is given is
    used as-is (no re-extraction, no wrapper); when everything a
    schema needs is given, the predicate contains NO let-binding at
    all and stays codegen-eligible."""
    from .operators.text import let_col

    given = given or {}

    declared_t = schema.get("type")
    types_l = (
        declared_t if isinstance(declared_t, list)
        else ([declared_t] if declared_t else [])
    )
    members = (
        schema["enum"] if "enum" in schema
        else ([schema["const"]] if "const" in schema else [])
    )
    need_dbl = (
        "integer" in types_l
        or any(
            isinstance(e, (int, float)) and not isinstance(e, bool)
            for e in members
        )
        or any(
            k in schema
            for k in ("multipleOf", "minimum", "maximum",
                      "exclusiveMinimum", "exclusiveMaximum")
        )
    )
    need_sstr = (
        any(isinstance(e, (str, bool)) for e in members)
        or any(
            k in schema
            for k in ("pattern", "format", "minLength", "maxLength")
        )
    )
    arr_kw = any(k in schema for k in _JS_ARRAY_KEYWORDS)
    obj_kw = any(k in schema for k in _JS_OBJECT_KEYWORDS)
    need_entries = isinstance(
        schema.get("additionalProperties"), dict
    ) or bool(schema.get("patternProperties"))

    def with_sub(sub: Column) -> Column:
        def with_tag(tag: Column) -> Column:
            slots = {
                "dbl": given.get(
                    "dbl", F.try_variant_get(base, path, "double")
                ),
                "sstr": given.get(
                    "sstr", F.try_variant_get(base, path, "string")
                ),
                "arr_v": given.get(
                    "arr_v", F.try_variant_get(base, path, "array<variant>")
                ),
                "keys": given.get(
                    "keys", F.json_object_keys(sub.cast("string"))
                ),
                "entries": given.get(
                    "entries",
                    F.map_entries(
                        F.try_variant_get(base, path, "map<string, variant>")
                    ),
                ),
            }
            wanted = [
                ("dbl", need_dbl and "dbl" not in given),
                ("sstr", need_sstr and "sstr" not in given),
                ("arr_v", arr_kw and "arr_v" not in given),
                ("keys", obj_kw and "keys" not in given),
                ("entries", need_entries and "entries" not in given),
            ]

            bound: set = set(given)

            def go(i: int) -> Column:
                if i == len(wanted):
                    # pass this node's SHARED slots down: same-path
                    # sub-schemas (combinators, not, if/then/else,
                    # schema-form dependencies) reuse them instead of
                    # re-extracting per member. Only actually-shared
                    # columns are passed — an unshared raw expression
                    # must stay absent so the child binds it itself.
                    child_slots = {"sub": sub, "tag": tag}
                    for nm in ("dbl", "sstr", "arr_v", "keys", "entries"):
                        if nm in bound:
                            child_slots[nm] = slots[nm]
                    return _schema_pred_body(
                        schema, base, path, sub, tag,
                        slots["dbl"], slots["sstr"], slots["arr_v"],
                        slots["keys"], slots["entries"], child_slots,
                    )
                name, needed = wanted[i]
                if not needed:
                    return go(i + 1)

                def bind(x: Column) -> Column:
                    slots[name] = x
                    bound.add(name)
                    return go(i + 1)

                return let_col(slots[name], bind)

            return go(0)

        if "tag" in given:
            return with_tag(given["tag"])
        return let_col(_variant_type_tag(sub), with_tag)

    if "sub" in given:
        return with_sub(given["sub"])
    return let_col(F.try_variant_get(base, path, "variant"), with_sub)


def _schema_pred_body(
    schema: dict,
    base: Column,
    path: str,
    sub: Column,
    tag: Column,
    dbl: Column,
    sstr: Column,
    arr_v: Column,
    keys: Column,
    entries: Column,
    child_slots: Optional[dict] = None,
) -> Column:
    """The keyword predicates of one :func:`_schema_pred` node, built
    over the (let-bound) shared extraction columns. ``child_slots``
    is forwarded to SAME-path sub-schema recursions (combinators,
    ``not``, ``if``/``then``/``else``, schema-form dependencies) so
    members reuse this node's bindings instead of re-extracting."""
    not_num = ~tag.isin("integer", "number")
    preds: list[Column] = []

    declared = schema.get("type")
    if declared:
        preds.append(_json_type_pred(tag, dbl, declared))
    if "enum" in schema or "const" in schema:
        members = schema["enum"] if "enum" in schema else [schema["const"]]
        for e in members:
            if e is not None and not isinstance(e, (bool, int, float, str)):
                raise ValueError(
                    "jsonSchema enum/const members must be scalars "
                    f"(string, number, boolean or null), got {e!r}"
                )
        preds.append(_enum_member_pred(members, tag, dbl, sstr))
    if "pattern" in schema:
        preds.append((tag != "string") | sstr.rlike(schema["pattern"]))
    if "format" in schema:
        fp = _js_format_pred(sstr, schema["format"])
        if fp is not None:
            preds.append((tag != "string") | fp)
    if "multipleOf" in schema:
        m = float(schema["multipleOf"])
        preds.append(not_num | ((dbl % F.lit(m)) == 0))
    for kw, op in (
        ("minimum", lambda m: dbl >= F.lit(float(m))),
        ("maximum", lambda m: dbl <= F.lit(float(m))),
        ("exclusiveMinimum", lambda m: dbl > F.lit(float(m))),
        ("exclusiveMaximum", lambda m: dbl < F.lit(float(m))),
    ):
        if kw in schema:
            preds.append(not_num | op(schema[kw]))
    if "minLength" in schema:
        preds.append(
            (tag != "string") | (F.length(sstr) >= F.lit(int(schema["minLength"])))
        )
    if "maxLength" in schema:
        preds.append(
            (tag != "string") | (F.length(sstr) <= F.lit(int(schema["maxLength"])))
        )

    if any(k in schema for k in _JS_ARRAY_KEYWORDS):
        not_array = tag != "array"
        if "minItems" in schema:
            preds.append(not_array | (F.size(arr_v) >= F.lit(int(schema["minItems"]))))
        if "maxItems" in schema:
            preds.append(not_array | (F.size(arr_v) <= F.lit(int(schema["maxItems"]))))
        if schema.get("uniqueItems"):
            preds.append(not_array | _unique_items_pred(arr_v))
        items = schema.get("items")
        if isinstance(items, dict):
            elem = (
                lambda s: lambda x: F.coalesce(
                    _schema_pred(s, x, "$"), F.lit(False)
                )
            )(items)
            preds.append(not_array | F.forall(arr_v, elem))
        elif isinstance(items, (list, tuple)):
            # Draft-7 tuple validation: element i against items[i];
            # absent positions are vacuous (try_element_at, ANSI-safe)
            for idx, s in enumerate(items):
                if not isinstance(s, dict):
                    raise ValueError(
                        "tuple-form items members must be schema objects"
                    )
                el = F.try_element_at(arr_v, F.lit(idx + 1))
                preds.append(
                    not_array
                    | el.isNull()
                    | F.coalesce(_schema_pred(s, el, "$"), F.lit(False))
                )
            ai = schema.get("additionalItems")
            if ai is False:
                preds.append(not_array | (F.size(arr_v) <= F.lit(len(items))))
            elif isinstance(ai, dict):
                # positions beyond the tuple prefix against the schema
                n_fixed = len(items)
                checked = (
                    lambda s, n: lambda x, i: (i < F.lit(n)) | F.coalesce(
                        _schema_pred(s, x, "$"), F.lit(False)
                    )
                )(ai, n_fixed)
                preds.append(
                    not_array
                    | F.forall(
                        F.transform(arr_v, checked), lambda b: b
                    )
                )
        # additionalItems without tuple-form items is a Draft-7 no-op
        contains = schema.get("contains")
        if isinstance(contains, dict):
            # Draft-7: at least one element matches (empty arrays fail)
            elem = (
                lambda s: lambda x: F.coalesce(
                    _schema_pred(s, x, "$"), F.lit(False)
                )
            )(contains)
            preds.append(not_array | F.exists(arr_v, elem))

    # object keywords: key presence via json_object_keys of the value's
    # JSON text (variant→string cast); non-objects are vacuous.
    if any(k in schema for k in _JS_OBJECT_KEYWORDS):
        for prop in schema.get("required", []):
            preds.append(keys.isNull() | F.array_contains(keys, F.lit(prop)))
        for prop, ps in (schema.get("properties") or {}).items():
            if not isinstance(ps, dict):
                continue
            child_path = f"{path}.{prop}"
            child = F.try_variant_get(base, child_path, "variant")
            preds.append(
                keys.isNull()
                | child.isNull()
                | F.coalesce(_schema_pred(ps, base, child_path), F.lit(False))
            )
        if "minProperties" in schema:
            m = int(schema["minProperties"])
            preds.append(keys.isNull() | (F.size(keys) >= F.lit(m)))
        if "maxProperties" in schema:
            m = int(schema["maxProperties"])
            preds.append(keys.isNull() | (F.size(keys) <= F.lit(m)))
        # Draft-7: a key is "covered" (exempt from additionalProperties)
        # when it is a declared property OR matches any patternProperties
        # pattern. rlike is an unanchored search — same dialect note as
        # the pattern keyword.
        pp = schema.get("patternProperties")
        if pp is not None and not isinstance(pp, dict):
            raise ValueError("patternProperties must be an object")
        pat_list = sorted(pp) if pp else []
        declared = list((schema.get("properties") or {}).keys())

        def _covered(k: Column) -> Column:
            c = F.lit(False)
            if declared:
                lit_arr = F.array(*[F.lit(p) for p in declared])
                c = c | F.array_contains(lit_arr, k)
            for p in pat_list:
                c = c | k.rlike(p)
            return c

        ap = schema.get("additionalProperties")
        if ap is False:
            if declared or pat_list:
                preds.append(keys.isNull() | F.forall(keys, _covered))
            else:
                preds.append(keys.isNull() | (F.size(keys) == 0))
        elif isinstance(ap, dict):
            # schema form: every UNCOVERED key's value must satisfy the
            # schema — dynamic-key value access via the object's
            # map<string, variant> entries (path-based gets can't)
            elem = (
                lambda s: lambda e: _covered(e["key"]) | F.coalesce(
                    _schema_pred(s, e["value"], "$"), F.lit(False)
                )
            )(ap)
            preds.append(entries.isNull() | F.forall(entries, elem))
        if pp:
            for pat, ps in sorted(pp.items()):
                if not isinstance(ps, dict):
                    raise ValueError(
                        "patternProperties sub-schemas must be objects"
                    )
                elem = (
                    lambda s, p: lambda e: (~e["key"].rlike(p)) | F.coalesce(
                        _schema_pred(s, e["value"], "$"), F.lit(False)
                    )
                )(ps, pat)
                preds.append(entries.isNull() | F.forall(entries, elem))
        pn = schema.get("propertyNames")
        if isinstance(pn, dict) and pn:
            preds.append(
                keys.isNull() | F.forall(keys, _property_name_pred(pn))
            )
        deps = schema.get("dependencies")
        if isinstance(deps, dict):
            for dep_key, dep in deps.items():
                present = ~keys.isNull() & F.array_contains(
                    keys, F.lit(dep_key)
                )
                if isinstance(dep, (list, tuple)):
                    # property-dependency form: dep_key present ⇒
                    # every listed property present
                    need = F.lit(True)
                    for d in dep:
                        need = need & F.array_contains(keys, F.lit(d))
                    preds.append(~present | need)
                elif isinstance(dep, dict):
                    # schema-dependency form: dep_key present ⇒ the
                    # whole value satisfies the sub-schema
                    preds.append(
                        ~present
                        | F.coalesce(
                            _schema_pred(dep, base, path, child_slots),
                            F.lit(False),
                        )
                    )
                else:
                    raise ValueError(
                        "dependencies values must be a property list "
                        f"or a sub-schema, got {dep!r}"
                    )

    # if/then/else: (P(if) → P(then)) ∧ (¬P(if) → P(else))
    if isinstance(schema.get("if"), dict):
        cond = F.coalesce(
            _schema_pred(schema["if"], base, path, child_slots), F.lit(False)
        )
        if isinstance(schema.get("then"), dict):
            preds.append(
                ~cond
                | F.coalesce(
                _schema_pred(schema["then"], base, path, child_slots),
                F.lit(False),
            )
            )
        if isinstance(schema.get("else"), dict):
            preds.append(
                cond
                | F.coalesce(
                _schema_pred(schema["else"], base, path, child_slots),
                F.lit(False),
            )
            )

    for comb in ("anyOf", "oneOf", "allOf"):
        subs = schema.get(comb)
        if subs:
            member_preds = [
                F.coalesce(
                    _schema_pred(s, base, path, child_slots), F.lit(False)
                )
                for s in subs
            ]
            if comb == "anyOf":
                c = member_preds[0]
                for p in member_preds[1:]:
                    c = c | p
            elif comb == "allOf":
                c = member_preds[0]
                for p in member_preds[1:]:
                    c = c & p
            else:
                n = F.lit(0)
                for p in member_preds:
                    n = n + p.cast("int")
                c = n == 1
            preds.append(c)
    if "not" in schema:
        preds.append(
            ~F.coalesce(
                _schema_pred(schema["not"], base, path, child_slots),
                F.lit(False),
            )
        )

    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


#: One check per jsonSchema keyword present on a node, in emission
#: order: check kind → (property message, root message). ``{p}`` is the
#: property's dotted path and ``{v}`` the value the message quotes (see
#: :func:`_keyword_mini`); root messages quote no bound. The issue type
#: is the kind's last dotted part (``items.type`` → ``type``).
_JS_KEYWORD_CHECKS = {
    "type": ("{p} is not of type '{v}'", "value is not of type '{v}'"),
    "enum": ("{p} is not one of the allowed values",
             "value is not one of the allowed values"),
    "pattern": ("{p} does not match '{v}'",
                "value does not match the declared pattern"),
    "minimum": ("{p} is less than the minimum of {v}",
                "value is less than the minimum"),
    "maximum": ("{p} is greater than the maximum of {v}",
                "value is greater than the maximum"),
    "exclusiveMinimum": ("{p} is not greater than the exclusive minimum of {v}",
                         "value is not greater than the exclusive minimum"),
    "exclusiveMaximum": ("{p} is not less than the exclusive maximum of {v}",
                         "value is not less than the exclusive maximum"),
    "minLength": ("{p} is shorter than {v} characters",
                  "value is shorter than the minimum length"),
    "maxLength": ("{p} is longer than {v} characters",
                  "value is longer than the maximum length"),
    "minItems": ("{p} has fewer than {v} items",
                 "value has fewer than the minimum items"),
    "maxItems": ("{p} has more than {v} items",
                 "value has more than the maximum items"),
    "uniqueItems": ("{p} items are not unique", "array items are not unique"),
    "items.type": ("{p} items are not of type '{v}'", None),
    "items": ("{p} items do not match the declared {v} schema",
              "array items do not match the declared {v} schema"),
    "anyOf": ("{p} does not match any of the allowed schemas",
              "value does not match any of the allowed schemas"),
    "oneOf": ("{p} does not match exactly one of the allowed schemas",
              "value does not match exactly one of the allowed schemas"),
    "allOf": ("{p} does not match all of the required schemas",
              "value does not match all of the required schemas"),
    "not": ("{p} matches the disallowed schema",
            "value matches the disallowed schema"),
    "const": ("{p} is not the const value", "value is not the const value"),
    "multipleOf": ("{p} is not a multiple of the declared divisor",
                   "value is not a multiple of the declared divisor"),
    "contains": ("{p} has no item matching the contains schema",
                 "value has no item matching the contains schema"),
    "minProperties": ("{p} has fewer properties than the minimum",
                      "value has fewer properties than the minimum"),
    "maxProperties": ("{p} has more properties than the maximum",
                      "value has more properties than the maximum"),
    "additionalProperties": ("{p} has properties outside the declared set",
                             "value has properties outside the declared set"),
    "propertyNames": ("{p} has property names violating the schema",
                      "value has property names violating the schema"),
    "patternProperties": ("{p} has a property violating its pattern schema",
                          "value has a property violating its pattern schema"),
    "format": ("{p} does not conform to the declared format",
               "value does not conform to the declared format"),
    "dependencies": ("{p} violates a property dependency",
                     "value violates a property dependency"),
    "if": ("{p} violates the conditional schema",
           "value violates the conditional schema"),
}


def _keyword_mini(kind: str, node: dict, at_root: bool, actual_type):
    """``(mini-schema, quoted value)`` for the ``kind`` check of one
    jsonSchema node, or ``None`` when the node emits no such check.

    The mini-schema is what the check compiles through
    :func:`_schema_pred`: the keyword alone, plus the siblings its
    Draft-7 meaning depends on (``additionalItems`` for tuple
    ``items``, ``then``/``else`` for ``if``, the declared names for
    ``additionalProperties``). Keywords whose value makes them a no-op
    emit nothing. Two splits differ by scope: a property checks
    ``items.type`` on its own, and the root leaves ``items.required``
    to the struct path of :func:`compile_json_schema_checks`."""
    if kind == "items.type":
        items = node.get("items")
        t = None if at_root or not isinstance(items, dict) else items.get("type")
        return ({"items": {"type": t}}, _shown_type(t)) if t else None
    if kind not in node:
        return None
    v = node[kind]
    if kind in ("type", "pattern", "uniqueItems", "anyOf", "oneOf", "allOf"):
        if not v:
            return None
        return {kind: v}, _shown_type(v) if kind == "type" else v
    if kind in ("minLength", "maxLength", "minItems", "maxItems"):
        return {kind: v}, int(v)
    if kind == "items":
        if isinstance(v, (list, tuple)):
            mini = {"items": list(v)}
            if "additionalItems" in node:
                mini["additionalItems"] = node["additionalItems"]
            return mini, "tuple"
        if not isinstance(v, dict) or (at_root and actual_type == "array"):
            return None  # an array column has no JSON text to parse
        split = "required" if at_root else "type"
        rest = {k: s for k, s in v.items() if k != split}
        return ({"items": rest}, "item") if rest else None
    if kind == "additionalProperties":
        if v is True:
            return None  # the Draft-7 default
        # coverage needs the declared NAMES only: empty sub-schemas
        mini = {kind: v, "properties": {p: {} for p in node.get("properties") or {}}}
        if node.get("patternProperties"):
            mini["patternProperties"] = {p: {} for p in node["patternProperties"]}
        return mini, None
    if kind == "format" and _js_format_pred(F.lit("probe"), v) is None:
        return None  # unregistered/interpreter-bound: ignored
    if kind == "if":
        if not (isinstance(node.get("then"), dict) or isinstance(node.get("else"), dict)):
            return None
        return {k: node[k] for k in ("if", "then", "else") if k in node}, None
    if kind == "enum" and v is None:
        return None
    return {kind: v}, v


def _shown_type(t):
    """A declared ``type`` as messages quote it (lists joined by ``/``)."""
    return "/".join(t) if isinstance(t, list) else t


def compile_json_schema_checks(
    field: FieldSpec, actual_type: Optional[str] = None
) -> list[CompiledCheck]:
    """Compile ``constraints.jsonSchema`` — Draft-7 over a JSON-string
    column.

    Vocabulary: every validation keyword :func:`_schema_pred`
    implements (``_JS_SUPPORTED``), at the root and on any property.
    Each keyword present on a node compiles to ONE check whose ``ok``
    is that keyword alone (with the siblings its meaning depends on,
    see :func:`_keyword_mini`) through :func:`_schema_pred`, the
    recursive core the parity suite tests cell by cell against
    ``jsonschema.Draft7Validator`` — so a keyword validates the same
    at the root, on a property and inside a combinator, and whatever
    the core refuses (an unsupported keyword, non-scalar ``enum``/
    ``const`` members) raises here too instead of validating wrongly.
    Names, issue types and messages come from ``_JS_KEYWORD_CHECKS``.
    Three checks stay outside the core: the root ``type: object|array``
    check (``value is not a JSON object``: the text must parse AND
    start with ``{``/``[``), ``required`` per node as KEY PRESENCE via
    ``json_object_keys`` (Draft-7: ``{"k": null}`` satisfies required;
    non-objects and invalid JSON are no-ops, the type check owns that
    failure), walked through nested ``properties`` at any depth, and
    the root ``items.required`` for arrays of objects (the strict-mode
    contributors/sources item-``title`` rule, ref check.py:533-534),
    which also runs on a native array column. Local ``$ref``/
    ``definitions``/``$defs`` are expanded first by
    :func:`resolve_refs` (recursive refs raise).

    Every keyword check is a no-op when the column is NULL, the value
    is absent or invalid JSON, or (Draft-7 applicability, inside the
    core) the value is not of the kind the keyword applies to. All
    predicates are built-in JVM expressions — no UDFs — so the checks
    fuse into the single-scan violations plan like every other
    constraint.

    ``ok`` reads shared slot columns (the parse and the per-path
    extractions, listed in ``CompiledCheck.lets``) that exist only once
    :func:`~check_datapackage_spark.plans.validation.bind_check_lets`
    has added them: filter ``bind_check_lets(df, checks)``, not ``df``.

    Reference semantics: jsonschema.Draft7Validator over the constraint
    sub-schemas in data-package-2-0.json (SURVEY §1.4).
    """
    import hashlib
    import json

    js = resolve_refs(field.constraints.json_schema or {})
    col = F.col(field.name)
    checks: list[CompiledCheck] = []
    inst = col.cast("string")

    # Shared-subexpression columns: the parse and the per-path
    # extractions are MATERIALIZED as layered projection columns
    # (CompiledCheck.lets, injected by plans.validation.bind_check_lets)
    # so they evaluate once per ROW shared across ALL of this field's
    # checks — the previous per-check let-binding still re-parsed the
    # JSON once per check per row (13x/row on q38; variant exprs are
    # interpreted, no codegen CSE). Names are md5-scoped to the field
    # AND its resolved schema: slot i of one schema is not slot i of
    # another, so two compiles of one field with different schemas that
    # meet in one bind_check_lets keep distinct slots instead of
    # silently overwriting each other's. Unused slots are pruned by
    # Catalyst's column pruning.
    scope = json.dumps([field.name, js], sort_keys=True, default=str)
    fkey = "js" + hashlib.md5(scope.encode()).hexdigest()[:8]
    vname = f"__{fkey}_v"
    lets_layers: tuple = ({}, {}, {}, {})
    _path_slots: dict = {}
    _key_slots: dict = {}

    def _v() -> Column:
        """The shared parse column — registered LAZILY so fields whose
        checks never parse (e.g. array-typed columns validated via
        items.required only) don't get an analysis-failing
        try_parse_json over a non-string column."""
        if vname not in lets_layers[0]:
            lets_layers[0][vname] = F.try_parse_json(col)
        return F.col(vname)

    def _slot(path: str):
        """(sub, tag, dbl, sstr) column names for a property path —
        registered once, shared by every check on that path."""
        s = _path_slots.get(path)
        if s is None:
            i = len(_path_slots)
            sub_n = f"__{fkey}_p{i}_sub"
            sos_n = f"__{fkey}_p{i}_sos"
            tag_n = f"__{fkey}_p{i}_tag"
            dbl_n = f"__{fkey}_p{i}_dbl"
            str_n = f"__{fkey}_p{i}_str"
            lets_layers[1][sub_n] = F.try_variant_get(_v(), path, "variant")
            lets_layers[1][dbl_n] = F.try_variant_get(_v(), path, "double")
            lets_layers[1][str_n] = F.try_variant_get(_v(), path, "string")
            # schema string as its OWN layer-2 column so the layer-3
            # tag is a pure codegen CaseWhen — a let-binding here would
            # force the consuming projection interpreted
            lets_layers[2][sos_n] = F.schema_of_variant(F.col(sub_n))
            lets_layers[3][tag_n] = _variant_type_tag_from(
                F.col(sub_n), F.col(sos_n)
            )
            s = _path_slots[path] = (sub_n, tag_n, dbl_n, str_n)
        return s

    def _arr_slot(path: str) -> str:
        """array<variant> column name for a property path."""
        name = f"{_slot(path)[0]}_arr"
        if name not in lets_layers[1]:
            lets_layers[1][name] = F.try_variant_get(
                _v(), path, "array<variant>"
            )
        return name

    def _keys_slot(json_path: str) -> str:
        """json_object_keys column name for one object node."""
        name = _key_slots.get(json_path)
        if name is None:
            name = f"__{fkey}_k{len(_key_slots)}_keys"
            parent_json = (
                col
                if json_path == "$"
                else F.get_json_object(col, json_path)
            )
            lets_layers[1][name] = F.json_object_keys(parent_json)
            _key_slots[json_path] = name
        return name

    def _slot_cols(path: str, mini: dict) -> dict:
        """Materialized slot columns for a path, in the form
        :func:`_schema_pred` accepts as ``slots`` — same-path schema
        nodes then reference projection columns instead of binding.
        The array<variant> slot joins only when ``mini`` has array
        keywords, so no other check references it."""
        sub_n, tag_n, dbl_n, str_n = _slot(path)
        slots = {
            "sub": F.col(sub_n),
            "tag": F.col(tag_n),
            "dbl": F.col(dbl_n),
            "sstr": F.col(str_n),
        }
        if any(k in mini for k in _JS_ARRAY_KEYWORDS):
            slots["arr_v"] = F.col(_arr_slot(path))
        return slots

    def add(kind: str, issue_type: str, message: str, ok: Column) -> None:
        checks.append(
            CompiledCheck(
                name=f"{field.name}.jsonSchema.{kind}",
                column=field.name,
                issue_type=issue_type,
                message=message,
                ok=ok,
                instance=inst,
                lets=lets_layers,
            )
        )

    def keyword_checks(node: dict, path: str, kprefix: str, dotted) -> None:
        """One check per keyword of ``node`` at ``path``, each through
        the core over the path's slots; ``dotted`` is None at the root.
        Absent values and NULL/invalid JSON pass (``required`` and the
        type check own those failures)."""
        for kind, (prop_msg, root_msg) in _JS_KEYWORD_CHECKS.items():
            found = _keyword_mini(kind, node, dotted is None, actual_type)
            if found is None:
                continue
            mini, shown = found
            if dotted is None:
                message = root_msg.format(v=shown)
            else:
                message = prop_msg.format(p=dotted, v=shown)
            slots = _slot_cols(path, mini)
            pred = _schema_pred(mini, _v(), path, slots)
            add(
                kprefix + kind,
                kind.rsplit(".", 1)[-1],
                message,
                col.isNull()
                | slots["sub"].isNull()
                | F.coalesce(pred, F.lit(False)),
            )

    top_type = js.get("type")
    if top_type in ("object", "array"):
        opener = r"^\s*\{" if top_type == "object" else r"^\s*\["
        add(
            "type",
            "type",
            f"value is not a JSON {top_type}",
            col.isNull() | (_v().isNotNull() & col.rlike(opener)),
        )
    elif top_type:
        keyword_checks({"type": top_type}, "$", "", None)

    def walk(node: dict, json_path: str, kind_prefix: str, dotted_prefix: str) -> None:
        # key presence for required: json_object_keys of this node's
        # JSON text (the column itself at the root, get_json_object
        # extraction below it), hoisted to a shared slot so N required
        # props re-read one column instead of re-parsing N times.
        # NULL keys ⇒ not an object ⇒ no-op.
        keys = (
            F.col(_keys_slot(json_path)) if node.get("required") else None
        )
        for prop in node.get("required", []):
            dotted = f"{dotted_prefix}{prop}"
            add(
                f"{kind_prefix}required.{prop}",
                "required",
                f"{dotted} is a required property",
                col.isNull()
                | keys.isNull()
                | F.array_contains(keys, F.lit(prop)),
            )
        for prop, sub_schema in (node.get("properties") or {}).items():
            if not isinstance(sub_schema, dict):
                continue
            path = f"{json_path}.{prop}"
            dotted = f"{dotted_prefix}{prop}"
            kprefix = f"{kind_prefix}properties.{prop}."
            keyword_checks(sub_schema, path, kprefix, dotted)
            if sub_schema.get("properties") or sub_schema.get("required"):
                walk(sub_schema, path, kprefix, f"{dotted}.")

    walk(js, "$", "", "")
    keyword_checks({k: s for k, s in js.items() if k != "type"}, "$", "", None)

    _root_items = js.get("items")
    items_required = (
        _root_items.get("required", []) if isinstance(_root_items, dict) else []
    )
    if items_required:
        from .operators.text import let_col

        if actual_type == "array":
            arr: Column = col
        else:
            struct_fields = ",".join(f"{p}:string" for p in items_required)
            arr = F.from_json(col, f"array<struct<{struct_fields}>>")
            # PERMISSIVE: malformed → null (isNotNull gate below)
        def make_ok_pred(prop: str):
            # single-arg lambda (PySpark binds a 2-arg callable as
            # (element, index) — a defaulted second param would receive
            # the INDEX lambda variable); let-bound so the null-gate +
            # forall share one parse of ``arr`` (from_json would
            # otherwise run twice per row)
            def ok_pred(a: Column) -> Column:
                return a.isNotNull() & F.forall(
                    a, lambda x: x[prop].isNotNull()
                )

            return ok_pred

        for prop in items_required:
            add(
                f"items.required.{prop}",
                "required",
                f"{prop} is a required property of every item",
                col.isNull() | let_col(arr, make_ok_pred(prop)),
            )
    return checks


def compile_invariant(
    name: str,
    ok: Column,
    issue_type: str,
    message: str,
    column: Optional[str] = None,
    instance: Optional[Column] = None,
) -> CompiledCheck:
    """Compile an ad-hoc row invariant (e.g. ``size(tokens) == n_tok``,
    the BASELINE per-row token-array invariant) into a check."""
    return CompiledCheck(
        name=name,
        column=column,
        issue_type=issue_type,
        message=message,
        ok=ok,
        instance=(instance if instance is not None else F.lit(None)).cast("string"),
    )


def compile_any_of_required(
    columns: Sequence[str], table_name: str = ""
) -> CompiledCheck:
    """anyOf-required: at least one of ``columns`` must be non-null —
    the reference's licenses ``anyOf(name, path)`` rule lifted to
    columns (ref _handle_licenses check.py:878-898; message shape
    'must have at least one of: `name`, `path`')."""
    cols = list(columns)
    ok = F.lit(False)
    for c in cols:
        ok = ok | F.col(c).isNotNull()
    pretty = ", ".join(f"`{c}`" for c in cols)
    return CompiledCheck(
        name=f"{'|'.join(cols)}.anyOf",
        column=None,
        issue_type="anyOf",
        message=f"must have at least one of: {pretty}",
        ok=ok,
        instance=F.lit(None).cast("string"),
    )


def _presence_counts(columns: Sequence[str]) -> Column:
    """Number of non-null values among ``columns`` for the row."""
    n = F.lit(0)
    for c in columns:
        n = n + F.col(c).isNotNull().cast("int")
    return n


def compile_one_of_required(
    columns: Sequence[str], table_name: str = ""
) -> list[CompiledCheck]:
    """oneOf-required: EXACTLY one of ``columns`` non-null — the
    reference's resource path-vs-data oneOf lifted to columns
    (ref check.py:619-645 _handle_S_resources_x; GROUP_ERRORS
    constants.py:5).

    Mirrors the reference's two failure surfaces exactly
    (tests/test_check.py:556-568, 624-628): NONE present → type
    "required" with the informative combined message (not one error per
    column); MORE than one present → type "oneOf". A row can fail at
    most one of the two checks, so the pair is still one logical
    combinator.
    """
    cols = list(columns)
    n = _presence_counts(cols)
    pretty_or = " or ".join(f"`{c}`" for c in cols)
    pretty = ", ".join(f"`{c}`" for c in cols)
    none_present = CompiledCheck(
        name=f"{'|'.join(cols)}.oneOf.required",
        column=None,
        issue_type="required",
        message=(
            f"This row has no {pretty_or} field. One of them must be provided."
        ),
        ok=n >= 1,
        instance=F.lit(None).cast("string"),
    )
    too_many = CompiledCheck(
        name=f"{'|'.join(cols)}.oneOf",
        column=None,
        issue_type="oneOf",
        message=f"must have exactly one of: {pretty}",
        ok=n <= 1,
        instance=F.lit(None).cast("string"),
    )
    return [none_present, too_many]


def compile_all_of_required(
    columns: Sequence[str], table_name: str = ""
) -> CompiledCheck:
    """allOf-required: every one of ``columns`` must be non-null
    (GROUP_ERRORS third combinator, ref constants.py:5). One grouped
    issue per failing row — the per-column detail belongs to the
    per-field required checks when declared."""
    cols = list(columns)
    ok = F.lit(True)
    for c in cols:
        ok = ok & F.col(c).isNotNull()
    pretty = ", ".join(f"`{c}`" for c in cols)
    return CompiledCheck(
        name=f"{'|'.join(cols)}.allOf",
        column=None,
        issue_type="allOf",
        message=f"must have all of: {pretty}",
        ok=ok,
        instance=F.lit(None).cast("string"),
    )


def compile_one_of(
    name: str, predicates: Sequence[Column], message: Optional[str] = None
) -> CompiledCheck:
    """Generic oneOf over arbitrary row predicates: exactly one must
    hold (jsonschema oneOf over subschemas, lifted to predicates)."""
    n = F.lit(0)
    for p in predicates:
        n = n + p.cast("int")
    return CompiledCheck(
        name=f"{name}.oneOf",
        column=None,
        issue_type="oneOf",
        message=message or "exactly one of the alternatives must hold",
        ok=n == 1,
        instance=F.lit(None).cast("string"),
    )


def compile_all_of(
    name: str, predicates: Sequence[Column], message: Optional[str] = None
) -> CompiledCheck:
    """Generic allOf over arbitrary row predicates (fused into one
    boolean expression — no extra scan per subschema)."""
    ok = F.lit(True)
    for p in predicates:
        ok = ok & p
    return CompiledCheck(
        name=f"{name}.allOf",
        column=None,
        issue_type="allOf",
        message=message or "all of the alternatives must hold",
        ok=ok,
        instance=F.lit(None).cast("string"),
    )


def compile_table_checks(
    spec: TableSpec,
    extra: Optional[list[CompiledCheck]] = None,
    schema=None,
) -> list[CompiledCheck]:
    """All row-level checks for a table, in canonical field order.

    ``schema`` (a StructType, optional) routes C2 between the
    string-staging parse check and structural conformance.
    """
    actual = (
        {f.name: f.dataType.typeName() for f in schema.fields} if schema else {}
    )
    checks: list[CompiledCheck] = []
    for field in spec.fields:
        checks.extend(
            compile_field_checks(field, spec.name, actual_type=actual.get(field.name))
        )
    # declarative combinators (GROUP_ERRORS: oneOf/anyOf/allOf over
    # column groups, spec schema keys of the same names). When the
    # physical schema is known, a combinator referencing an absent
    # column is skipped — the missing column surfaces through
    # schema_conforms, not an unresolvable expression.
    def _cols_present(group) -> bool:
        return schema is None or all(c in actual for c in group)

    for group in spec.one_of:
        if _cols_present(group):
            checks.extend(compile_one_of_required(group, spec.name))
    for group in spec.any_of:
        if _cols_present(group):
            checks.append(compile_any_of_required(group, spec.name))
    for group in spec.all_of:
        if _cols_present(group):
            checks.append(compile_all_of_required(group, spec.name))
    if extra:
        checks.extend(extra)
    return checks


def schema_conforms(df: DataFrame, spec: TableSpec) -> list:
    """Driver-side structural C2: natively-typed columns vs declared types.

    For typed parquet/Iceberg columns type conformance is a property of
    the file schema, not the rows — compare ``df.schema`` to the expected
    Spark type family (SURVEY §1.3 table). Returns spec-level Issues.
    """
    from .issue import Issue

    expected_families = {
        "string": {"string"},
        "number": {"double", "float", "decimal"},
        "integer": {"int", "integer", "long", "bigint", "smallint", "tinyint"},
        "boolean": {"boolean"},
        "date": {"date", "string"},
        "time": {"string"},
        "datetime": {"timestamp", "timestamp_ntz", "string"},
        "year": {"int", "integer", "string"},
        "yearmonth": {"string"},
        "object": {"map", "struct", "string", "variant"},
        "geojson": {"string", "variant"},
        "geopoint": {"array", "string"},
        "array": {"array", "string"},
        "duration": {"string", "interval"},
        "any": None,
    }
    issues = []
    actual = {f.name: f.dataType.typeName() for f in df.schema.fields}
    for i, fs in enumerate(spec.fields):
        fam = expected_families.get(fs.type)
        if fam is None:
            continue
        tn = actual.get(fs.name)
        if tn is None:
            issues.append(
                Issue(
                    jsonpath=f"$.{spec.name}.schema.fields[{i}].name",
                    type="required",
                    message=f"column '{fs.name}' declared in the spec is missing from the table",
                    instance=None,
                )
            )
        elif not any(tn.startswith(x) for x in fam):
            issues.append(
                Issue(
                    jsonpath=f"$.{spec.name}.schema.fields[{i}].type",
                    type="type",
                    message=(
                        f"column '{fs.name}' has Spark type '{tn}' which does "
                        f"not conform to declared type '{fs.type}'"
                    ),
                    instance=tn,
                )
            )
    return issues
