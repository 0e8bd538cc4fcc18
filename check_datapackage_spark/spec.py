"""Check-spec model: a declarative, per-column constraint specification.

The reference validates a ``datapackage.json`` dict against the bundled
Draft-7 schema (``/root/reference/src/check_datapackage/check.py:250-291``).
Our engine inverts the orientation (SURVEY.md §1.2): the descriptor becomes
the *check spec* — what to validate — and the validated object is a Spark
table. The vocabulary is lifted verbatim:

* the 15 Table Schema field types (``constants.py:12-28``)
* the constraint vocabulary per type (SURVEY.md §1.4)
* string-or-list normalization of primaryKey / foreignKey fields
  (``check.py:390-400``)
* absent field type defaults to ``"string"`` (``check.py:698``)

Everything here is driver-side, pure Python, and runs before any data is
read — spec parsing/validation is plan *construction*, not execution.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, replace
from typing import Any, Optional, Union

from .jsonpath import address_regex, parse as parse_jsonpath

#: The 15 Table Schema field types (ref constants.py:12-28).
FIELD_TYPES = [
    "string",
    "number",
    "integer",
    "date",
    "time",
    "datetime",
    "year",
    "yearmonth",
    "boolean",
    "object",
    "geopoint",
    "geojson",
    "array",
    "duration",
    "any",
]

#: Types that accept numeric/temporal range constraints (SURVEY.md §1.4).
RANGE_TYPES = {
    "number",
    "integer",
    "year",
    "date",
    "time",
    "datetime",
    "yearmonth",
    "duration",
}

#: Types that accept length constraints (string = chars, rest = size()).
LENGTH_TYPES = {"string", "object", "array", "geojson"}

#: Error-group keywords (ref constants.py:5).
GROUP_ERRORS = ["oneOf", "anyOf", "allOf"]

#: ref check.py:519 — strict name pattern (package and resource names).
STRICT_NAME_PATTERN = r"^[a-z0-9._-]+$"

#: ref check.py:522-527 — the suggested semver regex from semver.org,
#: applied to `version` under strict mode (named groups dropped: Spark's
#: rlike uses Java regex where (?P<name>) is invalid syntax).
SEMVER_PATTERN = (
    r"^(0|[1-9]\d*)\.(0|[1-9]\d*)\.(0|[1-9]\d*)"
    r"(?:-((?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*)(?:\.(?:0"
    r"|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*))*))?(?:\+("
    r"[0-9a-zA-Z-]+(?:\.[0-9a-zA-Z-]+)*))?$"
)


def strictify(spec):
    """Strict profile — the full reference rule set
    (ref _set_should_fields_to_required, check.py:516-538):

    * every declared field promoted to required (SHOULD → REQUIRED)
    * ``name`` field: strict name pattern
    * ``version`` field: semver pattern (ref check.py:522-527)
    * ``contributors`` / ``sources`` fields: every item must have a
      ``title`` (ref check.py:533-534) — compiled via the jsonSchema
      ``items.required`` constraint, which routes on the physical type
      (array<struct> forall / JSON-string from_json)

    The table name itself is checked by :func:`strict_spec_issues`.
    :class:`~.plans.validation.ValidationPlan` applies both whenever
    ``config.strict`` is set; the rewrite is idempotent.
    """
    fields = []
    for f in spec.fields:
        c = f.constraints
        if f.name == "name" and c.pattern is None:
            c = replace(c, pattern=STRICT_NAME_PATTERN)
        if f.name == "version" and c.pattern is None:
            c = replace(c, pattern=SEMVER_PATTERN)
        if f.name in ("contributors", "sources"):
            js = dict(c.json_schema or {})
            items = dict(js.get("items") or {})
            req = list(items.get("required") or [])
            if "title" not in req:
                req.append("title")
            items["required"] = req
            js["items"] = items
            c = replace(c, json_schema=js)
        fields.append(replace(f, constraints=replace(c, required=True)))
    return replace(spec, fields=tuple(fields))


def strict_spec_issues(spec) -> list:
    """Spec-level strict checks: the table (resource) name must match
    the strict name pattern (ref resources/items name pattern,
    check.py:535-537; tests/test_check.py:446-496)."""
    import re as _re

    from .issue import Issue

    if _re.fullmatch(STRICT_NAME_PATTERN, spec.name):
        return []
    return [
        Issue(
            jsonpath=f"$.{spec.name}.name",
            type="pattern",
            message=f"'{spec.name}' does not match '{STRICT_NAME_PATTERN}'",
            instance=spec.name,
        )
    ]


@dataclass(frozen=True)
class Constraints:
    """Per-field constraints — the 10 core constraint kinds (SURVEY §1.4).

    Field names follow Table Schema camelCase in the dict form and
    snake_case here.
    """

    required: bool = False
    unique: bool = False
    enum: Optional[tuple] = None
    pattern: Optional[str] = None
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    minimum: Optional[Any] = None
    maximum: Optional[Any] = None
    exclusive_minimum: Optional[Any] = None
    exclusive_maximum: Optional[Any] = None
    min_items: Optional[int] = None
    max_items: Optional[int] = None
    unique_items: bool = False
    json_schema: Optional[dict] = dc_field(default=None, hash=False, compare=False)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "Constraints":
        return cls(
            required=bool(d.get("required", False)),
            unique=bool(d.get("unique", False)),
            enum=tuple(d["enum"]) if d.get("enum") is not None else None,
            pattern=d.get("pattern"),
            min_length=d.get("minLength"),
            max_length=d.get("maxLength"),
            minimum=d.get("minimum"),
            maximum=d.get("maximum"),
            exclusive_minimum=d.get("exclusiveMinimum"),
            exclusive_maximum=d.get("exclusiveMaximum"),
            min_items=d.get("minItems"),
            max_items=d.get("maxItems"),
            unique_items=bool(d.get("uniqueItems", False)),
            json_schema=d.get("jsonSchema"),
        )

    def is_empty(self) -> bool:
        return self == Constraints()


@dataclass(frozen=True)
class FieldSpec:
    """One column's declaration (Table Schema field).

    ``type`` defaults to "string" when absent (ref check.py:698).
    """

    name: str
    type: str = "string"
    format: str = "default"
    title: Optional[str] = None
    description: Optional[str] = None
    constraints: Constraints = dc_field(default_factory=Constraints)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "FieldSpec":
        return cls(
            name=d["name"],
            type=d.get("type", "string"),
            format=d.get("format", "default"),
            title=d.get("title"),
            description=d.get("description"),
            constraints=Constraints.from_dict(d.get("constraints", {})),
        )


@dataclass(frozen=True)
class ForeignKeySpec:
    """A foreign-key declaration (ref check.py:361-387 semantics).

    ``fields``/``reference_fields`` are normalized string-or-list
    (ref ``_key_fields_as_str_list`` check.py:390-400). An empty
    ``reference_resource`` means self-referential (ref check.py:369-375).
    """

    fields: tuple[str, ...]
    reference_resource: str
    reference_fields: tuple[str, ...]

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "ForeignKeySpec":
        ref = d.get("reference", {})
        return cls(
            fields=_as_str_tuple(d.get("fields", ())),
            reference_resource=ref.get("resource", ""),
            reference_fields=_as_str_tuple(ref.get("fields", ())),
        )


class SpecTypeError(ValueError):
    """A spec property has the wrong JSON type (ref G5/G6 handlers,
    check.py:786-875: '… must be a string or an array')."""


def _as_str_tuple(v: Union[str, list, tuple]) -> tuple[str, ...]:
    """String-or-list key normalization (ref check.py:390-400).

    Wrong-typed input raises with the reference's G5/G6 message shape
    (check.py:786-817 primaryKey, check.py:820-875 foreignKey fields).
    """
    if isinstance(v, str):
        return (v,)
    if isinstance(v, (list, tuple)):
        bad = [x for x in v if not isinstance(x, str)]
        if bad:
            raise SpecTypeError(
                "must be a string or an array of strings, "
                f"got non-string elements: {bad!r}"
            )
        return tuple(v)
    raise SpecTypeError(f"must be a string or an array, got {type(v).__name__}")


@dataclass(frozen=True)
class TableSpec:
    """One table's full declaration (Table Schema resource.schema analog)."""

    name: str
    fields: tuple[FieldSpec, ...] = ()
    primary_key: tuple[str, ...] = ()
    unique_keys: tuple[tuple[str, ...], ...] = ()
    foreign_keys: tuple[ForeignKeySpec, ...] = ()
    missing_values: tuple[str, ...] = ("",)
    partition_by: tuple[str, ...] = ()
    #: boolean combinators over column groups (GROUP_ERRORS, ref
    #: constants.py:5; handling check.py:917-950). Each entry is a
    #: tuple of column names: one_of ⇒ exactly one non-null per row,
    #: any_of ⇒ at least one, all_of ⇒ all.
    one_of: tuple[tuple[str, ...], ...] = ()
    any_of: tuple[tuple[str, ...], ...] = ()
    all_of: tuple[tuple[str, ...], ...] = ()

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TableSpec":
        """Parse a datapackage.json resource-shaped dict.

        Accepts either a resource dict (``{"name":…, "schema": {…}}``)
        or a bare Table Schema dict (``{"fields": […]}``). The
        ``oneOf``/``anyOf``/``allOf`` schema keys each take a list of
        column-name lists (the table analog of the reference's
        grouped-error combinators, e.g. resource path-vs-data oneOf).
        """
        schema = d.get("schema", d)

        def _groups(key: str) -> tuple[tuple[str, ...], ...]:
            return tuple(_as_str_tuple(g) for g in schema.get(key, []))

        return cls(
            name=d.get("name", "table"),
            fields=tuple(FieldSpec.from_dict(f) for f in schema.get("fields", [])),
            primary_key=_as_str_tuple(schema.get("primaryKey", ())),
            unique_keys=tuple(
                _as_str_tuple(k) for k in schema.get("uniqueKeys", [])
            ),
            foreign_keys=tuple(
                ForeignKeySpec.from_dict(fk) for fk in schema.get("foreignKeys", [])
            ),
            missing_values=tuple(schema.get("missingValues", [""])),
            partition_by=_as_str_tuple(d.get("partitionBy", ())),
            one_of=_groups("oneOf"),
            any_of=_groups("anyOf"),
            all_of=_groups("allOf"),
        )

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]

    def field(self, name: str) -> Optional[FieldSpec]:
        for f in self.fields:
            if f.name == name:
                return f
        return None


def is_jsonpath(path: str) -> bool:
    """Syntactic jsonpath validation (ref ``_is_jsonpath``,
    internals.py:49-67): the path parses in the one grammar of
    :mod:`.jsonpath` — relative paths are allowed (the reference accepts
    ``created``, ``contributors[0].path``), the ``&`` intersection
    operator is rejected exactly like the reference."""
    try:
        parse_jsonpath(path)
    except ValueError:
        return False
    return True


@dataclass(frozen=True)
class Exclusion:
    """Issue-exclusion filter (ref exclusion.py:11-47).

    Within one exclusion: AND of the set fields; across exclusions: OR.
    An empty exclusion matches nothing (ref exclusion.py:50-78).
    ``jsonpath`` selects violation addresses with the wildcard, union,
    descent and relative forms of :func:`.jsonpath.address_regex`
    (ref exclusion.py:81-84). It is validated at construction (P4, ref
    internals.py:49-70 pydantic Annotated type): a path outside the
    grammar, or a slice/filter that cannot address a violation row,
    raises :class:`SpecTypeError` instead of silently matching nothing.
    """

    jsonpath: Optional[str] = None
    type: Optional[str] = None

    def __post_init__(self) -> None:
        if self.jsonpath is not None:
            try:
                address_regex(self.jsonpath)
            except ValueError as e:
                raise SpecTypeError(
                    f"invalid jsonpath: {self.jsonpath!r} ({e})"
                ) from None

    def is_empty(self) -> bool:
        return self.jsonpath is None and self.type is None


@dataclass(frozen=True)
class CheckConfig:
    """Engine run configuration (ref config.py:9-53).

    ``strict`` enables the strict-profile extra checks (ref
    check.py:516-538: :func:`strictify` and :func:`strict_spec_issues`,
    applied by every validation entry point); ``exclusions`` filter emitted violations;
    ``extensions`` (CustomCheck/RequiredCheck) append user checks, which
    :func:`~.plans.validation.check_table` compiles against the table's
    schema (ref check(extensions=...), check.py:250).
    """

    strict: bool = False
    #: Data Package standard version to validate against (ref
    #: config.py:53 ``Literal["v1","v2"]``). v1 predates ``uniqueKeys``
    #: (a v2 addition) — declaring them under v1 is a spec issue.
    version: str = "v2"
    exclusions: tuple[Exclusion, ...] = ()
    extensions: tuple = ()
    #: max violation example rows persisted per (check, partition);
    #: summaries are always complete (SURVEY §4 short-circuit note).
    max_examples_per_check: Optional[int] = None

    def __post_init__(self) -> None:
        if self.version not in ("v1", "v2"):
            raise ValueError(
                f"version must be 'v1' or 'v2', got {self.version!r}"
            )


# ---------------------------------------------------------------------------
# Spec-level validation (the reference's own job, reproduced on the driver)
# ---------------------------------------------------------------------------


#: allowed JSON member types for an enum constraint, per field type —
#: extracted from the reference schema's per-type constraint
#: sub-schemas (data-package-2-0.json fields/items/oneOf: each ``enum``
#: is an array of ONE item type, or a oneOf of such arrays). ``any``
#: has no restriction; ``number`` accepts JSON integers too.
_ENUM_MEMBER_TYPES = {
    "string": ("string",),
    "number": ("string", "number"),
    "integer": ("string", "integer"),
    "date": ("string",),
    "time": ("string",),
    "datetime": ("string",),
    "year": ("string", "integer"),
    "yearmonth": ("string",),
    "boolean": ("boolean",),
    "object": ("string", "object"),
    "geopoint": ("string", "array", "object"),
    "geojson": ("string", "object"),
    "array": ("string", "array"),
    "duration": ("string",),
    "any": None,
}


def _json_type_name(v) -> str:
    if isinstance(v, bool):  # before int: bool ⊂ int in Python
        return "boolean"
    if isinstance(v, str):
        return "string"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, dict):
        return "object"
    if isinstance(v, (list, tuple)):
        return "array"
    return "null" if v is None else type(v).__name__


def _enum_constraint_issues(f, enum, fpath: str) -> list:
    """Spec-level enum constraint validation, reference parity
    (ref check.py:728-783 + the per-type enum sub-schemas):

    * empty enum → ``minItems`` (schema: minItems 1)
    * duplicate values → ``uniqueItems``
      (test_fail_field_with_non_unique_enum_values)
    * single allowed member type, wrong member → raw per-item ``type``
      issue at ``enum[i]`` (test_fail_simple_field_with_bad_enum_constraint)
    * several allowed types (oneOf), all members same wrong type →
      "The enum value type is not correct…" at ``enum``
      (test_fail_complex_field_with_bad_enum_constraint)
    * mixed member types fitting no single alternative →
      "All enum values must be the same type." at ``enum``
      (test_fail_field_with_mixed_type_enum_constraint)
    """
    from .issue import Issue

    issues = []
    epath = f"{fpath}.constraints.enum"
    values = list(enum)
    if not values:
        issues.append(
            Issue(
                jsonpath=epath,
                type="minItems",
                message="enum must have at least one value",
                instance=values,
            )
        )
        return issues
    try:
        has_dups = len(set(values)) != len(values)
    except TypeError:  # unhashable members (lists/dicts)
        has_dups = any(
            values[i] == values[j]
            for i in range(len(values))
            for j in range(i + 1, len(values))
        )
    if has_dups:
        issues.append(
            Issue(
                jsonpath=epath,
                type="uniqueItems",
                message="enum values must be unique",
                instance=values,
            )
        )

    allowed = _ENUM_MEMBER_TYPES.get(f.type)
    if allowed is None:  # "any": no member-type restriction
        return issues

    def fits(member_t: str, alt: str) -> bool:
        return member_t == alt or (alt == "number" and member_t == "integer")

    member_types = [_json_type_name(v) for v in values]
    if any(all(fits(m, alt) for m in member_types) for alt in allowed):
        return issues  # some alternative admits every member

    if len(allowed) == 1:
        # simple: the raw jsonschema per-item error shape
        alt = allowed[0]
        for i, (v, m) in enumerate(zip(values, member_types)):
            if not fits(m, alt):
                issues.append(
                    Issue(
                        jsonpath=f"{epath}[{i}]",
                        type="type",
                        message=f"{v!r} is not of type '{alt}'",
                        instance=v,
                    )
                )
    elif len(set(member_types)) > 1:
        issues.append(
            Issue(
                jsonpath=epath,
                type="type",
                message="All enum values must be the same type.",
                instance=values,
            )
        )
    else:
        issues.append(
            Issue(
                jsonpath=epath,
                type="type",
                message=(
                    "The enum value type is not correct. Enum values "
                    f"should be one of {', '.join(allowed)}."
                ),
                instance=values,
            )
        )
    return issues


def validate_spec(spec: TableSpec, version: str = "v2") -> list:
    """Validate a TableSpec the way the reference validates a descriptor.

    Driver-side only, returns a list of :class:`~.issue.Issue`. Covers the
    reference's structural rules that survive translation to our spec
    model: unknown field type (ref check.py:683-725 → single enum issue),
    primary-key fields must exist (``_check_primary_key`` check.py:340-358),
    FK source fields must exist + arity match
    (``_check_fk_source_fields`` check.py:413-447), FK destination
    fields (``check.py:450-513``), and constraint applicability per type
    (SURVEY §1.4 vocabulary).

    ``version`` selects the standard vocabulary (ref config.py:53):
    under ``"v1"`` the v2-only ``uniqueKeys`` property is flagged.
    """
    from .issue import Issue, finalize_issues

    issues: list[Issue] = []
    names = spec.field_names()
    root = f"$.{spec.name}.schema"

    if version == "v1" and spec.unique_keys:
        issues.append(
            Issue(
                jsonpath=f"{root}.uniqueKeys",
                type="additionalProperties",
                message=(
                    "`uniqueKeys` is a Data Package v2 property and is "
                    "not allowed under version 'v1'"
                ),
                instance=[list(k) for k in spec.unique_keys],
            )
        )

    for i, f in enumerate(spec.fields):
        fpath = f"{root}.fields[{i}]"
        if f.type not in FIELD_TYPES:
            # Unknown type → single enum issue on the type property
            # (ref check.py:683-725, test_check.py:700-733).
            issues.append(
                Issue(
                    jsonpath=f"{fpath}.type",
                    type="enum",
                    message=(
                        f"'{f.type}' is not one of {FIELD_TYPES!r}".replace("'", "'")
                    ),
                    instance=f.type,
                )
            )
            continue
        c = f.constraints
        if c.pattern is not None and f.type != "string":
            issues.append(
                Issue(
                    jsonpath=f"{fpath}.constraints.pattern",
                    type="type",
                    message=f"'pattern' constraint only applies to string fields, not '{f.type}'",
                    instance=c.pattern,
                )
            )
        if (c.min_length is not None or c.max_length is not None) and (
            f.type not in LENGTH_TYPES
        ):
            issues.append(
                Issue(
                    jsonpath=f"{fpath}.constraints.minLength",
                    type="type",
                    message=f"length constraints do not apply to '{f.type}' fields",
                    instance=c.min_length if c.min_length is not None else c.max_length,
                )
            )
        if any(
            v is not None
            for v in (c.minimum, c.maximum, c.exclusive_minimum, c.exclusive_maximum)
        ) and f.type not in RANGE_TYPES:
            issues.append(
                Issue(
                    jsonpath=f"{fpath}.constraints.minimum",
                    type="type",
                    message=f"range constraints do not apply to '{f.type}' fields",
                    instance=None,
                )
            )
        if c.enum is not None:
            issues.extend(_enum_constraint_issues(f, c.enum, fpath))

    # Primary key fields must exist (ref check.py:340-358; "" flagged too).
    unknown_pk = [k for k in spec.primary_key if k not in names]
    if unknown_pk:
        issues.append(
            Issue(
                jsonpath=f"{root}.primaryKey",
                type="primary-key",
                message=(
                    "The following fields in the `primaryKey` property "
                    f"are not in the `fields` property: {unknown_pk}"
                ),
                instance=list(spec.primary_key),
            )
        )

    for j, fk in enumerate(spec.foreign_keys):
        fk_path = f"{root}.foreignKeys[{j}]"
        unknown_src = [k for k in fk.fields if k not in names]
        if unknown_src:
            # ref _check_fk_source_fields check.py:417-432
            issues.append(
                Issue(
                    jsonpath=f"{fk_path}.fields",
                    type="foreign-key-source-fields",
                    message=(
                        "The following fields in the `fields` property of a "
                        f"foreign key are not in the `fields` property of the "
                        f"resource: {unknown_src}"
                    ),
                    instance=list(fk.fields),
                )
            )
        if len(fk.fields) != len(fk.reference_fields):
            # ref arity check check.py:434-446
            issues.append(
                Issue(
                    jsonpath=f"{fk_path}.fields",
                    type="foreign-key-source-fields",
                    message=(
                        "The number of fields in the `fields` property of a "
                        "foreign key must match the number of fields in its "
                        "`reference.fields` property."
                    ),
                    instance=list(fk.fields),
                )
            )
        if not fk.reference_resource:
            # Self-referential FK: dest fields must exist in this table
            # (ref _check_fk_dest_fields_same_resource check.py:450-471).
            unknown_dst = [k for k in fk.reference_fields if k not in names]
            if unknown_dst:
                issues.append(
                    Issue(
                        jsonpath=f"{fk_path}.reference.fields",
                        type="foreign-key-destination-fields",
                        message=(
                            "The following fields in the `reference.fields` "
                            "property of a foreign key are not in the `fields` "
                            f"property of the resource: {unknown_dst}"
                        ),
                        instance=list(fk.reference_fields),
                    )
                )

    return finalize_issues(issues)


def validate_spec_against(
    spec: TableSpec, dims: dict[str, "TableSpec"]
) -> list:
    """Cross-resource FK declaration checks (ref check.py:474-513).

    ``dims`` maps resource name → TableSpec for every other declared
    resource. Missing destination resource →
    ``foreign-key-destination-resource``; missing destination fields →
    ``foreign-key-destination-fields``.
    """
    from .issue import Issue, finalize_issues

    issues: list[Issue] = []
    root = f"$.{spec.name}.schema"
    for j, fk in enumerate(spec.foreign_keys):
        if not fk.reference_resource:
            continue
        fk_path = f"{root}.foreignKeys[{j}]"
        dest = dims.get(fk.reference_resource)
        if dest is None:
            issues.append(
                Issue(
                    jsonpath=f"{fk_path}.reference.resource",
                    type="foreign-key-destination-resource",
                    message=(
                        f"No resource named '{fk.reference_resource}' was "
                        "found for the `resource` property of a foreign key."
                    ),
                    instance=fk.reference_resource,
                )
            )
            continue
        unknown = [k for k in fk.reference_fields if k not in dest.field_names()]
        if unknown:
            issues.append(
                Issue(
                    jsonpath=f"{fk_path}.reference.fields",
                    type="foreign-key-destination-fields",
                    message=(
                        "The following fields in the `reference.fields` "
                        "property of a foreign key are not in the `fields` "
                        f"property of the resource '{fk.reference_resource}': "
                        f"{unknown}"
                    ),
                    instance=list(fk.reference_fields),
                )
            )
    return finalize_issues(issues)


#: Data Package 2.0 ``path`` pattern (standard profile,
#: ref schemas/data-package-2-0.json resources.items.properties.path):
#: POSIX relative path (no leading ``/ . ~``, no ``/../``, no ``\``, no
#: scheme) or an http/ftp(s) URL.
PATH_PATTERN = (
    r"^((?=[^./~])(?!file:)((?!/\.\./)(?!\\)(?!://).)*|(http|ftp)s?://.*)$"
)


def _path_issues(v: Any, rp: str) -> list:
    """G2 — ``path`` string-vs-array adjudication (ref
    ``_handle_S_resources_x_path`` check.py:648-680, profile oneOf
    [string, array-of-string] with the path pattern and minItems 1):
    route on the ACTUAL type and only emit that branch's errors; a
    value of neither type collapses to the single synthesized message
    (ref test_check.py:646-664 matrix)."""
    import re

    from .issue import Issue

    pat = re.compile(PATH_PATTERN)
    if isinstance(v, str):
        if not pat.match(v):
            return [
                Issue(
                    jsonpath=f"{rp}.path",
                    type="pattern",
                    message=f"{v!r} does not match {PATH_PATTERN!r}",
                    instance=v,
                )
            ]
        return []
    if isinstance(v, list):
        if not v:
            return [
                Issue(
                    jsonpath=f"{rp}.path",
                    type="minItems",
                    message="[] should be non-empty",
                    instance=v,
                )
            ]
        out = []
        for i, el in enumerate(v):
            if not isinstance(el, str):
                out.append(
                    Issue(
                        jsonpath=f"{rp}.path[{i}]",
                        type="type",
                        message=f"{el!r} is not of type 'string'",
                        instance=el,
                    )
                )
            elif not pat.match(el):
                out.append(
                    Issue(
                        jsonpath=f"{rp}.path[{i}]",
                        type="pattern",
                        message=f"{el!r} does not match {PATH_PATTERN!r}",
                        instance=el,
                    )
                )
        return out
    return [
        Issue(
            jsonpath=f"{rp}.path",
            type="type",
            message="The `path` property must be either a string or an array.",
            instance=v,
        )
    ]


def validate_package(doc: dict) -> list:
    """Package-descriptor structural checks — the G1/G2 grouped-error
    adjudications (ref ``_handle_S_resources_x`` check.py:616-645 and
    ``_handle_S_resources_x_path`` check.py:648-680 over the standard
    profile's resource oneOf(name+path, name+data)):

    * missing ``resources`` → one ``required`` issue at ``$``;
    * resource with NEITHER ``path`` nor ``data`` → ONE synthesized
      ``required`` issue at ``$.resources[x]`` (never two separate
      missing-property issues — the reference drops the children and
      the oneOf parent, ref test_check.py:557-568);
    * resource with BOTH → the surviving ``oneOf`` parent
      (ref test_check.py:621-628; message wording is ours, the
      reference passes jsonschema's parent message through);
    * missing ``name`` → ``required`` at ``$.resources[x].name`` with
      ``instance=MISSING`` (ref test_check.py:571-581);
    * ``path`` adjudication per :func:`_path_issues`.

    Driver-side only — a descriptor is a few KB of JSON; nothing here
    touches the data plane. Per-resource SCHEMA rules live in
    :func:`validate_spec` / :func:`validate_spec_against`.
    """
    from .issue import MISSING, Issue, finalize_issues

    issues: list = []
    resources = doc.get("resources")
    if resources is None:
        return finalize_issues(
            [
                Issue(
                    jsonpath="$",
                    type="required",
                    message="'resources' is a required property",
                    instance=MISSING,
                )
            ]
        )
    for x, r in enumerate(resources):
        rp = f"$.resources[{x}]"
        if not isinstance(r, dict):
            issues.append(
                Issue(
                    jsonpath=rp,
                    type="type",
                    message=f"{r!r} is not of type 'object'",
                    instance=r,
                )
            )
            continue
        if "name" not in r:
            issues.append(
                Issue(
                    jsonpath=f"{rp}.name",
                    type="required",
                    message="'name' is a required property",
                    instance=MISSING,
                )
            )
        has_path, has_data = "path" in r, "data" in r
        if not has_path and not has_data:
            issues.append(
                Issue(
                    jsonpath=rp,
                    type="required",
                    message=(
                        "This resource has no `path` or `data` field. "
                        "One of them must be provided."
                    ),
                    instance=r,
                )
            )
        elif has_path and has_data:
            issues.append(
                Issue(
                    jsonpath=rp,
                    type="oneOf",
                    message=(
                        "The resource must have either a `path` or a "
                        "`data` property, not both."
                    ),
                    instance=r,
                )
            )
        if has_path:
            issues.extend(_path_issues(r["path"], rp))
    return finalize_issues(issues)
