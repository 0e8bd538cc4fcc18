"""Reusable column expressions: format regexes + type-conformance predicates.

All JVM-side (``pyspark.sql.functions``) so they stay inside whole-stage
codegen — no Python in the hot path. These back check classes C2
(``type``), C3 (``format``), C4 (``pattern``) of SURVEY.md §2.3, mapping
the reference's ``FormatChecker`` formats (``check.py:560``) and the
15-type ``oneOf`` dispatch (``check.py:683-725``) to vectorized
predicates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- format regexes (C3) ---------------------------------------------------
# Pragmatic vectorized equivalents of jsonschema's FormatChecker formats.

EMAIL_RE = r"^[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?(?:\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)+$"
URI_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s]*$"
UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
BASE64_RE = r"^[A-Za-z0-9+/]*={0,2}$"
YEAR_RE = r"^[0-9]{4}$"
YEARMONTH_RE = r"^[0-9]{4}-(0[1-9]|1[0-2])$"
DATE_RE = r"^[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])$"
TIME_RE = r"^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.[0-9]+)?$"
DATETIME_RE = (
    r"^[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
    r"[Tt ]([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.[0-9]+)?"
    r"([Zz]|[+-][01][0-9]:?[0-5][0-9])?$"
)
# ISO-8601 duration, e.g. P1Y2M3DT4H5M6S (ref Table Schema duration type).
DURATION_RE = (
    r"^-?P(?=[0-9TYMWD])([0-9]+Y)?([0-9]+M)?([0-9]+W)?([0-9]+D)?"
    r"(T(?=[0-9])([0-9]+H)?([0-9]+M)?([0-9]+(\.[0-9]+)?S)?)?$"
)

FORMAT_REGEXES = {
    "email": EMAIL_RE,
    "uri": URI_RE,
    "uuid": UUID_RE,
    "binary": BASE64_RE,
}


def string_format_ok(col: Column, fmt: str) -> Column:
    """C3: string format conformance. NULLs pass (required handles those)."""
    if fmt in (None, "default"):
        return F.lit(True)
    regex = FORMAT_REGEXES.get(fmt)
    if regex is None:
        return F.lit(True)
    return col.isNull() | col.rlike(regex)


# --- type-conformance predicates (C2) --------------------------------------
# For *string-typed staging columns* (data not yet cast): does the text
# parse as the declared Table Schema type? NULL passes — `required` (C1)
# owns null-ness, mirroring jsonschema where a missing property is a
# `required` error, not a `type` error.


def _null_ok(col: Column, pred: Column) -> Column:
    return col.isNull() | pred


def type_conforms(col: Column, table_type: str, fmt: str = "default") -> Column:
    """Boolean column: value conforms to the declared Table Schema type.

    Mapping per SURVEY.md §1.3. Uses ``try_cast``/regex — fully
    vectorized, never throws. For natively-typed columns (e.g. an int32
    parquet column declared ``integer``) conformance is structural and
    checked driver-side against ``df.schema``; this function handles the
    string-staging path.
    """
    if table_type in ("any",):
        return F.lit(True)
    if table_type == "string":
        return string_format_ok(col, fmt)
    if table_type == "number":
        return _null_ok(col, col.try_cast("double").isNotNull())
    if table_type == "integer":
        return _null_ok(col, col.try_cast("long").isNotNull())
    if table_type == "boolean":
        return _null_ok(
            col,
            F.lower(col).isin("true", "false", "1", "0", "yes", "no"),
        )
    if table_type == "date":
        return _null_ok(col, col.rlike(DATE_RE) & col.try_cast("date").isNotNull())
    if table_type == "time":
        return _null_ok(col, col.rlike(TIME_RE))
    if table_type == "datetime":
        return _null_ok(
            col, col.rlike(DATETIME_RE) & col.try_cast("timestamp").isNotNull()
        )
    if table_type == "year":
        return _null_ok(col, col.rlike(YEAR_RE))
    if table_type == "yearmonth":
        return _null_ok(col, col.rlike(YEARMONTH_RE))
    if table_type == "duration":
        return _null_ok(col, col.rlike(DURATION_RE))
    if table_type in ("object", "geojson"):
        # JSON object text → try_parse_json non-null and starts with '{'
        return _null_ok(
            col,
            F.ltrim(col).startswith("{") & F.try_parse_json(col).isNotNull(),
        )
    if table_type == "array":
        return _null_ok(
            col,
            F.ltrim(col).startswith("[") & F.try_parse_json(col).isNotNull(),
        )
    if table_type == "geopoint":
        # three declared formats (reference schema geopoint formats
        # default/array/object, SURVEY §1.3):
        #   default — "lon,lat" string
        #   array   — JSON text "[lon, lat]" (native array<double>
        #             columns are checked with geopoint_array_ok)
        #   object  — JSON text '{"lon": ..., "lat": ...}'
        if fmt == "array":
            arr = F.from_json(col, "array<double>")
            lon = F.try_element_at(arr, F.lit(1))
            lat = F.try_element_at(arr, F.lit(2))
            return _null_ok(
                col,
                arr.isNotNull()
                & (F.size(arr) == 2)
                & lon.isNotNull()
                & lat.isNotNull()
                & lon.between(-180.0, 180.0)
                & lat.between(-90.0, 90.0),
            )
        if fmt == "object":
            st = F.from_json(col, "struct<lon:double,lat:double>")
            # explicit isNotNull guards: a missing/unparseable lon or
            # lat must yield FALSE, not SQL NULL (NULL ok-predicates
            # would slip past the violations filter)
            return _null_ok(
                col,
                F.ltrim(col).startswith("{")
                & st.isNotNull()
                & st["lon"].isNotNull()
                & st["lat"].isNotNull()
                & st["lon"].between(-180.0, 180.0)
                & st["lat"].between(-90.0, 90.0),
            )
        return _null_ok(
            col,
            col.rlike(r"^\s*-?[0-9]+(\.[0-9]+)?\s*,\s*-?[0-9]+(\.[0-9]+)?\s*$"),
        )
    return F.lit(True)


def geopoint_array_ok(col: Column) -> Column:
    """Geopoint (array format): [lon, lat] with range checks."""
    return col.isNull() | (
        (F.size(col) == 2)
        & F.try_element_at(col, F.lit(1)).between(-180.0, 180.0)
        & F.try_element_at(col, F.lit(2)).between(-90.0, 90.0)
    )
