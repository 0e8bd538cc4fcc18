"""CSV/text table loading with Table-Schema-driven typed casting — the
data-reading half of the Frictionless workflow (the reference validates
a descriptor the user already has, /root/reference/src/check_datapackage/
check.py; loading the CSV the descriptor describes and staging it into
typed columns is what `frictionless extract` does upstream).

Two stages, both fully vectorized JVM-side (no UDF):

1. **Read raw**: every CSV column as nullable string
   (``spark.read.csv`` with an all-string schema — Spark's own type
   inference is disabled so the SPEC, not sniffing, decides types; an
   inference pass over 100 TB of CSV would be a second full scan).
2. **Stage + cast** (:func:`cast_table`): per field, map the spec's
   ``missingValues`` tokens to NULL, then cast with REGEX-GUARDED
   semantics — a value is cast iff it full-matches the Table Schema
   lexical format for the declared type, else becomes NULL and is
   counted as a cast error. Regex-guarding (not bare ``try_cast``)
   makes the semantics engine-portable: Spark and DuckDB disagree on
   bare ``try_cast`` edge cases ('1.5'→BIGINT, 'yes'→BOOLEAN), but
   agree exactly on regex-then-cast.

At scale: the cast expressions fuse into the scan's codegen stage
(one pass, no shuffle); `cast_error_counts` is a single fused
aggregation identical in shape to operators/stats.py.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..spec import TableSpec

#: lexical formats (RE2-safe, DuckDB-identical) gating each cast.
#: Deliberately shared with operators/infer.py TYPE_PATTERNS semantics.
CAST_PATTERNS: dict[str, str] = {
    "integer": r"[+-]?[0-9]+",
    "number": r"[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?",
    "date": r"[0-9]{4}-[0-9]{2}-[0-9]{2}",
    "datetime": r"[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?",
}

#: declared type → Spark target type for the typed output column.
TARGET_TYPES: dict[str, str] = {
    "integer": "long",
    "number": "double",
    "boolean": "boolean",
    "date": "date",
    "datetime": "timestamp",
}

_TRUE = ("true", "1", "yes")
_FALSE = ("false", "0", "no")


def cast_field(col: Column, table_type: str) -> Column:
    """Regex-guarded cast of a string column to its declared type.

    Returns the typed column; non-conforming values become NULL (the
    caller distinguishes cast errors from source NULLs by comparing
    null counts before/after — see :func:`cast_error_counts`).
    Unknown/unhandled types pass through as string (Table Schema
    default-type rule, SURVEY §2 G3).
    """
    if table_type == "boolean":
        low = F.lower(col)
        return (
            F.when(low.isin(*_TRUE), F.lit(True))
            .when(low.isin(*_FALSE), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    pat = CAST_PATTERNS.get(table_type)
    if pat is None:  # string / unhandled → identity
        return col
    guarded = F.when(col.rlike("^(" + pat + ")$"), col)
    if table_type == "datetime":
        # normalize the 'T' separator before the cast so both engines
        # parse the identical lexical form
        guarded = F.replace(guarded, F.lit("T"), F.lit(" "))
    # try_cast, not cast: Spark 4 runs ANSI mode, and a lexically valid
    # but semantically invalid value ('2024-13-45', long overflow) must
    # become NULL — which Spark try_cast and DuckDB TRY_CAST agree on
    return guarded.try_cast(TARGET_TYPES[table_type])


def stage_missing(col: Column, missing_values: tuple[str, ...]) -> Column:
    """Map the spec's missingValues tokens (ref spec: default ``""``)
    to NULL before casting."""
    if not missing_values:
        return col
    return F.when(col.isin(*missing_values), F.lit(None)).otherwise(col)


def cast_table(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Stage missingValues → NULL and cast every declared field to its
    Table Schema type. Undeclared columns pass through untouched; the
    whole transform is one projection (fuses into the scan)."""
    declared = {f.name: f for f in spec.fields}
    out = []
    for c in df.columns:
        f = declared.get(c)
        if f is None:
            out.append(F.col(c))
        else:
            staged = stage_missing(F.col(c), spec.missing_values)
            out.append(cast_field(staged, f.type).alias(c))
    return df.select(*out)


def cast_error_counts(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Per-field cast diagnostics in ONE fused aggregation pass:
    (field, n_rows, n_present, n_cast_ok, n_cast_err) where
    ``n_present`` counts values surviving missingValues staging and
    ``n_cast_err = n_present - n_cast_ok`` (values lexically invalid
    for the declared type). Output is one row per declared field —
    constant-size, driver-free until the caller collects."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
    fields = [f for f in spec.fields if f.name in df.columns]
    for f in fields:
        staged = stage_missing(F.col(f.name), spec.missing_values)
        typed = cast_field(staged, f.type)
        aggs.append(F.count(staged).alias(f"_p_{f.name}"))
        aggs.append(F.count(typed).alias(f"_k_{f.name}"))
    one = df.agg(*aggs)
    parts: list[Column] = []
    for f in fields:
        parts.extend([F.lit(f.name), F.col(f"_p_{f.name}"), F.col(f"_k_{f.name}")])
    return one.select(
        F.col("_n").alias("n_rows"),
        F.stack(F.lit(len(fields)), *parts).alias(
            "field", "n_present", "n_cast_ok"
        ),
    ).select(
        "field",
        "n_rows",
        "n_present",
        "n_cast_ok",
        (F.col("n_present") - F.col("n_cast_ok")).alias("n_cast_err"),
    )


def read_csv_stream_typed(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    header: bool = True,
    delimiter: str = ",",
    columns: Optional[list[str]] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming twin of :func:`read_csv_typed`: watch a directory for
    landing CSV files and emit typed rows continuously.

    The cast staging is a stateless projection, so the stream stays
    append-mode with NO state store; compose with
    ``plans.validation.violations_plan`` for validate-as-it-lands,
    or ``foreach_batch_validator`` when key checks are needed.
    Streaming sources REQUIRE an explicit schema (no sniffing pass
    exists to infer one) — the spec-driven all-string schema is exactly
    that. ``columns`` names the physical order; defaults to the spec's
    field order (header rows are skipped per-file via ``header``, never
    used for naming — a stream can't peek one file to name the rest).
    """
    names = columns if columns is not None else [f.name for f in spec.fields]
    schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    reader = (
        spark.readStream.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return cast_table(reader.csv(path), spec)


def read_csv_typed(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    header: bool = True,
    delimiter: str = ",",
    columns: Optional[list[str]] = None,
) -> DataFrame:
    """Read a CSV as all-strings (spec-driven, no sampling inference
    pass) and stage+cast per the spec. ``columns`` names the physical
    order when ``header=False``."""
    if columns is None:
        if header:
            # single-line peek for names only (bounded: limit(0) schema
            # read); values still land as plain strings below
            names = spark.read.option("header", True).option(
                "delimiter", delimiter
            ).csv(path).columns
        else:
            names = [f.name for f in spec.fields]
    else:
        names = columns
    schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    raw = (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return cast_table(raw, spec)


def read_jsonl_typed(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    columns: Optional[list[str]] = None,
) -> DataFrame:
    """Typed JSONL (newline-delimited JSON) reader — same two-stage
    recipe as :func:`read_csv_typed`: read every declared field as a
    plain string (Spark's JSON reader stringifies scalars when the
    schema says string, so ``{"a": 1}`` lands as ``"1"``), then
    stage missingValues and regex-guard-cast per the spec. No
    inference pass, no second scan; the cast projection fuses into the
    scan. ``columns`` overrides the field set when the spec declares a
    subset of the physical keys."""
    names = columns if columns is not None else [f.name for f in spec.fields]
    schema = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names]
    )
    raw = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    return cast_table(raw, spec)


def read_jsonl_stream_typed(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    columns: Optional[list[str]] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming twin of :func:`read_jsonl_typed`: watch a directory
    for JSONL files; every micro-batch lands staged + typed, ready for
    ``plans.validation.violations_plan``."""
    names = columns if columns is not None else [f.name for f in spec.fields]
    schema = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names]
    )
    reader = spark.readStream.schema(schema).option("mode", "PERMISSIVE")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return cast_table(reader.json(path), spec)
