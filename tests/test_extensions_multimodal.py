"""Extensions (U1-U3), multimodal plumbing, audit/resume, streaming."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark import TableSpec, check_table
from check_datapackage_spark.extensions import (
    CustomCheck,
    ExtensionError,
    RequiredCheck,
    compile_extensions,
)
from check_datapackage_spark.fixtures import sequences_df, sequences_spec
from check_datapackage_spark.operators import audit, multimodal


# --- extensions --------------------------------------------------------------


def test_custom_check_pandas_udf(spark):
    df = sequences_df(spark, 100).drop("_row")
    even = CustomCheck(
        type="even-doc",
        message="doc number must be even",
        column="doc_id",
        check=lambda s: s.str[-1].astype(int) % 2 == 0,
    )
    res = check_table(df, sequences_spec(), extra_checks=compile_extensions([even]))
    v = res.violations.where(F.col("type") == "even-doc")
    assert v.count() == 50  # half the rows have odd last digit


def test_custom_check_required_type_forbidden():
    # ref extensions.py:61-69
    with pytest.raises(ExtensionError):
        CustomCheck(type="required", message="m", column="c", check=lambda s: s)


def test_required_check_extension(spark):
    df = sequences_df(spark, 100).drop("_row").withColumn(
        "maybe", F.when(F.col("n_tok") % 2 == 0, F.lit("x"))
    )
    spec = TableSpec.from_dict(
        {"name": "t", "schema": {"fields": [{"name": "maybe", "type": "string"}]}}
    )
    req = RequiredCheck(column="maybe")
    res = check_table(df, spec, extra_checks=compile_extensions([req]))
    n_null = df.where(F.col("maybe").isNull()).count()
    assert res.violations.where(F.col("type") == "required").count() == n_null > 0


# --- multimodal ---------------------------------------------------------------


@pytest.fixture(scope="module")
def assets(spark):
    return multimodal.synth_assets(spark, 60).cache()


def test_extract_features_deterministic(spark, assets):
    out1 = multimodal.extract_features(assets).orderBy("doc_id").collect()
    out2 = multimodal.extract_features(assets).orderBy("doc_id").collect()
    assert [r["sha1"] for r in out1] == [r["sha1"] for r in out2]
    assert all(len(r["features"]) == 16 for r in out1)
    # payload = 12-byte id × 7 = 84 bytes (capped at 100)
    assert all(r["byte_len"] == 84 for r in out1)


# --- audit / resume -----------------------------------------------------------


def test_resumable_run_skips_completed(spark):
    tmp = tempfile.mkdtemp()
    try:
        ledger = f"{tmp}/ledger"
        df = sequences_df(spark, 400).drop("_row")

        def validate(pending):
            # trivial validator: rows with n_tok > 2000 are violations
            v = pending.where(F.col("n_tok") > 2000).select(
                F.lit("x").alias("jsonpath"),
                F.lit("maximum").alias("type"),
                F.lit("m").alias("message"),
                F.col("n_tok").cast("string").alias("instance"),
                F.lit("c").alias("check"),
                F.lit("n_tok").alias("column"),
                F.col("doc_id").alias("row_key"),
                F.col("source").alias("partition"),
            )
            return v, None

        run = audit.ResumableRun(ledger_path=ledger, n_buckets=8)
        v1, n1 = run.run(df, validate, run_id="r1")
        assert n1 > 0
        # second run: everything completed → nothing pending
        v2, n2 = run.run(df, validate, run_id="r2")
        assert n2 == 0 and v2 is None
        led = spark.read.parquet(ledger)
        assert led.where("run_id = 'r1'").count() == n1
        # ledger n_rows covers the whole table exactly once
        assert led.agg(F.sum("n_rows")).collect()[0][0] == 400
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_processes_only_missing_units(spark):
    tmp = tempfile.mkdtemp()
    try:
        ledger = f"{tmp}/ledger"
        df = audit.with_bucket(sequences_df(spark, 400).drop("_row"), n_buckets=8)
        units = audit.plan_units(df)
        # pretend 3 units were done in a prior run
        done = units.limit(3).select(
            F.lit("r0").alias("run_id"),
            "source",
            F.col("_bucket").alias("bucket"),
            F.lit(0).cast("long").alias("n_rows"),
            F.lit(0).cast("long").alias("n_violations"),
            F.lit(True).alias("passed"),
            F.lit(0).cast("long").alias("completed_at_ms"),
        )
        done.write.mode("overwrite").parquet(ledger)
        pend = audit.pending_units(df, spark, ledger)
        assert pend.count() == units.count() - 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_validates_and_records_null_source_rows(spark, tmp_path):
    """Rows whose source is NULL form a unit of their own: the first
    run validates them and records the unit with its violation count,
    and a second run finds nothing pending."""
    ledger = str(tmp_path / "ledger")
    df = spark.createDataFrame(
        [("d1", "s1", 5), ("d2", "s2", 3), ("d3", None, -1), ("d4", None, 7)],
        "doc_id string, source string, n long",
    )
    spec = TableSpec.from_dict(
        {
            "name": "t",
            "schema": {
                "fields": [
                    {"name": "doc_id", "type": "string"},
                    {"name": "source", "type": "string"},
                    {"name": "n", "type": "integer", "constraints": {"minimum": 0}},
                ],
                "primaryKey": ["doc_id"],
            },
        }
    )
    validated = []

    def validate(pending):
        validated.append(pending.count())
        return check_table(pending, spec).violations, None

    run = audit.ResumableRun(ledger_path=ledger, n_buckets=1)
    _, n1 = run.run(df, validate, run_id="r1")
    assert n1 == 3 and validated == [4]
    led = {
        r["source"]: (r["bucket"], r["n_rows"], r["n_violations"], r["passed"])
        for r in spark.read.parquet(ledger).collect()
    }
    assert led == {
        "s1": (0, 1, 0, True),
        "s2": (0, 1, 0, True),
        None: (0, 2, 1, False),
    }
    v2, n2 = run.run(df, validate, run_id="r2")
    assert n2 == 0 and v2 is None and validated == [4]


# --- streaming ----------------------------------------------------------------


def test_streaming_violations_memory_sink(spark, tmp_path):
    """Drive the stateless fused checks through a real streaming query."""
    from check_datapackage_spark.compile import compile_table_checks
    from check_datapackage_spark.plans.validation import violations_plan

    src = str(tmp_path / "in")
    df, _ = __import__(
        "check_datapackage_spark.fixtures", fromlist=["sequences_with_violations"]
    ).sequences_with_violations(spark, 200)
    df.drop("_row").write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    checks = compile_table_checks(sequences_spec(), schema=schema)
    v = violations_plan(stream, checks, "sequences", row_key="doc_id")
    q = (
        v.writeStream.format("memory")
        .queryName("viol")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM viol").collect()
    finally:
        q.stop()
    types = {r["type"] for r in rows}
    assert {"required", "pattern", "minimum", "maximum"} <= types
