"""Operator tests: stats, drift, uniqueness, referential on real
testdata parquet, cross-checked against DuckDB where cheap."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.operators import drift, referential, stats, uniqueness
from tests.conftest import load


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return load(spark, sf_dir, "lineitem")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load(spark, sf_dir, "orders")


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "nation", "documents"]:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_null_rates_matches_duckdb(spark, li, ddb):
    got = {
        r["column"]: (r["n_null"], r["n_rows"])
        for r in stats.null_rates(li, ["l_orderkey", "l_returnflag"]).collect()
    }
    exp_n = ddb.sql("SELECT count(*) FROM lineitem").fetchone()[0]
    exp_null = ddb.sql(
        "SELECT count(*) - count(l_orderkey) FROM lineitem"
    ).fetchone()[0]
    assert got["l_orderkey"] == (exp_null, exp_n)


def test_null_rates_quoted_column_name(spark):
    """Column names reach the unpivot as literals, never as SQL text: a
    column named ``it's`` used to fail with a ParseException."""
    df = spark.createDataFrame([(1, None), (2, 3)], "id int, `it's` int")
    got = {(r["column"], r["n_null"], r["n_rows"]) for r in stats.null_rates(df).collect()}
    assert got == {("id", 0, 2), ("it's", 1, 2)}


def test_minmax_matches_duckdb(spark, li, ddb):
    row = stats.minmax(li, "l_quantity").collect()[0]
    exp = ddb.sql(
        "SELECT min(l_quantity), max(l_quantity), count(l_quantity) FROM lineitem"
    ).fetchone()
    assert (row["min_value"], row["max_value"], row["n_value"]) == exp


def test_profile_single_pass(spark, li):
    """The whole profile must be ONE aggregate over ONE scan."""
    p = stats.profile(li, ["l_quantity", "l_discount", "l_returnflag"])
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") == 1, plan
    row = p.collect()[0]
    assert row["n_rows"] > 0
    assert row["l_quantity__min"] is not None


def test_grouped_profile(spark, li):
    rows = stats.profile(li, ["l_quantity"], by="l_returnflag").collect()
    flags = {r["l_returnflag"] for r in rows}
    assert flags == {"A", "N", "R"}


def test_exact_quantiles_match_duckdb(spark, li, ddb):
    row = stats.profile(
        li, ["l_quantity"], quantiles=[0.5], exact_quantiles=True
    ).collect()[0]
    exp = ddb.sql(
        "SELECT quantile_cont(l_quantity, 0.5) FROM lineitem"
    ).fetchone()[0]
    assert abs(row["l_quantity__quantiles"][0] - exp) < 1e-9


def test_dup_keys_match_duckdb(spark, li, ddb):
    got = uniqueness.dup_key_counts(li, ["l_orderkey", "l_linenumber"]).count()
    exp = ddb.sql(
        """SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
           GROUP BY 1,2 HAVING count(*)>1)"""
    ).fetchone()[0]
    assert got == exp


def test_salted_dup_keys_same_answer(spark, li):
    a = uniqueness.dup_key_counts(li, ["l_orderkey"]).count()
    b = uniqueness.dup_key_counts_salted(li, ["l_orderkey"]).count()
    assert a == b


def test_referential_clean_fk(spark, li, orders, ddb):
    got = referential.missing_keys(li, orders, ["l_orderkey"], ["o_orderkey"]).count()
    exp = ddb.sql(
        """SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"""
    ).fetchone()[0]
    assert got == exp


def test_referential_broadcast_in_plan(spark, li, orders):
    m = referential.missing_keys(li, orders, ["l_orderkey"], ["o_orderkey"])
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_referential_detects_misses(spark, li, orders):
    # poison: drop half the orders
    half = orders.where(F.col("o_orderkey") % 2 == 0)
    n = referential.missing_keys(li, half, ["l_orderkey"], ["o_orderkey"]).count()
    exp = li.where(F.col("l_orderkey") % 2 == 1).count()
    assert n == exp > 0


def test_histogram_matches_duckdb(spark, li, ddb):
    h = {
        r["bucket"]: r["count"]
        for r in drift.histogram(li, "l_quantity", 0.0, 50.0, 10).collect()
    }
    bexpr = drift.bucket_sql("l_quantity", 0.0, 50.0, 10)
    exp = dict(
        ddb.sql(
            f"""SELECT {bexpr} b, count(*)
               FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1"""
        ).fetchall()
    )
    assert h == exp


def test_divergence_zero_for_identical(spark, li):
    h = drift.histogram(li, "l_quantity", 0.0, 50.0, 10)
    row = drift.divergence(h, h).collect()[0]
    assert abs(row["kl"]) < 1e-12
    assert abs(row["psi"]) < 1e-12
    assert abs(row["js"]) < 1e-12


def test_divergence_positive_for_shifted(spark, li):
    a = drift.histogram(li, "l_quantity", 0.0, 50.0, 10)
    shifted = li.select((F.col("l_quantity") + 20).alias("l_quantity"))
    b = drift.histogram(shifted, "l_quantity", 0.0, 50.0, 10)
    row = drift.divergence(a, b).collect()[0]
    assert row["psi"] > 0.1
    assert row["kl"] > 0.0


def test_drift_by_group_flags_shifted_partition(spark):
    from check_datapackage_spark.fixtures import sequences_df

    base = sequences_df(spark, 4000).drop("_row")
    # shift one source's n_tok distribution
    shifted = base.withColumn(
        "n_tok",
        F.when(F.col("source") == "src-001", (F.col("n_tok") / 4 + 1).cast("int")).otherwise(
            F.col("n_tok")
        ),
    )
    res = drift.drift_by_group(shifted, "n_tok", "source", 1, 2049, 16)
    psi = {r["source"]: r["psi"] for r in res.collect()}
    # the shifted source must stand out vs a healthy one
    healthy = [v for k, v in psi.items() if k not in ("src-001",)]
    assert psi["src-001"] > 0.2
    assert psi["src-001"] > max(healthy)


def test_token_histogram_no_explode(spark):
    from check_datapackage_spark.fixtures import sequences_df

    df = sequences_df(spark, 500).drop("_row")
    h = drift.token_histogram(df, "tokens", vocab=50257, n_buckets=16)
    rows = h.collect()
    total = sum(r["count"] for r in rows)
    exp = df.select(F.sum(F.size("tokens"))).collect()[0][0]
    assert total == exp
    assert {r["bucket"] for r in rows} <= set(range(16))
