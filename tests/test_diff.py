"""Unit tests for operators/diff.py snapshot_diff."""

from __future__ import annotations

from check_datapackage_spark.operators import diff


def test_snapshot_diff_counts(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "id long, status string, price double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),    # unchanged
            (2, "X", 20.0),    # status changed
            (4, None, 41.0),   # price changed; null==null not a change
            (5, "e", 50.0),    # added
        ],  # id 3 removed
        "id long, status string, price double",
    )
    out = {
        r["column"]: r.asDict()
        for r in diff.snapshot_diff(old, new, ["id"]).collect()
    }
    assert set(out) == {"status", "price"}
    for c in out.values():
        assert c["n_common"] == 3
        assert c["n_added"] == 1
        assert c["n_removed"] == 1
    assert out["status"]["n_changed"] == 1
    assert out["price"]["n_changed"] == 1


def test_snapshot_diff_null_transitions(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, None)], "id long, v string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "b")], "id long, v string"
    )
    (row,) = diff.snapshot_diff(old, new, ["id"]).collect()
    # null->value and value->null BOTH count as changes
    assert row["n_changed"] == 2 and row["n_common"] == 2


def test_snapshot_diff_compound_key_and_subset_cols(spark):
    old = spark.createDataFrame(
        [(1, 1, "x", 5), (1, 2, "y", 6)], "a long, b long, v string, w long"
    )
    new = spark.createDataFrame(
        [(1, 1, "x", 7), (1, 2, "z", 6)], "a long, b long, v string, w long"
    )
    out = {
        r["column"]: r["n_changed"]
        for r in diff.snapshot_diff(
            old, new, ["a", "b"], compare_cols=["v"]
        ).collect()
    }
    assert out == {"v": 1}


def test_snapshot_diff_quoted_column_name(spark):
    """Column names reach the unpivot as literals, never as SQL text: a
    column named ``it's`` used to fail with a ParseException."""
    old = spark.createDataFrame([(1, 5), (2, 6)], "id long, `it's` long")
    new = spark.createDataFrame([(1, 5), (2, 7)], "id long, `it's` long")
    (row,) = diff.snapshot_diff(old, new, ["id"]).collect()
    assert (row["column"], row["n_changed"], row["n_common"]) == ("it's", 1, 2)


def test_snapshot_diff_dotted_column_name(spark):
    """A column named ``a.b`` (key or compared) is that column, not a
    struct field access."""
    old = spark.createDataFrame([(1, 5, "x"), (2, 6, "y")], "`k.id` long, `a.b` long, c string")
    new = spark.createDataFrame([(1, 5, "x"), (2, 7, "y"), (3, 1, "z")], "`k.id` long, `a.b` long, c string")
    rows = {r["column"]: r for r in diff.snapshot_diff(old, new, ["k.id"]).collect()}
    assert {c: r["n_changed"] for c, r in rows.items()} == {"a.b": 1, "c": 0}
    assert (rows["a.b"]["n_common"], rows["a.b"]["n_added"], rows["a.b"]["n_removed"]) == (2, 1, 0)


def test_heavy_hitters_skew_profile(spark):
    from check_datapackage_spark.operators import stats

    rows = [("hot", i % 2) for i in range(8)] + [("cold", 99)] + [(None, 7)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = stats.heavy_hitters(df, ["k", "v"], k=2).collect()
    by = {(r["column"], r["rank"]): r for r in out}
    top_k = by[("k", 1)]
    assert top_k["value"] == "hot" and top_k["cnt"] == 8
    assert abs(top_k["share"] - 0.8) < 1e-9
    # NULL ranks like any other value (1 occurrence, ties broken by value)
    assert by[("k", 2)]["cnt"] == 1
    assert by[("v", 1)]["cnt"] == 4 and by[("v", 2)]["cnt"] == 4


def test_reconcile_integer_exact(spark):
    from check_datapackage_spark.operators import referential
    from pyspark.sql import functions as F

    fact = spark.createDataFrame(
        [(1, 10.00), (1, 5.50), (2, 3.00), (9, 1.00)],
        "k long, amt double",
    )
    dim = spark.createDataFrame(
        [(1, 15.50), (2, 4.00), (3, 7.00)], "k long, total double"
    )
    out = {
        r["key"]: (r["expected"], r["actual"], r["diff"])
        for r in referential.reconcile(
            fact, dim, "k", "k",
            F.round(F.col("amt") * 100).cast("long"),
            F.round(F.col("total") * 100).cast("long"),
        ).collect()
    }
    assert out[1] == (1550, 1550, 0)          # reconciles
    assert out[2] == (400, 300, -100)         # fact short by 1.00
    assert out[3] == (700, None, -700)        # dim-only key
    assert out[9] == (None, 100, 100)         # fact-only key


def test_order_inversions_counts(spark):
    from check_datapackage_spark.operators import sequences

    rows = [
        ("u1", 1, "2024-01-01 00:00:00"),
        ("u1", 2, "2024-01-01 00:00:10"),
        ("u1", 3, "2024-01-01 00:00:05"),  # back 5s
        ("u2", 1, "2024-01-01 00:00:00"),
        ("u2", 2, "2024-01-01 00:00:01"),
    ]
    df = spark.createDataFrame(
        rows, "u string, i long, ts string"
    ).selectExpr("u", "i", "CAST(ts AS TIMESTAMP) AS ts")
    out = {
        r["u"]: (r["n_events"], r["n_inversions"], r["max_backstep_s"])
        for r in sequences.order_inversions(df, "ts", "i", "u").collect()
    }
    assert out["u1"] == (3, 1, 5.0)
    assert out["u2"] == (2, 0, 0.0)


def test_schema_diff_changes(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, s string, x double"
    )
    new = spark.createDataFrame(
        [(1, 2, True)], "id long, s int, y boolean"
    )
    got = diff.schema_diff(old, new)
    by = {(d["column"], d["change"]): d for d in got}
    assert ("s", "type") in by and by[("s", "type")]["new"] == "int"
    assert ("x", "removed") in by
    assert ("y", "added") in by and by[("y", "added")]["new"] == "boolean"
    assert ("id", "type") not in by
