"""Package-scope validation (package.py): every resource against its
data, cross-resource FKs wired automatically, tables loaded once."""

from __future__ import annotations

import pytest

from check_datapackage_spark import check_package

from conftest import TESTDATA

DOC = {
    "name": "tpch-slice",
    "resources": [
        {
            "name": "orders",
            "path": "orders.parquet",
            "schema": {
                "fields": [
                    {"name": "o_orderkey", "type": "integer"},
                    {
                        "name": "o_orderstatus",
                        "type": "string",
                        "constraints": {"enum": ["O", "F", "P"]},
                    },
                ],
                "primaryKey": ["o_orderkey"],
            },
        },
        {
            "name": "lineitem",
            "path": "lineitem.parquet",
            "schema": {
                "fields": [
                    {"name": "l_orderkey", "type": "integer"},
                    {
                        "name": "l_discount",
                        "type": "number",
                        "constraints": {"minimum": 0.0, "maximum": 0.05},
                    },
                ],
                "foreignKeys": [
                    {
                        "fields": "l_orderkey",
                        "reference": {"resource": "orders", "fields": "o_orderkey"},
                    }
                ],
            },
        },
    ],
}


def test_check_package_end_to_end(spark):
    loads: list[str] = []

    def loader(s, name):
        loads.append(name)
        df = s.read.parquet(f"{TESTDATA}/{name}.parquet")
        if name == "orders":
            # drop 1-in-7 order keys so lineitem gains deterministic
            # FK orphans (sf0.001 has none naturally)
            df = df.filter("o_orderkey % 7 != 0")
        return df

    res = check_package(spark, DOC, loader=loader)
    assert not res.descriptor_issues
    assert set(res.resources) == {"orders", "lineitem"}
    # each table loaded exactly once even though orders is both a
    # resource and lineitem's FK dim
    assert sorted(loads) == ["lineitem", "orders"]
    # the testdata really contains l_discount > 0.05 rows (FIXTURES.md)
    # and the loader planted FK orphans — package must NOT pass
    assert not res.passed()
    v = res.violations()
    kinds = {
        (r["resource"], r["check"]) for r in v.select("resource", "check").collect()
    }
    assert ("lineitem", "l_discount.maximum") in kinds
    assert any(res_ == "lineitem" and "foreign" in c for res_, c in kinds)
    # orders side is clean under this spec
    assert res.resources["orders"].passed()


def test_check_package_descriptor_gate(spark):
    bad = {
        "name": "broken",
        "resources": [{"name": "orders"}],  # neither path nor data (G1)
    }
    res = check_package(
        spark, bad, tables={"orders": spark.range(1).withColumnRenamed("id", "x")}
    )
    assert res.descriptor_issues  # G1 violation surfaces
    assert not res.passed()


def test_check_package_requires_some_data_source(spark):
    with pytest.raises(ValueError):
        check_package(spark, {"resources": []})


def test_config_extensions_apply_in_check_table_and_check_package(spark):
    """``CheckConfig.extensions`` compile inside check_table, so a
    RequiredCheck given through ``config=`` finds the same violations as
    through ``extra_checks=`` — in check_table and in check_package."""
    from check_datapackage_spark import CheckConfig, RequiredCheck, TableSpec, check_table

    resource = {
        "name": "docs",
        "path": "docs.parquet",
        "schema": {
            "fields": [
                {"name": "id", "type": "integer"},
                {"name": "title", "type": "string"},
            ],
            "primaryKey": ["id"],
        },
    }
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id int, title string"
    )
    spec = TableSpec.from_dict(resource)
    config = CheckConfig(extensions=(RequiredCheck(jsonpath="$.title"),))

    def required_keys(v):
        return sorted(
            r["row_key"] for r in v.where("type = 'required'").collect()
        )

    via_extra = check_table(df, spec, extra_checks=list(config.extensions))
    assert required_keys(via_extra.violations) == ["2", "3"]
    via_config = check_table(df, spec, config=config)
    assert required_keys(via_config.violations) == ["2", "3"]

    pkg = check_package(
        spark,
        {"name": "p", "resources": [resource]},
        tables={"docs": df},
        config=config,
    )
    assert required_keys(pkg.violations()) == ["2", "3"]
