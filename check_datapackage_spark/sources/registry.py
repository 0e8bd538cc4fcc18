"""Sources & sinks (SURVEY §2.1, S1–S7).

Data sources: parquet directories (sandbox) and Iceberg tables (behind
an import/config try — the Iceberg runtime jar isn't in this image; at
production scale the loader is ``spark.read.format("iceberg")`` with
identity partitioning on ``source``).

Spec sources mirror the reference's descriptor resolution
(``cli.py:64-77``): local path (S1), ``https:`` URL (S2),
``github:``/``gh:`` repo (S3) — all driver-side, spec-only; data never
moves through these paths.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..spec import TableSpec

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table: Iceberg when ``sf_dir`` is a catalog ref
    (``iceberg:<catalog.db>``), else parquet directory."""
    if sf_dir.startswith("iceberg:"):
        ref = sf_dir.split(":", 1)[1]
        return spark.read.format("iceberg").load(f"{ref}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --- spec sources (driver-side, S1-S3) --------------------------------------


def parse_source(source: str) -> str:
    """Resolve a spec source to a fetchable address (ref cli.py:64-77).

    * plain path → the file (or ``<dir>/datapackage.json``)
    * ``https://…`` → the URL
    * ``github:org/repo[@tag]`` / ``gh:`` → raw.githubusercontent URL
    """
    if source.startswith(("github:", "gh:")):
        _, _, rest = source.partition(":")
        repo, _, tag = rest.partition("@")
        return (
            f"https://raw.githubusercontent.com/{repo}/{tag or 'HEAD'}/datapackage.json"
        )
    if source.startswith(("http://", "https://")):
        return source
    if os.path.isdir(source):
        return os.path.join(source, "datapackage.json")
    return source


def read_spec(
    source: str, resource: Optional[str] = None, allow_remote: bool = False
) -> TableSpec:
    """Load a TableSpec from a datapackage.json-shaped document.

    ``allow_remote=True`` fetches https/github addresses driver-side
    with stdlib urllib (ref cli.py:64-69 production parity); the default
    refuses remote addresses with a clear message — this sandbox is
    offline, and implicit network fetches shouldn't be a surprise.
    """
    address = parse_source(source)
    if address.startswith(("http://", "https://")):
        if not allow_remote:
            raise NotImplementedError(
                "remote spec fetch is disabled by default; pass "
                "allow_remote=True (CLI: --allow-remote) to fetch "
                f"{address} with urllib"
            )
        import urllib.request

        with urllib.request.urlopen(address, timeout=30) as resp:
            doc = json.loads(resp.read().decode("utf-8"))
    else:
        with open(address) as f:
            doc = json.load(f)
    resources = doc.get("resources", [doc])
    if resource is not None:
        for r in resources:
            if r.get("name") == resource:
                return TableSpec.from_dict(r)
        raise KeyError(f"no resource named {resource!r} in {address}")
    return TableSpec.from_dict(resources[0])


# --- sinks (S5-S7) -----------------------------------------------------------


def write_violations(
    violations: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple = ("type",),
) -> None:
    """Persist violation rows (S5). Parquet in-sandbox; at scale this is
    ``writeTo(audit_table).append()`` on an Iceberg audit table."""
    w = violations.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def raise_on_violations(result, max_show: int = 20) -> None:
    """S6 exception channel: the ``check(error=True)`` analog
    (ref check.py:161-169,288-289)."""
    from ..issue import DataPackageError, explain, issues_from_rows

    if result.spec_issues:
        # spec-level issues report against the descriptor, exact
        # reference wording (check.py:212)
        raise DataPackageError(
            explain(result.spec_issues, subject="datapackage.json")
        )
    sample = result.violations.limit(max_show).collect()
    if sample:
        raise DataPackageError(explain(issues_from_rows(sample)))
