"""Package-scope validation: every resource in a datapackage.json
against its data, with cross-resource foreign keys wired automatically.

The reference's public ``check()`` takes the WHOLE descriptor
(/root/reference/src/check_datapackage/check.py:250-291 iterates the
package's properties and each resource's schema); ``check_table``
covers one resource. This module is the package-level composition:

* descriptor-level issues via :func:`spec.validate_package` (G1/G2
  resource path/data rules) — driver-side, no jobs;
* each resource's table loaded ONCE and shared: a table referenced by
  three sibling FKs is one scan feeding three broadcast anti-joins,
  not three scans;
* per-resource :func:`check_table` with ``dims`` = exactly the sibling
  tables its foreignKeys reference (self-references resolve to the
  resource itself and stay out of dims, ref check.py:369-375);
* one unioned violations view with a leading ``resource`` column.

Scale shape: resources validate independently (no cross-resource
shuffle except the FK anti-joins, which broadcast small dims); the
union is plan-level only — Spark evaluates each branch with its own
pushed-down scan, and nothing materializes until the caller acts.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.validation import ValidationResult, check_table
from .spec import CheckConfig, TableSpec, validate_package


@dataclass
class PackageResult:
    """Outcome of a package-scope validation run."""

    descriptor_issues: list  # driver-side Issues (G1/G2 + per-spec)
    resources: dict[str, ValidationResult]

    def violations(self) -> Optional[DataFrame]:
        """All resources' violation rows, tagged with ``resource``, each
        resource's rows in canonical order.

        Plan-level union — each branch keeps its own pushed-down scan;
        None when the package has no resources."""
        return self._union(lambda r: r.violations)

    def unordered_violations(self) -> Optional[DataFrame]:
        """The rows of :meth:`violations` without each resource's global
        sort, for sinks (see :attr:`ValidationResult.unordered_violations`)."""
        return self._union(lambda r: r.unordered_violations)

    def _union(self, rows: Callable[[ValidationResult], DataFrame]) -> Optional[DataFrame]:
        parts = [
            rows(r).select(F.lit(name).alias("resource"), "*")
            for name, r in self.resources.items()
        ]
        return reduce(DataFrame.unionByName, parts) if parts else None

    def passed(self) -> bool:
        """True iff the descriptor is clean and every resource passed
        (triggers one job per resource)."""
        return not self.descriptor_issues and all(
            r.passed() for r in self.resources.values()
        )


def _default_loader(data_dir: str) -> Callable[[SparkSession, str], DataFrame]:
    def load(spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(f"{data_dir}/{name}.parquet")

    return load


def check_package(
    spark: SparkSession,
    doc,
    data_dir: Optional[str] = None,
    config: Optional[CheckConfig] = None,
    loader: Optional[Callable[[SparkSession, str], DataFrame]] = None,
    tables: Optional[dict[str, DataFrame]] = None,
) -> PackageResult:
    """Validate every resource in ``doc`` (a datapackage.json dict or a
    path to one) against its data.

    Data resolution order per resource name: ``tables`` dict override →
    ``loader(spark, name)`` → parquet ``<data_dir>/<name>.parquet``.
    Sibling resources referenced by a resource's foreignKeys are passed
    as that resource's ``dims`` — loaded once, shared across resources.
    ``config`` applies to every resource, ``strict`` included (each
    resource's :func:`check_table` applies the strict rules).
    """
    if isinstance(doc, str):
        with open(doc) as f:
            doc = json.load(f)
    descriptor_issues = validate_package(doc)

    specs: dict[str, TableSpec] = {}
    for r in doc.get("resources", []):
        if isinstance(r, dict):
            spec = TableSpec.from_dict(r)
            specs[spec.name] = spec

    if loader is None:
        if data_dir is None and tables is None:
            raise ValueError("check_package needs data_dir, loader or tables")
        loader = _default_loader(data_dir) if data_dir is not None else None

    cache: dict[str, DataFrame] = dict(tables or {})

    def table(name: str) -> DataFrame:
        if name not in cache:
            if loader is None:
                raise KeyError(
                    f"resource {name!r} has no table override and no loader"
                )
            cache[name] = loader(spark, name)
        return cache[name]

    results: dict[str, ValidationResult] = {}
    for name, spec in specs.items():
        dims = {
            fk.reference_resource: table(fk.reference_resource)
            for fk in spec.foreign_keys
            # empty/self reference = same resource (ref check.py:369-375)
            if fk.reference_resource and fk.reference_resource != name
        }
        results[name] = check_table(table(name), spec, config=config, dims=dims)

    return PackageResult(descriptor_issues=descriptor_issues, resources=results)
