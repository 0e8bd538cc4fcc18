"""CLI / spark-submit entrypoint — the reference's ``check-datapackage
check <source>`` analog (ref cli.py:50-85, SURVEY §3.2).

    spark-submit --py-files engine.zip -m check_datapackage_spark.cli \
        --data /root/testdata/sf0.01 --table lineitem \
        --spec spec.json [--resource lineitem] \
        [--audit /path/ledger] [--strict] [--error] \
        [--exclude-type pattern] [--exclude-jsonpath '$.t[*].col']

Exit code = 1 when violations were found and --error is set
(ref check.py:288-289: error=True raises DataPackageError).

The CLI adds no validation rules: ``--strict`` (or TOML ``strict``)
only sets ``CheckConfig.strict``, which the library applies. With
``--resume-ledger``, one ``check_table`` call over the pending work
units feeds the count, the sink and the ledger.
"""

from __future__ import annotations

import argparse
import os
import sys
from contextlib import contextmanager

from .issue import DataPackageError, explain, pretty_print
from .plans.validation import check_table
from .session import get_spark
from .sources.registry import load_table, parse_source, read_spec, write_violations
from .spec import CheckConfig, Exclusion, validate_package
from .spec import strictify  # noqa: F401  (re-exported; lives in spec)


#: ref CUSTOM_CHECKS_CONFIG_ERROR (cli.py:20-23): CustomCheck requires a
#: Python callable and cannot come from TOML.
CUSTOM_CHECKS_CONFIG_ERROR = (
    "Custom checks cannot be configured in TOML because `check` must be "
    "a Python callable. Define CustomCheck extensions in Python instead."
)


def load_toml_config(path: str = ".cdp.toml") -> dict:
    """Bind run options from a ``.cdp.toml`` file (ref cli.py:40-47:
    ``setup_cli(config_name=".cdp.toml")``; tests/test_cli.py:60-120).

    Supported keys: ``strict`` (bool), ``[[exclusions]]`` tables
    (jsonpath/type), ``[extensions]`` with ``[[extensions.required_checks]]``
    tables; ``custom_checks`` in TOML is rejected exactly like the
    reference.
    """
    import tomllib

    if not os.path.exists(path):
        return {}
    with open(path, "rb") as f:
        doc = tomllib.load(f)
    out: dict = {}
    if "strict" in doc:
        out["strict"] = bool(doc["strict"])
    if "version" in doc:
        out["version"] = str(doc["version"])
    if "exclusions" in doc:
        out["exclusions"] = tuple(
            Exclusion(jsonpath=e.get("jsonpath"), type=e.get("type"))
            for e in doc["exclusions"]
        )
    ext = doc.get("extensions", {})
    if ext.get("custom_checks") is not None:
        raise ValueError(CUSTOM_CHECKS_CONFIG_ERROR)
    if ext.get("required_checks"):
        from .extensions import RequiredCheck

        out["extensions"] = tuple(
            RequiredCheck(
                column=rc.get("column"),
                jsonpath=rc.get("jsonpath"),
                message=rc.get("message"),
            )
            for rc in ext["required_checks"]
        )
    return out


@contextmanager
def _executed_once(results):
    """Persist each result's unordered violations for one report (and
    resume-ledger write): the first action executes the plans (and
    completes their observed summaries), every later one reads the
    cached rows, sorted or not. The cache is released on the way out."""
    frames = [r.unordered_violations for r in results]
    for v in frames:
        v.persist()
    try:
        yield
    finally:
        for v in frames:
            v.unpersist()


def _report(unordered, ordered, results: list, issues: list, audit) -> int:
    """Spec issues, count, sink, summaries and sample of one run; 1 when
    it failed. The count and the sink read ``unordered``; the 20-row
    sample is ``ordered``, the same rows sorted. Both are None for a
    package without resources."""
    if issues:
        # pretty_print renders the [u]/[red] markup (rich when
        # available, stripped otherwise) instead of printing literal tags
        pretty_print(explain(issues, subject="datapackage.json"), file=sys.stderr)
    n = 0 if unordered is None else unordered.count()
    if audit and unordered is not None:
        write_violations(unordered, audit)
    for name, r in results:
        if name is not None:
            print(f"== {name}")
        r.summary.show(100, truncate=False)
    if n == 0 and not issues:
        print("All checks passed!")  # ref cli.py:84
        return 0
    print(f"{n} violation row(s) found.", file=sys.stderr)
    if ordered is not None:
        ordered.show(20, truncate=False)
    return 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="check-datapackage-spark")
    p.add_argument("--data", required=True, help="sf dir or iceberg:<catalog.db>")
    p.add_argument(
        "--table",
        default=None,
        help="resource to validate; omit to validate EVERY resource in "
        "the descriptor (package mode: cross-resource FK dims wired "
        "automatically, tables loaded once)",
    )
    p.add_argument("--spec", required=True, help="datapackage.json-shaped spec")
    p.add_argument("--resource", default=None)
    p.add_argument("--dims", nargs="*", default=[], help="dimension tables to load")
    p.add_argument("--audit", default=None, help="violations sink path")
    p.add_argument("--strict", action="store_true")
    p.add_argument(
        "--allow-remote",
        action="store_true",
        help="permit https:/github: spec sources (driver-side urllib fetch)",
    )
    p.add_argument(
        "--spec-version",
        choices=["v1", "v2"],
        default=None,  # None = not passed: fall back to TOML, then v2
        help="Data Package standard version to validate against "
        "(overrides the config file when passed explicitly)",
    )
    p.add_argument("--error", action="store_true")
    p.add_argument("--exclude-type", nargs="*", default=[])
    p.add_argument("--exclude-jsonpath", nargs="*", default=[])
    p.add_argument("--max-examples", type=int, default=None)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument(
        "--resume-ledger",
        default=None,
        help="audit-ledger path: validate only (source,bucket) work units "
        "not yet recorded complete; append per-unit metrics on success",
    )
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--bucket-key", default=None, help="key column for work-unit bucketing (default: first PK col)")
    p.add_argument(
        "--config",
        default=".cdp.toml",
        help="TOML config file (strict / [[exclusions]] / required checks)",
    )
    p.add_argument(
        "--tokens-structure",
        default=None,
        metavar="BOS,EOS,PAD,MAXID[,COLUMN]",
        help="append tokenized-sequence structure checks (BOS-first, "
        "EOS-last, no interior pad, in-vocab) on COLUMN "
        "(default: tokens)",
    )
    args = p.parse_args(argv)
    toml_cfg = load_toml_config(args.config)

    # a host's session (an embedding app, the test suite) is used as it
    # is: --cores shapes only a session the CLI creates, and only that
    # one is stopped on the way out
    from pyspark.sql import SparkSession

    host = SparkSession.getActiveSession()
    spark = host if host is not None else get_spark("cdp-cli", cores=args.cores)
    try:
        spec = read_spec(
            args.spec,
            resource=args.resource or args.table,
            allow_remote=args.allow_remote,
        )
        # explicit CLI flag wins over TOML (same precedence as --strict)
        version = args.spec_version or toml_cfg.get("version") or "v2"
        if version not in ("v1", "v2"):
            print(
                f"Invalid `version` in {args.config}: {version!r} "
                "(expected 'v1' or 'v2').",
                file=sys.stderr,
            )
            return 1
        config = CheckConfig(
            strict=args.strict or toml_cfg.get("strict", False),
            version=version,
            exclusions=tuple(
                [Exclusion(type=t) for t in args.exclude_type]
                + [Exclusion(jsonpath=j) for j in args.exclude_jsonpath]
            )
            + toml_cfg.get("exclusions", ()),
            extensions=toml_cfg.get("extensions", ()),
            max_examples_per_check=args.max_examples,
        )
        if args.table is None:
            # package mode: every resource, FK dims wired automatically
            from .package import check_package

            pres = check_package(
                spark,
                parse_source(args.spec),
                config=config,
                loader=lambda s, n: load_table(s, args.data, n),
            )
            all_issues = list(pres.descriptor_issues) + [
                i for r in pres.resources.values() for i in (r.spec_issues or [])
            ]
            with _executed_once(pres.resources.values()):
                rc = _report(
                    pres.unordered_violations(), pres.violations(),
                    list(pres.resources.items()), all_issues, args.audit,
                )
            return rc if args.error else 0

        df = load_table(spark, args.data, args.table)
        extra = []
        if args.tokens_structure:
            from .operators.sequences import structure_checks

            parts = args.tokens_structure.split(",")
            if len(parts) not in (4, 5):
                raise SystemExit(
                    "--tokens-structure expects BOS,EOS,PAD,MAXID[,COLUMN]"
                )
            col = parts[4] if len(parts) == 5 else "tokens"
            extra = structure_checks(
                col,
                bos=int(parts[0]),
                eos=int(parts[1]),
                pad=int(parts[2]),
                max_id=int(parts[3]),
            )
        dims = {d: load_table(spark, args.data, d) for d in args.dims}

        run = None
        if args.resume_ledger:
            # checkpoint/resume: restrict to pending (source,bucket) units
            from .operators.audit import ResumableRun

            # the ledger finds each violation's unit by its row key, the
            # primary key: without one, rows are addressed by position
            if not spec.primary_key or "source" not in df.columns:
                raise SystemExit("--resume-ledger needs a primary key and a 'source' column")
            run = ResumableRun(
                ledger_path=args.resume_ledger,
                n_buckets=args.n_buckets,
                key=args.bucket_key or spec.primary_key[0],
                row_key=list(spec.primary_key),
            )
            pending, n_units = run.pending(df)
            if n_units == 0:
                print("All work units already complete — nothing to do.")
                return 0
            df = pending.drop("_bucket")
        res = check_table(df, spec, config=config, dims=dims, extra_checks=extra)

        # package-level G1/G2 adjudication (resource path/data oneOf,
        # path string-vs-array — ref check.py:616-680) on the raw
        # descriptor; only multi-resource descriptors have the package
        # shape (a bare resource doc is accepted as-is by read_spec)
        pkg_issues = []
        addr = parse_source(args.spec)
        if os.path.isfile(addr):
            import json as _json

            with open(addr) as fh:
                _doc = _json.load(fh)
            if "resources" in _doc:
                pkg_issues = validate_package(_doc)
        all_issues = pkg_issues + list(res.spec_issues or [])
        with _executed_once([res]):
            rc = _report(
                res.unordered_violations, res.violations, [(None, res)],
                all_issues, args.audit,
            )
            if run is not None:
                # after the sink: a unit is complete once its rows are out
                run.record(pending, res.unordered_violations)
        return rc if args.error else 0
    except DataPackageError:
        return 1
    finally:
        if host is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
