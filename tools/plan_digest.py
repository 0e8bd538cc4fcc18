"""Behaviour digest of the validation paths on the seq_cli inputs, to
compare two checkouts with one command each.

    PYTHONPATH=<checkout> python tools/plan_digest.py [--seed 1] [--cores 4]

Generates (or reuses) the benchmark's seq_cli inputs for ``--seed`` under
``.bench_build/plan_digest`` (``perfbench.gen`` and
``perfbench.worker.package_spec``, imported read-only), then prints:

* ``cli``: ``cli.main`` in-process over the ``sequences`` table with the
  benchmark's argv; the SHA-256 of its sink rows, each row as JSON, sorted
  (a multiset digest: the sink has no row order);
* ``table``: ``check_table`` on the same table, spec, dims and token
  structure checks; the rows of its ``summary`` (read after the
  violations executed) and every FileScan ``ReadSchema`` of
  ``unordered_violations``' executed plan, in plan order;
* ``batch``: one ``ValidationPlan(batch, ...).apply(batch)`` over the first
  micro-batch file with the streaming spec; the digest of its unordered
  violation rows, its summary rows and its ``ReadSchema`` list.

The package is imported from ``PYTHONPATH`` first, so this one script
digests any checkout that has ``check_table``, ``ValidationPlan`` and
``cli.main``; the pandas workers import it from there too. The last line
is a JSON object of everything above: identical lines mean the two
checkouts wrote the same rows, summaries and scans.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _inputs(seed: int) -> str:
    from perfbench import gen

    out = os.path.join(ROOT, ".bench_build", "plan_digest", f"seed-{seed}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        shutil.rmtree(out, ignore_errors=True)
        manifest = gen.generate("seq_cli", gen.SCALES["full"], seed, out)
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump(manifest, f)
    return out


def _digest(rows) -> dict:
    lines = sorted(json.dumps(list(r), default=str) for r in rows)
    return {"rows": len(lines), "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def _read_schemas(df) -> list:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an adaptive plan prints its final plan, then the initial one again
    return re.findall(r"ReadSchema: (\S+)", plan.split("== Initial Plan ==")[0])


def _result(res) -> dict:
    """Digest, summary rows and scans of one ValidationResult; the
    violations execute first, so an observed summary is complete."""
    unordered = res.unordered_violations
    out = {"violations": _digest(unordered.collect()), "read_schemas": _read_schemas(unordered)}
    out["summary"] = [[str(v) for v in r] for r in res.summary.collect()]
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)
    # after PYTHONPATH: the package comes from the checkout under test
    sys.path.append(ROOT)

    from perfbench import gen
    from perfbench.worker import package_spec

    import check_datapackage_spark
    from check_datapackage_spark import TableSpec, check_table, cli
    from check_datapackage_spark.operators.sequences import structure_checks
    from check_datapackage_spark.plans.validation import ValidationPlan
    from check_datapackage_spark.session import get_spark

    print(f"package: {os.path.dirname(check_datapackage_spark.__file__)}", file=sys.stderr)
    data = _inputs(args.seed)
    spark = get_spark("plan-digest", cores=args.cores)
    # FileScan strings truncate the ReadSchema at 100 characters by default
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    structure = dict(bos=gen.BOS, eos=gen.EOS, pad=gen.PAD, max_id=gen.MAX_ID)
    dims = {"sources": spark.read.parquet(os.path.join(data, "sources.parquet"))}
    work = tempfile.mkdtemp(prefix="plan-digest-")
    report: dict = {"seed": args.seed}
    try:
        spec_path = os.path.join(work, "datapackage.json")
        with open(spec_path, "w") as f:
            json.dump(package_spec(stream=False), f)
        sink = os.path.join(work, "sink")
        s = structure
        cli_argv = [
            "--data", data, "--table", "sequences", "--spec", spec_path,
            "--dims", "sources", "--audit", sink,
            "--tokens-structure", f"{s['bos']},{s['eos']},{s['pad']},{s['max_id']}",
            "--config", os.path.join(work, "none.toml"),
        ]
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(io.StringIO()):
            rc = cli.main(cli_argv)
        report["cli"] = {"rc": rc, "sink": _digest(spark.read.parquet(sink).collect())}

        table = spark.read.parquet(os.path.join(data, "sequences.parquet"))
        spec = TableSpec.from_dict(package_spec(stream=False)["resources"][0])
        res = check_table(table, spec, dims=dims, extra_checks=structure_checks("tokens", **s))
        report["table"] = _result(res)

        batch = spark.read.parquet(os.path.join(data, "batches", "part-0000.parquet"))
        stream_spec = TableSpec.from_dict(package_spec(stream=True)["resources"][0])
        plan = ValidationPlan(
            batch, stream_spec, dims=dims, extra_checks=structure_checks("tokens", **s)
        )
        report["batch"] = _result(plan.apply(batch))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    print(f"cli sink: {report['cli']['sink']}")
    for part in ("table", "batch"):
        print(f"{part} violations: {report[part]['violations']}")
        for row in report[part]["summary"]:
            print(f"{part} summary: {' | '.join(row)}")
        for schema in report[part]["read_schemas"]:
            print(f"{part} ReadSchema: {schema}")
    print(json.dumps(report, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
