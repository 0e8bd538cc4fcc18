"""Per-micro-batch split of the streaming validator on the seq_cli stream.

    PYTHONPATH=. python tools/microbatch_split.py [--seed 1] [--rounds 3] [--cores 4]

Generates (or reuses) the benchmark's seq_cli inputs for ``--seed`` under
``.bench_build/microbatch_split``, then runs ``--rounds`` fresh
``foreach_batch_validator``s over the micro-batch files, one batch per
file in file order, with the benchmark's stream spec, dims and token
structure checks (``perfbench.gen`` and ``perfbench.worker.package_spec``,
imported read-only). The validator is called directly with each file's
DataFrame, the way ``foreachBatch`` calls it with a micro-batch.

Per batch it prints one line:

* ``build_s`` — from calling the validator until it hands the violations
  to the sink: plan compile (when the validator compiles) and DataFrame
  building, with any job that runs before the sink;
* ``write_s`` — the sink: ``write_violations`` executing the plan and
  writing parquet partitioned by ``type``;
* ``build_jobs`` / ``write_jobs`` — Spark jobs submitted in each phase.

The last line is a JSON object with per-round lists and the medians over
the rounds after the first (cold) one. Run it on two checkouts on the same
host to compare them; it works with any version of the package that has
``foreach_batch_validator(spec, dims, sink, extra_checks)``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _inputs(seed: int) -> str:
    from perfbench import gen

    out = os.path.join(ROOT, ".bench_build", "microbatch_split", f"seed-{seed}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        shutil.rmtree(out, ignore_errors=True)
        manifest = gen.generate("seq_cli", gen.SCALES["full"], seed, out)
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump(manifest, f)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rounds", type=int, default=3, help="validators to run; the first is cold")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)

    from perfbench import gen
    from perfbench.worker import package_spec

    from check_datapackage_spark import TableSpec
    from check_datapackage_spark.operators.sequences import structure_checks
    from check_datapackage_spark.session import get_spark
    from check_datapackage_spark.sources.registry import write_violations
    from check_datapackage_spark.streaming.checks import foreach_batch_validator

    data = _inputs(args.seed)
    spark = get_spark("microbatch-split", cores=args.cores)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spec = TableSpec.from_dict(package_spec(stream=True)["resources"][0])
    dims = {"sources": spark.read.parquet(os.path.join(data, "sources.parquet"))}
    structure = dict(bos=gen.BOS, eos=gen.EOS, pad=gen.PAD, max_id=gen.MAX_ID)
    files = sorted(glob.glob(os.path.join(data, "batches", "part-*.parquet")))
    sink_root = tempfile.mkdtemp(prefix="microbatch-split-")

    def jobs(group: str) -> int:
        return len(tracker.getJobIdsForGroup(group))

    rounds = []
    try:
        for r in range(args.rounds):
            marks: dict = {}

            def sink(violations, epoch_id, r=r, marks=marks):
                marks["sink"] = time.perf_counter()
                sc.setJobGroup(f"mbs-{r}-{epoch_id}-write", "sink write")
                write_violations(violations, os.path.join(sink_root, f"r{r}", f"epoch={epoch_id}"))
                marks["done"] = time.perf_counter()

            validator = foreach_batch_validator(
                spec, dims, sink=sink, extra_checks=structure_checks("tokens", **structure)
            )
            batches = []
            for epoch, path in enumerate(files):
                batch = spark.read.parquet(path)
                sc.setJobGroup(f"mbs-{r}-{epoch}-build", "validator build")
                t0 = time.perf_counter()
                validator(batch, epoch)
                row = {
                    "round": r,
                    "epoch": epoch,
                    "build_s": round(marks["sink"] - t0, 3),
                    "write_s": round(marks["done"] - marks["sink"], 3),
                    "build_jobs": jobs(f"mbs-{r}-{epoch}-build"),
                    "write_jobs": jobs(f"mbs-{r}-{epoch}-write"),
                }
                print(json.dumps(row), flush=True)
                batches.append(row)
            rounds.append(batches)
        sc.setJobGroup("", "")
    finally:
        shutil.rmtree(sink_root, ignore_errors=True)
        spark.stop()

    warm = [b for batches in rounds[1:] for b in batches] or rounds[0]
    summary = {"seed": args.seed, "rounds": len(rounds), "batches_per_round": len(files)}
    for k in ("build_s", "write_s", "build_jobs", "write_jobs"):
        summary[f"warm_median_{k}"] = round(statistics.median(b[k] for b in warm), 3)
    summary["total_s_by_round"] = [
        round(sum(b["build_s"] + b["write_s"] for b in batches), 3) for batches in rounds
    ]
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
