"""Benchmark entry point.

    python3 perfbench/run.py --workload seq_cli --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Generates (or reuses) the seeded
inputs under ``.bench_build/perfbench``, times fresh-process session
set-up, runs the workload in a fresh worker process for ``--seconds`` of
warm units after one cold unit (and, on seq_cli, one untimed warm-up
unit), checks every unit's outputs against DuckDB
recounts, and prints one JSON object as the last line of stdout. With
``--trace 1`` the metrics are the per-layer ones (see BENCHMARK.json).

Every process it starts runs in its own process group, which is killed and
reaped before exit. Exit code 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
#: fresh-process session starts measured per run besides the worker's own
SETUP_PROBES = 1
DRIVER_MEMORY = "2g"
#: A fixed heap and young generation under the throughput collector, with a
#: full collection after every unit (worker.py): the driver JVM's resident
#: size then follows what a unit allocates and retains, not when a
#: collector chose to resize the heap or how much garbage it let build up.
JVM_HEAP_OPTS = f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms{DRIVER_MEMORY} -Xmn768m -XX:SurvivorRatio=4"
WORKER_TIMEOUT_S = 150

PROBE = """
import sys, time
from check_datapackage_spark.session import get_spark
get_spark("perfbench-probe", cores=int(sys.argv[1]))
print("ready", time.time(), flush=True)
"""


def _env(cores: int) -> dict:
    # killed session probes leave Spark scratch directories behind: start clean
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # Python workers import the package (and perfbench) from the checkout
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}",
        # glibc otherwise grows up to 8 malloc arenas per core in the JVM's native threads
        MALLOC_ARENA_MAX="2",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def _group_procs(pgid: int) -> dict[int, tuple[str, int]]:
    """Live (non-zombie) processes of a process group: pid -> (command name, parent pid)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            procs[int(d)] = (head.split("(", 1)[1], int(fields[1]))
    return procs


def _group_rss_mb(pgid: int) -> float:
    """Summed RSS of the group's processes. A child the JVM spawns shares the
    JVM's address space until it execs (``posix_spawn``), so its RSS reads as
    a second copy of the JVM's; only the Python workers among the JVM's
    children are counted. Hadoop's file system spawns such short-lived
    helpers while the sinks are written."""
    page = os.sysconf("SC_PAGE_SIZE")
    procs = _group_procs(pgid)
    total = 0
    for pid, (comm, ppid) in procs.items():
        if procs.get(ppid, ("",))[0] == "java" and not comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / (1024.0 * 1024.0)


def _reap_group(proc: subprocess.Popen, grace: float) -> None:
    """Wait up to ``grace`` seconds for the process group of ``proc`` to end,
    then kill it; return once every member is gone."""
    deadline = time.time() + grace
    while proc.poll() is None or _group_procs(proc.pid):
        if time.time() > deadline:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    proc.wait()


def probe_setup(env: dict, cores: int) -> float:
    """Seconds from spawning a fresh interpreter to a ready get_spark session."""
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-c", PROBE, str(cores)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        start_new_session=True, text=True,
    )
    try:
        line = proc.stdout.readline()
        if not line.startswith("ready"):
            raise RuntimeError("session probe did not start")
        return float(line.split()[1]) - t0
    finally:
        proc.stdout.close()
        _reap_group(proc, grace=0)


def run_worker(env: dict, cfg: dict) -> tuple[dict, float, float]:
    """-> (worker result, spawn time, peak RSS of the worker's process tree)."""
    cfg_path = os.path.join(cfg["run_dir"], "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log = open(os.path.join(cfg["run_dir"], "worker.log"), "w")
    spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", cfg_path],
        cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    peak = 0.0
    try:
        while proc.poll() is None:
            peak = max(peak, _group_rss_mb(proc.pid))
            if time.time() - spawn > WORKER_TIMEOUT_S:
                raise RuntimeError("worker timed out")
            time.sleep(0.1)
    finally:
        # the worker stops its session before exiting; nothing left needs a grace period
        _reap_group(proc, grace=0)
        log.close()
    if proc.returncode != 0:
        with open(log.name) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker exited with {proc.returncode}:\n{tail}")
    with open(os.path.join(cfg["run_dir"], "result.json")) as f:
        return json.load(f), spawn, peak


def check_units(workload: str, result: dict, run_dir: str, data_dir: str, manifest: dict):
    """-> (attempted, failed, errors). seq_cli attempts one CLI run and one
    micro-batch per batch file per unit; seq_corpus one pass per unit. An
    attempt fails when it raised or its outputs mismatch the recount."""
    from perfbench import oracle

    con = oracle.connect()
    attempted = failed = 0
    errors = list(result["errors"])
    per_unit = 1 + len(manifest["batches"]) if workload == "seq_cli" else 1
    try:
        for u in result["units"]:
            attempted += per_unit
            if not u["ok"]:
                failed += per_unit
                continue
            i = u["unit"]
            if workload == "seq_cli":
                cli_errs = oracle.check_cli(con, os.path.join(run_dir, f"sink-{i}"), manifest)
                stream_errs = oracle.check_stream(con, os.path.join(run_dir, f"stream-{i}"), manifest)
                if len(u["batches"]) != len(manifest["batches"]):
                    stream_errs.append(f"{len(u['batches'])} micro-batches ran")
                failed += bool(cli_errs) + (per_unit - 1 if stream_errs else 0)
                errs = cli_errs + stream_errs
            else:
                errs = oracle.check_corpus(con, os.path.join(run_dir, f"out-{i}"), data_dir, manifest)
                failed += bool(errs)
            errors += [f"unit {i}: {e}" for e in errs]
    finally:
        con.close()
    return attempted, failed, errors


def _quantile(values: list, q: float) -> float:
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(workload, result, manifest, setups, peak_rss):
    """seq_cli: a run is one cli.main call, a batch one streaming micro-batch.
    seq_corpus: a run is one pass over all operators, a batch one operator
    call (plus its toPandas)."""
    units = [u for u in result["units"] if u["ok"]]
    cold, warm = units[0], [u for u in units[1:] if not u["traced"] and not u["warmup"]]
    if workload == "seq_cli":
        first = cold["cli_s"]
        runs = [u["cli_s"] for u in warm]
    else:
        first = cold["t1"] - cold["t0"]
        runs = [u["t1"] - u["t0"] for u in warm]
    batches = [b for u in warm for b in u["batches"]]
    run_s = statistics.median(runs)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "first_run_s": (first, "s"),
        "run_s": (run_s, "s"),
        "batch_p50_s": (_quantile(batches, 0.5), "s"),
        "batch_p90_s": (_quantile(batches, 0.9), "s"),
        "rows_per_s": (manifest["rows"] / run_s, "1/s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    samples = {
        "setup_s": len(setups), "first_run_s": 1, "run_s": len(runs),
        "batch_p50_s": len(batches), "batch_p90_s": len(batches),
        "rows_per_s": len(runs), "peak_rss_mb": 1,
    }
    return metrics, samples


def per_layer(result):
    units = [u for u in result["units"] if u["ok"] and u["traced"]]
    plain = [u for u in result["units"][1:] if u["ok"] and not u["traced"] and not u["warmup"]]
    n = len(units)
    lt = result["layer_table"]
    ev = result["event_log"]
    metrics = {}
    for layer, row in lt["layers"].items():
        metrics[f"{layer}.calls"] = (row["calls"] / n, "count")
        metrics[f"{layer}.self_s"] = (row["self_s"] / n, "s")
        metrics[f"{layer}.jobs"] = (ev["layer_jobs"][layer] / n, "count")
    units_of = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.tasks_failed": "count", "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
        "scan.input_mb": "MB", "scan.rows": "count", "scan.passes": "count",
        "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
        "exchange.fetch_wait_s": "s", "sort.spill_mb": "MB", "python_arrow.task_s": "s",
        "result.mb": "MB",
    }
    for name, unit in units_of.items():
        metrics[name] = (ev["totals"][name] / n, unit)
    metrics["cache.rdds_left"] = (statistics.mean(u["rdds_left"] for u in units), "count")
    setup = [s for s in result["setup_spans"] if s["layer"] == "session"]
    metrics["session.setup_s"] = (sum(s["t1"] - s["t0"] for s in setup), "s")
    traced_s = statistics.median(u["t1"] - u["t0"] for u in units)
    plain_s = statistics.median(u["t1"] - u["t0"] for u in plain)
    metrics["trace.overhead_ratio"] = (traced_s / plain_s, "ratio")
    metrics["trace.top_span_coverage"] = (lt["coverage"], "ratio")
    return metrics


def host_noise(cores: int) -> dict:
    """CPU calibration of this window, from the frozen query-suite harness."""
    sys.path.insert(0, ROOT)
    import bench

    return {
        "cpu_cal_iters_per_s": round(bench.cpu_calibration(0.25)),
        "mspin_iters_per_s": round(bench.mspin(cores, 0.25)),
        "loadavg_1m": os.getloadavg()[0],
        "cores": cores,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["seq_cli", "seq_corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is the self-check size")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "check_datapackage_spark", "__init__.py")):
        print("check_datapackage_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen

    cores = len(os.sched_getaffinity(0))
    env = _env(cores)
    # DuckDB and the calibration pool spill into the checkout's tmp as well
    os.environ["TMPDIR"] = tempfile.tempdir = env["TMPDIR"]
    phases = {}
    t = time.time()
    data_dir = gen.ensure(os.path.join(BUILD, "data"), args.scale, args.workload, args.seed)
    phases["inputs_s"] = time.time() - t
    with open(os.path.join(data_dir, "manifest.json")) as f:
        manifest = json.load(f)

    t = time.time()
    noise = host_noise(cores)
    phases["calibration_s"] = time.time() - t
    t = time.time()
    setups = [probe_setup(env, cores) for _ in range(SETUP_PROBES)]
    phases["probes_s"] = time.time() - t
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": cores, "data_dir": data_dir,
            "run_dir": run_dir, "manifest": manifest,
        }
        t = time.time()
        result, spawn, peak = run_worker(env, cfg)
        phases["worker_s"] = time.time() - t
        setups.append(result["ready"] - spawn)
        phases["worker_units_s"] = [round(u["t1"] - u["t0"], 2) for u in result["units"]]
        phases["worker_exit_s"] = time.time() - max(u["t1"] for u in result["units"])
        t = time.time()
        attempted, failed, errors = check_units(args.workload, result, run_dir, data_dir, manifest)
        phases["checks_s"] = time.time() - t
        if args.trace:
            metrics = per_layer(result)
            samples = {}
        else:
            metrics, samples = end_to_end(args.workload, result, manifest, setups, peak)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(env["TMPDIR"], ignore_errors=True)
    info = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
            "samples": samples, "phases_s": {k: v if isinstance(v, list) else round(v, 2) for k, v in phases.items()},
            "host": noise, "errors": errors[:20]}
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
