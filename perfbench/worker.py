"""One measured run in a fresh process: start the session, run one
workload's units through the package's public entry points, write the raw
timings (and, when traced, spans and event-log totals) to ``result.json``.

Started by ``run.py`` as ``python3 -m perfbench.worker <config.json>``; the
config names the workload, its input directory and the run directory.
Outputs of every unit are left in the run directory for ``run.py`` to check.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

def package_spec(stream: bool) -> dict:
    """The datapackage descriptor the CLI and the streaming validator read."""
    from . import gen

    meta: dict = {"name": "meta", "type": "string"}
    if stream:
        meta["constraints"] = {
            "jsonSchema": {
                "type": "object",
                "required": ["lang"],
                "properties": {"lang": {"type": "string"}, "q": {"type": "number"}},
            }
        }
    return {
        "name": "perfbench",
        "resources": [
            {
                "name": "sequences",
                "path": "sequences.parquet",
                "schema": {
                    "fields": [
                        {"name": "doc_id", "type": "string",
                         "constraints": {"required": True, "pattern": gen.DOC_ID_PATTERN}},
                        {"name": "tokens", "type": "array"},
                        {"name": "n_tok", "type": "integer",
                         "constraints": {"minimum": gen.MIN_N_TOK, "maximum": gen.MAX_N_TOK}},
                        {"name": "source", "type": "string", "constraints": {"required": True}},
                        meta,
                    ],
                    "primaryKey": "doc_id",
                    "foreignKeys": [
                        {"fields": "source",
                         "reference": {"resource": "sources", "fields": "source_id"}}
                    ],
                },
            },
            {
                "name": "sources",
                "path": "sources.parquet",
                "schema": {
                    "fields": [{"name": "source_id", "type": "string"},
                               {"name": "title", "type": "string"}],
                    "primaryKey": "source_id",
                },
            },
        ],
    }


class CliWorkload:
    """Both validation entry points per unit: ``cli.main`` in-process over
    the large table (count, sink write, summary, show), then a
    ``readStream`` over the micro-batch files into
    ``foreach_batch_validator`` (one micro-batch per file)."""

    #: untimed units after the cold one: the JIT is still compiling the hot
    #: paths through the second unit, and warm times taken there spread widely
    warmup = 1
    #: warm units run even when the measuring window is already spent
    min_warm = 2

    def __init__(self, spark, cfg):
        from check_datapackage_spark import TableSpec

        from . import gen

        self.spark = spark
        self.cfg = cfg
        self.rows = cfg["manifest"]["rows"]
        self.spec_path = os.path.join(cfg["run_dir"], "datapackage.json")
        with open(self.spec_path, "w") as f:
            json.dump(package_spec(stream=False), f)
        self.structure = dict(bos=gen.BOS, eos=gen.EOS, pad=gen.PAD, max_id=gen.MAX_ID)
        self.stream_spec = TableSpec.from_dict(package_spec(stream=True)["resources"][0])
        self.dims = {"sources": spark.read.parquet(os.path.join(cfg["data_dir"], "sources.parquet"))}
        self.batch_dir = os.path.join(cfg["data_dir"], "batches")
        self.schema = spark.read.parquet(os.path.join(self.batch_dir, "part-0000.parquet")).schema

    def unit(self, i, tracer):
        from check_datapackage_spark import cli

        s = self.structure
        argv = [
            "--data", self.cfg["data_dir"], "--table", "sequences", "--spec", self.spec_path,
            "--dims", "sources", "--audit", os.path.join(self.cfg["run_dir"], f"sink-{i}"),
            "--tokens-structure", f"{s['bos']},{s['eos']},{s['pad']},{s['max_id']}",
            "--cores", str(self.cfg["cores"]),
            # no config file: a stray .cdp.toml in the working directory must not apply
            "--config", os.path.join(self.cfg["run_dir"], "none.toml"),
        ]
        t0 = time.time()
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(io.StringIO()):
            rc = cli.main(argv)
        t_cli = time.time()
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        batches = self.stream(i, tracer)
        return {"t0": t0, "t1": time.time(), "cli_s": t_cli - t0, "batches": batches}

    def stream(self, i, tracer):
        from check_datapackage_spark.operators.sequences import structure_checks
        from check_datapackage_spark.sources.registry import write_violations
        from check_datapackage_spark.streaming.checks import foreach_batch_validator

        sink = os.path.join(self.cfg["run_dir"], f"stream-{i}")

        def to_sink(violations, epoch_id):
            write_violations(violations, os.path.join(sink, f"epoch={epoch_id}"))

        validator = foreach_batch_validator(
            self.stream_spec, self.dims, sink=to_sink,
            extra_checks=structure_checks("tokens", **self.structure),
        )
        with tracer.span("streaming.checks") if tracer else contextlib.nullcontext():
            q = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.batch_dir)
                .writeStream.foreachBatch(validator)
                .option("checkpointLocation", os.path.join(self.cfg["run_dir"], f"ckpt-{i}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        # per-batch latency as the query itself reports it
        return [p["durationMs"]["triggerExecution"] / 1000.0
                for p in q.recentProgress if p["numInputRows"] > 0]


class CorpusWorkload:
    """The corpus-quality operators, each result pulled with toPandas()."""

    #: one timed warm pass and no untimed one: a pass takes half again as
    #: long as a seq_cli unit, and the benchmark's time budget (48 runs in
    #: 3,420 s) has no room for a second
    warmup = 0
    min_warm = 1

    def __init__(self, spark, cfg):
        from pyspark.sql import functions as F

        from check_datapackage_spark.operators import dedup, drift, packing, sequences, sketch, stats

        from . import gen

        m = cfg["manifest"]
        self.cfg = cfg
        self.rows = m["rows"]
        df = spark.read.parquet(os.path.join(cfg["data_dir"], "corpus.parquet"))
        text = df.select("doc_id", "source", F.array_join("tokens", " ").alias("text"))
        small = text.where(F.col("doc_id") < m["subset_below"])
        # (name, layer, builder(results so far)); every builder returns a DataFrame
        self.steps = [
            ("profile", "operators.stats", lambda r: stats.profile(df, columns=["n_tok", "source"])),
            ("tdigest", "operators.sketch",
             lambda r: sketch.tdigest_by_group(df, "n_tok", "source", quantiles=(0.1, 0.5, 0.9))),
            ("token_histogram", "operators.drift",
             lambda r: drift.token_histogram(df, "tokens", vocab=gen.VOCAB, n_buckets=256, by="source")),
            # drift over the histogram already pulled: the token scan runs once per pass
            ("drift", "operators.drift",
             lambda r: drift.drift_from_histogram(spark.createDataFrame(r["token_histogram"]), "source")),
            ("ks", "operators.drift",
             lambda r: drift.ks_drift_by_group(df, "n_tok", "source", m["hot_source"])),
            ("structure", "operators.sequences",
             lambda r: sequences.structure_summary(
                 df, F.col("tokens"), gen.BOS, gen.EOS, gen.PAD, gen.MAX_ID, by="source")),
            ("pack", "operators.packing",
             lambda r: packing.pack_sequences(df.select("doc_id", "n_tok", "source"), "n_tok",
                                              seq_len=2048, by="source")),
            ("minhash", "operators.dedup",
             lambda r: dedup.minhash_near_dups(text, "text", "doc_id", threshold=0.7)),
            # once above and once below the operator's small-corpus gate
            ("overlap_big", "operators.dedup",
             lambda r: dedup.source_overlap_matrix(text, "text", "source", k=5)),
            ("overlap_small", "operators.dedup",
             lambda r: dedup.source_overlap_matrix(small, "text", "source", k=5)),
        ]

    def unit(self, i, tracer):
        out_dir = os.path.join(self.cfg["run_dir"], f"out-{i}")
        os.makedirs(out_dir)
        results, batches = {}, []
        t0 = time.time()
        for name, layer, build in self.steps:
            s0 = time.time()
            with tracer.span(layer) if tracer else contextlib.nullcontext():
                results[name] = build(results).toPandas()
            batches.append(time.time() - s0)
        t1 = time.time()
        for name, pdf in results.items():
            pdf.to_parquet(os.path.join(out_dir, f"{name}.parquet"))
        return {"t0": t0, "t1": t1, "batches": batches}


WORKLOADS = {"seq_cli": CliWorkload, "seq_corpus": CorpusWorkload}


def main(config_path: str) -> None:
    with open(config_path) as f:
        cfg = json.load(f)
    trace = cfg["trace"]
    tracer = None
    if trace:
        from .trace import Tracer

        tracer = Tracer()
        tracer.install()
    from check_datapackage_spark import session

    extra = {}
    if trace:
        log_dir = os.path.join(cfg["run_dir"], "eventlog")
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    spark = session.get_spark("perfbench", cores=cfg["cores"], extra_conf=extra)
    ready = time.time()
    result: dict = {"ready": ready, "units": [], "errors": []}
    workload = WORKLOADS[cfg["workload"]](spark, cfg)

    def run_unit(i, traced, warmup=False):
        if tracer:
            tracer.unit = i if traced else None
        try:
            u = workload.unit(i, tracer if traced else None)
            u.update(unit=i, traced=traced, ok=True)
        except Exception as e:  # a failed unit is counted, and the run goes on
            u = {"unit": i, "traced": traced, "ok": False, "t0": 0, "t1": 0, "batches": []}
            result["errors"].append(f"unit {i}: {type(e).__name__}: {e}")
        if tracer:
            tracer.unit = None
        # persisted RDDs the unit left behind, read before clearing them
        u["rdds_left"] = len(spark.sparkContext._jsc.getPersistentRDDs())
        u["warmup"] = warmup
        spark.catalog.clearCache()
        # each unit starts from the live heap: peak RSS does not hinge on
        # how much garbage earlier units left in the old generation
        spark._jvm.java.lang.System.gc()
        result["units"].append(u)

    run_unit(0, traced=False)
    i = 1
    for _ in range(workload.warmup):
        run_unit(i, traced=False, warmup=True)
        i += 1
    seconds = cfg["seconds"]
    # a traced run times one untraced unit for the overhead ratio, then traces
    phases = [(False, 0, 1), (True, seconds, 1)] if trace else [(False, seconds, workload.min_warm)]
    for traced, span, min_units in phases:
        deadline = time.time() + span
        n = 0
        while n < min_units or time.time() < deadline:
            run_unit(i, traced)
            i += 1
            n += 1
    if trace:
        from . import trace as tr

        spark.stop()  # completes the event log

        units = [u for u in result["units"] if u["traced"] and u["ok"]]
        spans = tracer.spans
        result["layer_table"] = tr.layer_table(spans, units)
        result["setup_spans"] = [s for s in spans if s["unit"] is None and s["parent"] is None]
        result["event_log"] = tr.parse_event_log(tr.find_event_log(log_dir), spans, units, workload.rows)
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
