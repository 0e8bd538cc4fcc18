"""SparkSession factory with engine defaults.

Local-mode knobs chosen for the sandbox (local[N], single JVM); the same
settings scale out: AQE on (runtime re-plan + skew-join backstop),
shuffle partitions ≈ cores locally (on a cluster: 2-3× total cores or
AQE-coalesced), Arrow enabled for the pandas-UDF path, UTC timezone
pinned for oracle comparability.

A session :func:`get_spark` creates also has pyspark's DataFrame
debugging off (``spark.python.sql.dataFrameDebugging.enabled=false``).
With it on, every Column call records its Python call site through
several extra py4j round trips; building one validation plan makes
thousands of them. The cost: analysis errors no longer name the Python
line that built the failing expression. pyspark reads the flag once per
process, on the first Column call, so it is set when the session is
created. A session that already exists (a host application's) is
returned with its own confs; it only gets :func:`exclude_infer_filters`.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


#: pyspark's per-Column call-site capture (see the module docstring)
DATAFRAME_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"

INFER_FILTERS_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

def get_spark(
    app_name: str = "check_datapackage_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if SparkContext._active_spark_context is not None:
        # the configured builder's getOrCreate would rewrite the host's
        # runtime confs; one without options leaves them as they are
        spark = SparkSession.builder.getOrCreate()
        exclude_infer_filters(spark)
        return spark
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # long sessions compile hundreds of generated classes (43
        # driver queries × runs); the JVM's default 240 MB reserved
        # code cache fills, JIT compilation stops, and late queries run
        # interpreted — measured as alphabetically-late queries (q35+)
        # timing 5-6× their fresh-session cost in bench sweeps
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m"
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate duplicates the explode input
        # expression into a size()>0 Filter evaluated on EVERY row.
        # Harmless for cheap codegen predicates (round-2 A/B), but the
        # fused violations array with interpreted variant (jsonSchema)
        # checks is expensive to evaluate — the duplicated copy
        # measured 11.0 s vs 0.83 s without the rule at sf0.1 (13×).
        # explode (non-outer) already drops empty arrays on its own.
        .config("spark.sql.optimizer.excludedRules", INFER_FILTERS_RULE)
        .config(DATAFRAME_DEBUGGING, "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def exclude_infer_filters(spark: SparkSession) -> None:
    """Append InferFiltersFromGenerate to the session's excluded
    optimizer rules (idempotent, preserves other exclusions).

    For sessions not built by :func:`get_spark` (e.g. the driver
    harness): the rule duplicates the fused violations array — with
    interpreted variant (jsonSchema) checks that copy measured 13×
    the whole plan's cost (see get_spark)."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    rules = [r for r in (cur or "").split(",") if r]
    if INFER_FILTERS_RULE not in rules:
        rules.append(INFER_FILTERS_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
