"""foreachBatch validation, windowed stream counts, IVF ANN — the
remaining untested paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.fixtures import (
    allowed_sources_df,
    sequences_spec,
    sequences_with_violations,
)
from check_datapackage_spark.operators import similarity
from tests.conftest import load


def test_foreach_batch_validator(spark, tmp_path):
    from check_datapackage_spark.streaming.checks import foreach_batch_validator

    src = str(tmp_path / "in")
    df, _ = sequences_with_violations(spark, 200)
    df.drop("_row").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    seen: list[tuple[int, int]] = []

    def sink(violations, epoch_id):
        seen.append((epoch_id, violations.count()))

    fb = foreach_batch_validator(
        sequences_spec(),
        dims={"allowed_sources": allowed_sources_df(spark)},
        sink=sink,
    )
    q = stream.writeStream.foreachBatch(fb).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # spec-only checks (no token invariants passed): 2 required +
    # 1 pattern + 1 minimum + 1 maximum + 1 unique + 1 foreign-key
    assert seen and sum(n for _, n in seen) == 7



def _counting_compiles(monkeypatch):
    """Count compile_table_checks calls (the compile step of a plan)."""
    from check_datapackage_spark import compile as compile_mod

    calls = []
    real = compile_mod.compile_table_checks

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(compile_mod, "compile_table_checks", counted)
    return calls


def _violation_rows(df):
    from check_datapackage_spark.issue import VIOLATION_COLUMNS

    return sorted(map(tuple, df.select(VIOLATION_COLUMNS).collect()), key=str)


def test_foreach_batch_validator_compiles_once(spark, tmp_path, monkeypatch):
    """Three micro-batches, one compile: the validator binds each batch
    to the plan its first batch compiled, and every epoch's sink rows are
    check_table's violations for that batch."""
    from check_datapackage_spark import check_table
    from check_datapackage_spark.streaming.checks import foreach_batch_validator

    src = str(tmp_path / "in")
    df, _ = sequences_with_violations(spark, 300)
    for lo in (0, 100, 200):
        part = df.where((F.col("_row") >= lo) & (F.col("_row") < lo + 100))
        part.drop("_row").coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    dims = {"allowed_sources": allowed_sources_df(spark)}

    sunk: dict = {}
    batches: dict = {}
    validator = foreach_batch_validator(
        sequences_spec(), dims=dims,
        sink=lambda v, epoch: sunk.__setitem__(epoch, _violation_rows(v)),
    )

    def run(batch, epoch):
        batches[epoch] = batch.collect()
        validator(batch, epoch)

    calls = _counting_compiles(monkeypatch)
    q = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(run).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(sunk) == sorted(batches) and len(batches) == 3
    assert len(calls) == 1
    for epoch, rows in batches.items():
        want = check_table(spark.createDataFrame(rows, schema), sequences_spec(), dims=dims)
        assert sunk[epoch] == _violation_rows(want.violations), epoch
    assert any(sunk.values())


def test_foreach_batch_validator_recompiles_on_schema_change(spark, monkeypatch):
    from check_datapackage_spark import check_table
    from check_datapackage_spark.streaming.checks import foreach_batch_validator

    df, _ = sequences_with_violations(spark, 100)
    first = df.drop("_row")
    wider = first.withColumn("note", F.lit("x"))  # one more column
    dims = {"allowed_sources": allowed_sources_df(spark)}
    sunk: list = []
    validator = foreach_batch_validator(
        sequences_spec(), dims=dims, sink=lambda v, epoch: sunk.append(_violation_rows(v))
    )
    calls = _counting_compiles(monkeypatch)
    for epoch, batch in enumerate((first, first, wider)):
        validator(batch, epoch)
    assert len(calls) == 2  # the first batch, then the changed schema
    want = _violation_rows(check_table(first, sequences_spec(), dims=dims).violations)
    assert sunk[0] == sunk[1] == want
    assert sunk[2] == _violation_rows(check_table(wider, sequences_spec(), dims=dims).violations)
    assert sunk[2]


def test_windowed_violation_counts(spark, tmp_path):
    from check_datapackage_spark.compile import compile_invariant
    from check_datapackage_spark.streaming.checks import windowed_violation_counts

    src = str(tmp_path / "ev")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    checks = [
        compile_invariant(
            "value.nonneg",
            F.col("value") >= 0,
            "minimum",
            "value must be >= 0",
            column="value",
        )
    ]
    agg = windowed_violation_counts(
        stream, checks, ts_col="ts", window="6 hours", watermark="1 hour"
    )
    q = agg.writeStream.format("memory").queryName("wvc").outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM wvc").collect()
    finally:
        q.stop()
    # append mode emits only watermark-closed windows; the fixture spans
    # 30 days so all but the last close
    assert len(rows) >= 100
    assert all(r["check"] == "value.nonneg" for r in rows)


def test_windowed_violation_counts_without_checks(spark, tmp_path):
    """An empty check list gives an empty (window, check, fail_count)
    frame, on a batch frame and on a stream."""
    from check_datapackage_spark.streaming.checks import windowed_violation_counts

    df = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "id int, ts string")
    counts = windowed_violation_counts(df, [], ts_col="ts", window="1 hour")
    assert counts.columns == ["window", "check", "fail_count"]
    assert counts.collect() == []

    src = str(tmp_path / "ev")
    df.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = windowed_violation_counts(stream, [], ts_col="ts", window="1 hour")
    q = agg.writeStream.format("memory").queryName("wvc_empty").outputMode("append").start()
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM wvc_empty").collect() == []
    finally:
        q.stop()


def test_ivf_topk_finds_planted(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.0005)).alias("embedding"),
        "label",
    )
    out = similarity.ivf_topk(emb, queries, dim=64, k=5, n_cells=16, n_probe=4).collect()
    top1 = {(r["query_id"], r["vec_id"]) for r in out if r["rank"] == 1}
    assert top1 == {(5000, 0), (5001, 1), (5002, 2)}


def test_asof_join_semantics(spark):
    from check_datapackage_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 12:00:00", "b"),
         (2, "2024-01-01 09:00:00", "c")],
        "k int, ts string, tag string",
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 10.0), (1, "2024-01-01 11:00:00", 20.0),
         (1, "2024-01-01 12:00:00", 30.0), (2, "2024-01-01 09:30:00", 99.0)],
        "k int, ts string, v double",
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    out = {
        (r["k"], r["tag"]): r["v_asof"]
        for r in asof_join(left, right, "k", "ts", "ts", ["v"]).collect()
    }
    assert out[(1, "a")] == 10.0        # most recent prior
    assert out[(1, "b")] == 30.0        # equal ts included (>= semantics)
    assert out[(2, "c")] is None        # no prior right row → null


def test_asof_join_tolerance(spark):
    from pyspark.sql import functions as F
    from check_datapackage_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 5.0)], "k int, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    within = asof_join(left, right, "k", "ts", "ts", ["v"],
                       tolerance_us=3 * 3600 * 1_000_000).collect()[0]
    beyond = asof_join(left, right, "k", "ts", "ts", ["v"],
                       tolerance_us=3600 * 1_000_000).collect()[0]
    assert within["v_asof"] == 5.0
    assert beyond["v_asof"] is None


def test_cli_strictify():
    from check_datapackage_spark.cli import strictify
    from check_datapackage_spark.spec import TableSpec

    spec = TableSpec.from_dict(
        {"name": "t", "schema": {"fields": [
            {"name": "name", "type": "string"},
            {"name": "x", "type": "integer"}]}}
    )
    s = strictify(spec)
    assert all(f.constraints.required for f in s.fields)
    # ref strict name pattern (check.py:518-527)
    assert s.field("name").constraints.pattern == r"^[a-z0-9._-]+$"


def test_lsh_topk_exact_finds_planted_twin(spark, sf_dir):
    """lsh_topk_exact: a +0.001-shifted copy of each query vector is
    near-identical (cosine ~1), so every query finds its source at
    rank 1 through the md5-plane buckets."""
    from pyspark.sql import functions as F

    from check_datapackage_spark.operators.similarity import lsh_topk_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") + 0.001).cast("float")
        ).alias("embedding"),
    )
    out = lsh_topk_exact(emb, queries, dim=64, k=5).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert top1 == {100000 + i: i for i in range(5)}


def test_session_window_counts_streaming_matches_batch(spark, tmp_path):
    """Engine-native session_window streaming aggregation agrees with
    the same operator run in batch mode (q71's served path)."""
    from check_datapackage_spark.streaming.checks import session_window_counts

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "ev")
    ev = load(spark, sf, "events")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    out = session_window_counts(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("swc")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM swc").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_window_counts(ev, gap="30 minutes").collect()
    }
    assert got == want and len(want) > 0


def test_range_join_stream_static_enrichment(spark, tmp_path):
    """range_join works unchanged as a STREAMING enrichment: streaming
    facts equi-join the static interval table on (key, bucket) — the
    bucketized form is what makes the range predicate streamable (a
    raw BETWEEN against a stream is a disallowed non-equi join)."""
    from check_datapackage_spark.operators.asof import range_join
    from check_datapackage_spark.streaming.checks import session_window_counts

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "ev")
    ev = load(spark, sf, "events")
    ev.write.parquet(src)
    sess = session_window_counts(ev, gap="30 minutes").select(
        "user_id", "session_start", "session_end"
    )

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src).select(
        "event_id", "user_id", "ts"
    )
    out = range_join(
        stream, sess, "ts", "session_start", "session_end",
        keys=["user_id"], bucket_s=1800,
    ).select("event_id", "session_start")
    q = (
        out.writeStream.format("memory")
        .queryName("rj")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.event_id, r.session_start)
        for r in spark.sql("SELECT * FROM rj").collect()
    }
    want = {
        (r.event_id, r.session_start)
        for r in range_join(
            ev.select("event_id", "user_id", "ts"), sess, "ts",
            "session_start", "session_end",
            keys=["user_id"], bucket_s=1800,
        ).select("event_id", "session_start").collect()
    }
    assert got == want and len(want) == ev.count()
