"""foreachBatch validation, windowed stream counts, IVF ANN, rolling
fingerprints — the remaining untested paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.fixtures import (
    allowed_sources_df,
    sequences_spec,
    sequences_with_violations,
)
from check_datapackage_spark.operators import similarity, text
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


def test_rolling_fingerprints(spark):
    df = spark.createDataFrame(
        [
            ("one two three four five six seven eight nine ten",),
            ("one two three four five six seven eight nine ten",),
            ("completely different words in this document here now",),
        ],
        ["text"],
    )
    fps = df.select(text.rolling_fingerprints(F.col("text"), window=4, step=2).alias("fp"))
    rows = [r["fp"] for r in fps.collect()]
    assert rows[0] == rows[1]  # identical docs → identical fingerprints
    assert set(rows[0]).isdisjoint(set(rows[2]))
    assert len(rows[0]) >= 2


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


def test_stateful_session_counts_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer agrees with the batch q16
    sessionization on the same events."""
    from check_datapackage_spark.queries import QUERIES
    from check_datapackage_spark.streaming.checks import stateful_session_counts

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "ev")
    ev = load(spark, sf, "events")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    out = stateful_session_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["user_id"]: r["n_sessions"]
        for r in spark.sql(
            "SELECT user_id, max(n_sessions) AS n_sessions FROM sess GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n_sessions"]
        for r in QUERIES["q16_sessions"](spark, sf).collect()
    }
    assert got == want


def test_streaming_dedup_drops_duplicate_keys(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: duplicate doc_ids arriving
    within the horizon are suppressed; batch ground truth = distinct
    keys of the input."""
    import pyspark.sql.functions as F
    from check_datapackage_spark.streaming.checks import streaming_dedup

    src = str(tmp_path / "dup_docs")
    rows = [(i % 50, f"2024-01-01 00:{i % 60:02d}:00") for i in range(200)]
    df = (
        spark.createDataFrame(rows, ["doc_id", "ts_s"])
        .select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    )
    df.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    out = streaming_dedup(stream, keys=("doc_id",), ts_col="ts", delay="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT doc_id FROM dedup_stream").collect()
    ids = [r["doc_id"] for r in got]
    assert sorted(ids) == sorted(set(ids)), "duplicates survived"
    assert set(ids) == set(range(50))


def test_streaming_pack_offsets_continues_across_batches(spark, tmp_path):
    """streaming_pack_offsets: offsets continue across micro-batches
    (state = one long per group) and match a hand-computed concat-and-
    chunk layout in arrival order; zero-token docs emit NULL spans."""
    import pandas as pd

    from check_datapackage_spark.streaming.checks import streaming_pack_offsets

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, source string, n_tok int"
    pa_schema = pa.schema(
        [("doc_id", pa.int64()), ("source", pa.string()), ("n_tok", pa.int32())]
    )

    def land(name, rows):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(cols[0], pa.int64()),
                    "source": pa.array(cols[1], pa.string()),
                    "n_tok": pa.array(cols[2], pa.int32()),
                },
                schema=pa_schema,
            ),
            str(src / name),
        )

    # trigger 1: A gets 5 then 3 tokens; B gets 2
    land("f1.parquet", [(1, "A", 5), (2, "A", 3), (10, "B", 2)])

    stream = (
        spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    out = streaming_pack_offsets(stream, seq_len=4, by="source")
    q = (
        out.writeStream.format("memory")
        .queryName("pack")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # trigger 2: A continues at offset 8; zero-token doc in B
        land("f2.parquet", [(3, "A", 4), (11, "B", 0)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        r["doc_id"]: r for r in spark.sql("SELECT * FROM pack").collect()
    }
    assert (rows[1]["start_tok"], rows[1]["first_seq"], rows[1]["last_seq"]) == (0, 0, 1)
    assert (rows[2]["start_tok"], rows[2]["first_seq"], rows[2]["last_seq"]) == (5, 1, 1)
    # batch 2 continues A's stream at 8 — state carried the total
    assert (rows[3]["start_tok"], rows[3]["first_seq"], rows[3]["last_seq"]) == (8, 2, 2)
    assert (rows[10]["start_tok"], rows[10]["first_seq"]) == (0, 0)
    assert rows[11]["first_seq"] is None and rows[11]["last_seq"] is None


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


def test_windowed_histogram_drift_monitor(spark, tmp_path):
    from check_datapackage_spark.operators.drift import bucket_expr
    from check_datapackage_spark.streaming.checks import (
        windowed_drift_monitor,
        windowed_histogram,
    )

    src = str(tmp_path / "ev_drift")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    # 5-day windows: ~165 events each — populated enough that the
    # full-bucket-domain PSI (which rightly blows up on near-empty
    # windows missing baseline buckets) stays small for same-
    # distribution data
    hist = windowed_histogram(
        stream, "value", ts_col="ts", lo=0.0, hi=100.0, n_buckets=8,
        window="5 days", watermark="1 hour",
    )
    # baseline = the BATCH histogram over the same data: live windows
    # drawn from the same distribution should show near-zero drift
    batch = (
        spark.read.parquet(src)
        .select(bucket_expr(F.col("value"), 0.0, 100.0, 8).alias("b"))
        .groupBy("b").count().collect()
    )
    baseline = {r["b"]: float(r["count"]) for r in batch}

    got: list = []

    def sink(df, epoch_id):
        got.extend(df.collect())

    q = (
        hist.writeStream.foreachBatch(windowed_drift_monitor(baseline, sink))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) >= 4  # 30 days of 5d windows, all but the tail closed
    # same-distribution windows: drift exists (small windows) but PSI is
    # finite and non-negative everywhere
    assert all(r["psi"] >= -1e-9 for r in got)
    import statistics

    assert statistics.median(r["psi"] for r in got) < 1.0


def test_drift_monitor_scores_vanished_baseline_bucket(spark):
    """A baseline-heavy bucket with ZERO observed rows must contribute
    its (0-pb)*log(eps/(pb+eps)) term (r4 ADVICE: the observed-rows-only
    sum silently dropped it)."""
    from check_datapackage_spark.streaming.checks import windowed_drift_monitor

    batch = spark.createDataFrame(
        [("w1", 1, 10)], "window string, bucket int, count long"
    )
    got: list = []
    fn = windowed_drift_monitor({0: 0.5, 1: 0.5}, lambda df, e: got.extend(df.collect()))
    fn(batch, 0)
    assert len(got) == 1
    # all mass moved out of bucket 0: PSI ≈ 0.5*log(0.5/eps)*2 >> 1;
    # the old observed-only sum would report ~0.35
    assert got[0]["psi"] > 5.0
    # observed bucket OUTSIDE the baseline domain still enters with pb=0
    got2: list = []
    fn2 = windowed_drift_monitor({0: 1.0}, lambda df, e: got2.extend(df.collect()))
    fn2(
        spark.createDataFrame(
            [("w1", 7, 5)], "window string, bucket int, count long"
        ),
        0,
    )
    assert got2[0]["psi"] > 5.0


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
