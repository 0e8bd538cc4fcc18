"""Driver-contract queries: each SURVEY §2 operator as a
(spark_query, duckdb_oracle_sql) pair over the testdata tables.

Exactness rules (the driver value-hashes results):
* identical column names/order in Spark and SQL (every computed column
  aliased on both sides);
* integer arithmetic wherever possible; decimal-exact aggregation for
  money sums (then one cast to double — both engines cast the same
  exact decimal);
* doubles only from per-row scalar expressions (bit-identical across
  engines) or rounded aggregates;
* no engine-specific hash functions in oracle-matched queries (md5 is
  the portable fingerprint; xxhash64 stays Spark-side in rows-only
  queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import cluster, decontam, dedup, diff, drift, infer, multimodal, packing, referential, sampling, sequences, similarity, stats, text, uniqueness
from .operators.drift import bucket_sql
from .plans.validation import violations_plan
from .spec import CheckConfig, Exclusion, TableSpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import exclude_infer_filters
    from .sources.registry import load_table

    # oracle comparability does not depend on who built the session:
    # timestamps format/cast in UTC (DuckDB is UTC-naive)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # nor does plan quality: driver-owned sessions also get the
    # InferFiltersFromGenerate exclusion (see session.get_spark)
    exclude_infer_filters(spark)
    return load_table(spark, sf_dir, name)


def _dec(col, scale: int = 2):
    return col.cast(f"decimal(18,{scale})")


def _sorted(df: DataFrame, *cols: str) -> DataFrame:
    """persist + orderBy for expensive plans: a global sort's range-
    partition SAMPLING pass otherwise re-executes the entire upstream
    plan a second time (q38's fused variant checks: +3 s per run). The
    sampling pass populates the cache; the sort pass reads it. Results
    are small (bounded violation/summary sets), so the block is cheap
    and the caller's clearCache()/session teardown reclaims it."""
    return df.persist().orderBy(*cols)


# ---------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape; C6-range analog + fused agg)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    f = li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
    one = F.lit(1).cast("decimal(18,2)")
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(
                _dec(F.col("l_extendedprice")) * (one - _dec(F.col("l_discount")))
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q02 — one-pass column profile (stats operator)
# ---------------------------------------------------------------------------


def q02_profile_lineitem(spark, sf_dir):
    """One-row lineitem profile; the exact median is Spark's
    ``percentile``, the package's one exact-quantile implementation."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("qty_nulls"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.min("l_shipdate").cast("date").cast("string").alias("min_shipdate"),
    )
    # an aggregate of its own: inside the countDistinct aggregate the
    # percentile runs through the Expand and is 2.2x slower
    med = li.agg(
        F.round(F.percentile(F.col("l_quantity").cast("double"), F.lit(0.5)), 6)
        .alias("median_qty")
    )
    return base.crossJoin(F.broadcast(med)).select(
        "n_rows",
        "qty_nulls",
        "min_qty",
        "max_qty",
        "median_qty",
        "distinct_orders",
        "min_shipdate",
    )


Q02_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(l_quantity) AS qty_nulls,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       COUNT(DISTINCT l_orderkey) AS distinct_orders,
       CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS min_shipdate
FROM lineitem
"""


# ---------------------------------------------------------------------------
# q03 — long-form null rates (C1 profile over documents)
# ---------------------------------------------------------------------------


def q03_null_rates_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = stats.null_rates(docs, ["doc_id", "text", "lang", "source", "n_chars"])
    return out.select("column", "n_rows", "n_null").orderBy("column")


Q03_SQL = """
WITH base AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(*) - COUNT(doc_id) AS d, COUNT(*) - COUNT(text) AS t,
         COUNT(*) - COUNT(lang) AS l, COUNT(*) - COUNT(source) AS s,
         COUNT(*) - COUNT(n_chars) AS n
  FROM documents)
SELECT 'doc_id' AS "column", n_rows, d AS n_null FROM base
UNION ALL SELECT 'lang', n_rows, l FROM base
UNION ALL SELECT 'n_chars', n_rows, n FROM base
UNION ALL SELECT 'source', n_rows, s FROM base
UNION ALL SELECT 'text', n_rows, t FROM base
ORDER BY "column"
"""


# ---------------------------------------------------------------------------
# q04 — duplicate keys (C11 uniqueness, hash-agg)
# ---------------------------------------------------------------------------


def q04_dup_keys_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return uniqueness.dup_key_counts(li, ["l_orderkey", "l_linenumber"]).orderBy(
        "l_orderkey", "l_linenumber"
    )


Q04_SQL = """
SELECT l_orderkey, l_linenumber, COUNT(*) AS dup_count
FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# q05 — uniqueness violation rows (full Issue contract)
# ---------------------------------------------------------------------------


def q05_unique_violations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # r6: the operator sorts the narrow key frame before building the
    # violation strings (identical ordering — jsonpath is built from
    # the keys alone)
    return uniqueness.uniqueness_violations(
        li,
        ["l_orderkey", "l_linenumber"],
        "lineitem",
        order_by_jsonpath=True,
    )


Q05_SQL = """
SELECT '$.lineitem[' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
         || '].l_orderkey,l_linenumber' AS jsonpath,
       'unique' AS type,
       'value of `l_orderkey,l_linenumber` must be unique but appears more than once' AS message,
       CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS instance,
       'l_orderkey,l_linenumber.unique' AS "check",
       'l_orderkey,l_linenumber' AS "column",
       CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
ORDER BY jsonpath
"""


# ---------------------------------------------------------------------------
# q06 — referential integrity (broadcast anti-join; damaged dim to get rows)
# ---------------------------------------------------------------------------


def q06_referential_missing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders_half = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 2 == 0)
    misses = referential.missing_keys(li, orders_half, ["l_orderkey"], ["o_orderkey"])
    return (
        misses.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_rows_affected"))
        .orderBy("l_orderkey")
    )


Q06_SQL = """
SELECT l_orderkey, COUNT(*) AS n_rows_affected
FROM lineitem l
WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey = l.l_orderkey)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# q07 — enum check (C5) violation rows on orders
# ---------------------------------------------------------------------------

ORDERS_SPEC = TableSpec.from_dict(
    {
        "name": "orders",
        "schema": {
            "fields": [
                {
                    "name": "o_orderkey",
                    "type": "integer",
                    "constraints": {"required": True},
                },
                {
                    "name": "o_orderstatus",
                    "type": "string",
                    "constraints": {"enum": ["F", "O"]},
                },
                {
                    "name": "o_orderpriority",
                    "type": "string",
                    "constraints": {"pattern": "^[1-5]-[A-Z ]+$"},
                },
            ],
            "primaryKey": "o_orderkey",
            "foreignKeys": [
                {
                    "fields": "o_custkey",
                    "reference": {"resource": "customer", "fields": "c_custkey"},
                }
            ],
        },
    }
)


def q07_check_orders_fused(spark, sf_dir):
    """Flagship: full check_table on orders — fused row checks +
    uniqueness + referential, one violations DataFrame."""
    from .plans.validation import check_table

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    res = check_table(orders, ORDERS_SPEC, dims={"customer": customer})
    return _sorted(res.unordered_violations, "jsonpath", "type")


Q07_SQL = """
SELECT '$.orders[' || CAST(o_orderkey AS VARCHAR) || '].o_orderstatus' AS jsonpath,
       'enum' AS type,
       'value is not one of [''F'', ''O'']' AS message,
       o_orderstatus AS instance,
       'o_orderstatus.enum' AS "check",
       'o_orderstatus' AS "column",
       CAST(o_orderkey AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM orders
WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F', 'O')
ORDER BY jsonpath, type
"""


# ---------------------------------------------------------------------------
# q08 — histogram (drift building block)
# ---------------------------------------------------------------------------

_HIST_ARGS = dict(lo=0.0, hi=600.0, n_buckets=12)


def q08_histogram_nchars(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return drift.histogram(docs, "n_chars", by="lang", **_HIST_ARGS).orderBy(
        "lang", "bucket"
    )


Q08_SQL = f"""
SELECT lang, {bucket_sql('n_chars', 0.0, 600.0, 12)} AS bucket, COUNT(*) AS count
FROM documents WHERE n_chars IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# q09 — drift PSI/KL per group vs global
# ---------------------------------------------------------------------------


def q09_drift_psi_nchars(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    d = drift.drift_by_group(docs, "n_chars", "source", 0.0, 600.0, 12)
    return d.select(
        "source", F.round("kl", 4).alias("kl"), F.round("psi", 4).alias("psi")
    ).orderBy("source")


Q09_SQL = f"""
WITH h AS (
  SELECT source, {bucket_sql('n_chars', 0.0, 600.0, 12)} AS bucket, COUNT(*) AS count
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT bucket, SUM(count) AS gcount FROM h GROUP BY 1),
gt AS (SELECT source, SUM(count) AS gn FROM h GROUP BY 1),
tt AS (SELECT SUM(gcount) AS tn FROM tot),
j AS (
  SELECT h.source,
         GREATEST(CAST(h.count AS DOUBLE) / gt.gn, 1e-9) AS pa,
         GREATEST(CAST(tot.gcount AS DOUBLE) / tt.tn, 1e-9) AS pb
  FROM h JOIN tot USING (bucket) JOIN gt USING (source) CROSS JOIN tt)
SELECT source,
       ROUND(SUM(pa * LN(pa / pb)), 4) AS kl,
       ROUND(SUM((pa - pb) * LN(pa / pb)), 4) AS psi
FROM j GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q10 — token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------


def q10_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # r6: both counts in one Arrow pass (bit-identical — see
    # text.token_counts_arrow); the JVM regex pair cost ~2x the scan
    pre = dedup._spread(docs).select(
        "lang", text.token_counts_arrow(F.col("text")).alias("_tc")
    ).select("lang", F.col("_tc.ws").alias("_ws"), F.col("_tc.re").alias("_re"))
    return (
        pre.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ws").alias("total_ws_tokens"),
            F.sum("_re").cast("long").alias("total_regex_tokens"),
        )
        .orderBy("lang")
    )


Q10_SQL = r"""
WITH pre AS (
  SELECT lang,
         CASE WHEN LENGTH(TRIM(regexp_replace(text, '\s+', ' ', 'g'))) = 0 THEN 0
              ELSE LENGTH(TRIM(regexp_replace(text, '\s+', ' ', 'g')))
                   - LENGTH(REPLACE(TRIM(regexp_replace(text, '\s+', ' ', 'g')), ' ', ''))
                   + 1 END AS ws,
         LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(re) AS BIGINT) AS total_regex_tokens
FROM pre GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q11 — language ID vs labeled lang (confusion counts)
# ---------------------------------------------------------------------------


def q11_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup._spread(docs)
        .select("lang", text.detect_lang_arrow(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _lang_sql_scores() -> str:
    parts = []
    for lang, words in text.LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        parts.append(f"LEN(regexp_extract_all(LOWER(text), '{pat}')) AS s_{lang}")
    return ", ".join(parts)


Q11_SQL = f"""
WITH sc AS (SELECT lang, {_lang_sql_scores()} FROM documents),
p AS (
  SELECT lang,
    CASE
      WHEN s_en > 0 AND s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
      WHEN s_de > 0 AND s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
      WHEN s_fr > 0 AND s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
      WHEN s_es > 0 AND s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
      ELSE 'und' END AS predicted
  FROM sc)
SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# q12 — quality scoring (low-quality counts per source)
# ---------------------------------------------------------------------------


def q12_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    q = dedup._spread(docs).select(
        "source",
        text.quality_score_arrow(F.col("text"), F.col("n_chars")).alias("_q"),
    )
    return (
        q.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("_q") < 0.5).cast("long")).alias("n_low_quality"),
            F.sum((F.col("_q") >= 0.8).cast("long")).alias("n_high_quality"),
        )
        .orderBy("source")
    )


_EN_PAT = r"\b(" + "|".join(text.LANG_MARKERS["en"]) + r")\b"

Q12_SQL = rf"""
WITH pre AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS n,
         CASE WHEN LENGTH(TRIM(regexp_replace(text, '\s+', ' ', 'g'))) = 0 THEN 0
              ELSE LENGTH(TRIM(regexp_replace(text, '\s+', ' ', 'g')))
                   - LENGTH(REPLACE(TRIM(regexp_replace(text, '\s+', ' ', 'g')), ' ', ''))
                   + 1 END AS toks,
         CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
           / NULLIF(LENGTH(text), 0) AS praw,
         LEN(regexp_extract_all(LOWER(text), '{_EN_PAT}')) AS sw
  FROM documents),
sc AS (
  SELECT source,
    ROUND((
      (CASE WHEN n >= 200 AND n <= 20000 THEN 1.0
            WHEN n < 200 THEN n / 200.0 ELSE 20000.0 / n END)
      + (CASE WHEN COALESCE(praw, 0.0) <= 0.1 THEN 1.0
              ELSE GREATEST(0.0, 1.0 - (COALESCE(praw, 0.0) - 0.1) * 5.0) END)
      + LEAST(1.0, (CASE WHEN toks = 0 THEN 0.0
                         ELSE CAST(sw AS DOUBLE) / toks END) * 5.0)
    ) / 3.0, 6) AS q
  FROM pre)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       CAST(SUM(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
FROM sc GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q13 — exact-dup fingerprints (md5, portable)
# ---------------------------------------------------------------------------


def q13_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "source", text.fingerprint_md5(F.col("text")).alias("_fp")
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_fp").alias("n_distinct_fp"),
        )
        .orderBy("source")
    )


Q13_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')))) AS n_distinct_fp
FROM documents GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q14 — quantized ANN top-k (bit-exact cross-engine)
# ---------------------------------------------------------------------------


def q14_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = similarity.quantized_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", "qdot", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


Q14_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         CAST(list_sum(list_transform(list_zip(e.embedding, q.qe),
           x -> CAST(ROUND(CAST(x[1] AS DOUBLE) * 1000) AS BIGINT)
              * CAST(ROUND(CAST(x[2] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS qdot
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, qdot,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS INTEGER) AS rank
      FROM s)
SELECT query_id, vec_id, qdot, rank FROM r WHERE rank <= 10
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# q15 — windowed event counts (streaming-analog on batch)
# ---------------------------------------------------------------------------


def q15_windowed_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
        )
        .orderBy("window_start", "event_type")
    )


Q15_SQL = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# q16 — sessionization (gap > 30 min)
# ---------------------------------------------------------------------------


def q16_sessions(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session TZ pinned UTC so the cast is exact
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    marked = ev.select(
        "user_id",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0).alias("_new"),
    )
    return (
        marked.groupBy("user_id")
        .agg(F.sum("_new").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


Q16_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              OR LAG(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# q17 — top-k per group (window row_number)
# ---------------------------------------------------------------------------


def q17_top_users(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = W.partitionBy("event_type").orderBy(F.desc("n_events"), F.col("user_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .orderBy("event_type", "rank")
    )


Q17_SQL = """
WITH c AS (SELECT event_type, user_id, COUNT(*) AS n_events
           FROM events GROUP BY 1, 2),
r AS (SELECT event_type, user_id, n_events,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY n_events DESC, user_id) AS INTEGER) AS rank
      FROM c)
SELECT event_type, user_id, n_events, rank FROM r WHERE rank <= 3
ORDER BY event_type, rank
"""


# ---------------------------------------------------------------------------
# q18 — per-row invariant: n_chars == length(text) (token-array analog)
# ---------------------------------------------------------------------------


def q18_invariant_nchars(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.length("text") != F.col("n_chars")).cast("long")).alias(
                "n_invariant_violations"
            ),
        )
        .orderBy("lang")
    )


Q18_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN LENGTH(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_invariant_violations
FROM documents GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Rows-only queries (non-SQL-expressible; driver records row counts)
# ---------------------------------------------------------------------------


def _docs_with_planted_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    seed = docs.where(F.col("doc_id") < 10)
    exact = seed.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    near = seed.withColumn("doc_id", F.col("doc_id") + 2_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" appended tail marker"))
    )
    return docs.unionByName(exact).unionByName(near)


def q19_minhash_near_dups(spark, sf_dir):
    d = _docs_with_planted_dups(spark, sf_dir)
    # n_hashes=64 / bands=16 → r=4 rows per band: per-band collision
    # for a Jaccard-0.2 pair is 0.0016 (vs 4% at r=2), so the candidate
    # set stays linear at web scale; recall at the 0.5 threshold is
    # preserved (verified: identical pair sets at sf0.01 and sf0.1).
    out = dedup.minhash_near_dups(d, threshold=0.5, n_hashes=64, bands=16)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


#: Exact all-pairs shingle-Jaccard twin of q19 (VERDICT r2 next-round
#: #7): on this fixture the verified LSH output EQUALS the exact set at
#: the honest production params (n_hashes=64/bands=16, threshold 0.5) —
#: recall 1.0 is a property of the data (nearest natural pair sits at
#: 0.78 Jaccard, far from the 0.5 boundary), not of tuned thresholds.
#: The oracle is O(N²)-shaped but DuckDB-cheap at gate scale; Spark
#: keeps the banded-LSH linear plan.
Q19_SQL = r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 2000000, text || ' appended tail marker'
  FROM documents WHERE doc_id < 10
),
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM aug),
w AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
idx AS (SELECT doc_id, words,
               unnest(generate_series(1, greatest(len(words)-4, 1))) AS i
        FROM w),
sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS s
       FROM idx),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / (ca.c + cb.c - i), 4) AS jaccard
FROM inter
JOIN card ca ON ca.doc_id = id_a
JOIN card cb ON cb.doc_id = id_b
WHERE i / (ca.c + cb.c - i) >= 0.5
ORDER BY id_a, id_b
"""


def q20_simhash_near_dups(spark, sf_dir):
    d = _docs_with_planted_dups(spark, sf_dir)
    out = dedup.simhash_near_dups(d, max_hamming=3)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


#: Exact all-pairs SimHash twin of q20: the signature function is fully
#: deterministic SQL-expressible math (md5 of each lowercased
#: whitespace-split word, first 8 digest bytes little-endian masked to
#: 60 bits, per-bit majority vote — verified bit-identical to the
#: pandas-UDF path in tests/test_text_dedup.py), and the Spark plan's
#: 4×15-bit pigeonhole candidate generation is COMPLETE for
#: hamming ≤ 3 (4 chunks, ≤3 differing bits → ≥1 untouched chunk), so
#: the banded candidate set filtered to hamming ≤ 3 EQUALS the exact
#: all-pairs set — no recall caveat at any scale. The oracle computes
#: the O(N²) baseline; Spark keeps the chunk-bucketed linear plan.
Q20_SQL = r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
  UNION ALL SELECT doc_id + 2000000, text || ' appended tail marker'
  FROM documents WHERE doc_id < 10),
words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w
  FROM aug),
wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
hv AS (
  SELECT doc_id, cnt,
    CAST('0x' || substr(h,15,2)||substr(h,13,2)||substr(h,11,2)||
         substr(h,9,2)||substr(h,7,2)||substr(h,5,2)||substr(h,3,2)||
         substr(h,1,2) AS UBIGINT) & 1152921504606846975 AS v
  FROM (SELECT doc_id, cnt, md5(w) AS h FROM wc)),
bits AS (
  SELECT doc_id, k, SUM(cnt * ((v >> k) & 1)) AS ones, SUM(cnt) AS n
  FROM hv, (SELECT unnest(range(60)) AS k)
  GROUP BY 1, 2),
sig0 AS (
  SELECT doc_id,
         SUM(CASE WHEN 2*ones > n THEN (CAST(1 AS UBIGINT) << k)
             ELSE 0 END) AS sig
  FROM bits GROUP BY 1),
sig AS (
  SELECT a.doc_id, COALESCE(s.sig, 0) AS sig
  FROM aug a LEFT JOIN sig0 s ON a.doc_id = s.doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY id_a, id_b
"""


def q21_lsh_ann(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.001)).alias("embedding"),
    )
    dim = 64
    out = similarity.lsh_topk(emb, queries, dim=dim, k=5, n_planes=8, n_tables=8)
    return out.select(
        "query_id", "vec_id", F.round("score", 4).alias("score"), "rank"
    ).orderBy("query_id", "rank")


def q22_multimodal_features(spark, sf_dir):
    assets = multimodal.synth_assets(spark, 64)
    return multimodal.extract_features(assets).select(
        "doc_id", "byte_len", "sha256"
    ).orderBy("doc_id")


#: Exact twin of q22: ``synth_assets`` payloads are a pure function of
#: the row index (``('asset-%06d' % i * 7)[:100]``, ASCII), so DuckDB
#: can rebuild every payload inline and sha256 it — no table needed.
#: This pins the mapInPandas plumbing per row (Arrow batch alignment,
#: bulk byte conversion, output schema); the sha1-seeded feature vector
#: stays covered by pytest determinism tests.
Q22_SQL = r"""
WITH ids AS (SELECT unnest(range(64)) AS i),
p AS (
  SELECT i,
         substr(repeat('asset-' || lpad(CAST(i AS VARCHAR), 6, '0'), 7),
                1, 100) AS payload
  FROM ids)
SELECT 'doc-' || lpad(CAST(i AS VARCHAR), 6, '0') AS doc_id,
       CAST(length(payload) AS BIGINT) AS byte_len,
       sha256(payload) AS sha256
FROM p ORDER BY doc_id
"""


def q23_exact_dedup_rows(spark, sf_dir):
    d = _docs_with_planted_dups(spark, sf_dir)
    return dedup.exact_dup_groups(d).select(
        "fingerprint", "n_dups", F.array_join("doc_ids", ",").alias("doc_ids")
    ).orderBy("fingerprint")


Q23_SQL = r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
  UNION ALL SELECT doc_id + 2000000, text || ' appended tail marker'
  FROM documents WHERE doc_id < 10),
fp AS (SELECT md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fingerprint,
              doc_id FROM aug)
SELECT fingerprint, COUNT(*) AS n_dups,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
ORDER BY fingerprint
"""


# ---------------------------------------------------------------------------
# q24 — referential violation rows (full Issue contract, damaged dim)
# ---------------------------------------------------------------------------


def q24_referential_violations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders_half = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 2 == 0)
    # one row per missing fact row collapses under the Issue dedup key
    # (jsonpath without a distinct row key) — emit distinct keys.
    # r6: dedup happens on the narrow key column BEFORE the violation
    # strings are built (distinct=True), so the exchange carries longs
    # with map-side combine instead of 8 built strings per fact row
    # (guide §2.3) — same distinct row set, jsonpath is injective in
    # the key.
    v = referential.referential_violations(
        li,
        orders_half,
        ["l_orderkey"],
        ["o_orderkey"],
        "lineitem",
        "orders",
        distinct=True,
    )
    return _sorted(v, "jsonpath")


Q24_SQL = """
SELECT DISTINCT
       '$.lineitem[' || CAST(l_orderkey AS VARCHAR) || '].l_orderkey' AS jsonpath,
       'foreign-key' AS type,
       'value of `l_orderkey` not found in `orders`' AS message,
       CAST(l_orderkey AS VARCHAR) AS instance,
       'l_orderkey.foreign-key' AS "check",
       'l_orderkey' AS "column",
       CAST(l_orderkey AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM lineitem l
WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey = l.l_orderkey)
ORDER BY jsonpath
"""


# ---------------------------------------------------------------------------
# q25 — exclusion filter over violation rows (U4 as a query)
# ---------------------------------------------------------------------------


#: q25 spec adds a deliberately-failing pattern ('5-LOW' rejected by the
#: regex) so the exclusion demonstrably removes ONE class (enum) while
#: the other survives — a 0-row oracle would be a weak check.
Q25_SPEC = TableSpec.from_dict(
    {
        "name": "orders",
        "schema": {
            "fields": [
                {"name": "o_orderkey", "type": "integer", "constraints": {"required": True}},
                {"name": "o_orderstatus", "type": "string", "constraints": {"enum": ["F", "O"]}},
                {"name": "o_orderpriority", "type": "string", "constraints": {"pattern": "^[1-4]-[A-Z ]+$"}},
            ],
            "primaryKey": "o_orderkey",
        },
    }
)


def q25_excluded_violations(spark, sf_dir):
    from .plans.validation import check_table

    orders = _t(spark, sf_dir, "orders")
    res = check_table(
        orders,
        Q25_SPEC,
        config=CheckConfig(
            exclusions=(Exclusion(jsonpath="$.orders[*].o_orderstatus", type="enum"),)
        ),
    )
    return _sorted(res.unordered_violations, "jsonpath", "type")


Q25_SQL = """
SELECT '$.orders[' || CAST(o_orderkey AS VARCHAR) || '].o_orderpriority' AS jsonpath,
       'pattern' AS type,
       'value does not match pattern ''^[1-4]-[A-Z ]+$''' AS message,
       o_orderpriority AS instance,
       'o_orderpriority.pattern' AS "check",
       'o_orderpriority' AS "column",
       CAST(o_orderkey AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM orders
WHERE o_orderpriority IS NOT NULL
  AND NOT regexp_matches(o_orderpriority, '^[1-4]-[A-Z ]+$')
ORDER BY jsonpath, type
"""


# ---------------------------------------------------------------------------
# q26 — salted (skew-proof) uniqueness: identical answer to q04
# ---------------------------------------------------------------------------


def q26_dup_keys_salted(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return uniqueness.dup_key_counts_salted(
        li, ["l_orderkey", "l_linenumber"], n_buckets=32
    ).orderBy("l_orderkey", "l_linenumber")


Q26_SQL = Q04_SQL


# ---------------------------------------------------------------------------
# q27 — grouped exact quantiles (per-group profile)
# ---------------------------------------------------------------------------


def q27_group_quantiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile(F.col("l_quantity"), F.lit(0.25)), 6).alias("q25"),
            F.round(F.percentile(F.col("l_quantity"), F.lit(0.5)), 6).alias("q50"),
            F.round(F.percentile(F.col("l_quantity"), F.lit(0.75)), 6).alias("q75"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


Q27_SQL = """
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS q50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q28 — two-histogram divergence (KL/PSI/JS one-row)
# ---------------------------------------------------------------------------


def q28_divergence(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = drift.histogram(orders.where(F.col("o_orderstatus") == "F"), "o_totalprice", 0.0, 500000.0, 20)
    b = drift.histogram(orders.where(F.col("o_orderstatus") == "O"), "o_totalprice", 0.0, 500000.0, 20)
    d = drift.divergence(a, b)
    return d.select(
        F.round("kl", 4).alias("kl"),
        F.round("psi", 4).alias("psi"),
        F.round("js", 4).alias("js"),
    )


Q28_SQL = f"""
WITH a AS (
  SELECT {bucket_sql('o_totalprice', 0.0, 500000.0, 20)} AS bucket, COUNT(*) AS c
  FROM orders WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL GROUP BY 1),
b AS (
  SELECT {bucket_sql('o_totalprice', 0.0, 500000.0, 20)} AS bucket, COUNT(*) AS c
  FROM orders WHERE o_orderstatus = 'O' AND o_totalprice IS NOT NULL GROUP BY 1),
an AS (SELECT bucket, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM a) AS p FROM a),
bn AS (SELECT bucket, CAST(c AS DOUBLE) / (SELECT SUM(c) FROM b) AS p FROM b),
j AS (
  SELECT COALESCE(an.p, 1e-9) AS pa, COALESCE(bn.p, 1e-9) AS pb,
         (COALESCE(an.p, 1e-9) + COALESCE(bn.p, 1e-9)) / 2 AS pm
  FROM an FULL OUTER JOIN bn USING (bucket))
SELECT ROUND(SUM(pa * LN(pa / pb)), 4) AS kl,
       ROUND(SUM((pa - pb) * LN(pa / pb)), 4) AS psi,
       ROUND(SUM(pa * LN(pa / pm)) / 2 + SUM(pb * LN(pb / pm)) / 2, 4) AS js
FROM j
"""


# ---------------------------------------------------------------------------
# q29 — embedding cosine near-dup (rows-only; planted pairs)
# ---------------------------------------------------------------------------


def q29_embedding_near_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 700000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
        "label",
    )
    aug = emb.unionByName(planted)
    out = similarity.cosine_near_dups(aug, dim=64, threshold=0.999, n_planes=12)
    return out.select(
        "id_a", "id_b", F.round("score", 4).alias("score")
    ).orderBy("id_a", "id_b")


#: Exact all-pairs cosine twin of q29 (VERDICT r2 next-round #7): the
#: bucketed-LSH output equals the exact set on this fixture — the
#: planted ×1.0001 copies are the ONLY pairs at cosine ≥ 0.999 (scaling
#: preserves cosine exactly), so recall 1.0 is intrinsic, not tuned.
#: DuckDB computes the O(N²) baseline with list_inner_product; Spark
#: keeps the multi-table sketch-bucketed linear plan.
Q29_SQL = """
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 700000, list_transform(embedding, x -> x * 1.0001)
  FROM embeddings WHERE vec_id < 8
),
n AS (SELECT vec_id, embedding,
             sqrt(list_inner_product(embedding, embedding)) AS nrm
      FROM aug)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.embedding, b.embedding)
             / (a.nrm * b.nrm), 4) AS score
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.999
ORDER BY id_a, id_b
"""

def q30_json_props(spark, sf_dir):
    """P1 analog on data: JSONPath select over a JSON string column +
    C2 'object' validity — get_json_object / try_parse_json.

    Assumes ``k`` is integer-valued, as in the generated ``events``
    table: only then does ``try_variant_get(.., "long")`` equal the
    oracle's string-extract-then-cast. A fractional ``k`` (1.5) would
    truncate to 1 and a boolean ``true`` read as 1, where the oracle
    gives NULL for both."""
    ev = _t(spark, sf_dir, "events")
    # ONE parse per row: validity and $.k both come off the same
    # MATERIALIZED variant column (get_json_object + try_parse_json
    # each parsed the full document — 2 parses/row for one scalar and
    # a flag; a let-binding would force the whole expression
    # interpreted, while the two-project shape keeps the parse in
    # codegen and CollapseProject leaves multi-referenced non-cheap
    # aliases alone). try_variant_get(.., "long") ==
    # get_json_object(..).cast("long") on integer-valued k (BIGINT
    # variant → long; absent/invalid → NULL either way) —
    # oracle-verified at sf0.01/sf0.1.
    return (
        ev.withColumn("_v", F.try_parse_json(F.col("props")))
        .select(
            "event_type",
            F.try_variant_get(F.col("_v"), "$.k", "long").alias("_k"),
            F.col("_v").isNotNull().alias("_valid"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_valid").cast("long")).alias("n_valid_json"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
        .orderBy("event_type")
    )


Q30_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_json,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q31_asof_join(spark, sf_dir):
    """As-of join: for each click event, the user's most recent prior
    purchase (value + timestamp). Spark union+window implementation;
    DuckDB ASOF LEFT JOIN oracle."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    j = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        seq_col="event_id",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("value_asof").alias("last_purchase_value"),
        F.date_format(F.col("ts_asof"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_purchase_ts"
        ),
    ).orderBy("event_id")


Q31_SQL = """
SELECT c.event_id, c.user_id,
       p.value AS last_purchase_value,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
"""


def q32_tdigest_by_group(spark, sf_dir):
    """Per-group t-digest quantiles via the SALTED two-level sketch
    (rows-only — sketch results are approximate by design, accuracy and
    salted-vs-unsalted parity pinned in tests/test_sketch_functions.py).

    The served path is hot-group-safe: map-side value collapse →
    value-hash-salted partial digests → tiny per-group merge, so a
    3-group table at 100 TB never ships a whole group into one task
    (VERDICT r2 "What's wrong" #1)."""
    from .operators.sketch import tdigest_by_group_salted

    li = _t(spark, sf_dir, "lineitem")
    out = tdigest_by_group_salted(
        li, "l_quantity", "l_returnflag", [0.25, 0.5, 0.75]
    )
    return out.select(
        "l_returnflag", "q", F.round("value", 2).alias("value")
    ).orderBy("l_returnflag", "q")


def q33_exact_dedup(spark, sf_dir):
    """End-to-end exact dedup: corpus with planted duplicates in,
    one representative per fingerprint out."""
    d = _docs_with_planted_dups(spark, sf_dir)
    kept = dedup.exact_dedup(d)
    return kept.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.min("doc_id").alias("min_kept_id"),
        F.max("doc_id").alias("max_kept_id"),
    )


Q33_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
  UNION ALL SELECT doc_id + 2000000, text || ' appended tail marker'
  FROM documents WHERE doc_id < 10),
fp AS (SELECT doc_id,
              md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS f
       FROM aug),
kept AS (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f)
SELECT COUNT(*) AS n_after, MIN(doc_id) AS min_kept_id, MAX(doc_id) AS max_kept_id
FROM kept
"""


# ---------------------------------------------------------------------------
# q34 — oneOf/allOf combinators through the fused check plan (C10)
# ---------------------------------------------------------------------------


def q34_combinators(spark, sf_dir):
    """GROUP_ERRORS combinators (ref constants.py:5, check.py:917-950):
    oneOf = exactly-one-of two alternative columns (the resource
    path-vs-data rule lifted to columns), allOf = all columns present.
    Nullability is synthesized deterministically from event_id so both
    failure surfaces (none present → 'required', both → 'oneOf') and
    allOf violations all occur."""
    from .plans.validation import check_table

    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.col("props")).alias("props_a"),
        F.when(F.col("event_id") % 2 == 0, F.col("event_type")).alias("alt_b"),
        F.when(F.col("event_id") % 7 != 0, F.col("user_id")).alias("u"),
        "value",
    )
    spec = TableSpec.from_dict(
        {
            "name": "events_staged",
            "schema": {
                "fields": [{"name": "event_id", "type": "integer"}],
                "primaryKey": ["event_id"],
                "oneOf": [["props_a", "alt_b"]],
                "allOf": [["u", "value"]],
            },
        }
    )
    res = check_table(staged, spec)
    return _sorted(res.unordered_violations, "jsonpath", "type")


Q34_SQL = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN props END AS props_a,
         CASE WHEN event_id % 2 = 0 THEN event_type END AS alt_b,
         CASE WHEN event_id % 7 <> 0 THEN user_id END AS u,
         value
  FROM events)
SELECT * FROM (
  SELECT '$.events_staged[' || CAST(event_id AS VARCHAR) || ']' AS jsonpath,
         'required' AS type,
         'This row has no `props_a` or `alt_b` field. One of them must be provided.' AS message,
         CAST(NULL AS VARCHAR) AS instance,
         'props_a|alt_b.oneOf.required' AS "check",
         CAST(NULL AS VARCHAR) AS "column",
         CAST(event_id AS VARCHAR) AS row_key,
         CAST(NULL AS VARCHAR) AS partition
  FROM s WHERE props_a IS NULL AND alt_b IS NULL
  UNION ALL
  SELECT '$.events_staged[' || CAST(event_id AS VARCHAR) || ']',
         'oneOf',
         'must have exactly one of: `props_a`, `alt_b`',
         CAST(NULL AS VARCHAR),
         'props_a|alt_b.oneOf',
         CAST(NULL AS VARCHAR),
         CAST(event_id AS VARCHAR),
         CAST(NULL AS VARCHAR)
  FROM s WHERE props_a IS NOT NULL AND alt_b IS NOT NULL
  UNION ALL
  SELECT '$.events_staged[' || CAST(event_id AS VARCHAR) || ']',
         'allOf',
         'must have all of: `u`, `value`',
         CAST(NULL AS VARCHAR),
         'u|value.allOf',
         CAST(NULL AS VARCHAR),
         CAST(event_id AS VARCHAR),
         CAST(NULL AS VARCHAR)
  FROM s WHERE u IS NULL OR value IS NULL
)
ORDER BY jsonpath, type
"""


# ---------------------------------------------------------------------------
# q35 — nested jsonSchema constraint on a JSON-string column (C10)
# ---------------------------------------------------------------------------


def q35_json_schema_constraint(spark, sf_dir):
    """constraints.jsonSchema compile (ref schema §1.4): top-level
    'object' type, required property, per-property integer type —
    all built-in JSON expressions fused into the single-scan plan.
    Corruption is planted deterministically from event_id."""
    from .plans.validation import check_table

    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        F.when(F.col("event_id") % 11 == 0, F.substring("props", 1, 4))
        .when(F.col("event_id") % 13 == 0, F.lit('{"j": 1}'))
        .when(F.col("event_id") % 17 == 0, F.lit('{"k": "abc"}'))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    spec = TableSpec.from_dict(
        {
            "name": "events_js",
            "schema": {
                "fields": [
                    {
                        "name": "props",
                        "type": "string",
                        "constraints": {
                            "jsonSchema": {
                                "type": "object",
                                "required": ["k"],
                                "properties": {"k": {"type": "integer"}},
                            }
                        },
                    }
                ],
                "primaryKey": ["event_id"],
            },
        }
    )
    res = check_table(staged, spec)
    return _sorted(res.unordered_violations, "jsonpath", "type")


Q35_SQL = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 11 = 0 THEN SUBSTRING(props, 1, 4)
              WHEN event_id % 13 = 0 THEN '{"j": 1}'
              WHEN event_id % 17 = 0 THEN '{"k": "abc"}'
              ELSE props END AS props
  FROM events),
x AS (
  SELECT event_id, props,
         json_valid(props) AS v,
         CASE WHEN json_valid(props) THEN json_type(props, '$') END AS top_t,
         CASE WHEN json_valid(props) THEN json_type(props, '$.k') END AS k_t,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract(props, '$.k') AS DOUBLE) END AS k_d
  FROM s)
SELECT * FROM (
  SELECT '$.events_js[' || CAST(event_id AS VARCHAR) || '].props' AS jsonpath,
         'type' AS type,
         'value is not a JSON object' AS message,
         props AS instance,
         'props.jsonSchema.type' AS "check",
         'props' AS "column",
         CAST(event_id AS VARCHAR) AS row_key,
         CAST(NULL AS VARCHAR) AS partition
  FROM x WHERE props IS NOT NULL
    AND NOT (v AND regexp_matches(props, '^\\s*\\{'))
  UNION ALL
  -- Draft-7 required: key presence; applies only to JSON objects
  SELECT '$.events_js[' || CAST(event_id AS VARCHAR) || '].props',
         'required',
         'k is a required property',
         props,
         'props.jsonSchema.required.k',
         'props',
         CAST(event_id AS VARCHAR),
         CAST(NULL AS VARCHAR)
  FROM x WHERE props IS NOT NULL AND top_t = 'OBJECT' AND k_t IS NULL
  UNION ALL
  -- Draft-7 type: applies when present (incl. JSON null); typed tag,
  -- zero-fraction numbers count as integers
  SELECT '$.events_js[' || CAST(event_id AS VARCHAR) || '].props',
         'type',
         'k is not of type ''integer''',
         props,
         'props.jsonSchema.properties.k.type',
         'props',
         CAST(event_id AS VARCHAR),
         CAST(NULL AS VARCHAR)
  FROM x WHERE props IS NOT NULL AND k_t IS NOT NULL
    AND NOT (k_t IN ('BIGINT','UBIGINT')
             OR (k_t = 'DOUBLE' AND k_d = floor(k_d)))
)
ORDER BY jsonpath, type
"""


# ---------------------------------------------------------------------------
# q36 — exact cosine pair baseline (ground truth for the LSH/IVF paths)
# ---------------------------------------------------------------------------


def q36_exact_cosine_pairs(spark, sf_dir):
    """Exact all-pairs cosine ≥ 0.4 on a bounded slice with planted
    near-duplicates — int64 quantized arithmetic end-to-end so the
    DuckDB oracle matches bit-exactly (threshold membership is an
    integer test). This is the ground-truth harness the LSH/IVF
    approximate paths are measured against."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    planted = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 700000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(1.0001)).cast("float")
        ).alias("embedding"),
        "label",
    )
    out = similarity.exact_cosine_pairs(
        emb.unionByName(planted), threshold_num=2, threshold_den=5
    )
    return out.orderBy("id_a", "id_b")


Q36_SQL = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
  UNION ALL
  SELECT vec_id + 700000,
         list_transform(embedding,
           x -> CAST(CAST(x AS DOUBLE) * 1.0001 AS FLOAT))
  FROM embeddings WHERE vec_id < 8),
e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM base),
n AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
  FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(list_zip(a.q, b.q),
                x -> x[1] * x[2])) AS BIGINT) AS qdot,
         a.nrm AS na, b.nrm AS nb
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT id_a, id_b,
       ROUND(CAST(qdot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 4) AS score
FROM p
WHERE qdot > 0 AND 25 * qdot * qdot >= 4 * na * nb
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# q37 — IVF ANN with trained coarse quantizer (rows-only; approximate)
# ---------------------------------------------------------------------------


def q37_ivf_ann_trained(spark, sf_dir):
    """IVF-Flat top-k with the sampled-k-means coarse quantizer
    (train=True) — the data-dependent-cells scale path. Rows-only:
    LSH/IVF candidate sets are not SQL-expressible; q36 provides the
    exact ground-truth oracle and the pytest recall test pins
    trained >= random recall."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.001)).alias("embedding"),
    )
    out = similarity.ivf_topk(
        emb, queries, dim=64, k=5, n_cells=16, n_probe=6, train=True
    )
    return out.select(
        "query_id", "vec_id", F.round("score", 4).alias("score"), "rank"
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# q38 — TYPED jsonSchema Draft-7 subset (variant type tags): string-vs-
# number distinction, enum, nested object properties, null-vs-absent
# required, minimum (VERDICT r2 next-round #1 + ADVICE r2 required fix)
# ---------------------------------------------------------------------------


def q38_json_schema_typed(spark, sf_dir):
    """constraints.jsonSchema typed compile: schema_of_variant type
    tags make {"k":"1"} FAIL an integer check while {"k":1} and
    {"k":2.0} pass (Draft-7 zero-fraction integers); required is key
    presence so {"k": null} passes required but fails type; enum and
    one level of nested object properties (meta.lang). Corruption is
    planted deterministically from event_id; the DuckDB twin decides
    types with json_type()."""
    from .plans.validation import check_table

    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit('{"k": null}'))
        .when(F.col("event_id") % 11 == 0, F.substring("props", 1, 4))
        .when(F.col("event_id") % 13 == 0, F.lit('{"j": 1}'))
        .when(
            F.col("event_id") % 17 == 0,
            F.lit('{"k": "1", "meta": {"lang": 5}}'),
        )
        .when(
            F.col("event_id") % 19 == 0,
            F.lit('{"k": 2.0, "meta": {"lang": "xx"}}'),
        )
        .when(
            F.col("event_id") % 23 == 0,
            F.lit('{"k": -5, "meta": {"lang": "en"}}'),
        )
        .when(F.col("event_id") % 29 == 0, F.lit('{"k": 3, "tags": []}'))
        .when(
            F.col("event_id") % 31 == 0, F.lit('{"k": 4, "tags": ["a", 5]}')
        )
        .when(F.col("event_id") % 37 == 0, F.lit('{"k": 5, "note": "x"}'))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    spec = TableSpec.from_dict(
        {
            "name": "events_js_typed",
            "schema": {
                "fields": [
                    {
                        "name": "props",
                        "type": "string",
                        "constraints": {
                            "jsonSchema": {
                                "type": "object",
                                "required": ["k"],
                                "properties": {
                                    "k": {"type": "integer", "minimum": 0},
                                    "meta": {
                                        "type": "object",
                                        "required": ["lang"],
                                        "properties": {
                                            "lang": {
                                                "type": "string",
                                                "enum": ["en", "de", "fr"],
                                            }
                                        },
                                    },
                                    "tags": {
                                        "type": "array",
                                        "minItems": 1,
                                        "maxItems": 3,
                                        "items": {"type": "string"},
                                    },
                                    "note": {
                                        "type": "string",
                                        "minLength": 2,
                                        "maxLength": 10,
                                    },
                                },
                            }
                        },
                    }
                ],
                "primaryKey": ["event_id"],
            },
        }
    )
    res = check_table(staged, spec)
    return _sorted(res.unordered_violations, "jsonpath", "type", "check")


Q38_SQL = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN '{"k": null}'
              WHEN event_id % 11 = 0 THEN SUBSTRING(props, 1, 4)
              WHEN event_id % 13 = 0 THEN '{"j": 1}'
              WHEN event_id % 17 = 0 THEN '{"k": "1", "meta": {"lang": 5}}'
              WHEN event_id % 19 = 0 THEN '{"k": 2.0, "meta": {"lang": "xx"}}'
              WHEN event_id % 23 = 0 THEN '{"k": -5, "meta": {"lang": "en"}}'
              WHEN event_id % 29 = 0 THEN '{"k": 3, "tags": []}'
              WHEN event_id % 31 = 0 THEN '{"k": 4, "tags": ["a", 5]}'
              WHEN event_id % 37 = 0 THEN '{"k": 5, "note": "x"}'
              ELSE props END AS props
  FROM events),
x AS (
  SELECT event_id, props,
         json_valid(props) AS v,
         CASE WHEN json_valid(props) THEN json_type(props, '$') END AS top_t,
         CASE WHEN json_valid(props) THEN json_type(props, '$.k') END AS k_t,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract(props, '$.k') AS DOUBLE) END AS k_d,
         CASE WHEN json_valid(props) THEN json_type(props, '$.meta') END AS m_t,
         CASE WHEN json_valid(props)
              THEN json_type(props, '$.meta.lang') END AS l_t,
         CASE WHEN json_valid(props)
              THEN json_extract_string(props, '$.meta.lang') END AS l_s,
         CASE WHEN json_valid(props) THEN json_type(props, '$.tags') END AS tg_t,
         CASE WHEN json_valid(props)
              THEN json_array_length(props, '$.tags') END AS tg_n,
         CASE WHEN json_valid(props) THEN coalesce(
              list_aggregate(
                list_transform(json_extract(props, '$.tags[*]'),
                               x -> json_type(x) = 'VARCHAR'),
                'bool_and'), TRUE) END AS tg_all_str,
         CASE WHEN json_valid(props) THEN json_type(props, '$.note') END AS nt_t,
         CASE WHEN json_valid(props)
              THEN json_extract_string(props, '$.note') END AS nt_s
  FROM s),
viol AS (
  SELECT event_id, props, 'type' AS type,
         'value is not a JSON object' AS message,
         'props.jsonSchema.type' AS "check"
  FROM x WHERE props IS NOT NULL
    AND NOT (v AND regexp_matches(props, '^\\s*\\{'))
  UNION ALL
  SELECT event_id, props, 'required',
         'k is a required property',
         'props.jsonSchema.required.k'
  FROM x WHERE props IS NOT NULL AND top_t = 'OBJECT' AND k_t IS NULL
  UNION ALL
  SELECT event_id, props, 'type',
         'k is not of type ''integer''',
         'props.jsonSchema.properties.k.type'
  FROM x WHERE props IS NOT NULL AND k_t IS NOT NULL
    AND NOT (k_t IN ('BIGINT','UBIGINT')
             OR (k_t = 'DOUBLE' AND k_d = floor(k_d)))
  UNION ALL
  SELECT event_id, props, 'minimum',
         'k is less than the minimum of 0',
         'props.jsonSchema.properties.k.minimum'
  FROM x WHERE props IS NOT NULL AND k_t IN ('BIGINT','UBIGINT','DOUBLE')
    AND k_d < 0
  UNION ALL
  SELECT event_id, props, 'type',
         'meta is not of type ''object''',
         'props.jsonSchema.properties.meta.type'
  FROM x WHERE props IS NOT NULL AND m_t IS NOT NULL AND m_t <> 'OBJECT'
  UNION ALL
  SELECT event_id, props, 'required',
         'meta.lang is a required property',
         'props.jsonSchema.properties.meta.required.lang'
  FROM x WHERE props IS NOT NULL AND m_t = 'OBJECT' AND l_t IS NULL
  UNION ALL
  SELECT event_id, props, 'type',
         'meta.lang is not of type ''string''',
         'props.jsonSchema.properties.meta.properties.lang.type'
  FROM x WHERE props IS NOT NULL AND l_t IS NOT NULL AND l_t <> 'VARCHAR'
  UNION ALL
  SELECT event_id, props, 'enum',
         'meta.lang is not one of the allowed values',
         'props.jsonSchema.properties.meta.properties.lang.enum'
  FROM x WHERE props IS NOT NULL AND l_t IS NOT NULL
    AND NOT (l_t = 'VARCHAR' AND l_s IN ('en','de','fr'))
  UNION ALL
  SELECT event_id, props, 'type',
         'tags is not of type ''array''',
         'props.jsonSchema.properties.tags.type'
  FROM x WHERE props IS NOT NULL AND tg_t IS NOT NULL AND tg_t <> 'ARRAY'
  UNION ALL
  SELECT event_id, props, 'minItems',
         'tags has fewer than 1 items',
         'props.jsonSchema.properties.tags.minItems'
  FROM x WHERE props IS NOT NULL AND tg_t = 'ARRAY' AND tg_n < 1
  UNION ALL
  SELECT event_id, props, 'maxItems',
         'tags has more than 3 items',
         'props.jsonSchema.properties.tags.maxItems'
  FROM x WHERE props IS NOT NULL AND tg_t = 'ARRAY' AND tg_n > 3
  UNION ALL
  SELECT event_id, props, 'type',
         'tags items are not of type ''string''',
         'props.jsonSchema.properties.tags.items.type'
  FROM x WHERE props IS NOT NULL AND tg_t = 'ARRAY' AND NOT tg_all_str
  UNION ALL
  SELECT event_id, props, 'type',
         'note is not of type ''string''',
         'props.jsonSchema.properties.note.type'
  FROM x WHERE props IS NOT NULL AND nt_t IS NOT NULL AND nt_t <> 'VARCHAR'
  UNION ALL
  SELECT event_id, props, 'minLength',
         'note is shorter than 2 characters',
         'props.jsonSchema.properties.note.minLength'
  FROM x WHERE props IS NOT NULL AND nt_t = 'VARCHAR' AND length(nt_s) < 2
  UNION ALL
  SELECT event_id, props, 'maxLength',
         'note is longer than 10 characters',
         'props.jsonSchema.properties.note.maxLength'
  FROM x WHERE props IS NOT NULL AND nt_t = 'VARCHAR' AND length(nt_s) > 10
)
SELECT '$.events_js_typed[' || CAST(event_id AS VARCHAR) || '].props' AS jsonpath,
       type, message, props AS instance, "check",
       'props' AS "column",
       CAST(event_id AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM viol
ORDER BY jsonpath, type, "check"
"""


# ---------------------------------------------------------------------------
# q39 — token-VALUE histogram drift between partitions (north-star op)
# ---------------------------------------------------------------------------

#: Shared vocab / bucketing for q39 — both engines derive token ids
#: from the same md5 word hash so the oracle is exact.
_Q39_VOCAB = 50257
_Q39_BUCKETS = 256
_Q39_WIDTH = (_Q39_VOCAB + _Q39_BUCKETS - 1) // _Q39_BUCKETS  # 197


def q39_token_hist_drift(spark, sf_dir):
    """Per-source drift of the token-VALUE distribution vs the global.

    The north star names "distribution drift of n_tok and token-value
    histograms between partitions" — q09/q28 cover scalar columns; this
    covers the array<int> tokens themselves. The tokenizer (md5 word →
    id mod vocab) is deterministic and shared with the DuckDB twin; the
    histogram path is :func:`drift.token_histogram`'s vectorized Arrow
    bincount, which never explodes the token arrays (shuffle traffic is
    |tasks| × n_buckets longs, not 10^15 token rows at 10^12 docs).
    """
    docs = _t(spark, sf_dir, "documents")

    # r6 (guide §4.2): the per-word md5 tokenizer ran as interpreted
    # higher-order expressions; one Arrow batch pass hashes every word
    # instead — byte-identical ids (text.md5_tokens_arrow).
    tok = dedup._spread(docs).select(
        "source",
        text.md5_tokens_arrow(F.lower(F.col("text")), _Q39_VOCAB).alias(
            "tokens"
        ),
    )
    h = drift.token_histogram(
        tok, "tokens", vocab=_Q39_VOCAB, n_buckets=_Q39_BUCKETS, by="source"
    )
    d = drift.drift_from_histogram(h, "source")
    return d.select(
        "source", F.round("kl", 4).alias("kl"), F.round("psi", 4).alias("psi")
    ).orderBy("source")


Q39_SQL = rf"""
WITH w AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
t AS (
  SELECT source,
         (CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) % {_Q39_VOCAB})
           // {_Q39_WIDTH} AS bucket
  FROM w),
h AS (SELECT source, bucket, COUNT(*) AS c FROM t GROUP BY 1, 2),
tot AS (SELECT bucket, SUM(c) AS gcount FROM h GROUP BY 1),
gt AS (SELECT source, SUM(c) AS gn FROM h GROUP BY 1),
tt AS (SELECT SUM(gcount) AS tn FROM tot),
j AS (
  SELECT h.source,
         GREATEST(h.c / gt.gn, 1e-9) AS pa,
         GREATEST(tot.gcount / tt.tn, 1e-9) AS pb
  FROM h JOIN tot USING (bucket) JOIN gt USING (source), tt)
SELECT source,
       ROUND(SUM(pa * LN(pa / pb)), 4) AS kl,
       ROUND(SUM((pa - pb) * LN(pa / pb)), 4) AS psi
FROM j GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q40 — benchmark decontamination (broadcast n-gram semi-join)
# ---------------------------------------------------------------------------


def q40_decontamination(spark, sf_dir):
    """Corpus docs sharing a 5-gram with the 'benchmark' slice
    (doc_id % 97 == 0 stands in for an eval set). Docs 1-10 get a
    verbatim benchmark passage appended (ids +3M) — the planted
    contamination both engines reproduce — on top of any natural
    overlap. The benchmark n-gram set is broadcast; the corpus is
    scanned once and never shuffled — the only shuffled rows are the
    contamination hits themselves."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    b0 = bench.where(F.col("doc_id") == 0).select(F.col("text").alias("btext"))
    planted = (
        corpus.where(F.col("doc_id").between(1, 10))
        .crossJoin(F.broadcast(b0))
        .select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat("text", F.lit(" "), "btext").alias("text"),
        )
    )
    out = decontam.contaminated_docs(corpus.unionByName(planted), bench, n=5)
    return out.orderBy("doc_id")


Q40_SQL = r"""
WITH corpus0 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
planted AS (
  SELECT c.doc_id + 3000000 AS doc_id, c.text || ' ' || b.text AS text
  FROM corpus0 c, (SELECT text FROM documents WHERE doc_id = 0) b
  WHERE c.doc_id BETWEEN 1 AND 10),
corpus AS (SELECT * FROM corpus0 UNION ALL SELECT * FROM planted),
cnorm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM corpus),
cw AS (SELECT doc_id, string_split(t, ' ') AS words FROM cnorm),
cidx AS (SELECT doc_id, words,
                unnest(generate_series(1, greatest(len(words)-4, 1))) AS i
         FROM cw),
csh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS g
        FROM cidx),
bnorm AS (
  SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 97 = 0),
bw AS (SELECT string_split(t, ' ') AS words FROM bnorm),
bidx AS (SELECT words,
                unnest(generate_series(1, greatest(len(words)-4, 1))) AS i
         FROM bw),
bg AS (SELECT DISTINCT array_to_string(words[i:i+4], ' ') AS g FROM bidx)
SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_shared
FROM (SELECT s.doc_id, s.g FROM csh s JOIN bg USING (g))
GROUP BY 1 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q41 — intra-doc repetition quality (Gopher-style signals)
# ---------------------------------------------------------------------------


def q41_repetition(spark, sf_dir):
    """Per-doc duplicate-3-gram fraction + top-word fraction — the two
    Gopher repetition filters. Pure codegen higher-order functions (no
    UDF, no shuffle); bounded to doc_id < 200 to cap driver output."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return decontam.repetition_profile(docs, n=3).orderBy("doc_id")


Q41_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id < 200),
w AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
tw AS (SELECT doc_id, unnest(words) AS wd FROM w),
wc AS (SELECT doc_id, wd, COUNT(*) AS c FROM tw GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS n FROM wc GROUP BY 1),
idx AS (SELECT doc_id, words,
               unnest(generate_series(1, greatest(len(words)-2, 1))) AS i
        FROM w),
g AS (SELECT doc_id, array_to_string(words[i:i+2], ' ') AS gram FROM idx),
dd AS (SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT gram) AS dist
       FROM g GROUP BY 1),
j AS (
  SELECT w.doc_id, len(w.words) - 2 AS total3, dd.dist, top.mx, top.n
  FROM w JOIN dd ON w.doc_id = dd.doc_id JOIN top ON w.doc_id = top.doc_id)
SELECT doc_id,
       CASE WHEN total3 <= 0 THEN 0.0
            ELSE ROUND(1.0 - dist / CAST(total3 AS DOUBLE), 6) END
         AS dup_ngram_frac,
       ROUND(mx / CAST(n AS DOUBLE), 6) AS top_word_frac
FROM j ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q42 — PII detection + redaction fingerprint
# ---------------------------------------------------------------------------


def q42_pii(spark, sf_dir):
    """PII counts + redacted-text md5 over docs with planted PII
    (emails/IPs/phones/SSNs appended to doc_id < 50 — both engines
    plant identically, so natural + planted matches are all verified).
    regexp_count/regexp_replace chains — codegen, single scan."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") < 50,
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 192.168.1.77 call 555-123-4567 ssn 123-45-6789"),
        ),
    ).otherwise(F.col("text"))
    aug = docs.where(F.col("doc_id") < 200).select(
        "doc_id", planted.alias("text")
    )
    return decontam.pii_profile(aug).orderBy("doc_id")


Q42_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id < 50
              THEN text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
                   '@example.com or 192.168.1.77 call 555-123-4567 ssn 123-45-6789'
              ELSE text END AS text
  FROM documents WHERE doc_id < 200)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text,
    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text,
    '(?:\+[0-9]{1,3}[-. ])?\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text,
    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
          '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[PII]', 'g'),
        '(?:\+[0-9]{1,3}[-. ])?\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PII]', 'g'),
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[PII]', 'g')
  ) AS redacted_md5
FROM aug ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q43 — deterministic stratified data mixing
# ---------------------------------------------------------------------------


def q43_stratified_mix(spark, sf_dir):
    """Reproducible source reweighting: src0 ×2.5 (up-sampled), src1
    ×0.5, src2 dropped, everything else ×0.1. Membership/copies are a
    pure md5 function of doc_id — stable under repartitioning and
    exactly reproducible in the DuckDB twin (Spark's ``df.sample`` is
    partition-layout-dependent and can't be verified cross-engine).
    Map-side only: filter + sequence/explode, zero shuffle before the
    summary agg."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_mix(
        docs, {"src0": 2.5, "src1": 0.5, "src2": 0.0}, default=0.1
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_rep").alias("rep_sum"),
        )
        .orderBy("source")
    )


Q43_SQL = """
WITH f AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
                     WHEN 'src2' THEN 0.0 ELSE 0.1 END AS f,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
           / 4294967296.0 AS uh
  FROM documents),
c AS (
  SELECT source,
         CAST(FLOOR(f) AS BIGINT) +
           CASE WHEN uh < f - FLOOR(f) THEN 1 ELSE 0 END AS copies
  FROM f),
e AS (SELECT source, unnest(generate_series(1, copies)) AS rep
      FROM c WHERE copies > 0)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(rep) AS BIGINT) AS rep_sum
FROM e GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q44 — jsonSchema Draft-7 combinators + uniqueItems (round-4 compile gaps)
# ---------------------------------------------------------------------------


def q44_json_schema_combinators(spark, sf_dir):
    """The round-3 typed-jsonSchema gaps, closed and oracle-checked:
    ``uniqueItems`` over variant arrays (type-tag + JSON-text
    canonicalization keeps [1,"1"] unique while catching duplicate
    scalars and objects) and nested Draft-7 combinators —
    ``anyOf``/``oneOf``/``allOf``/``not`` of sub-schemas composed by
    ``compile._schema_pred`` into ONE fused predicate per combinator
    (reference: arbitrary Draft-7 via jsonschema, ref
    check.py:559-561). Corruption planted deterministically from
    event_id; the DuckDB twin decides types with json_type() and
    canonicalizes array items as JSON text."""
    from .plans.validation import check_table

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    staged = ev.select(
        "event_id",
        F.when(eid % 7 == 0, F.lit('{"tags": [1, 2, 2]}'))
        .when(eid % 11 == 0, F.lit('{"tags": [1, "1"], "k": "ok"}'))
        .when(eid % 13 == 0, F.lit('{"tags": [{"x": 1}, {"x": 1}]}'))
        .when(eid % 17 == 0, F.lit('{"k": -5}'))
        .when(eid % 19 == 0, F.lit('{"k": 1.5}'))
        .when(eid % 23 == 0, F.lit('{"m": 10}'))
        .when(eid % 29 == 0, F.lit('{"m": 3}'))
        .when(eid % 31 == 0, F.lit('{"q": "str"}'))
        .otherwise(
            F.concat(
                F.lit('{"k": '),
                (eid % 50).cast("string"),
                F.lit(', "m": '),
                ((eid % 20) * 2).cast("string"),
                F.lit("}"),
            )
        )
        .alias("props"),
    )
    spec = TableSpec.from_dict(
        {
            "name": "events_js_comb",
            "schema": {
                "fields": [
                    {
                        "name": "props",
                        "type": "string",
                        "constraints": {
                            "jsonSchema": {
                                "type": "object",
                                "properties": {
                                    "tags": {"uniqueItems": True},
                                    "k": {
                                        "anyOf": [
                                            {"type": "string"},
                                            {"type": "integer", "minimum": 0},
                                        ]
                                    },
                                    # multiples of 2 / of 5: exactly one
                                    # must hold, so m divisible by 10
                                    # (both) or odd non-multiple-of-5
                                    # (neither) fails
                                    "m": {
                                        "oneOf": [
                                            {"multipleOf": 2},
                                            {"multipleOf": 5},
                                        ]
                                    },
                                    "q": {"not": {"type": "string"}},
                                },
                            }
                        },
                    }
                ],
                "primaryKey": ["event_id"],
            },
        }
    )
    res = check_table(staged, spec)
    return _sorted(res.unordered_violations, "jsonpath", "type", "check")


Q44_SQL = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN '{"tags": [1, 2, 2]}'
              WHEN event_id % 11 = 0 THEN '{"tags": [1, "1"], "k": "ok"}'
              WHEN event_id % 13 = 0 THEN '{"tags": [{"x": 1}, {"x": 1}]}'
              WHEN event_id % 17 = 0 THEN '{"k": -5}'
              WHEN event_id % 19 = 0 THEN '{"k": 1.5}'
              WHEN event_id % 23 = 0 THEN '{"m": 10}'
              WHEN event_id % 29 = 0 THEN '{"m": 3}'
              WHEN event_id % 31 = 0 THEN '{"q": "str"}'
              ELSE '{"k": ' || CAST(event_id % 50 AS VARCHAR) ||
                   ', "m": ' || CAST((event_id % 20) * 2 AS VARCHAR) || '}'
         END AS props
  FROM events),
x AS (
  SELECT event_id, props,
         json_type(props, '$.tags') AS tg_t,
         json_extract(props, '$.tags[*]') AS tg_l,
         json_type(props, '$.k') AS k_t,
         TRY_CAST(json_extract(props, '$.k') AS DOUBLE) AS k_d,
         json_type(props, '$.m') AS m_t,
         TRY_CAST(json_extract(props, '$.m') AS DOUBLE) AS m_d,
         json_type(props, '$.q') AS q_t
  FROM s),
y AS (
  SELECT *,
         (m_t NOT IN ('BIGINT','UBIGINT','DOUBLE') OR (m_d % 2) = 0) AS m2,
         (m_t NOT IN ('BIGINT','UBIGINT','DOUBLE') OR (m_d % 5) = 0) AS m5
  FROM x),
viol AS (
  SELECT event_id, props, 'uniqueItems' AS type,
         'tags items are not unique' AS message,
         'props.jsonSchema.properties.tags.uniqueItems' AS "check"
  FROM y WHERE tg_t = 'ARRAY'
    AND len(tg_l) <> len(list_distinct(list_transform(tg_l,
                                                      z -> CAST(z AS VARCHAR))))
  UNION ALL
  SELECT event_id, props, 'anyOf',
         'k does not match any of the allowed schemas',
         'props.jsonSchema.properties.k.anyOf'
  FROM y WHERE k_t IS NOT NULL
    AND NOT (k_t = 'VARCHAR'
             OR ((k_t IN ('BIGINT','UBIGINT')
                  OR (k_t = 'DOUBLE' AND k_d = floor(k_d)))
                 AND k_d >= 0))
  UNION ALL
  SELECT event_id, props, 'oneOf',
         'm does not match exactly one of the allowed schemas',
         'props.jsonSchema.properties.m.oneOf'
  FROM y WHERE m_t IS NOT NULL
    AND CAST(m2 AS INT) + CAST(m5 AS INT) <> 1
  UNION ALL
  SELECT event_id, props, 'not',
         'q matches the disallowed schema',
         'props.jsonSchema.properties.q.not'
  FROM y WHERE q_t IS NOT NULL AND q_t = 'VARCHAR'
)
SELECT '$.events_js_comb[' || CAST(event_id AS VARCHAR) || '].props' AS jsonpath,
       type, message, props AS instance, "check",
       'props' AS "column",
       CAST(event_id AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM viol
ORDER BY jsonpath, type, "check"
"""


# ---------------------------------------------------------------------------
# q45 — connected-components duplicate clustering (transitive near-dup groups)
# ---------------------------------------------------------------------------


def q45_duplicate_clusters(spark, sf_dir):
    """Near-dup PAIRS → transitive CLUSTERS: the step every production
    dedup pipeline runs after the miner. Two scaled copies of each of
    the first 8 embeddings are planted (+700000 ×1.0001, +800000
    ×1.0002 — positive scaling preserves cosine EXACTLY, so each
    triple is a 3-clique at cosine ≥ 0.999 and nothing else in the
    fixture comes close); :func:`similarity.cosine_near_dups` mines the
    pairs (the q29 exact-green path) and
    :func:`cluster.duplicate_clusters` merges them with alternating
    large-star/small-star (SoCC'14). Output (id, cluster_id,
    cluster_size) = (member, min member id, 3) — integer-only, so the
    oracle hash is immune to float formatting, and correct even if the
    LSH miner drops one edge of a clique (any spanning tree gives the
    same components; the DuckDB twin closes the EXACT pair set with a
    recursive CTE)."""
    emb = _t(spark, sf_dir, "embeddings")
    copies = [
        emb.where(F.col("vec_id") < 8).select(
            (F.col("vec_id") + off).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(s)).alias("embedding"),
            "label",
        )
        for off, s in ((700000, 1.0001), (800000, 1.0002))
    ]
    aug = emb.unionByName(copies[0]).unionByName(copies[1])
    pairs = similarity.cosine_near_dups(aug, dim=64, threshold=0.999, n_planes=12)
    return cluster.duplicate_clusters(pairs, "id_a", "id_b").orderBy("id")


Q45_SQL = """
WITH RECURSIVE aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 700000, list_transform(embedding, x -> x * 1.0001)
  FROM embeddings WHERE vec_id < 8
  UNION ALL
  SELECT vec_id + 800000, list_transform(embedding, x -> x * 1.0002)
  FROM embeddings WHERE vec_id < 8
),
n AS (SELECT vec_id, embedding,
             sqrt(list_inner_product(embedding, embedding)) AS nrm
      FROM aug),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE list_inner_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.999
),
edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach AS (
  SELECT u AS id, u AS r FROM edges
  UNION
  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id
),
lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT lab.id, lab.cluster_id, s.cluster_size
FROM lab
JOIN (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id) s
  USING (cluster_id)
ORDER BY id
"""


# ---------------------------------------------------------------------------
# q46 — cross-document shingle duplication (exact substring-level dedup)
# ---------------------------------------------------------------------------


def q46_shingle_dup_fraction(spark, sf_dir):
    """Per-doc duplicated-text fraction at 5-word-shingle granularity:
    of each doc's distinct shingles, how many occur in at least one
    OTHER document (:func:`dedup.cross_doc_shingle_dup`). The exact
    counterpart of the q19 MinHash estimate — the boilerplate signal
    CCNet-style pipelines threshold on. Only docs with any sharing are
    emitted (the interesting tail; keeps output sparse at scale)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.cross_doc_shingle_dup(docs, k=5)
        .where(F.col("n_shared") > 0)
        .orderBy("doc_id")
    )


Q46_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
idx AS (SELECT doc_id, words,
               unnest(generate_series(1, greatest(len(words)-4, 1))) AS i
        FROM w),
sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS g
       FROM idx),
freq AS (SELECT g, COUNT(*) AS ndocs FROM sh GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       ROUND(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac
FROM sh JOIN freq USING (g)
GROUP BY doc_id HAVING SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q47 — per-source vocabulary statistics (Heaps-law health signals)
# ---------------------------------------------------------------------------


def q47_vocab_stats(spark, sf_dir):
    """Exact per-source vocabulary profile (:func:`text.vocab_stats`):
    total words, distinct words, hapax count, type-token ratio — the
    corpus-drift dashboard a training pipeline watches per source."""
    docs = _t(spark, sf_dir, "documents")
    return text.vocab_stats(docs, "text", by="source").orderBy("source")


Q47_SQL = r"""
WITH norm AS (
  SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
w AS (SELECT source, unnest(string_split(t, ' ')) AS w FROM norm),
wc AS (SELECT source, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS ttr
FROM wc GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q48 — hashed-feature linear quality classifier keep rates
# ---------------------------------------------------------------------------


def q48_quality_filter_rates(spark, sf_dir):
    """Per-source keep rate of a fasttext-shaped linear classifier with
    hash-derived weights (:func:`text.quality_filter_rates`): hash each
    word to a deterministic weight, sum per doc, keep iff positive.
    Integer arithmetic end-to-end so both engines agree bit-exactly."""
    docs = _t(spark, sf_dir, "documents")
    return text.quality_filter_rates(docs, "text", by="source").orderBy("source")


Q48_SQL = r"""
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
w AS (SELECT doc_id, source, unnest(string_split(t, ' ')) AS w FROM norm),
s AS (SELECT source, doc_id,
             SUM(CAST(CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) AS BIGINT)
                 % 2001 - 1000) AS score
      FROM w GROUP BY 1, 2)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
FROM s GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# q49 — syntactic type inference (the `describe` half of the workflow)
# ---------------------------------------------------------------------------


def q49_infer_types(spark, sf_dir):
    """Infer Table Schema types for a string table built from orders
    (:func:`infer.infer_field_types` — the `frictionless describe`
    analog upstream of the reference's check-only scope). The fixture
    plants one column per outcome: pure ints, ISO dates, ISO
    timestamps, booleans, a mixed int/letter column and a null-bearing
    one. One fused aggregation pass; regex (not cast) semantics so both
    engines agree exactly."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = orders.select(
        k.cast("string").alias("ok"),
        F.col("o_orderdate").cast("date").cast("string").alias("od"),
        F.col("o_orderdate").cast("string").alias("ts"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("pri"),
        F.when(k % 5 == 0, "true").otherwise("false").alias("flag"),
        F.when(k % 7 == 0, F.col("o_orderstatus"))
        .otherwise(k.cast("string"))
        .alias("mixed"),
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("maybe"),
    )
    return infer.infer_field_types(s).orderBy("field")


Q49_SQL = r"""
WITH s AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS ok,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS od,
         CAST(o_orderdate AS VARCHAR) AS ts,
         o_orderstatus AS status,
         o_orderpriority AS pri,
         CASE WHEN o_orderkey % 5 = 0 THEN 'true' ELSE 'false' END AS flag,
         CASE WHEN o_orderkey % 7 = 0 THEN o_orderstatus
              ELSE CAST(o_orderkey AS VARCHAR) END AS mixed,
         NULLIF(o_orderstatus, 'F') AS maybe
  FROM orders),
u AS (
  SELECT 'ok' AS field, ok AS v FROM s
  UNION ALL SELECT 'od', od FROM s
  UNION ALL SELECT 'ts', ts FROM s
  UNION ALL SELECT 'status', status FROM s
  UNION ALL SELECT 'pri', pri FROM s
  UNION ALL SELECT 'flag', flag FROM s
  UNION ALL SELECT 'mixed', mixed FROM s
  UNION ALL SELECT 'maybe', maybe FROM s),
a AS (
  SELECT field,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(v) AS BIGINT) AS n_nonnull,
         CAST(SUM(CASE WHEN v IS NOT NULL AND regexp_full_match(v,
           '[+-]?[0-9]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_integer,
         CAST(SUM(CASE WHEN v IS NOT NULL AND regexp_full_match(v,
           '[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?')
           THEN 1 ELSE 0 END) AS BIGINT) AS n_number,
         CAST(SUM(CASE WHEN v IS NOT NULL AND regexp_full_match(v,
           '(true|false|TRUE|FALSE|True|False)') THEN 1 ELSE 0 END)
           AS BIGINT) AS n_boolean,
         CAST(SUM(CASE WHEN v IS NOT NULL AND regexp_full_match(v,
           '[0-9]{4}-[0-9]{2}-[0-9]{2}') THEN 1 ELSE 0 END) AS BIGINT)
           AS n_date,
         CAST(SUM(CASE WHEN v IS NOT NULL AND regexp_full_match(v,
           '[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?')
           THEN 1 ELSE 0 END) AS BIGINT) AS n_datetime
  FROM u GROUP BY field)
SELECT field, n_rows, n_nonnull, n_integer, n_number, n_boolean, n_date,
       n_datetime,
       CASE WHEN n_nonnull > 0 AND n_integer  = n_nonnull THEN 'integer'
            WHEN n_nonnull > 0 AND n_number   = n_nonnull THEN 'number'
            WHEN n_nonnull > 0 AND n_boolean  = n_nonnull THEN 'boolean'
            WHEN n_nonnull > 0 AND n_date     = n_nonnull THEN 'date'
            WHEN n_nonnull > 0 AND n_datetime = n_nonnull THEN 'datetime'
            ELSE 'string' END AS inferred_type
FROM a ORDER BY field
"""


# ---------------------------------------------------------------------------
# q50 — CSV staging + regex-guarded typed casting (sources/csv.py)
# ---------------------------------------------------------------------------


def q50_csv_cast_errors(spark, sf_dir):
    """Cast-diagnostics over a CSV-shaped all-string table
    (:func:`sources.csv.cast_error_counts` — the `frictionless
    extract` staging step upstream of the reference's check-only
    scope). The fixture plants, per column: missingValues tokens
    ('', 'NA'), lexically-corrupt integers, a semantically-invalid
    date that PASSES the lexical regex ('…-13-01', exercising the
    try_cast residual path), mixed-case booleans with an invalid
    token, and 'T'-separated datetimes. One fused aggregation pass."""
    from .sources.csv import cast_error_counts

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = orders.select(
        F.when(k % 11 == 0, F.lit("NA")).otherwise(k.cast("string")).alias("id"),
        F.when(k % 13 == 0, F.concat(k.cast("string"), F.lit("x")))
        .otherwise((k % 97).cast("string"))
        .alias("qty"),
        F.concat(
            (k % 1000).cast("string"), F.lit("."), (k % 10).cast("string")
        ).alias("price"),
        F.when(k % 5 == 0, F.lit("true"))
        .when(k % 5 == 1, F.lit("False"))
        .when(k % 5 == 2, F.lit("YES"))
        .when(k % 5 == 3, F.lit("0"))
        .otherwise(F.lit("maybe"))
        .alias("flag"),
        F.when(k % 17 == 0, F.lit("2024-13-01"))
        .otherwise(F.col("o_orderdate").cast("date").cast("string"))
        .alias("d"),
        F.when(k % 19 == 0, F.lit("not-a-time"))
        .when(k % 7 == 0, F.lit(""))
        .otherwise(
            F.replace(
                F.col("o_orderdate").cast("string"), F.lit(" "), F.lit("T")
            )
        )
        .alias("ts"),
    )
    spec = TableSpec.from_dict(
        {
            "name": "csvish",
            "schema": {
                "fields": [
                    {"name": "id", "type": "integer"},
                    {"name": "qty", "type": "integer"},
                    {"name": "price", "type": "number"},
                    {"name": "flag", "type": "boolean"},
                    {"name": "d", "type": "date"},
                    {"name": "ts", "type": "datetime"},
                ],
                "missingValues": ["", "NA"],
            },
        }
    )
    return cast_error_counts(s, spec).orderBy("field")


Q50_SQL = r"""
WITH s AS (
  SELECT CASE WHEN o_orderkey % 11 = 0 THEN 'NA'
              ELSE CAST(o_orderkey AS VARCHAR) END AS id,
         CASE WHEN o_orderkey % 13 = 0
              THEN CAST(o_orderkey AS VARCHAR) || 'x'
              ELSE CAST(o_orderkey % 97 AS VARCHAR) END AS qty,
         CAST(o_orderkey % 1000 AS VARCHAR) || '.' ||
           CAST(o_orderkey % 10 AS VARCHAR) AS price,
         CASE o_orderkey % 5 WHEN 0 THEN 'true' WHEN 1 THEN 'False'
              WHEN 2 THEN 'YES' WHEN 3 THEN '0' ELSE 'maybe' END AS flag,
         CASE WHEN o_orderkey % 17 = 0 THEN '2024-13-01'
              ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR) END AS d,
         CASE WHEN o_orderkey % 19 = 0 THEN 'not-a-time'
              WHEN o_orderkey % 7 = 0 THEN ''
              ELSE REPLACE(CAST(o_orderdate AS VARCHAR), ' ', 'T') END AS ts
  FROM orders),
g AS (
  SELECT 'id' AS field, CASE WHEN id IN ('','NA') THEN NULL ELSE id END AS p,
         'integer' AS ty FROM s
  UNION ALL SELECT 'qty',
         CASE WHEN qty IN ('','NA') THEN NULL ELSE qty END, 'integer' FROM s
  UNION ALL SELECT 'price',
         CASE WHEN price IN ('','NA') THEN NULL ELSE price END, 'number' FROM s
  UNION ALL SELECT 'flag',
         CASE WHEN flag IN ('','NA') THEN NULL ELSE flag END, 'boolean' FROM s
  UNION ALL SELECT 'd',
         CASE WHEN d IN ('','NA') THEN NULL ELSE d END, 'date' FROM s
  UNION ALL SELECT 'ts',
         CASE WHEN ts IN ('','NA') THEN NULL ELSE ts END, 'datetime' FROM s),
a AS (
  SELECT field,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(p) AS BIGINT) AS n_present,
         CAST(SUM(CASE
           WHEN p IS NULL THEN 0
           WHEN ty = 'integer' THEN CASE WHEN regexp_full_match(p,
             '[+-]?[0-9]+') AND TRY_CAST(p AS BIGINT) IS NOT NULL
             THEN 1 ELSE 0 END
           WHEN ty = 'number' THEN CASE WHEN regexp_full_match(p,
             '[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?')
             AND TRY_CAST(p AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END
           WHEN ty = 'boolean' THEN CASE WHEN lower(p) IN
             ('true','1','yes','false','0','no') THEN 1 ELSE 0 END
           WHEN ty = 'date' THEN CASE WHEN regexp_full_match(p,
             '[0-9]{4}-[0-9]{2}-[0-9]{2}') AND TRY_CAST(p AS DATE)
             IS NOT NULL THEN 1 ELSE 0 END
           ELSE CASE WHEN regexp_full_match(p,
             '[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?')
             AND TRY_CAST(REPLACE(p, 'T', ' ') AS TIMESTAMP) IS NOT NULL
             THEN 1 ELSE 0 END
         END) AS BIGINT) AS n_cast_ok
  FROM g GROUP BY field)
SELECT field, n_rows, n_present, n_cast_ok,
       n_present - n_cast_ok AS n_cast_err
FROM a ORDER BY field
"""


# ---------------------------------------------------------------------------
# q51 — constraint suggestion profile (describe-side enum/min-max)
# ---------------------------------------------------------------------------


def q51_suggest_constraints(spark, sf_dir):
    """Per-column constraint proposal (:func:`infer.profile_constraints`
    — the describe-side analog of the reference's validation-side enum/
    range constraints, SURVEY §2 C5/C6). Fixture plants low-cardinality
    enum candidates (status 3, priority 5, a 7-value numeric), a
    high-cardinality column (cust) and a numeric range column; the
    enum gate is exact-distinct <= 16. Two bounded aggregations over
    deduplicated (field, value) pairs — never collect_set over raw
    rows."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = orders.select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_custkey").cast("string").alias("cust"),
        F.concat(
            (k % 1000).cast("string"), F.lit("."), (k % 10).cast("string")
        ).alias("amt"),
        (k % 7).cast("string").alias("small_num"),
    )
    return infer.profile_constraints(s).orderBy("field")


Q51_SQL = r"""
WITH s AS (
  SELECT o_orderstatus AS status, o_orderpriority AS pri,
         CAST(o_custkey AS VARCHAR) AS cust,
         CAST(o_orderkey % 1000 AS VARCHAR) || '.' ||
           CAST(o_orderkey % 10 AS VARCHAR) AS amt,
         CAST(o_orderkey % 7 AS VARCHAR) AS small_num
  FROM orders),
u AS (
  SELECT 'status' AS field, status AS v FROM s WHERE status IS NOT NULL
  UNION ALL SELECT 'pri', pri FROM s WHERE pri IS NOT NULL
  UNION ALL SELECT 'cust', cust FROM s WHERE cust IS NOT NULL
  UNION ALL SELECT 'amt', amt FROM s WHERE amt IS NOT NULL
  UNION ALL SELECT 'small_num', small_num FROM s WHERE small_num IS NOT NULL),
p AS (
  SELECT field, v, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(CASE WHEN regexp_full_match(v,
           '[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?')
           THEN TRY_CAST(v AS DOUBLE) END) AS mn,
         MAX(CASE WHEN regexp_full_match(v,
           '[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?')
           THEN TRY_CAST(v AS DOUBLE) END) AS mx
  FROM u GROUP BY field, v),
st AS (
  SELECT field, CAST(SUM(cnt) AS BIGINT) AS n_nonnull,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         MIN(mn) AS min_num, MAX(mx) AS max_num
  FROM p GROUP BY field),
e AS (
  SELECT field,
         array_to_string(list_sort(array_agg(v)), ',') AS suggested_enum
  FROM p
  WHERE field IN (SELECT field FROM st WHERE n_distinct <= 16)
  GROUP BY field)
SELECT st.field, n_nonnull, n_distinct, min_num, max_num, suggested_enum
FROM st LEFT JOIN e ON st.field = e.field ORDER BY st.field
"""


def q52_pack_sequences(spark, sf_dir):
    """Concat-and-chunk training-sequence packing (operators/packing):
    per source, documents laid end-to-end in doc_id order and cut into
    128-token sequences; per-sequence roll-up of docs touching it,
    docs starting in it, and token fill. One shuffle on source +
    partition-local window; the explode fans each doc only to the
    sequences it spans. All-integer output — exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id", "source", packing.word_count(F.col("text")).alias("n_tok")
    )
    packed = packing.pack_sequences(n, seq_len=128, by="source")
    return (
        packing.sequence_fill(packed, seq_len=128, by="source")
        .select("source", "seq_id", "n_docs", "n_doc_starts", "tok_fill")
        .orderBy("source", "seq_id")
    )


Q52_SQL = r"""
WITH n AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents),
p AS (
  SELECT source, doc_id, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start_tok
  FROM n),
t AS (SELECT source, CAST(MAX(start_tok + n_tok) AS BIGINT) AS total
      FROM p GROUP BY source),
e AS (
  SELECT p.source, p.start_tok, t.total,
         unnest(generate_series(
           CAST(FLOOR(p.start_tok / 128.0) AS BIGINT),
           CAST(FLOOR((p.start_tok + p.n_tok - 1) / 128.0) AS BIGINT)
         )) AS seq_id
  FROM p JOIN t USING (source) WHERE p.n_tok > 0)
SELECT source, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN start_tok >= seq_id * 128 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_doc_starts,
       CAST(LEAST(MAX(total), seq_id * 128 + 128) - seq_id * 128
            AS BIGINT) AS tok_fill
FROM e GROUP BY source, seq_id ORDER BY source, seq_id
"""


def q53_token_budget_mix(spark, sf_dir):
    """Token-budget mixture (operators/packing.token_budget_mix):
    per-source doc selection in stable md5 order until the source's
    TOKEN budget fills (src0 3000, src1 800, src2 dropped, rest 1500)
    — row-count reweighting (q43) can't hit token targets when doc
    lengths differ by source. Budget-crossing doc included, so
    tok_kept >= budget for every surviving source. Exact: membership
    is a pure md5 function of doc_id."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id", "source", packing.word_count(F.col("text")).alias("n_tok")
    )
    kept = packing.token_budget_mix(
        n, {"src0": 3000, "src1": 800, "src2": 0}, default=1500
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("tok_kept"),
        )
        .orderBy("source")
    )


Q53_SQL = r"""
WITH n AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '')) AS n_tok,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
           / 4294967296.0 AS uh
  FROM documents),
p AS (
  SELECT source, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY uh, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS tok_before,
         CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 800
                     WHEN 'src2' THEN 0 ELSE 1500 END AS budget
  FROM n)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tok_kept
FROM p WHERE tok_before < budget
GROUP BY source ORDER BY source
"""


def q54_bigram_merge(spark, sf_dir):
    """First-BPE-merge counting (:func:`text.bigram_stats`): per
    source, the most frequent adjacent word pair (ties broken
    cnt DESC, pair DESC — deterministic cross-engine) plus pair-stream
    totals. The wide shuffle is groupBy(source, pair) with map-side
    combine; the top-pair window runs over the aggregated pair counts
    only. Words are let-bound (one split per row)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.bigram_stats(docs, "text", by="source")
        .select(
            "source", "top_bigram", "top_cnt", "n_bigrams",
            "n_distinct_bigrams",
        )
        .orderBy("source")
    )


Q54_SQL = r"""
WITH norm AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents),
p AS (
  SELECT source,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS pair
  FROM norm WHERE len(ws) >= 2),
pc AS (SELECT source, pair, COUNT(*) AS cnt FROM p GROUP BY 1, 2),
r AS (
  SELECT source, pair, cnt,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY cnt DESC, pair DESC) AS rn
  FROM pc)
SELECT source,
       MAX(CASE WHEN rn = 1 THEN pair END) AS top_bigram,
       CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
FROM r GROUP BY source ORDER BY source
"""


def q55_lsh_ann_exact(spark, sf_dir):
    """LSH ANN with a fully SQL-replayable pipeline
    (:func:`similarity.lsh_topk_exact`): md5-derived integer
    hyperplanes + int64-quantized sign tests make bucket membership
    EXACT cross-engine — the graduation of the q21 shape from
    rows-only to hash-checked (q21 keeps the Philox production
    sketch). Same scale shape: corpus sketched map-side, queries
    broadcast, candidates only inside shared buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") + 0.001).cast("float")
        ).alias("embedding"),
    )
    out = similarity.lsh_topk_exact(
        emb, queries, dim=64, k=5, n_planes=8, n_tables=8
    )
    return out.select("query_id", "vec_id", "score", "rank").orderBy(
        "query_id", "rank"
    )


Q55_SQL = """
WITH corpus AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings),
qry AS (
  SELECT vec_id + 100000 AS query_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(CAST(CAST(x AS DOUBLE) + 0.001 AS FLOAT)
                            AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id < 5),
w AS (
  SELECT d.d AS d, j.j AS j,
         CAST(CAST('0x' || substr(md5(d.d || '_' || j.j), 1, 8) AS UBIGINT)
              AS BIGINT) - 2147483648 AS wt
  FROM generate_series(0, 63) d(d), generate_series(0, 63) j(j)),
cex AS (
  SELECT vec_id, unnest(generate_series(1, len(q))) AS i, unnest(q) AS qv
  FROM corpus),
qex AS (
  SELECT query_id, unnest(generate_series(1, len(q))) AS i, unnest(q) AS qv
  FROM qry),
cdot AS (
  SELECT c.vec_id, w.j, SUM(c.qv * w.wt) AS dot
  FROM cex c JOIN w ON w.d = c.i - 1 GROUP BY 1, 2),
qdotp AS (
  SELECT c.query_id, w.j, SUM(c.qv * w.wt) AS dot
  FROM qex c JOIN w ON w.d = c.i - 1 GROUP BY 1, 2),
cbuck AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot > 0 THEN 1 << (j % 8) ELSE 0 END)
              + (j // 8) * 256 AS BIGINT) AS bucket
  FROM cdot GROUP BY vec_id, j // 8),
qbuck AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN dot > 0 THEN 1 << (j % 8) ELSE 0 END)
              + (j // 8) * 256 AS BIGINT) AS bucket
  FROM qdotp GROUP BY query_id, j // 8),
cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM cbuck cb JOIN qbuck qb ON cb.bucket = qb.bucket
  WHERE qb.query_id <> cb.vec_id),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(CAST(list_sum(list_transform(list_zip(co.q, qq.q),
                 p -> p[1] * p[2])) AS DOUBLE)
               / SQRT(CAST(list_sum(list_transform(co.q, x -> x * x))
                           AS DOUBLE)
                      * CAST(list_sum(list_transform(qq.q, x -> x * x))
                             AS DOUBLE)), 4) AS score
  FROM cand c
  JOIN corpus co ON co.vec_id = c.vec_id
  JOIN qry qq ON qq.query_id = c.query_id),
r AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id)
              AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def q56_ivf_ann_exact(spark, sf_dir):
    """IVF ANN with a fully SQL-replayable pipeline
    (:func:`similarity.ivf_topk_exact`): md5-derived integer centroids
    + int64 squared-distance assignment make cell membership EXACT
    cross-engine — the q37 shape graduated to a hash-checked oracle
    (q37 keeps the trained sampled-Lloyd quantizer for real recall).
    Same scale shape: one Arrow matmul map-side, cells as join keys,
    queries broadcast."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") + 0.001).cast("float")
        ).alias("embedding"),
    )
    out = similarity.ivf_topk_exact(
        emb, queries, dim=64, k=5, n_cells=16, n_probe=4
    )
    return out.select("query_id", "vec_id", "score", "rank").orderBy(
        "query_id", "rank"
    )


Q56_SQL = """
WITH corpus AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings),
qry AS (
  SELECT vec_id + 100000 AS query_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(CAST(CAST(x AS DOUBLE) + 0.001 AS FLOAT)
                            AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id < 5),
cen AS (
  SELECT cell.c AS cell, d.d AS d,
         CAST(CAST('0x' || substr(md5('c' || cell.c || '_' || d.d), 1, 8)
                   AS UBIGINT) % 2000 AS BIGINT) - 1000 AS cv
  FROM generate_series(0, 15) cell(c), generate_series(0, 63) d(d)),
cex AS (
  SELECT vec_id, unnest(generate_series(1, len(q))) AS i, unnest(q) AS qv
  FROM corpus),
cdist AS (
  SELECT e.vec_id, c.cell, SUM((e.qv - c.cv) * (e.qv - c.cv)) AS d2
  FROM cex e JOIN cen c ON c.d = e.i - 1 GROUP BY 1, 2),
cassign AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM cdist) WHERE rn = 1),
qex AS (
  SELECT query_id, unnest(generate_series(1, len(q))) AS i, unnest(q) AS qv
  FROM qry),
qdist AS (
  SELECT e.query_id, c.cell, SUM((e.qv - c.cv) * (e.qv - c.cv)) AS d2
  FROM qex e JOIN cen c ON c.d = e.i - 1 GROUP BY 1, 2),
qprobe AS (
  SELECT query_id, cell
  FROM (SELECT query_id, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, cell) AS rn
        FROM qdist) WHERE rn <= 4),
cand AS (
  SELECT qp.query_id, ca.vec_id
  FROM cassign ca JOIN qprobe qp ON ca.cell = qp.cell
  WHERE qp.query_id <> ca.vec_id),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(CAST(list_sum(list_transform(list_zip(co.q, qq.q),
                 p -> p[1] * p[2])) AS DOUBLE)
               / SQRT(CAST(list_sum(list_transform(co.q, x -> x * x))
                           AS DOUBLE)
                      * CAST(list_sum(list_transform(qq.q, x -> x * x))
                             AS DOUBLE)), 4) AS score
  FROM cand c
  JOIN corpus co ON co.vec_id = c.vec_id
  JOIN qry qq ON qq.query_id = c.query_id),
r AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id)
              AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def q57_semantic_dedup(spark, sf_dir):
    """Cluster-bucketed semantic dedup
    (:func:`similarity.semantic_dedup_exact`): every vector lands in
    ONE md5-integer coarse cell, cosine runs only within cells
    (sum(|cell|^2), never N^2), and the int64 pipeline replays exactly
    in SQL. Near-dups are planted by unioning perturbed copies of
    vec_id < 10 — both engines plant identically, so natural AND
    planted pairs are all verified."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") + 0.001).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    out = similarity.semantic_dedup_exact(
        corpus, dim=64, n_cells=16, threshold=0.9
    )
    return out.select("cell", "id_a", "id_b", "score").orderBy("id_a", "id_b")


Q57_SQL = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(CAST(CAST(x AS DOUBLE) + 0.001 AS FLOAT)
                            AS DOUBLE) * 1000) AS BIGINT))
  FROM embeddings WHERE vec_id < 10),
cen AS (
  SELECT cell.c AS cell, d.d AS d,
         CAST(CAST('0x' || substr(md5('c' || cell.c || '_' || d.d), 1, 8)
                   AS UBIGINT) % 2000 AS BIGINT) - 1000 AS cv
  FROM generate_series(0, 15) cell(c), generate_series(0, 63) d(d)),
cex AS (
  SELECT vec_id, unnest(generate_series(1, len(q))) AS i, unnest(q) AS qv
  FROM base),
cdist AS (
  SELECT e.vec_id, c.cell, SUM((e.qv - c.cv) * (e.qv - c.cv)) AS d2
  FROM cex e JOIN cen c ON c.d = e.i - 1 GROUP BY 1, 2),
cassign AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM cdist) WHERE rn = 1),
pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
  FROM cassign a JOIN cassign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id),
scored AS (
  SELECT p.cell, p.id_a, p.id_b,
         ROUND(CAST(list_sum(list_transform(list_zip(qa.q, qb.q),
                 z -> z[1] * z[2])) AS DOUBLE)
               / SQRT(CAST(list_sum(list_transform(qa.q, x -> x * x))
                           AS DOUBLE)
                      * CAST(list_sum(list_transform(qb.q, x -> x * x))
                             AS DOUBLE)), 4) AS score
  FROM pairs p
  JOIN base qa ON qa.vec_id = p.id_a
  JOIN base qb ON qb.vec_id = p.id_b)
SELECT cell, id_a, id_b, score FROM scored
WHERE score >= 0.9 ORDER BY id_a, id_b
"""


#: q58 blocklist — bounded literal set; at real blocklist size this is
#: a broadcast semi-join dim (operators/referential.py shape).
_Q58_BLOCKLIST = ["d0.example.com", "d3.example.com", "d5.example.com"]


def q58_url_blocklist(spark, sf_dir):
    """URL/domain extraction + blocklist verdict
    (:func:`text.url_domain_stats`) over docs with planted URLs
    (doc_id % 3 gets an md5-derived domain + a fixed mirror host —
    both engines plant identically). One codegen regexp scan, explode
    of matches only, one (source, domain) aggregation."""
    docs = _t(spark, sf_dir, "documents")
    dom = F.concat(
        F.lit("d"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 8
        ).cast("string"),
        F.lit(".example.com"),
    )
    planted = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" see http://"),
            dom,
            F.lit("/p"),
            F.col("doc_id").cast("string"),
            F.lit(" and https://Mirror.example.org/x"),
        ),
    ).otherwise(F.col("text"))
    aug = docs.select("source", planted.alias("text"))
    return text.url_domain_stats(
        aug, "text", blocklist=_Q58_BLOCKLIST
    ).orderBy("source", "domain")


Q58_SQL = r"""
WITH aug AS (
  SELECT source,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' see http://d' ||
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8) AS UBIGINT) % 8
                        AS VARCHAR) ||
                   '.example.com/p' || CAST(doc_id AS VARCHAR) ||
                   ' and https://Mirror.example.org/x'
              ELSE text END AS text
  FROM documents),
e AS (
  SELECT source,
         lower(unnest(regexp_extract_all(text,
               'https?://([A-Za-z0-9.-]+)', 1))) AS domain
  FROM aug)
SELECT source, domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       domain IN ('d0.example.com', 'd3.example.com', 'd5.example.com')
         AS blocked
FROM e GROUP BY source, domain ORDER BY source, domain
"""


#: q59 token ids: body 0..999 from the shared md5 word hash;
#: BOS=1000, EOS=1001, PAD=1002 (max valid id 1002).
_Q59_VOCAB = 1000
_Q59_BOS, _Q59_EOS, _Q59_PAD = 1000, 1001, 1002


def q59_sequence_structure(spark, sf_dir):
    """Structural validation of tokenized sequences
    (:func:`sequences.structure_summary`): BOS-first, EOS-last,
    no interior padding, all ids in-vocab — the shard-level invariants
    of the north-star (doc_id, tokens, n_tok, source) table. Sequences
    are built from the shared md5 tokenizer with corruptions planted by
    doc_id residue (% 37 drops BOS, % 41 pads the tail, % 43 pads the
    interior, % 47 injects an out-of-vocab id) — identical in both
    engines, so every count is exact. All four predicates evaluate over
    ONE let-bound array in one fused map-side aggregation."""
    docs = dedup._spread(_t(spark, sf_dir, "documents"))
    # r6: Arrow md5 tokenizer (byte-identical — text.md5_tokens_arrow)
    body = text.md5_tokens_arrow(F.lower(F.col("text")), _Q59_VOCAB)
    L = lambda *ids: F.array(*[F.lit(i).cast("long") for i in ids])  # noqa: E731
    did = F.col("doc_id")
    tokens = (
        F.when(did % 37 == 0, F.concat(body, L(_Q59_EOS)))
        .when(did % 41 == 0, F.concat(L(_Q59_BOS), body, L(_Q59_PAD)))
        .when(
            did % 43 == 0,
            F.concat(L(_Q59_BOS, _Q59_PAD), body, L(_Q59_EOS)),
        )
        .when(
            did % 47 == 0,
            F.concat(L(_Q59_BOS), body, L(_Q59_VOCAB + 9, _Q59_EOS)),
        )
        .otherwise(F.concat(L(_Q59_BOS), body, L(_Q59_EOS)))
    )
    return sequences.structure_summary(
        docs,
        tokens,
        bos=_Q59_BOS,
        eos=_Q59_EOS,
        pad=_Q59_PAD,
        max_id=_Q59_PAD,
    ).orderBy("source")


Q59_SQL = r"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents),
b AS (
  SELECT doc_id, source,
         list_transform(ws, w ->
           CAST(CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) % 1000
                AS BIGINT)) AS body
  FROM w),
s AS (
  SELECT source,
         CASE WHEN doc_id % 37 = 0 THEN list_concat(body, [1001])
              WHEN doc_id % 41 = 0
                THEN list_concat([1000], list_concat(body, [1002]))
              WHEN doc_id % 43 = 0
                THEN list_concat([1000, 1002], list_concat(body, [1001]))
              WHEN doc_id % 47 = 0
                THEN list_concat([1000], list_concat(body, [1009, 1001]))
              ELSE list_concat([1000], list_concat(body, [1001]))
         END AS t
  FROM b)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seqs,
  CAST(SUM(CASE WHEN t[1] <> 1000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_missing_bos,
  CAST(SUM(CASE WHEN t[-1] <> 1001 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bad_eos,
  CAST(SUM(CASE WHEN len(list_filter(t, x -> x = 1002))
                 - (CASE WHEN t[1] = 1002 THEN 1 ELSE 0 END)
                 - (CASE WHEN t[-1] = 1002 THEN 1 ELSE 0 END) > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pad_interior,
  CAST(SUM(CASE WHEN len(list_filter(t, x -> x < 0 OR x > 1002)) > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM s GROUP BY source ORDER BY source
"""


def q60_snapshot_diff(spark, sf_dir):
    """Snapshot-to-snapshot regression diff
    (:func:`diff.snapshot_diff`): yesterday's orders vs a planted new
    version (keys % 11 removed, % 13 re-keyed copies added, % 5 status
    and % 7 price mutated — identical plants in both engines). ONE
    key-partitioned full-outer join + ONE aggregation computes every
    column's change count in the same pass; output is |columns| tidy
    rows."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    k = F.col("o_orderkey")
    modified = (
        base.where(k % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 7 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_orderstatus",
            F.when(k % 5 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
    )
    added = base.where(k % 13 == 0).withColumn(
        "o_orderkey", k + 10_000_000
    )
    new = modified.unionByName(added)
    return diff.snapshot_diff(base, new, ["o_orderkey"]).orderBy("column")


Q60_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
mod AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate
  FROM base WHERE o_orderkey % 11 <> 0),
added AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
         o_totalprice, o_orderdate
  FROM base WHERE o_orderkey % 13 = 0),
newt AS (SELECT * FROM mod UNION ALL SELECT * FROM added),
j AS (
  SELECT b.o_orderkey AS ko, n.o_orderkey AS kn,
         b.o_orderstatus AS s_o, n.o_orderstatus AS s_n,
         b.o_totalprice AS p_o, n.o_totalprice AS p_n,
         b.o_orderdate AS d_o, n.o_orderdate AS d_n
  FROM base b FULL OUTER JOIN newt n ON b.o_orderkey = n.o_orderkey),
s AS (
  SELECT
    CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
    CAST(SUM(CASE WHEN ko IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
    CAST(SUM(CASE WHEN kn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
    CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                   AND s_o IS DISTINCT FROM s_n
              THEN 1 ELSE 0 END) AS BIGINT) AS c_status,
    CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                   AND p_o IS DISTINCT FROM p_n
              THEN 1 ELSE 0 END) AS BIGINT) AS c_price,
    CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                   AND d_o IS DISTINCT FROM d_n
              THEN 1 ELSE 0 END) AS BIGINT) AS c_date
  FROM j)
SELECT * FROM (
  SELECT 'o_orderstatus' AS "column", n_common, n_added, n_removed,
         c_status AS n_changed FROM s
  UNION ALL
  SELECT 'o_totalprice', n_common, n_added, n_removed, c_price FROM s
  UNION ALL
  SELECT 'o_orderdate', n_common, n_added, n_removed, c_date FROM s)
ORDER BY "column"
"""


def q61_heavy_hitters(spark, sf_dir):
    """Per-column skew profile (:func:`stats.heavy_hitters`): exact
    top-3 values with row share over lineitem's categorical/low-card
    columns — the diagnostic that decides salting/AQE-skew-join before
    a 100 TB join runs. One map-side explode into (column, value)
    pairs, ONE combine-backed groupBy, window top-k over aggregated
    counts only; share from a window sum (no second scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return stats.heavy_hitters(
        li, ["l_returnflag", "l_linestatus", "l_linenumber"], k=3
    ).orderBy("column", "rank")


Q61_SQL = """
WITH p AS (
  SELECT 'l_returnflag' AS "column",
         CAST(l_returnflag AS VARCHAR) AS value FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem),
c AS (SELECT "column", value, COUNT(*) AS cnt FROM p GROUP BY 1, 2),
r AS (
  SELECT "column", value, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY "column"
                                 ORDER BY cnt DESC, value ASC NULLS LAST)
              AS INTEGER) AS rank,
         SUM(cnt) OVER (PARTITION BY "column") AS total
  FROM c)
SELECT "column", value, CAST(cnt AS BIGINT) AS cnt, rank,
       ROUND(cnt / CAST(total AS DOUBLE), 6) AS share
FROM r WHERE rank <= 3 ORDER BY "column", rank
"""


def q62_json_schema_propnames_deps(spark, sf_dir):
    """The round-4 Draft-7 additions oracle-checked: ``propertyNames``
    (string keywords over json_object_keys, per key via forall) and
    ``dependencies`` in BOTH forms — property-list (credit ⇒ cvv
    present) and sub-schema (debit ⇒ pin is a string, recursive
    through _schema_pred). Corruption planted deterministically from
    event_id; the DuckDB twin uses json_keys()/json_type()."""
    from .plans.validation import check_table

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    staged = ev.select(
        "event_id",
        F.when(eid % 7 == 0, F.lit('{"conf": {"ab": 1, "BAD": 2}}'))
        .when(eid % 11 == 0, F.lit('{"payment": {"credit": "visa"}}'))
        .when(eid % 13 == 0, F.lit('{"payment": {"debit": "x", "pin": 5}}'))
        .otherwise(
            F.lit(
                '{"conf": {"ab": 1}, '
                '"payment": {"credit": "v", "cvv": "123"}}'
            )
        )
        .alias("props"),
    )
    spec = TableSpec.from_dict(
        {
            "name": "events_js_pn",
            "schema": {
                "fields": [
                    {
                        "name": "props",
                        "type": "string",
                        "constraints": {
                            "jsonSchema": {
                                "type": "object",
                                "properties": {
                                    "conf": {
                                        "propertyNames": {
                                            "pattern": "^[a-z]+$"
                                        }
                                    },
                                    "payment": {
                                        "dependencies": {
                                            "credit": ["cvv"],
                                            "debit": {
                                                "properties": {
                                                    "pin": {"type": "string"}
                                                }
                                            },
                                        }
                                    },
                                },
                            }
                        },
                    }
                ],
                "primaryKey": ["event_id"],
            },
        }
    )
    res = check_table(staged, spec)
    return _sorted(res.unordered_violations, "jsonpath", "type", "check")


Q62_SQL = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN '{"conf": {"ab": 1, "BAD": 2}}'
              WHEN event_id % 11 = 0 THEN '{"payment": {"credit": "visa"}}'
              WHEN event_id % 13 = 0
                THEN '{"payment": {"debit": "x", "pin": 5}}'
              ELSE
       '{"conf": {"ab": 1}, "payment": {"credit": "v", "cvv": "123"}}'
         END AS props
  FROM events),
viol AS (
  SELECT event_id, props, 'propertyNames' AS type,
         'conf has property names violating the schema' AS message,
         'props.jsonSchema.properties.conf.propertyNames' AS "check"
  FROM s
  WHERE json_type(props, '$.conf') = 'OBJECT'
    AND len(list_filter(json_keys(props, '$.conf'),
                        k -> NOT regexp_matches(k, '^[a-z]+$'))) > 0
  UNION ALL
  SELECT event_id, props, 'dependencies',
         'payment violates a property dependency',
         'props.jsonSchema.properties.payment.dependencies'
  FROM s
  WHERE json_type(props, '$.payment') = 'OBJECT'
    AND ((list_contains(json_keys(props, '$.payment'), 'credit')
          AND NOT list_contains(json_keys(props, '$.payment'), 'cvv'))
         OR (list_contains(json_keys(props, '$.payment'), 'debit')
             AND json_type(props, '$.payment.pin') IS NOT NULL
             AND json_type(props, '$.payment.pin') <> 'VARCHAR'))
)
SELECT '$.events_js_pn[' || CAST(event_id AS VARCHAR) || '].props'
         AS jsonpath,
       type, message, props AS instance, "check",
       'props' AS "column",
       CAST(event_id AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM viol
ORDER BY jsonpath, type, "check"
"""


def q63_reconciliation(spark, sf_dir):
    """Cross-table aggregate reconciliation
    (:func:`referential.reconcile`): sum of lineitem extended prices
    vs the order header total, in integer CENTS so the comparison is
    exact under any aggregation order (double sums differ in the last
    ulp between engines). The synthetic data does NOT reconcile —
    these are natural violations, no planting. Output: per diff-sign
    summary (keys, total and max absolute discrepancy)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    r = referential.reconcile(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )
    return (
        r.groupBy(F.signum("diff").cast("int").alias("diff_sign"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.abs("diff")).alias("total_abs_diff_cents"),
            F.max(F.abs("diff")).alias("max_abs_diff_cents"),
        )
        .orderBy("diff_sign")
    )


Q63_SQL = """
WITH f AS (
  SELECT l_orderkey AS key,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS actual
  FROM lineitem GROUP BY 1),
d AS (
  SELECT o_orderkey AS key,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS expected
  FROM orders),
j AS (
  SELECT COALESCE(f.actual, 0) - COALESCE(d.expected, 0) AS diff
  FROM f FULL OUTER JOIN d USING (key))
SELECT CAST(CASE WHEN diff > 0 THEN 1 WHEN diff < 0 THEN -1 ELSE 0 END
            AS INT) AS diff_sign,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(ABS(diff)) AS BIGINT) AS total_abs_diff_cents,
       CAST(MAX(ABS(diff)) AS BIGINT) AS max_abs_diff_cents
FROM j GROUP BY 1 ORDER BY 1
"""


def q64_order_inversions(spark, sf_dir):
    """Event-time monotonicity (:func:`sequences.order_inversions`):
    per user, events ordered by event_id whose timestamp moved
    BACKWARDS — the out-of-order-delivery invariant every watermark
    and as-of consumer assumes. Natural violations (the synthetic
    event stream interleaves users), one window shuffle."""
    ev = _t(spark, sf_dir, "events")
    return sequences.order_inversions(
        ev, "ts", "event_id", "user_id"
    ).orderBy("user_id")


Q64_SQL = """
WITH x AS (
  SELECT user_id, epoch(ts) AS t,
         LAG(epoch(ts)) OVER (PARTITION BY user_id
                              ORDER BY event_id) AS prev
  FROM events),
f AS (
  SELECT user_id,
         CASE WHEN prev IS NOT NULL AND t - prev < 0
              THEN prev - t END AS back
  FROM x)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN back IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inversions,
       ROUND(COALESCE(MAX(back), 0.0), 3) AS max_backstep_s
FROM f GROUP BY user_id ORDER BY user_id
"""


def q65_json_schema_refs_formats(spark, sf_dir):
    """The round-5 Draft-7 additions oracle-checked: local ``$ref`` /
    ``definitions`` (resolved at compile time by
    :func:`compile.resolve_refs` — the reference resolves the same refs
    inside jsonschema, ref check.py:559-561), ``patternProperties``
    (object walked as map<string,variant> entries), and ``format``
    (email / ipv4 with exact FormatChecker parity). Corruption planted
    deterministically from event_id; the DuckDB twin recomputes each
    violation with json_keys/json_type/regexp_matches."""
    from .plans.validation import check_table

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    staged = ev.select(
        "event_id",
        F.when(
            eid % 7 == 0,
            F.lit('{"contact": "no-at-sign", "ip": "10.0.0.1"}'),
        )
        .when(
            eid % 11 == 0,
            F.lit('{"contact": "a@b.c", "ip": "999.1.1.1"}'),
        )
        .when(
            eid % 13 == 0,
            F.lit('{"contact": "a@b.c", "meta": {"x_a": "bad", "x_b": 2}}'),
        )
        .otherwise(
            F.lit(
                '{"contact": "a@b.c", "ip": "10.0.0.1", '
                '"meta": {"x_a": 1, "other": "s"}}'
            )
        )
        .alias("props"),
    )
    spec = TableSpec.from_dict(
        {
            "name": "events_js_ref",
            "schema": {
                "fields": [
                    {
                        "name": "props",
                        "type": "string",
                        "constraints": {
                            "jsonSchema": {
                                "definitions": {
                                    "contact": {"format": "email"},
                                    "meta": {
                                        "patternProperties": {
                                            "^x_": {"type": "integer"}
                                        }
                                    },
                                },
                                "type": "object",
                                "properties": {
                                    "contact": {
                                        "$ref": "#/definitions/contact"
                                    },
                                    "meta": {"$ref": "#/definitions/meta"},
                                    "ip": {"format": "ipv4"},
                                },
                            }
                        },
                    }
                ],
                "primaryKey": ["event_id"],
            },
        }
    )
    res = check_table(staged, spec)
    return _sorted(res.unordered_violations, "jsonpath", "type", "check")


Q65_SQL = """
WITH s AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0
                THEN '{"contact": "no-at-sign", "ip": "10.0.0.1"}'
              WHEN event_id % 11 = 0
                THEN '{"contact": "a@b.c", "ip": "999.1.1.1"}'
              WHEN event_id % 13 = 0
                THEN '{"contact": "a@b.c", "meta": {"x_a": "bad", "x_b": 2}}'
              ELSE '{"contact": "a@b.c", "ip": "10.0.0.1", '
                   || '"meta": {"x_a": 1, "other": "s"}}'
         END AS props
  FROM events),
viol AS (
  SELECT event_id, props, 'format' AS type,
         'contact does not conform to the declared format' AS message,
         'props.jsonSchema.properties.contact.format' AS "check"
  FROM s
  WHERE json_type(props, '$.contact') = 'VARCHAR'
    AND NOT contains(json_extract_string(props, '$.contact'), '@')
  UNION ALL
  SELECT event_id, props, 'format',
         'ip does not conform to the declared format',
         'props.jsonSchema.properties.ip.format'
  FROM s
  WHERE json_type(props, '$.ip') = 'VARCHAR'
    AND NOT regexp_matches(json_extract_string(props, '$.ip'),
      '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')
  UNION ALL
  SELECT event_id, props, 'patternProperties',
         'meta has a property violating its pattern schema',
         'props.jsonSchema.properties.meta.patternProperties'
  FROM s
  WHERE json_type(props, '$.meta') = 'OBJECT'
    AND len(list_filter(json_keys(props, '$.meta'),
        k -> regexp_matches(k, '^x_')
             AND json_type(props, '$.meta."' || k || '"')
                 NOT IN ('BIGINT', 'UBIGINT'))) > 0
)
SELECT '$.events_js_ref[' || CAST(event_id AS VARCHAR) || '].props'
         AS jsonpath,
       type, message, props AS instance, "check",
       'props' AS "column",
       CAST(event_id AS VARCHAR) AS row_key,
       CAST(NULL AS VARCHAR) AS partition
FROM viol
ORDER BY jsonpath, type, "check"
"""


# ---------------------------------------------------------------------------
# q66 — embedding-column quality validation (vectors.embedding_quality)
# ---------------------------------------------------------------------------


def q66_embedding_quality(spark, sf_dir):
    """Embedding-column conformance per label
    (:func:`operators.vectors.embedding_quality`): dimension length,
    NaN/Inf elements, all-zero vectors, L2-norm range — the
    array<float> analog of the reference's scalar field-constraint
    checks (ref check.py constraint dispatch). Corruption planted
    deterministically from vec_id (NaN tail element / zeroed vector /
    truncated dim) so every counter is exercised; one fused JVM-side
    aggregation, no UDF, one shuffle."""
    from .operators.vectors import embedding_quality

    emb = _t(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    vec = F.col("embedding")
    nan_tail = F.concat(
        F.slice(vec, 1, 63),
        F.array(F.lit(float("nan")).cast("float")),
    )
    staged = emb.select(
        "vec_id",
        "label",
        F.when(vid % 17 == 0, nan_tail)
        .when(vid % 19 == 0, F.transform(vec, lambda x: F.lit(0.0).cast("float")))
        .when(vid % 23 == 0, F.slice(vec, 1, 32))
        .otherwise(vec)
        .alias("embedding"),
    )
    out = embedding_quality(
        staged, "embedding", by="label",
        expected_dim=64, norm_lo=0.9, norm_hi=1.1,
    )
    return _sorted(out, "label")


Q66_SQL = """
WITH s AS (
  SELECT vec_id, label,
    CASE WHEN vec_id % 17 = 0 THEN embedding[1:63] || ['NaN'::FLOAT]
         WHEN vec_id % 19 = 0 THEN list_transform(embedding, x -> 0.0::FLOAT)
         WHEN vec_id % 23 = 0 THEN embedding[1:32]
         ELSE embedding END AS emb
  FROM embeddings),
p AS (
  SELECT label,
    emb IS NULL AS is_null,
    len(emb) AS dim,
    len(list_filter(emb, x -> isnan(CAST(x AS DOUBLE))
                              OR isinf(CAST(x AS DOUBLE)))) > 0 AS bad,
    round(sqrt(list_sum(list_transform(emb,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm
  FROM s)
SELECT label,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(SUM(CASE WHEN NOT is_null AND dim != 64 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_bad_dim,
  CAST(SUM(CASE WHEN NOT is_null AND bad THEN 1 ELSE 0 END)
       AS BIGINT) AS n_nonfinite,
  CAST(SUM(CASE WHEN NOT is_null AND NOT bad AND norm = 0.0
       THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
  CAST(SUM(CASE WHEN NOT is_null AND NOT bad AND norm < 0.9
       THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_lo,
  CAST(SUM(CASE WHEN NOT is_null AND NOT bad AND norm > 1.1
       THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_hi,
  MIN(CASE WHEN NOT is_null AND NOT bad THEN norm END) AS min_norm,
  MAX(CASE WHEN NOT is_null AND NOT bad THEN norm END) AS max_norm
FROM p GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# q67 — TF-IDF salient terms per document (text.tfidf_top_terms)
# ---------------------------------------------------------------------------


def q67_tfidf_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (:func:`operators.text.
    tfidf_top_terms`): the corpus-indexing / template-detection
    primitive. Scores rounded to 6 decimals before ranking so the
    ordering is engine-stable; ties break on the term ascending."""
    docs = _t(spark, sf_dir, "documents")
    return _sorted(
        text.tfidf_top_terms(docs, "text", "doc_id", k=3), "doc_id", "rank"
    )


Q67_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
w AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w AS term, tf.tf, dfreq.doc_freq,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq), 6)
           AS tfidf
  FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, doc_freq, tfidf
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------------
# q68 — per-dimension embedding drift (vectors.embedding_dim_drift)
# ---------------------------------------------------------------------------


def q68_embedding_dim_drift(spark, sf_dir):
    """Per-dimension embedding mean shift vs the label-0 baseline
    (:func:`operators.vectors.embedding_dim_drift`): elements
    floor-quantized to int64 before summation so group sums are exact
    and order-independent; means stay in integer micro-units
    (half-away rounding as pure int64 arithmetic — a double division
    rounded to 6 decimals hits exact …5 boundaries where Spark and
    DuckDB round differently); one |groups|·|dim|-long shuffle."""
    from .operators.vectors import embedding_dim_drift

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_dim_drift(emb, "embedding", "label", base_group=0)
    return _sorted(out, "label", "dim")


Q68_SQL = """
WITH e AS (
  SELECT label, r.dim AS dim,
         CAST(floor(CAST(embedding[r.dim] AS DOUBLE) * 1000000)
              AS BIGINT) AS q
  FROM embeddings, (SELECT unnest(range(1, 65)) AS dim) r),
s AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2),
m AS (SELECT label, dim,
             CASE WHEN sq >= 0 THEN (2 * sq + n) // (2 * n)
                  ELSE -((2 * (-sq) + n) // (2 * n)) END AS mean_micro
      FROM s),
b AS (SELECT dim, mean_micro AS base_mean_micro FROM m WHERE label = 0)
SELECT m.label, m.dim,
       CAST(m.mean_micro AS BIGINT) AS mean_micro,
       CAST(b.base_mean_micro AS BIGINT) AS base_mean_micro,
       CAST(abs(m.mean_micro - b.base_mean_micro) AS BIGINT)
         AS shift_micro
FROM m JOIN b USING (dim) WHERE m.label != 0
ORDER BY m.label, m.dim
"""


# ---------------------------------------------------------------------------
# q69 — cross-source shingle-overlap matrix (dedup.source_overlap_matrix)
# ---------------------------------------------------------------------------


def q69_source_overlap(spark, sf_dir):
    """Pairwise 5-shingle containment between sources
    (:func:`operators.dedup.source_overlap_matrix`) — the
    train/test-leakage matrix: distinct (source, gram) pass, gram-key
    self-join bounded by |sources|² per gram, broadcast size join."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.source_overlap_matrix(docs, "text", "source", k=5)
    return _sorted(out, "src_a", "src_b")


Q69_SQL = r"""
WITH norm AS (
  SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
w AS (SELECT source, string_split(t, ' ') AS words FROM norm),
idx AS (SELECT source, words,
               unnest(generate_series(1, greatest(len(words)-4, 1))) AS i
        FROM w),
sg AS (SELECT DISTINCT source, array_to_string(words[i:i+4], ' ') AS g
       FROM idx),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY 1),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sg a JOIN sg b USING (g)
  WHERE a.source < b.source GROUP BY 1, 2)
SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       ROUND(n_shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS overlap
FROM shared
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# q70 — ordered funnel conversion (sequences.funnel_counts)
# ---------------------------------------------------------------------------


def q70_funnel(spark, sf_dir):
    """view → click → purchase ordered-funnel conversion
    (:func:`operators.sequences.funnel_counts`): per step one
    conditional-min aggregation keyed on user_id (first-touch
    anchors, ties inclusive); no per-user history collection."""
    from .operators.sequences import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"]).orderBy(
        "step_idx"
    )


Q70_SQL = """
WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS a FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS a
       FROM events e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.a
       GROUP BY 1),
s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS a
       FROM events e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.a
       GROUP BY 1),
c AS (SELECT 1 AS step_idx, 'view' AS step,
             (SELECT COUNT(*) FROM s1) AS n
      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
SELECT CAST(step_idx AS INT) AS step_idx, step,
       CAST(n AS BIGINT) AS n_users,
       CASE WHEN step_idx = 1 THEN 1.0
            ELSE ROUND(CAST(n AS DOUBLE) /
                       NULLIF(LAG(n) OVER (ORDER BY step_idx), 0), 6)
       END AS conversion
FROM c ORDER BY step_idx
"""


# ---------------------------------------------------------------------------
# q71 — engine-native session windows (streaming.session_window_counts)
# ---------------------------------------------------------------------------


def q71_session_windows(spark, sf_dir):
    """Per-(user, session) spans via the engine's ``session_window``
    (:func:`streaming.checks.session_window_counts`) run in batch mode
    — the same operator streams with a watermark. Oracle: classic
    gaps-and-islands (lag + ROWS-framed cumulative sum); strict
    less-than-gap merge semantics, session_end = last event + gap."""
    from .streaming.checks import session_window_counts

    ev = _t(spark, sf_dir, "events")
    return _sorted(
        session_window_counts(ev, gap="30 minutes"),
        "user_id",
        "session_start",
    )


Q71_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts)
                   >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# q72 — exact Kolmogorov–Smirnov drift vs baseline (drift.ks_drift_by_group)
# ---------------------------------------------------------------------------


def q72_ks_drift(spark, sf_dir):
    """Exact two-sample KS statistic of each source's n_chars
    distribution vs the src0 baseline
    (:func:`operators.drift.ks_drift_by_group`): binning-free third
    drift lens next to KL/PSI; one combine-backed (group, value)
    aggregation, cumulative windows over aggregated counts only."""
    docs = _t(spark, sf_dir, "documents")
    out = drift.ks_drift_by_group(docs, "n_chars", "source", "src0")
    return _sorted(out, "source")


Q72_SQL = """
WITH c AS (SELECT source AS grp, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM documents GROUP BY 1, 2),
vals AS (SELECT DISTINCT v FROM c),
grps AS (SELECT DISTINCT grp FROM c),
tot AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
grid AS (SELECT grp, v FROM grps, vals),
f AS (SELECT g.grp, g.v, COALESCE(c.c, 0) AS c
      FROM grid g LEFT JOIN c ON c.grp = g.grp AND c.v = g.v),
cum AS (SELECT grp, v, SUM(c) OVER (PARTITION BY grp ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS cum FROM f),
b AS (SELECT v, cum AS bcum FROM cum WHERE grp = 'src0'),
bn AS (SELECT n AS base_n FROM tot WHERE grp = 'src0')
SELECT cum.grp AS source, tot.n AS n, bn.base_n AS base_n,
       ROUND(MAX(ABS(CAST(cum.cum AS DOUBLE) / tot.n
                     - CAST(b.bcum AS DOUBLE) / bn.base_n)), 6) AS ks
FROM cum JOIN b USING (v) JOIN tot ON tot.grp = cum.grp CROSS JOIN bn
WHERE cum.grp != 'src0'
GROUP BY 1, 2, 3
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q73 — bucketized range join (asof.range_join)
# ---------------------------------------------------------------------------


def q73_range_join(spark, sf_dir):
    """Assign every event to its session interval via the bucketized
    range join (:func:`operators.asof.range_join`): equi-join on
    (user, time-bucket) with the exact range predicate as a
    post-filter — never a per-key nested loop. Intervals are q71's
    engine-native session windows; sessions partition each user's
    timeline, so the assignment is total and unique. Oracle: the
    per-event session start via gaps-and-islands windows directly."""
    from .operators.asof import range_join
    from .streaming.checks import session_window_counts

    ev = _t(spark, sf_dir, "events")
    sess = session_window_counts(ev, gap="30 minutes").select(
        "user_id", "session_start", "session_end"
    )
    out = range_join(
        ev.select("event_id", "user_id", "ts"),
        sess,
        "ts",
        "session_start",
        "session_end",
        keys=["user_id"],
        bucket_s=1800,
    )
    return _sorted(
        out.select("event_id", "user_id", "session_start"), "event_id"
    )


Q73_SQL = """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                   >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (SELECT event_id, user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)
SELECT event_id, user_id,
       MIN(ts) OVER (PARTITION BY user_id, sid) AS session_start
FROM s ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# q74 — per-source unigram entropy (vocabulary concentration lens)
# ---------------------------------------------------------------------------


def q74_vocab_entropy(spark, sf_dir):
    """Shannon entropy of each source's word distribution (nats) —
    the vocabulary-concentration signal next to TTR/hapax (q47): a
    source whose entropy collapses is emitting templated spam. The
    divergence math runs over the AGGREGATED (source, word, count)
    table (same shape as the KL/PSI queries): one combine-backed word
    count shuffle, entropy from counts, rounded to 6 decimals."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(
            F.split(text.normalize_text(F.col("text")), " ")
        ).alias("w"),
    )
    wc = w.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
                / F.sum("c").cast("double"),
                6,
            ).alias("entropy"),
        )
        .orderBy("source")
    )


Q74_SQL = r"""
WITH norm AS (
  SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
w AS (SELECT source, unnest(string_split(t, ' ')) AS w FROM norm),
wc AS (SELECT source, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(ln(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(SUM(c) AS DOUBLE), 6) AS entropy
FROM wc GROUP BY source ORDER BY source
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_profile_lineitem": q02_profile_lineitem,
    "q03_null_rates_documents": q03_null_rates_documents,
    "q04_dup_keys_lineitem": q04_dup_keys_lineitem,
    "q05_unique_violations": q05_unique_violations,
    "q06_referential_missing": q06_referential_missing,
    "q07_check_orders_fused": q07_check_orders_fused,
    "q08_histogram_nchars": q08_histogram_nchars,
    "q09_drift_psi_nchars": q09_drift_psi_nchars,
    "q10_token_counts": q10_token_counts,
    "q11_langid": q11_langid,
    "q12_quality": q12_quality,
    "q13_fingerprints": q13_fingerprints,
    "q14_topk_embeddings": q14_topk_embeddings,
    "q15_windowed_events": q15_windowed_events,
    "q16_sessions": q16_sessions,
    "q17_top_users": q17_top_users,
    "q18_invariant_nchars": q18_invariant_nchars,
    "q19_minhash_near_dups": q19_minhash_near_dups,
    "q20_simhash_near_dups": q20_simhash_near_dups,
    "q21_lsh_ann": q21_lsh_ann,
    "q22_multimodal_features": q22_multimodal_features,
    "q23_exact_dedup_rows": q23_exact_dedup_rows,
    "q24_referential_violations": q24_referential_violations,
    "q25_excluded_violations": q25_excluded_violations,
    "q26_dup_keys_salted": q26_dup_keys_salted,
    "q27_group_quantiles": q27_group_quantiles,
    "q28_divergence": q28_divergence,
    "q29_embedding_near_dups": q29_embedding_near_dups,
    "q30_json_props": q30_json_props,
    "q31_asof_join": q31_asof_join,
    "q32_tdigest_by_group": q32_tdigest_by_group,
    "q33_exact_dedup": q33_exact_dedup,
    "q34_combinators": q34_combinators,
    "q35_json_schema_constraint": q35_json_schema_constraint,
    "q36_exact_cosine_pairs": q36_exact_cosine_pairs,
    "q37_ivf_ann_trained": q37_ivf_ann_trained,
    "q38_json_schema_typed": q38_json_schema_typed,
    "q39_token_hist_drift": q39_token_hist_drift,
    "q40_decontamination": q40_decontamination,
    "q41_repetition": q41_repetition,
    "q42_pii": q42_pii,
    "q43_stratified_mix": q43_stratified_mix,
    "q44_json_schema_combinators": q44_json_schema_combinators,
    "q45_duplicate_clusters": q45_duplicate_clusters,
    "q46_shingle_dup_fraction": q46_shingle_dup_fraction,
    "q47_vocab_stats": q47_vocab_stats,
    "q48_quality_filter_rates": q48_quality_filter_rates,
    "q49_infer_types": q49_infer_types,
    "q50_csv_cast_errors": q50_csv_cast_errors,
    "q51_suggest_constraints": q51_suggest_constraints,
    "q52_pack_sequences": q52_pack_sequences,
    "q53_token_budget_mix": q53_token_budget_mix,
    "q54_bigram_merge": q54_bigram_merge,
    "q55_lsh_ann_exact": q55_lsh_ann_exact,
    "q56_ivf_ann_exact": q56_ivf_ann_exact,
    "q57_semantic_dedup": q57_semantic_dedup,
    "q58_url_blocklist": q58_url_blocklist,
    "q59_sequence_structure": q59_sequence_structure,
    "q60_snapshot_diff": q60_snapshot_diff,
    "q61_heavy_hitters": q61_heavy_hitters,
    "q62_json_schema_propnames_deps": q62_json_schema_propnames_deps,
    "q63_reconciliation": q63_reconciliation,
    "q64_order_inversions": q64_order_inversions,
    "q65_json_schema_refs_formats": q65_json_schema_refs_formats,
    "q66_embedding_quality": q66_embedding_quality,
    "q67_tfidf_terms": q67_tfidf_terms,
    "q68_embedding_dim_drift": q68_embedding_dim_drift,
    "q69_source_overlap": q69_source_overlap,
    "q70_funnel": q70_funnel,
    "q71_session_windows": q71_session_windows,
    "q72_ks_drift": q72_ks_drift,
    "q73_range_join": q73_range_join,
    "q74_vocab_entropy": q74_vocab_entropy,
}

ORACLES = {
    "q01_pricing_summary": Q01_SQL,
    "q02_profile_lineitem": Q02_SQL,
    "q03_null_rates_documents": Q03_SQL,
    "q04_dup_keys_lineitem": Q04_SQL,
    "q05_unique_violations": Q05_SQL,
    "q06_referential_missing": Q06_SQL,
    "q07_check_orders_fused": Q07_SQL,
    "q08_histogram_nchars": Q08_SQL,
    "q09_drift_psi_nchars": Q09_SQL,
    "q10_token_counts": Q10_SQL,
    "q11_langid": Q11_SQL,
    "q12_quality": Q12_SQL,
    "q13_fingerprints": Q13_SQL,
    "q14_topk_embeddings": Q14_SQL,
    "q15_windowed_events": Q15_SQL,
    "q16_sessions": Q16_SQL,
    "q17_top_users": Q17_SQL,
    "q18_invariant_nchars": Q18_SQL,
    "q19_minhash_near_dups": Q19_SQL,
    "q20_simhash_near_dups": Q20_SQL,
    "q22_multimodal_features": Q22_SQL,
    "q23_exact_dedup_rows": Q23_SQL,
    "q24_referential_violations": Q24_SQL,
    "q25_excluded_violations": Q25_SQL,
    "q26_dup_keys_salted": Q26_SQL,
    "q27_group_quantiles": Q27_SQL,
    "q28_divergence": Q28_SQL,
    "q29_embedding_near_dups": Q29_SQL,
    "q30_json_props": Q30_SQL,
    "q31_asof_join": Q31_SQL,
    "q33_exact_dedup": Q33_SQL,
    "q34_combinators": Q34_SQL,
    "q35_json_schema_constraint": Q35_SQL,
    "q36_exact_cosine_pairs": Q36_SQL,
    "q38_json_schema_typed": Q38_SQL,
    "q39_token_hist_drift": Q39_SQL,
    "q40_decontamination": Q40_SQL,
    "q41_repetition": Q41_SQL,
    "q42_pii": Q42_SQL,
    "q43_stratified_mix": Q43_SQL,
    "q44_json_schema_combinators": Q44_SQL,
    "q45_duplicate_clusters": Q45_SQL,
    "q46_shingle_dup_fraction": Q46_SQL,
    "q47_vocab_stats": Q47_SQL,
    "q48_quality_filter_rates": Q48_SQL,
    "q49_infer_types": Q49_SQL,
    "q50_csv_cast_errors": Q50_SQL,
    "q51_suggest_constraints": Q51_SQL,
    "q52_pack_sequences": Q52_SQL,
    "q53_token_budget_mix": Q53_SQL,
    "q54_bigram_merge": Q54_SQL,
    "q55_lsh_ann_exact": Q55_SQL,
    "q56_ivf_ann_exact": Q56_SQL,
    "q57_semantic_dedup": Q57_SQL,
    "q58_url_blocklist": Q58_SQL,
    "q59_sequence_structure": Q59_SQL,
    "q60_snapshot_diff": Q60_SQL,
    "q61_heavy_hitters": Q61_SQL,
    "q62_json_schema_propnames_deps": Q62_SQL,
    "q63_reconciliation": Q63_SQL,
    "q64_order_inversions": Q64_SQL,
    "q65_json_schema_refs_formats": Q65_SQL,
    "q66_embedding_quality": Q66_SQL,
    "q67_tfidf_terms": Q67_SQL,
    "q68_embedding_dim_drift": Q68_SQL,
    "q69_source_overlap": Q69_SQL,
    "q70_funnel": Q70_SQL,
    "q71_session_windows": Q71_SQL,
    "q72_ks_drift": Q72_SQL,
    "q73_range_join": Q73_SQL,
    "q74_vocab_entropy": Q74_SQL,
    # q21/q32/q37: rows-only by design — approximate ANN top-k
    # (recall < 1 is intrinsic at honest params) and t-digest sketches
    # have no exact SQL twin.
}
