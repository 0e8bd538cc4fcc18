"""Similarity search over embedding columns (task brief / SURVEY §2.8).

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus; per-row dot products via JVM higher-order
  functions (``zip_with`` + ``aggregate``), top-k via window row_number.
  The corpus is never shuffled — one scan, one broadcast, one small
  top-k shuffle of |queries|·k rows.
* ``quantized_topk`` — same shape with int64 arithmetic over quantized
  vectors: bit-exact across engines (used for the DuckDB oracle).
* ``lsh_topk`` — scale path: random-hyperplane LSH bucketing; only
  same-bucket pairs are scored. Hyperplanes are derived from xxhash64
  (deterministic, no RNG state), so the plan is reproducible.
* ``cosine_near_dups`` — embedding near-dup detection: multi-table
  Arrow-matmul LSH buckets → distinct candidate pairs → exact cosine
  ≥ threshold.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import _spread


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision — zip_with + aggregate, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    Output: (query_id, vec_id, score, rank). Queries are broadcast —
    at 100 TB the corpus side streams through one scan; cost is
    |corpus|·|queries| dot products, all codegen'd.
    """
    qid = query_id_col or id_col
    q = F.broadcast(
        queries.select(
            F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
        )
    )
    scored = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cvec")
    ).crossJoin(q)
    scored = scored.where(F.col("query_id") != F.col(id_col)).select(
        "query_id",
        id_col,
        cosine(F.col("_cvec"), F.col("_qvec")).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Top-k by integer dot product — deterministic cross-engine.
    Output: (query_id, vec_id, qdot, rank).

    r6 shape (guide §4.1/§4.2): the old plan quantized BOTH vectors and
    folded the dot product with interpreted higher-order functions once
    per (corpus × query) PAIR. Now the corpus is quantized once per row
    by the same JVM ``quantize`` expression (so rounding semantics are
    untouched), the (bounded, broadcast-sized) query set is quantized
    by that expression too and collected once, and all |queries| dot
    products per corpus row are ONE exact integer matmul per Arrow
    batch (see ``_imatmul``) — identical int64 qdots, no per-pair
    interpreted expressions. The queries-side driver collect is the
    same data volume the old broadcast shipped.
    """
    import numpy as np
    from pyspark.sql import types as T

    qrows = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col), scale).alias("_qq")
    ).collect()
    qids = [r["query_id"] for r in qrows]
    Q = (
        np.asarray([r["_qq"] for r in qrows], dtype=np.int64).T
        if qrows
        else np.zeros((0, 0), dtype=np.int64)
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def dots(qvecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.int64) for v in qvecs])
        if Q.size == 0:
            return pd.Series([np.empty(0, np.int64)] * len(m))
        d = _imatmul(m, Q).astype(np.int64)
        return pd.Series(list(d))

    qid_arr = F.array(*[F.lit(q) for q in qids])
    scored = (
        _spread(corpus).select(F.col(id_col), quantize(F.col(vec_col), scale).alias("_qc"))
        .select(
            id_col, F.posexplode(dots(F.col("_qc"))).alias("_qi", "qdot")
        )
        .select(
            F.element_at(qid_arr, F.col("_qi") + 1).alias("query_id"),
            id_col,
            "qdot",
        )
        .where(F.col("query_id") != F.col(id_col))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("qdot"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def multitable_sketch_udf(dim: int, n_planes: int, n_tables: int):
    """All tables' hyperplane sketches in ONE Arrow-batched matmul.

    Catalyst higher-order functions evaluate interpreted (outside
    whole-stage codegen); n_tables × n_planes aggregate(zip_with(...))
    expressions cost ~ms/row. A (batch×dim) @ (dim×(tables·planes))
    numpy matmul is ~100× faster and the plane matrix is derived from a
    seeded Philox generator — deterministic across runs/executors.
    Returns array<long> of per-table buckets (offset-disjoint).
    """
    import numpy as np
    from pyspark.sql import types as T

    rng = np.random.default_rng(20260816)
    planes = rng.standard_normal((dim, n_tables * n_planes))
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)
    offsets = (np.arange(n_tables).astype(np.int64) * (1 << n_planes))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sketch(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (m @ planes) > 0
        b = signs.reshape(len(m), n_tables, n_planes) @ pow2 + offsets
        return pd.Series(list(b))

    return sketch


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing an LSH bucket
    with the query in ANY of ``n_tables`` independent tables.
    Recall tunes with n_tables/n_planes.

    Output: (query_id, vec_id, score, rank) — rank within candidates.
    """
    sketch = multitable_sketch_udf(dim, n_planes, n_tables)

    def unpivot(df, idname):
        return df.select(
            idname, vec_col, F.explode(sketch(F.col(vec_col))).alias("bucket")
        )

    cu = unpivot(_spread(corpus), id_col)
    qu = F.broadcast(
        unpivot(
            queries.select(F.col(id_col).alias("query_id"), vec_col), "query_id"
        ).withColumnRenamed(vec_col, "_qvec")
    )
    cands = (
        cu.join(qu, "bucket")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            cosine(F.col(vec_col), F.col("_qvec")).alias("score"),
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return cands.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 8192,
    iters: int = 8,
    seed: int = 20260817,
):
    """Sampled Lloyd k-means for the IVF coarse quantizer.

    Training the quantizer on a SAMPLE is the standard IVF recipe at
    scale (the quantizer needs representative geometry, not every
    vector): one ``takeOrdered``-style pass pulls the first
    ``sample_n`` vectors by id (deterministic across runs/partitionings),
    Lloyd runs on the driver in numpy (sample_n×dim ≤ a few MB —
    bounded, like the t-digest centroid merge), and only the
    dim×n_cells centroid matrix ships back into the assign UDF. Real
    (data-dependent) centroids fix the recall gap of random
    hyperplanes: cells follow the data's density instead of slicing it
    blindly. Empty cells are reseeded deterministically from the
    farthest points. Returns a (dim, n_cells) float64 array of
    L2-normalized centroids.
    """
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(int(sample_n))
        .select(vec_col)
        .collect()
    )
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(Xn))
    cents = Xn[rng.choice(len(Xn), k, replace=False)].copy()
    for _ in range(iters):
        sims = Xn @ cents.T
        assign = np.argmax(sims, axis=1)
        # reseed empty cells from the k-worst-served DISTINCT points
        # (ranked ascending by similarity to their assigned centroid):
        # recomputing per iteration and consuming the ranking one point
        # per empty cell guarantees no duplicate centroids (ADVICE r2 —
        # the old code gave every empty cell the SAME worst point).
        own = sims[np.arange(len(Xn)), assign]
        reseed_order = iter(np.argsort(own, kind="stable"))
        for c in range(k):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                cents[c] = m / n if n > 0 else cents[c]
            else:
                cents[c] = Xn[next(reseed_order)]
    if k < n_cells:  # tiny corpus: pad with wrap-around copies
        cents = np.vstack([cents, cents[: n_cells - k]])
    return cents.T  # (dim, n_cells)


def _ivf_assign_udf(dim: int, n_cells: int, n_probe: int = 1, centroids=None):
    """Coarse quantizer: assign each vector to its top-``n_probe``
    cells by dot product against the centroid matrix — trained
    (:func:`train_ivf_centroids`) when given, else a deterministic
    seeded-Philox fallback. Returns array<int> of cell ids."""
    import numpy as np
    from pyspark.sql import types as T

    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        rng = np.random.default_rng(20260817)
        cents = rng.standard_normal((dim, n_cells))
        cents /= np.linalg.norm(cents, axis=0, keepdims=True)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        scores = m @ cents
        top = np.argsort(-scores, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 64,
    n_probe: int = 8,
    train: bool = False,
) -> DataFrame:
    """IVF-Flat approximate top-k (the scale path beside LSH).

    Corpus vectors are assigned to ONE inverted cell (their nearest
    centroid); queries probe their ``n_probe`` nearest cells; exact
    cosine runs only inside probed cells. At 10^12 vectors the corpus
    is written bucketed by cell so a query touches n_probe/n_cells of
    the data — here the cell id is a join key and Catalyst/AQE handle
    cell-size skew.

    ``train=True`` fits the coarse quantizer with sampled k-means
    (:func:`train_ivf_centroids`) — data-dependent cells are what makes
    IVF recall hold at scale; the seeded-random fallback exists for
    zero-setup runs.

    Output: (query_id, vec_id, score, rank).
    """
    cents = (
        train_ivf_centroids(corpus, dim, n_cells, id_col, vec_col)
        if train
        else None
    )
    assign1 = _ivf_assign_udf(dim, n_cells, 1, centroids=cents)
    assignp = _ivf_assign_udf(dim, n_cells, n_probe, centroids=cents)
    c = _spread(corpus).select(
        F.col(id_col), F.col(vec_col), F.element_at(assign1(F.col(vec_col)), 1).alias("cell")
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            F.explode(assignp(F.col(vec_col))).alias("cell"),
        )
    )
    cands = (
        c.join(q, "cell")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id", id_col, cosine(F.col(vec_col), F.col("_qvec")).alias("score")
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return cands.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 14,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs: multi-table LSH buckets, exact
    cosine verify on the candidates. Output (id_a, id_b, score).

    Buckets come from :func:`multitable_sketch_udf` — one Arrow matmul
    per batch (the interpreted per-plane ``aggregate(zip_with(...))``
    sketch is ~100× slower and a single table caps recall). Verify
    (guide §2.3 "shuffle keys and metadata", §4.2): the vectors travel
    ONCE to their bucket and each bucket scores all its pairs in one
    float64 BLAS Gram (applyInPandas) — a numpy PRE-FILTER at
    ``threshold − 1e-4`` slack — instead of a bucket self-join whose
    candidate pairs each ship two vector payloads through a shuffle.
    Survivors (near-dups only, tiny by construction) are deduped
    across tables and re-scored with the JVM :func:`cosine` expression
    and the unslacked threshold: numpy-vs-JVM double summation differs
    by ~1e-15, far inside the slack, so no pair crosses the final
    filter differently from an exact pairwise verify. The candidate
    set is eagerly materialized for the same reason as
    minhash_near_dups: its two downstream consumers would otherwise
    recompute the sketch pipeline concurrently.
    """
    import numpy as np

    sketch = multitable_sketch_udf(dim, n_planes, n_tables)
    b = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(sketch(F.col(vec_col))).alias("bucket"),
    )
    slack = float(threshold) - 1e-4

    def bucket_pairs(ids, vecs):
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        nrm = np.linalg.norm(m, axis=1)
        nrm[nrm == 0] = 1.0
        g = (m / nrm[:, None]) @ (m / nrm[:, None]).T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = g[ia, ib] >= slack
        a, bb = ids[ia[keep]], ids[ib[keep]]
        return np.minimum(a, bb), np.maximum(a, bb)

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a: list = []
        out_b: list = []
        for _, sub in pdf.groupby("bucket", sort=False):
            if len(sub) < 2:
                continue
            a, bb = bucket_pairs(
                sub["_id"].to_numpy(dtype=np.int64), sub["_v"].to_numpy()
            )
            if a.size:
                out_a.append(a)
                out_b.append(bb)
        if not out_a:
            return pd.DataFrame(
                {"id_a": np.empty(0, np.int64), "id_b": np.empty(0, np.int64)}
            )
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    # one pandas group per HASHED-bucket shard, not per bucket:
    # applyInPandas converts a pandas frame per GROUP, and LSH buckets
    # average only a few vectors each (20k vectors × 4 tables over
    # 4×2^12 buckets ≈ 1-5 rows/bucket) — tens of thousands of tiny
    # frames were the stage's cost, not the Gram math. Hash-sharding
    # keeps every bucket's rows in one group (bucket → one shard) while
    # amortizing the conversion; pair emission per bucket is unchanged.
    ng = max(b.sparkSession.sparkContext.defaultParallelism * 4, 64)
    pairs = (
        b.withColumn("_g", F.pmod(F.xxhash64("bucket"), F.lit(ng)))
        .groupBy("_g")
        .applyInPandas(group_pairs, "id_a long, id_b long")
        .distinct()
        .persist()
    )
    pairs.count()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("score")
        )
        .where(F.col("score") >= threshold)
    )


def exact_cosine_pairs(
    df: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ num/den over a bounded slice —
    the ground-truth baseline the LSH/IVF paths are measured against.

    Everything up to the final display score is int64 arithmetic on
    quantized coordinates (round(x·scale)), so results are bit-exact
    across engines (same trick as ``quantized_topk``): threshold
    membership is the integer test ``qdot>0 ∧ den²·qdot² ≥ num²·na·nb``
    (no float-boundary flakiness), and only the reported score does one
    deterministic double division+sqrt+round.

    O(N²) by design — run it on a slice (|slice|² pairs must fit a
    shuffle); the non-equi self-join broadcasts one side. At scale this
    is the recall-evaluation harness, not the production path.
    """
    q = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("_q"),
    ).withColumn(
        "_n",
        F.aggregate(
            F.transform("_q", lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )
    a = q.select(
        F.col("_id").alias("id_a"), F.col("_q").alias("_qa"), F.col("_n").alias("_na")
    )
    b = q.select(
        F.col("_id").alias("id_b"), F.col("_q").alias("_qb"), F.col("_n").alias("_nb")
    )
    qdot = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("_qdot", qdot)
        .where(
            (F.col("_qdot") > 0)
            & (
                F.lit(den2) * F.col("_qdot") * F.col("_qdot")
                >= F.lit(num2) * F.col("_na") * F.col("_nb")
            )
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_qdot").cast("double")
                / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double")),
                4,
            ).alias("score"),
        )
    )


def _imatmul(a, b):
    """Exact integer matmul via BLAS float64 (guide §4.2).

    numpy's int64 ``@`` has no BLAS kernel and runs a naive loop —
    measured ~40-100x slower than dgemm for the Gram tiles the
    int64-exact paths build. IEEE doubles represent every integer with
    |v| < 2^53 exactly, and dgemm only ever adds/multiplies those
    integers (FMA and blocked summation of exact integers stay exact),
    so when ``k * max|a| * max|b| < 2^53`` — which bounds every product
    AND every partial sum — the float64 product is bit-identical to the
    int64 one. Returns float64 (integral-valued); falls back to the
    int64 loop when the bound cannot be certified.
    """
    import numpy as np

    amax = int(np.abs(a).max(initial=0))
    bmax = int(np.abs(b).max(initial=0))
    k = a.shape[-1]
    if k * amax * bmax < (1 << 53):
        return a.astype(np.float64) @ b.astype(np.float64)
    return (a @ b).astype(np.float64)


def md5_planes(dim: int, n_planes: int, n_tables: int):
    """Integer hyperplane weights derived from md5 — the ONLY random
    source any SQL engine can replay exactly: weight(d, j) =
    int(md5(f"{d}_{j}")[:8 hex], 16) - 2^31, centered int64 in
    [-2^31, 2^31). Returned as a (dim, n_tables*n_planes) numpy int64
    matrix for the Arrow sketch."""
    import hashlib

    import numpy as np

    cols = n_tables * n_planes
    w = np.empty((dim, cols), dtype=np.int64)
    for d in range(dim):
        for j in range(cols):
            h = hashlib.md5(f"{d}_{j}".encode()).hexdigest()[:8]
            w[d, j] = int(h, 16) - (1 << 31)
    return w


def quantize(vec: Column, scale: int = 1000) -> Column:
    """int64-quantized coordinates (round(x*scale)) — the q36 trick
    that removes float accumulation-order hazards cross-engine."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def lsh_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """LSH approximate top-k whose ENTIRE pipeline is integer-exact and
    SQL-replayable — the oracle-checkable twin of :func:`lsh_topk`.

    Three determinism moves over the production path: (1) hyperplanes
    come from :func:`md5_planes` instead of a Philox generator, so any
    engine with md5 derives the identical planes; (2) sign tests run on
    int64-QUANTIZED coordinates (round(x*scale)) with integer plane
    weights — the dot product is exact integer arithmetic, immune to
    float accumulation order (numpy matmul reduces pairwise, SQL SUM
    sequentially — doubles would disagree near zero and flip buckets);
    (3) the candidate score is the q36 quantized cosine (one
    deterministic double div+sqrt+round at the end). |dot| ≤
    dim·(scale·max|x|)·2^31 ≈ 2^47 for unit-ish embeddings — no
    overflow headroom issues.

    Scale shape = lsh_topk: corpus sketched map-side (one Arrow matmul
    per batch), queries broadcast, candidates form only inside shared
    buckets — the corpus is never shuffled.
    """
    import numpy as np
    from pyspark.sql import types as T

    w = md5_planes(dim, n_planes, n_tables)
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)
    offsets = np.arange(n_tables).astype(np.int64) * (1 << n_planes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(qvecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.int64) for v in qvecs])
        signs = _imatmul(m, w) > 0  # exact (see _imatmul)
        b = signs.reshape(len(m), n_tables, n_planes) @ pow2 + offsets
        return pd.Series(list(b))

    def sketch(df, idname, qname):
        qd = df.select(
            F.col(id_col).alias(idname),
            quantize(F.col(vec_col), scale).alias(qname),
        )
        return qd.select(
            idname, qname, F.explode(buckets(F.col(qname))).alias("bucket")
        )

    cu = sketch(_spread(corpus), id_col, "_qc")
    qu = F.broadcast(sketch(queries, "query_id", "_qq"))
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
    )
    qdot = F.aggregate(
        F.zip_with("_qc", "_qq", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    cands = (
        cu.join(qu, "bucket")
        .where(F.col("query_id") != F.col(id_col))
        .dropDuplicates(["query_id", id_col])
        .select(
            "query_id",
            id_col,
            F.round(
                qdot
                / F.sqrt(
                    nrm(F.col("_qc")).cast("double")
                    * nrm(F.col("_qq")).cast("double")
                ),
                4,
            ).alias("score"),
        )
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        cands.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
    )


def md5_centroids(n_cells: int, dim: int, spread: int = 1000):
    """Integer coarse-quantizer centroids from md5 (SQL-replayable, see
    :func:`md5_planes`): c(cell, d) = md5int32(f"c{cell}_{d}") % (2*spread)
    - spread — centered on the quantized-embedding range."""
    import hashlib

    import numpy as np

    c = np.empty((n_cells, dim), dtype=np.int64)
    for cell in range(n_cells):
        for d in range(dim):
            h = hashlib.md5(f"c{cell}_{d}".encode()).hexdigest()[:8]
            c[cell, d] = int(h, 16) % (2 * spread) - spread
    return c


def ivf_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """IVF ANN whose entire pipeline is integer-exact and
    SQL-replayable — the oracle-checkable twin of :func:`ivf_topk`
    (which keeps the TRAINED sampled-Lloyd coarse quantizer for real
    recall; Lloyd itself is not practically SQL-replayable).

    Cell assignment = argmin over integer squared distances between
    int64-quantized coordinates and :func:`md5_centroids` (ties →
    lowest cell id, matching SQL ``ORDER BY dist, cell``); queries
    probe their ``n_probe`` nearest cells. All arithmetic up to the
    final reported score is int64 — no float-boundary cell flips.

    Scale shape = ivf_topk: assignment is one Arrow matmul map-side,
    cells are the (AQE-skew-splittable) join keys, queries broadcast;
    a corpus row lives in exactly ONE cell so candidate pairs are
    already distinct.
    """
    import numpy as np
    from pyspark.sql import types as T

    C = md5_centroids(n_cells, dim, spread=scale)
    c_sq = (C * C).sum(axis=1)

    def _d2(m):
        # every term is an exact integer in float64 (see _imatmul), so
        # argmin/argsort decisions are identical to the int64 path
        mf = m.astype("float64")
        return (
            (mf * mf).sum(axis=1)[:, None]
            - 2 * _imatmul(m, C.T)
            + c_sq[None, :].astype("float64")
        )

    @F.pandas_udf(T.LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.int64) for v in vecs])
        return pd.Series(np.argmin(_d2(m), axis=1).astype(np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.int64) for v in vecs])
        order = np.argsort(_d2(m), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int64)))

    cu = _spread(corpus).select(
        F.col(id_col), quantize(F.col(vec_col), scale).alias("_qc")
    ).withColumn("cell", assign(F.col("_qc")))
    qu = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            quantize(F.col(vec_col), scale).alias("_qq"),
        ).select("query_id", "_qq", F.explode(probe(F.col("_qq"))).alias("cell"))
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
    )
    qdot = F.aggregate(
        F.zip_with("_qc", "_qq", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    cands = (
        cu.join(qu, "cell")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.round(
                qdot
                / F.sqrt(
                    nrm(F.col("_qc")).cast("double")
                    * nrm(F.col("_qq")).cast("double")
                ),
                4,
            ).alias("score"),
        )
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        cands.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
    )


def semantic_dedup_exact(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.9,
    scale: int = 1000,
) -> DataFrame:
    """Cluster-bucketed semantic deduplication — the 100 TB shape for
    embedding-space dedup (SemDeDup-style): assign every vector to ONE
    coarse cell, then score cosine only WITHIN cells, so the pairwise
    work is sum(|cell|^2) instead of N^2. Returns the duplicate pairs
    ``(cell, id_a, id_b, score)`` with ``id_a < id_b`` and
    ``score >= threshold``; a caller drops ``id_b`` (keep-lowest-id
    policy) or feeds the pairs to the connected-components clusterer
    (operators/cluster.py) for transitive groups.

    Integer-exact and SQL-replayable end-to-end (:func:`md5_centroids`
    + int64 quantization + int64 Gram matrices; the raw score is the
    same IEEE double in numpy and in the SQL twin, and the ROUNDED
    score + final threshold filter stay JVM-side so the half-up
    rounding matches the oracle exactly — the UDF only pre-filters
    with a 1e-4 slack, which can never flip a rounded-4dp decision).

    Scale shape: assignment is one Arrow pandas-UDF matmul map-side
    (no shuffle); ONE shuffle groups each cell, and the within-cell
    pairwise runs as a single int64 Gram matmul per cell (numpy,
    exact) instead of |cell|² interpreted per-pair expressions —
    measured 13 s → sub-second at 5k vectors. Cell size is bounded by
    the coarse quantizer's balance (n_cells is the knob — at 10^9
    vectors you'd use ~sqrt(N) cells and a second-level residual
    quantizer, same plan shape; a cell's Gram tile must fit an
    executor, which is the same constraint SemDeDup-style cluster
    dedup has by construction).
    """
    import numpy as np
    from pyspark.sql import types as T

    C = md5_centroids(n_cells, dim, spread=scale)
    c_sq = (C * C).sum(axis=1)

    @F.pandas_udf(T.LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.int64) for v in vecs])
        # exact-integer float64 arithmetic (see _imatmul) — argmin
        # decisions identical to the int64 path, BLAS speed
        mf = m.astype(np.float64)
        d2 = (
            (mf * mf).sum(axis=1)[:, None]
            - 2 * _imatmul(m, C.T)
            + c_sq[None, :].astype(np.float64)
        )
        return pd.Series(np.argmin(d2, axis=1).astype(np.int64))

    cu = _spread(df).select(
        F.col(id_col), quantize(F.col(vec_col), scale).alias("_q")
    ).withColumn("cell", assign(F.col("_q")))

    slack = float(threshold) - 1e-4

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "cell": np.empty(0, np.int64),
                    "id_a": np.empty(0, np.int64),
                    "id_b": np.empty(0, np.int64),
                    "raw": np.empty(0, np.float64),
                }
            )
        order = np.argsort(ids)
        ids = ids[order]
        m = np.vstack(
            [np.asarray(v, dtype=np.int64) for v in pdf["_q"].to_numpy()[order]]
        )
        # PREFILTER on the normalized Gram (one BLAS matmul directly
        # yields approximate cosines — no |cell|² exact-Gram, sqrt
        # matrix or division matrix): its ~1e-14 float error is far
        # inside the 1e-4 slack, so no boundary decision can differ.
        # Survivors (near-dups only) get the bit-identical exact
        # expression: integer dot (exact in float64, see _imatmul)
        # divided by sqrt(na·nb).
        mf = m.astype(np.float64)
        n = (mf * mf).sum(axis=1)  # exact integer norms
        nz = np.sqrt(n)
        nz[nz == 0] = 1.0
        mn = mf / nz[:, None]
        g2 = mn @ mn.T
        keep = np.triu(g2 >= slack, k=1)
        ia, ib = np.nonzero(keep)
        gd = np.einsum("ij,ij->i", mf[ia], mf[ib])
        return pd.DataFrame(
            {
                "cell": np.full(len(ia), pdf["cell"].iloc[0], np.int64),
                "id_a": ids[ia],
                "id_b": ids[ib],
                "raw": gd / np.sqrt(n[ia] * n[ib]),
            }
        )

    out = cu.groupBy("cell").applyInPandas(
        cell_pairs, "cell long, id_a long, id_b long, raw double"
    )
    return out.select(
        "cell", "id_a", "id_b", F.round("raw", 4).alias("score")
    ).where(F.col("score") >= F.lit(threshold))
