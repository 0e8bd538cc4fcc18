"""Deduplication operators: exact, MinHash+LSH (n-gram Jaccard),
SimHash, embedding-cosine near-dup (task brief / SURVEY §2.8).

Scale shapes:
* **exact**: groupBy(fingerprint) — one shuffle of (hash, id) pairs.
* **MinHash+LSH**: per-doc min-hash signatures in one Arrow-batched
  numpy pass → band hashes → ONE shuffle grouping docs by (band,
  band_hash); candidate pairs only form inside buckets, so no
  quadratic blowup. Verification re-computes exact shingle Jaccard on
  the candidate pairs only. n-gram Jaccard near-dups are the same
  pipeline with a smaller ``k_shingle``.
* **SimHash**: 64-bit signature via a vectorized pandas UDF (bit math
  over token hashes), bucketed by 16-bit chunks for candidate search
  (hamming ≤ k ⇒ some chunk equal, pigeonhole).
* **embedding cosine**: see similarity.py — near-dup = top-1 neighbor
  above a threshold.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint_md5, let_col, normalize_text


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates (after normalization).

    Output: (fingerprint, n_dups, doc_ids) for groups with n>1.
    ``collect_list`` is safe: group size is bounded by duplicate
    multiplicity, and only duplicate groups survive the filter.
    """
    fp = fingerprint_md5(F.col(text_col)).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative per fingerprint (min id — deterministic).

    Window-free formulation: min(id) per fingerprint then semi-join, so
    the big side shuffles once on the fingerprint. At 100 TB prefer
    this over row_number() windows (same shuffle, no sort)."""
    fp = fingerprint_md5(F.col(text_col)).alias("_fp")
    withfp = df.withColumn("_fp", fingerprint_md5(F.col(text_col)))
    keep = withfp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return withfp.join(keep, ["_fp", id_col], "left_semi").drop("_fp")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


#: corpus-size gate of :func:`source_overlap_matrix`,
#: ``text.tfidf_top_terms`` and ``decontam.contaminated_docs``: below
#: this many input rows the fixed per-job/per-stage overheads of their
#: scale plans (bitmask aggs, Arrow passes) outweigh the asymptotic
#: wins, and each plan wins on its own side (SCALE.md, "Corpus-operator
#: size gates"). Probed with a bounded limit+count.
_SMALL_CORPUS = 16384


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions before a pandas
    UDF: a single small parquet file arrives as 1-2 partitions and
    serializes the whole UDF through one Python worker (measured 7.8 s
    vs 0.8 s for simhash signatures at sf0.1). At production scale the
    input already has ≥ thousands of partitions and this is a no-op —
    the repartition only fires on under-split inputs, where the
    round-robin shuffle is small by construction."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingles(col: Column, k: int = 5) -> Column:
    """Word k-shingles of the normalized text → array<string> (distinct).

    The words array is LET-BOUND (``text.let_col``): referenced by the
    per-position lambda, an unbound ``split(regexp_replace(...))``
    would re-normalize the whole document once per shingle position —
    O(doc_len x positions) instead of linear (this was q46's entire
    overrun; fixing it here also fixes every shingle consumer:
    MinHash pair verification, decontamination, cross-doc dup)."""

    def sh(words: Column) -> Column:
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(words) - k + 1, F.lit(1))
        )
        return F.array_distinct(
            F.transform(idx, lambda s: F.array_join(F.slice(words, s, k), " "))
        )

    return let_col(F.split(normalize_text(col), " "), sh)


def shingles_arrow(col: Column, k: int = 5) -> Column:
    """Arrow-batched twin of :func:`shingles` — byte-identical output
    (guide §4.2).

    Normalization (lower/regex/trim — the locale- and regex-dialect-
    sensitive part) stays in the JVM via :func:`normalize_text`; Python
    only SLICES the normalized words and joins them with spaces, which
    is pure byte concatenation with identical semantics in both
    runtimes (``t.split(' ')`` == Spark ``split(t, ' ')`` incl. empty
    tokens, ``' '.join(words[i:i+k])`` == ``array_join(slice(...))``,
    ``dict.fromkeys`` == ``array_distinct`` incl. first-occurrence
    order). The interpreted per-shingle slice/array_join/array_distinct
    expression tree cost ~40 µs per document; the Python loop is ~2 µs
    — measured 3.2 s → sub-second for the sf1.0 shingle pass.
    """
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            words = t.split(" ")
            n = max(len(words) - k + 1, 1)
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(words[i : i + k]) for i in range(n)
                    )
                )
            )
        return pd.Series(out)

    return sh(normalize_text(col))


def _signature_array(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    k_shingle: int,
) -> DataFrame:
    """MinHash signatures in ARRAY form (_id, _s: array<long>) — what
    banding consumes.

    Shingling is heavy per-row string work, and Catalyst higher-order
    functions (split→transform(slice+array_join)→array_distinct)
    evaluate interpreted; one numpy pass per Arrow batch (md5 base
    hash + wrapping multiply-add seed family, both process-stable) was
    measured ~4× faster at sf0.1 than an explode + per-seed min
    aggregate in the JVM."""
    from pyspark.sql import types as T

    from .text import md5_head8_int64

    rng = np.random.default_rng(20260818)
    mult = rng.integers(1, 2**62, n_hashes, dtype=np.int64) * 2 + 1
    add = rng.integers(0, 2**62, n_hashes, dtype=np.int64)
    k = k_shingle

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        # collect every shingle of the batch, hash them in ONE
        # vectorized md5 pass (values bit-identical to the previous
        # per-shingle hashlib loop — see md5_head8_int64), then take
        # per-doc minima over slices. min() is order-free, so the
        # per-doc set-iteration order changing the slice layout
        # cannot change a signature.
        counts = []
        enc: list[bytes] = []
        for t in texts:
            words = (t or "").lower().split()
            n = max(len(words) - k + 1, 1)
            sh = {" ".join(words[i : i + k]) for i in range(n)}
            counts.append(len(sh))
            enc.extend(s.encode() for s in sh)
        hs_all = md5_head8_int64(enc)
        out = []
        pos = 0
        with np.errstate(over="ignore"):
            for m in counts:
                hs = hs_all[pos : pos + m]
                pos += m
                out.append(
                    (hs[:, None] * mult[None, :] + add[None, :]).min(axis=0)
                )
        return pd.Series(out)

    return _spread(df).select(
        F.col(id_col).alias("_id"), sig(F.col(text_col)).alias("_s")
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    k_shingle: int = 5,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket.

    rows per band (n_hashes/bands) are hashed together; two docs agreeing
    on all rows of any band collide. Output: (id_a, id_b) distinct,
    id_a < id_b.

    Banding runs on the signature ARRAY (one ``transform`` over band
    indices, each bucket = ``xxhash64(slice(_s, ...))``) rather than 64
    wide columns + 16 multi-column hashes: same collision semantics,
    ~16× less generated code — candidates measured 2.1-3.3 s → 1.6-1.9 s
    warm at sf0.1 and 26.5 s → 15.5 s on a cold JVM (JIT of the wide
    projection dominated q19's cold runs).
    """
    rows_per_band = n_hashes // bands
    # r6: the bucket self-join below references the signature pipeline
    # TWICE (left/right); without materialization both map stages of
    # the join recompute the Python signature UDF concurrently —
    # measured as ~2x the signature cost inside the candidate stage.
    # |docs| × n_hashes longs is the bounded signature table; eager
    # count() barriers the cache before the join stages race for it.
    with_sig = _signature_array(
        df, text_col, id_col, n_hashes, k_shingle
    ).persist()
    with_sig.count()

    bb = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.slice("_s", b * rows_per_band + 1, rows_per_band)).alias(
                "bucket"
            ),
        ),
    )
    buckets = with_sig.select("_id", F.explode(bb).alias("bb")).select(
        "_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # self-join within buckets; the groupBy+collect_list alternative
    # risks a giant bucket — an equi-join lets AQE split skewed buckets.
    left = buckets.alias("l")
    right = buckets.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs.

    Joins the (small) candidate set back to the corpus twice — the
    corpus side is first semi-joined down to candidate ids (broadcast of
    the tiny id set), so shingles are computed only for docs that appear
    in some pair, not the whole corpus.
    """
    cand_ids = F.broadcast(
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .join(cand_ids, "_id", "left_semi")
        .select("_id", shingles(F.col(text_col), k_shingle).alias("_sh"))
        # both join branches below consume this frame; without
        # materialization the corpus scan + shingle computation runs
        # twice. Bounded by |candidate ids| — small by construction.
        .persist()
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    k_shingle: int = 5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact Jaccard →
    threshold. Output: (id_a, id_b, jaccard).

    The candidate set is persisted AND eagerly materialized: jaccard
    consumes it twice — as a BROADCAST (candidate-id semi-join) and as
    the join spine. The broadcast exchange runs as a separate job on
    the driver's broadcast thread, so with a lazy persist the entire
    signature+banding pipeline is computed concurrently by that job and
    the main job (block-lock contention on the Python-UDF stage:
    measured 60 s cold vs 16 s phase-by-phase at sf0.1). One cheap
    count() here turns the persist into a barrier; everything
    downstream reads cache. The materialized set is tiny (pairs only)
    by construction.
    """
    cands = minhash_candidates(
        df, text_col, id_col, n_hashes, bands, k_shingle
    ).persist()
    cands.count()
    return jaccard_pairs(df, cands, text_col, id_col, k_shingle).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc via a vectorized pandas UDF.

    Bit math over per-word hashes doesn't decompose into built-in SQL
    functions; Arrow batches keep the Python cost to one call per ~10k
    rows. Output: (id, simhash:long).
    """
    from pyspark.sql import types as T

    import hashlib

    def _stable_hash(w: str) -> int:
        # process-independent 60-bit hash (python's builtin hash() is
        # salted per-process and would break determinism across runs)
        return int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "little") & 0xFFFFFFFFFFFFFFF

    @F.pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        # batch-vectorized: hash every word of the whole Arrow batch
        # (memoized per batch), then one reduceat over the ±1 bit matrix
        # — per-doc Python loops were ~5ms/doc, this is ~100x less
        word_lists = [t.lower().split() if t else [] for t in texts]
        lengths = np.array([len(w) for w in word_lists], dtype=np.int64)
        if lengths.sum() == 0:
            return pd.Series(np.zeros(len(texts), dtype=np.int64))
        cache: dict[str, int] = {}
        flat = np.fromiter(
            (
                cache.get(w) or cache.setdefault(w, _stable_hash(w))
                for words in word_lists
                for w in words
            ),
            dtype=np.int64,
            count=int(lengths.sum()),
        )
        # bit k of each word hash via unpackbits on the little-endian
        # byte view — C-speed; the broadcasted shift matrix costs ~10s
        # per 300k words, this costs ~0.1s
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        offsets = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        # trailing empty docs would push offsets past the end — clip,
        # then zero empty segments below
        offsets = np.minimum(offsets, len(flat) - 1)
        ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
        ones[lengths == 0] = 0  # reduceat repeats rows for empty segments
        # majority rule: bit set iff ones > zeros (same as sign of the
        # ±1 sum in the classic formulation)
        major = (2 * ones > lengths[:, None])[:, :60]
        sig = (major.astype(np.int64) << np.arange(60)).sum(axis=1)
        return pd.Series(sig)

    return _spread(df).select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col)).alias("simhash")
    )


def simhash_candidates(
    sigs: DataFrame,
    n_chunks: int = 4,
    chunk_bits: int = 15,
    max_hamming: Optional[int] = None,
) -> DataFrame:
    """Candidate pairs with hamming distance ≤ n_chunks-1 (pigeonhole:
    some chunk must match exactly). One shuffle on (chunk, value).

    When ``max_hamming`` is given the hamming predicate is part of the
    JOIN condition, not a post-filter: hot buckets (template-heavy
    corpora cluster simhashes — measured 324k+ candidate pairs from
    5k docs at sf0.1) then prune during the join probe instead of
    shuffling every within-bucket pair through the dedup ``distinct``
    (21 s → sub-second on that fixture)."""
    chunks = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias("val"),
        )
        for c in range(n_chunks)
    ]
    b = sigs.select("_id", "simhash", F.explode(F.array(*chunks)).alias("cc")).select(
        "_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val")
    )
    l, r = b.alias("l"), b.alias("r")
    cond = (
        (F.col("l.chunk") == F.col("r.chunk"))
        & (F.col("l.val") == F.col("r.val"))
        & (F.col("l._id") < F.col("r._id"))
    )
    if max_hamming is not None:
        cond = cond & (
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
            <= max_hamming
        )
    pairs = (
        l.join(r, cond)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pipeline: signatures → chunk-bucket candidates →
    hamming filter. Output (id_a, id_b, hamming).

    Signatures persist: the candidate search self-joins the signature
    frame, which would otherwise run the UDF twice. One long per doc —
    negligible memory at any scale worth running this on."""
    sigs = simhash_signatures(df, text_col, id_col).persist()
    return simhash_candidates(sigs, max_hamming=max_hamming).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# cross-document shingle duplication (exact substring-level dup measure)
# ---------------------------------------------------------------------------


def cross_doc_shingle_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Per-document duplicated-text fraction at word-``k``-shingle
    granularity: for each doc, the fraction of its DISTINCT shingles
    that also occur in at least one OTHER document. The exact
    substring-level analog of MinHash near-dup — the signal CCNet/
    RefinedWeb-style pipelines use to drop boilerplate-heavy pages
    (no reference analog: check-datapackage stops at descriptor
    checks).

    Output: (doc_id, n_shingles, n_shared, shared_frac).

    Plan (100 TB shape, r6): ONE heavy exchange instead of the former
    two-exchanges-plus-join (guide §2.3/§2.4). Because the per-doc
    shingle array is distinct, a gram is "shared" iff its document
    frequency > 1, so ``n_shared(doc) = n_shingles(doc) − |grams unique
    to doc|`` — and a gram with df == 1 identifies its sole owner as
    ``min(doc_id)``. The exploded gram stream is aggregated ONCE
    (groupBy(g): count + min(doc), map-side combinable); grams with
    df == 1 re-aggregate to per-doc unique counts (|distinct grams|
    rows in, ≤ |docs| rows out); ``n_shingles`` is computed map-side as
    ``size(shingles(text))`` — no second explode, no join carrying the
    gram strings. The shingle arrays are persisted so the two consumers
    (map-side sizes, exploded agg) compute them once.
    """
    arr = _spread(df).select(
        F.col(id_col), shingles_arrow(F.col(text_col), k).alias("_sh")
    ).persist()
    base = arr.where(F.size("_sh") >= 1).select(
        F.col(id_col), F.size("_sh").cast("long").alias("n_shingles")
    )
    sh = arr.select(F.col(id_col), F.explode("_sh").alias("g"))
    gstats = sh.groupBy("g").agg(
        F.count(F.lit(1)).alias("_ndocs"), F.min(id_col).alias("_d0")
    )
    uniq = (
        gstats.where(F.col("_ndocs") == 1)
        .groupBy("_d0")
        .agg(F.count(F.lit(1)).alias("_nuniq"))
        .withColumnRenamed("_d0", id_col)
    )
    shared = F.col("n_shingles") - F.coalesce(F.col("_nuniq"), F.lit(0).cast("long"))
    return base.join(uniq, id_col, "left").select(
        F.col(id_col),
        "n_shingles",
        shared.alias("n_shared"),
        F.round(shared / F.col("n_shingles").cast("double"), 6).alias(
            "shared_frac"
        ),
    )


def _source_overlap_matrix_sets(
    df: DataFrame, text_col: str, group_col: str, k: int
) -> DataFrame:
    """>60-source fallback for :func:`source_overlap_matrix`: one
    distinct (source, gram) pass, persisted, then a gram-keyed
    self-join bounded at |sources|² rows per gram."""
    sg = (
        df.select(
            F.col(group_col).alias("src"),
            F.explode(shingles(F.col(text_col), k)).alias("g"),
        )
        .groupBy("src", "g")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
        .persist()
    )
    sizes = sg.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = sg.select(F.col("src").alias("src_a"), "g")
    b = sg.select(F.col("src").alias("src_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(
                sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("n_a", "n_b").cast("double"), 6
            ).alias("overlap"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 5,
) -> DataFrame:
    """Pairwise shingle-overlap matrix between sources — the
    train/test-leakage / cross-source-contamination report: for every
    unordered source pair, how many distinct word-``k``-shingles they
    share, as a fraction of the smaller source's shingle vocabulary
    (containment — robust when source sizes are lopsided).

    Output: (src_a, src_b, n_a, n_b, n_shared, overlap) with
    src_a < src_b.

    Plan (100 TB shape, r6): ONE heavy exchange (guide §2.3/§2.4).
    The source universe is bounded and small (driver-collected once),
    so each gram's source SET is a fixed-width int64 BITMASK:
    ``groupBy(gram).agg(bit_or(1 << src_index))`` is a pure codegen
    hash aggregate with map-side combine — no collect_set (whose
    object-agg falls back to sort-based past 128 hash entries and
    sorted the whole gram stream — measured SLOWER than the join it
    replaced), no gram-keyed self-join, no recomputation of the
    shingle pass. The per-mask gram counts (≤ |distinct masks| rows)
    then yield both the pair counts and the per-source vocabulary
    sizes from literal bit tests. Falls back to a sorted collect_set
    plan beyond 60 sources.
    """
    # scale-adaptive (guide §1.2): the bitmask plan adds a sources
    # collect + an eager materialization — jobs whose fixed cost
    # outweighs the win on small corpora (measured +2 s at 5 k docs,
    # −6 s at 50 k); small inputs take the single persisted
    # distinct-pass plan instead. Both branches are exact.
    if df.limit(_SMALL_CORPUS + 1).count() <= _SMALL_CORPUS:
        return _source_overlap_matrix_sets(df, text_col, group_col, k)
    srcs = sorted(
        r[0] for r in df.select(group_col).distinct().collect() if r[0] is not None
    )
    if len(srcs) > 60:
        return _source_overlap_matrix_sets(df, text_col, group_col, k)
    bit = F.coalesce(
        *[
            F.when(F.col("src") == s, F.lit(1 << i).cast("long"))
            for i, s in enumerate(srcs)
        ]
    )
    sg = _spread(df).select(
        F.col(group_col).alias("src"),
        F.explode(shingles_arrow(F.col(text_col), k)).alias("g"),
    ).select(bit.alias("_b"), "g")
    mstats = (
        sg.groupBy("g")
        .agg(F.bit_or("_b").alias("_m"))
        .groupBy("_m")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .persist()
    )
    # eager materialization: the final plan broadcasts `sizes` twice;
    # lazy, both broadcast jobs would race to compute the heavy
    # upstream concurrently (block-lock contention — see
    # minhash_near_dups)
    mstats.count()
    pair_lits = F.array(
        *[
            F.struct(
                F.lit(sa).alias("src_a"),
                F.lit(sb).alias("src_b"),
                F.lit((1 << i) | (1 << j)).cast("long").alias("_bits"),
            )
            for i, sa in enumerate(srcs)
            for j, sb in enumerate(srcs)
            if i < j
        ]
    ) if len(srcs) >= 2 else None
    if pair_lits is None:
        st = df.select(group_col).schema[0].dataType.simpleString()
        shared = df.sparkSession.createDataFrame(
            [], f"src_a {st}, src_b {st}, n_shared bigint"
        )
    else:
        shared = (
            mstats.select(
                "_cnt",
                F.explode(
                    F.filter(
                        pair_lits,
                        lambda p: p["_bits"].bitwiseAND(F.col("_m")) == p["_bits"],
                    )
                ).alias("_p"),
            )
            .groupBy("_p.src_a", "_p.src_b")
            .agg(F.sum("_cnt").alias("n_shared"))
        )
    src_lits = F.array(
        *[
            F.struct(F.lit(s).alias("src"), F.lit(1 << i).cast("long").alias("_bit"))
            for i, s in enumerate(srcs)
        ]
    )
    sizes = (
        mstats.select(
            "_cnt",
            F.explode(
                F.filter(
                    src_lits,
                    lambda p: p["_bit"].bitwiseAND(F.col("_m")) == p["_bit"],
                )
            ).alias("_p"),
        )
        .groupBy("_p.src")
        .agg(F.sum("_cnt").alias("n"))
        .select(F.col("src"), "n")
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap"),
        )
    )
