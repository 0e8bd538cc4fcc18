"""Text analysis + dedup + similarity operator tests on the documents /
embeddings testdata tables."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from check_datapackage_spark.operators import decontam, dedup, similarity, text
from tests.conftest import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").cache()


# --- text ------------------------------------------------------------------


def test_detect_lang_arrow_markers(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in the house",),
            ("der Hund und die Katze ist nicht da",),
            ("le chat et les chiens dans la maison",),
            ("xyzzy plugh qwert",),
        ],
        ["t"],
    )
    got = [r[0] for r in df.select(text.detect_lang_arrow(F.col("t"))).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_n_chars_invariant_against_duckdb(spark, docs, sf_dir):
    """documents.n_chars == length(text) — the per-row invariant analog."""
    con = duckdb.connect()
    exp = con.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet' WHERE length(text) <> n_chars"
    ).fetchone()[0]
    got = docs.where(F.length("text") != F.col("n_chars")).count()
    assert got == exp


def test_fingerprint_md5_matches_duckdb(spark, docs, sf_dir):
    got = {
        r["doc_id"]: r["fp"]
        for r in docs.limit(50)
        .select("doc_id", text.fingerprint_md5(F.col("text")).alias("fp"))
        .collect()
    }
    con = duckdb.connect()
    exp = dict(
        con.sql(
            f"""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                FROM '{sf_dir}/documents.parquet' LIMIT 50"""
        ).fetchall()
    )
    for k, v in got.items():
        assert exp[k] == v


# --- dedup -----------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Inject exact + near duplicates deterministically."""
    base = docs.limit(200)
    exact = base.limit(5).withColumn("doc_id", F.col("doc_id") + 1000000)
    near = (
        base.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 2000000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail words here")))
    )
    return base.unionByName(exact).unionByName(near).cache()


def test_exact_dup_groups(spark, docs_with_dups):
    groups = dedup.exact_dup_groups(docs_with_dups).collect()
    dup_ids = {i for g in groups for i in g["doc_ids"]}
    assert sum(g["n_dups"] for g in groups) >= 10
    assert any(i >= 1000000 for i in dup_ids)


def test_exact_dedup_keeps_one_per_group(spark, docs_with_dups):
    before = docs_with_dups.count()
    after = dedup.exact_dedup(docs_with_dups).count()
    groups = dedup.exact_dup_groups(docs_with_dups).collect()
    removed = sum(g["n_dups"] - 1 for g in groups)
    assert after == before - removed


def test_minhash_finds_near_dups(spark, docs_with_dups):
    pairs = dedup.minhash_near_dups(
        docs_with_dups, threshold=0.5, n_hashes=32, bands=16
    ).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    # each near-dup (orig_id + 2000000) should pair with its original
    near_pairs = {
        (a, b)
        for (a, b) in found
        if b - a == 2000000 or b - a == 1000000
    }
    assert len(near_pairs) >= 8, found
    # jaccard sanity
    assert all(0.0 <= p["jaccard"] <= 1.0 for p in pairs)


def test_simhash_near_dups(spark, docs_with_dups):
    pairs = dedup.simhash_near_dups(docs_with_dups, max_hamming=6).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    # the 5 planted exact dups must appear (hamming 0)
    base_ids = [r["doc_id"] for r in docs_with_dups.orderBy("doc_id").limit(5).collect()]
    planted = {(a, a + 1000000) for a in base_ids}
    assert planted <= found, (planted, found)
    zero = {(p["id_a"], p["id_b"]) for p in pairs if p["hamming"] == 0}
    assert planted <= zero
    assert all(p["hamming"] <= 6 for p in pairs)


# --- similarity ------------------------------------------------------------


def test_brute_force_topk_self_similarity(spark, emb):
    corpus = emb.limit(500)
    queries = corpus.limit(3)
    res = similarity.brute_force_topk(corpus, queries, k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 3
    for q, rows in by_q.items():
        assert len(rows) == 5
        assert all(-1.0001 <= r["score"] <= 1.0001 for r in rows)
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]


def test_quantized_topk_deterministic(spark, emb):
    corpus = emb.limit(300)
    queries = corpus.limit(2)
    a = similarity.quantized_topk(corpus, queries, k=3).collect()
    b = similarity.quantized_topk(corpus, queries, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_topk_finds_planted_neighbors(spark, emb):
    """LSH's contract: HIGH-similarity pairs collide with near-certainty.
    Queries are tiny perturbations of corpus vectors (cos ≈ 0.9999) —
    every query's true nearest neighbor must be in the LSH top-k."""
    dim = len(emb.select("embedding").first()[0])
    corpus = emb.limit(400).cache()
    queries = corpus.limit(3).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(0.001)
        ).alias("embedding"),
        "label",
    )
    approx = similarity.lsh_topk(
        corpus, queries, dim=dim, k=5, n_planes=8, n_tables=8
    ).collect()
    got = {(r["query_id"], r["vec_id"]) for r in approx}
    planted = {(q + 5000, q) for q in [0, 1, 2]}
    assert planted <= got, (planted, got)
    # planted neighbor should rank first among candidates
    top1 = {(r["query_id"], r["vec_id"]) for r in approx if r["rank"] == 1}
    assert planted == top1


def test_cosine_near_dups_finds_planted(spark, emb):
    base = emb.limit(200)
    dup = base.limit(4).withColumn("vec_id", F.col("vec_id") + 900000)
    dim = len(emb.select("embedding").first()[0])
    res = similarity.cosine_near_dups(
        base.unionByName(dup), dim=dim, threshold=0.999
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in res}
    planted = {(a, a + 900000) for a in [r["vec_id"] for r in base.limit(4).collect()]}
    assert planted <= found, (planted, found)


def test_exact_cosine_pairs_ground_truth(spark, emb):
    """exact_cosine_pairs finds planted near-identical pairs and its
    integer membership test matches the float cosine."""
    base = emb.limit(100)
    dup = base.limit(4).withColumn("vec_id", F.col("vec_id") + 900000)
    res = similarity.exact_cosine_pairs(
        base.unionByName(dup), threshold_num=2, threshold_den=5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in res}
    planted = {
        (a, a + 900000) for a in [r["vec_id"] for r in base.limit(4).collect()]
    }
    assert planted <= found
    # planted exact copies score 1.0
    scores = {(r["id_a"], r["id_b"]): r["score"] for r in res}
    assert all(scores[p] == 1.0 for p in planted)


def test_ivf_trained_centroids_beat_random_recall(spark, emb):
    """Sampled-k-means centroids must not lose recall vs the random
    fallback at equal n_probe (the reason train_ivf_centroids exists)."""
    corpus = emb.limit(400).cache()
    queries = corpus.limit(5)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(corpus, queries, k=5).collect()
    }

    def recall(train):
        got = {
            (r["query_id"], r["vec_id"])
            for r in similarity.ivf_topk(
                corpus, queries, dim=64, k=5, n_cells=16, n_probe=4,
                train=train,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_rand, r_trained = recall(False), recall(True)
    assert r_trained >= r_rand - 0.05, (r_rand, r_trained)
    assert r_trained >= 0.5, r_trained


def test_train_ivf_centroids_shape_and_determinism(spark, emb):
    c1 = similarity.train_ivf_centroids(emb.limit(200), dim=64, n_cells=8)
    c2 = similarity.train_ivf_centroids(emb.limit(200), dim=64, n_cells=8)
    assert c1.shape == (64, 8)
    import numpy as np

    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=0), 1.0)


# --- cross-doc shingle dup / vocab stats / hashed quality (round 4) --------


def test_cross_doc_shingle_dup_planted(spark):
    df = spark.createDataFrame(
        [
            # docs 1 and 2 share the verbatim run "a b c d e f"
            (1, "a b c d e f unique one tail words here now"),
            (2, "prefix bit a b c d e f other suffix words"),
            (3, "completely different text with no shared runs at all ok"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.cross_doc_shingle_dup(df, k=5).collect()
    }
    # "a b c d e" and "b c d e f" are the shared 5-shingles
    assert out[1]["n_shared"] == 2 and out[2]["n_shared"] == 2
    assert out[3]["n_shared"] == 0
    for r in out.values():
        assert 0.0 <= r["shared_frac"] <= 1.0
        assert r["n_shingles"] >= r["n_shared"]


def test_cross_doc_shingle_dup_self_dup_not_counted(spark):
    # repeats WITHIN one doc must not count as cross-doc sharing
    df = spark.createDataFrame(
        [(1, "x y z w v x y z w v x y z w v"), (2, "totally other words here five")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.cross_doc_shingle_dup(df, k=5).collect()}
    assert out[1]["n_shared"] == 0


def test_vocab_stats_exact(spark):
    df = spark.createDataFrame(
        [("s1", "a a b"), ("s1", "b c"), ("s2", "z z z")],
        ["source", "text"],
    )
    out = {r["source"]: r for r in text.vocab_stats(df).collect()}
    assert out["s1"]["n_words"] == 5
    assert out["s1"]["n_distinct"] == 3
    assert out["s1"]["n_hapax"] == 1  # only "c"; a=2, b=2
    assert out["s2"]["n_distinct"] == 1 and out["s2"]["n_hapax"] == 0
    assert abs(out["s1"]["ttr"] - 0.6) < 1e-9


def test_quality_filter_rates_shape(spark, docs):
    out = text.quality_filter_rates(docs).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_keep"] <= r["n_docs"]
        assert 0.0 <= r["keep_rate"] <= 1.0


def test_bigram_stats_hand(spark):
    """bigram_stats: hand-computed pair counts + deterministic
    tie-break (cnt DESC, pair DESC)."""
    from check_datapackage_spark.operators.text import bigram_stats

    rows = [
        ("A", "a b a b a"),   # pairs: a b, b a, a b, b a
        ("A", "x"),           # single word → no pairs
        ("B", "q q  q"),      # normalize squashes: q q, q q
        ("B", ""),            # empty → no pairs
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in bigram_stats(df, "text", "source").collect()}
    # A: 'a b' x2, 'b a' x2 → tie broken by pair DESC → 'b a'
    assert out["A"]["top_bigram"] == "b a" and out["A"]["top_cnt"] == 2
    assert out["A"]["n_bigrams"] == 4 and out["A"]["n_distinct_bigrams"] == 2
    assert out["B"]["top_bigram"] == "q q" and out["B"]["top_cnt"] == 2
    assert out["B"]["n_bigrams"] == 2 and out["B"]["n_distinct_bigrams"] == 1


def test_md5_head8_int64_matches_hashlib():
    """The vectorized single-block MD5 behind minhash signatures must be
    bit-identical to hashlib on every length, including the 55/56-byte
    single-vs-multi-block boundary and empty input."""
    import hashlib

    import numpy as np

    rng = np.random.default_rng(11)
    msgs = [
        bytes(rng.integers(0, 256, int(n), dtype=np.uint8))
        for n in rng.integers(0, 120, 2000)
    ]
    msgs += [b"", b"a" * 54, b"a" * 55, b"a" * 56, b"a" * 64, b"a" * 119]
    want = [
        int.from_bytes(hashlib.md5(m).digest()[:8], "little", signed=True)
        for m in msgs
    ]
    got = text.md5_head8_int64(msgs)
    assert list(got) == want


def test_md5_head8_int64_big_endian_fallback(monkeypatch):
    """On a big-endian host every message takes the hashlib path (the
    vectorized rounds read words in native byte order); forced here by
    faking the host byte order."""
    import hashlib
    import sys

    msgs = [b"", b"abc", b"a" * 55, b"a" * 56, "shingle é".encode()]
    want = [
        int.from_bytes(hashlib.md5(m).digest()[:8], "little", signed=True)
        for m in msgs
    ]
    monkeypatch.setattr(sys, "byteorder", "big")
    monkeypatch.setattr(text, "_MD5_K", None)  # the rounds must not run
    assert list(text.md5_head8_int64(msgs)) == want


# --- size gates (dedup._SMALL_CORPUS) ---------------------------------------


def _gate_corpus(spark):
    """40 docs over a 6-word vocabulary, 3 sources: short n-grams repeat
    across docs and sources, so every operator below has rows."""
    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [
        (i, f"s{i % 3}", " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 20))))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


_GATED = {
    "contaminated_docs": lambda df: decontam.contaminated_docs(
        df, df.where(F.col("doc_id") < 5), n=3
    ),
    "tfidf_top_terms": lambda df: text.tfidf_top_terms(df, k=2),
    "source_overlap_matrix": lambda df: dedup.source_overlap_matrix(df, k=2),
}


@pytest.mark.parametrize("op", sorted(_GATED))
def test_size_gate_sides_agree(spark, monkeypatch, op):
    """Both sides of the 16,384-row gate, each at 1 and 4 input
    partitions, return the same rows; ``_SMALL_CORPUS = 0`` sends the
    fixture down the large-corpus plan."""
    corpus = _gate_corpus(spark)
    runs = []
    for threshold in (dedup._SMALL_CORPUS, 0):
        monkeypatch.setattr(dedup, "_SMALL_CORPUS", threshold)
        for n_parts in (1, 4):
            rows = _GATED[op](corpus.repartition(n_parts)).collect()
            runs.append(sorted(tuple(r) for r in rows))
    assert runs[0]
    assert all(r == runs[0] for r in runs[1:])
