"""Text analysis operators for training-data pipelines (SURVEY §2.8 /
task brief): token counting, quality scoring, language ID, document
fingerprinting.

Token counts, language ID, quality scores and the hashed quality
filter run in Arrow UDFs whose results equal their DuckDB oracle
queries bit for bit (q10, q11, q12, q48); normalization, fingerprints
and the corpus statistics are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) with exact DuckDB equivalents (md5, regexp,
length arithmetic).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID. Deliberately small + deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "un", "por", "con"],
}

#: Java regex ``\s`` (no UNICODE_CHARACTER_CLASS) is the ASCII set.
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def token_counts_arrow(col: Column) -> Column:
    """Both q10 token counts in one Arrow pass: ``struct(ws, re)``,
    NULL fields for a NULL text.

    ``ws`` counts whitespace-separated words and ``re`` counts matches
    of ``[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]`` (leftmost-first
    alternation), both with Java's ASCII ``\\s``. q10's DuckDB oracle
    computes the same two numbers: ``LENGTH(s) - LENGTH(REPLACE(s, ' ',
    '')) + 1`` over ``s = TRIM(regexp_replace(text, '\\s+', ' '))``
    (0 when ``s`` is empty), and ``LEN(regexp_extract_all(text,
    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))``."""
    import re

    from pyspark.sql import types as T

    ws = re.compile(_JAVA_WS)
    tok = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]")

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("ws", T.LongType()),
                T.StructField("re", T.LongType()),
            ]
        )
    )
    def cnt(texts):
        import pandas as pd

        out_ws, out_re = [], []
        for t in texts:
            if t is None:
                out_ws.append(None)
                out_re.append(None)
                continue
            out_ws.append(sum(1 for w in ws.split(t) if w != ""))
            out_re.append(sum(1 for _ in tok.finditer(t)))
        return pd.DataFrame({"ws": out_ws, "re": out_re})

    return cnt(col)


def md5_tokens_arrow(col: Column, vocab: int) -> Column:
    """Arrow twin of the shared md5 word tokenizer
    (``transform(words, conv(substring(md5(w),1,8),16,10) % vocab)``
    over Java-``\\s``-split lowered text) — identical ids: the caller
    passes the ALREADY-LOWERED text (JVM ``lower``), Python splits on
    Java's ASCII ``\\s`` class and hashes UTF-8 bytes, and the first 8
    md5 hex chars equal the first 4 digest bytes big-endian."""
    import hashlib
    import re

    from pyspark.sql import types as T

    ws = re.compile(_JAVA_WS)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def toks(texts):
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(
                [
                    int.from_bytes(
                        hashlib.md5(w.encode()).digest()[:4], "big"
                    )
                    % vocab
                    for w in ws.split(t)
                    if w != ""
                ]
            )
        return pd.Series(out)

    return toks(col)


def detect_lang_arrow(col: Column, default: str = "und") -> Column:
    """Stopword-marker language ID: per language of
    :data:`LANG_MARKERS`, count the word-bounded marker hits in the
    lowercased text; the language with the most hits wins, ties go to
    the earlier language, and no hit (or a NULL text) gives
    ``default``.

    q11's DuckDB oracle is the same rule: ``LEN(regexp_extract_all(
    LOWER(text), '\\b(the|and|...)\\b'))`` per language, then a CASE
    over ``GREATEST`` in marker order. Hits are counted with Python
    ``re`` under ``re.ASCII`` (Java's and DuckDB's ``\\b`` are ASCII);
    lowercasing stays JVM-side (the locale-sensitive part)."""
    import re

    from pyspark.sql import types as T

    pats = [
        (lang, re.compile(r"\b(" + "|".join(words) + r")\b", re.ASCII))
        for lang, words in LANG_MARKERS.items()
    ]

    @F.pandas_udf(T.StringType())
    def pick(texts):
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(default)
                continue
            scores = [
                (lang, sum(1 for _ in p.finditer(t))) for lang, p in pats
            ]
            best = max(s for _, s in scores)
            out.append(
                next(
                    (lang for lang, s in scores if s > 0 and s == best),
                    default,
                )
            )
        return pd.Series(out)

    return pick(F.lower(col))


def quality_score_arrow(col: Column, n_chars: Column) -> Column:
    """Heuristic document quality in [0, 1]: the mean of three
    signals, rounded to 6 decimals HALF_UP; NULL when ``col`` or
    ``n_chars`` is NULL.

    * length: 1 for ``n_chars`` in [200, 20000], ``n/200`` below,
      ``20000/n`` above;
    * punctuation: the share ``p`` of characters outside
      ``[A-Za-z0-9\\s]``; 1 up to 0.1, then ``max(0, 1 - (p-0.1)*5)``;
    * stopwords: English marker hits per whitespace word, times 5,
      capped at 1 (0 for a text with no words).

    This is the score q12's DuckDB oracle computes. The integer
    signals (Java-ASCII ``\\s`` word count, ASCII-``\\b`` stopword
    hits, and lengths in UTF-16 code units, so a supplementary code
    point counts 2) feed the same IEEE arithmetic as the SQL, and the
    final round is HALF_UP on the shortest decimal repr
    (``Decimal(repr(x))``), as Spark's ``ROUND`` on a double."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import types as T

    ws = re.compile(_JAVA_WS)
    keep = re.compile(r"[A-Za-z0-9 \t\n\x0b\f\r]")
    sw_pat = re.compile(
        r"\b(" + "|".join(LANG_MARKERS["en"]) + r")\b", re.ASCII
    )
    q6 = Decimal("0.000001")

    @F.pandas_udf(T.DoubleType())
    def score(texts, ns):
        import pandas as pd

        out = []
        for t, n in zip(texts, ns):
            if t is None or pd.isna(n):
                out.append(None)
                continue
            toks = sum(1 for w in ws.split(t) if w != "")
            # Java length() counts UTF-16 code units; the char class
            # only matches BMP chars, so each kept supplementary char
            # contributes 2 to the replaced string's length
            nlen = 0
            punct = 0
            for ch in t:
                u = 2 if ord(ch) > 0xFFFF else 1
                nlen += u
                if not keep.match(ch):
                    punct += u
            sw = sum(1 for _ in sw_pat.finditer(t.lower()))
            nf = float(n)
            if 200 <= nf <= 20000:
                len_ok = 1.0
            elif nf < 200:
                len_ok = nf / 200.0
            else:
                len_ok = 20000.0 / nf
            p = 0.0 if nlen == 0 else punct / nlen
            punct_ok = 1.0 if p <= 0.1 else max(0.0, 1.0 - (p - 0.1) * 5.0)
            d = 0.0 if toks == 0 else sw / toks
            sw_ok = min(1.0, d * 5.0)
            raw = (len_ok + punct_ok + sw_ok) / 3.0
            # Spark ROUND(double) goes through BigDecimal.valueOf ==
            # Double.toString == shortest round-trip repr; Decimal(repr)
            # replays that exactly (Decimal(float) would use the full
            # binary expansion and can round differently at ties)
            out.append(
                float(Decimal(repr(raw)).quantize(q6, rounding=ROUND_HALF_UP))
            )
        return pd.Series(out, dtype="float64")

    return score(col, n_chars)


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, squash whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def let_col(value, body) -> Column:
    """Let-binding inside one Column expression:
    ``transform(array(value), v -> body(v))[0]``.

    Why it exists: a higher-order-function lambda re-evaluates every
    NON-bound subexpression of its body once PER ELEMENT — e.g.
    ``transform(seq, s -> slice(words, s, k))`` with
    ``words = split(regexp_replace(...))`` re-normalizes and re-splits
    the whole document for every shingle position, turning a linear
    pass into O(doc_len x positions) (measured: q46 spent ~10x its
    budget there). Binding ``words`` as a lambda VARIABLE makes every
    reference a cheap slot read; the array constructor evaluates the
    value exactly once per row. Works anywhere a Column works — no
    intermediate projection, so no CollapseProject re-inlining hazard
    and callers' single-expression shape is preserved.
    """
    return F.transform(F.array(value), body)[0]


#: per-length MD5 pad suffix for single-block messages (len <= 55):
#: 0x80 terminator, zero fill to byte 56, 8-byte little-endian bit length
_MD5_SUF = None


def md5_head8_int64(msgs) -> "np.ndarray":  # noqa: F821
    """``int.from_bytes(md5(m).digest()[:8], "little", signed=True)``
    for a list of byte strings — numpy-vectorized.

    Messages <= 55 bytes (every k-word shingle in practice) are a
    single MD5 block: the whole batch is padded via a per-length
    suffix table, packed into one (n, 16) uint32 matrix, and run
    through the 64 MD5 rounds as elementwise uint32 ops — bit-identical
    to hashlib by construction (same algorithm), ~5x less Python
    overhead than one ``hashlib.md5`` call per shingle (measured: a
    10k-doc batch's signature pass spent 0.63 s of 1.11 s in hashlib
    calls). Longer messages fall back to hashlib, so values never
    depend on the path taken. So does every message on a big-endian
    host: the uint32 view of the padded blocks and the int64 view of
    the digest heads read words in native byte order."""
    import hashlib
    import struct
    import sys

    import numpy as np

    global _MD5_SUF
    if _MD5_SUF is None:
        _MD5_SUF = [
            b"\x80" + b"\0" * (55 - L) + struct.pack("<Q", L * 8)
            for L in range(56)
        ]
    n = len(msgs)
    out = np.empty(n, dtype=np.int64)
    if sys.byteorder == "little":
        big = [i for i, m in enumerate(msgs) if len(m) > 55]
    else:
        big = list(range(n))
    if len(big) < n:
        if big:
            bigset = set(big)
            small_msgs = [m for i, m in enumerate(msgs) if i not in bigset]
            small_idx = np.array(
                [i for i in range(n) if i not in bigset], dtype=np.int64
            )
        else:
            small_msgs = msgs
            small_idx = None
        padded = b"".join(m + _MD5_SUF[len(m)] for m in small_msgs)
        M = np.frombuffer(padded, dtype=np.uint8).reshape(-1, 64).view(np.uint32)
        ns = M.shape[0]
        A = np.full(ns, 0x67452301, dtype=np.uint32)
        B = np.full(ns, 0xEFCDAB89, dtype=np.uint32)
        C = np.full(ns, 0x98BADCFE, dtype=np.uint32)
        D = np.full(ns, 0x10325476, dtype=np.uint32)
        for i in range(64):
            if i < 16:
                f = (B & C) | (~B & D)
                g = i
            elif i < 32:
                f = (D & B) | (~D & C)
                g = (5 * i + 1) % 16
            elif i < 48:
                f = B ^ C ^ D
                g = (3 * i + 5) % 16
            else:
                f = C ^ (B | ~D)
                g = (7 * i) % 16
            tmp = A + f + np.uint32(_MD5_K[i]) + M[:, g]
            s = _MD5_S[i]
            rot = (tmp << np.uint32(s)) | (tmp >> np.uint32(32 - s))
            A, D, C, B = D, C, B, B + rot
        a = (A + np.uint32(0x67452301)).astype(np.uint64)
        b = (B + np.uint32(0xEFCDAB89)).astype(np.uint64)
        head = (a | (b << np.uint64(32))).view(np.int64)
        if small_idx is None:
            out[:] = head
        else:
            out[small_idx] = head
    for i in big:
        out[i] = int.from_bytes(
            hashlib.md5(msgs[i]).digest()[:8], "little", signed=True
        )
    return out


#: RFC 1321 round constants / shift amounts
_MD5_K = [
    0xD76AA478, 0xE8C7B756, 0x242070DB, 0xC1BDCEEE, 0xF57C0FAF, 0x4787C62A,
    0xA8304613, 0xFD469501, 0x698098D8, 0x8B44F7AF, 0xFFFF5BB1, 0x895CD7BE,
    0x6B901122, 0xFD987193, 0xA679438E, 0x49B40821, 0xF61E2562, 0xC040B340,
    0x265E5A51, 0xE9B6C7AA, 0xD62F105D, 0x02441453, 0xD8A1E681, 0xE7D3FBC8,
    0x21E1CDE6, 0xC33707D6, 0xF4D50D87, 0x455A14ED, 0xA9E3E905, 0xFCEFA3F8,
    0x676F02D9, 0x8D2A4C8A, 0xFFFA3942, 0x8771F681, 0x6D9D6122, 0xFDE5380C,
    0xA4BEEA44, 0x4BDECFA9, 0xF6BB4B60, 0xBEBFBC70, 0x289B7EC6, 0xEAA127FA,
    0xD4EF3085, 0x04881D05, 0xD9D4D039, 0xE6DB99E5, 0x1FA27CF8, 0xC4AC5665,
    0xF4292244, 0x432AFF97, 0xAB9423A7, 0xFC93A039, 0x655B59C3, 0x8F0CCC92,
    0xFFEFF47D, 0x85845DD1, 0x6FA87E4F, 0xFE2CE6E0, 0xA3014314, 0x4E0811A1,
    0xF7537E82, 0xBD3AF235, 0x2AD7D2BB, 0xEB86D391,
]
_MD5_S = (
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint over the normalized text (md5 — portable to
    any SQL engine for oracle checks)."""
    return F.md5(normalize_text(col))


# ---------------------------------------------------------------------------
# corpus vocabulary statistics (Heaps/Zipf health signals)
# ---------------------------------------------------------------------------


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Per-group vocabulary statistics over the normalized word stream:
    total words, exact distinct words, hapax count (words occurring
    exactly once) and type-token ratio — the Heaps-law health signals a
    corpus-drift dashboard tracks (a source whose TTR collapses is
    emitting templated spam; one whose hapax share explodes is emitting
    OCR noise).

    Output: (source, n_words, n_distinct, n_hapax, ttr).

    Plan (100 TB shape): words explode map-side; the only wide shuffle
    is groupBy(group, word) with map-side partial aggregation — the
    canonical word-count shape, linear in corpus size, AQE-coalesced.
    The second groupBy(group) runs over the already-aggregated
    vocabulary (distinct words per group), orders of magnitude smaller.
    Exact distinct via this two-level aggregate, NOT count_distinct on
    the raw stream — same single shuffle, but hapax needs per-word
    counts anyway.
    """
    w = df.select(
        F.col(by), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w")
    )
    wc = w.groupBy(by, "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy(by)
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            F.col(by),
            "n_words",
            "n_distinct",
            "n_hapax",
            F.round(F.col("n_distinct") / F.col("n_words").cast("double"), 6).alias(
                "ttr"
            ),
        )
    )


# ---------------------------------------------------------------------------
# hashed-feature linear quality classifier (fasttext-style, deterministic)
# ---------------------------------------------------------------------------

#: weight-table modulus: hash32(word) % _HQ_MOD - _HQ_MOD//2 ∈ [-1000, 1000]
_HQ_MOD = 2001


def quality_filter_rates(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Per-group keep rate of a hashed linear quality classifier — the
    aggregate a pipeline monitors when a filter model is deployed
    fleet-wide. Output: (source, n_docs, n_keep, keep_rate).

    A document's score is the sum, over the words of its normalized
    text (:func:`normalize_text`, split on single spaces), of the
    word's weight ``int(md5(w)[:8], 16) % 2001 - 1000``; the document
    is kept when its score is > 0. q48's DuckDB oracle computes the
    same weight as ``CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) %
    2001 - 1000``. The hash-derived weights stand in for a learned
    table: hash word → weight → sum → threshold is the shape of a
    linear classifier with hashed features, and both engines
    reproduce it exactly (integer sum, order-free).

    Plan: normalization stays JVM-side, the per-word weights run in
    one Arrow pass, then one map-side-combinable groupBy — a single
    small shuffle."""
    import hashlib

    from pyspark.sql import types as T

    mod, half = _HQ_MOD, _HQ_MOD // 2

    @F.pandas_udf(T.LongType())
    def score_arrow(texts):
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(
                sum(
                    int.from_bytes(
                        hashlib.md5(w.encode()).digest()[:4], "big"
                    )
                    % mod
                    - half
                    for w in t.split(" ")
                )
            )
        return pd.Series(out, dtype="object").astype("Int64")

    from .dedup import _spread

    score = score_arrow(normalize_text(F.col(text_col)))
    return (
        _spread(df).select(F.col(by), (score > 0).cast("long").alias("_keep"))
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_keep").alias("n_keep"),
        )
        .select(
            F.col(by),
            "n_docs",
            "n_keep",
            F.round(F.col("n_keep") / F.col("n_docs").cast("double"), 6).alias(
                "keep_rate"
            ),
        )
    )


def bigram_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Per-group adjacent-word-pair statistics — the counting step of
    the FIRST BPE merge (the most frequent adjacent pair IS the merge
    a tokenizer-fitting pass would perform), plus the pair-vocabulary
    health counters that track it.

    Output: (source, top_bigram, top_cnt, n_bigrams, n_distinct_bigrams).

    Plan (100 TB shape): bigrams are built from a LET-BOUND words array
    (one split per row — see :func:`let_col`) and explode map-side;
    the wide shuffle is groupBy(group, pair) with map-side partial
    aggregation — hot pairs collapse before the wire, same cost class
    as :func:`vocab_stats`. The top-pair pick is a window over the
    already-aggregated per-group pair counts (orders of magnitude
    smaller), ordered (cnt DESC, pair DESC) so ties break
    deterministically — cross-engine reproducible.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # r6 (guide §4.2): pair assembly in one Arrow pass — normalization
    # stays JVM-side, Python only slices/joins the single-space words
    # (byte-identical, same contract as dedup.shingles_arrow); the
    # interpreted transform+slice+array_join tree dominated the scan
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def pairs_arrow(texts):
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            w = t.split(" ")
            out.append(
                [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]
            )
        return pd.Series(out)

    from .dedup import _spread

    p = _spread(df).select(
        F.col(by),
        F.explode(pairs_arrow(normalize_text(F.col(text_col)))).alias("pair"),
    )
    pc = p.groupBy(by, "pair").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(by).orderBy(
        F.col("cnt").desc(), F.col("pair").desc()
    )
    return (
        pc.withColumn("_rn", F.row_number().over(w))
        .groupBy(by)
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("pair"))).alias("top_bigram"),
            F.max(F.when(F.col("_rn") == 1, F.col("cnt"))).alias("top_cnt"),
            F.sum("cnt").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
    )


URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def url_domain_stats(
    df: DataFrame,
    text_col: str = "text",
    blocklist: Optional[Sequence[str]] = None,
    by: str = "source",
) -> DataFrame:
    """Per-(group, domain) URL counts with a blocklist verdict — the
    C4/RefinedWeb-style web-filtering primitive (count URLs per domain,
    flag documents citing blocked hosts).

    One scan: ``regexp_extract_all`` pulls every URL host out of the
    text map-side (codegen, no UDF), explode fans out only the matches
    (URL-free rows produce empty arrays and vanish), and the single
    shuffle is the (group, domain) aggregation with map-side combine.
    The blocklist is a bounded literal set compiled into an ``isin``
    predicate — at a real blocklist's size (millions of hosts) swap it
    for a broadcast semi-join against a domain dim, same plan shape as
    operators/referential.py.
    """
    bl = [d.lower() for d in (blocklist or [])]
    e = df.select(
        F.col(by),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RE), F.lit(1))
        ).alias("domain"),
    ).withColumn("domain", F.lower(F.col("domain")))
    out = e.groupBy(by, "domain").agg(F.count(F.lit(1)).alias("n_urls"))
    return out.withColumn(
        "blocked", F.col("domain").isin(bl) if bl else F.lit(False)
    )


# ---------------------------------------------------------------------------
# TF-IDF salient terms (corpus indexing / quality-inspection primitive)
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document over the normalized word
    stream: ``tfidf = tf · ln(N / df)``, rounded to 6 decimals so the
    ranking is representation-stable across engines; ties break on the
    term ascending (fully deterministic output).

    Output: (doc_id, rank, term, tf, doc_freq, tfidf).

    Plan (100 TB shape, r6): term frequency is a WITHIN-document
    count, so it needs no shuffle at all — an Arrow batch pass counts
    each document's words locally (normalization stays JVM-side, the
    Python side only splits on single spaces — byte-exact, see
    ``dedup.shingles_arrow``) and emits the (doc, term, tf) rows
    map-side. That removes the former groupBy(doc, word) exchange of
    the full word stream (guide §2.3 "aggregate before you shuffle" —
    here the aggregate IS per-row local). Document frequency
    aggregates those already-unique (doc, word) pairs and joins back
    on the word key (sort-merge at vocabulary scale; the corpus-size
    scalar N is a 1-row broadcast). The final top-k window partitions
    by doc_id. No collect, no O(N²) stage.
    """
    from pyspark.sql import types as T

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("w", T.StringType()),
                    T.StructField("tf", T.LongType()),
                ]
            )
        )
    )
    def term_counts(texts):
        import collections

        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            c = collections.Counter(t.split(" "))
            out.append(list(c.items()))
        return pd.Series(out)

    from .dedup import _SMALL_CORPUS, _spread

    if df.limit(_SMALL_CORPUS + 1).count() <= _SMALL_CORPUS:
        # small input: the Arrow pass's fixed overhead outweighs the
        # saved exchange — keep the classic explode + combine-backed
        # groupBy (identical counts)
        w = df.select(
            F.col(id_col),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("w"),
        )
        tf = w.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    else:
        tf = (
            _spread(df)
            .select(
                F.col(id_col),
                F.explode(
                    term_counts(normalize_text(F.col(text_col)))
                ).alias("_wt"),
            )
            .select(
                id_col, F.col("_wt.w").alias("w"), F.col("_wt.tf").alias("tf")
            )
        )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.select(
        F.count_distinct(F.col(id_col)).alias("_n_docs")
    )
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            F.col("w").alias("term"),
            "tf",
            "doc_freq",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("_n_docs").cast("double") / F.col("doc_freq")
                ),
                6,
            ).alias("tfidf"),
        )
    )
    win = W.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select(id_col, "rank", "term", "tf", "doc_freq", "tfidf")
    )
