"""Independent output check: DuckDB over the same parquet the package read.

``expected()`` runs once per generated input and recounts every planted
violation per check (per micro-batch file for the streaming workload) and
recomputes the exact corpus-operator outputs. The ``check_*`` functions
compare one unit's outputs with those expectations and return a list of
mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import math
import os

import duckdb

from . import gen

#: planted kind -> the package check whose violation rows it must produce
KIND_TO_CHECK = {
    "dup_doc_id": "doc_id.unique",
    "bad_pattern": "doc_id.pattern",
    "n_tok_range": "n_tok.maximum",
    "unknown_source": "source.foreign-key",
    "missing_bos": "tokens.bos_first",
    "missing_eos": "tokens.eos_last",
    "oov": "tokens.in_vocab",
    "meta_not_object": "meta.jsonSchema.type",
    "meta_missing_lang": "meta.jsonSchema.required.lang",
    "meta_bad_lang": "meta.jsonSchema.properties.lang.type",
}

#: stated rank-error bounds for the approximate quantile operators
TDIGEST_RANK_ERROR = 0.02
APPROX_PERCENTILE_RANK_ERROR = 0.001
APPROX_DISTINCT_REL_ERROR = 0.1
MINHASH_THRESHOLD = 0.7
SHINGLE_K = 5


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    # extensions load from the bundled build only; nothing is downloaded
    import tempfile

    return duckdb.connect(
        config={
            "autoinstall_known_extensions": False,
            "threads": threads,
            "temp_directory": tempfile.gettempdir(),
        }
    )


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _violation_counts(con, table_sql: str, sources_sql: str, with_meta: bool) -> dict:
    """Violation rows per check after the Issue-contract dedup on
    (jsonpath, type, message): row checks count distinct doc_ids."""
    p = f"'{gen.DOC_ID_PATTERN}'"
    exprs = {
        "doc_id.required": "doc_id IS NULL",
        "doc_id.pattern": f"doc_id IS NOT NULL AND NOT regexp_matches(doc_id, {p})",
        "n_tok.minimum": f"n_tok < {gen.MIN_N_TOK}",
        "n_tok.maximum": f"n_tok > {gen.MAX_N_TOK}",
        "source.required": "source IS NULL",
        "source.foreign-key": f"source IS NOT NULL AND source NOT IN (SELECT source_id FROM {sources_sql})",
        "tokens.bos_first": f"tokens IS NOT NULL AND coalesce(tokens[1] <> {gen.BOS}, true)",
        "tokens.eos_last": f"tokens IS NOT NULL AND coalesce(tokens[len(tokens)] <> {gen.EOS}, true)",
        "tokens.no_interior_pad": (
            f"tokens IS NOT NULL AND len(list_filter(tokens, x -> x = {gen.PAD}))"
            f" - coalesce((tokens[1] = {gen.PAD})::INT, 0)"
            f" - coalesce((tokens[len(tokens)] = {gen.PAD})::INT, 0) > 0"
        ),
        "tokens.in_vocab": f"len(list_filter(tokens, x -> x < 0 OR x > {gen.MAX_ID})) > 0",
    }
    if with_meta:
        exprs.update(
            {
                "meta.jsonSchema.type": (
                    "meta IS NOT NULL AND NOT (json_valid(meta) AND regexp_matches(meta, '^\\s*\\{'))"
                ),
                # CASE guards: DuckDB evaluates both sides of AND
                "meta.jsonSchema.required.lang": (
                    "CASE WHEN json_valid(meta) THEN json_type(meta) = 'OBJECT'"
                    " AND json_type(meta, '$.lang') IS NULL END"
                ),
                "meta.jsonSchema.properties.lang.type": (
                    "CASE WHEN json_valid(meta) THEN json_type(meta) = 'OBJECT'"
                    " AND json_type(meta, '$.lang') <> 'VARCHAR' END"
                ),
            }
        )
    sel = ", ".join(
        f'count(DISTINCT doc_id) FILTER (WHERE {e}) AS "{name}"' for name, e in exprs.items()
    )
    row = con.execute(f"SELECT {sel} FROM {table_sql}").fetchone()
    out = dict(zip(exprs, row))
    out["doc_id.unique"] = con.execute(
        f"SELECT count(*) FROM (SELECT doc_id FROM {table_sql} GROUP BY doc_id HAVING count(*) > 1)"
    ).fetchone()[0]
    return {k: int(v) for k, v in out.items() if v}


def _manifest_counts(counts: dict) -> dict:
    return {KIND_TO_CHECK[k]: v for k, v in counts.items() if v}


def _shingles_sql(tokens: str = "tokens") -> str:
    k = SHINGLE_K
    return (
        f"list_transform(range(1, greatest(len({tokens}) - {k} + 1, 1) + 1),"
        f" i -> array_to_string({tokens}[i:i + {k - 1}], ' '))"
    )


def _overlap(con, table_sql: str, where: str) -> list:
    rows = con.execute(
        f"""
        WITH sh AS (
          SELECT DISTINCT source AS src, unnest({_shingles_sql()}) AS g
          FROM {table_sql} WHERE {where}),
        sizes AS (SELECT src, count(*) AS n FROM sh GROUP BY src),
        shared AS (
          SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
          FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src GROUP BY 1, 2)
        SELECT src_a, src_b, sa.n, sb.n, n_shared
        FROM shared JOIN sizes sa ON sa.src = src_a JOIN sizes sb ON sb.src = src_b
        ORDER BY 1, 2"""
    ).fetchall()
    return [list(r) for r in rows]


def expected(workload: str, data_dir: str, manifest: dict) -> dict:
    """DuckDB-derived expectations for one generated input. Raises when the
    recount disagrees with what the generator planted."""
    con = connect(threads=len(os.sched_getaffinity(0)))
    try:
        if workload == "seq_cli":
            t = f"read_parquet({_q(os.path.join(data_dir, 'sequences.parquet'))})"
            s = f"read_parquet({_q(os.path.join(data_dir, 'sources.parquet'))})"
            counts = _violation_counts(con, t, s, with_meta=False)
            if counts != _manifest_counts(manifest["counts"]):
                raise AssertionError(f"recount {counts} != manifest {manifest['counts']}")
            per_batch = []
            for i, planted in enumerate(manifest["batches"]):
                path = os.path.join(data_dir, "batches", f"part-{i:04d}.parquet")
                got = _violation_counts(con, f"read_parquet({_q(path)})", s, with_meta=True)
                if got != _manifest_counts(planted):
                    raise AssertionError(f"batch {i}: recount {got} != manifest {planted}")
                per_batch.append(got)
            return {"counts": counts, "batches": per_batch}
        return _corpus_expected(con, data_dir, manifest)
    finally:
        con.close()


def _corpus_expected(con, data_dir: str, manifest: dict) -> dict:
    t = f"read_parquet({_q(os.path.join(data_dir, 'corpus.parquet'))})"
    exp: dict = {}
    r = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE n_tok IS NULL), min(n_tok), max(n_tok),"
        f" avg(n_tok), count(DISTINCT n_tok), count(*) FILTER (WHERE source IS NULL),"
        f" count(DISTINCT source) FROM {t}"
    ).fetchone()
    exp["profile"] = dict(
        zip(
            ["n_rows", "n_tok_null", "n_tok_min", "n_tok_max", "n_tok_mean",
             "n_tok_distinct", "source_null", "source_distinct"],
            [float(x) for x in r],
        )
    )
    # value histogram of n_tok per source: the ground truth for rank errors
    vc: dict = {}
    for src, v, c in con.execute(
        f"SELECT source, n_tok, count(*) FROM {t} GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall():
        vc.setdefault(src, []).append([int(v), int(c)])
    exp["n_tok_values"] = vc
    vc_all: dict = {}
    for vals in vc.values():
        for v, c in vals:
            vc_all[v] = vc_all.get(v, 0) + c
    exp["n_tok_values_all"] = sorted([v, c] for v, c in vc_all.items())

    width = (gen.VOCAB + 255) // 256
    exp["token_histogram"] = [
        list(x)
        for x in con.execute(
            f"""SELECT source, x // {width} AS bucket, count(*) FROM
                (SELECT source, unnest(tokens) AS x FROM {t})
                WHERE x >= 0 AND x < {gen.VOCAB} GROUP BY 1, 2 ORDER BY 1, 2"""
        ).fetchall()
    ]
    base = manifest["hot_source"]
    exp["ks"] = [
        list(x)
        for x in con.execute(
            f"""
            WITH c AS (SELECT source AS g, n_tok AS v, count(*) AS c FROM {t} GROUP BY 1, 2),
            vals AS (SELECT DISTINCT v FROM c), grps AS (SELECT DISTINCT g FROM c),
            grid AS (SELECT grps.g, vals.v, coalesce(c.c, 0) AS c
                     FROM vals CROSS JOIN grps LEFT JOIN c ON c.g = grps.g AND c.v = vals.v),
            cum AS (SELECT g, v,
                      sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(c) OVER (PARTITION BY g) AS n FROM grid)
            SELECT a.g, a.n, b.n, max(abs(a.cum / a.n - b.cum / b.n))
            FROM cum a JOIN cum b ON a.v = b.v AND b.g = '{base}'
            WHERE a.g <> '{base}' GROUP BY a.g, a.n, b.n ORDER BY 1"""
        ).fetchall()
    ]
    exp["structure"] = [
        list(x)
        for x in con.execute(
            f"""SELECT source, count(*),
                  count(*) FILTER (WHERE coalesce(tokens[1] <> {gen.BOS}, true)),
                  count(*) FILTER (WHERE coalesce(tokens[len(tokens)] <> {gen.EOS}, true)),
                  count(*) FILTER (WHERE len(list_filter(tokens, x -> x = {gen.PAD}))
                     - coalesce((tokens[1] = {gen.PAD})::INT, 0)
                     - coalesce((tokens[len(tokens)] = {gen.PAD})::INT, 0) > 0),
                  count(*) FILTER (WHERE len(list_filter(tokens, x -> x < 0 OR x > {gen.MAX_ID})) > 0)
                FROM {t} GROUP BY 1 ORDER BY 1"""
        ).fetchall()
    ]
    pack_path = os.path.join(data_dir, "expected_pack.parquet")
    con.execute(
        f"""COPY (
          SELECT doc_id, start_tok,
                 CASE WHEN n_tok > 0 THEN start_tok // 2048 END AS first_seq,
                 CASE WHEN n_tok > 0 THEN (start_tok + n_tok - 1) // 2048 END AS last_seq
          FROM (SELECT doc_id, n_tok,
                  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
                FROM {t})) TO {_q(pack_path)} (FORMAT parquet)"""
    )
    exp["overlap_big"] = _overlap(con, t, "true")
    exp["overlap_small"] = _overlap(con, t, f"doc_id < '{manifest['subset_below']}'")
    return exp


# --- per-unit comparisons ----------------------------------------------------


def sink_counts(con, sink_glob: str, by_epoch: bool = False) -> dict:
    cols = 'epoch, "check"' if by_epoch else '"check"'
    rows = con.execute(
        f"SELECT {cols}, count(*) FROM read_parquet({_q(sink_glob)}, hive_partitioning = true)"
        f" GROUP BY ALL"
    ).fetchall()
    if not by_epoch:
        return {c: int(n) for c, n in rows}
    out: dict = {}
    for e, c, n in rows:
        out.setdefault(int(e), {})[c] = int(n)
    return out


def check_cli(con, sink_dir: str, manifest: dict) -> list:
    got = sink_counts(con, os.path.join(sink_dir, "*", "*.parquet"))
    want = manifest["expected"]["counts"]
    return [] if got == want else [f"sink counts {got} != expected {want}"]


def check_stream(con, sink_dir: str, manifest: dict) -> list:
    want = manifest["expected"]["batches"]
    got = sink_counts(con, os.path.join(sink_dir, "*", "**", "*.parquet"), by_epoch=True)
    errs = []
    for i, w in enumerate(want):
        if got.get(i, {}) != w:
            errs.append(f"epoch {i}: sink counts {got.get(i)} != expected {w}")
    if set(got) - set(range(len(want))):
        errs.append(f"unexpected epochs {sorted(set(got) - set(range(len(want))))}")
    return errs


def _rank_error(value_counts, value: float, q: float) -> float:
    n = sum(c for _, c in value_counts)
    lo = sum(c for v, c in value_counts if v < value) / n
    hi = sum(c for v, c in value_counts if v <= value) / n
    return max(0.0, lo - q, q - hi)


def _close(a, b, tol=1e-6) -> bool:
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


def check_corpus(con, out_dir: str, data_dir: str, manifest: dict) -> list:
    """Compare one corpus pass (one parquet per step in ``out_dir``)."""
    import pandas as pd

    exp = manifest["expected"]
    errs: list = []

    def load(name):
        return pd.read_parquet(os.path.join(out_dir, f"{name}.parquet"))

    p = load("profile").iloc[0]
    e = exp["profile"]
    for col, key in [("n_rows", "n_rows"), ("n_tok__n_null", "n_tok_null"),
                     ("n_tok__min", "n_tok_min"), ("n_tok__max", "n_tok_max"),
                     ("n_tok__mean", "n_tok_mean"), ("source__n_null", "source_null")]:
        if not _close(p[col], e[key], 1e-9):
            errs.append(f"profile {col}={p[col]} != {e[key]}")
    for col, key in [("n_tok__approx_distinct", "n_tok_distinct"),
                     ("source__approx_distinct", "source_distinct")]:
        if abs(p[col] - e[key]) > APPROX_DISTINCT_REL_ERROR * e[key]:
            errs.append(f"profile {col}={p[col]} not within 10% of {e[key]}")
    for q, v in zip((0.25, 0.5, 0.75), p["n_tok__quantiles"]):
        err = _rank_error(exp["n_tok_values_all"], v, q)
        if err > APPROX_PERCENTILE_RANK_ERROR:
            errs.append(f"profile quantile {q}: rank error {err:.4f}")

    td = load("tdigest")
    if len(td) != 3 * len(exp["n_tok_values"]):
        errs.append(f"tdigest rows {len(td)}")
    for r in td.itertuples():
        err = _rank_error(exp["n_tok_values"][r.source], r.value, r.q)
        if err > TDIGEST_RANK_ERROR:
            errs.append(f"tdigest {r.source} q={r.q}: rank error {err:.4f} > {TDIGEST_RANK_ERROR}")

    hist = load("token_histogram").sort_values(["source", "bucket"])
    got_hist = [[s, int(b), int(c)] for s, b, c in hist[["source", "bucket", "count"]].itertuples(index=False)]
    if got_hist != exp["token_histogram"]:
        errs.append("token histogram differs from the DuckDB recount")
    errs += _check_drift(load("drift"), exp["token_histogram"])

    ks = load("ks").sort_values("source")
    want_ks = exp["ks"]
    if len(ks) != len(want_ks):
        errs.append(f"ks rows {len(ks)} != {len(want_ks)}")
    for r, w in zip(ks.itertuples(), want_ks):
        if (r.source, int(r.n), int(r.base_n)) != (w[0], w[1], w[2]) or abs(r.ks - w[3]) > 1.1e-6:
            errs.append(f"ks {tuple(r)[1:]} != {w}")

    st = load("structure").sort_values("source")
    got_st = [list(x) for x in st[["source", "n_seqs", "n_missing_bos", "n_bad_eos",
                                   "n_pad_interior", "n_oov"]].itertuples(index=False)]
    if [[a, *map(int, b)] for a, *b in got_st] != exp["structure"]:
        errs.append("structure_summary differs from the DuckDB recount")

    mism = con.execute(
        f"""SELECT count(*) FROM read_parquet({_q(os.path.join(out_dir, 'pack.parquet'))}) g
            FULL JOIN read_parquet({_q(os.path.join(data_dir, 'expected_pack.parquet'))}) e
            USING (doc_id)
            WHERE g.start_tok IS DISTINCT FROM e.start_tok
               OR g.first_seq IS DISTINCT FROM e.first_seq
               OR g.last_seq IS DISTINCT FROM e.last_seq"""
    ).fetchone()[0]
    if mism:
        errs.append(f"pack_sequences: {mism} rows differ")

    errs += _check_minhash(con, load("minhash"), data_dir, manifest)
    for name in ("overlap_big", "overlap_small"):
        got = load(name).sort_values(["src_a", "src_b"])
        want = exp[name]
        rows = [list(x) for x in got[["src_a", "src_b", "n_a", "n_b", "n_shared", "overlap"]].itertuples(index=False)]
        if [r[:5] for r in rows] != want or any(
            abs(r[5] - w[4] / min(w[2], w[3])) > 1.1e-6 for r, w in zip(rows, want)
        ):
            errs.append(f"{name} differs from the DuckDB recount")
    return errs


def _check_drift(drift, hist_rows) -> list:
    eps = 1e-9
    by_src: dict = {}
    by_bucket: dict = {}
    total = 0
    for s, b, c in hist_rows:
        by_src[s] = by_src.get(s, 0) + c
        by_bucket[b] = by_bucket.get(b, 0) + c
        total += c
    kl: dict = {}
    psi: dict = {}
    for s, b, c in hist_rows:
        pa = max(c / by_src[s], eps)
        pb = max(by_bucket[b] / total, eps)
        kl[s] = kl.get(s, 0.0) + pa * math.log(pa / pb)
        psi[s] = psi.get(s, 0.0) + (pa - pb) * math.log(pa / pb)
    errs = []
    if len(drift) != len(kl):
        errs.append(f"drift rows {len(drift)} != {len(kl)}")
    for r in drift.itertuples():
        if not (_close(r.kl, kl.get(r.source, math.nan), 1e-7) and _close(r.psi, psi.get(r.source, math.nan), 1e-7)):
            errs.append(f"drift {r.source}: ({r.kl}, {r.psi}) != ({kl.get(r.source)}, {psi.get(r.source)})")
    return errs


def _check_minhash(con, pairs, data_dir: str, manifest: dict) -> list:
    errs = []
    got = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    missing = [p for p in map(tuple, manifest["near_dup_pairs"]) if p not in got]
    if missing:
        errs.append(f"minhash missed planted pairs {missing[:5]}")
    if not got:
        return errs
    ids = sorted({i for p in got for i in p})
    t = f"read_parquet({_q(os.path.join(data_dir, 'corpus.parquet'))})"
    con.execute("CREATE OR REPLACE TEMP TABLE want_ids (doc_id VARCHAR)")
    con.executemany("INSERT INTO want_ids VALUES (?)", [[i] for i in ids])
    toks = dict(
        con.execute(f"SELECT doc_id, tokens FROM {t} WHERE doc_id IN (SELECT doc_id FROM want_ids)").fetchall()
    )
    for a, b, j in zip(pairs["id_a"], pairs["id_b"], pairs["jaccard"]):
        exact = gen.jaccard(toks[a], toks[b], SHINGLE_K)
        if exact < MINHASH_THRESHOLD or abs(exact - j) > 1e-9:
            errs.append(f"minhash pair ({a}, {b}): reported {j}, exact {exact}")
    return errs
